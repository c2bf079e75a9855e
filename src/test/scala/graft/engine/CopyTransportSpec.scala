package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S7 end-to-end: the full extract → transform → COPY-load pipeline
  * driven through [[CopySink.load]]'s connection-lifecycle transport
  * (`open → copyIn × payloads → close`, one transport per partition —
  * the exact seam pgjdbc's CopyManager plugs into, reference
  * `src/load.py:40-44`). The fake transport captures bytes; the spec
  * replays them through the COPY CSV reader and proves the loaded
  * relation is value-identical to the cleaned stage output.
  */
class CopyTransportSpec extends SparkSpecBase {
  import CaptureTransport._

  test("pipeline → COPY transport round-trip is value-identical; lifecycle per partition") {
    reset()
    val sfDir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft_copy_e2e_")
    try {
      // extract + transform: the real stages over the real fixture
      Pipeline.writeStage(Tables.lineitem(spark, sfDir), s"$tmp/raw")
      val cleaned = Clean.cleanLineitem(spark.read.parquet(s"$tmp/raw"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice"), col("l_shipdate"))
        .repartition(4)
      Pipeline.writeStage(cleaned, s"$tmp/clean")
      val stage = spark.read.parquet(s"$tmp/clean")

      // load through the lifecycle transport
      val loaded = CopySink.load(stage, "iowa_liquor_sales", () => new CaptureTransport)

      val nSource = stage.count()
      assert(loaded == nSource, "load() must report exactly the staged row count")
      assert(opens.get() == closes.get(), "every opened transport must close")
      assert(opens.get() >= 1 && opens.get() <= 4, "one transport per non-empty partition")
      val stmts = captured.toArray(Array.empty[(String, Array[Byte])]).map(_._1).distinct
      assert(stmts.length == 1 && stmts.head.startsWith(
        "COPY iowa_liquor_sales (l_orderkey, l_linenumber, l_returnflag, " +
          "l_extendedprice, l_shipdate) FROM STDIN WITH (FORMAT CSV, NULL '\\N')"))

      // replay the captured COPY bytes as the database would parse them
      val replayDir = Files.createTempDirectory("graft_copy_replay_")
      try {
        captured.toArray(Array.empty[(String, Array[Byte])]).zipWithIndex.foreach {
          case ((_, bytes), i) => Files.write(replayDir.resolve(s"p$i.csv"), bytes)
        }
        val schema = StructType(Seq(
          StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
          StructField("l_returnflag", StringType),
          StructField("l_extendedprice", DecimalType(18, 2)),
          StructField("l_shipdate", TimestampType)))
        val replayed = Pipeline.readCsvForCopy(spark, replayDir.toString, schema)
        def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
        assert(canon(replayed) == canon(stage))
      } finally FsUtil.deleteRecursively(replayDir)
    } finally {
      org.apache.spark.graft.ListenerDrain.drain(spark)
      FsUtil.deleteRecursively(tmp)
    }
  }

  test("loadAtomic (AppendSwap): stage DDL first, every COPY targets " +
      "the stage with payloads byte-identical to plain load's, ONE " +
      "BEGIN..COMMIT swap statement last (S9 single-commit parity)") {
    AtomicCaptureTransport.reset()
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null: String), (3L, "c,d"), (4L, "e"))
      .toDF("k", "v").repartition(2)
    val n = CopySink.loadAtomic(df, "sales", () => new AtomicCaptureTransport,
      CopySink.AppendSwap, token = "tok1")
    assert(n == 4L)
    val ev = AtomicCaptureTransport.events
      .toArray(Array.empty[(String, String, Array[Byte])])
    // order: [execute create] [copyIn xN] [execute swap] — job
    // boundaries between the driver steps enforce it
    assert(ev.head._1 == "execute" && ev.last._1 == "execute")
    assert(ev.tail.init.forall(_._1 == "copyIn"),
      s"unexpected event order: ${ev.map(_._1).mkString(",")}")
    assert(ev.head._2 ==
      "DROP TABLE IF EXISTS sales__stage_tok1; " +
        "CREATE TABLE sales__stage_tok1 (LIKE sales INCLUDING DEFAULTS);")
    assert(ev.last._2 ==
      "BEGIN; INSERT INTO sales (k, v) SELECT k, v FROM sales__stage_tok1; " +
        "DROP TABLE sales__stage_tok1; COMMIT;")
    val copies = ev.tail.init
    assert(copies.forall(_._2 == CopySink.copyStatement(df,
      "sales__stage_tok1")), "every COPY must target the stage table")
    // payload identity with the plain (non-atomic) load path
    val plain = CopySink.payloadsWithCounts(df).collect().map(_._1)
      .map(new String(_, StandardCharsets.UTF_8)).sorted.toSeq
    val atomic = copies.map(e => new String(e._3, StandardCharsets.UTF_8))
      .sorted.toSeq
    assert(atomic == plain,
      "loadAtomic must ship byte-identical COPY payloads to load")
  }

  test("loadAtomic (ReplaceSwap): the swap renames the live table " +
      "aside, renames the stage in, and drops the old — one " +
      "transaction; a transport without execute() fails loudly " +
      "BEFORE any COPY ships") {
    AtomicCaptureTransport.reset()
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    CopySink.loadAtomic(df, "t", () => new AtomicCaptureTransport,
      CopySink.ReplaceSwap, token = "tok2")
    val ev = AtomicCaptureTransport.events
      .toArray(Array.empty[(String, String, Array[Byte])])
    assert(ev.last._2 ==
      "BEGIN; DROP TABLE IF EXISTS t__old_tok2; " +
        "ALTER TABLE t RENAME TO t__old_tok2; " +
        "ALTER TABLE t__stage_tok2 RENAME TO t; " +
        "DROP TABLE t__old_tok2; COMMIT;")
    // the default execute throws: the atomic protocol must not run
    // with a transport that would silently skip its commit step
    reset()
    intercept[UnsupportedOperationException] {
      CopySink.loadAtomic(df, "t", () => new CaptureTransport,
        CopySink.AppendSwap, token = "tok3")
    }
    assert(captured.isEmpty,
      "no COPY may ship when the stage DDL cannot execute")
  }

  test("empty partitions never open a transport") {
    reset()
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v").repartition(8)
    val loaded = CopySink.load(df, "t", () => new CaptureTransport)
    assert(loaded == 1L)
    assert(opens.get() == 1, "7 empty partitions must not open connections")
    assert(closes.get() == 1)
  }

  test("load runs its jobs inside one SQL execution") {
    reset()
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(3)
    val plans = jobPlans {
      assert(CopySink.load(df, "t", () => new CaptureTransport) == 2L)
    }
    // a job outside any execution would count with an empty plan
    assert(plans.size == 1 && plans.head.nonEmpty, plans.mkString("\n---\n"))
  }
}

/** Byte-capturing transport fake (same-JVM statics — local-mode test). */
class CaptureTransport extends CopySink.CopyTransport {
  import CaptureTransport._
  override def open(): Unit = opens.incrementAndGet()
  override def copyIn(statement: String, payload: Array[Byte]): Unit =
    captured.add((statement, payload))
  override def close(): Unit = closes.incrementAndGet()
}

object CaptureTransport {
  val captured = new ConcurrentLinkedQueue[(String, Array[Byte])]()
  val opens = new AtomicInteger(0)
  val closes = new AtomicInteger(0)
  def reset(): Unit = { captured.clear(); opens.set(0); closes.set(0) }
}

/** Order-recording transport for the atomic protocol: every copyIn
  * and execute lands in one queue (same-JVM statics — local mode), so
  * the spec can assert DDL → COPY× → swap sequencing.
  */
class AtomicCaptureTransport extends CopySink.CopyTransport {
  import AtomicCaptureTransport._
  override def copyIn(statement: String, payload: Array[Byte]): Unit =
    events.add(("copyIn", statement, payload))
  override def execute(statement: String): Unit =
    events.add(("execute", statement, Array.empty[Byte]))
}

object AtomicCaptureTransport {
  val events = new ConcurrentLinkedQueue[(String, String, Array[Byte])]()
  def reset(): Unit = events.clear()
}
