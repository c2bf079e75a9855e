package graft.engine

import graft.SparkSpecBase
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end pipeline parity: extract→transform→load over temp dirs,
  * CSV \N round-trip, conflict-ignoring idempotent re-run.
  */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-pipe").toString

  test("run: three stages, per-stage counts, idempotent re-run loads 0 new rows") {
    val root = tmp()
    val src = Seq(
      ("a", "2024-01-01 10:00:00", "12.5"),
      ("b", "not-a-date", "oops"),
      ("c", "2024-02-03 00:00:00", "7.25")
    ).toDF("id", "d", "m")
    val clean = (df: org.apache.spark.sql.DataFrame) =>
      Clean.clean(df, timestampCols = Seq("d"), intCols = Nil,
        moneyCols = Seq("m"), volumeCols = Nil)

    val stats = Pipeline.run(spark, src, clean,
      s"$root/raw", s"$root/clean", s"$root/table", keys = Seq("id"))
    assert(stats == Pipeline.RunStats(3, 3, 3))

    // retry semantics (O3): the whole run again — load appends nothing
    val stats2 = Pipeline.run(spark, src, clean,
      s"$root/raw", s"$root/clean", s"$root/table", keys = Seq("id"))
    assert(stats2.loaded == 0)
    assert(spark.read.parquet(s"$root/table").count() == 3)

    // cleaned values carry the reference coercions: bad date -> null, bad money -> 0
    val b = spark.read.parquet(s"$root/table").where(col("id") === "b").collect()(0)
    assert(b.isNullAt(b.fieldIndex("d")))
    assert(b.getDecimal(b.fieldIndex("m")).toPlainString == "0.00")

    // every stage file is zstd-compressed with plain-encoded strings
    // (the footer lists each column chunk's codec and encodings)
    for (stage <- Seq("raw", "clean", "table")) {
      val strings = spark.read.parquet(s"$root/$stage").schema.fields
        .filter(_.dataType == StringType).map(_.name).toSet
      val parts = new java.io.File(s"$root/$stage").listFiles().filter(_.getName.endsWith(".parquet"))
      val chunks = parts.toSeq.flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new Path(f.getPath), spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        finally r.close()
      }
      assert(strings.nonEmpty && chunks.exists(c => strings(c.getPath.toDotString)), stage)
      for (c <- chunks) {
        assert(c.getCodec == CompressionCodecName.ZSTD, s"$stage ${c.getPath}: ${c.getCodec}")
        val dict = c.getEncodings.asScala.toSet & Set(Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY)
        if (strings(c.getPath.toDotString)) assert(dict.isEmpty, s"$stage ${c.getPath}: $dict")
      }
    }
  }

  test("CSV \\N round-trip preserves nulls (S6)") {
    val dir = tmp() + "/csv"
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", StringType)))
    val df = Seq(("x", null: String), ("y", "has value"), (null: String, "z"))
      .toDF("k", "v")
    Pipeline.writeCsvForCopy(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    val content = files.flatMap(f =>
      scala.io.Source.fromFile(f).getLines()).mkString("\n")
    assert(content.contains("\\N")) // the COPY null sentinel is on disk
    val back = Pipeline.readCsvForCopy(spark, dir, schema)
    val rows = back.collect()
    assert(rows.length == 3)
    assert(rows.exists(r => r.getString(0) == "x" && r.isNullAt(1)))
    assert(rows.exists(r => r.isNullAt(0) && r.getString(1) == "z"))
  }

  test("COPY CSV codec speaks CopySink's PostgreSQL CSV both ways (S6/S7)") {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val rows = Seq(Row(1, "plain"), Row(2, "a\"b"), Row(3, " pad "),
      Row(4, "has,comma"), Row(5, "two\nlines"), Row(6, null),
      Row(7, "\"\""), Row(8, "back\\slash"), Row(9, ""))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def lines(text: String): Seq[String] = text.split("\n").filter(_.nonEmpty).sorted.toSeq

    // writer: the same bytes CopySink puts on the COPY stream
    val dir = tmp() + "/csv"
    Pipeline.writeCsvForCopy(df, dir)
    val written = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(lines(written) == lines(rows.map(CopySink.encodeRow(_, java.time.ZoneOffset.UTC)).mkString("\n")))

    // reader: CopySink's payloads parse back to the original rows
    val replay = tmp() + "/replay"
    Files.createDirectories(java.nio.file.Paths.get(replay))
    CopySink.payloadsWithCounts(df).collect().map(_._1).zipWithIndex.foreach { case (bytes, i) =>
      Files.write(java.nio.file.Paths.get(replay, s"p$i.csv"), bytes)
    }
    val back = Pipeline.readCsvForCopy(spark, replay, schema).collect()
    assert(back.sortBy(_.getInt(0)).toSeq == rows)
  }

  test("conflictIgnoringAppend: batch-internal dedup + cross-batch skip") {
    val dir = tmp() + "/table"
    val b1 = Seq((1, "v1"), (1, "v1-dup"), (2, "v2")).toDF("k", "v")
    val n1 = Pipeline.conflictIgnoringAppend(spark, b1, dir, Seq("k"))
    assert(n1 == 2) // in-batch dup collapsed
    val b2 = Seq((2, "v2-again"), (3, "v3")).toDF("k", "v")
    val n2 = Pipeline.conflictIgnoringAppend(spark, b2, dir, Seq("k"))
    assert(n2 == 1) // only key 3 is novel
    assert(spark.read.parquet(dir).select("k").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("conflictIgnoringAppend: a zero-novel append leaves the table unchanged") {
    val dir = tmp() + "/table"
    def dataFiles(d: String) = new java.io.File(d).list()
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    val b = Seq((1, "v1"), (2, "v2")).toDF("k", "v")
    assert(Pipeline.conflictIgnoringAppend(spark, b, dir, Seq("k")) == 2)
    val files = dataFiles(dir)
    assert(Pipeline.conflictIgnoringAppend(spark, b, dir, Seq("k")) == 0)
    assert(dataFiles(dir) == files)
    assert(spark.read.parquet(dir).count() == 2)

    val fresh = tmp() + "/fresh"
    assert(Pipeline.conflictIgnoringAppend(spark, b.limit(0), fresh, Seq("k")) == 0)
    assert(!new java.io.File(fresh).exists())
  }

  test("conflictIgnoringAppend: one write job, no cache scan and no SortAggregate") {
    val src = tmp() + "/batch"
    Seq((1, "a", "x"), (1, "a", "y"), (2, "b", "z")).toDF("k", "s", "t")
      .write.parquet(src)
    val batch = spark.read.parquet(src)
    val plans = jobPlans {
      assert(Pipeline.conflictIgnoringAppend(spark, batch, tmp() + "/table", Seq("k")) == 2)
    }
    assert(plans.size == 1, plans.mkString("\n----\n")) // the write; no count action
    assert(plans.head.contains("InsertIntoHadoopFsRelationCommand"), plans.head)
    for (bad <- Seq("InMemoryTableScan", "SortAggregate"))
      assert(!plans.head.contains(bad), plans.head)
    assert(plans.head.contains("FirstPerKey"), plans.head) // first row of each key run
    assert(!plans.head.contains("Window"), plans.head)
  }

  test("registerTable makes the directory addressable from SQL (S8)") {
    val dir = tmp() + "/cat"
    Seq((1, "a")).toDF("id", "s").write.parquet(dir)
    Pipeline.registerTable(spark, "graft_reg_test", dir)
    assert(spark.sql("SELECT count(*) FROM graft_reg_test").collect()(0).getLong(0) == 1)
    spark.sql("DROP TABLE graft_reg_test")
  }
}
