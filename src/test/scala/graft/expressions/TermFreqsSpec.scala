package graft.expressions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class TermFreqsSpec extends SparkSpecBase {
  import spark.implicits._

  // the declarative arm TermFreqs replaces (Retrieval.bm25TopK pre-r17)
  private val declarative =
    expr("transform(array_distinct(w), " +
      "t -> struct(t AS term, size(filter(w, x -> x = t)) AS tf))")

  private def both(df: org.apache.spark.sql.DataFrame) = {
    val n = df.select(col("id"),
        explode(graft.functions.termFreqsNative(col("w"))).as("p"))
      .select(col("id"), col("p.term"), col("p.tf"))
      .as[(Long, Option[String], Int)].collect().toSeq
    val d = df.select(col("id"), explode(declarative).as("p"))
      .select(col("id"), col("p.term"), col("p.tf"))
      .as[(Long, Option[String], Int)].collect().toSeq
    (n, d)
  }

  test("native == declarative: counts and first-occurrence order") {
    val df = Seq(
      (1L, Seq("a", "b", "a", "c", "b", "a")),
      (2L, Seq("x")),
      (3L, Seq("a", "a", "a")),
      (4L, Seq.empty[String]))
      .toDF("id", "w")
    val (n, d) = both(df)
    assert(n == d)
    assert(n.filter(_._1 == 1L).map(r => (r._2.get, r._3)) ==
      Seq(("a", 3), ("b", 2), ("c", 1)))
  }

  test("native == declarative: null tokens yield one (null, 0) entry in place") {
    val df = Seq(
      (1L, Seq(Some("a"), None, Some("a"), None, Some("b"))),
      (2L, Seq(None: Option[String])))
      .toDF("id", "w")
    val (n, d) = both(df)
    assert(n == d)
  }

  test("null input array propagates null") {
    val df = Seq((1L, null: Seq[String]), (2L, Seq("a")))
      .toDF("id", "w")
    val n = df.select(graft.functions.termFreqsNative(col("w")).as("p"))
      .where(col("p").isNull).count()
    assert(n == 1L)
  }

  test("output type matches the declarative struct") {
    val df = Seq((1L, Seq("a"))).toDF("id", "w")
    val nt = df.select(graft.functions.termFreqsNative(col("w")).as("p"))
      .schema("p").dataType
    val dt = df.select(declarative.as("p")).schema("p").dataType
    // same field names/types (declarative nullability differs only in
    // array containsNull, which no consumer observes post-explode)
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val nf = nt.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val ef = dt.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(nf.fieldNames.toSeq == ef.fieldNames.toSeq)
    assert(nf.fields.map(_.dataType).toSeq == ef.fields.map(_.dataType).toSeq)
  }

  test("terms are copies: Parquet-scanned arrays sorted on the kernel's output") {
    // the vectorized reader refills one string buffer per batch, so the
    // input arrays' bytes are overwritten from row to row
    val tmp = java.nio.file.Files.createTempDirectory("graft-tf")
    try {
      val dir = tmp.toString + "/w"
      spark.range(0, 12000, 1, 2)
        .select(col("id"), array(
          concat(lit("a"), (col("id") % 251).cast("string")),
          concat(lit("b"), (col("id") % 7).cast("string")),
          concat(lit("a"), (col("id") % 251).cast("string"))).as("w"))
        .write.parquet(dir)
      val scanned = spark.read.parquet(dir)
      def sortedOn(tf: org.apache.spark.sql.Column) =
        scanned.select(col("id"), tf.as("p")).sort(col("p"), col("id"))
          .select(col("id"), col("p.term").as("t"), col("p.tf").as("n"))
          .as[(Long, Seq[String], Seq[Int])].collect().toSeq
      val n = sortedOn(graft.functions.termFreqsNative(col("w")))
      assert(n == sortedOn(declarative))
      assert(n.head._2.size == 2 && n.forall(_._3 == Seq(2, 1)))
    } finally graft.engine.FsUtil.deleteRecursively(tmp)

    // the kernel itself: an emitted term does not share the input's bytes
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val buf = "abcd".getBytes("UTF-8")
    val (ab, cd) = (UTF8String.fromBytes(buf, 0, 2), UTF8String.fromBytes(buf, 2, 2))
    val out = graft.expressions.TermFreqsImpl.compute(new GenericArrayData(Array[Any](ab, cd, ab)))
    buf(0) = 'z'.toByte
    assert(out.getStruct(0, 2).getUTF8String(0).toString == "ab")
    assert(out.getStruct(0, 2).getInt(1) == 2)
  }
}
