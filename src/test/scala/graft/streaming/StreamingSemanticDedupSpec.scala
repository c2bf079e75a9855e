package graft.streaming

import graft.SparkSpecBase
import graft.ops.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The embedding pipeline's stateless stages on a stream: int8
  * quantization is plain Column expressions, so a `readStream` source
  * gets the batch operator's codes unchanged.
  */
class StreamingSemanticDedupSpec extends SparkSpecBase {
  import spark.implicits._

  // Three tight duplicate cliques around distinct axes, two far
  // singletons, one zero vector.
  private val vectors: Seq[(Long, Array[Float])] = {
    val cliques = for {
      axis <- 0 until 3
      i <- 0 until 4
    } yield {
      val v = Array.fill(8)(0.001f * (i + 1))
      v(axis) = 1.0f
      (axis * 4 + i.toLong, v)
    }
    val s1 = Array.fill(8)(0.5f) // far from every axis clique
    val s2 = Array.tabulate(8)(d => if (d >= 4) 0.7f else -0.7f)
    cliques ++ Seq((100L, s1), (101L, s2), (102L, Array.fill(8)(0.0f)))
  }

  test("int8 quantization is stateless Column exprs: runs unchanged on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.withQuantizedInt8(
        mem.toDF().toDF("vec_id", "embedding"), "embedding")
      .select("vec_id", "q_scale", "q_codes")
      .writeStream.format("memory").queryName("quant_stream")
      .outputMode("append").start()
    try {
      mem.addData(vectors.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("quant_stream")
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
      val batch = Similarity.withQuantizedInt8(
          vectors.toDF("vec_id", "embedding"), "embedding")
        .select("vec_id", "q_scale", "q_codes")
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.length == vectors.length)
    } finally q.stop()
  }
}
