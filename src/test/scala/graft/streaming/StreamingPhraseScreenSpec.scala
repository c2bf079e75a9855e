package graft.streaming

import graft.SparkSpecBase
import graft.ops.Retrieval
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Parity of the streaming phrase screen
  * (Retrieval.phraseOccurrencesMapSide — the map-only formulation run
  * on a stream verbatim) with the batch operators: across micro-batches, the
  * emitted rows must equal both batch formulations' results on the
  * union of the stream's documents — stateless, so each doc's rows
  * are final at emission.
  */
class StreamingPhraseScreenSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (10L, "the quick brown fox jumps the quick brown"),
    (11L, "a a a a"),
    (12L, "nothing to see here"),
    (13L, "ends with the quick brown"))
  private val phrases = Seq(
    (1L, Seq("the", "quick", "brown")), (2L, Seq("a", "a")))

  test("replayed stream reproduces both batch formulations' rows") {
    val phraseDf = phrases.toDF("qid", "ph")
    val expected = Retrieval.phraseOccurrences(
        docs.toDF("doc_id", "text"), "doc_id", "text", phraseDf, "qid", "ph")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(expected.nonEmpty)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = Retrieval.phraseOccurrencesMapSide(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        phraseDf, "qid", "ph")
      .writeStream.format("memory").queryName("phrase_screen_stream")
      .outputMode("append").start()
    try {
      val (first, rest) = docs.splitAt(2)
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(rest: _*)
      q.processAllAvailable()
      val got = spark.table("phrase_screen_stream")
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(got == expected, s"stream $got != batch $expected")
    } finally q.stop()
  }
}
