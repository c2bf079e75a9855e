package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming face of the text-curation pipeline beyond the stateless
  * Column operators (which run unchanged on streams —
  * `StreamingTextOpsSpec`): frame-level compositions that also run on
  * `readStream` without state or a watermark.
  */
object TextStreams {

  /** ONLINE phrase screening — [[graft.ops.Retrieval.phraseOccurrencesMapSide]]
    * applied to a stream verbatim: the map-only formulation needs no
    * state, no watermark, and no exchange, so each arriving document
    * is screened against the broadcast phrase set the moment it
    * arrives (the "does this doc contain any watched phrase" ingest
    * filter — eval-prompt screening, policy phrases, boilerplate
    * markers). Emits q91/q95's exact contract rows
    * (query_id, doc_id, n_occurrences, first_pos), append-mode;
    * per-doc results are final at emission (stateless), so delivery
    * is exactly-once per (query, doc) per trigger.
    */
  def phraseScreenStream(stream: DataFrame, idCol: String, textCol: String,
      phrases: DataFrame, qidCol: String, phraseCol: String): DataFrame =
    graft.ops.Retrieval.phraseOccurrencesMapSide(
      stream, idCol, textCol, phrases, qidCol, phraseCol)
}
