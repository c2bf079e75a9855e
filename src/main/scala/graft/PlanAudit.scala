package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{FsUtil, Tables}
import graft.ops.{AnnIndex, Dedup, LanguageModel, Retrieval, Selection, Similarity, TopK}

/** Physical-plan audit: prints the formatted plan for each registered
  * query and each operator composition in [[operators]] (or the subset
  * named in args) so plan regressions are reviewable — broadcasts where
  * dims are small, PushedFilters on scans, WholeStageCodegen spans over
  * the hot expressions, the Exchange count per operator.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [name ...]; each name is a
  * full name or a query's exact qNN short key. The `plans/r16` and
  * `plans/r17` captures are sections of this output.
  */
object PlanAudit {

  /** Operator compositions whose plan the registered queries do not
    * show: the lifecycle and text queries end in `localCheckpoint`,
    * whose final plan is an opaque `Scan ExistingRDD`, so the plan
    * shape (Exchange count, join strategy, declared ReadSchema) is
    * reviewable only at the operator level. The ANN entries search a
    * small index built from the fixture embeddings under `tmp` on
    * first use.
    */
  def operators(spark: SparkSession, sfDir: String,
      tmp: String): Seq[(String, () => DataFrame)] = {
    lazy val e = Tables.embeddings(spark, sfDir)
    lazy val docs = Tables.documents(spark, sfDir)
    lazy val ivf = {
      AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$tmp/ivf",
        nCells = 8, iters = 1)
      s"$tmp/ivf"
    }
    lazy val two = {
      AnnIndex.buildIvfIndexTwoLevel(e, "vec_id", "embedding", s"$tmp/two",
        nCoarse = 4, nFinePerCell = 4, iters = 1)
      s"$tmp/two"
    }
    def q = e.where(col("vec_id") < 10)
    Seq(
      "searchIvfIndexManyQueries" -> (() =>
        AnnIndex.searchIvfIndexManyQueries(spark, ivf, q,
          "vec_id", "embedding", k = 5, nProbe = 2)),
      "searchIvfIndex_inlist" -> (() =>
        AnnIndex.searchIvfIndex(spark, ivf, q,
          "vec_id", "embedding", k = 5, nProbe = 2)),
      "hardNegativesIndexed" -> (() =>
        AnnIndex.hardNegativesIndexed(spark, ivf, q,
          "vec_id", "embedding", "label", e.select("vec_id", "label"),
          k = 3, nProbe = 2)),
      "searchIvfIndexQuantized" -> (() =>
        AnnIndex.searchIvfIndexQuantized(spark, ivf, q,
          "vec_id", "embedding", k = 5, nProbe = 2)),
      "bruteForceTopK" -> (() =>
        Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)),
      "searchIvfIndexTwoLevel" -> (() =>
        AnnIndex.searchIvfIndexTwoLevel(spark, two, q,
          "vec_id", "embedding", k = 5)),
      "bm25TopK" -> (() =>
        Retrieval.bm25TopK(docs, "doc_id", "text", docs.where(col("doc_id") < 10),
          "doc_id", "text", 5)),
      "tfidfTopTerms" -> (() => Retrieval.tfidfTopTerms(docs, "doc_id", "text", 3)),
      "bigramCrossEntropy" -> (() =>
        LanguageModel.bigramCrossEntropy(docs, "doc_id", "text", "lang")),
      "trigramStupidBackoff" -> (() =>
        LanguageModel.trigramStupidBackoff(
          docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text", "lang")),
      "collocationsPmi" -> (() => LanguageModel.collocationsPmi(docs, "doc_id", "text")),
      "sourceOverlapExact" -> (() => Dedup.sourceOverlapExact(docs, "source", "text", 3)),
      "dsirScores" -> (() =>
        Selection.dsirScores(docs, docs.where(col("doc_id") < 50), "doc_id", "text")),
      "rankTopK_bruteforce" -> (() =>
        Similarity.bruteForceTopK(e.where(col("vec_id") < 5), e,
          "vec_id", "embedding", k = 3)),
      "topK_agg_plain" -> (() =>
        docs.select(col("source"), col("n_chars"), col("doc_id"))
          .groupBy("source")
          .agg(TopK.topK(3)(col("n_chars").cast("double"), col("doc_id")))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSeq
    val spark = Harness.session(4, logLevel = "ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft_planaudit_")
    try {
      val queries = Harness.select(names).map { case (n, fn) =>
        n -> (() => fn(spark, sfDir)) }
      val ops = operators(spark, sfDir, tmp.toString)
        .filter { case (n, _) => Harness.selects(names, n) }
      (queries ++ ops).foreach { case (name, df) =>
        println(s"\n================ $name ================")
        try df().explain("formatted")
        catch { case e: Throwable => println(s"[audit] failed: ${e.getMessage}") }
      }
    } finally {
      org.apache.spark.graft.ListenerDrain.drain(spark)
      FsUtil.deleteRecursively(tmp)
      spark.stop()
    }
  }
}
