package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-selection operators for training-corpus construction — the
  * "which documents do we actually train on" layer that sits after
  * dedup/decontamination (reference scope: the pipeline stops at load,
  * `/root/reference/src/load.py:40-44`; these are the LLM-pipeline
  * extensions the builder prompt mandates).
  *
  * Two published shapes:
  * - DSIR-style importance reweighting (Xie et al. 2023, "Data
  *   Selection for Language Models via Importance Resampling"):
  *   score every raw document by how much more likely its hashed
  *   unigram features are under a small TARGET corpus than under the
  *   raw corpus itself, then keep the top-scoring slice.
  * - Temperature-based source mixture (multilingual-sampling
  *   convention, e.g. mBERT/XLM-R's p^α): allocate a document budget
  *   across sources proportionally to `sqrt(token share)` so
  *   long-tail sources are up-weighted without letting any single
  *   giant source dominate.
  *
  * Determinism contract (cross-engine oracle): feature hashing is a
  * polynomial char fold — NOT xxhash64 — precisely so an independent
  * engine can recompute every bucket id; counts and totals are exact
  * integers; the only float steps are one `ln` (DSIR) or one `sqrt`
  * (mixture) per bucket/source on identical IEEE doubles, immediately
  * floor-quantized to scale-6 longs, after which every sum and
  * allocation is exact integer arithmetic (the q83 quantize-then-sum
  * rule; sqrt and double division are correctly rounded per IEEE 754,
  * so they are bit-portable by spec, not by probe).
  */
object Selection {

  /** DSIR-style importance score per corpus document, plus the
    * selected top-`k` slice.
    *
    * Model: hashed-unigram bag features with add-one smoothing on
    * both distributions. For bucket b,
    * `p_t(b) = (ct(b)+1)/(Nt+B)` and `p_r(b) = (cr(b)+1)/(Nr+B)`
    * (ct/cr = token-occurrence counts in target/raw corpus, Nt/Nr the
    * totals, B = nBuckets) — every probability a ratio of exact
    * integers. A document's log importance weight is the sum over its
    * token occurrences of `ln(p_t(b)/p_r(b))`, each term quantized to
    * `floor(ln · 10⁶)` (a long) so the document total is an exact
    * integer sum with no float-summation order dependence.
    *
    * Scale design (100 TB):
    * - The bucket table is `nBuckets` rows regardless of corpus size —
    *   it BROADCASTS, and scoring is map-side work over each
    *   document's own tokens followed by one hash aggregate on doc id.
    * - Nt/Nr ride 1-row aggregates (broadcast cross join), never a
    *   driver `count()`.
    * - Selection is the k-bounded [[TopK]] aggregate (map-side trim,
    *   no global sort) — the shuffle carries ≤ k rows per partition.
    * - The target corpus is small by definition (a hand-curated
    *   quality sample); only its bucket HISTOGRAM is ever collected.
    *
    * Output: (doc_id, n_tokens, logw6, selected) — `logw6` the exact
    * scaled-long log weight, `selected` true for the top-`k` documents
    * by (logw6 desc, doc_id asc). Documents with zero tokens score 0.
    */
  def dsirScores(corpus: DataFrame, target: DataFrame,
      idCol: String, textCol: String,
      nBuckets: Int = 1024, k: Int = 100): DataFrame = {
    require(k > 0)
    val spark = corpus.sparkSession
    import spark.implicits._

    // one compiled pass per doc for tokenize + bucket hash (the
    // TokenBuckets kernel, unigram arm)
    def bucketBag(df: DataFrame): DataFrame =
      graft.engine.Tables.fanOut(df.sparkSession, df)
        .select(col(idCol).cast("long").as("doc"),
          explode(graft.functions.tokenBucketsNative(
            col(textCol), nBuckets, useBigrams = false)).as("b"))

    // per-(doc, bucket) counts FIRST: both the corpus histogram (cr)
    // and the per-doc scoring consume this one aggregation, so the
    // corpus token explode is scanned once and the (doc, b) exchange
    // is reused across the two consumers (sum over occurrences of lr6
    // ≡ sum over buckets of cnt·lr6 — exact integer arithmetic).
    val bagCounts = bucketBag(corpus)
      .groupBy("doc", "b").agg(count(lit(1)).as("cnt"))
    // ct and cr are ≤ nBuckets rows but each fed TWO consumers (the
    // ratio join and its own total) — without a materialization the
    // total's scalar aggregate re-runs the whole corpus/target
    // explode+agg chain (nothing reuses exchanges across subtrees —
    // r17 finding, OPTIMIZATION_r17.md change 3). bagCounts stays
    // recomputed: it is corpus-sized, and one extra pass beats
    // materializing (doc, b) mass at 100 TB.
    val ct = bucketBag(target).groupBy("b").agg(count(lit(1)).as("ct"))
      .localCheckpoint(false)
    val cr = bagCounts.groupBy("b").agg(sum(col("cnt")).as("cr"))
      .localCheckpoint(false)
    val nt = ct.agg(sum(col("ct")).as("nt"))
    val nr = cr.agg(sum(col("cr")).as("nr"))
    // bucket → quantized log ratio; buckets unseen in the target exist
    // only via corpus rows, hence the left join from cr with ct
    // null-coalesced (a bucket with cr=0 never appears in the corpus
    // and therefore never needs a ratio)
    val ratios = cr
      .join(broadcast(ct), Seq("b"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("b"),
        floor(log(
          ((coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0)) *
            (col("nr") + lit(nBuckets.toLong)).cast("double")) /
          ((col("cr").cast("double") + lit(1.0)) *
            (coalesce(col("nt"), lit(0L)) + lit(nBuckets.toLong)).cast("double"))) *
          lit(1000000.0)).as("lr6"))

    val perDoc = bagCounts
      .join(broadcast(ratios), Seq("b"))
      .groupBy("doc")
      .agg(sum(col("cnt") * col("lr6")).as("logw6"),
        sum(col("cnt")).as("n_tokens"))
    val scored = corpus.select(col(idCol).cast("long").as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("logw6"), lit(0L)).as("logw6"))

    // k-bounded global top-k (logw6 fits a double exactly: |logw6| ≤
    // n_tokens · ln-range · 1e6 ≪ 2^53 at any realistic doc length).
    // Zero-token docs are never candidates: their neutral score 0
    // would otherwise outrank every negatively-scored real document.
    val top = scored.where(col("n_tokens") > 0).groupBy()
      .agg(TopK.topK(k)(col("logw6").cast("double"), col("doc")).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.key").as("doc"), lit(true).as("selected"))
    scored.join(broadcast(top), Seq("doc"), "left")
      .select(col("doc").as("doc_id"), col("n_tokens"), col("logw6"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** Model-based quality classifier — the fastText-shape linear gate
    * (Joulin et al. 2016) the FineWeb/DCLM-style curation pipelines
    * run: score every document by a linear model over hashed unigram
    * (+ word-bigram) bag features, keep documents whose MEAN feature
    * weight clears a threshold.
    *
    * The weights are learned here as Naive-Bayes log-odds (the NB-SVM
    * feature convention, Wang & Manning 2012) from two caller-supplied
    * seed corpora: `positive` (curated, "looks like quality") and
    * `negative` ("looks like crawl"). For bucket b,
    * `w6(b) = floor(10⁶ · ln( ((cp+1)/(Np+B)) / ((cn+1)/(Nn+B)) ))`
    * with cp/cn the seed feature counts, Np/Nn the totals, B =
    * nBuckets — every probability a ratio of exact integers, each ln
    * floor-quantized to a scale-6 long (the q83 rule), so a document's
    * `logit6 = Σ cnt·w6` is an exact integer sum. Buckets unseen in
    * BOTH seeds take the smoothed default `floor(10⁶·ln((Nn+B)/(Np+B)))`.
    *
    * The keep decision thresholds the MEAN weight without ever
    * dividing: `logit6 ≥ threshold6 · n_features` (exact-integer
    * cross-multiplication — no float, no div-rounding divergence).
    * `score` (mean logit, one IEEE division of exact values) rides
    * along for human consumption; a sigmoid of it would be monotone,
    * so gating on the logit IS gating on the probability.
    *
    * Scale design (100 TB): the weight table is ≤ nBuckets rows
    * regardless of seed size — it BROADCASTS; scoring is map-side
    * token work + one hash aggregate on doc id; Np/Nn ride 1-row
    * broadcast aggregates; the seeds are small by definition and only
    * their bucket HISTOGRAMS are ever shuffled. No corpus-sized state
    * anywhere.
    *
    * Output: (doc_id, n_features, logit6, score, keep) — score null
    * and keep false for feature-less documents.
    */
  def qualityClassifierScores(
      corpus: DataFrame, positive: DataFrame, negative: DataFrame,
      idCol: String, textCol: String,
      nBuckets: Int = 4096, threshold6: Long = 0L,
      useBigrams: Boolean = true): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"nBuckets out of range: $nBuckets")
    // keeps threshold6 · n_features inside a Long at any real doc size
    require(math.abs(threshold6) <= 20000000L,
      s"threshold6 out of range: $threshold6 (|ln-ratio| can't exceed ~20)")
    val (weights, defw) = classifierWeightFrames(
      positive, negative, idCol, textCol, nBuckets, useBigrams)
    val bag = classifierFeatureBag(corpus, idCol, textCol, nBuckets, useBigrams)
      .groupBy("doc", "b").agg(count(lit(1)).as("cnt"))
    val perDoc = bag
      .join(broadcast(weights), Seq("b"), "left")
      .crossJoin(broadcast(defw))
      .groupBy("doc")
      .agg(sum(col("cnt") * coalesce(col("w6"), col("defw6"))).as("logit6"),
        sum(col("cnt")).as("n_features"))
    corpus.select(col(idCol).cast("long").as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        coalesce(col("logit6"), lit(0L)).as("logit6"),
        when(coalesce(col("n_features"), lit(0L)) > 0,
          col("logit6").cast("double") /
            (col("n_features").cast("double") * lit(1000000.0))).as("score"),
        (coalesce(col("n_features"), lit(0L)) > 0 &&
          coalesce(col("logit6"), lit(0L)) >=
            lit(threshold6) * coalesce(col("n_features"), lit(0L))).as("keep"))
  }

  /** Hashed unigram(+bigram) feature buckets per document — the one
    * tokenize+hash definition the train side, the distributed scorer,
    * and the weight histograms all share. Bigram strings are
    * "a<space>b" (space = codepoint 32 participates in the fold —
    * replayable in SQL as a || ' ' || b).
    */
  private def classifierFeatureBag(df: DataFrame, idCol: String,
      textCol: String, nBuckets: Int, useBigrams: Boolean): DataFrame =
    // the SAME native kernel the scorer runs — train-side and
    // score-side bucket ids share one walk by construction (explode
    // drops null-text docs, as the old explode-of-null-tokens did)
    graft.engine.Tables.fanOut(df.sparkSession, df)
      .select(col(idCol).cast("long").as("doc"),
        explode(graft.functions.tokenBucketsNative(
          col(textCol), nBuckets, useBigrams)).as("b"))

  /** The NB-log-odds weight table (b, w6) and 1-row OOV default
    * (defw6) from the two seed corpora — shared by the distributed
    * scorer and the driver-collected export so both paths carry
    * identical weights by construction.
    */
  private def classifierWeightFrames(positive: DataFrame, negative: DataFrame,
      idCol: String, textCol: String, nBuckets: Int,
      useBigrams: Boolean): (DataFrame, DataFrame) = {
    val bLit = lit(nBuckets.toLong)
    // ≤ nBuckets rows each, TWO consumers each (weights join + the
    // np/nn total) — checkpointed so the totals don't re-run the seed
    // corpus passes (r17, the dsirScores ct/cr reasoning)
    val cp = classifierFeatureBag(positive, idCol, textCol, nBuckets, useBigrams)
      .groupBy("b").agg(count(lit(1)).as("cp"))
      .localCheckpoint(false)
    val cn = classifierFeatureBag(negative, idCol, textCol, nBuckets, useBigrams)
      .groupBy("b").agg(count(lit(1)).as("cn"))
      .localCheckpoint(false)
    val np = cp.agg(coalesce(sum(col("cp")), lit(0L)).as("np"))
    val nn = cn.agg(coalesce(sum(col("cn")), lit(0L)).as("nn"))
    val weights = cp.join(cn, Seq("b"), "full_outer")
      .crossJoin(broadcast(np)).crossJoin(broadcast(nn))
      .select(col("b"),
        floor(log(
          ((coalesce(col("cp"), lit(0L)).cast("double") + lit(1.0)) *
            (col("nn") + bLit).cast("double")) /
          ((coalesce(col("cn"), lit(0L)).cast("double") + lit(1.0)) *
            (col("np") + bLit).cast("double"))) * lit(1000000.0)).as("w6"))
    // OOV default: the same smoothed formula at cp = cn = 0
    val defw = np.crossJoin(nn).select(
      floor(log((col("nn") + bLit).cast("double") /
        (col("np") + bLit).cast("double")) * lit(1000000.0)).as("defw6"))
    (weights, defw)
  }

  /** Train-side weight EXPORT for [[scoreWithClassifier]]: the
    * (bucket → w6) table and the OOV default, collected to the driver
    * — bounded by nBuckets rows, the model artifact a deployment
    * ships. Same math as [[qualityClassifierScores]]'s in-plan
    * weights (shared helper), so offline and online scores agree
    * bit-for-bit (spec-pinned).
    */
  def collectClassifierWeights(positive: DataFrame, negative: DataFrame,
      idCol: String, textCol: String,
      nBuckets: Int = 4096, useBigrams: Boolean = true): (Map[Long, Long], Long) = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"nBuckets out of range: $nBuckets")
    // BOTH seed histograms in ONE job (tagged union — the two seed
    // scans run as parallel stages of a single collect), weight math
    // on the driver — collecting the in-plan weights frame instead
    // costs ~2 extra seed scans (the weights collect + the defw head
    // each re-derive both bags). Math.log IS Spark's ln (codegen
    // calls the same intrinsic), so driver and in-plan weights are
    // bit-identical — the scorer-parity spec pins it.
    val both = classifierFeatureBag(positive, idCol, textCol, nBuckets, useBigrams)
      .select(lit(0).as("s"), col("b"))
      .unionAll(
        classifierFeatureBag(negative, idCol, textCol, nBuckets, useBigrams)
          .select(lit(1).as("s"), col("b")))
      .groupBy("s", "b").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val cp = both.collect { case (0, b2, c) => b2 -> c }.toMap
    val cn = both.collect { case (1, b2, c) => b2 -> c }.toMap
    val np = cp.values.sum
    val nn = cn.values.sum
    val b = nBuckets.toDouble
    def w6(p: Long, n: Long): Long =
      math.floor(math.log(((p + 1.0) * (nn + b)) / ((n + 1.0) * (np + b)))
        * 1000000.0).toLong
    val keys = cp.keySet ++ cn.keySet
    (keys.iterator.map(k => k -> w6(cp.getOrElse(k, 0L), cn.getOrElse(k, 0L))).toMap,
      math.floor(math.log((nn + b) / (np + b)) * 1000000.0).toLong)
  }

  /** MAP-SIDE classifier application — the online arm: logit and keep
    * computed per row from a broadcast weight map literal, no explode,
    * no aggregation, no join. Because it is a pure projection it runs
    * UNCHANGED on a Structured Streaming frame (spec-proven): the
    * standard deployment where the model trains offline on seeds and
    * scores documents as they arrive. Bit-identical to
    * [[qualityClassifierScores]] on the same corpus (spec-pinned —
    * same fold, same weights, same exact-integer sums).
    */
  def scoreWithClassifier(docs: DataFrame, idCol: String, textCol: String,
      weights: Map[Long, Long], defw6: Long,
      nBuckets: Int, threshold6: Long = 0L,
      useBigrams: Boolean = true,
      keepCols: Seq[String] = Seq.empty): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"nBuckets out of range: $nBuckets")
    require(math.abs(threshold6) <= 20000000L,
      s"threshold6 out of range: $threshold6")
    // ONE compiled pass per row for tokenize + bigram + bucket hash
    // (the native TokenBuckets kernel — the interpreted transform/
    // aggregate nest evaluated ~2 lambdas per CHARACTER and was the
    // measured 14-second wall in the q129 stream); the explode(array())
    // generator barrier materializes the bucket array as an attribute
    // so its two consumers below don't re-run the kernel (the q101
    // trick — streaming-legal, unlike localCheckpoint)
    val base = docs.select(col("*"),
      explode(array(graft.functions.tokenBucketsNative(
        col(textCol), nBuckets, useBigrams))).as("__bk"))
    // DENSE weight vector, not a literal map: bucket ids live in
    // [0, nBuckets), and element_at on a literal MAP is a linear scan
    // (O(nBuckets) comparisons per feature); an array index is O(1).
    // Absent buckets pre-fill the OOV default — values unchanged.
    val wVec = typedLit(Array.tabulate(nBuckets)(b =>
      weights.getOrElse(b.toLong, defw6)))
    val logit6 = aggregate(col("__bk"), lit(0L),
      (acc, b) => acc + element_at(wVec, b.cast("int") + 1))
    val nFeats = size(col("__bk")).cast("long")
    // keepCols: caller columns carried through the projection (e.g.
    // a precomputed token count a downstream loader stage needs —
    // joins are not an option mid-stream)
    base.select(Seq(col(idCol).cast("long").as("doc_id"),
      nFeats.as("n_features"),
      logit6.as("logit6"),
      when(nFeats > 0,
        logit6.cast("double") / (nFeats.cast("double") * lit(1000000.0)))
        .as("score"),
      (nFeats > 0 && logit6 >= lit(threshold6) * nFeats).as("keep")) ++
      keepCols.map(col): _*)
  }

  /** Temperature-based source mixture: allocate `budgetDocs` documents
    * across sources proportionally to `sqrt(p_s)` where `p_s` is the
    * source's share of corpus tokens (the α = 0.5 sampling-temperature
    * convention; α = 1 is proportional, α → 0 uniform).
    *
    * Exactness: `p_s` is one double division of exact integers,
    * `sqrt` is IEEE-correctly-rounded, and the weight is immediately
    * quantized to `w6 = floor(sqrt(p_s) · 10⁶)`; the normalizer
    * `Σ w6` and the allocation `budget · w6 div Σ w6` are then exact
    * integer arithmetic — no float sum across sources (whose order an
    * engine is free to change) ever happens.
    *
    * Scale design: one hash aggregate per source (map-side partial),
    * then two 1-row broadcast aggregates; the output is one row per
    * SOURCE, never per document. Floor allocation under-fills by at
    * most (nSources − 1) documents — the standard largest-remainder
    * top-up is a caller policy, not baked in.
    *
    * Output: (source, n_docs, n_tokens, w6, alloc_docs).
    */
  def temperatureMixture(docs: DataFrame, sourceCol: String,
      textCol: String, budgetDocs: Long): DataFrame = {
    require(budgetDocs > 0 && budgetDocs <= 1000000000L,
      s"budgetDocs out of range: $budgetDocs") // keeps budget·w6 inside Long
    val perSource = graft.engine.Tables.fanOut(docs.sparkSession, docs)
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val total = perSource.agg(sum(col("n_tokens")).as("n_total"))
    // degenerate-corpus guards (all texts empty ⇒ n_total = 0): the
    // weight is 0 rather than floor(sqrt(0/0)·1e6) feeding NaN into a
    // long, and the allocation is 0 rather than an ANSI div-by-zero
    // abort on total6 = 0. Fixture data never hits either branch, so
    // the guarded expression is value-identical to the plain one.
    val weighted = perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        when(col("n_total") > 0,
          floor(sqrt(col("n_tokens").cast("double") / col("n_total").cast("double")) *
            lit(1000000.0))).otherwise(lit(0L)).as("w6"))
    val norm = weighted.agg(sum(col("w6")).as("total6"))
    weighted.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w6"),
        when(col("total6") > 0,
          expr(s"CAST($budgetDocs * w6 div total6 AS BIGINT)"))
          .otherwise(lit(0L)).as("alloc_docs"))
  }

  /** Per-group top-share gate: keep each group's best `num/den`
    * fraction of rows by an integer score — "the top 20% by classifier
    * score per domain", the percentile-style cut real curation
    * pipelines apply per source so one high-scoring domain cannot
    * starve the others.
    *
    * EXACT integer semantics (no float percentile interpolation, which
    * no two engines compute alike): the per-group threshold is the
    * largest score T with |{score ≥ T}| ≥ ceil(n·num/den), and the
    * gate keeps score ≥ T — the minimal tie-inclusive superset of the
    * top ceil(n·num/den). Ties at the threshold all survive (keeping
    * "half of doc A's copies" is not a meaningful gate), so the kept
    * share is ≥ num/den, with equality whenever the threshold score is
    * unique.
    *
    * Scale: NO per-row window anywhere — ranking rides per-(group,
    * score) COUNTS, so the window that finds the threshold orders each
    * group's DISTINCT scores (bounded by score cardinality — scale-6
    * quantized scores cap at 10⁶+1 rows per group, not corpus rows),
    * and the final filter is a |groups·scores|-bounded join back. The
    * full corpus is touched exactly twice, both map-side-aggregable.
    *
    * `scoreCol` must be integral (quantize first — the score6
    * discipline); output = input rows that pass, plus the group's
    * `threshold` column.
    */
  def topShareGate(docs: DataFrame, groupCol: String, scoreCol: String,
      num: Long, den: Long): DataFrame = {
    require(num > 0 && num <= den,
      s"share must be a fraction in (0, 1]: got $num/$den")
    val idt = docs.schema(scoreCol).dataType
    require(Seq("byte", "short", "int", "long", "integer")
        .contains(idt.typeName),
      s"topShareGate needs an integral score, got $idt — quantize first")
    val counts = docs.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol).desc)
    // rows per group = DISTINCT scores, not docs — the bounded window
    val cum = counts.withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))))
    val thresholds = cum
      .where(col("__cum") >= expr(s"(__n * $num + ${den - 1}) div $den"))
      .groupBy(col(groupCol))
      .agg(max(col(scoreCol)).as("threshold"))
    docs.join(thresholds, Seq(groupCol))
      .where(col(scoreCol) >= col("threshold"))
  }
}
