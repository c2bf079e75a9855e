package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-based n-gram language-model scoring — the CCNet/KenLM-style
  * quality signal: train a smoothed bigram model on the corpus itself
  * (per language), score every document's cross-entropy under it.
  * Documents whose token transitions are typical of their language
  * score LOW; gibberish, shuffled text, and wrong-language documents
  * score HIGH — the classic perplexity-bucket curation filter.
  *
  * Scale design (100 TB):
  * - Training is two hash aggregates (bigram counts, prefix counts)
  *   plus a per-language distinct-token count — all partial-aggregated
  *   map-side; the shuffle carries one row per DISTINCT gram, not per
  *   occurrence.
  * - The count tables are vocabulary-bounded, orders of magnitude
  *   smaller than the corpus: they BROADCAST, and scoring is map-side
  *   work over each document's own bigrams. (On an open-vocab corpus
  *   where counts outgrow the broadcast budget, drop the `broadcast`
  *   hints and the same plan becomes shuffle hash joins on the gram
  *   key — the operator's shape does not change.)
  * - Per-document totals are one final hash aggregate on the doc id.
  *
  * Determinism contract (cross-engine oracle): P(b|a) =
  * (c₂(a,b)+1)/(c₁(a)+V) — add-one smoothing, so every probability is
  * a ratio of exact integers; each token's ln is quantized with
  * `floor(ln(p) · 10⁶)` to a long and per-document totals are exact
  * integer sums (no float-summation order dependence). V is the
  * language's distinct-token count, making Σ_b P(b|a) = 1 exactly.
  */
object LanguageModel {

  /** Corpus-level COLLOCATION extraction (Church & Hanks 1990 PMI):
    * adjacent word pairs whose pointwise mutual information
    * `ln(p(a,b) / (p(a)·p(b)))` clears a minimum occurrence floor —
    * the phrase-discovery signal ("new york" scores high, "of the"
    * low) a tokenizer-vocabulary or boilerplate analysis consumes.
    *
    * Exactness: all counts are exact longs; the PMI double is the
    * FIXED expression shape `(ln c_ab + 2·ln U − ln T − ln c_a −
    * ln c_b)` — every term a correctly-rounded ln of an exact
    * integer, combined in one deterministic order (never a single ln
    * of a product, whose integer operand would overflow double
    * exactness past ~9·10¹⁵ at corpus scale) — then floor-quantized
    * to a scale-6 long. Both engines replay the identical IEEE
    * sequence, so every pmi6 hash-matches.
    *
    * `minCount` keeps rare-pair noise out (PMI's known bias toward
    * hapax pairs) AND bounds the output: pairs ≤ T/minCount. Scale:
    * two hash aggregates (pair and unigram counts, map-side partial),
    * two 1-row broadcast totals, one vocab-sized join per side —
    * never anything corpus²-shaped.
    *
    * Output: (a, b, n_pair, pmi6), one row per surviving pair.
    */
  def collocationsPmi(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 3L): DataFrame = {
    require(minCount >= 1L, s"minCount must be ≥ 1, got $minCount")
    val toks = graft.engine.Tables.fanOut(docs.sparkSession, docs)
      .select(col(idCol).cast("long").as("doc"),
        TextOps.tokens(col(textCol)).as("w"))
    val grams = toks.where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS a, w[i] AS b))")).as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
    // one corpus pass builds the unfiltered pair counts; the total
    // pair count is its exact integer sum (r17, guide §1.2 step 1:
    // the previous separate grams.count() re-tokenized and re-exploded
    // the whole corpus for one scalar). The count table is
    // vocab²-bounded, orders of magnitude smaller than the corpus —
    // localCheckpoint materializes it ONCE for its two consumers
    // (neither static exchange reuse nor AQE stage reuse fires across
    // these subtrees — measured r17 per-query job profile of q131: the derived
    // total WITHOUT the checkpoint re-ran the whole explode+agg).
    val pairCAll = grams.groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
      .localCheckpoint(false)
    val pairC = pairCAll.where(col("n_pair") >= minCount)
    // unigram counts feed THREE consumers (the total and both join
    // sides) — vocab-bounded, checkpointed once like pairCAll
    val uniC = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
      .localCheckpoint(false)
    val totPairs = pairCAll.agg(coalesce(sum(col("n_pair")), lit(0L)).as("tp"))
    val totUni = uniC.agg(coalesce(sum(col("cu")), lit(0L)).as("tu"))
    pairC
      .join(uniC.select(col("t").as("a"), col("cu").as("ca")), Seq("a"))
      .join(uniC.select(col("t").as("b"), col("cu").as("cb")), Seq("b"))
      .crossJoin(broadcast(totPairs)).crossJoin(broadcast(totUni))
      .select(col("a"), col("b"), col("n_pair"),
        floor((log(col("n_pair").cast("double")) +
          lit(2.0) * log(col("tu").cast("double")) -
          log(col("tp").cast("double")) -
          log(col("ca").cast("double")) -
          log(col("cb").cast("double"))) * lit(1000000.0)).as("pmi6"))
  }

  /** Per-document bigram cross-entropy under a self-trained add-one
    * bigram LM, grouped per `langCol`.
    *
    * Output: (doc_id, lang, n_bigrams, nll6, avg_nll) — `nll6` is the
    * exact scaled-long total negative log-likelihood, `avg_nll` =
    * nll6/10⁶/n_bigrams (nats per transition; 0.0 for docs with fewer
    * than 2 tokens, which have no transitions to score).
    */
  def bigramCrossEntropy(
      docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val toks = graft.engine.Tables.fanOut(docs.sparkSession, docs)
      .select(col(idCol).cast("long").as("doc"), col(langCol).as("lang"),
        TextOps.tokens(col(textCol)).as("w"))
    // one row per bigram OCCURRENCE (order within the doc is
    // irrelevant to the sum — exact longs commute)
    val grams = toks.where(size(col("w")) >= 2)
      .select(col("doc"), col("lang"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS a, w[i] AS b))")).as("g"))
      .select(col("doc"), col("lang"),
        col("g.a").as("a"), col("g.b").as("b"))
    // the bigram count table is the model — vocab²-bounded, far
    // smaller than the corpus. localCheckpoint materializes it ONCE
    // (r17): its two consumers (the scoring broadcast and the c1
    // marginal below) would otherwise each re-run the whole
    // tokenize+explode+aggregate corpus pass — neither static
    // exchange reuse nor AQE stage reuse fires across these subtrees
    // (measured, per-query job profiles of q83/q89).
    val c2 = grams.groupBy("lang", "a", "b").agg(count(lit(1)).as("c2"))
      .localCheckpoint(false)
    // prefix counts are the exact integer marginal of the bigram
    // counts — c1(lang,a) = Σ_b c2(lang,a,b) — aggregated from the
    // checkpointed c2 instead of re-tokenizing and re-exploding the
    // corpus a second time (guide §1.2 step 1 / §2.3: the aggregate
    // input is |distinct bigrams| rows, not |bigram occurrences|)
    val c1 = c2.groupBy("lang", "a").agg(sum(col("c2")).as("c1"))
    val vocab = toks.select(col("lang"), explode(col("w")).as("t"))
      .groupBy("lang").agg(countDistinct(col("t")).as("v"))
    val scored = grams
      .join(broadcast(c2), Seq("lang", "a", "b"))
      .join(broadcast(c1), Seq("lang", "a"))
      .join(broadcast(vocab), Seq("lang"))
      .withColumn("nll6", -floor(log(
        (col("c2").cast("double") + lit(1.0)) /
          (col("c1").cast("double") + col("v").cast("double"))) *
        lit(1000000.0)))
    val perDoc = scored.groupBy("doc")
      .agg(sum(col("nll6")).as("nll6"), count(lit(1)).as("n_bigrams"))
    docs.select(col(idCol).cast("long").as("doc"), col(langCol).as("lang"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll6"), lit(0L)).as("nll6"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("nll6").cast("double") / lit(1000000.0) /
            col("n_bigrams").cast("double")).as("avg_nll"))
  }

  /** Trigram language model with STUPID BACKOFF (Brants et al. 2007)
    * — the cross-corpus variant of [[bigramCrossEntropy]]: the model
    * trains on a separate curated `train` corpus and scores `score`
    * documents, so unseen n-grams genuinely occur and the backoff
    * chain fires (a self-trained model never backs off — every one of
    * its own trigrams has count ≥ 1):
    *
    *   S(c|a,b) = c3(a,b,c)/c2(a,b)              if c3 > 0
    *            = 0.4 · c2(b,c)/c1(b)            else if c2(b,c) > 0
    *            = 0.4 · 0.4 · (c1(c)+1)/(N+V+1)  otherwise (add-one
    *                                              unigram floor — the
    *                                              OOV guard stupid
    *                                              backoff leaves open;
    *                                              the +1 keeps the arm
    *                                              total even for a
    *                                              language with no
    *                                              training data at all)
    *
    * Every ratio is exact integers; the only float steps per scored
    * trigram are ≤ 2 correctly-rounded multiplies by 0.4 and one ln,
    * immediately floor-quantized to a scale-6 long — document totals
    * are exact integer sums (the q83 rule). Per-language training.
    *
    * Scale: all count tables are vocabulary-bounded broadcasts (drop
    * the hints on open-vocab corpora → gram-key shuffle joins, same
    * plan shape); scoring is map-side joins + one doc-keyed aggregate.
    *
    * Output: (doc_id, lang, n_trigrams, nll6, avg_nll, n_bo2, n_bo1)
    * — n_bo2/n_bo1 count trigrams scored by the bigram/unigram arms
    * (the "how out-of-domain is this document" diagnostic).
    */
  def trigramStupidBackoff(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String, langCol: String): DataFrame = {
    def toks(df: DataFrame) = graft.engine.Tables.fanOut(df.sparkSession, df)
      .select(col(idCol).cast("long").as("doc"), col(langCol).as("lang"),
        TextOps.tokens(col(textCol)).as("w"))
    def trigrams(t: DataFrame) = t.where(size(col("w")) >= 3)
      .select(col("doc"), col("lang"), explode(expr(
        "transform(sequence(1, size(w) - 2), " +
          "i -> struct(w[i-1] AS a, w[i] AS b, w[i+1] AS c))")).as("g"))
      .select(col("doc"), col("lang"),
        col("g.a").as("a"), col("g.b").as("b"), col("g.c").as("c"))

    val trainToks = toks(train)
    val c3 = trigrams(trainToks)
      .groupBy("lang", "a", "b", "c").agg(count(lit(1)).as("c3"))
    // ALL adjacent pairs (not just trigram prefixes): the bigram arm
    // scores (b,c) pairs that include the train corpus's final pair.
    // c2 and c1 are each consumed by TWO scoring arms (c2ab/c2bc,
    // c1b/c1c) — and c1 additionally feeds the (N, V) stats — so the
    // vocab-bounded count tables are localCheckpoint-materialized once
    // instead of re-running the train-corpus tokenize+explode+agg per
    // consumer (r17; no exchange/stage reuse fires across the
    // subtrees — measured, per-query job profile of q93)
    val c2 = trainToks.where(size(col("w")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS a, w[i] AS b))")).as("g"))
      .select(col("lang"), col("g.a").as("a"), col("g.b").as("b"))
      .groupBy("lang", "a", "b").agg(count(lit(1)).as("c2"))
      .localCheckpoint(false)
    val c1 = trainToks.select(col("lang"), explode(col("w")).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("c1"))
      .localCheckpoint(false)
    // (N, V) are exact integer marginals of the unigram count table —
    // Σ c1 and its row count — so they aggregate the vocab-bounded c1
    // instead of re-tokenizing and re-exploding the train corpus a
    // third time (r17, guide §1.2 step 1)
    val stats = c1.groupBy("lang")
      .agg(sum(col("c1")).as("n"), count(lit(1)).as("v"))

    val g = trigrams(toks(score))
      .join(broadcast(c3), Seq("lang", "a", "b", "c"), "left")
      .join(broadcast(c2.toDF("lang", "a", "b", "c2ab")), Seq("lang", "a", "b"), "left")
      .join(broadcast(c2.toDF("lang", "b", "c", "c2bc")), Seq("lang", "b", "c"), "left")
      .join(broadcast(c1.toDF("lang", "b", "c1b")), Seq("lang", "b"), "left")
      .join(broadcast(c1.toDF("lang", "c", "c1c")), Seq("lang", "c"), "left")
      .join(broadcast(stats), Seq("lang"), "left")
    // the three arms; train-side implication guarantees the divisors
    // of taken arms are > 0 (c3>0 ⇒ its prefix c2ab>0; c2bc>0 ⇒ c1b>0)
    val v = when(coalesce(col("c3"), lit(0L)) > 0,
        col("c3").cast("double") / col("c2ab").cast("double"))
      .when(coalesce(col("c2bc"), lit(0L)) > 0,
        lit(0.4) * (col("c2bc").cast("double") / col("c1b").cast("double")))
      .otherwise(lit(0.4) * lit(0.4) *
        ((coalesce(col("c1c"), lit(0L)).cast("double") + lit(1.0)) /
          (coalesce(col("n"), lit(0L)) + coalesce(col("v"), lit(0L)) + lit(1L))
            .cast("double")))
    val perDoc = g
      .withColumn("nll6", -floor(log(v) * lit(1000000.0)))
      .withColumn("bo", when(coalesce(col("c3"), lit(0L)) > 0, 0)
        .when(coalesce(col("c2bc"), lit(0L)) > 0, 1).otherwise(2))
      .groupBy("doc")
      .agg(sum(col("nll6")).as("nll6"), count(lit(1)).as("n_trigrams"),
        sum(when(col("bo") === 1, 1L).otherwise(0L)).as("n_bo2"),
        sum(when(col("bo") === 2, 1L).otherwise(0L)).as("n_bo1"))
    score.select(col(idCol).cast("long").as("doc"), col(langCol).as("lang"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as("doc_id"), col("lang"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("nll6"), lit(0L)).as("nll6"),
        when(coalesce(col("n_trigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("nll6").cast("double") / lit(1000000.0) /
            col("n_trigrams").cast("double")).as("avg_nll"),
        coalesce(col("n_bo2"), lit(0L)).as("n_bo2"),
        coalesce(col("n_bo1"), lit(0L)).as("n_bo1"))
  }
}
