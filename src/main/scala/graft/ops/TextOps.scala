package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything is pure `Column` expressions (array/lambda higher-order
  * functions — no UDFs), so the whole module stays inside whole-stage
  * codegen and scales as embarrassingly-parallel map work: at 100 TB
  * these run scan→project with zero shuffles.
  */
object TextOps {

  /** Whitespace tokenization. `split` drops no tokens because input is
    * trimmed first; empty string → single empty token removed.
    *
    * r17: `array_remove(…, "")` instead of the `filter` HOF — result-
    * identical (split yields no nulls, and both drop exactly the ""
    * elements) but array_remove is a codegen'd expression while
    * higher-order `filter` is CodegenFallback, i.e. an interpreted
    * per-row island inside every text-scan stage (guide §1.2 step 2;
    * tokens() sits under ~30 call sites across the text surface).
    */
  def tokens(c: Column): Column =
    array_remove(split(trim(c), "\\s+"), "")

  /** Token count over whitespace tokens. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: runs of letters, runs of digits, and each
    * remaining non-space symbol count as one token — the usual cheap
    * proxy for LLM token budgeting.
    */
  def bpeishTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Word n-gram shingles: `["a b c", "b c d", ...]`. Empty array when
    * fewer than n tokens (guarded — Spark's `sequence` would count
    * backwards).
    */
  def wordShingles(c: Column, n: Int): Column = {
    val ts = tokens(c)
    when(size(ts) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(ts) - lit(n - 1)),
        i => array_join(slice(ts, i, lit(n)), " ")))
  }

  /** Character n-gram shingles over the raw string. */
  def charShingles(c: Column, n: Int): Column =
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(c) - lit(n - 1)),
        i => substring(c, i, lit(n))))

  /** Count of tokens that appear in `words` (stopword hits). */
  def stopwordHits(c: Column, words: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(words.map(lit): _*)))

  /** Repeated-line fraction: 1 − distinct/total over non-empty trimmed
    * lines — the classic boilerplate/spam signal (repeated nav bars,
    * chat logs, SEO keyword walls). 0.0 for documents with no lines.
    */
  def dupLineRatio(c: Column): Column = {
    // array_remove for the "" drop (codegen'd; the transform HOF has
    // no built-in equivalent for element-wise trim and stays)
    val lines = array_remove(transform(split(c, "\n"), l => trim(l)), "")
    when(size(lines) <= 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(lines)).cast("double") / size(lines).cast("double"))
  }

  /** Repeated word-n-gram fraction: 1 − distinct/total over ALL n-gram
    * occurrences (duplicates included) — high values flag within-
    * document repetition loops. 0.0 when fewer than n tokens.
    *
    * Uses the NATIVE WordShingles expression: the declarative
    * [[wordShingles]] HOF re-evaluates `tokens` per shingle position
    * (O(len²) per doc — NOTES invariant 4), which measured 17 s for
    * this query at sf0.1 vs ~1 s native.
    */
  def dupNgramRatio(c: Column, n: Int): Column = {
    val sh = graft.functions.wordShinglesNative(c, n)
    when(size(sh) <= 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(sh)).cast("double") / size(sh).cast("double"))
  }

  /** PII/link scrubbing patterns — conservative subsets that parse and
    * match identically under Java regex (Spark) and RE2 (DuckDB), so
    * the scrub is oracle-checkable. Application order matters (URLs can
    * contain emails): URL → EMAIL → IPV4, in [[scrubPii]] and in any
    * SQL mirror.
    */
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Scrub URLs, emails, and IPv4 addresses to placeholder tokens —
    * the standard pre-training redaction pass. Pure codegen'd
    * `regexp_replace` chain (global replace in both engines).
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  /** Match counts per PII class on the RAW text (overlaps counted in
    * every class they match — same rule in the SQL mirror).
    */
  def piiCounts(c: Column): Seq[Column] = Seq(
    regexp_count(c, lit(UrlPattern)).as("n_urls"),
    regexp_count(c, lit(EmailPattern)).as("n_emails"),
    regexp_count(c, lit(Ipv4Pattern)).as("n_ipv4"))

  /** Duplicate-token fraction: 1 − distinct/total over whitespace
    * tokens — the unigram member of the Gopher repetition family
    * (cheapest signal; [[dupNgramRatio]] generalizes to n ≥ 2).
    * 0.0 for empty documents.
    */
  def dupTokenRatio(c: Column): Column = {
    val ts = tokens(c)
    when(size(ts) <= 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(ts)).cast("double") / size(ts).cast("double"))
  }

  /** Gopher-style quality-rule battery (Rae et al. 2021, Appendix A —
    * the rule SHAPE; thresholds are parameters). Four row-local rules,
    * each a pure codegen'd expression over the token array, plus the
    * conjunction:
    *
    *  - `len_ok`: token count within `[minTokens, maxTokens]`
    *  - `mtl_ok`: mean token length within
    *    `[minMeanTokLen, maxMeanTokLen]`
    *  - `stop_ok`: at least `minStopHits` required-stopword hits
    *    (Gopher's "contains ≥ 2 of a required word list")
    *  - `rep_ok`: duplicate-token fraction ≤ `maxDupTokRatio`
    *    (the duplicate-line/ngram repetition family, unigram grain)
    *  - `keep` = all four.
    *
    * Every signal is a double computed by an identical IEEE expression
    * shape in any engine (exact integer counts, one division), so the
    * whole frame — signals AND rule booleans — is oracle-exact. The
    * default thresholds are chosen so the driver fixtures exercise
    * BOTH branches of every rule at every scale (the q96 lesson);
    * Gopher's published production bands (e.g. word count 50–100k,
    * mean word length 3–10) are one parameterization of the same
    * operator.
    *
    * Scale: map-only scan→project, zero shuffles at any corpus size.
    */
  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      minTokens: Int = 40, maxTokens: Int = 100000,
      minMeanTokLen: Double = 3.5, maxMeanTokLen: Double = 4.6,
      minStopHits: Int = 2,
      maxDupTokRatio: Double = 0.55): org.apache.spark.sql.DataFrame = {
    val c = col(textCol)
    val nTok = tokenCount(c)
    val nTokD = nTok.cast("double")
    val meanTokLen =
      (length(c).cast("double") - (nTokD - lit(1.0))) / greatest(nTokD, lit(1.0))
    val stopHits = stopwordHits(c, EnStopwords)
    val dupTok = dupTokenRatio(c)
    df.select(col(idCol),
        nTok.as("n_tokens"),
        meanTokLen.as("mean_tok_len"),
        stopHits.as("stop_hits"),
        dupTok.as("dup_tok_ratio"))
      .withColumn("len_ok",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
      .withColumn("mtl_ok",
        col("mean_tok_len") >= minMeanTokLen &&
          col("mean_tok_len") <= maxMeanTokLen)
      .withColumn("stop_ok", col("stop_hits") >= minStopHits)
      .withColumn("rep_ok", col("dup_tok_ratio") <= maxDupTokRatio)
      .withColumn("keep",
        col("len_ok") && col("mtl_ok") && col("stop_ok") && col("rep_ok"))
  }

  /** Ratio of alphabetic characters to total length. */
  def alphaRatio(c: Column): Column =
    length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  /** Ratio of punctuation (non-alphanumeric, non-space) characters. */
  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[A-Za-z0-9\\s]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  /** English stopwords used by the default quality score. */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Heuristic document quality score in [0,1]: mixes length band,
    * mean token length band, stopword presence, and alphabetic purity.
    * Weights are fixed and the arithmetic is plain double ops with a
    * deterministic shape, so a SQL oracle can reproduce it bit-exactly.
    */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val meanTokLen = (length(c).cast("double") - (nTok - lit(1.0))) / greatest(nTok, lit(1.0))
    val lengthOk = (nTok >= 10 && nTok <= 100000).cast("double")
    val tokLenOk = (meanTokLen >= 2.0 && meanTokLen <= 12.0).cast("double")
    val stopRatio = stopwordHits(c, EnStopwords).cast("double") / greatest(nTok, lit(1.0))
    val stopOk = (stopRatio > 0.005).cast("double")
    lengthOk * lit(0.3) + tokLenOk * lit(0.2) + stopOk * lit(0.2) + alphaRatio(c) * lit(0.3)
  }

  /** Per-language discriminative word lists for the n-gram/stopword
    * language-ID heuristic. Real function words — the unit tests feed
    * genuinely multilingual text through this.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "es", "una"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Argmax language with deterministic first-wins tie-break in
    * `LangMarkers` order; "und" (undetermined) when no marker hits.
    */
  def langId(c: Column): Column = {
    val scores = LangMarkers.map { case (lang, words) => lang -> stopwordHits(c, words) }
    val best = greatest(scores.map(_._2): _*)
    val picked = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    picked
  }

  /** Portable polynomial fold hash of a string over UNICODE
    * CODEPOINTS: `(acc·31 + codepoint) mod 1,000,000,007` — the
    * [[graft.expressions.TokenBuckets]] portability discipline at
    * fingerprint modulus (large prime, not a bucket count). Replays
    * exactly in ANSI SQL via
    * `list_reduce(list_prepend(0, codepoints), ...)` for EVERY valid
    * Unicode string — the native [[graft.expressions.FoldHash]]
    * kernel walks codepoints, so there is no ASCII-only envelope
    * (the declarative `split("")+ascii` arm it replaced hashed
    * supplementary-plane characters as surrogate halves; kept below
    * as the spec's ASCII-parity oracle).
    */
  def foldHash(c: Column): Column = graft.functions.foldHashNative(c)

  /** The pre-r8 declarative arm — UTF-16 unit walk via split+ascii;
    * agrees with [[foldHash]] on ASCII (spec-pinned), diverges on
    * supplementary-plane input. Retained ONLY as a spec oracle.
    */
  private[graft] def foldHashDeclarative(c: Column): Column =
    aggregate(
      filter(split(c, ""), ch => ch =!= ""),
      lit(0L),
      (acc, ch) => pmod(acc * lit(31L) + ascii(ch).cast("long"),
        lit(1000000007L)))

  /** Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    * scheme): hash every word `k`-gram with the portable [[foldHash]],
    * slide a window of `w` consecutive gram hashes, and select each
    * window's minimum — RIGHTMOST occurrence on ties (the original
    * paper's robust-winnowing rule). The distinct selected
    * (position, hash) set is the document's fingerprint: winnowing
    * guarantees any shared substring of ≥ `w + k − 1` words produces a
    * shared selected hash, at ~2/(w+1) the density of full k-gram
    * fingerprinting — the storage/recall dial for corpus-scale
    * near-dup and plagiarism detection.
    *
    * Documents with fewer than `w` grams (but ≥ 1) winnow as a single
    * window over all their grams; gram-less docs select nothing.
    *
    * Output per document: `n_grams`, `n_windows`, `n_selected`,
    * `fp_min`/`fp_max` (null when nothing selected). Every value is
    * exact integer arithmetic — the whole frame is oracle-replayable.
    * Scale: map-only scan→project (the per-doc window walk is O(n·w)
    * inside one codegen'd expression); zero shuffles at any corpus
    * size.
    */
  def winnow(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    val (withSel, n) = winnowPicked(df, idCol, textCol, k, w)
    withSel.select(col(idCol),
      // null text -> null gram array; report 0 like the SQL mirror's
      // ELSE-[] branch so the row stays internally consistent with
      // n_windows/n_selected = 0
      coalesce(n, lit(0)).as("n_grams"),
      col("__nw").cast("int").as("n_windows"),
      coalesce(size(col("__sel")), lit(0)).cast("int").as("n_selected"),
      array_min(transform(col("__sel"), s => s.getField("m"))).as("fp_min"),
      array_max(transform(col("__sel"), s => s.getField("m"))).as("fp_max"))
  }

  /** Exploded winnowing selections: one row per selected
    * (position, fingerprint) — the joinable form [[winnow]] summarizes
    * and the inverted-index input for winnowed pair generation
    * ([[graft.ops.Dedup.winnowedPairs]]). Map-side explode of a
    * bounded-density array (≈ 2/(w+1) of grams); no shuffle here.
    */
  def winnowSelections(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    val (withSel, _) = winnowPicked(df, idCol, textCol, k, w)
    withSel.where(col("__sel").isNotNull)
      .select(col(idCol), explode(col("__sel")).as("s"))
      .select(col(idCol), col("s.p").as("pos"), col("s.m").as("fp"))
  }

  /** Shared winnowing core: returns the frame with `__nw` (window
    * count) and `__sel` (distinct (m, p) picks, null when gram-less)
    * plus the gram-count column expression.
    */
  private def winnowPicked(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): (org.apache.spark.sql.DataFrame, Column) = {
    require(k >= 1 && w >= 1, s"k/w out of range: $k/$w")
    val maxLong = Long.MaxValue
    // explode(array(..)) is a deliberate GENERATOR BARRIER: the window
    // walk below references __h once per fold step, and CollapseProject
    // would otherwise inline the whole gram-hash pipeline into every
    // element_at — re-hashing the document per window step (NOTES
    // invariant 16; measured 382 s for q101 at sf0.1, 3.9 s with the
    // barrier). A Generate node keeps __h an attribute reference, and
    // unlike localCheckpoint it works on streaming frames.
    val base = df.select(col(idCol),
      explode(array(transform(graft.functions.wordShinglesNative(col(textCol), k),
        g => foldHash(g)))).as("__h"))
    val n = size(col("__h"))
    val nWin = when(n >= 1, greatest(n - lit(w - 1), lit(1))).otherwise(lit(0))
    // per window s: fold over indices [s, min(s+w-1, n-1)] keeping the
    // (min, rightmost-pos) struct — `<=` makes later indices win ties
    val picks = transform(sequence(lit(0), nWin - 1),
      s => aggregate(
        sequence(s, least(s + lit(w - 1), n - 1)),
        struct(lit(maxLong).as("m"), lit(-1).as("p")),
        (acc, i) => when(element_at(col("__h"), i + 1) <= acc.getField("m"),
            struct(element_at(col("__h"), i + 1).as("m"), i.as("p")))
          .otherwise(acc)))
    (base.withColumn("__nw", nWin)
      .withColumn("__sel", when(nWin >= 1, array_distinct(picks))), n)
  }

  /** Rolling-hash document fingerprint (winnowing-style): min and max
    * of 64-bit hashes over character k-grams, plus the full-text hash.
    * Near-identical documents collide on min/max k-gram hashes even
    * when whole-text hashes differ. One pass per row through the
    * native gram-hash kernel (graft.expressions.GramHashRange), which
    * is bit-identical to min/max of xxhash64 over [[charShingles]]
    * without 500 substring allocations per row. Rows-only vs the
    * oracle (hash functions are engine-specific).
    */
  def fingerprints(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int = 8): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), xxhash64(col(textCol)).as("text_hash"),
        graft.functions.gramHashRangeNative(col(textCol), k).as("__gr"))
      .select(col(idCol), col("text_hash"),
        element_at(col("__gr"), 1).as("min_gram_hash"),
        element_at(col("__gr"), 2).as("max_gram_hash"))
}
