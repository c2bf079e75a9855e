package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  * - Exact/normalized dedup is one hash-aggregate — partial aggregation
  *   map-side, shuffle carries one row per distinct key.
  * - Pairwise similarity is NEVER all-pairs at scale: candidates come
  *   from an inverted index (shingle join) or LSH band buckets, both of
  *   which shuffle on the bucket key. Skewed buckets (stop-shingles)
  *   are capped with a frequency filter, the standard trick.
  * - Signatures are computed with codegen'd array expressions — no UDFs.
  */
object Dedup {

  /** Pairwise-similarity inputs go through [[graft.engine.Tables.fanOut]]:
    * shingling/hashing is per-row-CPU-dominated, so a one-row-group
    * input file would otherwise pin the whole signature stage to a
    * single core (no-op when the scan already matches the cluster).
    */
  private def fanned(docs: DataFrame): DataFrame =
    graft.engine.Tables.fanOut(docs.sparkSession, docs)

  /** Canonical text normalization for near-exact dedup: lowercase,
    * collapse whitespace, trim.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact dedup: keep the lowest-id row per exact key. Survivor choice
    * is deterministic (min id), unlike dropDuplicates' arbitrary pick —
    * the property PG's ON CONFLICT first-writer gives the reference.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(textCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup after normalization. */
  def normalizedDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exactDedup(
      df.withColumn("__norm", normalizeText(col(textCol))),
      "__norm", idCol).drop("__norm")

  /** SOFT dedup — downweight instead of drop: every copy in an
    * exact-duplicate cluster gets training weight 1/n_copies, so the
    * cluster's total sampling mass is one document (the
    * repetition-aware alternative to [[exactDedup]] when duplication
    * frequency itself carries signal — dropping loses it, keeping
    * full weight over-trains on boilerplate).
    *
    * Scale shape: only (id, 8-byte content hash) pairs shuffle — the
    * q113 discipline; document bodies never cross the wire. Cluster
    * identity is xxhash64 of the text, the repo's documented 2⁻⁶⁴
    * collision trade (the oracle clusters on the text itself, so a
    * collision would hash-mismatch the driver row rather than pass
    * silently). The weight is ONE IEEE division of exact integers —
    * hash-exact.
    *
    * Output: (doc_id, n_copies, weight), one row per input document.
    */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol).cast("long").as("doc_id"),
      xxhash64(col(textCol)).as("__h"))
    val counts = keyed.groupBy("__h").agg(count(lit(1)).as("n_copies"))
    keyed.join(counts, Seq("__h"))
      .select(col("doc_id"), col("n_copies"),
        (lit(1.0) / col("n_copies").cast("double")).as("weight"))
  }

  /** Distinct (docId, shingle) pairs — the inverted-index edge list.
    * `maxDocFreq` drops shingles occurring in more than that many docs
    * (stop-shingles): they explode the candidate join at scale while
    * carrying no discriminative signal.
    */
  def shingleIndex(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocFreq: Option[Int] = None): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("doc"), explode(array_distinct(
        graft.functions.wordShinglesNative(col(textCol), n))).as("shingle"))
    maxDocFreq match {
      case None => pairs
      case Some(cap) =>
        val freq = pairs.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") <= cap).select("shingle")
        pairs.join(freq, Seq("shingle"), "left_semi")
    }
  }

  /** Paragraph-grain dedup (corpus-wide): split documents on blank
    * lines, keep only the FIRST occurrence (lowest (doc, idx)) of each
    * distinct non-empty trimmed paragraph across the whole corpus —
    * the boilerplate-killer that document-grain dedup misses (repeated
    * headers/footers/nav blocks shared across different documents).
    *
    * Scale shape: first-occurrence is a paragraph-keyed AGGREGATE
    * (`min(struct(doc, idx))` — map-side partial aggregation collapses
    * within-partition duplicates before the shuffle) followed by one
    * join back; no window over the full occurrence list. Returns kept
    * occurrences (id, idx, para); use [[rebuildFromParagraphs]] to
    * reassemble documents.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val paras = fanned(docs)
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n\n")))
      .select(col("id"), col("pos").as("idx"), trim(col("col")).as("para"))
      .where(col("para") =!= "")
    val firstOcc = paras
      .groupBy(col("para"))
      .agg(min(struct(col("id"), col("idx"))).as("first"))
      .select(col("para").as("__fp"), col("first"))
    paras.join(firstOcc,
        col("para") === col("__fp") &&
          struct(col("id"), col("idx")) === col("first"))
      .select(col("id"), col("idx"), col("para"))
  }

  /** Reassemble documents from kept paragraph occurrences: paragraphs
    * back in document order, joined by blank lines. Documents whose
    * every paragraph was deduplicated away disappear (fully-boilerplate
    * docs).
    */
  def rebuildFromParagraphs(kept: DataFrame, idCol: String): DataFrame =
    kept.groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("para")))),
            s => s.getField("para")),
          "\n\n").as("text"))

  private def benchShingleSet(
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame =
    benchmark
      .select(explode(array_distinct(
        graft.functions.wordShinglesNative(col(benchTextCol), n))).as("shingle"))
      .distinct()

  /** Benchmark decontamination: drop every corpus document sharing ANY
    * word n-gram with the benchmark (eval-set) corpus — the filter that
    * keeps test data out of training data.
    *
    * Scale shape: eval sets are small by definition, so the benchmark's
    * distinct shingle set BROADCASTS; the corpus-side shingle explode
    * is map-side work against the broadcast (left_semi — corpus
    * shingles never shuffle), and only the contaminated-id set (small)
    * reaches the final anti-join. Documents shorter than n tokens have
    * no shingles and are never flagged.
    */
  def decontaminate(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    val contaminated = shingleIndex(fanned(docs), idCol, textCol, n)
      .join(broadcast(benchShingleSet(benchmark, benchTextCol, n)),
        Seq("shingle"), "left_semi")
      .select(col("doc").as(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-filter contamination screen — the broadcast-budget variant
    * of [[decontaminate]] for eval suites too large to ship as a raw
    * shingle set. The benchmark's distinct n-grams are folded into one
    * Catalyst bloom sketch ([[BloomPrune.buildBloom]] — distributed
    * partial aggregates, the driver holds only the ~numBits/8-byte
    * sketch), and every corpus document is screened MAP-SIDE: no
    * corpus-side shuffle at all, the sketch rides the task closure.
    *
    * Adds `bloom_hit`: ONE-SIDED — a truly contaminated document (any
    * shared shingle) is ALWAYS flagged (bloom filters have no false
    * negatives), a clean one is flagged with probability ≈
    * 1 − (1 − fpp)^shingles. Callers needing exact verdicts confirm
    * flagged docs with [[decontaminate]]'s exact join — the screen
    * has already discarded the overwhelming clean majority, so the
    * exact pass runs on a sliver of the corpus.
    *
    * `benchShingles` is the expected distinct-shingle count used to
    * size the sketch (m = −n·ln(fpp)/ln²2); an undercount only raises
    * the realized fp rate, never breaks one-sidedness.
    */
  def bloomScreen(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int,
      benchShingles: Long, fpp: Double = 1e-6): DataFrame = {
    require(fpp > 0 && fpp < 0.5, s"fpp must be in (0, 0.5), got $fpp")
    require(benchShingles > 0, "benchShingles must be positive")
    val numBits = math.max(64L, math.ceil(
      -benchShingles * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloom = BloomPrune.buildBloom(
      benchShingleSet(benchmark, benchTextCol, n), "shingle",
      benchShingles, numBits)
    fanned(docs).withColumn("bloom_hit", coalesce(
      exists(
        array_distinct(graft.functions.wordShinglesNative(col(textCol), n)),
        s => BloomPrune.mightContain(bloom, s)),
      lit(false)))
  }

  /** Gram-grain contamination report: for each contaminated corpus
    * document, HOW MANY distinct benchmark n-grams it shares — the
    * triage view behind [[decontaminate]]'s binary verdict (borderline
    * one-gram hits vs wholesale test-set copies). Same broadcast
    * shape; output is (idCol, n_hits), contaminated docs only.
    */
  def contaminationReport(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame =
    shingleIndex(fanned(docs), idCol, textCol, n)
      .join(broadcast(benchShingleSet(benchmark, benchTextCol, n)),
        Seq("shingle"), "left_semi")
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_hits"))

  /** n-gram Jaccard near-dup pairs via inverted-index self-join:
    * |A∩B| from the shingle join, |A∪B| = |A|+|B|-|A∩B|.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    *
    * Scale contract (measured on a 16× replicated corpus, NOTES.md
    * round 4 "Scale probe"): linear in corpus size
    * but QUADRATIC in duplicate-cluster size — exact all-pair output
    * necessarily generates C(cluster, 2) pairs per shared shingle. On
    * corpora
    * with non-trivial dup density, cap `maxDocFreq` aggressively and
    * prefer [[minhashLshPairs]] (measured sublinear per doc); this
    * exact form is the small-scale / verification tool.
    */
  /** Shared pair machinery for the exact shingle-set measures
    * (Jaccard, containment): per-doc distinct-shingle sizes and the
    * per-pair intersection counts, in the postings formulation — one
    * shuffle groups docs per shingle hash, C(p,2) ordered pairs
    * generated map-side per posting list, partial-aggregated before
    * the pair shuffle. Returns (inter: id_a < id_b × inter,
    * sizes: doc × n_shingles).
    */
  private def shinglePairIntersections(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocFreq: Option[Int]): (DataFrame, DataFrame) = {
    val src = fanned(docs)
    val idx = shingleIndex(src, idCol, textCol, n, maxDocFreq)
    // Per-doc set sizes: map-side from the source text when no cap is
    // applied (recomputing the shingle array is one narrow pass —
    // cheaper than a dedicated 500k-row shuffle of the index); from the
    // capped index when maxDocFreq filters shingles.
    val sizes = maxDocFreq match {
      case None => src.select(col(idCol).as("doc"),
        size(array_distinct(
          graft.functions.wordShinglesNative(col(textCol), n))).as("n_shingles"))
        .where(col("n_shingles") > 0)
      case Some(_) => idx.groupBy("doc").agg(count(lit(1)).as("n_shingles"))
    }
    // Postings formulation instead of an index self-join: one shuffle
    // groups docs per shingle (sorted, so pairs come out ordered), then
    // C(p,2) pairs are generated map-side from each posting list and
    // partially aggregated before the pair shuffle — half the shuffled
    // bytes of idx⨝idx and no join at all. The posting key is
    // xxhash64(shingle), not the string: 8 shuffled bytes instead of
    // ~n·8 and cheap comparisons (a cross-shingle collision within one
    // doc pair would need 2^-64 odds — the standard at-scale trade).
    val postings = idx.groupBy(xxhash64(col("shingle")).as("sh"))
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .where(size(col("docs")) > 1)
    // Long posting lists (stop-shingles) would make single tasks
    // generate O(p²) pairs — at scale, always set maxDocFreq to cap p.
    val pairs = postings.select(explode(flatten(transform(
      sequence(lit(0), size(col("docs")) - 2),
      i => transform(
        sequence(i + 1, size(col("docs")) - 1),
        j => struct(element_at(col("docs"), i + 1).as("id_a"),
          element_at(col("docs"), j + 1).as("id_b")))))).as("pair"))
      .select(col("pair.id_a"), col("pair.id_b"))
      // guards the (collision-only) case of one doc listed twice
      .where(col("id_a") < col("id_b"))
    val inter = pairs
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    (inter, sizes)
  }

  private def withPairSizes(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("n_shingles", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("n_shingles", "size_b"), "id_b")

  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    val (inter, sizes) =
      shinglePairIntersections(docs, idCol, textCol, n, maxDocFreq)
    withPairSizes(inter, sizes)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric shingle-set containment — the directed cousin of
    * Jaccard the dedup literature uses for CONTAINED-document removal
    * (quotes, mirrored excerpts, doc-inside-digest): c(A→B) =
    * |S(A) ∩ S(B)| / |S(A)|. A short doc fully quoted inside a long
    * one scores c ≈ 1 while its Jaccard stays near |A|/|B| — the
    * pairs a symmetric threshold misses. Emits one DIRECTED row
    * (contained_id, container_id, containment) per direction meeting
    * the threshold, so a mutually-containing near-identical pair
    * yields both rows. Same postings discipline as
    * [[ngramJaccardPairs]] (shared machinery): no index self-join, no
    * all-pairs, `maxDocFreq` caps stop-shingle posting lists at
    * scale.
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    val (inter, sizes) =
      shinglePairIntersections(docs, idCol, textCol, n, maxDocFreq)
    val directed = withPairSizes(inter, sizes).select(
      explode(array(
        struct(col("id_a").as("contained_id"), col("id_b").as("container_id"),
          (col("inter").cast("double") / col("size_a").cast("double"))
            .as("containment")),
        struct(col("id_b").as("contained_id"), col("id_a").as("container_id"),
          (col("inter").cast("double") / col("size_b").cast("double"))
            .as("containment")))).as("d"))
      .select(col("d.contained_id"), col("d.container_id"), col("d.containment"))
    directed.where(col("containment") >= threshold)
  }

  /** Source-overlap matrix, EXACT: for every pair of sources, the
    * Jaccard similarity of their word-n-gram shingle SETS — the
    * "how much does src A duplicate src B" curation diagnostic that
    * decides which sources to dedup against each other first.
    *
    * Shape: distinct (source, shingle) → per-source set sizes (a
    * sources-sized frame) + a self equi-join on shingle for
    * intersection counts; the complete matrix (zeros included) comes
    * from the tiny sizes⨯sizes pair frame left-joined to the counts.
    * The shingle self-join shuffles the distinct shingle set — exact
    * is the oracle-checkable arm.
    */
  def sourceOverlapExact(docs: DataFrame, sourceCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 2)
    val sh = fanned(docs)
      .select(col(sourceCol).as("source"), TextOps.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      .select(col("source"), explode(array_distinct(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), " +
          s"i -> array_join(slice(w, i, $n), ' '))"))).as("shingle"))
      .distinct()
      // THREE plan references (both self-join sides + the sizes agg):
      // each would re-run the tokenize+shingle+distinct SHUFFLE from
      // scratch — nothing reuses exchanges across subtree copies (r17
      // finding, OPTIMIZATION_r17.md change 3) — so the distinct
      // (source, shingle) set materializes once
      .localCheckpoint(false)
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.as("sa")
      .join(sizes.as("sb"), col("sa.source") < col("sb.source"))
      .select(col("sa.source").as("src_a"), col("sb.source").as("src_b"),
        col("sa.sz").as("sz_a"), col("sb.sz").as("sz_b"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("sz_a") + col("sz_b") - coalesce(col("n_inter"), lit(0L)))
          .as("n_union"))
      .select(col("src_a"), col("src_b"), col("n_inter"), col("n_union"),
        when(col("n_union") > 0,
          col("n_inter").cast("double") / col("n_union").cast("double"))
          .otherwise(lit(0.0)).as("jaccard"))
  }

  /** (doc, band, bucket) rows: the banded-LSH index side. One row per
    * document per band; `bucket` is the xxhash64 of that band's
    * signature slice. This IS the persistable corpus index shape —
    * incremental dedup joins a new batch's bands against a stored
    * copy of this frame instead of re-fingerprinting the corpus.
    */
  def minhashBandBuckets(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = fanned(docs)
      // native one-pass signature (graft.expressions.MinHashSignature)
      .select(col(idCol).as("doc"),
        graft.functions.minhashNative(col(textCol), n, bands * rowsPerBand).as("sig"))
      .where(col("sig").isNotNull)
    sig.select(
      col("doc"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
  }

  /** LSH candidate pairs from MinHash signatures: split the signature
    * into `bands` bands of `rowsPerBand`, bucket on (band index, band
    * hash), pair up docs sharing a bucket. Dedups candidate pairs.
    */
  def minhashLshCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = minhashBandBuckets(docs, idCol, textCol, n, bands, rowsPerBand)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs: LSH candidates verified with exact
    * Jaccard computed PER CANDIDATE PAIR (array_intersect on the two
    * docs' shingle sets) — never a global all-pairs or full inverted-
    * index pass. Cost is O(|candidates| · shingles), the 100 TB-safe
    * shape: false-positive candidates cost one local set intersection,
    * nothing global.
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val withShingles = fanned(docs).select(
      col(idCol).as("doc"),
      array_distinct(graft.functions.wordShinglesNative(col(textCol), n)).as("shingles"))
    val cands = minhashLshCandidates(docs, idCol, textCol, n, bands, rowsPerBand)
    cands
      .join(withShingles.select(col("doc").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(withShingles.select(col("doc").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental (delta) near-dup detection: which documents of a NEW
    * `batch` near-duplicate the EXISTING `corpus` — the per-crawl
    * ingest operation, which at 100 TB replaces re-deduping the whole
    * corpus: the corpus side is the stored [[minhashBandBuckets]]
    * index (rows ∝ corpus × bands, built once, appended per ingest),
    * and one ingest shuffles only the batch's bands plus the matched
    * index partitions — batch-internal and corpus-internal pairs are
    * never generated. Candidates sharing any (band, bucket) are
    * verified with exact Jaccard per candidate pair (shingle-set
    * intersection, batch shingles recomputed, corpus shingles from
    * the matched docs only — never a full corpus re-shingle).
    *
    * Returns (batch_id, corpus_id, jaccard) pairs at ≥ `threshold`.
    * Same sketch parameters as [[minhashLshPairs]] ⇒ identical
    * per-pair collision probability, so q25's measured recall
    * calibration carries over.
    */
  def incrementalLshPairs(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val corpusIdx = minhashBandBuckets(corpus, idCol, textCol, n, bands, rowsPerBand)
    val batchIdx = minhashBandBuckets(batch, idCol, textCol, n, bands, rowsPerBand)
    // localCheckpoint: cands feeds TWO plan references (the matched-
    // corpus semi-join and the final verify join) — without it the
    // corpus banding + bucket join could execute twice if exchange
    // reuse doesn't fire; the frame is batch-proportional, so
    // materializing it is bounded
    val cands = batchIdx.as("b").join(corpusIdx.as("c"),
        col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
      .select(col("b.doc").as("batch_id"), col("c.doc").as("corpus_id"))
      .distinct()
      .localCheckpoint(false)
    def shingles(df: DataFrame, as: String) = fanned(df).select(
      col(idCol).as(as),
      array_distinct(graft.functions.wordShinglesNative(col(textCol), n))
        .as(s"sh_$as"))
    // semi-join the corpus down to matched ids BEFORE shingling —
    // otherwise the whole corpus re-shingles per ingest; the matched
    // id set is batch-proportional
    val matchedCorpus = corpus.join(
      cands.select(col("corpus_id").as(idCol)).distinct(),
      Seq(idCol), "left_semi")
    cands
      .join(shingles(batch, "batch_id"), "batch_id")
      .join(shingles(matchedCorpus, "corpus_id"), "corpus_id")
      .withColumn("inter", size(array_intersect(col("sh_batch_id"), col("sh_corpus_id"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_batch_id")) + size(col("sh_corpus_id")) - col("inter"))
            .cast("double"))
      .where(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** Cross-document repeated-span detection — the signal behind
    * exact-substring dedup (Lee et al. 2022, arXiv:2107.06499):
    * every run of `spanTokens` consecutive tokens is a window; a
    * window is REPEATED if its span occurs in ≥ `minDocs` distinct
    * documents. Distinct from paragraph dedup (structural units) and
    * within-doc repetition (q67): this finds verbatim boilerplate
    * shared ACROSS documents at token granularity.
    *
    * Returns per doc (docs with ≥ spanTokens tokens): window count,
    * repeated-window count, and the highest document-frequency any of
    * its spans reaches.
    *
    * 100 TB shape: windows are represented by their 64-bit span hash
    * — 8 bytes through both shuffles instead of the L-token string
    * (two distinct spans colliding would need 2^-64 odds — q24's
    * standard trade); span document-frequency is a two-level
    * count-distinct aggregate (no postings list materialized, so a
    * boilerplate span shared by millions of docs is one freq row,
    * not a pair explosion); the join-back is 1:1 per window row.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, minDocs: Int = 2): DataFrame = {
    require(spanTokens >= 2 && minDocs >= 2)
    val toks = fanned(docs).select(
        col(idCol).as("doc"), TextOps.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= spanTokens)
    val wins = toks.select(col("doc"),
      explode(transform(
        sequence(lit(1), size(col("w")) - (spanTokens - 1)),
        i => xxhash64(concat_ws(" ", slice(col("w"), i, lit(spanTokens))))))
        .as("span_hash"))
    val freq = wins.groupBy(col("span_hash"))
      .agg(countDistinct(col("doc")).as("span_docs"))
    wins.join(freq, "span_hash")
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("span_docs") >= minDocs, 1L).otherwise(0L))
          .as("n_dup_windows"),
        max(col("span_docs")).as("max_span_docs"))
  }

  /** The REMOVAL side of [[repeatedSpans]] (Lee et al. 2022 drop the
    * duplicated substrings, not just count them): rebuild every
    * document with all tokens covered by any over-frequent span
    * (document frequency ≥ `minDocs`) removed. Overlapping frequent
    * spans union their coverage; a fully-covered document survives as
    * an empty string (so corpus membership is preserved — dropping is
    * the caller's policy). Adjacent/overlapping duplicate windows are
    * COALESCED into maximal spans (Lee et al. 2022): a duplicated
    * region longer than `spanTokens` chains its windows into one
    * span, reported per doc as `n_spans_removed` (count of maximal
    * removed intervals) and `longest_removed_span` (tokens in the
    * longest) — the numbers a removal audit reads.
    *
    * 100 TB shape: span identity is the 64-bit hash (q24's 2^-64
    * trade); span document-frequency is the same two-level
    * count-distinct as [[repeatedSpans]] — no postings list. The only
    * new expansion is `spanTokens` covered positions per FREQUENT-span
    * occurrence (bounded, small constant), immediately de-duplicated
    * per (doc, position) before the anti join. Every join/aggregate
    * keys on doc or span_hash — no window over the corpus, no global
    * sort; the per-doc rebuild sorts each document's OWN tokens inside
    * one aggregation buffer (`array_sort` over ≤ doc-length entries).
    */
  def stripRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, minDocs: Int = 2): DataFrame = {
    require(spanTokens >= 2 && minDocs >= 2)
    val toks = fanned(docs).select(
      col(idCol).cast("long").as("doc"), TextOps.tokens(col(textCol)).as("w"))
    // (doc, start, span_hash) — 1-based starts, matching slice()
    val wins = toks.where(size(col("w")) >= spanTokens)
      .select(col("doc"), explode(transform(
        sequence(lit(1), size(col("w")) - (spanTokens - 1)),
        i => struct(i.as("start"),
          xxhash64(concat_ws(" ", slice(col("w"), i, lit(spanTokens))))
            .as("span_hash")))).as("s"))
      .select(col("doc"), col("s.start").as("start"),
        col("s.span_hash").as("span_hash"))
    val freq = wins.groupBy(col("span_hash"))
      .agg(countDistinct(col("doc")).as("span_docs"))
      .where(col("span_docs") >= minDocs)
      .select(col("span_hash"))
    // covered token positions, deduped per doc (overlaps collapse)
    val covered = wins.join(freq, Seq("span_hash"), "left_semi")
      .select(col("doc"),
        explode(sequence(col("start"), col("start") + (spanTokens - 1))).as("p"))
      .distinct()
    // COALESCING pass (Lee et al. 2022 merge adjacent/overlapping
    // duplicate windows into MAXIMAL spans): the covered-position set
    // per doc, position-sorted inside one aggregation buffer, folded
    // once into (span count, longest span) — a new maximal span starts
    // exactly where a covered position has no covered predecessor.
    // Exact integer arithmetic throughout; the q85 oracle rebuilds the
    // same numbers independently via no-predecessor/no-successor
    // start/end pairing.
    val spanStats = covered.groupBy(col("doc"))
      .agg(array_sort(collect_list(col("p").cast("long"))).as("ps"))
      .select(col("doc"), {
        val folded = aggregate(col("ps"),
          // prev sentinel -2: positions are ≥ 1, so p - (-2) ≥ 3 never
          // reads as adjacent — and never overflows under ANSI (a
          // Long.MinValue sentinel would: p - MinValue throws)
          struct(lit(0L).as("n"), lit(0L).as("longest"),
            lit(0L).as("cur"), lit(-2L).as("prev")),
          (acc, p) => {
            val adjacent = p - acc.getField("prev") === 1L
            val curLen = when(adjacent, acc.getField("cur") + 1L).otherwise(1L)
            struct(
              when(adjacent, acc.getField("n")).otherwise(acc.getField("n") + 1L).as("n"),
              greatest(acc.getField("longest"), curLen).as("longest"),
              curLen.as("cur"), p.as("prev"))
          })
        struct(folded.getField("n").as("n_spans"),
          folded.getField("longest").as("longest")).as("sp")
      })
      .select(col("doc"), col("sp.n_spans").as("n_spans_removed"),
        col("sp.longest").as("longest_removed_span"))
    val tokPos = toks
      .select(col("doc"), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc"), (col("p0") + 1).as("p"), col("tok"))
    val rebuilt = tokPos.join(covered, Seq("doc", "p"), "left_anti")
      .groupBy(col("doc"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s("tok")), " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).cast("long").as("doc"),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc"), "left")
      .join(spanStats, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("n_spans_removed"), lit(0L)).as("n_spans_removed"),
        coalesce(col("longest_removed_span"), lit(0L)).as("longest_removed_span"))
  }

  /** SimHash fold over an already-materialized token-hash array COLUMN:
    * the 64 bit-sum lambdas each reference the array, and a
    * lambda-referenced subexpression re-evaluates per reference, so
    * only an attribute read is cheap enough to reference 64 times.
    */
  def simhash64FromHashes(hashesCol: Column): Column = {
    // shiftright/shiftleft only take Int amounts in the Scala API, so
    // the variable shift inside the lambda goes through call_function.
    val bitSums = transform(
      sequence(lit(0), lit(63)),
      b => aggregate(hashesCol, lit(0L),
        (acc, h) => acc + when(
          call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L))))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, b) => when(s > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** 64-bit SimHash fingerprints per row via the native codegen'd
    * expression (graft.expressions.SimHash64) — bit-identical to
    * [[simhash64FromHashes]] over `transform(tokens, xxhash64)`, but
    * one tight loop per row instead of 64 interpreted aggregations.
    */
  def simhashFingerprints(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    fanned(docs).select(col(idCol).as("doc"),
      graft.functions.simhash64Native(col(textCol)).as("fp"))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. Candidate
    * generation buckets on the four 16-bit quarters of the fingerprint
    * (pigeonhole: any pair within Hamming distance 3 shares at least
    * one exact quarter), then verifies the full distance.
    */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "quarter-banding guarantees recall only for maxDist <= 3")
    val fp = simhashFingerprints(docs, idCol, textCol)
    val banded = fp.select(col("doc"), col("fp"),
      posexplode(transform(
        sequence(lit(0), lit(3)),
        q => call_function("shiftright", col("fp"), q * 16).bitwiseAND(lit(0xFFFFL)))))
      .withColumnsRenamed(Map("pos" -> "quarter", "col" -> "qbits"))
    banded.as("a").join(banded.as("b"),
        col("a.quarter") === col("b.quarter") && col("a.qbits") === col("b.qbits") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        hamming64(col("a.fp"), col("b.fp")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** Near-duplicate IMAGE pairs by perceptual hash (the aHash codes
    * from [[Multimodal.perceptualHashes]]): Hamming ≤ `maxDist` via
    * 4-way banding of the grid²-bit code (pigeonhole: ≤ 3 differing
    * bits leave one band untouched — exhaustive for maxDist ≤ 3, the
    * same guarantee shape as [[simhashPairs]]). Null hashes (audio
    * rows) never pair. `nBits` is the code width (grid²) and must be
    * divisible by 4. Same 100 TB shape as SimHash: band-bucketed
    * candidate join, full distance verified pair-locally, ids-only
    * distinct.
    */
  def perceptualDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, nBits: Int): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole guarantees recall only for maxDist <= 3")
    require(nBits % 4 == 0 && nBits > 0 && nBits <= 64, s"bad code width $nBits")
    val bandWidth = nBits / 4
    val mask = if (bandWidth == 64) -1L else (1L << bandWidth) - 1
    val h = hashes.where(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("ph"))
    val banded = h.select(col("id"), col("ph"),
      posexplode(transform(
        sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("ph"), b * bandWidth)
          .bitwiseAND(lit(mask)))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bbits"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bbits") === col("b.bbits") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.ph"), col("b.ph")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** Connected components over a near-dup pair list (id_a, id_b) —
    * the clustering step between pair detection and survivor
    * selection: every document in a connected cluster gets the
    * cluster's minimum id as its label (which is also the canonical
    * survivor under min-id survivorship).
    *
    * Iterative min-label propagation over the undirected edge list:
    * each round joins labels across edges and keeps the minimum;
    * converges in O(diameter) rounds (near-dup clusters are shallow —
    * `maxIters` bounds pathological chains). Each round is one
    * shuffle on id — the large-graph-safe shape (this is the standard
    * hash-join CC; no driver-side graph).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    // localCheckpoint (eager) per round: iterative self-referential
    // plans otherwise nest exponentially and blow up analysis.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // Fused first round: label = min(self, direct neighbors) — one
    // aggregation replaces init + one propagation round.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__m"))
      .select(col("id"), least(col("id"), col("__m")).as("label"))
      .localCheckpoint(true)
    // Convergence via the label-sum invariant: min-propagation only
    // ever DECREASES labels, so the label sum is strictly monotone and
    // stalls exactly at convergence. One tiny aggregate on the already-
    // checkpointed round result — no join-and-count job.
    // coalesce: an empty labels frame (no near-dup pairs at all) sums
    // to NULL, and the convergence compare must not NPE on it
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 1
    while (!converged && iter < maxIters) {
      // candidate labels: own label ∪ neighbors' labels, keep min
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"))
      val next = labels.select("id", "label").union(viaEdges)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    labels
  }

  /** Per-document n-gram novelty vs the corpus: for each document,
    * the fraction of its DISTINCT word n-grams that appear in no
    * other document (`novelty`) and the fraction shared by more than
    * `boilerplateFloor` documents (`boilerplate_frac`) — the
    * "is this document new text or recycled text" curation signal
    * that sits between exact dedup (all grams shared) and the pair
    * detectors (which only fire above a similarity threshold).
    *
    * Scale shape: one distinct-(doc, gram) explode, one gram docfreq
    * hash aggregate, one join back on gram, one per-doc aggregate —
    * the q24 postings discipline without the pair join (postings
    * carry doc ids, never text). Gram-less documents report null
    * fractions (no division pole).
    *
    * Output: (idCol, n_grams, n_unique, n_boiler, novelty,
    * boilerplate_frac).
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, boilerplateFloor: Int = 2): DataFrame = {
    require(boilerplateFloor >= 1, s"boilerplateFloor must be ≥ 1: $boilerplateFloor")
    val grams = graft.engine.Tables.fanOut(docs.sparkSession, docs)
      .select(col(idCol).as("id"),
        explode(array_distinct(
          graft.functions.wordShinglesNative(col(textCol), n))).as("g"))
    val df = grams.groupBy("g").agg(count(lit(1)).as("__df"))
    val perDoc = grams.join(df, Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("__df") > boilerplateFloor.toLong, 1L).otherwise(0L))
          .as("n_boiler"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(col("n_grams") > 0,
          col("n_unique").cast("double") / col("n_grams").cast("double"))
          .as("novelty"),
        when(col("n_grams") > 0,
          col("n_boiler").cast("double") / col("n_grams").cast("double"))
          .as("boilerplate_frac"))
  }

  /** Winnowed candidate pairs — the MOSS pairing step over
    * [[graft.ops.TextOps.winnowSelections]] fingerprints: documents
    * sharing ≥ `minShared` distinct selected hashes become candidate
    * near-dup pairs. The winnowing guarantee makes this the
    * bounded-density twin of the exact shingle postings join (q24):
    * any shared run of ≥ w+k−1 words is caught, at ≈ 2/(w+1) the
    * index size — the storage/recall dial for corpus-scale overlap
    * detection.
    *
    * Scale discipline mirrors `ngramJaccardPairs`: fingerprints
    * selected by more than `maxDocFreq` documents are STOP
    * fingerprints (boilerplate — they would contribute
    * C(docfreq, 2) candidate pairs each) and are dropped before the
    * self-join, bounding postings-list blowup; the pair aggregate is
    * the only corpus-sized shuffle.
    *
    * Output: (id_a, id_b, n_shared), id_a < id_b.
    */
  def winnowedPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDocFreq: Int = 50): DataFrame = {
    require(minShared >= 1 && maxDocFreq >= 2,
      s"minShared/maxDocFreq out of range: $minShared/$maxDocFreq")
    Contracts.requireIntegralId(docs, idCol, "winnowedPairs")
    // fanned like every other pair generator (file-count-bound scans
    // must not serialize the per-doc rolling-hash work — r16 profile:
    // the whole selection stage ran on one task of 32)
    val sel = TextOps.winnowSelections(fanned(docs), idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("id"), col("fp"))
      .distinct()
    val rare = sel.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDocFreq)
      .select("fp")
    val kept = sel.join(rare, Seq("fp"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Quality-aware near-dup survivor selection — the Dolma/FineWeb
    * keep-best policy: instead of min-id survivorship, each near-dup
    * cluster keeps its HIGHEST-quality member (ties broken by lowest
    * id). Composes with any pair detector (exact Jaccard, MinHash,
    * SimHash, embedding) via the `pairs` (id_a, id_b) frame.
    *
    * `docs` must carry `idCol` and `quality6Col` — an exact-integer
    * quality key (e.g. `floor(qualityScore·10⁶)` as a long), so the
    * argmax is total-order deterministic and engine-portable (no
    * float-compare ambiguity inside the aggregate).
    *
    * Scale shape: [[connectedComponents]] hash-join label propagation
    * (no driver graph) + one `max_by` hash aggregate over clusters +
    * one join-back. Singletons never enter the CC at all — they label
    * as themselves via the left join, so the iterative part only sees
    * documents that actually have a near-dup edge (a vanishing
    * fraction of a deduped corpus).
    *
    * Output: (idCol, cluster, quality6Col, kept).
    */
  def qualityAwareSurvivors(docs: DataFrame, idCol: String,
      quality6Col: String, pairs: DataFrame): DataFrame = {
    Contracts.requireIntegralId(docs, idCol, "qualityAwareSurvivors")
    val cc = connectedComponents(pairs) // (id, label) — paired docs only
    val labeled = docs
      .select(col(idCol).cast("long").as("id"),
        col(quality6Col).cast("long").as("q6"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster"),
        col("q6"))
    // argmax by (q6 desc, id asc): maximize the (q6, -id) struct —
    // lexicographic struct ordering makes the tiebreak exact
    val survivors = labeled.groupBy("cluster")
      .agg(max_by(col("id"),
        struct(col("q6"), (-col("id")).as("nid"))).as("keep_id"))
    labeled.join(survivors, Seq("cluster"))
      .select(col("id").as(idCol), col("cluster"),
        col("q6").as(quality6Col),
        (col("id") === col("keep_id")).as("kept"))
  }

  /** Edit-distance near-dup pairs: candidate pairs from equality
    * blocking (same `blockCol` value), verified with full Levenshtein.
    * Blocking is the scale guard — edit distance is O(len²) per pair,
    * so candidates must come from a cheap equi-join, never all-pairs.
    * Standard block for text: (lang, length bucket); recall is bounded
    * by the block (near-dups straddling a bucket boundary are missed —
    * callers widen with a second shifted-bucket pass when that
    * matters).
    */
  def editDistancePairs(
      docs: DataFrame, idCol: String, textCol: String, blockCol: Column,
      maxDist: Int): DataFrame = {
    val e = fanned(docs).select(col(idCol).as("id"), col(textCol).as("txt"),
      blockCol.as("blk"), length(col(textCol)).as("len"))
    e.as("a").join(e.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          // |len(a)-len(b)| <= maxDist is a NECESSARY condition for
          // dist <= maxDist: prunes candidates before any DP runs
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        // 3-arg levenshtein: banded DP, O(len·maxDist) with early exit
        // (returns -1 past the threshold) instead of full O(len²)
        levenshtein(col("a.txt"), col("b.txt"), maxDist).as("dist"))
      .where(col("dist") >= 0)
  }

  /** Embedding-cosine near-dup pairs. Exact all-pairs within blocking
    * key `blockCol` (e.g. a label, LSH bucket, or IVF cell) — blocking
    * is what keeps this from being O(n²) at scale; pass a constant
    * column to force true all-pairs on small inputs (and raise or
    * disable the budget accordingly).
    *
    * `maxPairsPerBlock` is the loud-failure guard: a low-cardinality
    * block key silently degenerates to O(n²/k), so before planning the
    * join, one cheap ids-only aggregate checks every block's pair count
    * against the budget and REFUSES (naming the worst blocks) rather
    * than launching a quadratic job. 0 disables the guard.
    *
    * `subBlockApprox = true` degrades gracefully instead of refusing:
    * over-budget blocks are refined by a deterministic IVF cell key
    * (k-means over the offending rows, k sized so an even split lands
    * under budget), and pairs are generated within (block, cell).
    * APPROXIMATE by construction — near-dups straddling a cell
    * boundary are missed (standard recall/cost trade; one refinement
    * level, so pathological duplication can still exceed the budget
    * inside a cell). In-budget blocks stay exact.
    */
  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String, blockCol: Column,
      threshold: Double, maxPairsPerBlock: Long = 100000000L,
      subBlockApprox: Boolean = false): DataFrame = {
    // Native scaled-long dot, not a higher-order-function dot: the
    // pair join is the hot loop, and the native expression is
    // codegen'd where a zip_with+aggregate chain is not. Element values quantize to
    // 1e-6 — irrelevant against any near-dup threshold. The two
    // SELF-dots of the cosine are per-ROW facts, so they (and their
    // sqrt) are computed once map-side before the join — each pair
    // then pays ONE 64-element dot plus a multiply/divide instead of
    // three dots (this is also why no fused three-dot expression is
    // warranted: measured in r7, see NOTES.md). dot/(na·nb) is
    // bit-identical to cosineExact's dot/(sqrt(aa)·sqrt(bb)) — same
    // IEEE ops, the sqrt just moved from per-pair to per-row.
    import graft.functions.decimalDotNative
    // Zero-norm (all elements below the 1e-6 quantum) vectors are
    // excluded MAP-SIDE: their cosine is 0/0 — under ANSI mode a
    // DIVIDE_BY_ZERO job abort, and numerically a NaN that Spark
    // orders above every double, so an unguarded >= threshold would
    // pair every degenerate vector with its whole block and weld real
    // groups together. A vector with no direction is a near-dup of
    // nothing; rows are filtered before the join, costing one
    // self-dot per ROW instead of any per-pair guard.
    val e = fanned(emb).select(col(idCol).as("id"), col(vecCol).as("vec"),
        blockCol.as("blk"))
      .withColumn("__norm", sqrt(decimalDotNative(col("vec"), col("vec"))))
      .where(col("__norm") > 0.0)
    def pairsWithin(src: DataFrame, blkCols: Seq[String]): DataFrame =
      src.as("a").join(src.as("b"),
          blkCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (decimalDotNative(col("a.vec"), col("b.vec")) /
            (col("a.__norm") * col("b.__norm"))).as("cosine"))
        .where(col("cosine") >= threshold)
    if (maxPairsPerBlock <= 0) return pairsWithin(e, Seq("blk"))
    val budget = maxPairsPerBlock.toDouble
    val offenders = e.groupBy(col("blk")).agg(count(lit(1)).as("n"))
      .where(col("n").cast("double") * (col("n") - 1).cast("double") / 2.0 > budget)
      .orderBy(col("n").desc).limit(1001)
      .collect()
    if (offenders.isEmpty) return pairsWithin(e, Seq("blk"))
    if (!subBlockApprox)
      throw new IllegalArgumentException(
        s"embeddingNearDupPairs: block(s) exceed the $maxPairsPerBlock-pair budget: " +
          offenders.take(5).map(r => s"${r.get(0)} (${r.getLong(1)} rows)").mkString(", ") +
          " — use a finer blockCol (LSH bucket / IVF cell), raise" +
          " maxPairsPerBlock, or opt into subBlockApprox")
    require(offenders.length <= 1000,
      "embeddingNearDupPairs: >1000 over-budget blocks — the block key is" +
        " not doing its job; choose a finer blockCol instead of sub-blocking")
    val offKeys = offenders.map(_.get(0)).toSeq
    val worst = offenders.map(_.getLong(1)).max
    // cell size target m with m(m-1)/2 ≤ budget ⇒ m ≈ sqrt(2·budget)
    val k = math.min(64, math.max(2,
      math.ceil(worst / math.sqrt(2.0 * budget)).toInt))
    val isOff = col("blk").isin(offKeys: _*)
    val ok = e.where(coalesce(!isOff, lit(true))) // null-key rows never pair anyway
    val off = e.where(isOff)
    val cents = Similarity.trainIvfCentroids(off, "id", "vec", k, iters = 2)
    val okPairs = pairsWithin(ok, Seq("blk"))
    val offPairs = pairsWithin(
      off.withColumn("cell", Similarity.assignCell(col("vec"), cents)),
      Seq("blk", "cell"))
    okPairs.unionByName(offPairs)
  }

  /** The intermediate frames of [[semanticDedupParts]], for contract
    * verification (q73 counts witnesses and conservation from the
    * SAME pair list the dedup decision used — the operator itself is
    * what the oracle exercises, not a reimplementation).
    */
  case class SemanticDedupParts(
      pairs: DataFrame, dropped: DataFrame, kept: DataFrame)

  /** Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the
    * deterministic k-means quantizer, find within-cluster pairs with
    * cosine ≥ `threshold`, connect them into duplicate groups, keep
    * the min-id survivor per group. `kept` holds the KEPT rows of
    * `emb` (survivors + unpaired singletons) unchanged; `pairs` and
    * `dropped` are the internals the decision used.
    *
    * 100 TB shape: the pair search is CELL-BLOCKED (never corpus
    * all-pairs), clustering state is nCells·dim driver-side doubles,
    * and the group labeling is the same hash-join connected components
    * as the text-dedup path. Approximate by construction: a near-dup
    * pair straddling a Voronoi boundary is missed (SemDeDup's own
    * trade — ε-dedup within clusters). On real embedding models the
    * threshold sits near 0.95+; calibrate per corpus.
    *
    * The pair list is eagerly checkpointed: connected components and
    * any caller-side contract arms would otherwise each re-run the
    * within-cell cosine join. `subBlockApprox = true` by default: an
    * over-budget Voronoi cell refines into sub-cells instead of
    * aborting — at corpus scale a skewed cell past the pair budget is
    * routine, not exceptional.
    */
  def semanticDedupParts(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int, iters: Int = 3,
      maxPairsPerBlock: Long = 100000000L,
      subBlockApprox: Boolean = true): SemanticDedupParts = {
    val cents = Similarity.trainIvfCentroids(emb, idCol, vecCol, nCells, iters)
    if (cents.isEmpty) // empty corpus: nothing to cluster, keep all (zero) rows
      return SemanticDedupParts(
        pairs = emb.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
          lit(0.0).as("cosine")).limit(0),
        dropped = emb.select(col(idCol)).limit(0),
        kept = emb)
    val assigned = Similarity.ivfAssign(emb, vecCol, cents)
    val pairs = embeddingNearDupPairs(assigned, idCol, vecCol, col("cell"),
      threshold, maxPairsPerBlock, subBlockApprox).localCheckpoint(true)
    val dropped = connectedComponents(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    SemanticDedupParts(pairs, dropped, emb.join(dropped, Seq(idCol), "left_anti"))
  }
}
