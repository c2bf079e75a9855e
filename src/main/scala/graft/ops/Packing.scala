package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: batch documents into fixed token-budget training
  * sequences — the step between a curated corpus and an LLM data
  * loader.
  *
  * Greedy next-fit packing is inherently sequential (each decision
  * depends on the running fill), so the distributed contract is
  * pack-WITHIN-partition: each partition packs its own documents into
  * its own sequences (ids prefixed by partition), sequences never
  * cross partitions. That is the contract every large-scale packer
  * uses — global bin packing is NP-hard and needless: with millions of
  * docs per partition the per-partition fill converges to the global
  * one.
  *
  * Deterministic given the input partitioning+order; pair with
  * `repartitionByRange(sortCol)` upstream for a reproducible layout.
  */
object Packing {

  case class Packed(doc_id: Long, n_tokens: Long, seq_id: Long, seq_pos: Int)

  /** All packers key rows by a LONG id: the shared reject-loudly
    * contract ([[Contracts.requireIntegralId]], same check rankTopK
    * and the pair ops apply).
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit =
    Contracts.requireIntegralId(df, idCol, "Packing")

  /** Assign each doc a (seq_id, seq_pos): next-fit greedy per
    * partition. A doc larger than `budget` gets a sequence of its own
    * (callers chunk oversized docs upstream if that matters).
    * seq_id = partitionId * 2^40 + local counter (collision-free
    * for < 10^12 sequences per partition).
    */
  def packGreedy(docs: DataFrame, idCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0)
    requireIntegralId(docs, idCol)
    val src = docs.select(col(idCol).cast("long"), col(tokensCol).cast("long"))
    src.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var seq = 0L; var fill = 0L; var pos = 0
      rows.map { r =>
        val id = r.getLong(0); val n = r.getLong(1)
        if (fill > 0 && fill + n > budget) { seq += 1; fill = 0; pos = 0 }
        fill += n
        val out = Packed(id, n, (pid << 40) | seq, pos)
        pos += 1
        out
      }
    }(Encoders.product[Packed]).toDF()
  }

  /** Chunk-oversized pre-stage: split every document whose token count
    * exceeds `budget` into `ceil(n/budget)` chunks of ≤ budget tokens
    * (last chunk carries the remainder; a 0-token doc keeps one empty
    * chunk). Pure expression-level explode — no UDF, no shuffle. After
    * this stage EVERY row fits the budget, so a downstream packer can
    * guarantee no sequence ever exceeds it.
    *
    * Output: (doc_id, chunk, n_tokens) — `chunk` is the 0-based index
    * within the source document. Callers composing the pair into one
    * long key (`doc_id * 2^32 + chunk`) must keep doc_id < 2^31: wider
    * ids (e.g. xxhash64 of a string id) overflow the shift and collide
    * on their low 32 bits — use dense_rank/monotonically_increasing_id
    * ids, or keep (doc_id, chunk) as a two-column key.
    */
  def chunkOversized(docs: DataFrame, idCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0)
    requireIntegralId(docs, idCol)
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(tokensCol).cast("long").as("__n"))
      .withColumn("__k",
        greatest(lit(1L), expr(s"(__n + ${budget - 1}) div $budget")))
      .select(col("doc_id"), col("__n"),
        explode(sequence(lit(0L), col("__k") - 1)).as("chunk"))
      .select(col("doc_id"), col("chunk").cast("int").as("chunk"),
        least(lit(budget), col("__n") - col("chunk") * budget).as("n_tokens"))
  }

  /** Sliding-window chunking with overlap — the RAG/embedding-corpus
    * preparation step ([[chunkOversized]] is the disjoint token-BUDGET
    * variant; this one materializes overlapping TEXT windows so no
    * semantic span is cut at a hard boundary): windows of `size`
    * tokens starting every `stride` tokens (overlap = size − stride),
    * the final window short if the document runs out. A document with
    * fewer than `size` tokens (including zero) yields exactly one
    * chunk — corpus membership is preserved.
    *
    * Deterministic closed form (fully oracle-replayable):
    * nChunks = 1 if len ≤ size else ⌈(len − size)/stride⌉ + 1;
    * chunk i covers tokens [i·stride + 1, min(i·stride + size, len)].
    * Map-side explode only — the bounded ≤ size/stride× row expansion,
    * no shuffle.
    */
  def chunkSliding(docs: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    graft.engine.Tables.fanOut(docs.sparkSession, docs)
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("w"))
      .withColumn("__len", org.apache.spark.sql.functions.size(col("w")).cast("long"))
      .withColumn("__nc", when(col("__len") <= size, lit(1L))
        .otherwise(expr(s"(__len - $size + ${stride - 1}) div $stride + 1")))
      .select(col("doc_id"), col("w"), col("__len"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("i"))
      .select(col("doc_id"), col("i").cast("int").as("chunk_idx"),
        array_join(slice(col("w"), (col("i") * stride + 1).cast("int"),
          lit(size)), " ").as("chunk_text"),
        least(lit(size.toLong), col("__len") - col("i") * stride)
          .as("n_tokens"))
  }

  /** Sentence-aware sliding chunks — [[chunkSliding]] with RAG-grade
    * boundary snapping: each truncated window's END is pulled back to
    * the LAST sentence-terminal token inside its final `tolerance`
    * tokens, when one exists, so chunks end on sentence boundaries
    * instead of mid-sentence. A window with no boundary in the
    * tolerance zone keeps its nominal end (the no-sentence-break
    * fallback — never an empty or dropped chunk), and the FINAL
    * window of a document never snaps (its tail tokens appear in no
    * later chunk; snapping would silently lose them).
    *
    * Coverage law: `tolerance ≤ size − stride` is REQUIRED — then any
    * token dropped from chunk i's snapped tail lies at offset
    * ≥ i·stride + size − tolerance + 1 ≥ (i+1)·stride + 1, inside
    * chunk i+1's window, so the chunk set still covers every token.
    *
    * A token is sentence-terminal iff its last character is in
    * `sentenceEndChars` (default `.!?`) — deterministic and
    * oracle-replayable (`right(tok, 1) IN (...)` on both engines).
    * The char set parameterizes the operator (the q97 convention);
    * corpora tokenized without punctuation can designate any marker
    * set.
    *
    * Closed form per (doc, chunk) — no sequential dependence between
    * chunks (starts stay on the stride grid; only ends snap), which
    * is both what keeps it ORACLE-rebuildable without recursion and
    * what keeps it a pure map-side explode at scale.
    *
    * Output: (doc_id, chunk_idx, start_tok, end_tok, n_tokens,
    * chunk_text, snapped), token positions 1-based inclusive.
    */
  def chunkSentenceAware(docs: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int, tolerance: Int,
      sentenceEndChars: Seq[Char] = Seq('.', '!', '?')): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    require(tolerance >= 0 && tolerance <= size - stride,
      s"need 0 <= tolerance <= size - stride for token coverage, " +
        s"got tolerance=$tolerance size=$size stride=$stride")
    require(sentenceEndChars.nonEmpty && sentenceEndChars.forall(c => c != '\''),
      "sentenceEndChars must be non-empty, quote-free")
    val inList = sentenceEndChars.map(c => s"'$c'").mkString(", ")
    val base = graft.engine.Tables.fanOut(docs.sparkSession, docs)
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("w"))
      .withColumn("__len", org.apache.spark.sql.functions.size(col("w")).cast("long"))
      .withColumn("__nc", when(col("__len") <= size, lit(1L))
        .otherwise(expr(s"(__len - $size + ${stride - 1}) div $stride + 1")))
      .select(col("doc_id"), col("w"), col("__len"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("i"))
      .withColumn("__s", col("i") * stride)
      .withColumn("__enom", least(col("__len"), col("__s") + size))
    val snapped =
      if (tolerance == 0) base.withColumn("__snap", lit(null).cast("long"))
      else base.withColumn("__snap",
        // only truncated windows snap (final window keeps its tail);
        // positions are ≥ __s + 1 ≥ 1, the sequence always ascends
        when(col("__enom") < col("__len"), expr(
          s"""array_max(filter(
             |  sequence(greatest(__s + 1, __enom - $tolerance + 1), __enom),
             |  j -> right(element_at(w, CAST(j AS INT)), 1) IN ($inList)))""".stripMargin)))
    snapped
      .withColumn("__e", coalesce(col("__snap"), col("__enom")))
      .select(col("doc_id"), col("i").cast("int").as("chunk_idx"),
        (col("__s") + 1).as("start_tok"), col("__e").as("end_tok"),
        (col("__e") - col("__s")).as("n_tokens"),
        array_join(slice(col("w"), (col("__s") + 1).cast("int"),
          (col("__e") - col("__s")).cast("int")), " ").as("chunk_text"),
        col("__snap").isNotNull.as("snapped"))
  }

  /** Fill-targeted packing: best-fit-decreasing WITHIN partition.
    * Docs are sorted descending by size inside each partition, then
    * each doc lands in the open sequence with the TIGHTEST remaining
    * gap that still fits (TreeMap ceiling lookup — O(log bins) per
    * doc, deterministic). Compared to next-fit this closes the
    * fragmentation gap (classical bound 11/9·OPT vs 2·OPT) at the cost
    * of holding open-bin state (16 bytes per sequence) for the
    * partition — bounded, since sequences ≈ partition tokens / budget.
    * Same distributed contract as [[packGreedy]]: sequences never
    * cross partitions, ids are partition-prefixed.
    *
    * A doc larger than `budget` still gets a sequence of its own —
    * run [[chunkOversized]] first to guarantee zero overflow.
    */
  def packBestFitDecreasing(docs: DataFrame, idCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0)
    requireIntegralId(docs, idCol)
    val src = docs
      .select(col(idCol).cast("long").as("__id"), col(tokensCol).cast("long").as("__n"))
      .sortWithinPartitions(col("__n").desc, col("__id"))
    src.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var nextSeq = 0L
      // remaining gap -> LIFO of open sequence ids at that gap
      val byGap = new java.util.TreeMap[Long, java.util.ArrayDeque[Long]]()
      val nextPos = scala.collection.mutable.LongMap.empty[Int]
      rows.map { r =>
        val id = r.getLong(0); val n = r.getLong(1)
        val entry = byGap.ceilingEntry(n) // tightest open gap that fits
        val (seq, gap) =
          if (entry == null) { val s = nextSeq; nextSeq += 1; (s, budget) }
          else {
            val q = entry.getValue
            val s = q.pop()
            if (q.isEmpty) byGap.remove(entry.getKey)
            (s, entry.getKey)
          }
        val remaining = gap - n
        if (remaining > 0)
          byGap.computeIfAbsent(remaining, _ => new java.util.ArrayDeque[Long]()).push(seq)
        val pos = nextPos.getOrElse(seq, 0)
        nextPos(seq) = pos + 1
        Packed(id, n, (pid << 40) | seq, pos)
      }
    }(Encoders.product[Packed]).toDF()
  }

  /** GPT-style token-stream layout: documents laid end-to-end in
    * `idCol` order form ONE contiguous token stream; doc i occupies
    * [start_offset, start_offset + n_tokens). The stream is then cut
    * into fixed `window`-token training sequences, so a doc's tokens
    * land in windows `start_offset/window .. (start+n-1)/window` —
    * this is the boundary-crossing packing (docs split mid-window,
    * zero padding) that next-fit packing (`packGreedy`) trades away.
    *
    * The global offsets are the scalable exclusive prefix sum
    * ([[ScalableWindows.prefixSumByBucket]]) — arithmetic-bucketed
    * partitioned windows, never a single-partition WindowExec, so the
    * layout of a 10¹²-doc corpus is two scans and one bounded driver
    * scan of bucket totals. Deterministic: the order is total (unique
    * ids enforced), the bucketing is pure arithmetic.
    *
    * Output: (doc_id, n_tokens, start_offset, first_window,
    * last_window) — window columns NULL for empty (0-token) docs,
    * which occupy no stream positions.
    *
    * `base` is the incremental-ingest hook: a new batch appended to an
    * existing stream passes the stream's current total token count and
    * its docs continue from that offset — layout(batch1) ++
    * layout(batch2, base = tokens(batch1)) is bit-identical to laying
    * out the concatenation in one pass (spec-pinned), so a periodic
    * ingest job never re-lays-out the corpus.
    */
  def tokenStreamOffsets(docs: DataFrame, idCol: String, tokensCol: String,
      window: Long, nBuckets: Int = 1024, base: Long = 0L): DataFrame = {
    require(window > 0, s"tokenStreamOffsets: window=$window")
    require(base >= 0L, s"tokenStreamOffsets: base=$base")
    requireIntegralId(docs, idCol)
    val src = docs.select(col(idCol).cast("long").as("doc_id"),
      col(tokensCol).cast("long").as("n_tokens"))
    ScalableWindows.prefixSumByBucket(
        src, "doc_id", "n_tokens", "start_offset", nBuckets)
      .withColumn("start_offset", col("start_offset") + lit(base))
      .withColumn("first_window",
        when(col("n_tokens") > 0, expr(s"start_offset div ${window}L")))
      .withColumn("last_window",
        when(col("n_tokens") > 0,
          expr(s"(start_offset + n_tokens - 1) div ${window}L")))
  }

  /** Per-(window, doc) training manifest over [[tokenStreamOffsets]]
    * output: which slice of which doc fills each fixed-size window —
    * exactly what a data loader needs to materialize sequence
    * `window_id`. `slice_start` is the 0-based token position WITHIN
    * the doc where the window's slice begins; `tokens_in_window` its
    * length. Bounded map-side explode: a doc spans
    * ceil(n_tokens/window)+1 windows at most, so blowup is ~1 + 1/fill
    * rows per doc — no shuffle at all (the window id rides the
    * arithmetic, not a join).
    */
  def windowManifest(offsets: DataFrame, window: Long): DataFrame = {
    require(window > 0, s"windowManifest: window=$window")
    offsets.where(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        explode(sequence(col("first_window"), col("last_window")))
          .as("window_id"))
      .select(
        col("window_id"),
        col("doc_id"),
        (greatest(col("window_id") * window, col("start_offset")) -
          col("start_offset")).as("slice_start"),
        (least((col("window_id") + 1) * window,
            col("start_offset") + col("n_tokens")) -
          greatest(col("window_id") * window, col("start_offset")))
          .as("tokens_in_window"))
  }

  /** Rehydrate manifest rows into training-batch TEXT: each
    * (window, doc) manifest row pulls its token slice out of the
    * document body — the loader READ path that turns the layout
    * arithmetic back into model input. The manifest (tiny rows) joins
    * the corpus on doc_id — an equi-join Catalyst plans as
    * hash/broadcast by size; document text crosses the wire once per
    * participating doc slice, and the slice itself is one
    * `slice`+`array_join` over that doc's own tokens (map-side).
    * Filter the manifest to a shard's window range BEFORE calling
    * (predicate pushdown keeps unneeded docs out of the join).
    *
    * Output: manifest columns + `text_slice` (space-joined tokens of
    * the slice — the whitespace-token inverse of
    * [[graft.ops.TextOps.tokens]]).
    *
    * CONTRACT: the manifest's `n_tokens` basis must be the SAME
    * whitespace tokenization this slices by ([[TextOps.tokenCount]]) —
    * a manifest built on a different counter (e.g.
    * [[TextOps.bpeishTokenCount]]) would slice at wrong positions.
    */
  def rehydrateWindows(manifest: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    manifest.join(
        docs.select(col(idCol).cast("long").as("doc_id"),
          TextOps.tokens(col(textCol)).as("__w")),
        Seq("doc_id"))
      .select(col("window_id"), col("doc_id"), col("slice_start"),
        col("tokens_in_window"),
        array_join(slice(col("__w"), (col("slice_start") + 1).cast("int"),
          col("tokens_in_window").cast("int")), " ").as("text_slice"))

  /** Length-bucketed batch assembly — the padding-efficiency shape for
    * VARIABLE-length training (SFT/eval batches padded to the batch
    * max, unlike the packed token stream): docs sorted by token count
    * land in fixed-size batches of near-equal lengths, so the
    * `batch_size · max_len` cost hugs the true token mass instead of
    * paying every batch's worst doc. Ties (and equal lengths) break by
    * doc id — fully deterministic.
    *
    * Scale: the global (n_tokens, doc_id) order rides
    * [[ScalableWindows.prefixSumByBucket]] over a composite long key —
    * the two-phase bucketed prefix sum, NO single-partition window.
    * One bounds aggregate guards the key composition (`n_tokens ·
    * (maxId+1) + doc_id` must fit a long — rejected loudly, never
    * wrapped).
    *
    * Output: (doc_id, n_tokens, batch_id), batch_id 0-based in length
    * order; the tail batch may be short.
    */
  def lengthBucketedBatches(docs: DataFrame, idCol: String,
      tokensCol: String, batchSize: Int, nBuckets: Int = 1024): DataFrame = {
    require(batchSize >= 1, s"lengthBucketedBatches: batchSize=$batchSize")
    requireIntegralId(docs, idCol)
    val src = docs.select(col(idCol).cast("long").as("doc_id"),
      col(tokensCol).cast("long").as("n_tokens"))
    val b = src.agg(max(col("doc_id")), max(col("n_tokens")),
      count(lit(1)), min(col("doc_id")), min(col("n_tokens"))).head()
    if (b.getLong(2) == 0L)
      return src.withColumn("batch_id", lit(0L)).where(lit(false))
    val (maxId, maxTok) = (b.getLong(0), b.getLong(1))
    // negatives corrupt the composite key's ORDER, not just its range
    // (a negative id shifts a long doc below a short one) — reject
    // loudly; hash-derived ids are frequently negative longs, so this
    // fires in practice, not just in theory (r11 review finding)
    require(b.getLong(3) >= 0L && b.getLong(4) >= 0L,
      s"lengthBucketedBatches: doc ids and token counts must be " +
        s"non-negative (minId=${b.getLong(3)}, minTokens=${b.getLong(4)}) " +
        "— dense-rank hash ids upstream")
    require(maxTok == 0L || maxTok <= (Long.MaxValue - maxId) / (maxId + 1L),
      s"lengthBucketedBatches: composite sort key n_tokens*(maxId+1)+doc_id " +
        s"overflows a long (maxId=$maxId, maxTokens=$maxTok)")
    val keyed = src
      .withColumn("__k", col("n_tokens") * lit(maxId + 1L) + col("doc_id"))
      .withColumn("__one", lit(1L))
    ScalableWindows.prefixSumByBucket(keyed, "__k", "__one", "__rank",
        nBuckets)
      .withColumn("batch_id", expr(s"__rank div ${batchSize}L"))
      .select(col("doc_id"), col("n_tokens"), col("batch_id"))
  }

  /** Block-diagonal attention segments per training window: each
    * (window, doc) slice gets its 0-based start WITHIN the window and
    * a 1-based segment index in stream order — the boundary/reset
    * positions a trainer needs so attention cannot leak across packed
    * documents (EOD-reset / block-diagonal masks over a GPT-style
    * token stream). Derivable purely from the manifest: within a
    * window the slices are contiguous in stream order, so a segment's
    * start is the window-local running sum of the preceding slice
    * lengths — taken in that SAME stream order.
    *
    * PRECONDITION (contract, not detectable from the manifest alone):
    * `orderCol` must sort each window's rows into the order the
    * slices physically occupy the token stream. The default,
    * ascending `doc_id`, is exactly [[tokenStreamOffsets]]'s layout
    * law (its prefix sum runs in doc-id order). A STREAMING layout
    * ([[streaming.Replay]]'s mod-partitioned batches) appends in
    * arrival order, which is NOT doc-id order across batches — for
    * such manifests pass the column that carries stream position
    * (e.g. the batch-composite offset), or the segments of a window
    * straddling a batch boundary get silently wrong
    * seg_start/seg_idx. The per-window tiling invariant
    * (seg_start(i+1) = seg_start(i) + seg_len(i), first start 0)
    * holds by construction for ANY total order, so it cannot catch a
    * wrong `orderCol` — only the caller knows the stream order.
    *
    * Scale: the only window function partitions BY window_id over
    * that window's own manifest rows (≤ docs-per-window — bounded by
    * the window size, never corpus rows); no global sort, no join.
    *
    * Output: (window_id, seg_idx, doc_id, seg_start, seg_len);
    * seg_start of seg_idx 1 is always 0, and per window the segments
    * tile [0, window) exactly (stream tail excepted) — both
    * spec-pinned.
    */
  def windowSegments(manifest: DataFrame,
      orderCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("window_id")).orderBy(col(orderCol))
    manifest
      .select((Seq("window_id", "doc_id", "tokens_in_window", orderCol)
        .distinct).map(col): _*)
      .select(
        col("window_id"),
        row_number().over(w).cast("int").as("seg_idx"),
        col("doc_id"),
        coalesce(sum(col("tokens_in_window"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("seg_start"),
        col("tokens_in_window").as("seg_len"))
  }

  /** Contiguous multi-worker shard assignment over a [[windowManifest]]:
    * worker `s` owns windows `[s·span, (s+1)·span)` with
    * `span = ceil(W / nShards)` and `W = max window id + 1` — each
    * worker reads a CONTIGUOUS range of the stored token stream
    * (sequential IO, the layout every multi-GPU data loader wants),
    * every shard holds exactly `span` windows except the last (which
    * holds the 1..span tail — the ceil-span contiguous law), and
    * token mass is conserved exactly. Assignment is pure
    * arithmetic on the window id — no join, no sort; `W` rides a
    * 1-row broadcast.
    *
    * `n_windows` comes from the dense range (every window in [0, W)
    * holds ≥ 1 manifest row: interior windows are exactly full by the
    * [[tokenStreamOffsets]] layout law, and the final window holds the
    * tail), so no count-distinct Expand rides the aggregate.
    *
    * Output: (shard, first_window, last_window, n_windows, token_mass,
    * n_doc_slices), one row per NON-EMPTY shard (trailing shards past
    * the window count simply don't appear).
    */
  /** ONE home for the ceil-span shard-assignment law: rows tagged with
    * `shard = window_id div ceil(w_total / nShards)` given a
    * `__w_total` column (empty manifest → null total → zero rows).
    * [[shardManifest]] and [[shardChecksums]]/[[verifyShards]] BOTH
    * ride this — loader sharding and integrity sharding cannot drift
    * apart (r11 review finding).
    */
  private def assignShard(withTotal: DataFrame, nShards: Int): DataFrame =
    withTotal
      .where(col("__w_total").isNotNull)
      .withColumn("shard",
        expr(s"window_id div ((__w_total + ${nShards}L - 1) div ${nShards}L)"))

  def shardManifest(manifest: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1 && nShards <= (1 << 20),
      s"shardManifest: nShards=$nShards")
    val bounds = manifest.agg((max(col("window_id")) + 1L).as("__w_total"))
    assignShard(manifest.crossJoin(broadcast(bounds)), nShards)
      .groupBy("shard")
      .agg(min(col("window_id")).as("first_window"),
        max(col("window_id")).as("last_window"),
        (max(col("window_id")) - min(col("window_id")) + 1L).as("n_windows"),
        sum(col("tokens_in_window")).as("token_mass"),
        count(lit(1)).as("n_doc_slices"))
  }

  /** Content checksum: per-row signature
    * sig = ((rowkey + 1) · (len + 1)) mod 1,000,003 with
    * rowkey = ((w·8191 + doc)·8191 + start) step-wise mod, summed per
    * shard — EXACT integer arithmetic any engine reproduces (the
    * [[graft.expressions.TokenBuckets]] portability discipline;
    * xxhash64 has no portable twin). Order-independent by construction
    * (a sum), which is what a distributed recompute needs. The length
    * MULTIPLIES the row identity rather than adding to it: a linear
    * len term has a constant coefficient, so a mass-preserving
    * redistribution (+1 here, −1 there) cancels in the sum and the
    * corruption class integrity checking most needs to catch — token
    * mass intact, lengths wrong — passes silently (caught by the
    * spec's swap arm, r11). With the product form that delta is
    * (rowkeyA − rowkeyB) mod M — nonzero unless the row keys collide
    * mod M (~10⁻⁶, the standard integrity-hash trade). Each sig < M,
    * products ≤ M² ≪ 2⁶³, the shard sum stays exact below ~9·10¹²
    * rows per shard.
    */
  private val ChecksumMod = 1000003L
  private def rowSig: org.apache.spark.sql.Column = expr(
    s"""(((((window_id % ${ChecksumMod}L) * 8191 + doc_id % ${ChecksumMod}L)
       |  % ${ChecksumMod}L * 8191 + slice_start % ${ChecksumMod}L)
       |  % ${ChecksumMod}L + 1) * (tokens_in_window % ${ChecksumMod}L + 1))
       |  % ${ChecksumMod}L""".stripMargin.replace("\n", " "))

  /** Per-shard integrity manifest over the loader assignment: the
    * shard stats of [[shardManifest]] plus a portable content
    * checksum over the shard's (window, doc, start, len) rows. Write
    * it NEXT TO the published layout; the loader calls
    * [[verifyShards]] against it before training — a flipped byte, a
    * truncated file, or a re-laid stream surfaces as a per-shard
    * mismatch instead of a silently-wrong training run.
    */
  def shardChecksums(manifest: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1 && nShards <= (1 << 20),
      s"shardChecksums: nShards=$nShards")
    val bounds = manifest.agg((max(col("window_id")) + 1L).as("__w_total"))
    checksumsWithTotal(manifest.crossJoin(broadcast(bounds)), nShards)
  }

  private def checksumsWithTotal(withTotal: DataFrame,
      nShards: Int): DataFrame =
    assignShard(withTotal, nShards)
      .groupBy("shard")
      .agg(min(col("window_id")).as("first_window"),
        max(col("window_id")).as("last_window"),
        count(lit(1)).as("n_doc_slices"),
        sum(col("tokens_in_window")).as("token_mass"),
        sum(rowSig).as("checksum"))

  /** Loader-side verification: recompute the checksums over the
    * manifest actually read and compare shard-for-shard against the
    * expected integrity manifest. The shard GEOMETRY comes from the
    * EXPECTED side (its top shard carries the original stream's last
    * window), never from the data under test — a truncated read must
    * surface as missing/short shards, not silently re-bucket the
    * surviving windows into a smaller stream's geometry. Output: one
    * row per shard on either side, `ok` = all three facts match; a
    * shard missing from one side reports ok = false (a lost shard IS
    * corruption). The join is nShards rows a side — driver-free and
    * trivially broadcast.
    */
  def verifyShards(manifest: DataFrame, nShards: Int,
      expected: DataFrame): DataFrame = {
    // recover w_total from the expected manifest: the top shard's
    // window range ends at the original stream's last window. An
    // EMPTY expected manifest is refused loudly, not compared: a null
    // total would filter out every actual row and the gate's
    // `where(!ok).count == 0` check would VACUOUSLY pass — a missing
    // integrity manifest must never read as a clean verification
    // (r11 review finding). Bounded: a 1-row aggregate.
    val expTotalRow = expected
      .agg((max(col("last_window")) + 1L).as("__w_total")).head()
    require(!expTotalRow.isNullAt(0),
      "verifyShards: the expected integrity manifest is empty — refusing " +
        "to verify against nothing (a lost manifest is not a clean pass)")
    val expTotal = expected.sparkSession.range(1)
      .select(lit(expTotalRow.getLong(0)).as("__w_total"))
    val actual = checksumsWithTotal(
        manifest.crossJoin(broadcast(expTotal)), nShards)
      .select(col("shard"), col("n_doc_slices").as("actual_slices"),
        col("token_mass").as("actual_mass"),
        col("checksum").as("actual_checksum"))
    expected
      .select(col("shard"), col("n_doc_slices").as("expected_slices"),
        col("token_mass").as("expected_mass"),
        col("checksum").as("expected_checksum"))
      .join(actual, Seq("shard"), "full_outer")
      .select(col("shard"),
        col("expected_slices"), col("actual_slices"),
        col("expected_mass"), col("actual_mass"),
        col("expected_checksum"), col("actual_checksum"),
        (col("expected_slices") <=> col("actual_slices") &&
          col("expected_mass") <=> col("actual_mass") &&
          col("expected_checksum") <=> col("actual_checksum")).as("ok"))
  }
}
