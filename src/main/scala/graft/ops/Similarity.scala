package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.cosineExact

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  * - `bruteForceTopK` — exact cosine top-k, O(|Q|·|C|). Correct baseline;
  *   fine when |Q| is small (the query side broadcasts) — at 100 TB the
  *   corpus side stays partitioned and never shuffles.
  * - `lshTopK` / `ivfTopK` — the scale path: candidates restricted to
  *   matching random-hyperplane LSH buckets (or coarse IVF cells), so the
  *   join is bucket-colocated instead of a cross product.
  *
  * All hash "randomness" is derived deterministically from xxhash64 of
  * (plane, dim) — no RNG, reproducible across runs and engines.
  */
object Similarity {

  /** k-bounded ranking: (query_id, neighbor_id, sim) triples →
    * per-query top-k with rank. Null similarities (e.g. null/empty
    * vectors) are EXCLUDED from ranking.
    *
    * Integral neighbor ids take the partial-aggregating TopK operator:
    * map-side partial aggregation trims every partition's contribution
    * to k rows per query BEFORE the shuffle, and nothing is ever
    * sorted group-wide — the ranking shape that survives a
    * corpus-scale candidate list. Non-integral ids (string/uuid keys)
    * fall back to the type-generic row_number window rather than
    * silently null-casting the id into the aggregator.
    */
  def rankTopK(scored: DataFrame, k: Int, simName: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // NaN excluded alongside NULL: Spark's SQL ordering (the window
    // fallback) sorts NaN ABOVE every real number, so one NaN score
    // (e.g. a ±Inf element surviving a double sim) would otherwise
    // outrank every true neighbor; the aggregator path would instead
    // sort it last — filtering makes both paths agree and robust.
    val nonNull = scored.where(col(simName).isNotNull && !isnan(col(simName)))
    val idType = scored.schema("neighbor_id").dataType
    if (Seq(ByteType, ShortType, IntegerType, LongType).contains(idType))
      nonNull
        .groupBy(col("query_id"))
        .agg(TopK.topK(k)(col(simName).cast("double"), col("neighbor_id")).as("__topk"))
        .select(col("query_id"), posexplode(col("__topk")))
        .select(col("query_id"), col("col.key").cast(idType).as("neighbor_id"),
          col("col.value").as(simName), (col("pos") + 1).cast("int").as("rank"))
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col(simName).desc, col("neighbor_id"))
      // same output contract as the TopK path: exactly these four
      // columns, extra input columns dropped
      nonNull.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"),
          col(simName).cast("double").as(simName), col("rank"))
    }
  }

  /** [[rankTopK]] for candidate streams that may carry DUPLICATE
    * (query_id, neighbor_id) rows with identical scores (multi-probe
    * cell co-membership, crash-window mixed generations): dedup runs
    * INSIDE the TopK aggregation buffer instead of as a separate
    * dropDuplicates ahead of the ranking — one exchange instead of
    * two, and the shuffle carries ≤ k rows per group per partition
    * rather than the whole candidate set (guide §2.3/§2.4). The
    * window fallback (non-integral ids) keeps the explicit dedup:
    * row_number has no distinct-key form.
    */
  def rankTopKDistinct(scored: DataFrame, k: Int, simName: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val nonNull = scored.where(col(simName).isNotNull && !isnan(col(simName)))
    val idType = scored.schema("neighbor_id").dataType
    if (Seq(ByteType, ShortType, IntegerType, LongType).contains(idType))
      nonNull
        .groupBy(col("query_id"))
        .agg(TopK.topKDistinct(k)(col(simName).cast("double"),
          col("neighbor_id")).as("__topk"))
        .select(col("query_id"), posexplode(col("__topk")))
        .select(col("query_id"), col("col.key").cast(idType).as("neighbor_id"),
          col("col.value").as(simName), (col("pos") + 1).cast("int").as("rank"))
    else
      rankTopK(nonNull.dropDuplicates("query_id", "neighbor_id"), k, simName)
  }

  /** Exact cosine top-k: for each query vector, the k corpus neighbors
    * by descending cosine, tiebroken by corpus id (deterministic).
    * Query side is broadcast; ranking is the bounded TopK aggregate.
    */
  /** Stable reference for [[bruteForceTopK]]'s default similarity —
    * lets the implementation recognize "default cosine" and take the
    * per-row-norm fast path (bit-identical; a caller-supplied simFn is
    * opaque, so norms cannot be hoisted out of it).
    */
  private val DefaultCosine: (Column, Column) => Column = cosineExact(_, _)

  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true,
      simFn: (Column, Column) => Column = DefaultCosine,
      simName: String = "cosine"): DataFrame = {
    // fan the STREAMED side: a one-file corpus scan otherwise runs the
    // whole queries×corpus pair loop on one task (r16 profile); the
    // fanOut guard makes this a no-op on scans that are already wide,
    // so no extra shuffle at scale
    val corpusW = graft.engine.Tables.fanOut(corpus.sparkSession, corpus)
    if (simFn eq DefaultCosine) {
      // default-cosine fast path: self-dot norms are per-ROW facts,
      // hoisted map-side so the queries×corpus pair loop pays ONE dot
      // + multiply/divide instead of three dots — bit-identical
      // ([[graft.functions.cosinePreNormed]])
      import graft.functions.{cosinePreNormed, vecNormExact}
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("__qn", vecNormExact(col("qv")))
      val c = corpusW.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
        .withColumn("__nn", vecNormExact(col("cv")))
      val joined = c.join(broadcast(q),
        if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      rankTopK(
        joined.select(col("query_id"), col("neighbor_id"),
          cosinePreNormed(col("qv"), col("cv"),
            col("__qn"), col("__nn")).as(simName)),
        k, simName)
    } else {
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      val c = corpusW.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      val joined = c.join(broadcast(q),
        if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      rankTopK(
        joined.select(col("query_id"), col("neighbor_id"),
          simFn(col("qv"), col("cv")).as(simName)),
        k, simName)
    }
  }

  /** Hard-negative mining for embedding/metric training: for each
    * anchor, the `k` NEAREST vectors whose label DIFFERS — the
    * almost-positives a contrastive loss learns the most from. The
    * label predicate filters the candidate pairs BEFORE the k-bounded
    * ranking (the pre-filter discipline: post-filtering a plain top-k
    * starves anchors whose neighborhoods are same-label, exactly the
    * anchors hard negatives matter for). Exact cosine, ties by
    * ascending neighbor id; anchors broadcast like [[bruteForceTopK]].
    *
    * Output: (query_id, neighbor_id, cosine, rank) with
    * label(query) ≠ label(neighbor) for every row.
    */
  def hardNegativesTopK(anchors: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = anchors.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("__ql"))
    // fanned streamed side — see [[bruteForceTopK]]
    val c = graft.engine.Tables.fanOut(corpus.sparkSession, corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("__cl"))
    // null-labeled rows match nothing on either side (a null label is
    // unknown, not "different from everything"): plain =!= is null
    // when either side is null, which an inner join treats as
    // non-matching — exactly the wanted semantics
    // per-row norms hoisted out of the anchors×corpus pair loop —
    // bit-identical ([[graft.functions.cosinePreNormed]])
    val joined = c.withColumn("__nn", graft.functions.vecNormExact(col("cv")))
      .join(broadcast(
        q.withColumn("__qn", graft.functions.vecNormExact(col("qv")))),
        col("query_id") =!= col("neighbor_id") &&
          col("__ql") =!= col("__cl"))
    rankTopK(
      joined.select(col("query_id"), col("neighbor_id"),
        graft.functions.cosinePreNormed(col("qv"), col("cv"),
          col("__qn"), col("__nn")).as("cosine")),
      k, "cosine")
  }

  /** Deterministic ±1 hyperplane component for (table, plane, dim):
    * driver-side splitmix64-style bit mix of the coordinates. Row-
    * independent, so planes are materialized ONCE as literals — the
    * per-row work is only multiplies, never hashing.
    */
  private def planeComponent(table: Int, plane: Int, dim: Int): Double = {
    var x = table * 1000003L + plane * 7919L + dim * 104729L + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x = x ^ (x >>> 31)
    if ((x & 1L) == 1L) 1.0 else -1.0
  }

  /** Literal plane matrix for one (table, plane): a dim-length ±1 row. */
  private def planeLit(table: Int, plane: Int, dim: Int): Column =
    typedLit((0 until dim).map(d => planeComponent(table, plane, d)))

  /** Random-hyperplane LSH bucket id for one table: `nPlanes` sign bits
    * packed into a long. Vectors in the same bucket agree on every
    * hyperplane side — cosine-similar vectors collide with high
    * probability. `dim` is the embedding dimensionality (planes are
    * driver-side literals).
    *
    * This is the declarative arm, kept as the semantics ORACLE the
    * native [[graft.expressions.LshBuckets]] kernel is spec-pinned
    * against (same splitmix plane matrix, same IEEE fold order, same
    * Spark NaN-above-everything `> 0`); the search path bucketes
    * through the kernel — one compiled pass for all tables instead of
    * nTables·nPlanes interpreted lambda aggregates per corpus row.
    */
  private[graft] def lshBucket(vec: Column, table: Int, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { p =>
      val dotp = aggregate(
        zip_with(vec, planeLit(table, p, dim), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(dotp > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN top-k: queries only compare against corpus
    * vectors in the same bucket. Multi-probe via `nTables` independent
    * hash tables (different plane seeds) to recover recall; results
    * are the union of tables, re-ranked exactly.
    *
    * `dim` is the DECLARED embedding width and acts as the mixed-dim
    * quarantine the [[graft.expressions.LshBuckets]] contract asks
    * for: the kernel reads each vector's own length, so a truncated or
    * stale-model row would silently hash against a DIFFERENT plane
    * matrix than its peers (the old declarative arm null-padded it to
    * bucket 0 — equally wrong, differently). Rows whose length ≠ dim
    * are excluded from bucketing on both sides; they can never be a
    * meaningful candidate, only a false one.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, nTables: Int = 4, dim: Int = 64,
      simFn: (Column, Column) => Column = cosineExact,
      simName: String = "cosine"): DataFrame = {
    // Bucketing carries IDS ONLY: the multi-table dedup (`distinct` on
    // the id pair — a row is a candidate once even if it collides in
    // several tables) shuffles 16-byte pairs, never dim×8-byte vectors.
    def withBuckets(df: DataFrame, side: String): DataFrame =
      df.where(size(col(vecCol)) === dim)
        .select(
        col(idCol).as(s"${side}_id"),
        posexplode(
          graft.functions.lshBucketsNative(col(vecCol), nTables, nPlanes)))
        .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
    val qb = withBuckets(queries, "query")
    val cb = withBuckets(corpus, "neighbor")
    val candIds = cb.join(qb, Seq("table", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    // Re-attach vectors AFTER dedup: each side joins on its id, so a
    // vector crosses the wire at most once regardless of how many
    // tables it collided in. No broadcast hint — a small query side
    // auto-broadcasts (threshold/AQE), while corpus-vs-corpus search
    // (queries = corpus) must stay a shuffle join.
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("queryv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighborv"))
    val cands = candIds.join(qv, Seq("query_id")).join(cv, Seq("neighbor_id"))
    rankTopK(
      cands.select(col("query_id"), col("neighbor_id"),
        simFn(col("queryv"), col("neighborv")).as(simName)),
      k, simName)
  }

  /** Adaptive ANN dispatch over all three paths:
    *
    * - |Q| ≤ nPlanes·nTables → BRUTE FORCE. Encodes the measured
    *   crossover (NOTES.md round 4, "ANN scale probe"): brute does |Q| exact
    *   dots per corpus vector with the query batch broadcast —
    *   corpus-linear and faster than LSH while |Q| is below the
    *   bucketing overhead of nPlanes×nTables plane dots per vector.
    * - large |Q|, corpus ≤ `ivfCorpusFloor` → LSH. Zero training
    *   cost; bucket occupancy (|C| / 2^nPlanes per table) stays small
    *   enough that candidate lists don't degenerate.
    * - large |Q|, corpus > `ivfCorpusFloor` → IVF with √|C| cells.
    *   Past the floor, LSH faces a parameter squeeze: fixed nPlanes
    *   means per-bucket candidates grow linearly with |C| (the
    *   candidate join degenerates), while adding planes to compensate
    *   costs recall that only more tables (more full passes) buy
    *   back. IVF's cell count SCALES with the corpus instead —
    *   √|C| cells keeps both the per-cell candidate count and the
    *   per-row assignment cost at √|C|, with one Lloyd-training pass
    *   (driver state nCells·dim doubles) amortized over the large
    *   query batch that this branch implies. The floor's order of
    *   magnitude (10^5, where √|C|≈316 cells ≈ the plane-dot cost of
    *   a 4×16 LSH but with bounded buckets) is a cost-model default,
    *   not a fixture measurement — the test corpus tops out at 2k
    *   vectors, far below any honest crossover.
    *
    * Two orthogonal refinements (r8):
    * - large |Q|, mid corpus, `dim ≥ highDimFloor` → JL-PROJECTED
    *   shortlist instead of LSH: LSH pays dim in both its stages
    *   (plane dots and full-dim candidate scoring) while the
    *   projected shortlist scores pairs at fixed projDim — measured
    *   crossover at [[HighDimProjectionFloor]] (NOTES.md round 8).
    * - stored `q_codes`/`q_scale` on the corpus (or
    *   `quantizedCandidates = true`) route candidate scoring through
    *   [[quantizedDot]] — [[ivfTopKQuantizedRerank]] on the IVF
    *   branch, [[projectedQuantizedRerankTopK]] on the projected
    *   branch. Stored codes were materialized at ingest precisely so
    *   searches use them; detection is automatic.
    *
    * Dispatch needs both side sizes. Pass `querySideRows` /
    * `corpusRows` when the caller knows them (free); otherwise a
    * bounded `limit(threshold+1).count()` probe runs — its OUTPUT is
    * bounded, but if the probed plan contains a shuffle the child
    * still executes fully AND executes again inside the chosen path,
    * so callers with expensive inputs should persist them or pass the
    * hints.
    */
  def adaptiveTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, nTables: Int = 4, dim: Int = 64,
      querySideRows: Option[Long] = None,
      corpusRows: Option[Long] = None,
      ivfCorpusFloor: Long = 100000L,
      quantizedCandidates: Boolean = false,
      highDimFloor: Int = HighDimProjectionFloor): DataFrame = {
    // stored int8 codes on the corpus route candidate scoring through
    // quantizedDot automatically — the codes were materialized at
    // ingest precisely so searches would use them; an explicit
    // quantizedCandidates=true forces the same with in-plan codes
    val useQuant = quantizedCandidates ||
      (corpus.columns.contains("q_codes") && corpus.columns.contains("q_scale"))
    val crossover = nPlanes * nTables
    val smallQ = querySideRows match {
      case Some(n) => n <= crossover
      case None => queries.limit(crossover + 1).count() <= crossover
    }
    if (smallQ) bruteForceTopK(queries, corpus, idCol, vecCol, k)
    else {
      // probe limit clamped: a floor above Int.MaxValue must not wrap
      // into limit(negative) (callers with floors that large should
      // pass corpusRows — the probe degenerates to a full count there)
      val probeLimit = math.min(ivfCorpusFloor + 1, Int.MaxValue.toLong).toInt
      val bigC = corpusRows match {
        case Some(n) => n > ivfCorpusFloor
        case None => corpus.limit(probeLimit).count() > ivfCorpusFloor
      }
      if (bigC) {
        // cell count from the KNOWN size when hinted; otherwise from
        // the floor itself — deliberately NOT corpus.count(), which
        // would execute an unbounded third pass of the corpus plan
        // just to size cells (√ is flat enough that the floor is a
        // fine proxy until the caller supplies the real cardinality).
        // √|C| is CAPPED at [[MaxAdaptiveCells]]: uncapped, 10¹²
        // vectors would mean ~10⁶ centroids — ~0.5 GB of driver/
        // broadcast state and O(nCells·dim) ≈ 6×10⁷ flops of
        // assignment work PER ROW, computationally infeasible. At the
        // cap the centroid state is 65,536·dim doubles (33.5 MB at
        // dim 64 — the plan-literal budget documented on
        // [[trainIvfCentroids]]) and per-row assignment is bounded;
        // past the cap, recall is bought with nProbe, not more cells.
        val nCells = adaptiveCellCount(corpusRows.getOrElse(ivfCorpusFloor))
        // the known cardinality also pre-thins centroid training's
        // TakeOrdered merge (see trainingSample) — free when hinted
        val cents = Some(trainIvfCentroids(corpus, idCol, vecCol,
          nCells, iters = 2, corpusRowsHint = corpusRows))
        // quantized routing sends the big-corpus branch through the
        // int8-scored shortlist + exact re-rank — exactly the branch
        // where candidate-join width matters (measured recall-identical
        // to the full-precision path on the fixtures; RecallProbe)
        if (useQuant)
          ivfTopKQuantizedRerank(queries, corpus, idCol, vecCol, k,
            nCells = nCells, iters = 2, nProbe = 2, centroids = cents)
        else ivfTopK(queries, corpus, idCol, vecCol, k,
          nCells = nCells, iters = 2, nProbe = 2, centroids = cents)
      } else if (dim >= highDimFloor) {
        // high-dim mid-corpus: LSH pays dim twice — nPlanes·nTables
        // plane dots per vector AND full-dim candidate scoring — while
        // the JL shortlist caps per-pair work at projDim regardless of
        // dim (the NOTES.md r8 crossover backing HighDimProjectionFloor).
        // Stored/forced int8 codes stack the quantized mid-stage on top.
        if (useQuant)
          projectedQuantizedRerankTopK(queries, corpus, idCol, vecCol, k,
            projDim = 32, shortlistFactor = 16, rerankFactor = 4)
        else projectedRerankTopK(queries, corpus, idCol, vecCol, k,
          projDim = 32, rerankFactor = 8)
      } else lshTopK(queries, corpus, idCol, vecCol, k, nPlanes, nTables, dim)
    }
  }

  /** Vector dim at which `adaptiveTopK`'s mid-corpus branch abandons
    * LSH for the JL-projected shortlist: LSH cost scales with dim in
    * BOTH its stages (plane dots and full-dim candidate scoring);
    * the projected shortlist scores pairs at fixed projDim after a
    * dim-linear map-only projection pass. Measured (NOTES.md round 8,
    * "Shortlist family"): LSH 8×4 vs projected(32, ×8) on a 20k-vector
    * clustered corpus, 256-query batch — break-even at dim 128
    * (1.02×), projected 2.3–2.6× faster at dim 256/512; at dim 64
    * LSH is ~1.3× faster. 256 sits one power of two above the
    * measured break-even, margin for LSH-favorable data.
    */
  val HighDimProjectionFloor: Int = 256

  /** Symmetric per-vector int8 quantization: `q_scale` = max|x|/127,
    * `q_codes` = round(x/scale) as tinyint (zero vectors quantize to
    * scale 0, all-zero codes). Map-side HOF expressions only. At
    * corpus scale this is the embedding STORAGE/IO knob — 4× smaller
    * than float32, 8× than float64 — applied before ANN indexing; the
    * per-element guarantee is |x − code·q_scale| ≤ q_scale/2.
    * (The codes lambda references the scale attribute; if Catalyst
    * collapses the projection the absmax sub-expression re-evaluates
    * per element — O(d²) arithmetic per row, ~4k flops at d=64,
    * negligible against the shuffle the vectors would otherwise cost.)
    */
  def withQuantizedInt8(df: DataFrame, vecCol: String): DataFrame = {
    val absmax = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df
      // NaN/Infinity elements poison absmax; under Spark 4's ANSI mode
      // round(x/NaN).cast would THROW mid-job on one corrupt row.
      // Corrupt vectors get null scale + null codes instead — a
      // quarantine-able marker, not a job abort.
      .withColumn("q_scale",
        when(!isnan(absmax) && absmax =!= Double.PositiveInfinity,
          absmax / 127.0))
      .withColumn("q_codes",
        when(col("q_scale").isNull, lit(null).cast("array<tinyint>"))
          .when(col("q_scale") === 0.0,
            transform(col(vecCol), _ => lit(0).cast("byte")))
          .otherwise(transform(col(vecCol), x =>
            round(x.cast("double") / col("q_scale")).cast("int").cast("byte"))))
  }

  /** Reconstruction of a quantized vector: codes · scale. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** Sign of entry (j, i) of the portable ±1 projection matrix: a
    * murmur-style multiply/xor-shift finalizer on seed
    * `j·2²⁰ + i + 1`, all in non-negative sub-2³¹ longs. Deliberately
    * NOT xxhash64 — every operation (multiply, mod, xor, and
    * shift-as-integer-division) replays exactly in ANSI SQL, the
    * [[graft.expressions.TokenBuckets]] portability discipline.
    *
    * The mixing matters: LCG steps alone on a LINEAR seed leave sign
    * rows correlated — the first cut (two LCG steps) measured a
    * pairwise row dot of 58/64 (two rows 95% identical), which
    * flattened projected-cosine recall to near-random. The xor-shift
    * interleave brings the 16×64 Gram matrix off-diagonal under
    * |20|/64 and the 32×64 under |24|/64 — true-random-matrix range —
    * with 21–39 ones per 64-wide row (spec-pinned, including the
    * pairwise-correlation bound).
    *
    * The 2²⁰ seed stride keeps per-row seed ranges disjoint up to
    * dim 1,048,576 (a 4096 stride would alias rows on >4096-dim
    * inputs — shifted-copy sign rows, the correlation degeneracy
    * again); max seed · multiplier stays under 2⁶³.
    */
  private def rpSign(j: Int, i: Column): Column = {
    val m31 = lit(2147483648L)
    val h1 = pmod((i + lit(j * 1048576L + 1L)) * lit(2654435761L), m31)
    val h2 = h1.bitwiseXOR(shiftright(h1, 13))
    val h3 = pmod(h2 * lit(2246822519L), m31)
    val h4 = h3.bitwiseXOR(shiftright(h3, 11))
    val h5 = pmod(h4 * lit(3266489917L), m31)
    val h6 = h5.bitwiseXOR(shiftright(h5, 16))
    when(pmod(h6, lit(2L)) === 1L, lit(1L)).otherwise(lit(-1L))
  }

  /** Random ±1 projection (the Johnson–Lindenstrauss / Achlioptas
    * database-friendly flavor): each input vector is quantized to
    * scale-6 longs (`floor(x·10⁶)`) and projected onto `outDim`
    * deterministic ±1 sign rows derived from [[rpSign]], so every
    * output coordinate is an EXACT integer sum — bit-portable to any
    * engine, no float-summation order dependence.
    *
    * This is the 100 TB pre-ANN knob: at dim 768 → 64 the projection
    * cuts downstream LSH/IVF flops and candidate-join width 12× while
    * JL preserves pairwise geometry to O(√(ln n / outDim)) distortion.
    * Map-only scan→project — zero shuffles at any corpus size; the
    * sign matrix is a closed form, so nothing is broadcast or
    * collected (unlike a sampled Gaussian matrix, there is no
    * training/state at all).
    *
    * Corrupt vectors (any NaN/±Inf element) project to NULL in every
    * output column — the q74 quarantine convention (ANSI mode would
    * otherwise abort the job on `floor(NaN)`).
    *
    * Output: idCol plus `p00..p{outDim-1}` long columns.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int = 16, native: Boolean = true): DataFrame = {
    require(outDim > 0 && outDim <= 64, s"outDim out of range: $outDim")
    if (native) {
      // one compiled pass per row (graft.expressions.RandomProjection)
      // — the ingest-path form; the declarative arm below is the
      // cross-checkable twin (native ≡ declarative, spec-enforced).
      // The generator barrier keeps the outDim element_at references
      // from re-invoking the kernel (NOTES invariant 16).
      val base = df.select(col(idCol),
        explode(array(graft.functions.randomProjectionNative(
          col(vecCol), outDim))).as("__p"))
      return base.select(col(idCol) +: (0 until outDim).map(j =>
        element_at(col("__p"), j + 1).as(f"p$j%02d")): _*)
    }
    // input dim beyond the seed stride would alias sign rows (see
    // rpSign) — reject loudly instead of degrading silently
    val dimGuard = lit(1048576)
    val x = col(vecCol)
    val sizeOk = when(size(x) <= dimGuard, lit(true))
      .otherwise(raise_error(concat(
        lit("randomProjection: input dim "), size(x).cast("string"),
        lit(" exceeds the 1048576 sign-matrix stride"))).cast("boolean"))
    val valid = sizeOk && size(x) >= 1 &&
      !exists(x, e => isnan(e.cast("double")) ||
        e.cast("double") === Double.PositiveInfinity ||
        e.cast("double") === Double.NegativeInfinity)
    val q6 = when(valid,
      transform(x, e => floor(e.cast("double") * lit(1000000.0)).cast("long")))
    // generator barrier (explode of a 1-element array): every projCol
    // references __q6 several times, and CollapseProject would inline
    // the quantization transform into each reference (NOTES
    // invariant 16) — the barrier keeps __q6 one attribute.
    val base = df.select(col(idCol), explode(array(q6)).as("__q6"))
    val projCols = (0 until outDim).map { j =>
      aggregate(
        zip_with(col("__q6"),
          sequence(lit(0), size(col("__q6")) - 1),
          (v, i) => v * rpSign(j, i)),
        lit(0L), (acc, v) => acc + v).as(f"p$j%02d")
    }
    base.select(col(idCol) +: projCols: _*)
  }

  /** ANN via JL shortlisting — [[randomProjection]] integrated into
    * the search path (the operator the projection exists for), the
    * [[ivfTopKQuantizedRerank]] two-stage shape with a DIFFERENT
    * cheap-scoring arm:
    *
    *  1. both sides project to `projDim` exact-integer coordinates
    *     (map-only, stateless — nothing trained, broadcast, or
    *     collected);
    *  2. a `rerankFactor`·k shortlist per query is ranked on
    *     PROJECTED cosine — per-pair work is projDim flops instead of
    *     dim (the 4–48× candidate-scoring reduction at dim 64–768);
    *  3. only the shortlist joins the full-precision vectors for the
    *     exact top-k re-rank.
    *
    * JL distortion can evict a true neighbor from the shortlist, so
    * recall ≤ exact; `rerankFactor` buys it back (measured floors in
    * [[graft.queries.Calibration]]). Vectors quarantined by the
    * projection (NaN/Inf) never enter the shortlist.
    */
  /** JL projection of `df` to a `projDim` float column `__pvec`.
    * ÷10⁶ returns coordinates to raw-embedding magnitude, and the
    * array must be FLOAT: cosine is scale-invariant, but the
    * scaled-long dot kernel ([[graft.expressions.DecimalScaledDot]])
    * (a) quantizes elements at 10⁻⁶ — raw ~10⁷-magnitude integer
    * sums made element products overflow int64 silently — and
    * (b) declares float-array input types, so an array<double> would
    * cast (a silent precision identity here, but the float form is
    * the calibrated one). Both measured as recall collapse before
    * this projection-side normalization.
    */
  private def jlProjected(df: DataFrame, idCol: String, vecCol: String,
      projDim: Int): DataFrame =
    randomProjection(df, idCol, vecCol, projDim)
      .where(col("p00").isNotNull) // quarantined vectors can't rank
      .select(col(idCol),
        array((0 until projDim).map(j =>
          (col(f"p$j%02d").cast("double") / lit(1000000.0)).cast("float")): _*)
          .as("__pvec"))

  /** int8 side projection for quantized candidate scoring: reuses
    * STORED `q_codes`/`q_scale` when the frame already carries them
    * (quantized once at ingest and read from parquet — the intended
    * corpus-scale shape), after nulling codes whose length mismatches
    * the vector column (stale codes after re-embedding at a new dim);
    * otherwise quantizes in-plan.
    */
  private def quantizedSide(df: DataFrame, idCol: String, vecCol: String,
      side: String): DataFrame = {
    val q =
      if (df.columns.contains("q_codes") && df.columns.contains("q_scale"))
        df.withColumn("q_codes",
          when(size(col("q_codes")) === size(col(vecCol)), col("q_codes")))
      else withQuantizedInt8(df, vecCol)
    q.select(
      col(idCol).as(s"${side}_id"),
      col("q_codes").as(s"${side}_codes"), col("q_scale").as(s"${side}_scale"))
  }

  def projectedRerankTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      projDim: Int = 16, rerankFactor: Int = 4,
      simFn: (Column, Column) => Column = cosineExact,
      simName: String = "cosine"): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be ≥ 1, got $rerankFactor")
    val shortlist = bruteForceTopK(
        jlProjected(queries, idCol, vecCol, projDim),
        jlProjected(corpus, idCol, vecCol, projDim),
        idCol, "__pvec", k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    rankTopK(
      shortlist
        .join(broadcast(qv), Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          simFn(col("__qv"), col("__cv")).as(simName)),
      k, simName)
  }

  /** The JL shortlist and the int8 codes STACKED — the composed
    * shortlist family member (r7 verdict item 4): three stages, each
    * cheaper per pair than the last is wide.
    *
    *  1. `shortlistFactor`·k candidates per query ranked on PROJECTED
    *     cosine (projDim flops/pair — the [[projectedRerankTopK]]
    *     stage, so the wide stage never touches full-dim vectors);
    *  2. the shortlist re-scored with [[quantizedDot]] over int8
    *     CODES (dim bytes/pair across the join instead of dim·8
    *     float64 — stored `q_codes` reused when present) and trimmed
    *     to `rerankFactor`·k;
    *  3. ONLY the trimmed slice joins the full-precision vectors for
    *     the exact top-k re-rank — every returned score is the exact
    *     `simFn` value (contract-oracle-enforced in q105).
    *
    * Recall ≤ [[projectedRerankTopK]] at the same shortlistFactor
    * (the int8 trim can only evict); the measured floor lives in
    * [[graft.queries.Calibration.ProjectedQuantizedRecallFloor]].
    */
  def projectedQuantizedRerankTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      projDim: Int = 16, shortlistFactor: Int = 16, rerankFactor: Int = 4,
      simFn: (Column, Column) => Column = cosineExact,
      simName: String = "cosine"): DataFrame = {
    require(rerankFactor >= 1 && shortlistFactor >= rerankFactor,
      s"need shortlistFactor ≥ rerankFactor ≥ 1, got $shortlistFactor/$rerankFactor")
    val shortlist = bruteForceTopK(
        jlProjected(queries, idCol, vecCol, projDim),
        jlProjected(corpus, idCol, vecCol, projDim),
        idCol, "__pvec", k * shortlistFactor)
      .select(col("query_id"), col("neighbor_id"))
    val scored = shortlist
      .join(quantizedSide(queries, idCol, vecCol, "query"), Seq("query_id"))
      .join(quantizedSide(corpus, idCol, vecCol, "neighbor"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedDot(col("query_codes"), col("query_scale"),
          col("neighbor_codes"), col("neighbor_scale")).as("approx"))
    val trimmed = rankTopK(scored, k * rerankFactor, "approx")
      .select("query_id", "neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    rankTopK(
      trimmed
        .join(broadcast(qv), Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          simFn(col("__qv"), col("__cv")).as(simName)),
      k, simName)
  }

  /** Cap on `adaptiveTopK`'s √|C| cell sizing — see the dispatch doc. */
  val MaxAdaptiveCells: Int = 65536

  /** √|C| cell sizing, floored at 8 and capped at
    * [[MaxAdaptiveCells]] — the cell-count policy `adaptiveTopK`
    * applies (factored out so the cap is unit-testable).
    */
  def adaptiveCellCount(corpusRows: Long): Int =
    math.min(MaxAdaptiveCells,
      math.max(8, math.sqrt(math.max(0L, corpusRows).toDouble).toInt))

  /** Default bound on the rows any Lloyd iteration may scan. k-means
    * quality saturates long before the sample does (the centroids are
    * a COARSE quantizer — 65k vectors estimate 65k·dim ≤ 4M cluster
    * parameters generously even at the cell cap), so training cost
    * must NOT grow with the corpus.
    */
  val DefaultTrainSampleCap: Int = 65536

  /** The bounded deterministic training sample: the `cap` lowest
    * rows by (xxhash64(id), id) — reproducible across runs, engines,
    * and partitionings; no RNG. Compiles to TakeOrderedAndProject
    * (per-partition bounded heap + k-bounded merge), never a global
    * sort. Columns: `__id`, `__v` (vector as array<double>), `__h`.
    *
    * Extreme-scale shape: the TakeOrdered merge sees up to
    * partitionCount·cap candidate rows (each scan partition ships its
    * own top-`cap`) — at 10⁶ scan partitions that is a 10⁶·cap driver
    * merge. Supplying `corpusRowsHint` (any within-an-order-of-
    * magnitude row-count estimate, e.g. from table stats) enables a
    * hash-quantile pre-thin: only rows whose hash falls below the
    * quantile expected to pass ~8·cap of the corpus survive to the
    * heaps, so the merge handles ~8·cap rows total. The pre-thin is
    * EXACT, not approximate — if the thinned scan yields ≥ cap rows,
    * its lowest `cap` ARE the global lowest `cap` (every discarded
    * row hashes above every kept one); if the hint was wrong enough
    * to under-collect (needs ~8× error), one guard job detects it
    * and the unthinned path re-runs — identical output either way,
    * one extra bounded job as the only cost.
    */
  def trainingSample(df: DataFrame, idCol: String, vecCol: String,
      cap: Int, corpusRowsHint: Option[Long] = None): DataFrame = {
    val base = df
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      // corrupt vectors (null/NaN/±Inf elements) are EXCLUDED from
      // training: one NaN row would otherwise poison its cell's
      // centroid sum, and a NaN centroid then swallows every row
      // (NaN orders above all doubles in the argmax) — silent
      // quality collapse, not an error. Search-time paths quarantine
      // such rows separately (null quantization codes, norm filters).
      .where(forall(col("__v"),
        x => x.isNotNull && !isnan(x) && abs(x) =!= lit(Double.PositiveInfinity)))
      .withColumn("__h", xxhash64(col("__id")))
    def lowest(src: DataFrame): DataFrame =
      src.orderBy(col("__h"), col("__id")).limit(cap)
    corpusRowsHint match {
      // engage only when the keep-fraction is < 1/2: above that the
      // thin saves nothing, and frac·2^64 would saturate .toLong at
      // Long.MaxValue (silently keeping 50% instead of the intended
      // fraction)
      case Some(nRows) if nRows > 16L * cap =>
        // hash quantile at fraction 8·cap/nRows of the full signed-64
        // range (xxhash64 is uniform over it); frac < 1/2 ⇒ the
        // product fits in a Long, and double rounding costs at most
        // ~2^11 of 2^64 — absorbed by the 8× safety factor
        val frac = 8.0 * cap / nRows
        val t = Long.MinValue + (frac * math.pow(2.0, 64)).toLong
        val thinned = lowest(base.where(col("__h") < lit(t)))
        if (thinned.count() >= cap) thinned else lowest(base)
      case _ => lowest(base)
    }
  }

  /** Deterministic IVF centroid training: k-means with hash-seeded
    * initialization (lowest xxhash64(id) rows — reproducible, no RNG)
    * and `iters` Lloyd iterations — over a BOUNDED deterministic
    * sample, never the full corpus. Training cost is therefore
    * O(iters · trainSampleCap · k · dim) regardless of corpus size:
    * at 10¹² corpus vectors the Lloyd scans still touch ≤ 65,536
    * rows. (Quality is unaffected at coarse-quantizer granularity;
    * the sampled-vs-full recall parity at sf0.1 is recorded in
    * NOTES.md via RecallProbe.)
    *
    * Centroids live on the DRIVER between iterations — k·dim doubles
    * (33.5 MB at the 65,536-cell cap × dim 64; they re-enter plans as
    * literals, so that figure is also the per-plan broadcast budget).
    * Each iteration is exactly ONE distributed job over the cached
    * sample: a map-side argmax assignment against literal centroids
    * (no join, no shuffle) followed by one k-row groupBy whose
    * partial aggregation runs map-side.
    */
  /** Train a PRODUCT-QUANTIZATION codebook: the `dim`-dim space split
    * into `m` contiguous sub-spaces, each clustered into `ks`
    * sub-centroids by the SAME bounded-sample Lloyd discipline as the
    * coarse quantizer (one [[trainIvfCentroids]] run per sub-space
    * over the sliced sub-vectors — hash-seeded deterministic sample,
    * decimal sums; the m× re-sampling is a build-time cost, not a
    * state cost). Driver state: ks·dim doubles — tiny (128 KB at
    * ks=256, dim=64); the compression lives in the per-vector CODES
    * (m bytes vs dim·4 float bytes — 32× narrower than vectors, 8×
    * narrower than int8 codes at m=8, dim=64).
    *
    * If the bounded sample is smaller than `ks`, every sub-space
    * yields the same smaller count (same sample rows) and the
    * codebook's effective ks is that count. `dim` must divide by `m`
    * (callers with odd dims pick the largest divisor — see
    * [[graft.ops.AnnIndex.buildIvfIndexTwoLevel]]).
    */
  def trainPqCodebook(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, ks: Int = 256, iters: Int = 2,
      trainSampleCap: Int = DefaultTrainSampleCap,
      corpusRowsHint: Option[Long] = None): graft.expressions.PqCodebook = {
    require(m >= 1 && dim % m == 0,
      s"trainPqCodebook: dim $dim must divide by m=$m")
    require(ks >= 1 && ks <= 256, s"ks must be in [1,256], got $ks")
    val subDim = dim / m
    val subCents: Seq[Seq[Seq[Double]]] = (0 until m).map { mi =>
      trainIvfCentroids(
        df.select(col(idCol),
          slice(col(vecCol).cast("array<double>"),
            mi * subDim + 1, subDim).as("__sub")),
        idCol, "__sub", ks, iters, trainSampleCap, corpusRowsHint)
    }
    val ksEff = subCents.head.size
    require(ksEff >= 1, "trainPqCodebook: empty training corpus")
    require(subCents.forall(_.size == ksEff),
      "trainPqCodebook: sub-space centroid counts diverged " +
        s"(${subCents.map(_.size).mkString(",")}) — the sample must be " +
        "identical across sub-spaces")
    val data = new Array[Double](m * ksEff * subDim)
    for (mi <- 0 until m; k <- 0 until ksEff; j <- 0 until subDim)
      data(mi * ksEff * subDim + k * subDim + j) = subCents(mi)(k)(j)
    new graft.expressions.PqCodebook(m, ksEff, subDim, data)
  }

  def trainIvfCentroids(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int,
      trainSampleCap: Int = DefaultTrainSampleCap,
      corpusRowsHint: Option[Long] = None): Seq[Seq[Double]] = {
    val cap = math.max(k, trainSampleCap) // never sample below k seeds
    // Re-spread the single TakeOrdered output partition so Lloyd
    // iterations parallelize; ≤ cap rows shuffle, a bounded cost.
    val sample = trainingSample(df, idCol, vecCol, cap, corpusRowsHint)
      .repartition(col("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // TakeOrdered (orderBy+limit) — never a global sort or window.
      var centroids: Seq[Seq[Double]] = sample
        .orderBy(col("__h"), col("__id"))
        .limit(k)
        .select("__v")
        .collect().map(_.getSeq[Double](0)).toSeq
      if (centroids.isEmpty) return Seq.empty // empty corpus: no cells
      val dim = centroids.head.size
      for (_ <- 0 until iters) {
        // DECIMAL sums: exact, hence order-independent — float sums
        // would make the centroids (and every recall number pinned
        // against them) depend on shuffle fetch order, run to run.
        // decimal(30,15) truncation of each element is itself
        // deterministic; 15 integer digits cannot overflow on a
        // ≤65k-row sample of unit-scale embeddings.
        val sums = sample
          .select(assignCell(col("__v"), centroids).as("cell"), col("__v"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n"),
            array((0 until dim).map(i =>
              sum(element_at(col("__v"), i + 1).cast("decimal(30,15)"))
                .cast("double")): _*).as("sums"))
          .collect()
          .map(r => r.getLong(0).toInt ->
            (r.getLong(1), r.getSeq[Double](2)))
          .toMap
        centroids = centroids.indices.map { c =>
          sums.get(c) match {
            case Some((n, s)) => s.map(_ / n)
            case None => centroids(c) // empty cell keeps its centroid
          }
        }
      }
      centroids
    } finally sample.unpersist(blocking = false)
  }

  /** Per-cell (dot, -cell) score structs against driver-side
    * L2-normalized centroid literals (argmax dot ≡ argmax cosine — the
    * row vector's own norm is constant across candidates). The -cell
    * component makes struct max/sort tie-break to the LOWEST cell id.
    * Pure map-side expression; no join, no shuffle.
    */
  private def cellScores(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty,
      "cellScores: no centroids (empty training corpus?) — assignment is undefined")
    val normed = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    val centLit = typedLit(normed)
    transform(
      sequence(lit(0), lit(centroids.size - 1)),
      i => struct(
        aggregate(
          zip_with(vec, element_at(centLit, i + 1),
            (x, w) => x.cast("double") * w),
          lit(0.0), (acc, v) => acc + v).as("dot"),
        (-i).as("ncell")))
  }

  /** Nearest-centroid cell id for a vector column, ties to the lowest
    * cell id — the native two-level [[graft.expressions.CentroidIndex]]
    * kernel: exact (bit-identical to [[assignCellDeclarative]],
    * spec-enforced) at O(√k·dim) expected per-row work instead of the
    * interpreted O(k·dim) flat scan, which at the 65,536-cell cap was
    * the last ANN-family 100 TB scale-killer (~4.2M interpreted
    * multiply-adds per corpus row at dim 64). NULL vectors coalesce to
    * cell 0 — the declarative arm's all-ties resolution.
    */
  def assignCell(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty,
      "assignCell: no centroids (empty training corpus?) — assignment is undefined")
    coalesce(
      graft.functions.nearestCentroidNative(
        vec, graft.expressions.CentroidIndex.forCentroids(centroids)),
      lit(0L))
  }

  /** The declarative flat-scan arm of [[assignCell]] — kept as the
    * semantics ORACLE the native kernel is spec-pinned against
    * (including NaN/null/∞/dim-mismatch corruption cases), and as the
    * ANSI-SQL-replayable formulation.
    */
  private[graft] def assignCellDeclarative(
      vec: Column, centroids: Seq[Seq[Double]]): Column =
    (-array_max(cellScores(vec, centroids)).getField("ncell")).cast("long")

  /** The `nProbe` nearest cell ids, best first — multi-probe IVF's
    * query-side fan-out (probing only the single nearest cell loses
    * the neighbors that sit just across a Voronoi boundary; standard
    * IVF recall/cost knob). Still map-side only; same native exact
    * kernel as [[assignCell]] (matters at corpus scale because
    * self-search ANN probes EVERY row as a query). NULL vectors
    * coalesce to cells 0..n−1, the declarative all-ties order.
    */
  def probeCells(vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column = {
    require(centroids.nonEmpty,
      "probeCells: no centroids (empty training corpus?) — probing is undefined")
    val n = math.min(nProbe, centroids.size)
    coalesce(
      graft.functions.nearestCellsNative(
        vec, graft.expressions.CentroidIndex.forCentroids(centroids), nProbe),
      sequence(lit(0L), lit(n.toLong - 1L)))
  }

  /** Declarative arm of [[probeCells]] — the spec oracle. */
  private[graft] def probeCellsDeclarative(
      vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    transform(
      // ascending (dot, ncell) sort reversed = dot desc, cell asc on ties
      slice(reverse(array_sort(cellScores(vec, centroids))), 1, nProbe),
      s => (-s.getField("ncell")).cast("long"))

  /** IVF coarse quantization: tag each row with its nearest-centroid
    * `cell` — the blocking key for cell-local candidate search.
    */
  def ivfAssign(df: DataFrame, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    df.withColumn("cell", assignCell(col(vecCol), centroids))

  /** Query-side multi-probe assignment: one row per (row, probed
    * cell), nearest cells first.
    */
  def ivfAssignProbes(df: DataFrame, vecCol: String,
      centroids: Seq[Seq[Double]], nProbe: Int): DataFrame =
    df.withColumn("cell", explode(probeCells(col(vecCol), centroids, nProbe)))

  /** IVF ANN top-k: corpus blocked into `nCells` Voronoi cells (one
    * cell per vector), queries probe their `nProbe` nearest cells,
    * candidates are cell-colocated pairs deduped ON IDS (as in
    * [[lshTopK]]: a vector crosses the wire once however many probes
    * it matched), then exact re-rank. The corpus side never moves
    * except the one cell-key shuffle of the candidate join — the
    * 100 TB shape: per-query work is |probed cells| · cell size, not
    * corpus size.
    *
    * `centroids`: pass pre-trained centroids to skip training (shared
    * across calls / probe widths); None trains `nCells` k-means cells
    * with `iters` Lloyd iterations, driver-side state = nCells·dim
    * doubles only.
    */
  /** Scaled int8 dot product of two quantized vectors:
    * (codes_a · codes_b) · scale_a · scale_b ≈ the float dot. The
    * inner dot is INTEGER arithmetic (|code| ≤ 127 ⇒ each term ≤
    * 16,129; dim ≤ 131k before int overflow), one double multiply at
    * the end — via the native codegen'd [[graft.expressions.Int8Dot]]
    * kernel (the interpreted HOF formulation measured 3× slower on
    * the candidate join at probe scale; NOTES r7). Null codes
    * (corrupt vectors, see [[withQuantizedInt8]]) propagate to a
    * null score.
    */
  def quantizedDot(codesA: Column, scaleA: Column,
      codesB: Column, scaleB: Column): Column =
    graft.functions.int8DotNative(codesA, codesB).cast("double") * scaleA * scaleB

  /** IVF ANN with QUANTIZED candidate scoring + exact re-rank — the
    * int8 codes from [[withQuantizedInt8]] integrated into the search
    * path (the operator the quantization exists for). Three stages:
    *
    *  1. candidate ids from the cell-blocked join, exactly as
    *     [[ivfTopK]];
    *  2. candidates scored with [[quantizedDot]] over int8 CODES —
    *     the arrays crossing the candidate join are dim bytes, not
    *     dim·8 (the 8× shuffle/IO reduction is the point at corpus
    *     scale) — and trimmed to a per-query shortlist of
    *     `rerankFactor`·k by the k-bounded TopK aggregate;
    *  3. ONLY the shortlist joins the full-precision vectors for an
    *     exact re-rank to top-k — per query, rerankFactor·k exact
    *     dots instead of |candidates|.
    *
    * Quantization error can evict a true neighbor from the shortlist,
    * so recall ≤ the full-precision path's; `rerankFactor` buys it
    * back (factor 4 measured recall-identical to full-precision on
    * the fixtures — RecallProbe). Corrupt vectors (null codes) are
    * excluded from the shortlist by the aggregate's null filter.
    */
  def ivfTopKQuantizedRerank(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 64, iters: Int = 3, nProbe: Int = 2,
      rerankFactor: Int = 4,
      centroids: Option[Seq[Seq[Double]]] = None,
      simFn: (Column, Column) => Column = cosineExact,
      simName: String = "cosine"): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be ≥ 1, got $rerankFactor")
    val cents = centroids.getOrElse(
      trainIvfCentroids(corpus, idCol, vecCol, nCells, iters))
    val qa = ivfAssignProbes(queries, vecCol, cents, nProbe)
      .select(col(idCol).as("query_id"), col("cell"))
    val ca = ivfAssign(corpus, vecCol, cents)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val candIds = ca.join(qa, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    // int8 codes ride the candidate join; floats stay home — stored
    // codes reused, stale-dim codes nulled (see [[quantizedSide]])
    val cands = candIds
      .join(quantizedSide(queries, idCol, vecCol, "query"), Seq("query_id"))
      .join(quantizedSide(corpus, idCol, vecCol, "neighbor"), Seq("neighbor_id"))
    val shortlist = rankTopK(
      cands.select(col("query_id"), col("neighbor_id"),
        quantizedDot(col("query_codes"), col("query_scale"),
          col("neighbor_codes"), col("neighbor_scale")).as("approx")),
      k * rerankFactor, "approx")
      .select("query_id", "neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("queryv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighborv"))
    val rerank = shortlist.join(qv, Seq("query_id")).join(cv, Seq("neighbor_id"))
    rankTopK(
      rerank.select(col("query_id"), col("neighbor_id"),
        simFn(col("queryv"), col("neighborv")).as(simName)),
      k, simName)
  }

  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 64, iters: Int = 3, nProbe: Int = 2,
      centroids: Option[Seq[Seq[Double]]] = None,
      simFn: (Column, Column) => Column = DefaultCosine,
      simName: String = "cosine"): DataFrame = {
    val cents = centroids.getOrElse(
      trainIvfCentroids(corpus, idCol, vecCol, nCells, iters))
    val qa = ivfAssignProbes(queries, vecCol, cents, nProbe)
      .select(col(idCol).as("query_id"), col("cell"))
    val ca = ivfAssign(corpus, vecCol, cents)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val candIds = ca.join(qa, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("queryv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighborv"))
    if (simFn eq DefaultCosine) {
      // default-cosine fast path: per-row norms hoisted out of the
      // candidate loop — bit-identical ([[graft.functions
      // .cosinePreNormed]], the bruteForceTopK discipline)
      import graft.functions.{cosinePreNormed, vecNormExact}
      val cands = candIds
        .join(qv.withColumn("__qn", vecNormExact(col("queryv"))),
          Seq("query_id"))
        .join(cv.withColumn("__nn", vecNormExact(col("neighborv"))),
          Seq("neighbor_id"))
      rankTopK(
        cands.select(col("query_id"), col("neighbor_id"),
          cosinePreNormed(col("queryv"), col("neighborv"),
            col("__qn"), col("__nn")).as(simName)),
        k, simName)
    } else {
      val cands = candIds.join(qv, Seq("query_id")).join(cv, Seq("neighbor_id"))
      rankTopK(
        cands.select(col("query_id"), col("neighbor_id"),
          simFn(col("queryv"), col("neighborv")).as(simName)),
        k, simName)
    }
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019's ratio
    * margin, the LASER/CCMatrix parallel-corpus construction shape):
    * score every (source, target) nearest-neighbor candidate by how
    * much its cosine exceeds the AVERAGE cosine of each side's own
    * k-neighborhood, and mine the pairs that are MUTUAL margin-best
    * above a threshold —
    *
    *   margin(x,y) = cos(x,y) / ((avgₖcos(x,·) + avgₖcos(·,y)) / 2)
    *
    * Exactness (the q47/q83 disciplines composed): cosines are the
    * scaled-integer-exact [[graft.functions.cosineExact]]; each is
    * floor-quantized to a scale-9 long, so the neighborhood sums are
    * exact integers, and the margin is ONE IEEE division of exact
    * values — hash-replayable in any engine. The mined flag and the
    * mutual-best selection (margin desc, id asc tiebreak) therefore
    * replay too.
    *
    * Scale design: candidate generation is pluggable via `topKFn` —
    * the default exact [[bruteForceTopK]] is the oracle vehicle; at
    * corpus scale pass [[adaptiveTopK]]-shaped candidates (both arms
    * re-rank with the same exact cosine, so the margin math is
    * unchanged). Everything downstream of the two top-k passes is
    * k-bounded: the neighborhood sums are one hash aggregate per
    * side, the mutual join carries (id, id, margin) triples only.
    *
    * Source and target ids must not collide across sides (they are
    * different corpora by definition); `excludeSelf` is off.
    *
    * Output: (src_id, tgt_id, cosine, margin, mutual_best, mined) for
    * every FORWARD candidate pair — `mined` = mutual margin-best AND
    * margin ≥ threshold; margin null when a degenerate neighborhood
    * denominator is ≤ 0.
    */
  def bitextMine(
      src: DataFrame, tgt: DataFrame,
      idCol: String, vecCol: String, k: Int,
      marginThreshold: Double = 1.0,
      topKFn: (DataFrame, DataFrame, String, String, Int) => DataFrame = null)
      : DataFrame = {
    require(k >= 1 && k <= 1024, s"bitextMine: k=$k")
    val c9 = (d: Column) => floor(d * lit(1000000000.0)).cast("long")
    val (fwdRanked, bwdRanked) =
      if (topKFn != null)
        (topKFn(src, tgt, idCol, vecCol, k), topKFn(tgt, src, idCol, vecCol, k))
      else {
        // Default exact path: ONE cross-product scoring pass serves
        // both directions (a naive bruteForceTopK per direction scores
        // every pair twice), with per-VECTOR norms hoisted out of the
        // pair loop — sqrt(decimalDot(v,v)) once per row, not once per
        // pair; cosine = dab/(sn·tn) is the value-identical expression
        // tree to cosineExact. The checkpoint bounds the work to one
        // pass; corpus-scale callers pass ANN candidates via topKFn
        // instead of the quadratic exact scorer.
        import graft.functions.decimalDotNative
        val s = src.select(col(idCol).as("src_id"), col(vecCol).as("sv"))
          .withColumn("sn", sqrt(decimalDotNative(col("sv"), col("sv"))))
        // fanned streamed side — see [[bruteForceTopK]]
        val t = graft.engine.Tables.fanOut(tgt.sparkSession, tgt)
          .select(col(idCol).as("tgt_id"), col(vecCol).as("tv"))
          .withColumn("tn", sqrt(decimalDotNative(col("tv"), col("tv"))))
        val scored = t.join(broadcast(s), lit(true))
          .select(col("src_id"), col("tgt_id"),
            try_divide(decimalDotNative(col("sv"), col("tv")),
              col("sn") * col("tn")).as("cosine"))
          .localCheckpoint(false)
        (rankTopK(scored.select(col("src_id").as("query_id"),
            col("tgt_id").as("neighbor_id"), col("cosine")), k, "cosine"),
          rankTopK(scored.select(col("tgt_id").as("query_id"),
            col("src_id").as("neighbor_id"), col("cosine")), k, "cosine"))
      }
    val fwd = fwdRanked
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("cosine"), c9(col("cosine")).as("c9"))
    val bwd = bwdRanked
      .select(col("query_id").as("tgt_id"), col("neighbor_id").as("src_id"),
        c9(col("cosine")).as("c9"))
    // neighborhood sums carry their ACTUAL member counts: a side with
    // fewer than k neighbors (corpus < k, null-cosine rows excluded by
    // rankTopK) must average over what it has — dividing by k there
    // deviates from the Artetxe–Schwenk ratio margin. When both sides
    // saturate (the usual regime), cnt_f + cnt_b = 2k and the value is
    // bit-identical to the fixed-2k form.
    val sumF = fwd.groupBy("src_id")
      .agg(sum(col("c9")).as("sum_f9"), count(col("c9")).as("cnt_f"))
    val sumB = bwd.groupBy("tgt_id")
      .agg(sum(col("c9")).as("sum_b9"), count(col("c9")).as("cnt_b"))
    // the Artetxe–Schwenk ratio margin: cos over the MEAN OF THE TWO
    // PER-NEIGHBORHOOD AVERAGES — 2·c9 / (sum_f/cnt_f + sum_b/cnt_b).
    // NOT the pooled average (c9·(cnt_f+cnt_b)/(sum_f+sum_b)): the two
    // differ whenever cnt_f ≠ cnt_b (one side saturated at k, the
    // other sub-k near a corpus edge) — the r10 ADVICE finding. Every
    // cast is explicit so the oracle's DuckDB expression is the
    // IEEE-identical shape (double÷double per side, then add, then
    // divide). Degenerate (≤ 0) denominators yield null, as before.
    def withMargin(pairs: DataFrame): DataFrame = {
      val denom =
        col("sum_f9").cast("double") / col("cnt_f").cast("double") +
          col("sum_b9").cast("double") / col("cnt_b").cast("double")
      pairs
        .join(sumF, Seq("src_id")).join(sumB, Seq("tgt_id"))
        .withColumn("margin",
          when(denom > 0, (col("c9") * lit(2L)).cast("double") / denom))
    }
    // forward best target per source / backward best source per target
    // — both by (margin desc, partner id asc), k-bounded inputs
    val fm = withMargin(fwd)
    val bestF = fm
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src_id")
          .orderBy(col("margin").desc_nulls_last, col("tgt_id"))))
      .where(col("__r") === 1).drop("__r")
    val bestB = withMargin(bwd)
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("tgt_id")
          .orderBy(col("margin").desc_nulls_last, col("src_id"))))
      .where(col("__r") === 1)
      .select(col("src_id"), col("tgt_id"), lit(true).as("__bb"))
    fm.join(bestF.select(col("src_id"), col("tgt_id"), lit(true).as("__bf")),
        Seq("src_id", "tgt_id"), "left")
      .join(bestB, Seq("src_id", "tgt_id"), "left")
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("margin"),
        (coalesce(col("__bf"), lit(false)) && coalesce(col("__bb"), lit(false)))
          .as("mutual_best"))
      .withColumn("mined", coalesce(
        col("mutual_best") && col("margin") >= lit(marginThreshold),
        lit(false)))
  }
}
