package graft

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-expression building blocks shared across the engine.
  *
  * All are thin wrappers over codegen'd built-ins — no UDFs — so every
  * use stays inside whole-stage codegen and is pushdown/prune friendly.
  */
package object functions {

  /** Postgres day-of-week convention: Sunday = 0 .. Saturday = 6.
    *
    * The reference derives `day_of_week` with `EXTRACT(DOW FROM ...)`
    * (reference `IowaLiquor-RDS.session.sql:117-120`), which is Sun=0;
    * Spark's `dayofweek` is Sun=1, hence the -1 (SURVEY.md §2.6 F7).
    */
  def pgDow(c: Column): Column = (dayofweek(c) - lit(1)).cast("int")

  /** `is_weekend` flag per the reference's `EXTRACT(DOW ...) IN (0, 6)`
    * (reference `IowaLiquor-RDS.session.sql:121-126`, F8).
    */
  def isWeekend(c: Column): Column = pgDow(c).isin(0, 6)

  /** Null-on-error numeric coercion with zero-fill: the reference's
    * `pd.to_numeric(c, errors="coerce").fillna(0)`
    * (reference `src/transform.py:15-21`, F2). Unparseable → 0, not
    * NULL — preserved exactly (SURVEY.md §7.4 risk 1). `try_cast`
    * because Spark 4 runs ANSI mode by default (plain cast throws).
    */
  def coerceNumeric(c: Column, dt: DecimalType): Column =
    coalesce(c.try_cast(dt), lit(0).cast(dt))

  /** Null-on-error timestamp coercion: the reference's
    * `pd.to_datetime(..., errors="coerce")` (reference
    * `src/transform.py:12`, F1): `try_cast` yields NULL on parse
    * failure under ANSI mode.
    */
  def coerceTimestamp(c: Column): Column = c.try_cast("timestamp")

  /** Exact-decimal money cast used so aggregates are order-independent
    * and DuckDB-oracle-exact (SURVEY.md §7.4 risk 3): decimal sums are
    * associative, double sums are not.
    */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal with 3 fractional digits (volumes: sale_liters /
    * sale_gallons analog, reference `include/sql/create_table.sql:24-25`).
    */
  def volume(c: Column): Column = c.cast(DecimalType(18, 3))

  /** Exact dot product over float-array columns with every element
    * rounded to DECIMAL(12,6): decimal multiplication and summation are
    * exact and order-independent, so the result is bit-identical across
    * engines — the trick that makes similarity queries oracle-checkable
    * (double summation would be order-dependent).
    */
  def decimalDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("decimal(12,6)") * y.cast("decimal(12,6)")),
      // acc precision 30: (30,12)+(25,12) -> (32,12) stays under 38, so
      // the addition is EXACT. A (38,12) acc would make every addition
      // overflow to (38,11) and silently round each partial sum.
      lit(0).cast("decimal(30,12)"),
      (acc, v) => (acc + v).cast("decimal(30,12)"))

  /** Native scaled-long dot product, bit-identical to
    * `decimalDot(a, b).cast("double")` (spec-enforced) — use in hot
    * paths that need oracle-exact similarity values.
    */
  def decimalDotNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(graft.expressions.DecimalScaledDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Native codegen'd integer dot of int8 code arrays
    * (graft.expressions.Int8Dot) — the quantized-candidate kernel.
    */
  def int8DotNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(graft.expressions.Int8Dot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Native codegen'd JL ±1 sign projection
    * (graft.expressions.RandomProjection) — bit-identical to the
    * declarative `Similarity.randomProjection` HOF arm (spec-enforced).
    */
  def randomProjectionNative(c: Column, outDim: Int): Column =
    GraftSqlBridge.column(graft.expressions.RandomProjection(
      GraftSqlBridge.expression(c), outDim))

  /** Native codegen'd MinHash signature (graft.expressions.MinHashSignature). */
  def minhashNative(c: Column, n: Int, numHashes: Int): Column =
    GraftSqlBridge.column(
      graft.expressions.MinHashSignature(GraftSqlBridge.expression(c), n, numHashes))

  /** Oracle-exact cosine: all three dots are scaled-integer-exact, and
    * sqrt/division are single correctly-rounded IEEE ops — the full
    * expression is bit-reproducible across engines when the oracle
    * mirrors the same shape.
    *
    * Domain bounds (scaled-long headroom): each term contributes
    * a·b·10^12 to a Long accumulator, so the sum must stay under
    * 2^63 ≈ 9.2e18 — |elements| ≤ ~300 at dim 64 (≈ 85 at dim 1024).
    * Unit-scale embeddings sit orders of magnitude inside; vectors
    * beyond it silently wrap. Elements with |x| below the 5e-7
    * quantum round to zero (NaN elements likewise quantize to zero) —
    * a vector of all sub-quantum elements has zero norm, and the
    * cosine is then NULL via try_divide (an unguarded division would
    * ABORT the whole job under Spark 4 ANSI DIVIDE_BY_ZERO — verified
    * empirically r7): a vector with no direction ranks as a neighbor
    * of nothing, consistent with Dedup.embeddingNearDupPairs'
    * map-side exclusion. Hot pair-join paths that have already
    * norm-filtered may divide directly.
    */
  def cosineExact(a: Column, b: Column): Column =
    try_divide(decimalDotNative(a, b),
      sqrt(decimalDotNative(a, a)) * sqrt(decimalDotNative(b, b)))

  /** Per-row vector norm for [[cosinePreNormed]] — exactly the
    * `sqrt(decimalDotNative(v, v))` sub-expression of [[cosineExact]].
    */
  def vecNormExact(v: Column): Column = sqrt(decimalDotNative(v, v))

  /** [[cosineExact]] with the two self-dot norms hoisted out of the
    * pair loop: `an`/`bn` are [[vecNormExact]] computed ONCE PER ROW
    * map-side; each candidate pair then pays one dot plus a
    * multiply/divide instead of three dots. `dot/(an·bn)` is
    * BIT-IDENTICAL to [[cosineExact]] — the same IEEE operations on
    * the same values, the sqrt just moved from per-pair to per-row
    * (the measured r7 `Dedup.embeddingNearDupPairs` discipline, now
    * shared by the ANN candidate re-rank).
    */
  def cosinePreNormed(a: Column, b: Column, an: Column, bn: Column): Column =
    try_divide(decimalDotNative(a, b), an * bn)

  /** Native one-pass [min,max] of char k-gram hashes (graft.expressions.GramHashRange). */
  def gramHashRangeNative(c: Column, k: Int): Column =
    GraftSqlBridge.column(
      graft.expressions.GramHashRange(GraftSqlBridge.expression(c), k))

  /** Native codegen'd word n-gram shingles (graft.expressions.WordShingles). */
  def wordShinglesNative(c: Column, n: Int): Column =
    GraftSqlBridge.column(
      graft.expressions.WordShingles(GraftSqlBridge.expression(c), n))

  /** Native per-document term frequencies over a token array — one
    * hash-counting pass emitting (term, tf) structs in first-
    * occurrence order (graft.expressions.TermFreqs); replaces the
    * |distinct|·|tokens| interpreted `transform(array_distinct, …
    * filter)` HOF chain of the BM25/TF-IDF postings build.
    */
  def termFreqsNative(c: Column): Column =
    GraftSqlBridge.column(
      graft.expressions.TermFreqs(GraftSqlBridge.expression(c)))

  /** Native codegen'd 64-bit SimHash (graft.expressions.SimHash64). */
  def simhash64Native(c: Column): Column =
    GraftSqlBridge.column(graft.expressions.SimHash64(GraftSqlBridge.expression(c)))

  /** Native hashed classifier feature buckets — unigram(+bigram)
    * polynomial-fold bucket ids in one compiled pass over the text
    * (graft.expressions.TokenBuckets).
    */
  def tokenBucketsNative(c: Column, nBuckets: Int, useBigrams: Boolean): Column =
    GraftSqlBridge.column(graft.expressions.TokenBuckets(
      GraftSqlBridge.expression(c), nBuckets, useBigrams))

  /** Native exact nearest-centroid assignment against a driver-built
    * [[graft.expressions.CentroidIndex]] — bit-identical to the
    * declarative flat argmax-dot scan (spec-enforced) at O(√k·dim)
    * expected per-row work.
    */
  def nearestCentroidNative(vec: Column,
      index: graft.expressions.CentroidIndex): Column =
    GraftSqlBridge.column(graft.expressions.NearestCentroid(
      GraftSqlBridge.expression(vec), index))

  /** Native exact top-n nearest cells (best first) — the multi-probe
    * twin of [[nearestCentroidNative]].
    */
  def nearestCellsNative(vec: Column,
      index: graft.expressions.CentroidIndex, nProbe: Int): Column =
    GraftSqlBridge.column(graft.expressions.NearestCells(
      GraftSqlBridge.expression(vec), index, nProbe))

  /** Native top-n nearest centroids against a PACKED column-carried
    * centroid matrix (array<array<double>>, pre-normalized) — the
    * fine layer of the two-level IVF quantizer; positions best-first.
    * See [[graft.expressions.NearestPackedCells]].
    */
  def nearestPackedCellsNative(vec: Column, packed: Column,
      nProbe: Int): Column =
    GraftSqlBridge.column(graft.expressions.NearestPackedCells(
      GraftSqlBridge.expression(vec), GraftSqlBridge.expression(packed),
      nProbe))

  /** Native PQ encode against a driver-built (tiny) codebook —
    * array<byte> of length m, NULL for corrupt vectors.
    */
  def pqEncodeNative(vec: Column,
      cb: graft.expressions.PqCodebook): Column =
    GraftSqlBridge.column(graft.expressions.PqEncode(
      GraftSqlBridge.expression(vec), cb))

  /** Native per-query PQ dot lookup table (array<float>, m·ks). */
  def pqDotLutNative(vec: Column,
      cb: graft.expressions.PqCodebook): Column =
    GraftSqlBridge.column(graft.expressions.PqDotLut(
      GraftSqlBridge.expression(vec), cb))

  /** Native LUT × codes asymmetric-distance score (m lookups). */
  def pqLutScoreNative(lut: Column, codes: Column, ks: Int): Column =
    GraftSqlBridge.column(graft.expressions.PqLutScore(
      GraftSqlBridge.expression(lut), GraftSqlBridge.expression(codes), ks))

  /** Native random-hyperplane LSH bucketing
    * (graft.expressions.LshBuckets): all nTables bucket ids of a float
    * vector in one compiled pass — bit-identical to the declarative
    * per-table HOF arm (spec-enforced).
    */
  def lshBucketsNative(vec: Column, nTables: Int, nPlanes: Int): Column =
    GraftSqlBridge.column(graft.expressions.LshBuckets(
      GraftSqlBridge.expression(vec), nTables, nPlanes))

  /** Native codegen'd codepoint fold hash (graft.expressions.FoldHash)
    * — `(acc·31 + codepoint) mod 1e9+7`, oracle-replayable for all
    * Unicode.
    */
  def foldHashNative(c: Column): Column =
    GraftSqlBridge.column(graft.expressions.FoldHash(
      GraftSqlBridge.expression(c)))

  /** Native codegen'd token-phrase match (graft.expressions.SubseqStarts):
    * 1-based starts where `needle` occurs contiguously in `haystack`.
    */
  def subseqStartsNative(haystack: Column, needle: Column): Column =
    GraftSqlBridge.column(graft.expressions.SubseqStarts(
      GraftSqlBridge.expression(haystack), GraftSqlBridge.expression(needle)))
}
