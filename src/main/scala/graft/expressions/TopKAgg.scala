package graft.expressions

import org.apache.spark.sql.DoubleLongInputTypes
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Primitive-buffer top-k buffer: parallel (values, keys) arrays, no
  * per-entry boxing. Two regimes, mirroring the legacy encoder-based
  * aggregator's two paths exactly (`graft.ops.TopK.TopKAggregator`,
  * kept as the semantics oracle):
  *
  *  - k ≤ [[TopKBuf.PerInsertTrimMax]]: the buffer is kept SORTED
  *    (value desc, key asc — Spark/Scala total order on doubles, so
  *    NaN ranks worst and 0.0 above -0.0) and capped at k; an insert
  *    that is worse than the current k-th best is dropped in O(1),
  *    anything else shifts into place with one arraycopy. This is the
  *    production search shape: the map-side partial buffer crossing
  *    the shuffle carries ≤ k entries per group per partition.
  *  - k > PerInsertTrimMax (the generous-shortlist identity arms,
  *    k ≈ corpus): inserts append loosely and a trim amortizes at 2k
  *    — O(log k) per row instead of a per-insert O(k) shift. Top-k is
  *    monotone, so trimming a loose buffer to its best k keeps
  *    exactly the global answer.
  *
  * `distinctKeys` collapses duplicate keys. The caller contract
  * (ANN multi-probe / mixed-generation candidates) guarantees
  * duplicate keys carry the IDENTICAL value, so duplicates are
  * adjacent under the sort order and a dedup needs no hash state:
  * the sorted path skips an insert whose exact (value, key) already
  * sits at the insertion point; the loose path drops adjacent exact
  * duplicates during each trim.
  */
final class TopKBuf(val k: Int, val distinctKeys: Boolean) {
  import TopKBuf.cmp

  private val loose = k > TopKBuf.PerInsertTrimMax
  private var cap = if (loose) math.min(2 * k, 16) else k
  var values: Array[Double] = new Array[Double](cap)
  var keys: Array[Long] = new Array[Long](cap)
  var n: Int = 0

  /** Insert one entry (sorted regime: keep best k sorted; loose
    * regime: append, trim at 2k).
    */
  def insert(v: Double, key: Long): Unit =
    if (loose) {
      if (n == cap && cap < 2 * k) grow()
      if (n == 2 * k) trim()
      values(n) = v
      keys(n) = key
      n += 1
    } else {
      if (n == k && cmp(v, key, values(n - 1), keys(n - 1)) >= 0) return
      // position: first index whose entry is worse than (v, key) —
      // scan from the tail (inserts cluster at the bad end)
      var pos = n
      while (pos > 0 && cmp(v, key, values(pos - 1), keys(pos - 1)) < 0)
        pos -= 1
      // the scan stops at the first not-worse entry; an exact
      // duplicate (cmp == 0 ⟺ value-equal ∧ key-equal, NaN-safe via
      // the total order) can only sit exactly there — at most one
      // exists because this branch never inserts a second
      if (distinctKeys && pos > 0 &&
          cmp(v, key, values(pos - 1), keys(pos - 1)) == 0)
        return
      val last = math.min(n, k - 1)
      if (last > pos) {
        System.arraycopy(values, pos, values, pos + 1, last - pos)
        System.arraycopy(keys, pos, keys, pos + 1, last - pos)
      }
      values(pos) = v
      keys(pos) = key
      if (n < k) n += 1
    }

  private def grow(): Unit = {
    cap = math.min(2 * k, cap * 2)
    values = java.util.Arrays.copyOf(values, cap)
    keys = java.util.Arrays.copyOf(keys, cap)
  }

  /** Loose-regime compaction: sort (value desc, key asc), drop
    * adjacent exact duplicates when distinct, cut to k. "Exact" is the
    * sort's own total order ([[TopKBuf.cmp]] == 0), as in the sorted
    * regime: IEEE `==` would keep NaN duplicates (NaN != NaN).
    */
  def trim(): Unit = {
    if (!loose) return
    TopKBuf.sortPairs(values, keys, n)
    if (distinctKeys && n > 1) {
      var w = 1
      var i = 1
      while (i < n) {
        if (cmp(values(i), keys(i), values(w - 1), keys(w - 1)) != 0) {
          values(w) = values(i); keys(w) = keys(i); w += 1
        }
        i += 1
      }
      n = w
    }
    if (n > k) n = k
  }

  /** Capacity for `m` raw slots (deserialize writes directly). */
  def ensure(m: Int): Unit =
    if (cap < m) {
      cap = m
      values = java.util.Arrays.copyOf(values, cap)
      keys = java.util.Arrays.copyOf(keys, cap)
    }

  def mergeFrom(o: TopKBuf): Unit = {
    var i = 0
    if (loose) {
      while (i < o.n) { insert(o.values(i), o.keys(i)); i += 1 }
    } else {
      // other buffer is sorted best-first: stop at the first entry
      // that would be dropped (everything after it is worse)
      while (i < o.n && !(n == k &&
          cmp(o.values(i), o.keys(i), values(n - 1), keys(n - 1)) >= 0)) {
        insert(o.values(i), o.keys(i))
        i += 1
      }
    }
  }
}

object TopKBuf {
  /** Sorted-regime bound — the legacy aggregator's measured crossover
    * (r16): above it a per-insert O(k) shift loses to the amortized
    * trim.
    */
  val PerInsertTrimMax = 64

  /** Total order: value DESC then key ASC, with Scala/Spark double
    * total-order semantics via negation — `sortBy(e => (-e.value,
    * e.key))` of the legacy aggregator: NaN negates to NaN which is
    * GREATEST ascending, so NaN-valued entries rank worst; -0.0
    * ranks below 0.0 descending. Returns <0 when (v1,k1) is BETTER.
    */
  @inline def cmp(v1: Double, k1: Long, v2: Double, k2: Long): Int = {
    val c = java.lang.Double.compare(-v1, -v2)
    if (c != 0) c else java.lang.Long.compare(k1, k2)
  }

  /** In-place dual-pivot-free quicksort of parallel (values, keys)
    * prefixes under [[cmp]], insertion-sort base case. Median-of-3
    * pivot; entries equal to the pivot partition stably enough for a
    * total order (exact duplicates end up adjacent, which is all the
    * distinct pass needs).
    */
  def sortPairs(values: Array[Double], keys: Array[Long], n: Int): Unit =
    qsort(values, keys, 0, n - 1)

  private def qsort(vs: Array[Double], ks: Array[Long], lo0: Int, hi0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    while (hi - lo > 15) {
      // median of three → pivot at lo
      val mid = lo + (hi - lo) / 2
      if (cmp(vs(mid), ks(mid), vs(lo), ks(lo)) < 0) swap(vs, ks, mid, lo)
      if (cmp(vs(hi), ks(hi), vs(lo), ks(lo)) < 0) swap(vs, ks, hi, lo)
      if (cmp(vs(hi), ks(hi), vs(mid), ks(mid)) < 0) swap(vs, ks, hi, mid)
      val pv = vs(mid); val pk = ks(mid)
      var i = lo
      var j = hi
      while (i <= j) {
        while (cmp(vs(i), ks(i), pv, pk) < 0) i += 1
        while (cmp(vs(j), ks(j), pv, pk) > 0) j -= 1
        if (i <= j) { swap(vs, ks, i, j); i += 1; j -= 1 }
      }
      // recurse into the smaller half, loop on the larger
      if (j - lo < hi - i) { qsort(vs, ks, lo, j); lo = i }
      else { qsort(vs, ks, i, hi); hi = j }
    }
    // insertion sort base case
    var i = lo + 1
    while (i <= hi) {
      val v = vs(i); val k = ks(i)
      var j = i - 1
      while (j >= lo && cmp(v, k, vs(j), ks(j)) < 0) {
        vs(j + 1) = vs(j); ks(j + 1) = ks(j); j -= 1
      }
      vs(j + 1) = v; ks(j + 1) = k
      i += 1
    }
  }

  @inline private def swap(vs: Array[Double], ks: Array[Long], a: Int, b: Int): Unit = {
    val tv = vs(a); vs(a) = vs(b); vs(b) = tv
    val tk = ks(a); ks(a) = ks(b); ks(b) = tk
  }
}

/** Native bounded top-k aggregate — the
  * [[graft.ops.TopK.TopKAggregator]] semantics (that encoder-based
  * udaf stays as the spec oracle) on primitive buffers: no per-row
  * Entry allocation, no encoder round-trip, no per-insert Seq sort.
  * Same plan shape (TypedImperativeAggregate → ObjectHashAggregate
  * with map-side partial aggregation, ≤ k rows per group per
  * partition across the exchange), less per-row work — guide §1.2
  * step 2 applied to every ranking path (ANN search/rerank, BM25,
  * DSIR, token-budget sampling, fine-centroid caps).
  *
  * Output: array<struct<value double, key long>> sorted best-first
  * (value desc, key asc; NaN-valued entries rank worst) — the exact
  * column the legacy udaf produced. Null value or key inputs throw,
  * as the legacy encoder path did ("Null value appeared in
  * non-nullable field"); every call site guards or guarantees
  * non-null.
  */
case class TopKAgg(
    left: Expression,
    right: Expression,
    k: Int,
    distinctKeys: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf]
  with BinaryLike[Expression] with DoubleLongInputTypes {
  require(k > 0, s"topk: k must be positive, got $k")

  override def prettyName: String =
    if (distinctKeys) "topk_distinct" else "topk"
  override def nullable: Boolean = false
  override def dataType: DataType = TopKAgg.OutputType

  override def createAggregationBuffer(): TopKBuf =
    new TopKBuf(k, distinctKeys)

  override def update(b: TopKBuf, input: InternalRow): TopKBuf = {
    val v = left.eval(input)
    val key = right.eval(input)
    if (v == null || key == null)
      throw new NullPointerException(
        s"$prettyName: null ${if (v == null) "value" else "key"} input — " +
          "filter nulls ahead of the ranking (rankTopK does)")
    b.insert(v.asInstanceOf[Double], key.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuf, o: TopKBuf): TopKBuf = {
    b.mergeFrom(o)
    b
  }

  override def eval(b: TopKBuf): Any = {
    b.trim()
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      rows(i) = InternalRow(b.values(i), b.keys(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Buffers cross the partial/final shuffle trimmed to k (the loose
    * regime trims before packing — monotone, so the final answer is
    * unchanged and the exchange never carries more than k entries).
    */
  override def serialize(b: TopKBuf): Array[Byte] = {
    b.trim()
    val out = java.nio.ByteBuffer.allocate(4 + 16 * b.n)
    out.putInt(b.n)
    var i = 0
    while (i < b.n) { out.putDouble(b.values(i)); i += 1 }
    i = 0
    while (i < b.n) { out.putLong(b.keys(i)); i += 1 }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt
    val b = new TopKBuf(k, distinctKeys)
    b.ensure(n) // loose-regime buffers start below k slots
    var i = 0
    while (i < n) { b.values(i) = in.getDouble; i += 1 }
    i = 0
    while (i < n) { b.keys(i) = in.getLong; i += 1 }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAgg =
    copy(left = newLeft, right = newRight)
}

object TopKAgg {
  /** Exactly the legacy udaf's result column type. */
  val OutputType: DataType = ArrayType(
    StructType(Seq(
      StructField("value", DoubleType, nullable = false),
      StructField("key", LongType, nullable = false))),
    containsNull = false)
}
