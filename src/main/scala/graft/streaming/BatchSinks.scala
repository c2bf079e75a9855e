package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** foreachBatch sink patterns. Structured Streaming guarantees each
  * micro-batch a stable `batchId` that is REPLAYED with the same id
  * after a failure — exactly-once delivery is then the sink's job:
  * make the write idempotent in `batchId` and a replay overwrites
  * itself instead of duplicating.
  */
object BatchSinks extends org.apache.spark.internal.Logging {

  /** Streaming GPT-style loader layout: each micro-batch of curated
    * docs EXTENDS the persisted token-stream layout exactly-once —
    * [[graft.ops.Packing.tokenStreamOffsets]]'s incremental `base`
    * hook composed with batch-owned output: batch `i` owns directory
    * `batch_id=i` (overwrite mode), a hive-style partition column that
    * `spark.read.parquet(outDir)` sees as a queryable column.
    *
    * `base` for batch i is the token mass of all PRIOR batches
    * (batch_id < i), recomputed from the COMMITTED output on every
    * invocation — never carried in driver memory. That recompute is
    * what makes a replay safe: a re-delivered batch i re-reads the
    * same prior set (its own directory is excluded by the predicate,
    * whether or not its earlier write completed), derives the same
    * base, lays out identically, and overwrites its own directory.
    * batch₁ ++ batch₂ ++ … is therefore bit-identical to laying out
    * the concatenation in one pass (spec-pinned across ≥3 batches
    * with an injected replay).
    *
    * Scale shape: the base recompute is one sum over the layout
    * table's `n_tokens` column (columnar scan of a manifest-sized
    * table — rows ∝ docs ingested, ~24 bytes each, with partition
    * pruning on batch_id); the layout itself is the bucketed prefix
    * sum. For very long streams, a per-batch total side-table would
    * drop the recompute to O(batches) — not needed until the manifest
    * itself is billions of rows.
    */
  def tokenStreamSink(outDir: String, idCol: String, tokensCol: String,
      window: Long, nBuckets: Int = 1024)(df: DataFrame, batchId: Long): Unit = {
    val spark = df.sparkSession
    def batchIds(p: String): Seq[Long] = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Seq.empty
      else fs.listStatus(path).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .flatMap(n => n.stripPrefix("batch_id=").toLongOption)
    }
    // base = token mass of PRIOR batches. Primary source: the 1-row-
    // per-batch totals side-table (`_totals/` — underscore-hidden from
    // the layout's own parquet discovery), O(batches) rows however
    // many docs have streamed. Prior LAYOUT batches with no totals row
    // (written before the side-table existed — a mixed-generation
    // layout) are summed from the manifest itself; summing only the
    // covered set from totals and only the uncovered set from the
    // manifest is what keeps the two generations from double- or
    // under-counting. Everything excludes batch i's own rows, which is
    // what makes a replay recompute the identical base whether or not
    // its earlier write completed.
    // the batch frame feeds FOUR evaluations below (prefix-sum stats/
    // totals/output + the batch total) and its upstream plan may be an
    // arbitrary curation pipeline — evaluate it once
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val priorLayout = batchIds(outDir).filter(_ < batchId)
    // covered = batches with a COMMITTED totals ROW. Gate the read on
    // the presence of an actual data file, not directory names: a
    // crash between creating _totals/batch_id=N and committing its
    // parquet (the very first batch especially) leaves a footer-less
    // tree, and spark.read.parquet on it throws "unable to infer
    // schema". Such a tree counts as fully uncovered — every prior
    // batch falls back to the manifest sum, which is correct (slower,
    // never wrong). Committer temp dirs (`_temporary`, dot-files) are
    // not data.
    def hasDataFiles(p: String): Boolean = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(path) && {
        val base = path.toUri.getPath
        val it = fs.listFiles(path, true)
        var found = false
        while (!found && it.hasNext) {
          val f = it.next()
          // hidden-ness is a property of EVERY path segment below the
          // base, not just the leaf: a part file nested under a
          // committer's _temporary tree is not data
          val rel = f.getPath.toUri.getPath.stripPrefix(base)
            .split('/').filter(_.nonEmpty)
          found = f.getLen > 0 &&
            rel.forall(s => !s.startsWith("_") && !s.startsWith("."))
        }
        found
      }
    }
    val totalsRows: Map[Long, Long] =
      if (!hasDataFiles(s"$outDir/_totals")) Map.empty
      else
        try spark.read.parquet(s"$outDir/_totals")
          .where(col("batch_id") < batchId)
          // the hive partition column infers as INT for small ids —
          // normalize before the typed collect
          .select(col("batch_id").cast("long"), col("n_tokens").cast("long"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        catch {
          // belt over the braces: ANY read failure on the totals tree
          // (footer-less fragments surface as SparkException, not just
          // AnalysisException) degrades to "nothing covered" — the
          // manifest fallback is always correct, only slower — instead
          // of wedging the stream on an optimization side-table
          case scala.util.control.NonFatal(e) =>
            logWarning(s"unreadable _totals tree at $outDir/_totals — " +
              s"falling back to the manifest sum: $e")
            Map.empty
        }
    val fromTotals = totalsRows.values.sum
    val uncovered = priorLayout.filterNot(totalsRows.keySet)
    val fromManifest =
      if (uncovered.isEmpty) 0L
      else spark.read.parquet(outDir)
        .where(col("batch_id").isin(uncovered.map(java.lang.Long.valueOf): _*))
        .agg(coalesce(sum(col("n_tokens")), lit(0L)))
        .head().getLong(0)
    val base = fromTotals + fromManifest
    try {
      val laid = graft.ops.Packing.tokenStreamOffsets(
        cached, idCol, tokensCol, window, nBuckets, base)
      // ONE aggregation job computes both per-batch scalars the sink
      // needs (row count for file sizing, token total for the totals
      // row) — they were two separate actions over the cached batch
      // (r16, guide §1.2: don't pass over the data twice for two
      // scalars one pass can produce)
      val scalars = cached.agg(count(lit(1)).as("n"),
        coalesce(sum(col(tokensCol).cast("long")), lit(0L)).as("t")).head()
      val (nRows, total) = (scalars.getLong(0), scalars.getLong(1))
      // right-size the manifest write: the layout is METADATA (~24 B
      // per doc), so ~4M rows fill a ~100 MB part file — ONE file per
      // micro-batch until a batch carries millions of docs. Without
      // this the prefix sum's shuffle width leaked into the on-disk
      // layout as 32 near-empty files per batch, and a day of hourly
      // batches splintered the manifest into ~770 files (r11 audit);
      // the downstream rehydration scan's partition count tracks FILE
      // count at manifest sizes, so the file arithmetic here is what
      // keeps reads bounded by data volume, not batch count.
      val nFiles = math.max(1L, nRows / 4000000L).toInt
      laid.repartition(nFiles)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      // totals AFTER the layout: a crash between the two writes leaves
      // this batch's totals row absent, and the replay (same batchId)
      // rewrites both — prior batches' totals are complete by the time
      // the stream advances past them
      cached.sparkSession.range(1).select(lit(total).as("n_tokens"))
        .write.mode("overwrite").parquet(s"$outDir/_totals/batch_id=$batchId")
    } finally cached.unpersist(blocking = false)
  }
}
