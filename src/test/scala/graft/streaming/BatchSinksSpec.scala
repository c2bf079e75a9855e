package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import java.nio.file.Files

class BatchSinksSpec extends SparkSpecBase {
  import spark.implicits._

  test("tokenStreamSink: streamed layout across 3 batches + a replay ≡ one-pass layout") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft_tssink").toString
    // three micro-batches of (doc_id, n_tokens), disjoint ids
    val batches = Seq(
      Seq((1L, 100L), (2L, 50L), (3L, 0L)),      // incl. an empty doc
      Seq((10L, 75L), (11L, 200L)),
      Seq((20L, 30L), (21L, 60L), (22L, 10L)))
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("doc_id", "n_tokens").writeStream
      .foreachBatch(
        BatchSinks.tokenStreamSink(out, "doc_id", "n_tokens", window = 64L) _)
      .start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // inject a REPLAY of batch 1 (failure after write, before commit):
    // the sink must recompute the same base and overwrite itself
    BatchSinks.tokenStreamSink(out, "doc_id", "n_tokens", window = 64L)(
      batches(1).toDF("doc_id", "n_tokens"), 1L)
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_tokens", "start_offset", "first_window", "last_window")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    // one-pass reference over the concatenation: batches laid out in
    // arrival order (each batch's docs in doc_id order, as the
    // bucketed prefix sum orders within a batch)
    val onePass = {
      var off = 0L
      batches.flatMap(_.sortBy(_._1)).map { case (id, n) =>
        val r = (id, n, off,
          if (n > 0) Some(off / 64L) else None,
          if (n > 0) Some((off + n - 1) / 64L) else None)
        off += n
        r
      }.sortBy(_._1)
    }
    assert(streamed.toSeq == onePass, s"\n$streamed\nvs\n$onePass")
    // replay left exactly one layout row per doc
    assert(streamed.map(_._1).distinct.length == streamed.length)
    // the totals side-table carries one exact row per batch (the
    // O(batches) base source), hidden from the layout read above
    val totals = spark.read.parquet(s"$out/_totals")
      .select("batch_id", "n_tokens")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(totals == Seq((0L, 150L), (1L, 275L), (2L, 100L)), totals)
  }

  test("tokenStreamSink: pre-side-table layouts still derive the right base") {
    // a layout written WITHOUT the totals table (older sink version or
    // hand-seeded) must not reset offsets to zero on the next batch
    val out = Files.createTempDirectory("graft_tssink2").toString
    Seq((1L, 40L)).toDF("doc_id", "n_tokens")
      .withColumn("start_offset", lit(0L))
      .withColumn("first_window", lit(0L)).withColumn("last_window", lit(0L))
      .write.parquet(s"$out/batch_id=0")
    BatchSinks.tokenStreamSink(out, "doc_id", "n_tokens", window = 64L)(
      Seq((2L, 10L)).toDF("doc_id", "n_tokens"), 1L)
    val row = spark.read.parquet(out).where("doc_id = 2")
      .select("start_offset").as[Long].head()
    assert(row == 40L, s"base must come from the manifest fallback, got $row")
    // MIXED generation: batch 1 wrote a totals row, batch 0 has none —
    // batch 2's base must be manifest(batch0) + totals(batch1), not
    // just the covered slice (the r9 review finding)
    BatchSinks.tokenStreamSink(out, "doc_id", "n_tokens", window = 64L)(
      Seq((3L, 5L)).toDF("doc_id", "n_tokens"), 2L)
    val off3 = spark.read.parquet(out).where("doc_id = 3")
      .select("start_offset").as[Long].head()
    assert(off3 == 50L, s"mixed-generation base must be 40+10, got $off3")
  }

  test("tokenStreamSink: a footer-less _totals tree (crash between layout " +
      "and totals writes) does not wedge the stream") {
    // the ADVICE r9 medium finding: a crash AFTER creating
    // _totals/batch_id=N but BEFORE committing its parquet leaves a
    // directory with no data file; spark.read.parquet on it throws
    // "unable to infer schema". The sink must treat that tree as fully
    // uncovered (manifest fallback), not die in base computation.
    val out = Files.createTempDirectory("graft_tssink3").toString
    // batch 0's layout committed, its totals dir created but rowless —
    // exactly the crash-between-writes remnant
    Seq((1L, 40L)).toDF("doc_id", "n_tokens")
      .withColumn("start_offset", lit(0L))
      .withColumn("first_window", lit(0L)).withColumn("last_window", lit(0L))
      .write.parquet(s"$out/batch_id=0")
    Files.createDirectories(java.nio.file.Paths.get(out, "_totals", "batch_id=0"))
    // a zero-byte fragment must count as no-data too
    Files.createFile(
      java.nio.file.Paths.get(out, "_totals", "batch_id=0", "part-00000.parquet"))
    // the replayed stream advances: batch 1 must derive base=40 from
    // the manifest and overwrite nothing it doesn't own
    BatchSinks.tokenStreamSink(out, "doc_id", "n_tokens", window = 64L)(
      Seq((2L, 10L)).toDF("doc_id", "n_tokens"), 1L)
    val off2 = spark.read.parquet(out).where("doc_id = 2")
      .select("start_offset").as[Long].head()
    assert(off2 == 40L, s"footer-less _totals must fall back to manifest, got $off2")
    // and the very-first-batch shape: ONLY the rowless _totals exists
    val out2 = Files.createTempDirectory("graft_tssink4").toString
    Files.createDirectories(java.nio.file.Paths.get(out2, "_totals", "batch_id=0"))
    BatchSinks.tokenStreamSink(out2, "doc_id", "n_tokens", window = 64L)(
      Seq((7L, 20L)).toDF("doc_id", "n_tokens"), 0L)
    val off7 = spark.read.parquet(out2).where("doc_id = 7")
      .select("start_offset").as[Long].head()
    assert(off7 == 0L, s"first-batch replay over a rowless _totals must lay out at 0, got $off7")
  }

  test("tokenStreamSink: one manifest file per batch; the rehydration scan " +
      "stays bounded by files, not shuffle width x batches") {
    // the r11 small-file audit: the per-batch layout write used to
    // carry the prefix sum's full shuffle width (32 near-empty files
    // per micro-batch), so a long stream splintered the manifest and
    // the loader-side scan partition count grew 32x faster than the
    // batch count. The sink now right-sizes the manifest write
    // (max(1, rows/4M) files); at toy scale that is EXACTLY one file
    // per batch, and the q136/q137 read path must stay value-correct
    // across all the batch directories.
    import graft.ops.Packing
    val out = Files.createTempDirectory("graft_tssink_files").toString
    val nBatches = 12
    for (k <- 0 until nBatches) {
      val b = Seq((k * 100L + 1L, 40L), (k * 100L + 2L, 30L))
        .toDF("doc_id", "n_tokens")
      BatchSinks.tokenStreamSink(out, "doc_id", "n_tokens", window = 64L)(
        b, k.toLong)
    }
    val outPath = new org.apache.hadoop.fs.Path(out)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.Buffer[String]()
      while (it.hasNext) {
        val f = it.next().getPath
        val rel = f.toUri.getPath.stripPrefix(outPath.toUri.getPath)
          .split('/').filter(_.nonEmpty)
        if (f.getName.endsWith(".parquet") && f.getName.startsWith("part-") &&
          rel.forall(seg => !seg.startsWith("_") && !seg.startsWith(".")))
          buf += f.toUri.getPath
      }
      buf.toSeq
    }
    assert(dataFiles(outPath).size == nBatches,
      s"expected ONE manifest file per batch, got ${dataFiles(outPath)}")
    val layout = spark.read.parquet(out)
    // scan parallelism tracks the (right-sized) file population — the
    // pre-fix behavior was ~32x this
    assert(layout.rdd.getNumPartitions <= nBatches,
      s"scan partitions ${layout.rdd.getNumPartitions} exceed file count")
    // the loader read path across ALL batch dirs: window manifest +
    // shard ranges stay value-exact over the multi-batch layout
    val manifest = Packing.windowManifest(
      layout.select("doc_id", "n_tokens", "start_offset",
        "first_window", "last_window"), window = 64L)
    val mass = nBatches * 70L
    val nWindows = (mass + 63L) / 64L
    assert(manifest.select("window_id").distinct().count() == nWindows,
      "every window of the streamed mass must appear in the manifest")
    assert(manifest.groupBy("window_id")
      .agg(org.apache.spark.sql.functions.sum("tokens_in_window").as("t"))
      .where(org.apache.spark.sql.functions.col("t") =!=
        org.apache.spark.sql.functions.lit(64L))
      .count() <= 1, "only the tail window may be partial")
    val shards = Packing.shardManifest(manifest, nShards = 4)
    val covered = shards.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.col("n_windows"))).head().getLong(0)
    assert(covered == nWindows, s"shards cover $covered of $nWindows windows")
  }
}
