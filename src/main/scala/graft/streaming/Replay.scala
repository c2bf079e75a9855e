package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** Deterministic micro-batch REPLAY harness: drives a bounded frame
  * through a REAL Structured Streaming execution (file source,
  * `maxFilesPerTrigger=1`, `Trigger.AvailableNow`) and returns the
  * final state — so the streaming path itself (watermark plumbing,
  * state store, incremental aggregation) gets a driver CORRECTNESS
  * row, not just spec coverage (r7 verdict item 6).
  *
  * Determinism: the input is split into `nBatches` parquet files by
  * `pmod(splitCol, nBatches)` — a fixed partition of the rows — and
  * the aggregation runs in COMPLETE output mode, whose final table is
  * the aggregate over ALL arrived rows and therefore independent of
  * the batch arrival order the file lister happens to pick. The
  * replayed result must equal the batch twin exactly; the q106 oracle
  * is the same SQL as the batch rollup's.
  *
  * Scale shape: this harness is the TEST vehicle (bounded replay of a
  * fixture table through local files); production streams read the
  * same `hourlyRollupStream` plan from a real source — the operator
  * under test is identical, only the source differs.
  *
  * Every entry point runs on the same three private pieces:
  * [[withStage]] (the stage dir and its cleanup), [[frameStager]] or
  * [[stageModBatches]] (one file per micro-batch), and [[drain]] (the
  * file-source query, run to completion).
  */
object Replay {

  /** Fresh process-unique staging dir: two concurrent replay runs
    * (parallel CI, two users on one host) must never stage into the
    * same world-shared path — one run's cleanup would delete the
    * other's in-flight micro-batch files.
    */
  private def freshStageDir(tag: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_stream_replay_${tag}_" +
      java.util.UUID.randomUUID().toString

  /** Run `body` over a stage dir: `stageDir` (recreated if it exists)
    * or a fresh one, plus `dir + suffix` for each of `siblings`. The
    * listener bus is drained before the dirs are deleted, so no async
    * listener resolves a path that is already gone.
    */
  private def withStage[T](spark: SparkSession, stageDir: String,
      tag: String, siblings: String*)(body: (String, FileSystem) => T): T = {
    val dir = Option(stageDir).getOrElse(freshStageDir(tag))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val owned = (dir +: siblings.map(dir + _)).map(new Path(_))
    owned.foreach(p => if (fs.exists(p)) fs.delete(p, true))
    try body(dir, fs)
    finally {
      ListenerDrain.drain(spark)
      owned.foreach(fs.delete(_, true))
    }
  }

  /** Run `body` (which starts and drains this replay's streaming
    * queries) under a FEED-SIZED `spark.sql.shuffle.partitions`,
    * restoring the session value afterwards.
    *
    * Why (guide §2.2/§1.2, r16 measurement): a stateful micro-batch
    * pays one state-store open/commit per shuffle partition per
    * trigger REGARDLESS of data — at the session's cluster-width
    * default (32 here) the restart-recovery replay spent 368 executor-
    * seconds across 640 mostly-empty state tasks on a ~2 MB feed, with
    * per-task state commits (delta file + CRC) dominating. The honest
    * partition count for a stream's state is data-derived, exactly
    * like AQE derives batch partition counts: staged-feed bytes ÷ the
    * session's AQE advisory partition size, clamped to [1, session
    * default]. A production-sized feed (≥ advisory × width) keeps the
    * full session width — nothing here is tuned to the local core
    * count. Correctness is partition-count-independent (keyed state is
    * hash-distributed; every contract aggregates or sorts), and
    * restarts are safe either way: Structured Streaming pins
    * `shuffle.partitions` in the checkpoint's offset-log metadata at
    * first start and reuses it on every restart.
    */
  private def withFeedSizedShuffle[T](spark: SparkSession, fs: FileSystem,
      dir: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    val feedBytes =
      try fs.getContentSummary(new Path(dir)).getLength
      catch { case _: Throwable => Long.MaxValue } // unknown ⇒ keep session value
    val derived = math.max(1L, math.min(before.toLong,
      (feedBytes + advisory - 1) / advisory))
    spark.conf.set(key, derived.toString)
    try body finally spark.conf.set(key, before)
  }

  /** Per-frame staging into `dir`: `stage(frame, k)` writes `frame` as
    * one part file (= one micro-batch) and stamps it with an explicit
    * strictly-increasing mtime (10 s per batch step k): the file source
    * orders and groups files by timestamp, and wall-clock mtimes are
    * NOT guaranteed distinct on coarse-granularity filesystems (1-2 s
    * on some NFS/HFS+/FAT mounts) — a merged batch would flip the
    * replayed_multibatch proof bit on an otherwise-correct run.
    * Explicit stamps make the micro-batch sequence deterministic on
    * any filesystem; 10 s dwarfs every real mtime granularity.
    */
  private def frameStager(fs: FileSystem, dir: String): (DataFrame, Int) => Unit = {
    val path = new Path(dir)
    val seen = scala.collection.mutable.Set.empty[String]
    val base = System.currentTimeMillis() - 3600000L
    (frame, k) => {
      frame.coalesce(1).write.mode("append").parquet(dir)
      fs.listStatus(path).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && !seen.contains(p.getName))
        .foreach { p =>
          fs.setTimes(p, base + k * 10000L, -1)
          seen += p.getName
        }
    }
  }

  /** ONE staging job for all micro-batch files: rows mod-partition on
    * `modCol` into per-batch directories (each written as a single
    * part file — the value column is the repartition key, so exactly
    * one task holds each batch), then the files MOVE into the flat
    * stage dir with explicit strictly-increasing batch mtimes —
    * replacing nBatches sequential filtered scans with one pass.
    */
  private def stageModBatches(feed: DataFrame, modCol: String, dir: String,
      fs: FileSystem, nBatches: Int): Unit = {
    val base = System.currentTimeMillis() - 3600000L
    val stagedTmp = s"$dir/__staged"
    feed.withColumn("__b", pmod(col(modCol), lit(nBatches)))
      .repartition(nBatches, col("__b"))
      .write.partitionBy("__b").parquet(stagedTmp)
    for (k <- 0 until nBatches) {
      val sub = new Path(s"$stagedTmp/__b=$k")
      require(fs.exists(sub),
        s"micro-batch $k is empty — the replay needs rows in every batch")
      val parts = fs.listStatus(sub)
        .map(_.getPath).filter(_.getName.startsWith("part-"))
      require(parts.length == 1,
        s"staged micro-batch $k must be exactly one file, got ${parts.length}")
      val dst = new Path(dir, f"batch-$k%05d.parquet")
      fs.rename(parts.head, dst)
      fs.setTimes(dst, base + k * 10000L, -1)
    }
    fs.delete(new Path(stagedTmp), true)
  }

  /** The staged files in `dir` as a stream, one file per trigger. */
  private def open(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Drain the files staged in `dir` through `writer`'s query with
    * `Trigger.AvailableNow` under a feed-sized shuffle; returns the
    * query's progress, off which callers read data batches and
    * watermark drops.
    */
  private def drain(spark: SparkSession, fs: FileSystem, dir: String,
      schema: StructType)(
      writer: DataFrame => DataStreamWriter[_]): Array[StreamingQueryProgress] =
    withFeedSizedShuffle(spark, fs, dir) {
      val q = writer(open(spark, dir, schema))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress
    }

  private def dataBatches(p: Array[StreamingQueryProgress]): Int =
    p.count(_.numInputRows > 0)

  private def droppedByWatermark(p: Array[StreamingQueryProgress]): Long =
    p.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** A memory-sink writer under `name`, dropping the previous run's view. */
  private def toMemory(spark: SparkSession, name: String, mode: String)(
      ds: Dataset[_]): DataStreamWriter[_] = {
    spark.catalog.dropTempView(name)
    ds.writeStream.format("memory").queryName(name).outputMode(mode)
  }

  /** Replay a corpus through the STREAMING DECONTAMINATION GATE: the
    * benchmark's shingles fold into one bloom sketch OFFLINE (the
    * broadcast artifact, exactly like q129's classifier weights), and
    * each micro-batch is screened MAP-SIDE by
    * [[graft.ops.Dedup.bloomScreen]] — a stateless stream-legal
    * projection, so a live ingest stream can never leak benchmark
    * data into training output. Kept (= not flagged) doc ids land in
    * an append-mode memory sink; returns (kept ids, data batches).
    *
    * The bloom's one-sidedness carries over verbatim: a truly
    * contaminated document is flagged in WHICHEVER micro-batch it
    * arrives (no false negatives), so the streamed kept set equals
    * the batch screen's kept set row-for-row (q133's contract; the
    * batch/stream parity is also spec-pinned).
    */
  def decontamScreenReplay(spark: SparkSession, corpus: DataFrame,
      benchmark: DataFrame, n: Int = 3, benchShingles: Long = 4096L,
      nBatches: Int = 3, stageDir: String = null): (DataFrame, Int) = {
    require(nBatches >= 2, s"a replay needs ≥ 2 micro-batches, got $nBatches")
    withStage(spark, stageDir, "decontam") { (dir, fs) =>
      val feed = corpus.select(col("doc_id").cast("long").as("doc_id"),
        col("text"))
      stageModBatches(feed, "doc_id", dir, fs, nBatches)
      val name = "graft_replay_decontam"
      val p = drain(spark, fs, dir, feed.schema) { src =>
        toMemory(spark, name, "append")(graft.ops.Dedup.bloomScreen(src,
            "doc_id", "text", benchmark, "text", n, benchShingles)
          .where(!col("bloom_hit")).select("doc_id"))
      }
      (spark.table(name).localCheckpoint(true), dataBatches(p))
    }
  }

  /** Shared scaffold of the index-maintenance replays (ingest and
    * takedown): stage `feed` as `nBatches` mod-partitioned files,
    * stream them one file per trigger through `perBatch(batch,
    * batchId)`, then INJECT a replay of batch 0 through the same
    * callback (failure after commit, before the offset log advanced)
    * — so every consumer's exactly-once contract is exercised by the
    * harness, not assumed. The replay-fault predicate and the batchId→
    * file-order assumption live HERE, once (r11 review finding: the
    * two consumers had diverging copies). Returns data batches
    * observed.
    */
  private def indexFoldReplay(spark: SparkSession, feed: DataFrame,
      modCol: String, nBatches: Int, stageDir: String, tag: String)(
      perBatch: (DataFrame, Long) => Unit): Int = {
    require(nBatches >= 2, s"a replay needs ≥ 2 micro-batches, got $nBatches")
    withStage(spark, stageDir, tag) { (dir, fs) =>
      stageModBatches(feed, modCol, dir, fs, nBatches)
      val p = drain(spark, fs, dir, feed.schema)(
        _.writeStream.foreachBatch(perBatch))
      // injected REPLAY of the first batch under its original batchId
      perBatch(feed.where(pmod(col(modCol), lit(nBatches)) === 0), 0L)
      dataBatches(p)
    }
  }

  /** Replay a vector corpus through STREAMING INDEX INGEST: a seed
    * slice builds the persisted IVF index (and freezes the coarse
    * quantizer — the [[graft.ops.AnnIndex]] discipline), then each
    * micro-batch of new vectors appends EXACTLY-ONCE via
    * [[graft.ops.AnnIndex.appendToIvfIndex]] with `gen = batchId + 1`
    * — Structured Streaming's stable replayed batchId IS the append
    * generation, so the sink inherits idempotence from the
    * generation-overwrite contract with zero extra machinery (the
    * composition q132 + q106 exist to enable). An injected replay of
    * a completed batch is part of the harness. Returns (indexDir kept
    * under the caller-visible tmp*, data batches observed); the
    * caller searches the index and cleans up.
    */
  def indexIngestReplay(spark: SparkSession, seed: DataFrame,
      deltas: DataFrame, indexDir: String, nCells: Int,
      nBatches: Int = 3, stageDir: String = null): Int = {
    import graft.ops.AnnIndex
    AnnIndex.buildIvfIndex(seed, "vec_id", "embedding", indexDir,
      nCells = nCells, iters = 3)
    val feed = deltas.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"))
    indexFoldReplay(spark, feed, "vec_id", nBatches, stageDir,
      "ivfingest") { (batch, batchId) =>
      AnnIndex.appendToIvfIndex(spark, indexDir, batch,
        "vec_id", "embedding", gen = batchId + 1L)
      ()
    }
  }

  /** Replay a takedown feed through STREAMING INDEX DELETES: each
    * micro-batch of takedown ids tombstones EXACTLY-ONCE via
    * [[graft.ops.AnnIndex.deleteFromIvfIndex]] with `del = batchId + 1`
    * — the [[indexIngestReplay]] discipline on the delete side of the
    * stored-index lifecycle (the replayed batchId IS the tombstone
    * batch, idempotence inherited from the del-overwrite contract).
    * The index is built by the CALLER (the takedown stream has no
    * business owning the build, and the caller usually needs the
    * frozen centroids for its rebuild arm); an injected replay of a
    * completed batch is part of the harness. Returns data batches
    * observed; the caller searches/compacts and cleans up.
    */
  def takedownReplay(spark: SparkSession, takedowns: DataFrame,
      indexDir: String, nBatches: Int = 3, stageDir: String = null): Int = {
    import graft.ops.AnnIndex
    val feed = takedowns.select(col("vec_id").cast("long").as("vec_id"))
    indexFoldReplay(spark, feed, "vec_id", nBatches, stageDir,
      "ivftakedown") { (batch, batchId) =>
      AnnIndex.deleteFromIvfIndex(spark, indexDir, batch,
        "vec_id", del = batchId + 1L)
      ()
    }
  }

  /** Replay events through the APPEND-MODE watermarked rollup with a
    * deliberately LATE final micro-batch — the row that makes the
    * watermark's two promises checkable instead of assumed: (1) rows
    * arriving behind the watermark are DROPPED and the drop is
    * COUNTED (`numRowsDroppedByWatermark` summed over the run — no
    * silent data loss: the pipeline can reconcile drops against the
    * source), and (2) only FINALIZED windows (window end behind the
    * final watermark) are emitted downstream — append mode's
    * emit-once contract, the one a training-data sink needs to never
    * see a partially-filled hour.
    *
    * Batch order: the corpus, then an on-time `filler` batch (fresh
    * ids in the stream's final window — see the lag note below), then
    * `lateEvents` (old timestamps, fresh ids) squarely behind the
    * watermark. Returns (emitted windows, rows dropped by watermark,
    * data batches observed).
    */
  def lateDataReplay(spark: SparkSession, events: DataFrame,
      filler: DataFrame, lateEvents: DataFrame,
      watermark: String = "1 hour",
      stageDir: String = null): (DataFrame, Long, Int) =
    withStage(spark, stageDir, "latedata") { (dir, fs) =>
      // Spark runs TWO watermarks per batch (probed, r11): eviction
      // uses the watermark advanced by the PREVIOUS batch, while the
      // late-record FILTER lags one batch further (so data arriving in
      // the same batch that advanced the watermark isn't dropped).
      // Hence three batches: the corpus advances event time, the
      // on-time `filler` batch lets the filter watermark catch up, and
      // only THEN do the late rows arrive squarely behind it. The
      // filler must be on-time rows in the stream's final (unemitted)
      // window so it can never contaminate an emitted aggregate.
      Seq(events, filler, lateEvents).zipWithIndex
        .foreach(frameStager(fs, dir).tupled)
      val name = "graft_replay_latedata"
      val p = drain(spark, fs, dir, events.schema)(src =>
        toMemory(spark, name, "append")(
          EventStreams.hourlyRollupStream(src, watermark)))
      (spark.table(name).localCheckpoint(true), droppedByWatermark(p),
        dataBatches(p))
    }

  /** UPDATE-MODE arm of the watermarked hourly rollup — the dashboard
    * read path, where [[lateDataReplay]] is the training-sink read
    * path: the SAME watermark still drops late rows (promise 1 is
    * mode-independent), but instead of withholding a window until it
    * finalizes, every micro-batch emits the CURRENT partial for each
    * window it touched — partial-then-final sequencing, observable
    * here because each update lands tagged with its micro-batch id.
    *
    * Each element of `batches` stages as one file = one micro-batch
    * (event time should advance with batch index, the caller's
    * responsibility as in [[restartRecoveryReplay]]). Returns (every
    * emitted update as (batch_id, hour, event_type, n_events,
    * value_sum), rows dropped by the watermark, data batches
    * observed). Update-mode promises the caller can pin against the
    * closed-form batch aggregate: a window touched by k batches emits
    * ≤ k monotone partials; its LAST update equals the batch rollup
    * over the rows the watermark accepted; a batch whose rows were
    * all dropped updates NOTHING.
    */
  def hourlyRollupUpdateReplay(spark: SparkSession,
      batches: Seq[DataFrame], watermark: String = "1 hour",
      stageDir: String = null): (DataFrame, Long, Int) = {
    require(batches.size >= 2,
      s"a replay needs >= 2 micro-batches, got ${batches.size}")
    withStage(spark, stageDir, "rollupupd") { (dir, fs) =>
      val srcDir = s"$dir/src"
      val updDir = s"$dir/updates"
      batches.zipWithIndex.foreach(frameStager(fs, srcDir).tupled)
      val schema = batches.head.schema
      val p = drain(spark, fs, srcDir, schema)(src =>
        EventStreams.hourlyRollupStream(src, watermark)
          .writeStream.outputMode("update")
          .option("checkpointLocation", s"$dir/checkpoint")
          // update mode hands foreachBatch ONLY the groups this trigger
          // changed — tagging them with the batch id is what makes the
          // partial-then-final sequence a queryable frame
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.withColumn("batch_id", lit(batchId))
              .write.mode(SaveMode.Append).parquet(updDir)
            ()
          })
      // updDir exists only if some batch actually updated a group —
      // "a batch whose rows were all dropped updates NOTHING" is part
      // of the contract, so an all-dropped run must read as an EMPTY
      // update sequence, not an AnalysisException on a missing path.
      // The empty frame's schema is the STREAM's own schema plus the
      // batch_id tag foreachBatch adds — derived, not hard-coded, so
      // the two paths cannot drift if the rollup's output changes
      val updates =
        if (fs.exists(new Path(updDir))) spark.read.parquet(updDir)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          EventStreams.hourlyRollupStream(open(spark, srcDir, schema),
            watermark).schema.add("batch_id", LongType))
      (updates.localCheckpoint(true), droppedByWatermark(p), dataBatches(p))
    }
  }

  /** One kill-and-restart recovery run's observables — see
    * [[restartRecoveryReplay]].
    */
  final case class RestartRun(
      result: DataFrame, rowsPhaseA: Long, rowsPhaseB: Long,
      emittedAtStop: Long, dataBatchesA: Int, dataBatchesB: Int)

  /** The kill-and-restart body both recovery replays share. Each of
    * `batches` stages as one file. With `stopAfter <= 0` every batch is
    * staged and drained by one query (the one-shot twin). Otherwise
    * phase A stages `batches(0 until stopAfter)` and starts `writer`'s
    * query on the DEFAULT continuous micro-batch trigger (the query
    * believes more files may arrive — this is what makes the stop a
    * mid-corpus kill rather than a drained shutdown). It waits until
    * every staged row is consumed and `readyA(dir)` holds, then stops.
    * `atStop(dir)` is observed, `afterKill` runs, the rest of the
    * batches land while the stream is DOWN, and phase B drains them
    * with a NEW query over the SAME checkpoint (`dir/checkpoint`).
    * `result(dir)` is read before the stage dir is deleted.
    */
  private def killAndRestart(spark: SparkSession, batches: Seq[DataFrame],
      stopAfter: Int, stageDir: String, tag: String,
      writer: (String, DataFrame) => DataStreamWriter[_],
      readyA: String => Boolean, atStop: String => Long,
      afterKill: () => Unit, result: String => DataFrame): RestartRun =
    withStage(spark, stageDir, tag) { (dir, fs) =>
      val srcDir = s"$dir/src"
      val schema = batches.head.schema
      val stage = frameStager(fs, srcDir)
      def stageRange(r: Range): Unit = r.foreach(k => stage(batches(k), k))
      def sink(src: DataFrame) =
        writer(dir, src).option("checkpointLocation", s"$dir/checkpoint")
      def rowsIn(p: Array[StreamingQueryProgress]): Long =
        p.map(_.numInputRows).sum
      val phaseA =
        if (stopAfter <= 0) None
        else {
          stageRange(0 until stopAfter)
          // expected phase-A mass read back off the staged files (the
          // feed frames may be non-deterministic to recount)
          val expectA = spark.read.parquet(srcDir).count()
          // phase A's first start pins the feed-sized partition count
          // in the checkpoint; phase B reuses the checkpointed value
          val progressA = withFeedSizedShuffle(spark, fs, srcDir) {
            val qa = sink(open(spark, srcDir, schema)).start()
            val deadline = System.currentTimeMillis() + 180000L
            while ((rowsIn(qa.recentProgress) < expectA || !readyA(dir)) &&
                System.currentTimeMillis() < deadline)
              Thread.sleep(100)
            val p = qa.recentProgress
            qa.stop()
            qa.awaitTermination()
            p
          }
          val got = rowsIn(progressA)
          require(got == expectA,
            s"phase A consumed $got of $expectA staged rows before the " +
              "stop deadline — cannot call this a post-commit kill")
          val observed = atStop(dir)
          // hook for reconstructing what a HARD crash (kill -9 — no
          // finally) leaves behind that a graceful stop() does not: the
          // orphaned _writer_lock arm plants a dead-pid stamped lock
          // here and proves phase B reclaims it unaided
          afterKill()
          Some((got, dataBatches(progressA), observed))
        }
      // the rest of the corpus (all of it for the one-shot twin)
      // arrives while the stream is DOWN
      stageRange(math.max(stopAfter, 0) until batches.size)
      val p = drain(spark, fs, srcDir, schema)(sink)
      phaseA match {
        case None =>
          RestartRun(result(dir), rowsIn(p), 0L, -1L, dataBatches(p), 0)
        case Some((gotA, batchesA, emittedAtStop)) =>
          RestartRun(result(dir), gotA, rowsIn(p), emittedAtStop,
            batchesA, dataBatches(p))
      }
    }

  /** KILL-AND-RESTART recovery over a REAL checkpoint: the injected-
    * replay rows (q134/q144) prove sink idempotence when a completed
    * batch re-runs; this proves the other half of exactly-once — a
    * stream STOPPED mid-corpus (a genuine `StreamingQuery.stop()` on
    * a live continuous-trigger query, not an AvailableNow run that
    * drained) resumes from its checkpoint dir + sink and lands on
    * EXACTLY the one-shot result.
    *
    * Phase A stages only `batches(0 until stopAfter)`, starts the
    * watermarked hourly rollup on the DEFAULT continuous micro-batch
    * trigger (the query believes more files may arrive — this is what
    * makes the stop a mid-corpus kill rather than a drained
    * shutdown), waits until those rows are consumed AND ≥ 1 finalized
    * window has committed to the parquet FILE SINK (its
    * `_spark_metadata` log is the exactly-once ledger readers see),
    * then stops. The remaining batches land while the stream is DOWN.
    * Phase B starts a NEW query over the SAME source dir, checkpoint
    * dir, and sink path with `Trigger.AvailableNow` and drains.
    *
    * What recovery must get right, all observable in the returned
    * record: offsets (phase B's input rows are ONLY the files staged
    * after the kill — nothing re-read, nothing skipped), state (the
    * unfinalized windows whose rows arrived BEFORE the kill are
    * emitted by phase B from recovered state — their input files are
    * never read again), and sink transactionality (no window emitted
    * twice across the two queries). The caller proves all three by
    * comparing `result` to a fresh `stopAfter <= 0` run (one query,
    * same staged batch sequence, fresh checkpoint + sink): the
    * one-shot twin.
    *
    * `batches` must share one schema; each stages as exactly one file
    * (one micro-batch, the [[frameStager]] discipline). Returns
    * the final sink contents (localCheckpointed — the staging dirs
    * are deleted on return) plus the per-phase input-row and
    * data-batch counts and the sink row count observed at the stop.
    */
  def restartRecoveryReplay(spark: SparkSession, batches: Seq[DataFrame],
      stopAfter: Int, watermark: String = "1 hour",
      stageDir: String = null): RestartRun = {
    require(batches.size >= 2,
      s"a replay needs >= 2 micro-batches, got ${batches.size}")
    require(stopAfter < batches.size,
      s"stopAfter=$stopAfter leaves nothing for the restarted query " +
        s"(${batches.size} batches) — the recovery row needs both phases")
    // the sink THROUGH its _spark_metadata log — only committed files
    def sinkCount(dir: String): Long =
      try spark.read.parquet(s"$dir/sink").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    killAndRestart(spark, batches, stopAfter, stageDir, "restart",
      (dir, src) => EventStreams.hourlyRollupStream(src, watermark)
        .writeStream.format("parquet").option("path", s"$dir/sink")
        .outputMode("append"),
      sinkCount(_) >= 1L, sinkCount, () => (),
      dir => spark.read.parquet(s"$dir/sink").localCheckpoint(true))
  }

  /** KILL-AND-RESTART recovery for the STREAMING INDEX INGEST — the
    * [[restartRecoveryReplay]] discipline applied to the foreachBatch
    * index writer: [[indexIngestReplay]] proves the `gen = batchId+1`
    * overwrite absorbs an INJECTED replay of a committed batch; this
    * proves the real-restart half — a genuine `StreamingQuery.stop()`
    * on a live continuous-trigger ingest mid-corpus, then a NEW query
    * over the SAME checkpoint, must land the generation tree on
    * EXACTLY the never-stopped run's tree.
    *
    * What recovery must get right: batchId continuity (the restarted
    * query resumes from the checkpoint's offset log, so post-restart
    * batches take FRESH ids — committed generations are never
    * overwritten with different data), and mid-batch kill replay (a
    * batch whose append committed its `gen=B` directory but whose
    * streaming commit log entry didn't land is REPLAYED under the
    * same batchId after restart, and the generation-overwrite
    * contract makes the rewrite byte-idempotent). Either way the
    * trees converge — the caller proves it by comparing postings and
    * search results against a `stopAfter <= 0` one-shot twin over the
    * same staged batch sequence and a twin index dir.
    *
    * The caller builds the seed index (gen=0, frozen centroids)
    * before calling, exactly as in [[indexIngestReplay]]. Each
    * element of `deltaBatches` stages as one file = one micro-batch;
    * phase A stages `deltaBatches(0 until stopAfter)`, runs on the
    * default continuous trigger (the query believes more files may
    * arrive — the stop is a kill, not a drain), waits until every
    * staged row is consumed, then stops. The rest stage while the
    * stream is DOWN; phase B drains them with `Trigger.AvailableNow`
    * over the same checkpoint. Returns the per-phase input-row and
    * data-batch counts ([[RestartRun]] with `result` = the postings
    * tree read, `emittedAtStop` = generations visible at the stop).
    */
  def indexIngestRestartReplay(spark: SparkSession,
      deltaBatches: Seq[DataFrame], indexDir: String,
      stopAfter: Int, stageDir: String = null,
      afterKill: () => Unit = () => ()): RestartRun = {
    import graft.ops.AnnIndex
    require(deltaBatches.size >= 2,
      s"a replay needs >= 2 micro-batches, got ${deltaBatches.size}")
    require(stopAfter < deltaBatches.size,
      s"stopAfter=$stopAfter leaves nothing for the restarted query")
    killAndRestart(spark, deltaBatches, stopAfter, stageDir, "ivfrestart",
      (_, src) => src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          AnnIndex.appendToIvfIndex(spark, indexDir, batch,
            "vec_id", "embedding", gen = batchId + 1L)
          ()
        },
      _ => true,
      _ => AnnIndex.listGenerations(spark, indexDir).count(_ > 0L).toLong,
      afterKill,
      _ => spark.read.parquet(s"$indexDir/postings.parquet"))
  }

  /** Replay `events` through [[EventStreams.hourlyRollupStream]] in
    * `nBatches` micro-batches. Returns (final state, data batches
    * observed). The stage dir is process-unique by default and deleted
    * before returning (the memory sink holds the result); a
    * caller-supplied dir is recreated per call and also cleaned up.
    */
  def hourlyRollupReplay(spark: SparkSession, events: DataFrame,
      nBatches: Int = 3, stageDir: String = null): (DataFrame, Int) = {
    require(nBatches >= 2, s"a replay needs ≥ 2 micro-batches, got $nBatches")
    withStage(spark, stageDir, "rollup") { (dir, fs) =>
      stageModBatches(events, "event_id", dir, fs, nBatches)
      val name = "graft_replay_rollup"
      val p = drain(spark, fs, dir, events.schema)(src =>
        toMemory(spark, name, "complete")(EventStreams.hourlyRollupStream(src)))
      (spark.table(name), dataBatches(p))
    }
  }

  /** The body both curation replays share: classifier weights trained
    * OFFLINE from the q122 seed convention (doc_id%7==0 positive,
    * %7==3 negative), the corpus staged as the fixed pmod(doc_id,
    * nBatches) row partition, and each micro-batch passed through
    * `gate`, quality-scored, token-counted and appended EXACTLY-ONCE
    * to the persisted loader layout at `<stage dir>_layout`. Returns
    * (the layout read back, data batches observed).
    */
  private def curationReplay(spark: SparkSession, docs: DataFrame,
      window: Long, nBatches: Int, nBuckets: Int, stageDir: String,
      tag: String)(gate: DataFrame => DataFrame): (DataFrame, Int) = {
    import graft.ops.{Selection, TextOps}
    require(nBatches >= 2, s"a replay needs ≥ 2 micro-batches, got $nBatches")
    withStage(spark, stageDir, tag, "_layout") { (dir, fs) =>
      val outDir = s"${dir}_layout"
      val feed = docs.select(col("doc_id").cast("long").as("doc_id"),
        col("text"))
        // the corpus feeds BOTH the classifier training job and the
        // staging write — evaluate the (tiny relative to the stream
        // it simulates) fixture scan once
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // offline model training (batch side — the deployment shape); the
      // cache is released even when training or staging throws, since
      // the session is shared
      val (w, defw6) =
        try {
          val weights = Selection.collectClassifierWeights(
            feed.where(col("doc_id") % 7 === 0),
            feed.where(col("doc_id") % 7 === 3),
            "doc_id", "text", nBuckets = nBuckets)
          stageModBatches(feed, "doc_id", dir, fs, nBatches)
          weights
        } finally feed.unpersist(blocking = false)
      val p = drain(spark, fs, dir, feed.schema)(src =>
        Selection.scoreWithClassifier(
            gate(src).withColumn("n_tokens",
              TextOps.tokenCount(col("text")).cast("long")),
            "doc_id", "text", w, defw6, nBuckets = nBuckets,
            keepCols = Seq("n_tokens"))
          .where(col("keep"))
          .select("doc_id", "n_tokens")
          .writeStream.foreachBatch(
            BatchSinks.tokenStreamSink(outDir, "doc_id", "n_tokens", window) _))
      val layout = spark.read.parquet(outDir)
        .select("doc_id", "n_tokens", "start_offset",
          "first_window", "last_window")
        .localCheckpoint(true) // eager: the dirs are deleted on return
      (layout, dataBatches(p))
    }
  }

  /** Replay `docs` through the FULL STREAMING CURATION-TO-LOADER
    * composition (q120's streaming twin): classifier weights trained
    * OFFLINE from the q122 seed convention (doc_id%7==0 positive,
    * %7==3 negative), then each micro-batch of raw documents is
    * quality-gated by the map-side scorer
    * ([[graft.ops.Selection.scoreWithClassifier]] — a pure projection,
    * stream-legal), token-counted, and appended EXACTLY-ONCE to the
    * persisted GPT-style loader layout
    * ([[BatchSinks.tokenStreamSink]]). Returns (the final layout,
    * data batches observed).
    *
    * Determinism: batches are the fixed pmod(doc_id, nBatches) row
    * partition with explicit strictly-increasing mtimes (one file per
    * micro-batch, the q106 pattern), so foreachBatch's batchId order
    * is the mtime order and the final layout is the closed form
    * "kept docs in (doc_id mod nBatches, doc_id) order, offsets
    * accumulated" — the q129 oracle replays it in SQL.
    */
  def curationLoaderReplay(spark: SparkSession, docs: DataFrame,
      window: Long, nBatches: Int = 3, nBuckets: Int = 1024,
      stageDir: String = null): (DataFrame, Int) =
    curationReplay(spark, docs, window, nBatches, nBuckets, stageDir,
      "curation")(identity)

  /** ONE replay of the COMPLETE streaming curation path a production
    * ingest runs — the q133 + q122 + q129 composition the pieces were
    * built for: the benchmark's shingles fold into a bloom sketch
    * OFFLINE and gate every micro-batch map-side (no benchmark text
    * can leak into training output, in whichever batch it arrives),
    * survivors are scored by the OFFLINE-trained quality classifier
    * (q122's seed convention), and kept docs extend the persisted
    * token-stream layout EXACTLY-ONCE through
    * [[BatchSinks.tokenStreamSink]] (committed-base recompute; a
    * replayed batch rewrites itself). All three stream-side stages
    * are stateless map-side projections over broadcast artifacts —
    * the only state is the committed layout itself, which is the
    * point: the hot path has no state store, no watermark, no
    * shuffle.
    *
    * Returns (layout read back from the committed output, data
    * batches observed). Determinism note: the bloom gate and the
    * classifier are deterministic functions of their offline
    * artifacts, so the streamed composition equals the batch
    * composition over the same corpus row-for-row — the registered
    * row (q139) asserts that in-plan, including offset-exact layout
    * equality against the batch twin.
    */
  def curationPipelineReplay(spark: SparkSession, docs: DataFrame,
      benchmark: DataFrame, window: Long, nBatches: Int = 3,
      nBuckets: Int = 1024, n: Int = 3, benchShingles: Long = 4096L,
      stageDir: String = null): (DataFrame, Int) =
    curationReplay(spark, docs, window, nBatches, nBuckets, stageDir,
      "curpipe") { src =>
      // gate 1: decontamination (bloom, no false negatives); the
      // classifier quality score is gate 2
      graft.ops.Dedup.bloomScreen(src, "doc_id", "text",
          benchmark, "text", n, benchShingles)
        .where(!col("bloom_hit"))
    }

  /** Replay `events` through the CUSTOM-STATE streaming path
    * ([[EventStreams.sessionizeStream]], `flatMapGroupsWithState`) in
    * time-ordered micro-batches, so the per-user session state machine
    * itself gets a hash-exact correctness row (q107).
    *
    * Determinism/parity with the batch [[EventStreams.sessionize]]:
    *  - the feed is second-truncated UP FRONT (the batch operator
    *    truncates internally), so both sides session identical
    *    timestamps;
    *  - files split the time RANGE into `nBatches` terciles on the
    *    truncated ts — the split predicate depends only on ts, so a
    *    user's equal-ts events can never straddle a boundary, and
    *    cross-batch arrival is time-ordered per user (the state
    *    machine's requirement); within a batch the operator sorts by
    *    (ts, event_id), the batch window's exact order. Batch files
    *    carry EXPLICIT strictly-increasing mtimes ([[frameStager]], 10 s
    *    apart) — the file source orders and groups by timestamp, and
    *    wall-clock mtimes are not distinct on coarse-granularity
    *    filesystems; even a hypothetical merge of two batches stays
    *    correct (the union is still time-ordered after the in-batch
    *    sort — only an order INVERSION could break parity, and the
    *    oracle hash would catch it), but the multibatch proof bit
    *    demands the batches actually stay separate.
    *  - a final SENTINEL file carries one far-future event per user
    *    (event_id −1, ts past every real session's gap), forcing the
    *    state machine to close and emit every user's LAST session;
    *    the sentinel's own session stays in state and is never
    *    emitted, so the emitted set is EXACTLY the batch session set.
    */
  def sessionizationReplay(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30, nBatches: Int = 3,
      stageDir: String = null): (DataFrame, Int) = {
    import spark.implicits._
    require(nBatches >= 2, s"a replay needs ≥ 2 micro-batches, got $nBatches")
    val feed = events.select(
      col("user_id").cast("long").as("user_id"),
      col("event_id").cast("long").as("event_id"),
      date_trunc("second", col("ts")).as("ts"))
    val (tMin, tMax) = feed
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .as[(Long, Long)].head()
    withStage(spark, stageDir, "sessions") { (dir, fs) =>
      val span = math.max(tMax - tMin, nBatches.toLong)
      val stage = frameStager(fs, dir)
      for (k <- 0 until nBatches) {
        val lo = tMin + span * k / nBatches
        val hi = tMin + span * (k + 1) / nBatches
        stage(feed.where(
          unix_timestamp(col("ts")) >= lo &&
            (if (k == nBatches - 1) lit(true)
             else unix_timestamp(col("ts")) < hi)), k)
      }
      val sentinelTs = tMax + gapMinutes * 60L + 61L
      stage(feed.select(col("user_id")).distinct()
        .select(col("user_id"), lit(-1L).as("event_id"),
          to_timestamp(lit(sentinelTs)).as("ts")), nBatches)
      val name = "graft_replay_sessions"
      val p = drain(spark, fs, dir, feed.schema)(src =>
        toMemory(spark, name, "append")(EventStreams.sessionizeStream(
          src.as[EventStreams.SessionEvent], gapMinutes)))
      (spark.table(name), dataBatches(p))
    }
  }
}
