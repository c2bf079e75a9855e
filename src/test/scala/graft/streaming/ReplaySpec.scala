package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The replay harness must drive a REAL multi-micro-batch streaming
  * execution whose final state equals the batch rollup exactly — the
  * q106 contract.
  */
class ReplaySpec extends SparkSpecBase {
  import spark.implicits._

  private def events = {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    (0 until 50).map { i =>
      (i.toLong,
        new java.sql.Timestamp(base.getTime + i * 7 * 60 * 1000L), // 7-min spacing
        if (i % 3 == 0) "click" else "view",
        i * 0.125)
    }.toDF("event_id", "ts", "event_type", "value")
  }

  test("replayed streaming rollup equals the batch rollup, over ≥3 micro-batches") {
    val (state, nBatches) = Replay.hourlyRollupReplay(spark, events,
      stageDir = "/tmp/graft_replay_spec")
    assert(nBatches >= 3, s"replay collapsed into $nBatches batches")
    val streamed = state.select("hour", "event_type", "n_events", "value_sum")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.hourlyRollup(events)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streamed=$streamed\nbatch=$batch")
  }

  test("replayed custom-state sessionization equals the batch window scan") {
    // multi-user, multi-session: user 1 has sessions spanning the
    // batch-boundary terciles (state must carry open sessions across
    // micro-batches); every user's LAST session only exists in state
    // until the sentinel flushes it
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ev(id: Long, user: Long, minutes: Long) =
      (id, user, new java.sql.Timestamp(base + minutes * 60000L), "view", 0.0)
    val df = Seq(
      ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20),     // session 1 (u1)
      ev(4, 1, 60), ev(5, 1, 75),                  // session 2 (u1), crosses tercile
      ev(6, 1, 130),                               // session 3 (u1)
      ev(7, 2, 5), ev(8, 2, 50),                   // two singleton-ish (u2)
      ev(9, 3, 140)                                // one late session (u3)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val (state, nBatches) = Replay.sessionizationReplay(spark, df,
      gapMinutes = 30, stageDir = "/tmp/graft_replay_spec_sessions")
    assert(nBatches >= 3, s"replay collapsed into $nBatches batches")
    val streamed = state
      .select("user_id", "session_seq", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.sessionize(df, 30)
      .select("user_id", "session_seq", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    // every user's final session made it out (sentinel flush worked)
    assert(streamed.count(_.head == 1L) == 3)
    assert(streamed.count(_.head == 3L) == 1)
  }

  test("streamed curation-to-loader equals the batch twin, over ≥3 micro-batches") {
    import graft.ops.{Packing, Selection, TextOps}
    // a corpus where the %7 seed split separates: positives clean
    // prose, negatives shouty spam — probes of both kinds in between
    val docs = (0L until 30L).map { i =>
      val text =
        if (i % 7 == 0) "the quick brown fox jumps over the lazy dog again"
        else if (i % 7 == 3) "BUY NOW!!! 100% FREE $$$ CLICK CLICK"
        else if (i % 2 == 0) "a quick brown dog jumps over the fox"
        else "FREE $$$ BUY!!! NOW 100%"
      (i, text)
    }.toDF("doc_id", "text")
    val (layout, nBatches) = Replay.curationLoaderReplay(
      spark, docs, window = 16L, nBatches = 3, nBuckets = 64)
    assert(nBatches >= 3, s"expected ≥3 data batches, got $nBatches")
    val got = layout.orderBy("doc_id")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSeq
    // batch twin: distributed scorer's keep + one-pass layout in the
    // batch-arrival total order (doc_id mod 3, doc_id)
    val (w, defw6) = Selection.collectClassifierWeights(
      docs.where(col("doc_id") % 7 === 0), docs.where(col("doc_id") % 7 === 3),
      "doc_id", "text", nBuckets = 64)
    val kept = Selection.scoreWithClassifier(docs, "doc_id", "text",
        w, defw6, nBuckets = 64)
      .where(col("keep")).select("doc_id")
      .join(docs.withColumn("tk", TextOps.tokenCount(col("text")).cast("long")),
        "doc_id")
      .select(col("doc_id"), col("tk"))
      .as[(Long, Long)].collect().sortBy(r => (r._1 % 3, r._1))
    var off = 0L
    val expected = kept.map { case (id, n) =>
      val r = (id, n, off,
        if (n > 0) Some(off / 16L) else None,
        if (n > 0) Some((off + n - 1) / 16L) else None)
      off += n
      r
    }.sortBy(_._1).toSeq
    assert(got == expected, s"\n$got\nvs\n$expected")
    assert(got.nonEmpty && got.size < 30, "gate must discriminate")
  }

  test("composed curation pipeline: plants never reach the layout; " +
      "stream equals the batch-composed twin offset-for-offset") {
    import graft.ops.{Dedup, Selection, TextOps}
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    // the q129 curation fixture + two PLANTS (8, 16): keepable prose
    // that carries a benchmark shingle — the classifier alone would
    // keep them; only the bloom gate stands between them and the
    // training layout
    val docs = (0L until 30L).map { i =>
      val text =
        if (i % 7 == 0) "the quick brown fox jumps over the lazy dog again"
        else if (i % 7 == 3) "BUY NOW!!! 100% FREE $$$ CLICK CLICK"
        else if (i == 8L || i == 16L) "nice prose alpha beta gamma words"
        else if (i % 2 == 0) "a quick brown dog jumps over the fox"
        else "FREE $$$ BUY!!! NOW 100%"
      (i, text)
    }.toDF("doc_id", "text")
    val (layout, nBatches) = Replay.curationPipelineReplay(
      spark, docs, bench, window = 16L, nBatches = 3, nBuckets = 64,
      n = 3, benchShingles = 64L)
    assert(nBatches >= 3, s"expected ≥3 data batches, got $nBatches")
    val got = layout.orderBy("doc_id")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(!got.exists(r => r._1 == 8L || r._1 == 16L),
      s"a planted contaminated doc reached the layout: $got")
    assert(got.nonEmpty && got.size < 30, "gates must discriminate")
    // batch twin: same offline artifacts, same gates composed batch-
    // side, laid out in the stream's arrival order (doc_id mod 3, id)
    val (w, defw6) = Selection.collectClassifierWeights(
      docs.where(col("doc_id") % 7 === 0), docs.where(col("doc_id") % 7 === 3),
      "doc_id", "text", nBuckets = 64)
    val screened = Dedup.bloomScreen(docs, "doc_id", "text",
        bench, "text", n = 3, benchShingles = 64L)
      .where(!col("bloom_hit"))
    val kept = Selection.scoreWithClassifier(screened, "doc_id", "text",
        w, defw6, nBuckets = 64)
      .where(col("keep")).select("doc_id")
      .join(docs.withColumn("tk", TextOps.tokenCount(col("text")).cast("long")),
        "doc_id")
      .select(col("doc_id"), col("tk"))
      .as[(Long, Long)].collect().sortBy(r => (r._1 % 3, r._1))
    var off = 0L
    val expected = kept.map { case (id, n) =>
      val r = (id, n, off,
        if (n > 0) Some(off / 16L) else None,
        if (n > 0) Some((off + n - 1) / 16L) else None)
      off += n
      r
    }.sortBy(_._1).toSeq
    assert(got == expected, s"\n$got\nvs\n$expected")
  }

  test("curation replays release their cached feed when staging fails") {
    // every id is ≡ 0 mod 3: with nBatches = 3, staging's empty-batch
    // require fires AFTER classifier training has filled the feed cache
    val docs = Seq(0L, 3L, 21L, 24L).map { i =>
      (i, if (i % 7 == 0) "the quick brown fox jumps over the lazy dog"
          else "BUY NOW!!! 100% FREE $$$ CLICK CLICK")
    }.toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    def cachedIds = spark.sparkContext.getPersistentRDDs.keySet
    val cachedBefore = cachedIds
    val runs = Seq[() => Any](
      () => Replay.curationLoaderReplay(spark, docs, window = 16L,
        nBatches = 3, nBuckets = 64),
      () => Replay.curationPipelineReplay(spark, docs, bench, window = 16L,
        nBatches = 3, nBuckets = 64, n = 3, benchShingles = 64L))
    runs.foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("micro-batch 1 is empty"), e.getMessage)
      // a subset, not equal sizes: the context cleaner may drop an
      // earlier case's checkpointed RDD in the meantime
      assert((cachedIds -- cachedBefore).isEmpty,
        "a failed curation replay left its feed cached in the session")
    }
  }

  test("streamed takedowns tombstone exactly-once across ≥3 micro-batches " +
      "(injected replay included); search equals rebuild(remaining)") {
    import graft.ops.AnnIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_takedown").toString
    val all = (0 until 48).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(4)(d =>
        (if (d == c) 1.0f else 0.0f) + 0.01f * (i / 4)))
    }.toDF("vec_id", "embedding")
    val cents = AnnIndex.buildIvfIndex(all, "vec_id", "embedding",
      s"$dir/ivf", nCells = 4)
    val batches = Replay.takedownReplay(spark,
      all.where(col("vec_id") % 4 === 0).select("vec_id"), s"$dir/ivf",
      nBatches = 3)
    assert(batches >= 3, "a real multi-batch stream must have run")
    // exactly-once despite the injected replay of batch 0's delete
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 12L)
    AnnIndex.buildIvfIndex(all.where(col("vec_id") % 4 =!= 0), "vec_id",
      "embedding", s"$dir/ref", nCells = 4, centroids = Some(cents))
    val q = all.where(col("vec_id") < 6)
    def search(d: String) = AnnIndex.searchIvfIndex(spark, d, q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(search(s"$dir/ivf") == search(s"$dir/ref"))
  }

  test("late-data replay: rows behind the watermark are dropped AND " +
      "counted; only finalized windows are emitted") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val onTime = Seq(
      (1L, ts("2024-03-01 00:10:00"), 1L, "a", 1.0, ""),
      (2L, ts("2024-03-01 00:40:00"), 1L, "b", 2.0, ""),
      (3L, ts("2024-03-01 01:10:00"), 2L, "a", 4.0, ""),
      (4L, ts("2024-03-01 02:30:00"), 2L, "a", 8.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // same hour-0 event times, FRESH ids — arriving after the
    // watermark passed their window
    val late = Seq(
      (101L, ts("2024-03-01 00:20:00"), 3L, "a", 16.0, ""),
      (102L, ts("2024-03-01 00:50:00"), 3L, "b", 32.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // on-time filler in the final (never-emitted) window — lets the
    // lagging late-record filter watermark catch up
    val filler = Seq(
      (201L, ts("2024-03-01 02:30:00"), 4L, "a", 64.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val (emitted, dropped, batches) = Replay.lateDataReplay(spark, onTime,
      filler, late, watermark = "1 hour")
    assert(batches >= 3, "the late batch must have streamed for real")
    // the drop counter's unit is state-operator input = the late
    // batch's distinct (hour, type) groups (map-side partials); the
    // fixture's 2 late rows are 2 groups
    assert(dropped == 2L, "every late group must be counted, none silent")
    val rows = emitted.orderBy("hour", "event_type")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    // final watermark = 02:30 - 1h = 01:30 ⇒ only hour 00 (end 01:00)
    // is finalized; hours 01/02 are withheld, and the late rows'
    // values never contaminate hour 00
    assert(rows == Seq(
      (ts("2024-03-01 00:00:00"), "a", 1L, 1.0),
      (ts("2024-03-01 00:00:00"), "b", 1L, 2.0)))
  }

  test("kill-and-restart recovery: a mid-corpus stop() resumes from the " +
      "checkpoint — offsets, window state, and sink all recovered") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 4 two-hour batches (phase A must be able to finalize SOMETHING
    // under the 1h watermark before the kill: after batch 1 the
    // watermark is 02:40, so hours 00-01 commit pre-stop)
    def hour(h: Int, idBase: Long) = Seq(
      (idBase, ts(f"2024-03-01 $h%02d:10:00"), 1L, "a", 1.0 * (h + 1), ""),
      (idBase + 1, ts(f"2024-03-01 $h%02d:40:00"), 2L, "b", 2.0 * (h + 1), ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batches = (0 until 4).map(b =>
      hour(2 * b, 100L * b).unionAll(hour(2 * b + 1, 100L * b + 50L)))
    val r = Replay.restartRecoveryReplay(spark, batches, stopAfter = 2)
    // offsets recovered: phase B read ONLY the post-kill files
    assert(r.rowsPhaseA == 8L && r.rowsPhaseB == 8L,
      s"phase split wrong: A=${r.rowsPhaseA} B=${r.rowsPhaseB}")
    assert(r.dataBatchesA == 2 && r.dataBatchesB == 2)
    // the kill landed mid-corpus with something already committed
    assert(r.emittedAtStop >= 1L)
    val got = r.result.orderBy("hour", "event_type")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    // final watermark = 07:40 - 1h = 06:40 ⇒ hours 00-05 finalized
    // (06 ends 07:00 > 06:40); hours 02-03 arrived BEFORE the kill
    // but finalize after it — recovered state, not re-read input
    assert(got == (0 until 6).flatMap(h => Seq(
      (ts(f"2024-03-01 $h%02d:00:00"), "a", 1L, 1.0 * (h + 1)),
      (ts(f"2024-03-01 $h%02d:00:00"), "b", 1L, 2.0 * (h + 1)))))
    assert(got.size.toLong > r.emittedAtStop,
      "something must finalize AFTER the restart or the row proves nothing")
    // the one-shot twin (same staged sequence, never stopped) matches
    val twin = Replay.restartRecoveryReplay(spark, batches, stopAfter = 0)
    assert(twin.result.orderBy("hour", "event_type")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq == got)
    assert(twin.rowsPhaseA == 16L && twin.emittedAtStop == -1L)
  }

  test("update-mode rollup: every touched window emits its current " +
      "partial per batch, the last update equals the batch aggregate, " +
      "and the same watermark still drops late rows") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // hour 1 receives rows in TWO batches — the partial-then-final
    // sequence under test; b0 reaches hour 2 so the LAGGED late-record
    // filter watermark at b2 (b0's max − 1h = 01:40, one batch behind
    // eviction — the q152 two-watermark probe) is already past the
    // late row's window end
    val b0 = Seq(
      (1L, ts("2024-03-01 00:10:00"), 1L, "a", 1.0, ""),
      (2L, ts("2024-03-01 01:40:00"), 1L, "a", 2.0, ""),
      (3L, ts("2024-03-01 02:40:00"), 1L, "a", 3.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val b1 = Seq(
      (4L, ts("2024-03-01 01:50:00"), 2L, "a", 4.0, ""),
      (5L, ts("2024-03-01 03:30:00"), 2L, "a", 8.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // hour-0 window ends 01:00 ≤ the lagged filter watermark 01:40:
    // dropped, and therefore updates NOTHING
    val b2 = Seq(
      (101L, ts("2024-03-01 00:20:00"), 3L, "a", 16.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val (updates, dropped, batches) = Replay.hourlyRollupUpdateReplay(
      spark, Seq(b0, b1, b2), watermark = "1 hour")
    assert(batches == 3, "all three batches must have streamed for real")
    assert(dropped == 1L, "the late row must be dropped AND counted")
    val got = updates
      .select("batch_id", "hour", "event_type", "n_events", "value_sum")
      .as[(Long, java.sql.Timestamp, String, Long, Double)]
      .collect().toSeq.sorted
    // batch 0: hours 0-2 at their first partials; batch 1: hour 1
    // UPDATED (n 1→2 — the partial-then-final sequence) + hour 3's
    // first partial, hours 0/2 untouched ⇒ not re-emitted; batch 2:
    // late row dropped ⇒ zero updates
    assert(got == Seq(
      (0L, ts("2024-03-01 00:00:00"), "a", 1L, 1.0),
      (0L, ts("2024-03-01 01:00:00"), "a", 1L, 2.0),
      (0L, ts("2024-03-01 02:00:00"), "a", 1L, 3.0),
      (1L, ts("2024-03-01 01:00:00"), "a", 2L, 6.0),
      (1L, ts("2024-03-01 03:00:00"), "a", 1L, 8.0)), s"got $got")
    // closed-form oracle: the LAST update per window is the batch
    // rollup over exactly the rows the watermark accepted
    val finals = got.groupBy(r => (r._2, r._3))
      .map { case (_, rs) => rs.maxBy(_._1) }
      .map(r => (r._2, r._3, r._4, r._5)).toSet
    val oracle = EventStreams.hourlyRollup(b0.unionAll(b1))
      .select("hour", "event_type", "n_events", "value_sum")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(finals == oracle)
  }

  test("update-mode rollup with zero updating batches returns an EMPTY " +
      "update sequence with the contract schema — not a missing-path " +
      "error ('a batch whose rows were all dropped updates NOTHING')") {
    def empty = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double,
        String)].toDF("event_id", "ts", "user_id", "event_type", "value",
      "props")
    val (updates, dropped, batches) =
      Replay.hourlyRollupUpdateReplay(spark, Seq(empty, empty))
    assert(updates.count() == 0L)
    assert(updates.columns.toSeq ==
      Seq("hour", "event_type", "n_events", "value_sum", "batch_id"))
    assert(dropped == 0L && batches == 0)
  }

  test("index-ingest kill-and-restart: a mid-corpus stop() on the " +
      "foreachBatch append stream resumes from its checkpoint — the " +
      "generation tree equals the never-stopped twin's") {
    import graft.ops.AnnIndex
    // 4 well-separated clusters; seed freezes the quantizer, 4 delta
    // batches of 8 vectors stream in as gen 1..4
    val all = (0 until 48).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(4)(d =>
        (if (d == c) 1.0f else 0.0f) + 0.01f * (i / 4)))
    }.toDF("vec_id", "embedding")
    val seed = all.where(col("vec_id") < 16)
    val deltas = (0 until 4).map(b => all.where(
      col("vec_id") >= 16 + 8 * b && col("vec_id") < 24 + 8 * b))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfrst").toString
    // both trees under the SAME frozen centroids, or the comparison
    // would measure quantizer drift instead of recovery
    val cents = AnnIndex.buildIvfIndex(seed, "vec_id", "embedding",
      s"$dir/killed", nCells = 4, iters = 3)
    AnnIndex.buildIvfIndex(seed, "vec_id", "embedding", s"$dir/twin",
      nCells = 4, centroids = Some(cents))
    val r = Replay.indexIngestRestartReplay(spark, deltas,
      s"$dir/killed", stopAfter = 2)
    val twin = Replay.indexIngestRestartReplay(spark, deltas,
      s"$dir/twin", stopAfter = 0)
    // offsets recovered: phase B read ONLY the post-kill files
    assert(r.rowsPhaseA == 16L && r.rowsPhaseB == 16L,
      s"phase split wrong: A=${r.rowsPhaseA} B=${r.rowsPhaseB}")
    assert(twin.rowsPhaseA == 32L)
    // the kill landed mid-corpus: some generations committed, not all
    assert(r.emittedAtStop >= 1L && r.emittedAtStop < 4L)
    assert(r.dataBatchesA == 2 && r.dataBatchesB >= 2)
    // the whole tree converged: same rows in the same generations'
    // same cells (batchId continuity ⇒ gens, frozen centroids ⇒ cells)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("gen", "cell", "vec_id").collect().map(_.toSeq).toSet
    assert(shape(r.result) == shape(twin.result))
    assert(AnnIndex.listGenerations(spark, s"$dir/killed") ==
      AnnIndex.listGenerations(spark, s"$dir/twin"))
    // and search parity through both stored trees
    val q = all.where(col("vec_id") < 4)
    def top(idx: String) = AnnIndex.searchIvfIndex(spark, idx, q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(top(s"$dir/killed") == top(s"$dir/twin"))
  }

  test("index-ingest HARD-crash restart: a kill -9'd writer's orphaned " +
      "_writer_lock (dead pid) is reclaimed unaided by the checkpoint-" +
      "restarted stream — tree parity with the never-stopped twin; a " +
      "LIVE holder's lock still fails the restarted stream loudly") {
    import graft.ops.{AnnIndex, FsLock}
    val all = (0 until 48).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(4)(d =>
        (if (d == c) 1.0f else 0.0f) + 0.01f * (i / 4)))
    }.toDF("vec_id", "embedding")
    val seed = all.where(col("vec_id") < 16)
    val deltas = (0 until 4).map(b => all.where(
      col("vec_id") >= 16 + 8 * b && col("vec_id") < 24 + 8 * b))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfhard").toString
    val cents = AnnIndex.buildIvfIndex(seed, "vec_id", "embedding",
      s"$dir/killed", nCells = 4, iters = 3)
    AnnIndex.buildIvfIndex(seed, "vec_id", "embedding", s"$dir/twin",
      nCells = 4, centroids = Some(cents))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/killed/_writer_lock")
    // afterKill reconstructs the ONE artifact a kill -9 leaves that a
    // graceful stop() does not: the writer's lock, stamped with a pid
    // that died with it. Phase B's first appendToIvfIndex must prove
    // the holder dead, reclaim, and proceed — no manual breakIndexLock
    val r = Replay.indexIngestRestartReplay(spark, deltas,
      s"$dir/killed", stopAfter = 2,
      afterKill = () => assert(FsLock.tryAcquire(fs, lock,
        graft.ops.LockTestSupport.plantedStamp("appendToIvfIndex",
          graft.ops.LockTestSupport.deadPid))))
    val twin = Replay.indexIngestRestartReplay(spark, deltas,
      s"$dir/twin", stopAfter = 0)
    assert(r.rowsPhaseA == 16L && r.rowsPhaseB == 16L,
      s"phase split wrong: A=${r.rowsPhaseA} B=${r.rowsPhaseB}")
    assert(!fs.exists(lock),
      "the reclaimed lock must not outlive the recovered stream")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("gen", "cell", "vec_id").collect().map(_.toSeq).toSet
    assert(shape(r.result) == shape(twin.result),
      "recovery through the orphaned lock must land on the one-shot tree")
    assert(AnnIndex.listGenerations(spark, s"$dir/killed") ==
      AnnIndex.listGenerations(spark, s"$dir/twin"))
    // contrast — a LIVE holder (this very process) at restart: the
    // stream must NOT reclaim; its first batch fails with the holder
    // line and the lock survives
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ivflive").toString
    AnnIndex.buildIvfIndex(seed, "vec_id", "embedding", s"$dir2/idx",
      nCells = 4, centroids = Some(cents))
    val lock2 = new org.apache.hadoop.fs.Path(s"$dir2/idx/_writer_lock")
    val live = FsLock.holderStamp("compactIvfIndex")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replay.indexIngestRestartReplay(spark, deltas, s"$dir2/idx",
        stopAfter = 2,
        afterKill = () => assert(FsLock.tryAcquire(fs, lock2, live)))
    }
    assert(e.getMessage.contains("another writer holds"), e.getMessage)
    assert(FsLock.holderInfo(fs, lock2).contains(live),
      "a live holder's lock must survive the failed restart")
    AnnIndex.breakIndexLock(spark, s"$dir2/idx")
  }

  test("index-ingest NODE-LOSS restart: a lost node's _writer_lock " +
      "(foreign host — pid unprobeable — with the heartbeat silent " +
      "past its advertised TTL) is lease-reclaimed unaided by the " +
      "restarted stream, tree parity with the never-stopped twin; a " +
      "heartbeat-FRESH foreign lock still fails the restart loudly") {
    import graft.ops.{AnnIndex, FsLock}
    val all = (0 until 48).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(4)(d =>
        (if (d == c) 1.0f else 0.0f) + 0.01f * (i / 4)))
    }.toDF("vec_id", "embedding")
    val seed = all.where(col("vec_id") < 16)
    val deltas = (0 until 4).map(b => all.where(
      col("vec_id") >= 16 + 8 * b && col("vec_id") < 24 + 8 * b))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfnode").toString
    val cents = AnnIndex.buildIvfIndex(seed, "vec_id", "embedding",
      s"$dir/lost", nCells = 4, iters = 3)
    AnnIndex.buildIvfIndex(seed, "vec_id", "embedding", s"$dir/twin",
      nCells = 4, centroids = Some(cents))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/lost/_writer_lock")
    // afterKill reconstructs the node-loss shape the pid probe cannot
    // reach (FsLockSpec proves the primitive; this proves the
    // composition through a REAL checkpoint restart): the dead node's
    // hostname is foreign, its stamp ADVERTISED a 60 s lease, and its
    // heartbeat has been silent for 120 s. Phase B's first
    // appendToIvfIndex must lease-reclaim and proceed — no manual
    // breakIndexLock, no TTL wait (the backdated mtime IS the wait)
    val r = Replay.indexIngestRestartReplay(spark, deltas,
      s"$dir/lost", stopAfter = 2,
      afterKill = () => {
        assert(FsLock.tryAcquire(fs, lock,
          graft.ops.LockTestSupport.plantedStamp("appendToIvfIndex",
            12345L, host = "lost-node-17", leaseTtlMs = Some(60000L))))
        fs.setTimes(lock, System.currentTimeMillis() - 120000L, -1L)
      })
    val twin = Replay.indexIngestRestartReplay(spark, deltas,
      s"$dir/twin", stopAfter = 0)
    assert(r.rowsPhaseA == 16L && r.rowsPhaseB == 16L,
      s"phase split wrong: A=${r.rowsPhaseA} B=${r.rowsPhaseB}")
    assert(!fs.exists(lock),
      "the reclaimed lock must not outlive the recovered stream")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("gen", "cell", "vec_id").collect().map(_.toSeq).toSet
    assert(shape(r.result) == shape(twin.result),
      "lease recovery must land on the one-shot tree")
    assert(AnnIndex.listGenerations(spark, s"$dir/lost") ==
      AnnIndex.listGenerations(spark, s"$dir/twin"))
    // contrast — the same foreign lock with a FRESH heartbeat (the
    // node is fine, its writer mid-mutation): the restarted stream
    // must refuse, and the foreign holder's lock survives
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ivffresh")
      .toString
    AnnIndex.buildIvfIndex(seed, "vec_id", "embedding", s"$dir2/idx",
      nCells = 4, centroids = Some(cents))
    val lock2 = new org.apache.hadoop.fs.Path(s"$dir2/idx/_writer_lock")
    val foreignFresh = graft.ops.LockTestSupport.plantedStamp(
      "compactIvfIndex", 12345L, host = "lost-node-17",
      leaseTtlMs = Some(60000L))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replay.indexIngestRestartReplay(spark, deltas, s"$dir2/idx",
        stopAfter = 2,
        afterKill = () => assert(FsLock.tryAcquire(fs, lock2, foreignFresh)))
    }
    assert(e.getMessage.contains("another writer holds"), e.getMessage)
    assert(FsLock.holderInfo(fs, lock2).contains(foreignFresh),
      "a heartbeat-fresh foreign lock must survive the failed restart")
    AnnIndex.breakIndexLock(spark, s"$dir2/idx")
  }

  test("replay is idempotent: a second run replaces stage dir and sink view") {
    val (s1, _) = Replay.hourlyRollupReplay(spark, events,
      stageDir = "/tmp/graft_replay_spec_idem")
    val first = s1.collect().map(_.toSeq).toSet
    val (s2, n2) = Replay.hourlyRollupReplay(spark, events,
      stageDir = "/tmp/graft_replay_spec_idem")
    assert(n2 >= 3)
    assert(s2.collect().map(_.toSeq).toSet == first)
  }
}
