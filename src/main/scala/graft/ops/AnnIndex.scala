package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.cosineExact

/** Persisted IVF index — the stored-ingest shape for similarity
  * search, mirroring what the delta-dedup index does for MinHash-LSH:
  * train once at ingest, write the inverted lists to parquet, and let
  * every later search ride the stored layout instead of re-clustering
  * the corpus.
  *
  * Layout under `dir`:
  *   - `centroids.parquet` — (cell INT, centroid ARRAY<DOUBLE>), ≤
  *     [[Similarity.MaxAdaptiveCells]] rows.
  *   - `postings.parquet/gen=G/cell=N/…` — (vec_id, vec, q_codes,
  *     q_scale), HIVE-PARTITIONED by generation and cell. `cell` is
  *     the on-disk analogue of IVF inverted lists: a search that
  *     probes p cells reads exactly p cell directories per generation
  *     — partition pruning IS the inverted-list seek, and the int8
  *     codes ride along for the quantized-shortlist path. `gen` is
  *     the APPEND generation: gen=0 is the base build, each
  *     [[appendToIvfIndex]] call owns one gen=G directory it can
  *     overwrite idempotently (the
  *     [[graft.streaming.BatchSinks.idempotentParquet]] discipline) —
  *     a replayed append rewrites itself instead of duplicating.
  *   - `_meta/gen=G/…` — one (n_vectors) row per generation,
  *     underscore-hidden from the postings read; O(generations) rows
  *     total, the input to [[appendedFraction]]'s retrain-drift
  *     signal.
  *   - `_deletes/del=D/…` — tombstoned (vec_id) rows, one directory
  *     per [[deleteFromIvfIndex]] batch; searches subtract them with
  *     a broadcast anti-join, [[compactIvfIndex]] purges them
  *     physically and retires the set.
  *
  * Scale notes: centroid training is the bounded-sample discipline
  * ([[Similarity.trainIvfCentroids]]); the postings write is one
  * corpus pass + a cell-key shuffle (the write repartitions by cell so
  * each partition directory is written by few tasks, not one file per
  * task per cell). Search never scans unprobed cells. Appends assign
  * against the STORED centroids — the coarse quantizer is frozen
  * between retrains, which is exactly what makes build(A)+append(B)
  * search result-identical to rebuild(A++B) under the same centroids
  * (driver-checked, q132).
  */
object AnnIndex {

  private def hadoopDelete(spark: SparkSession, p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  private val WriterLockFile = "_writer_lock"

  /** ONE writer per index tree at a time: every mutation (build,
    * append, compact, delete) runs under an exclusive-create lock
    * file at the index root — the [[Versioning.publish]] discipline
    * applied to the generation tree. Single-writer-per-WRITE is what
    * each writer's own crash story assumes (gen-overwrite, fold,
    * tombstone-retire orderings); two INTERLEAVED writers (a
    * streaming ingest racing a nightly compaction, two streams on
    * one index) could otherwise tear the tree in ways none of those
    * stories cover — e.g. a compaction folding generations while an
    * append lands a new one between the fold's read and its stale
    * clear. The second writer fails LOUDLY and mutates nothing;
    * readers are never blocked (searches take no lock — every
    * reader-visible state under a single writer is already covered
    * by the crash-ordering contracts). Composed maintenance
    * ([[maybeRetrain]]) acquires per operation, not per decision —
    * the decision inputs are monotone (appended mass, tombstones),
    * so a stale read only delays work to the next pass.
    *
    * CRASH-ORPHANED locks self-heal when provable: acquisition rides
    * [[FsLock.acquireOrReclaim]], so a kill -9'd writer on THIS host
    * (the checkpoint-restart case — a restarted foreachBatch ingest
    * finds its predecessor's lock with a dead pid) is reclaimed
    * unaided, which is what keeps the q154-class streaming recovery
    * story automatic through a hard crash. A cross-host or
    * unprovable orphan still needs [[breakIndexLock]] after the
    * operator confirms the holder dead. The body receives a
    * [[FsLock.Fence]] and must `verify()` immediately before each
    * tree-mutating write: a holder whose lock was wrongly broken
    * (live-holder break, reclaim racing a fresh acquire) aborts
    * before touching the tree instead of racing the new writer.
    * HDFS/posix-only guarantee ([[FsLock]]).
    */
  private def withWriterLock[T](spark: SparkSession, dir: String,
      op: String)(body: FsLock.Fence => T): T = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the lock is only a lock where exclusive create is server-side
    // atomic — same guard, same refusal, as Versioning.publish
    Versioning.requireAtomicFs(fs, dir, s"AnnIndex.$op")
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/$WriterLockFile")
    // advertiseLease: this wrapper runs the body under withHeartbeat,
    // so the stamp's lease promise is actually kept
    val stamp = FsLock.holderStamp(op, advertiseLease = true)
    if (!FsLock.acquireOrReclaim(fs, lock, stamp)) {
      val holder = FsLock.holderInfo(fs, lock)
        .map(h => s" (holder: $h)").getOrElse("")
      throw new IllegalStateException(
        s"$op: another writer holds $dir/$WriterLockFile$holder — one " +
          "writer per index tree (stream ingest, takedown, compaction " +
          "and rebuild serialize); back off, or breakIndexLock(dir) if " +
          "its holder crashed")
    }
    // heartbeat while the mutation runs (the cross-host lease, FsLock
    // path 2); release-if-owned, not unconditional delete: if this
    // writer was fenced out mid-body, the lock on disk is the NEW
    // holder's
    try FsLock.withHeartbeat(fs, lock, stamp) {
      body(FsLock.fence(fs, lock, stamp, s"AnnIndex.$op"))
    } finally FsLock.releaseOwned(fs, lock, stamp)
  }

  /** Manual override for a crash-orphaned writer lock that
    * [[FsLock.acquireOrReclaim]] cannot self-heal (foreign host, or a
    * stamp it can't prove dead) — see [[withWriterLock]]. Breaking a
    * STILL-LIVE holder is survivable but not free: the live writer is
    * fenced out at its next tree-mutating write ([[FsLock.Fence]])
    * and aborts loudly rather than racing the new one.
    */
  def breakIndexLock(spark: SparkSession, dir: String): Unit = {
    val lock = new org.apache.hadoop.fs.Path(s"$dir/$WriterLockFile")
    FsLock.release(
      lock.getFileSystem(spark.sparkContext.hadoopConfiguration), lock)
  }

  /** Assign + quantize + co-locate one batch of vectors for a
    * generation directory write (shared by build and append).
    */
  private def postedFrame(docs: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame =
    Similarity.ivfAssign(
        Similarity.withQuantizedInt8(
          docs.select(col(idCol).as("vec_id"), col(vecCol).as("vec")), "vec"),
        "vec", cents)
      // co-locate each cell before the partitioned write: without this
      // every task writes a file into every cell directory (tasks ×
      // cells small files — the classic partitionBy explosion)
      .repartition(col("cell"))

  /** Write one generation's postings + its _meta count row. The count
    * rides the postings write as an Observation (no second scan); the
    * meta row is written AFTER the postings so a crash between the two
    * leaves the generation visibly uncovered and the replay (same gen)
    * rewrites both — the `tokenStreamSink` ordering discipline.
    */
  private def fsFor(spark: SparkSession,
      dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeGeneration(spark: SparkSession, dir: String, gen: Long,
      posted: DataFrame, fence: FsLock.Fence): Long = {
    // stage → fence → rename for BOTH tree writes ([[StagedCommit]]);
    // the meta row commits after the postings so a crash between the
    // two leaves the generation visibly uncovered. Purges are
    // fence-guarded INSIDE StagedCommit — a fenced-out zombie
    // resuming here must throw before it can delete the live
    // holder's in-flight stage
    val fs = fsFor(spark, dir)
    StagedCommit.purgeStages(fs, s"$dir/postings.parquet",
      s".stage_gen_${gen}_", fence)
    StagedCommit.purgeStages(fs, s"$dir/_meta",
      s".stage_gen_${gen}_", fence)
    val token = StagedCommit.stageToken()
    val stagePost = s"$dir/postings.parquet/.stage_gen_${gen}_$token"
    val obs = org.apache.spark.sql.Observation()
    posted.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(stagePost)
    val n = obs.get("n").asInstanceOf[Long]
    StagedCommit.commitStaged(fs, fence, stagePost,
      s"$dir/postings.parquet/gen=$gen")
    val stageMeta = s"$dir/_meta/.stage_gen_${gen}_$token"
    spark.range(1).select(lit(n).as("n_vectors"))
      .write.mode(SaveMode.Overwrite).parquet(stageMeta)
    StagedCommit.commitStaged(fs, fence, stageMeta, s"$dir/_meta/gen=$gen")
    n
  }

  /** Train + persist. Returns the trained centroids (also persisted).
    * `corpus` needs only (idCol, vecCol); vectors with corrupt
    * elements follow the training quarantine and quantize to null
    * codes ([[Similarity.withQuantizedInt8]]). Pass `centroids` to
    * build under a PRE-TRAINED coarse quantizer (the rebuild-after-
    * appends shape: retraining the quantizer is a separate decision
    * from re-laying-out the postings — see [[appendedFraction]]).
    * A (re)build resets the generation tree: stale appends from a
    * previous index at the same path are deleted first.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nCells: Int, iters: Int = 2,
      corpusRowsHint: Option[Long] = None,
      centroids: Option[Seq[Seq[Double]]] = None): Seq[Seq[Double]] = {
    val spark = corpus.sparkSession
    centroids.foreach(cs => require(cs.length == nCells,
      s"buildIvfIndex: ${cs.length} pre-trained centroids but nCells=$nCells " +
        "— the quantizer you pass IS the cell count; pass matching values"))
    // centroid training reads only the corpus, never the tree — it
    // stays OUTSIDE the lock so a long kmeans doesn't stretch the
    // single-writer window; every tree byte below is lock-guarded
    val cents = centroids.getOrElse(Similarity.trainIvfCentroids(
      corpus, idCol, vecCol, nCells, iters, corpusRowsHint = corpusRowsHint))
    require(cents.nonEmpty, "buildIvfIndex: no centroids")
    import scala.jdk.CollectionConverters._
    withWriterLock(spark, dir, "buildIvfIndex") { fence =>
      // A rebuild swaps TWO reader-visible artifacts that must agree
      // (the quantizer and the postings assigned under it), and
      // readers take no lock — so BOTH are fully staged before the
      // tree is touched, then swapped in a few metadata ops. That
      // shrinks the torn quantizer/postings window from the gen-0
      // job's whole runtime to milliseconds. It cannot be zero with
      // two artifacts and lock-free readers: an IN-PLACE rebuild is
      // not reader-transparent (a reader straddling the swap, or a
      // crash inside it, can observe new centroids over old postings
      // until the rebuild replays) — zero-downtime serving should
      // build into a FRESH directory and move readers with a
      // Versioning pointer swap instead.
      val fs = fsFor(spark, dir)
      StagedCommit.purgeStages(fs, dir, ".stage_", fence)
      val token = StagedCommit.stageToken()
      val stageCents = s"$dir/.stage_centroids_$token"
      spark.createDataFrame(
        cents.zipWithIndex.map { case (c, i) => Row(i, c) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("centroid",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType), nullable = false))))
        .write.mode(SaveMode.Overwrite).parquet(stageCents)
      val stagePost = s"$dir/.stage_build_postings_$token"
      val obs = org.apache.spark.sql.Observation()
      postedFrame(corpus, idCol, vecCol, cents)
        .observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(stagePost)
      val n = obs.get("n").asInstanceOf[Long]
      val stageMeta = s"$dir/.stage_build_meta_$token"
      spark.range(1).select(lit(n).as("n_vectors"))
        .write.mode(SaveMode.Overwrite).parquet(stageMeta)
      // the swap: a rebuild owns the WHOLE tree — stale higher
      // generations go first (per-generation rename below would only
      // replace gen=0), and stale tombstones with them (they belong
      // to the replaced corpus; carrying them over would silently
      // delete from the new one). Fence opens the swap; each rename
      // re-fences (StagedCommit).
      fence.verify()
      hadoopDelete(spark, s"$dir/postings.parquet")
      hadoopDelete(spark, s"$dir/_meta")
      hadoopDelete(spark, s"$dir/_deletes")
      StagedCommit.commitStaged(fs, fence, stageCents,
        s"$dir/centroids.parquet")
      StagedCommit.commitStaged(fs, fence, stagePost,
        s"$dir/postings.parquet/gen=0")
      StagedCommit.commitStaged(fs, fence, stageMeta, s"$dir/_meta/gen=0")
      n
    }
    cents
  }

  /** ZERO-DOWNTIME REBUILD — the serving-path twin of
    * [[buildIvfIndex]] (whose scaladoc documents why an IN-PLACE
    * rebuild is inherently not reader-transparent: two reader-visible
    * artifacts, lock-free readers). This composition closes that gap:
    * the new index tree (quantizer + postings + meta, all of it) is
    * built by [[buildIvfIndex]] inside a [[Versioning.publishTree]]
    * stage — a dot-hidden dir under `root` no reader resolves — and
    * readers are moved with the atomic `_current` pointer swap.
    * Readers resolve [[currentIndexDir]] once per search and then
    * read an IMMUTABLE `v=N` tree, so they see old-complete or
    * new-complete, never a torn quantizer/postings mix; a search
    * mid-flight across the swap finishes consistently on the version
    * it resolved. Rebuilds serialize through the root's dataset lock
    * (heartbeat + fenced commit — the whole crash story of
    * [[Versioning.publish]] applies verbatim); old versions stay for
    * rollback until [[Versioning.vacuum]] reclaims them.
    *
    * RETENTION GRACE: readers are lock-free and only the POINTED-AT
    * version is vacuum-protected, so a `vacuum(root, keep = 1)` run
    * immediately after a rebuild can delete the superseded `v=N` out
    * from under a reader that resolved [[currentIndexDir]] moments
    * before the swap. Serving roots must either keep ≥ 2 versions or
    * delay vacuum past the maximum query duration after a rebuild —
    * see [[Versioning.vacuum]]'s grace rule.
    *
    * Centroid training runs BEFORE the dataset lock is taken (it
    * reads only the corpus), so a long kmeans doesn't stretch the
    * mutation window — the same reasoning as [[buildIvfIndex]]'s
    * train-outside-the-lock. Returns (published version, centroids).
    */
  def rebuildIvfIndexVersioned(corpus: DataFrame, idCol: String,
      vecCol: String, root: String, nCells: Int, iters: Int = 2,
      corpusRowsHint: Option[Long] = None,
      centroids: Option[Seq[Seq[Double]]] = None)
      : (Long, Seq[Seq[Double]]) = {
    val cents = centroids.getOrElse(Similarity.trainIvfCentroids(
      corpus, idCol, vecCol, nCells, iters, corpusRowsHint = corpusRowsHint))
    val v = Versioning.publishTree(corpus.sparkSession, root) { stage =>
      buildIvfIndex(corpus, idCol, vecCol, stage, nCells,
        centroids = Some(cents))
    }
    (v, cents)
  }

  /** The index tree readers of a versioned root should search right
    * now: `root/v=<current>` — resolve once, then search the
    * immutable tree ([[rebuildIvfIndexVersioned]]). Pass `version`
    * for time travel onto any still-retained rebuild.
    */
  def currentIndexDir(spark: SparkSession, root: String,
      version: Option[Long] = None): String = {
    val v = version.orElse(Versioning.currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(
        s"no published index version at $root — rebuildIvfIndexVersioned " +
          "first"))
    val dir = s"$root/v=$v"
    require(fsFor(spark, root).exists(new org.apache.hadoop.fs.Path(dir)),
      s"index version $v does not exist at $root")
    dir
  }

  /** Incremental append — the hourly-ingest path between nightly
    * retrains: assign `newDocs` against the STORED centroids and write
    * them as generation `gen` of the postings tree. EXACTLY-ONCE in
    * `gen`: the write overwrites `postings.parquet/gen=G` wholesale,
    * so a crashed or replayed append (same gen) rewrites itself and
    * can never duplicate rows; distinct appends must use distinct
    * gens ≥ 1 (a streaming caller passes its micro-batch id). The
    * generation's exact vector count lands in `_meta/gen=G` AFTER the
    * postings commit, feeding [[appendedFraction]]'s retrain trigger.
    *
    * Search needs no append awareness: `cell` stays a partition
    * column of every generation, so probed-cell pruning reads p cell
    * directories per generation — seek cost grows O(generations),
    * which is why a drift threshold should fold appends back into a
    * rebuild. Appended ids are expected DISJOINT from stored ids
    * (re-ingesting an id leaves two candidate rows for it; use the
    * snapshot-diff operator to split adds from updates upstream).
    *
    * Returns the number of vectors appended.
    */
  /** The flat-layout guard on every INCREMENTAL mutation: the
    * generation/tombstone lifecycle is defined over the flat tree
    * (`postings.parquet/gen=G/cell=N`), and running it against a
    * two-level tree would not fail fast on its own — an append would
    * graft a gen/cell layout into a coarse-partitioned tree, and a
    * DELETE would write `_deletes` that the two-level search arms
    * never subtract (silently serving takedown-obligated vectors —
    * the worst failure shape). Presence of `fine_centroids.parquet`
    * IS the layout marker. Two-level maintenance is the versioned
    * rebuild ([[rebuildIvfIndexTwoLevelVersioned]]).
    */
  private def requireFlatLayout(spark: SparkSession, dir: String,
      op: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/fine_centroids.parquet")
    require(!p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(p),
      s"$op: $dir is a TWO-LEVEL index tree — the incremental " +
        "lifecycle (append/delete/compact/maybeRetrain) is defined " +
        "over the flat layout only; maintain two-level trees with " +
        "rebuildIvfIndexTwoLevelVersioned")
  }

  def appendToIvfIndex(spark: SparkSession, dir: String, newDocs: DataFrame,
      idCol: String, vecCol: String, gen: Long): Long = {
    require(gen >= 1, s"gen 0 is the base build; appends start at 1 (got $gen)")
    requireFlatLayout(spark, dir, "appendToIvfIndex")
    withWriterLock(spark, dir, "appendToIvfIndex") { fence =>
      // centroids read INSIDE the lock: a concurrent rebuild must not
      // swap the quantizer between this read and the generation write
      val cents = loadCentroids(spark, dir)
      require(cents.nonEmpty, s"empty index at $dir")
      writeGeneration(spark, dir, gen,
        postedFrame(newDocs, idCol, vecCol, cents), fence)
    }
  }

  /** Appended-vector mass relative to the base build — the drift
    * signal a retrain threshold watches (e.g. rebuild once appends
    * exceed 20% of the base: the frozen quantizer was trained on a
    * corpus that no longer looks like the index). O(generations) rows
    * read; crashed appends (postings committed, meta row not yet)
    * under-count until their replay completes — monotone and safe for
    * a ≥-threshold trigger.
    */
  /** (base vectors, appended vectors) from the `_meta` side-table —
    * O(generations) rows read; shared by [[appendedFraction]] and the
    * q132 oracle row so the layout has one reader. An ABSENT or empty
    * tree (a monitor pointed at a mid-build index, or a crash between
    * the meta delete and the gen-0 write) reads as (0, 0) — the
    * under-count direction, safe for a ≥-threshold trigger.
    */
  def metaCounts(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val meta = spark.read.parquet(s"$dir/_meta")
        .select(col("gen").cast("long"), col("n_vectors").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // gen ≤ 0 is BASE mass: gen 0 is the original build and each
      // [[compactIvfIndex]] folds the tree into a fresh negative
      // generation (-1, -2, …) — appends stay strictly positive, so
      // the base/appended split survives any number of compactions
      (meta.filter(_._1 <= 0L).map(_._2).sum,
        meta.filter(_._1 > 0L).map(_._2).sum)
    }
  }

  def appendedFraction(spark: SparkSession, dir: String): Double = {
    val (base, appended) = metaCounts(spark, dir)
    if (base > 0L) appended.toDouble / base.toDouble
    else if (appended > 0L) Double.PositiveInfinity
    else 0.0
  }

  /** Tombstone a set of vector ids — the takedown/decontamination path
    * that completes the index lifecycle (build / append / compact /
    * delete). NOTHING in the postings tree moves: the ids land as one
    * `_deletes/del=D` generation (underscore-hidden from every postings
    * read), searches subtract them with a broadcast anti-join off the
    * pruned scan, and the next [[compactIvfIndex]] purges them
    * physically. That split is deliberate 100 TB shape: a delete is
    * O(delete set) — rewriting affected cells in place would make every
    * takedown a corpus-sized write job.
    *
    * EXACTLY-ONCE in `del`, the [[appendToIvfIndex]] discipline: the
    * write overwrites `_deletes/del=D` wholesale, so a crashed or
    * replayed delete rewrites itself; distinct delete batches use
    * distinct del ids ≥ 1. Deleting an id that is absent (never
    * ingested, or already purged) is a no-op by construction — the
    * anti-join finds nothing to subtract — which is what makes the
    * whole lifecycle replayable in any order.
    *
    * Contract: tombstone mass stays takedown-scale (≪ the corpus —
    * searches BROADCAST the accumulated set; [[tombstonedCount]] is
    * the bound to watch, and [[maybeRetrain]] folds tombstones away on
    * its next maintenance pass). `ids` needs only `idCol`; null ids
    * are dropped (no posting carries a null vec_id).
    *
    * Returns the number of ids tombstoned in this batch.
    */
  def deleteFromIvfIndex(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String, del: Long): Long = {
    require(del >= 1, s"delete batches start at 1 (got $del)")
    requireFlatLayout(spark, dir, "deleteFromIvfIndex")
    withWriterLock(spark, dir, "deleteFromIvfIndex") { fence =>
      require(loadCentroids(spark, dir).nonEmpty, s"empty index at $dir")
      // stage → fence → rename, the writeGeneration discipline: a
      // tombstone batch becomes reader-visible at the rename instant
      val fs = fsFor(spark, dir)
      StagedCommit.purgeStages(fs, s"$dir/_deletes",
        s".stage_del_${del}_", fence)
      val stage = s"$dir/_deletes/.stage_del_${del}_" +
        StagedCommit.stageToken()
      val obs = org.apache.spark.sql.Observation()
      ids.select(col(idCol).as("vec_id")).where(col("vec_id").isNotNull)
        .distinct()
        .observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(stage)
      val n = obs.get("n").asInstanceOf[Long]
      StagedCommit.commitStaged(fs, fence, stage, s"$dir/_deletes/del=$del")
      n
    }
  }

  /** The accumulated tombstone set — (vec_id) rows across every
    * `_deletes/del=D` generation, distinct (the same id tombstoned by
    * two batches subtracts once). None when no delete has ever run.
    * Pass `idType` (the tree's vec_id type, when the caller knows it
    * from its query/postings frame) to skip the per-search
    * schema-inference job on the scan.
    */
  def loadTombstones(spark: SparkSession, dir: String,
      idType: Option[org.apache.spark.sql.types.DataType] = None)
      : Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_deletes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val reader = idType match {
        case Some(t) => spark.read.schema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id", t))))
        case None => spark.read
      }
      Some(reader.parquet(s"$dir/_deletes")
        .select("vec_id").distinct())
    }
  }

  /** Distinct tombstoned ids not yet purged — the broadcast-size bound
    * a maintenance job watches (compact once it grows). 0 after every
    * compaction.
    */
  def tombstonedCount(spark: SparkSession, dir: String): Long =
    loadTombstones(spark, dir).map(_.count()).getOrElse(0L)

  /** Subtract tombstoned ids from a postings scan. The anti-join
    * BROADCASTS the tombstone set (takedown-scale by the
    * [[deleteFromIvfIndex]] contract) so the pruned scan stays
    * shuffle-free; absent tombstones cost nothing (no join at all).
    * The tombstone scan reuses the postings frame's vec_id type, so
    * it never pays a schema-inference job.
    */
  private def withoutTombstoned(spark: SparkSession, dir: String,
      postings: DataFrame): DataFrame =
    loadTombstones(spark, dir,
        Some(postings.schema("vec_id").dataType)) match {
      case Some(t) => postings.join(broadcast(t), Seq("vec_id"), "left_anti")
      case None => postings
    }

  /** Generation ids visible in the postings tree, from a filesystem
    * listing of the hive partition directories — O(generations) names,
    * no data read. In-flight generation writes are invisible (their
    * files live under `_temporary` until the committer publishes, so
    * an empty `gen=G` shell lists but carries no rows — harmless
    * either way since readers see no rows there).
    */
  def listGenerations(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/postings.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") =>
        n.stripPrefix("gen=").toLong }
      .sorted
  }

  /** Generation ids visible in the `_meta` side-table — the cleanup
    * companion of [[listGenerations]]: a compaction interrupted
    * between a stale gen's meta delete and its postings delete (or a
    * pre-r12 crash in the reverse order) can leave the two listings
    * disagreeing, and the stale-clear must cover their UNION or an
    * orphaned meta row skews [[metaCounts]] forever.
    */
  private def listMetaGenerations(spark: SparkSession,
      dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") =>
        n.stripPrefix("gen=").toLong }
      .sorted
  }

  /** Fold every postings generation back into ONE compact base
    * generation under the SAME frozen centroids — the maintenance path
    * for the append/streaming-ingest tree, which otherwise accumulates
    * batches×cells small files and an O(generations) seek per probed
    * cell forever.
    *
    * The compacted base gets a fresh NEGATIVE generation (minGen − 1;
    * first compaction writes gen=-1). Two alternatives fail:
    * overwriting gen=0 in place would read-and-overwrite the same
    * path (the Overwrite truncation deletes the files the scan just
    * listed), and folding "upward" into maxGen+1 collides with the
    * streaming ingest's `gen = batchId + 1` contract (the next
    * micro-batch would overwrite the base). Negative generations are
    * owned by compaction alone; [[metaCounts]] treats gen ≤ 0 as base
    * mass, so [[appendedFraction]] resets to 0 after a fold.
    *
    * Crash safety, in write order:
    *   1. compacted gen write — FileOutputCommitter keeps in-flight
    *      files under `_temporary`: a crash mid-write leaves the old
    *      tree byte-identical to readers (the q132 append argument);
    *   2. its `_meta` row;
    *   3. stale generations cleared LAST, meta dir BEFORE its
    *      postings dir, and the stale set is the UNION of the
    *      postings and `_meta` listings. Meta-first keeps
    *      [[metaCounts]] exact through any crash: a half-cleared gen
    *      is then postings-without-meta, whose rows the fold already
    *      owns (they count once, via the compacted gen's meta row) —
    *      whereas the reverse order could strand a meta-without-
    *      postings orphan on the OLD BASE gen, double-counting base
    *      mass so [[appendedFraction]] under-fires the retrain
    *      trigger forever (nothing keyed off the postings listing
    *      would ever remove it; the union-derived cleanup also purges
    *      any such orphan left by an older build). A crash between
    *      2 and 3 leaves a MIXED tree (compacted
    *      base + stale gens): every search arm collapses multi-probe
    *      duplicates per (query_id, neighbor_id) and payloads are
    *      identical per id, so the mixed tree is search-IDENTICAL to
    *      the compacted one — readable and correct, just temporarily
    *      double-sized (spec-asserted). A replayed compaction
    *      converges: the union of a mixed tree deduplicates by vec_id
    *      before the fold (a no-op on a healthy tree whose appended
    *      ids are disjoint by contract, the collapse that makes
    *      replay idempotent on a crashed one).
    *
    * No math re-runs: postings already carry (cell, q_codes, q_scale),
    * so compaction is one pruned-column corpus read + the
    * dedup/repartition shuffles + one partitioned write — bytes move,
    * nothing is re-assigned or re-quantized.
    *
    * Returns the row count of the compacted base generation.
    */
  def compactIvfIndex(spark: SparkSession, dir: String): Long = {
    requireFlatLayout(spark, dir, "compactIvfIndex")
    withWriterLock(spark, dir, "compactIvfIndex") { fence =>
    val gens = listGenerations(spark, dir)
    require(gens.nonEmpty, s"empty index at $dir — nothing to compact")
    val target = gens.min - 1L
    val all = spark.read.parquet(s"$dir/postings.parquet")
      .select("vec_id", "vec", "q_codes", "q_scale", "cell")
      // replay idempotence: a crashed mixed tree holds the same id in
      // the stale gen and the compacted one; payloads are identical
      // per id (append contract), so which row survives is immaterial
      .dropDuplicates("vec_id")
    // compaction is where tombstones become physical: the fold writes
    // the survivors only, then retires the tombstone set
    val n = writeGeneration(spark, dir, target,
      withoutTombstoned(spark, dir, all).repartition(col("cell")), fence)
    // a zero-survivor fold (every row tombstoned — a full decommission)
    // must NOT clear the stale gens: a zero-row PARTITIONED write emits
    // no data files, so the "compacted" tree would hold no parquet at
    // all and every later read would fail on schema inference. Refuse
    // loudly and leave the tree exactly as readable as before (the
    // tombstones already make every search return empty); deleting the
    // index directory is the decommission operation, not compaction.
    if (n == 0L) {
      hadoopDelete(spark, s"$dir/postings.parquet/gen=$target")
      hadoopDelete(spark, s"$dir/_meta/gen=$target")
      throw new IllegalStateException(
        s"compactIvfIndex: every posting at $dir is tombstoned — " +
          "refusing to fold to an unreadable empty tree; delete the " +
          "index directory to decommission it")
    }
    // clear stale gens LAST; per gen: META before postings (an
    // interrupted clear leaves postings-without-meta — rows the fold
    // already owns, counted exactly once via the target's meta row —
    // never a meta orphan that double-counts base mass), and the
    // stale set is the UNION of both listings so orphaned meta gens
    // from an older crash are purged on replay rather than skewing
    // appendedFraction forever
    // fence per stale GEN, not once per loop (the vacuum discipline):
    // a mid-loop wrong reclaim must not let this stale clear race the
    // usurper's own view of the tree
    (gens ++ listMetaGenerations(spark, dir))
      .distinct.filterNot(_ == target).foreach { g =>
        fence.verify()
        hadoopDelete(spark, s"$dir/_meta/gen=$g")
        hadoopDelete(spark, s"$dir/postings.parquet/gen=$g")
      }
    // tombstones go after the gens they mask: a crash anywhere above
    // leaves them in force (stale gens still carry the deleted rows),
    // and once the purged fold is the only generation they subtract
    // ids that no longer exist — a no-op either way, never a
    // resurrection
    hadoopDelete(spark, s"$dir/_deletes")
    // maintenance owns layout: sweep stage leftovers from dead or
    // fenced-out writers whose gen never replayed (reader-invisible
    // but bytes; same-target writers purge their own prefix, this is
    // the catch-all). Each purge fences internally.
    val sweepFs = fsFor(spark, dir)
    StagedCommit.purgeStages(sweepFs, s"$dir/postings.parquet",
      ".stage_", fence)
    StagedCommit.purgeStages(sweepFs, s"$dir/_meta", ".stage_", fence)
    StagedCommit.purgeStages(sweepFs, dir, ".stage_", fence)
    n
  }}

  /** Appended mass ≥ this fraction of the base ⇒ the frozen coarse
    * quantizer was trained on a corpus that no longer looks like the
    * index — rebuild with fresh centroids rather than just folding
    * generations. 20%: centroid assignment quality degrades with
    * corpus drift, not file layout, and the r11 16×-scale datum
    * (NOTES.md, r11 build log) shows a fold alone already restores the seek
    * cost — 9 generations fragmented the 32k-vector/64-cell tree to
    * 544 part files with a 3.8 s probe search, one 3.0 s fold
    * returned it to 64 files and 1.4 s — so layout pays for itself
    * long before the quantizer is stale, and retrain stays reserved
    * for actual corpus drift, for which appended mass is the proxy.
    */
  val DefaultRetrainTau: Double = 0.2

  /** The [[appendedFraction]] consumer: retrain-or-compact decision a
    * nightly maintenance job calls after a day of appends. Appended
    * mass ≥ `tau` ⇒ full [[buildIvfIndex]] rebuild of `corpus` with
    * FRESH centroids (the caller supplies the corpus — the index's
    * own postings cannot be both the rebuild source and its overwrite
    * target in one pass, and the corpus is the source of truth: docs
    * deleted since the last build must already be gone from it, since
    * a rebuild retires the tombstone set); below `tau` ⇒
    * [[compactIvfIndex]] folds the generation tree under the frozen
    * quantizer (cheap: bytes move, no retraining) — also when the tree
    * is single-generation but tombstones have accumulated, so delete
    * mass never outlives a maintenance pass. Returns true iff a
    * retrain happened.
    */
  def maybeRetrain(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String, nCells: Int,
      tau: Double = DefaultRetrainTau, iters: Int = 2): Boolean = {
    require(tau > 0.0, s"tau must be positive, got $tau")
    requireFlatLayout(spark, dir, "maybeRetrain")
    if (appendedFraction(spark, dir) >= tau) {
      buildIvfIndex(corpus, idCol, vecCol, dir, nCells, iters = iters)
      true
    } else {
      if (listGenerations(spark, dir).size > 1 ||
          tombstonedCount(spark, dir) > 0L) compactIvfIndex(spark, dir)
      false
    }
  }

  /** Stored centroids in cell order — the search-time coarse
    * quantizer. Bounded: ≤ nCells rows collect.
    */
  /** The quantizer tree's fixed on-disk schema (what [[buildIvfIndex]]
    * writes) — declared at read time so the scan skips the per-call
    * schema-inference job (guide §1.2: the metadata load rides every
    * single search).
    */
  private val CentroidsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))

  def loadCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    // cell order established driver-side: an orderBy before a ≤nCells
    // collect costs a range-partition exchange plus its sampling pass
    // per call, and every search pays this load (guide §2.4 — remove
    // shuffles outright)
    spark.read.schema(CentroidsSchema)
      .parquet(s"$dir/centroids.parquet")
      .select("cell", "centroid").collect()
      .sortBy(_.getInt(0))
      .map(r => r.getSeq[Double](1).toSeq).toSeq

  /** Search the persisted index: queries probe their `nProbe` nearest
    * stored centroids; ONLY the probed cells' partition directories
    * are scanned (`cell IN (…)` over the hive-partition column — the
    * probed-cell set is ≤ nCells values, collected bounded); exact
    * cosine re-rank over candidates whose vectors come straight off
    * the pruned postings scan (no second corpus pass). Self-matches
    * (same id on both sides) are excluded, as in [[Similarity.ivfTopK]]
    * — with the same centroids the two produce IDENTICAL output
    * (driver-checked, q126).
    */
  /** QUANTIZED search over the persisted index — why the int8 codes
    * are stored: candidates are scored with [[Similarity.quantizedDot]]
    * over the CODES off the pruned postings scan (dim bytes cross the
    * cell join, not dim·4 floats — the 4× candidate-join IO cut), a
    * `rerankFactor·k` shortlist survives, and ONLY the shortlist joins
    * back to the pruned partitions for the exact cosine re-rank.
    * With a shortlist generous enough to hold every candidate the
    * result is IDENTICAL to [[searchIvfIndex]] (the q126 plumbing
    * contract); at production shortlist sizes recall follows the
    * measured [[Similarity.ivfTopKQuantizedRerank]] behavior (factor 4
    * recall-identical on the fixtures — RecallProbe). Corrupt stored
    * vectors carry null codes and never enter the shortlist.
    */
  def searchIvfIndexQuantized(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 2, rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be ≥ 1, got $rerankFactor")
    val cents = loadCentroids(spark, dir)
    require(cents.nonEmpty, s"empty index at $dir")
    // lazy localCheckpoint: qa feeds the probe-cell build side, the
    // codes-candidate join AND the re-rank query-vector fetch — three
    // plan references over the assignment kernel's map-side work
    val qa = Similarity.ivfAssignProbes(
        Similarity.withQuantizedInt8(
          queries.select(col(idCol).as("query_id"), col(vecCol).as("queryv")),
          "queryv"),
        "queryv", cents, nProbe)
      .select(col("query_id"), col("queryv"),
        col("q_codes").as("query_codes"), col("q_scale").as("query_scale"),
        col("cell").cast("int").as("cell"))
      .localCheckpoint(false)
    // the same runtime-partition-pruned scan as the many-queries exact
    // arm (r10 shipped the DPP path on the exact arm only; the arms
    // now share it — no driver round-trip on the probe side)
    val postings = prunedPostings(spark, dir, qa)
    // codes-only candidate scoring off the pruned scan
    val cands = postings
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("q_codes").as("neighbor_codes"), col("q_scale").as("neighbor_scale"))
      .join(qa.select(col("query_id"), col("query_codes"),
        col("query_scale"), col("cell")), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
    // multi-probe duplicates carry identical codes ⇒ identical approx
    // scores — dedup rides the TopK buffer (one exchange, not two)
    val shortlist = Similarity.rankTopKDistinct(
      cands.select(col("query_id"), col("neighbor_id"),
        Similarity.quantizedDot(col("query_codes"), col("query_scale"),
          col("neighbor_codes"), col("neighbor_scale")).as("approx")),
      k * rerankFactor, "approx")
      .select("query_id", "neighbor_id")
    // exact re-rank: vectors only for the shortlist, still read from
    // the PRUNED partitions (the id join rides the cell-filtered scan)
    val rerank = shortlist
      .join(qa.select("query_id", "queryv").dropDuplicates("query_id"),
        Seq("query_id"))
      .join(postings.select(col("vec_id").as("neighbor_id"),
        col("vec").as("neighborv")), Seq("neighbor_id"))
    // a crash-window MIXED tree holds the same vec_id in two
    // generations: the vector fetch would fan the shortlist out and
    // one neighbor could occupy two top-k slots. Payloads are
    // identical per id, so the collapse is value-free — and it now
    // rides the TopK buffer (rankTopKDistinct) instead of paying its
    // own exchange. Keeps the compaction mixed-tree search-identity
    // promise on THIS arm too (spec-asserted).
    Similarity.rankTopKDistinct(
      rerank.select(col("query_id"), col("neighbor_id"),
        cosineExact(col("queryv"), col("neighborv")).as("cosine")),
      k, "cosine")
  }

  /** Many-query search over the persisted index: same semantics as
    * [[searchIvfIndex]], but the probe-cell set NEVER crosses the
    * driver — it stays a (≤ nCells)-row frame that broadcast-semi-joins
    * the postings scan on the partition column, and Spark's dynamic
    * partition pruning turns that join into a runtime PartitionFilter
    * (plan-asserted in the spec: the postings FileScan carries a
    * `dynamicpruningexpression` on `cell`). Use this arm when the
    * query set is itself corpus-sized (millions of rows): the IN-list
    * arm's `distinct().collect()` is bounded and correct, but it
    * serializes a driver round-trip into every search; here the probe
    * set flows executor-to-executor. Results are IDENTICAL to the
    * IN-list arm (same candidate rows, same exact cosine re-rank).
    */
  /** Probe assignment for a query frame: (query_id, queryv, cell).
    * Cell ids are LONG in-plan (the native kernel's type) but the
    * hive partition column reads back as INT — normalize to int here
    * so joins and IN-lists bind against the partition column without
    * a cast wrapping it (a cast would defeat pruning).
    */
  private def assignQueries(queries: DataFrame, idCol: String,
      vecCol: String, cents: Seq[Seq[Double]], nProbe: Int): DataFrame =
    Similarity.ivfAssignProbes(queries, vecCol, cents, nProbe)
      .select(col(idCol).as("query_id"), col(vecCol).as("queryv"),
        col("cell").cast("int").as("cell"))

  /** The candidate join + exact re-rank both search arms share: cell
    * co-membership candidates, self-matches excluded, multi-probe
    * duplicates collapsed (vector payloads are identical per id, so
    * which duplicate survives cannot change any value), k-bounded
    * TopK on the exact cosine. ONE implementation is what makes the
    * arms' result-identity contract structural rather than maintained
    * by parallel edits.
    *
    * r16: the duplicate collapse moved INSIDE the TopK aggregation
    * buffer ([[Similarity.rankTopKDistinct]]) — the standalone
    * dropDuplicates was a second full-candidate exchange ahead of the
    * ranking one, and the dedup precondition (duplicates are exact
    * value-duplicates) is precisely the multi-probe/mixed-generation
    * contract already documented here. Plan: 2 Exchange → 1, and the
    * surviving shuffle carries ≤ k rows per query per partition.
    */
  private def rerankCandidates(qa: DataFrame, postings: DataFrame,
      k: Int): DataFrame = {
    import graft.functions.{cosinePreNormed, vecNormExact}
    // self-dot norms are per-ROW facts — computed map-side before the
    // candidate join, so each pair pays ONE dot + multiply/divide
    // instead of three dots; dot/(qn·nn) is bit-identical to
    // cosineExact (same IEEE ops — see [[graft.functions
    // .cosinePreNormed]]). The r16 stage profile had the pair loop as
    // the single slowest stage of the many-query searches.
    val cands = postings
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("vec").as("neighborv"))
      .withColumn("__nn", vecNormExact(col("neighborv")))
      .join(qa.withColumn("__qn", vecNormExact(col("queryv"))), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
    Similarity.rankTopKDistinct(
      cands.select(col("query_id"), col("neighbor_id"),
        cosinePreNormed(col("queryv"), col("neighborv"),
          col("__qn"), col("__nn")).as("cosine")),
      k, "cosine")
  }

  /** Probed-cell-pruned postings scan WITHOUT a driver round-trip: the
    * probe-cell set stays a (≤ nCells)-row frame that broadcast-
    * semi-joins the scan on the partition column, and Spark's dynamic
    * partition pruning turns the join into a runtime PartitionFilter
    * (`dynamicpruningexpression` on `cell` — plan-asserted for both
    * consuming arms). The `cell >= 0` predicate is semantically a
    * no-op (cells are 0-based indexes) but REQUIRED machinery:
    * Spark's PartitionPruning rule only inserts a runtime partition
    * filter when the build side carries a likely-selective predicate —
    * a bare distinct-aggregate frame doesn't qualify.
    */
  private def prunedPostings(spark: SparkSession, dir: String,
      qa: DataFrame): DataFrame = {
    val probeCells = qa.select("cell").distinct().where(col("cell") >= 0)
    withoutTombstoned(spark, dir,
      flatPostings(spark, dir, qa.schema("query_id").dataType,
        qa.schema("queryv").dataType)
        .join(broadcast(probeCells), Seq("cell"), "left_semi"))
  }

  /** Flat postings tree reader under the schema the writer fixed
    * ([[postedFrame]]: vec_id, vec, q_scale, q_codes + the gen/cell
    * partition columns) — vec_id/vec types derive from the caller's
    * query frame (the search contract compares query and posting ids
    * directly, so the types agree by construction). Declaring the
    * schema skips the per-search schema-inference job the bare
    * `spark.read.parquet` pays (guide §1.2 — measured one job per
    * read across every search and lifecycle call).
    */
  private def flatPostings(spark: SparkSession, dir: String,
      idType: org.apache.spark.sql.types.DataType,
      vecType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read.schema(StructType(Seq(
        StructField("vec_id", idType),
        StructField("vec", vecType),
        StructField("q_scale", DoubleType),
        StructField("q_codes", ArrayType(ByteType)),
        StructField("cell", IntegerType),
        StructField("gen", LongType))))
      .parquet(s"$dir/postings.parquet")
  }

  def searchIvfIndexManyQueries(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 2): DataFrame =
    manyQueriesWithCents(spark, dir, queries, idCol, vecCol, k, nProbe,
      loadCentroids(spark, dir)) // bounded ≤ nCells — index metadata

  /** [[searchIvfIndexManyQueries]] under a caller-loaded quantizer —
    * the converged ladder re-searches the same tree once per rung, and
    * reloading ≤nCells metadata per rung was one redundant read+collect
    * job each (guide §1.2: remove repeated passes first).
    */
  private def manyQueriesWithCents(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, cents: Seq[Seq[Double]]): DataFrame = {
    require(cents.nonEmpty, s"empty index at $dir")
    // lazy localCheckpoint: qa feeds BOTH the probe-cell build side and
    // the candidate join — without it the nearest-cells assignment (the
    // dominant map-side cost at corpus-sized query sets) runs twice
    val qa = assignQueries(queries, idCol, vecCol, cents, nProbe)
      .localCheckpoint(false)
    rerankCandidates(qa, prunedPostings(spark, dir, qa), k)
  }

  /** PRE-FILTERED search: candidates are restricted to the `allowed`
    * id frame (an attribute predicate the caller evaluated upstream —
    * per-language search, per-license search, "only docs newer than
    * the eval cutoff") BEFORE the k-bounded ranking. Pre-filter
    * semantics matter: filtering a plain top-k AFTER ranking returns
    * fewer than k (often zero) survivors whenever the allowed set is
    * selective — here every returned rank is a true rank within the
    * allowed sub-corpus, identical to searching an index built from
    * the allowed rows alone under the same frozen centroids
    * (spec + driver-checked, q143).
    *
    * Scale: the allowed set may be CORPUS-SIZED (a language slice is
    * half the corpus), so unlike the tombstone anti-join it is NOT
    * broadcast-hinted — the semi-join runs after the cell-pruned,
    * tombstone-filtered scan and AQE picks broadcast vs shuffle from
    * the actual build-side size. Cell pruning is unaffected: probing
    * still reads only the probed partition directories.
    */
  def searchIvfIndexFiltered(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String,
      k: Int, nProbe: Int = 2): DataFrame =
    filteredWithCents(spark, dir, queries, idCol, vecCol, allowed,
      allowedIdCol, k, nProbe, loadCentroids(spark, dir))

  /** [[searchIvfIndexFiltered]] under a caller-loaded quantizer — see
    * [[manyQueriesWithCents]] for why the ladder wants this.
    */
  private def filteredWithCents(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String,
      k: Int, nProbe: Int, cents: Seq[Seq[Double]]): DataFrame = {
    require(cents.nonEmpty, s"empty index at $dir")
    val qa = assignQueries(queries, idCol, vecCol, cents, nProbe)
      .localCheckpoint(false)
    // no distinct() on the allowed frame: left_semi already ignores
    // duplicate build rows, and a corpus-sized allowed set would pay a
    // full extra shuffle for nothing (r11 review finding)
    val postings = prunedPostings(spark, dir, qa)
      .join(allowed.select(col(allowedIdCol).as("vec_id")),
        Seq("vec_id"), "left_semi")
    rerankCandidates(qa, postings, k)
  }

  /** CORPUS-SCALE hard-negative mining over the stored index: for each
    * anchor, the `k` nearest postings whose label DIFFERS — the
    * [[Similarity.hardNegativesTopK]] semantics re-expressed so the
    * anchor set never crosses the driver and never broadcasts. The
    * exact arm broadcasts its anchors ([[Similarity.bruteForceTopK]]'s
    * shape), which caps it at driver-memory anchor sets; here anchors
    * flow executor-to-executor exactly like
    * [[searchIvfIndexManyQueries]] (the contrastive-training reality:
    * EVERY training example is an anchor, so the anchor set IS the
    * corpus). The probe-cell set stays a ≤nCells frame that
    * broadcast-semi-joins the postings scan on the partition column →
    * runtime dynamic partition pruning (plan-asserted in the spec,
    * the q140 discipline).
    *
    * The label predicate filters candidate pairs BEFORE the k-bounded
    * ranking (the q143/q151 pre-filter lesson: post-filtering a plain
    * top-k starves exactly the anchors whose neighborhoods are
    * same-label — the ones hard negatives matter for). Labels ride a
    * separate `labels` frame (`idCol`, `labelCol`) because postings
    * deliberately carry no attributes; the join runs AFTER cell
    * pruning, so only probed cells pay it, and it is NOT
    * broadcast-hinted — a label table is corpus-sized, AQE decides
    * (the q143 allowed-set reasoning). Null-labeled rows match
    * nothing on either side (`=!=` is null-rejecting under the inner
    * join); postings absent from `labels` have unknown labels and
    * likewise never match.
    *
    * With `nProbe` ≥ the cell count the probe set is exhaustive and
    * the result is row-for-row IDENTICAL to the exact broadcast arm
    * (driver-checked, q153); at production probe counts recall
    * follows the measured IVF behavior (RecallProbe).
    *
    * Output: (query_id, neighbor_id, cosine, rank),
    * label(anchor) ≠ label(neighbor) on every row.
    */
  def hardNegativesIndexed(spark: SparkSession, dir: String,
      anchors: DataFrame, idCol: String, vecCol: String, labelCol: String,
      labels: DataFrame, k: Int, nProbe: Int = 2): DataFrame =
    hardNegativesWithCents(spark, dir, anchors, idCol, vecCol, labelCol,
      labels, k, nProbe, loadCentroids(spark, dir))

  /** [[hardNegativesIndexed]] under a caller-loaded quantizer — see
    * [[manyQueriesWithCents]] for why the ladder wants this.
    */
  private def hardNegativesWithCents(spark: SparkSession, dir: String,
      anchors: DataFrame, idCol: String, vecCol: String, labelCol: String,
      labels: DataFrame, k: Int, nProbe: Int,
      cents: Seq[Seq[Double]]): DataFrame = {
    require(cents.nonEmpty, s"empty index at $dir")
    // assignQueries + the anchor's own label: the label must survive
    // the probe explosion so the cross-label predicate can run inside
    // the candidate join (lazy localCheckpoint — qa feeds the
    // probe-cell build side AND the candidate join, the many-queries
    // discipline)
    val qa = Similarity.ivfAssignProbes(
        anchors.select(col(idCol).as("query_id"), col(vecCol).as("queryv"),
          col(labelCol).as("__ql")),
        "queryv", cents, nProbe)
      .select(col("query_id"), col("queryv"), col("__ql"),
        col("cell").cast("int").as("cell"))
      .localCheckpoint(false)
    val postings = prunedPostings(spark, dir, qa)
      .join(labels.select(col(idCol).as("vec_id"),
        col(labelCol).as("__cl")), Seq("vec_id"))
    // per-row norms hoisted out of the pair loop ([[rerankCandidates]])
    val cands = postings
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("vec").as("neighborv"), col("__cl"))
      .withColumn("__nn", graft.functions.vecNormExact(col("neighborv")))
      .join(qa.withColumn("__qn",
        graft.functions.vecNormExact(col("queryv"))), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id") &&
        col("__ql") =!= col("__cl"))
    // duplicates (multi-probe, duplicate label rows) carry the same
    // vector payloads ⇒ identical cosines — dedup rides the TopK
    // buffer (one exchange, not two)
    Similarity.rankTopKDistinct(
      cands.select(col("query_id"), col("neighbor_id"),
        graft.functions.cosinePreNormed(col("queryv"), col("neighborv"),
          col("__qn"), col("__nn")).as("cosine")),
      k, "cosine")
  }

  /** ADAPTIVE PROBE WIDENING — the opt-in recall mode for callers who
    * want "as exact as the index can give" without paying exhaustive
    * probing for every query (the RecallProbe ivf_grid curve shows
    * recall ≈ probed fraction on isotropic data, so a FIXED nProbe is
    * a fixed recall ceiling; clustered real corpora converge much
    * earlier). Per query: search at `nProbe0`, double the probe width
    * and re-search, and ACCEPT a query's top-k once it is FULL
    * (k rows) and IDENTICAL (ids, ranks, exact cosines) at two
    * consecutive widths — a full result stable under doubling means
    * the nearer half of the cell ordering has stopped contributing,
    * while a sub-k one can only grow and rides on. Queries that
    * never reach that state terminate at width = nCells, where the
    * probe set is exhaustive and the result is EXACT within the
    * index by construction. `n_probe_used` on
    * every output row records the width that confirmed the row's
    * query — the per-query cost actually paid, and the observable a
    * recall/cost dashboard wants.
    *
    * Scale shape: each round re-searches ONLY the still-unconverged
    * queries (left_anti on the accepted ids — no driver round-trip
    * of ids; the only driver action per round is a limit-1 isEmpty
    * on the pending frame), and each search is the standard
    * DPP-pruned [[searchIvfIndexManyQueries]] plan. Worst case
    * (nothing ever stabilizes early) the doubling ladder costs ≤ 2×
    * the exhaustive search it ends on — the classic geometric-series
    * bound — while the expected case pays ~2× the width each query
    * actually needed. Convergence is a stability heuristic, not a
    * proof (a true neighbor can hide beyond the doubled horizon);
    * the guarantees are (1) per-query recall ≥ the fixed-`nProbe0`
    * search (wider probes are candidate supersets ranked by exact
    * cosine), (2) identical results to a fixed-width search at that
    * query's `n_probe_used`, and (3) exhaustive-width queries are
    * exact within the index — all three driver-checked (q157).
    *
    * `maxRounds` DEGRADATION: if the belt fires before the width
    * reaches nCells, every still-pending query exits with its
    * current-width rows WITHOUT the stability or full-k acceptance —
    * possibly sub-k, empty, or full-but-still-shifting — and such
    * rows carry no marker distinguishing them from accepted ones
    * beyond `n_probe_used < nCells` plus a sub-k row count (a
    * full-but-unstable belt exit is indistinguishable from an
    * accepted result). At the default `maxRounds = 16` the belt is
    * unreachable: the width doubles every round from ≥ 1, so 16
    * rounds reach 2^16 = 65,536 ≥ the quantizer's cell cap, i.e. the
    * ladder always ends exhaustive first. Only a caller-passed
    * smaller `maxRounds` trades completeness for a hard round bound;
    * such callers accept unmarked unconverged rows by contract.
    */
  def searchIvfIndexConverged(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe0: Int = 1, maxRounds: Int = 16): DataFrame =
    widenToConvergence(spark, dir,
      queries.select(col(idCol), col(vecCol)), idCol, k, nProbe0,
      maxRounds)(
      (pending, w, cents) => manyQueriesWithCents(spark, dir, pending,
        idCol, vecCol, k, w, cents))

  /** [[hardNegativesIndexed]] under the same adaptive probe ladder as
    * [[searchIvfIndexConverged]] — hard-negative mining is exactly
    * where a fixed probe width quietly under-delivers (RecallProbe:
    * ~0.3 recall at the old nProbe=3/16 default on the isotropic
    * fixtures means ~70% of true hard negatives missed), and the
    * miner runs offline where "pay each anchor's width" beats "pick
    * one width for the corpus". Same contracts: per-anchor results ≡
    * the fixed-width miner at the reported `n_probe_used`; terminal
    * width = nCells is the exact broadcast arm's result (the q153
    * identity).
    */
  def hardNegativesIndexedConverged(spark: SparkSession, dir: String,
      anchors: DataFrame, idCol: String, vecCol: String, labelCol: String,
      labels: DataFrame, k: Int, nProbe0: Int = 1,
      maxRounds: Int = 16): DataFrame =
    widenToConvergence(spark, dir,
      anchors.select(col(idCol), col(vecCol), col(labelCol)), idCol, k,
      nProbe0, maxRounds)(
      (pending, w, cents) => hardNegativesWithCents(spark, dir, pending,
        idCol, vecCol, labelCol, labels, k, w, cents))

  /** [[searchIvfIndexFiltered]] under the adaptive probe ladder —
    * the composition where the ladder's full-k gate earns its keep:
    * a selective allowed set (one language, one license, post-cutoff
    * docs) makes sub-k and zero-row probe results the NORM at narrow
    * widths, and a stability-only acceptance would hand back exactly
    * those starved results. Here every query either fills its top-k
    * within the allowed sub-corpus and stabilizes, or rides to the
    * exhaustive width where the result is the true filtered top-k
    * within the index.
    */
  def searchIvfIndexFilteredConverged(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String, k: Int,
      nProbe0: Int = 1, maxRounds: Int = 16): DataFrame =
    widenToConvergence(spark, dir,
      queries.select(col(idCol), col(vecCol)), idCol, k, nProbe0,
      maxRounds)(
      (pending, w, cents) => filteredWithCents(spark, dir, pending,
        idCol, vecCol, allowed, allowedIdCol, k, w, cents))

  /** The doubling ladder both converged modes share: run `searchAt`
    * over the still-pending queries at successive widths, accepting a
    * query once its (neighbor, rank, cosine) rows are identical at
    * two consecutive widths AND its top-k is FULL; everything else
    * terminates at width = nCells (exhaustive). The full-k gate
    * matters more than it looks: a query whose probed cells yield
    * ZERO rows at both widths is invisible to a result-level
    * comparison (nothing to mismatch), and a sub-k result can only
    * grow as probing widens — accepting either "stable" state early
    * would silently return nothing (or too little) for exactly the
    * queries that need the widening most, e.g. an anchor whose
    * near cells are all same-label in the miner. Sub-k queries are
    * re-searched every round; the ≤ 2× doubling bound is unchanged.
    * `searchAt` must emit (query_id, neighbor_id, cosine, rank),
    * k-bounded, keyed on `idCol`.
    */
  private def widenToConvergence(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, k: Int, nProbe0: Int,
      maxRounds: Int)
      (searchAt: (DataFrame, Int, Seq[Seq[Double]]) => DataFrame)
      : DataFrame = {
    // loaded ONCE for the whole ladder and handed to every rung —
    // per-rung searches must not re-read the quantizer (guide §1.2)
    val cents = loadCentroids(spark, dir)
    require(cents.nonEmpty, s"empty index at $dir")
    require(nProbe0 >= 1, s"nProbe0 must be >= 1, got $nProbe0")
    // k >= 1: with k <= 0 the full-k gate could never accept (every
    // result is empty), and the ladder would pay the whole doubling
    // run to return an empty frame
    require(k >= 1, s"k must be >= 1, got $k")
    val nCells = cents.length
    var width = math.min(nProbe0, nCells)
    var pending = queries.localCheckpoint(false)
    var cur = searchAt(pending, width, cents).localCheckpoint(false)
    var accepted = List.empty[DataFrame]
    var rounds = 0
    var done = false
    while (!done) {
      if (width >= nCells || rounds >= maxRounds) {
        // the ladder's end: exhaustive width (exact within the index)
        // or the maxRounds belt — every still-pending query exits
        // with its current-width rows (zero-result queries simply
        // have none, same as a fixed-width search)
        accepted ::= cur.withColumn("n_probe_used", lit(width))
        done = true
      } else {
        val wider = math.min(width * 2L, nCells.toLong).toInt
        val next = searchAt(pending, wider, cents).localCheckpoint(false)
        // ACCEPT iff STABLE — the (neighbor, rank, cosine) rows match
        // exactly across the two widths (any add, drop, re-rank, or
        // score change keeps the query pending) — AND FULL: only a
        // k-row result has stopped growing for sure; sub-k (and
        // especially zero-row, which no result-level join can even
        // see) rides on toward exhaustive. r16: both conditions fold
        // into ONE full-outer join + ONE aggregation over it (the
        // mismatch-distinct exchange, the separate full-k groupBy, and
        // the anti+semi pair used to be four extra shuffles per round
        // — guide §2.4); n_next counts next's rows because only
        // next-side rows carry a non-null rank2 in the full outer.
        val acceptedIds = cur
          .select(col("query_id"), col("neighbor_id"),
            col("rank"), col("cosine"))
          .join(next.select(col("query_id"), col("neighbor_id"),
              col("rank").as("rank2"), col("cosine").as("cos2")),
            Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(
            max(when(col("rank").isNull || col("rank2").isNull ||
              col("rank") =!= col("rank2") || col("cosine") =!= col("cos2"),
              1).otherwise(0)).as("__mismatch"),
            count(col("rank2")).as("__n_next"))
          .where(col("__mismatch") === 0 && col("__n_next") >= k)
          .select("query_id")
          .localCheckpoint(false)
        val acceptedNow = next
          .join(acceptedIds, Seq("query_id"), "left_semi")
          .withColumn("n_probe_used", lit(wider))
          .localCheckpoint(false)
        accepted ::= acceptedNow
        // pending shrinks by the ACCEPTED ids — never by the observed
        // ones (a query with no rows on either side was observed by
        // neither frame and must stay). acceptedIds is distinct by
        // construction (one row per grouped query_id).
        pending = pending.join(
          acceptedIds.select(col("query_id").as(idCol)),
          Seq(idCol), "left_anti").localCheckpoint(false)
        if (pending.isEmpty) done = true // bounded: limit-1 probe
        else cur = next.join(acceptedIds, Seq("query_id"), "left_anti")
          .localCheckpoint(false)
        width = wider
        rounds += 1
      }
    }
    accepted.reduce(_ unionByName _)
  }

  def searchIvfIndex(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    val cents = loadCentroids(spark, dir)
    require(cents.nonEmpty, s"empty index at $dir")
    val qa = assignQueries(queries, idCol, vecCol, cents, nProbe)
    // bounded collect: ≤ nCells distinct probed cells
    val probed = qa.select("cell").distinct().collect().map(_.getInt(0))
    val postings = withoutTombstoned(spark, dir,
      flatPostings(spark, dir, qa.schema("query_id").dataType,
        qa.schema("queryv").dataType)
        .where(col("cell").isin(probed.map(Integer.valueOf).toSeq: _*)))
    rerankCandidates(qa, postings, k)
  }

  // ===================================================================
  // TWO-LEVEL (coarse → fine) IVF — the capacity path past the flat
  // quantizer's 65,536-cell ceiling (r15 order #2).
  //
  // The flat index caps at [[Similarity.MaxAdaptiveCells]] because its
  // whole quantizer is a driver-built [[graft.expressions
  // .CentroidIndex]] riding task closures — at the cap that is already
  // a 33.5 MB reference object, and the √|C| sizing rule wants ~10⁵·⁵
  // cells at 10¹¹ vectors. Here the quantizer splits into two layers:
  //
  //   - COARSE: nCoarse ≤ 65,536 centroids, the same driver-bounded
  //     kernel as the flat index (this is the only quantizer state
  //     that ever touches the driver or a closure);
  //   - FINE: nFinePerCell sub-centroids PER coarse group, persisted
  //     at `fine_centroids.parquet/coarse=C/` — a search reads only
  //     its PROBED groups' files (partition pruning), and each group's
  //     matrix reaches executors as an ordinary packed column value
  //     through a join on the coarse cell (nFine·dim doubles,
  //     hundreds of KB — never a closure, never a driver collect).
  //
  // Effective cell count = nCoarse · nFinePerCell — 4.3B at both caps,
  // far past any √|C| demand — while the postings tree keeps ≤ nCoarse
  // partition DIRECTORIES (the proven layout bound): `fine` is a
  // DATA column, sorted within each coarse partition at write time so
  // probes prune at parquet row-group granularity via min/max stats.
  // Equivalent to the residual formulation (argmin over {mean_g + r_i}
  // ≡ argmin over this group's sub-centroids — a bijection), trained
  // here directly on each group's vectors.
  //
  // v1 scope: build + search (+ the versioned zero-downtime rebuild,
  // which composes with [[Versioning.publishTree]] like the flat
  // index's). The incremental lifecycle (append / delete / compact)
  // stays on the flat index; at two-level capacity the maintenance
  // story is the versioned REBUILD, which is also its zero-downtime
  // serving story.
  // ===================================================================

  /** Pack one coarse group's fine sub-quantizer into a single row:
    * (coarse, ids array<int> in fine order, packed array<array<double>>
    * L2-NORMALIZED — the same sum-of-squares/sqrt/divide arithmetic
    * as the flat arm, applied once per GROUP here instead of once per
    * row). Position p of `packed` is the centroid of fine id
    * `ids[p]`; [[graft.expressions.NearestPackedCells]] returns
    * positions, callers map through `ids`.
    */
  private def packFine(fineCents: DataFrame): DataFrame =
    fineCents
      .groupBy("coarse")
      .agg(array_sort(collect_list(struct(col("fine"), col("centroid"))))
        .as("fc"))
      .select(col("coarse"),
        transform(col("fc"), s => s.getField("fine")).as("ids"),
        transform(col("fc"), s => {
          val c = s.getField("centroid")
          val n = sqrt(aggregate(c, lit(0.0), (acc, x) => acc + x * x))
          when(n === lit(0.0), c).otherwise(transform(c, x => x / n))
        }).as("packed"))

  /** Fine id of a vector against its group's packed sub-quantizer —
    * position 0 of the native argmax, mapped through `ids`. NULL
    * packed (a coarse group the bounded training sample never saw —
    * its postings all land at fine 0) coalesces to 0, mirroring the
    * flat arm's corrupt-vector all-ties resolution.
    */
  private def finePick(vec: Column, ids: Column, packed: Column): Column =
    coalesce(
      element_at(ids,
        element_at(graft.functions.nearestPackedCellsNative(vec, packed, 1),
          1).cast("int") + 1),
      lit(0))

  /** Distributed per-group Lloyd over the bounded per-group sample:
    * the fine twin of [[Similarity.trainIvfCentroids]], with the same
    * determinism discipline (hash-seeded, DECIMAL sums so centroid
    * values are independent of shuffle fetch order) — but the
    * centroids live in a DataFrame keyed by coarse group end to end;
    * the driver never holds a fine centroid. `sample` is
    * (coarse int, __key long, __v array<double>), pre-quarantined.
    */
  private def trainFineCentroids(sample: DataFrame, dim: Int,
      nFinePerCell: Int, iters: Int): DataFrame = {
    // seeds: the nFine lowest sample rows per group by (hash, hash) —
    // the bounded TopK partial aggregate, never a window. Seed ids =
    // 0..m−1 per group (dense by posexplode position). A __key
    // collision inside a group can pair one (coarse, fine) seed slot
    // with two vectors — min() picks deterministically.
    val seeds = sample.groupBy("coarse")
      .agg(TopK.topK(nFinePerCell)(-(col("__key").cast("double")),
        col("__key")).as("__s"))
      .select(col("coarse"), posexplode(col("__s")))
      .select(col("coarse"), col("pos").cast("int").as("fine"),
        col("col.key").as("__key"))
      .join(sample, Seq("coarse", "__key"))
      .groupBy("coarse", "fine").agg(min(col("__v")).as("centroid"))
    var fineCents = seeds.localCheckpoint(true)
    for (_ <- 0 until iters) {
      val packed = packFine(fineCents)
      val assignedF = sample.join(packed, Seq("coarse"), "left")
        .select(col("coarse"),
          finePick(col("__v"), col("ids"), col("packed")).as("fine"),
          col("__v"))
      val sums = assignedF
        .groupBy(col("coarse"), col("fine"))
        .agg(count(lit(1)).as("__n"),
          array((0 until dim).map(i =>
            sum(element_at(col("__v"), i + 1).cast("decimal(30,15)"))
              .cast("double")): _*).as("__sums"))
      fineCents = fineCents.join(sums, Seq("coarse", "fine"), "left")
        .select(col("coarse"), col("fine"),
          when(col("__n").isNotNull,
            transform(col("__sums"), s => s / col("__n")))
            .otherwise(col("centroid")).as("centroid"))
        .localCheckpoint(true) // bounded: nCoarse·nFine rows; truncate
    }
    fineCents
  }

  /** Train + persist the two-level index (see the section comment
    * above for the layout and the ceiling math). Coarse training is
    * the flat discipline ([[Similarity.trainIvfCentroids]] — bounded
    * deterministic sample); fine training runs
    * [[trainFineCentroids]] over a BOUNDED PER-GROUP sample (the
    * `max(nFinePerCell, fineTrainCapPerCell)` lowest-hash rows of
    * each group — a TopK partial aggregate plus one semi-join, so no
    * driver state and no unbounded buffers). Postings carry
    * (vec_id, vec, q_codes, q_scale, fine), hive-partitioned by
    * `coarse` and sorted by (coarse, fine) within partitions for
    * row-group pruning. The whole tree commits through the
    * [[StagedCommit]] stage→fence→swap under the writer lock, exactly
    * like [[buildIvfIndex]]. Returns the coarse centroids.
    *
    * Corrupt vectors (null/NaN/±Inf elements) are quarantined from
    * BOTH training layers and post to (coarse 0's all-ties cell,
    * fine 0) with null quantization codes — the flat index's policy.
    */
  def buildIvfIndexTwoLevel(corpus: DataFrame, idCol: String,
      vecCol: String, dir: String, nCoarse: Int, nFinePerCell: Int,
      iters: Int = 2, corpusRowsHint: Option[Long] = None,
      coarseCentroids: Option[Seq[Seq[Double]]] = None,
      fineTrainCapPerCell: Int = 256,
      pqM: Option[Int] = None, pqKs: Int = 256): Seq[Seq[Double]] = {
    val spark = corpus.sparkSession
    require(nFinePerCell >= 1, s"nFinePerCell must be ≥ 1, got $nFinePerCell")
    coarseCentroids.foreach(cs => require(cs.length == nCoarse,
      s"buildIvfIndexTwoLevel: ${cs.length} pre-trained coarse centroids " +
        s"but nCoarse=$nCoarse — pass matching values"))
    val coarse = coarseCentroids.getOrElse(Similarity.trainIvfCentroids(
      corpus, idCol, vecCol, nCoarse, iters, corpusRowsHint = corpusRowsHint))
    require(coarse.nonEmpty, "buildIvfIndexTwoLevel: no coarse centroids")
    val dim = coarse.head.size
    // OPT-IN product quantization ([[searchIvfIndexTwoLevelPq]]):
    // codes ride the postings (m bytes per vector — 8× narrower than
    // the int8 codes at m=8, dim=64), the codebook persists beside the
    // quantizers. Trained BEFORE the lock (reads only the corpus).
    // If dim doesn't divide by the requested m, the largest divisor
    // ≤ m is used (documented adaptive fallback, never a failure).
    val pqCb = pqM.map { reqM =>
      val mEff = (math.min(reqM, dim) to 1 by -1).find(dim % _ == 0).get
      Similarity.trainPqCodebook(corpus, idCol, vecCol, dim, mEff,
        ks = pqKs, iters = iters, corpusRowsHint = corpusRowsHint)
    }
    // the training quarantine ([[Similarity.trainingSample]] predicate)
    val cleanAssigned = corpus
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .where(forall(col("__v"),
        x => x.isNotNull && !isnan(x) && abs(x) =!= lit(Double.PositiveInfinity)))
      .select(Similarity.assignCell(col("__v"), coarse).cast("int").as("coarse"),
        xxhash64(col("__id")).as("__key"), col("__v"))
    // bounded per-group sample: TopK partial agg (≤ cap rows shuffle
    // per group per partition) + one semi-join back for the vectors
    val cap = math.max(nFinePerCell, fineTrainCapPerCell)
    val sampleIds = cleanAssigned.groupBy("coarse")
      .agg(TopK.topK(cap)(-(col("__key").cast("double")), col("__key"))
        .as("__s"))
      .select(col("coarse"), explode(col("__s")).as("e"))
      .select(col("coarse"), col("e.key").as("__key"))
    val sample = cleanAssigned
      .join(sampleIds, Seq("coarse", "__key"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fineCents = try trainFineCentroids(sample, dim, nFinePerCell, iters)
      finally sample.unpersist(blocking = false)
    import scala.jdk.CollectionConverters._
    withWriterLock(spark, dir, "buildIvfIndexTwoLevel") { fence =>
      val fs = fsFor(spark, dir)
      StagedCommit.purgeStages(fs, dir, ".stage_", fence)
      val token = StagedCommit.stageToken()
      val stageCents = s"$dir/.stage_centroids_$token"
      spark.createDataFrame(
        coarse.zipWithIndex.map { case (c, i) => Row(i, c) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("centroid",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType), nullable = false))))
        .write.mode(SaveMode.Overwrite).parquet(stageCents)
      val stageFine = s"$dir/.stage_fine_$token"
      fineCents.repartition(col("coarse"))
        .write.mode(SaveMode.Overwrite).partitionBy("coarse")
        .parquet(stageFine)
      val stagePost = s"$dir/.stage_build_postings_$token"
      val packedAll = packFine(
        spark.read.parquet(stageFine)
          .select(col("coarse").cast("int").as("coarse"),
            col("fine").cast("int").as("fine"), col("centroid")))
      val obs = org.apache.spark.sql.Observation()
      val basePosted = Similarity.withQuantizedInt8(
          corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec")),
          "vec")
        .withColumn("coarse",
          Similarity.assignCell(col("vec"), coarse).cast("int"))
        .join(packedAll, Seq("coarse"), "left")
        .withColumn("fine", finePick(col("vec"), col("ids"), col("packed")))
        .drop("ids", "packed")
      pqCb.fold(basePosted)(cb => basePosted.withColumn("pq_codes",
          graft.functions.pqEncodeNative(col("vec"), cb)))
        .repartition(col("coarse"))
        // coarse prefix satisfies the writer's required partition
        // ordering, so THIS sort is the one retained — fine stays
        // clustered for row-group min/max pruning
        .sortWithinPartitions(col("coarse"), col("fine"))
        .observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).partitionBy("coarse")
        .parquet(stagePost)
      val n = obs.get("n").asInstanceOf[Long]
      val stagePq = pqCb.map { cb =>
        val p = s"$dir/.stage_pq_$token"
        spark.createDataFrame(
          (for (mi <- 0 until cb.m; k <- 0 until cb.ks) yield Row(mi, k,
            (0 until cb.subDim).map(j =>
              cb.data(mi * cb.ks * cb.subDim + k * cb.subDim + j))))
            .asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("mi",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("centroid",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType), nullable = false))))
          .write.mode(SaveMode.Overwrite).parquet(p)
        p
      }
      val stageMeta = s"$dir/.stage_build_meta_$token"
      spark.range(1).select(lit(n).as("n_vectors"))
        .write.mode(SaveMode.Overwrite).parquet(stageMeta)
      // the swap owns the whole tree (flat-layout leftovers included)
      fence.verify()
      hadoopDelete(spark, s"$dir/postings.parquet")
      hadoopDelete(spark, s"$dir/fine_centroids.parquet")
      hadoopDelete(spark, s"$dir/pq_codebook.parquet")
      hadoopDelete(spark, s"$dir/_meta")
      hadoopDelete(spark, s"$dir/_deletes")
      StagedCommit.commitStaged(fs, fence, stageCents,
        s"$dir/centroids.parquet")
      StagedCommit.commitStaged(fs, fence, stageFine,
        s"$dir/fine_centroids.parquet")
      StagedCommit.commitStaged(fs, fence, stagePost,
        s"$dir/postings.parquet")
      stagePq.foreach(p =>
        StagedCommit.commitStaged(fs, fence, p, s"$dir/pq_codebook.parquet"))
      StagedCommit.commitStaged(fs, fence, stageMeta, s"$dir/_meta")
    }
    coarse
  }

  /** The persisted PQ codebook of a two-level tree built with `pqM` —
    * bounded (m·ks rows of subDim doubles, KBs). Loud error when the
    * tree was built without PQ.
    */
  def loadPqCodebook(spark: SparkSession,
      dir: String): graft.expressions.PqCodebook = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/pq_codebook.parquet")
    require(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(p),
      s"no PQ codebook at $dir — build with " +
        "buildIvfIndexTwoLevel(..., pqM = Some(m)) to enable the PQ arm")
    // no orderBy: the fill below indexes the flat array by (mi, k)
    // directly, so row order is irrelevant — a pre-collect sort only
    // added a range-partition exchange per codebook load (guide §2.4).
    // Schema declared (the writer above fixes it) — no inference job.
    val rows = {
      import org.apache.spark.sql.types._
      spark.read.schema(StructType(Seq(
          StructField("mi", IntegerType),
          StructField("k", IntegerType),
          StructField("centroid", ArrayType(DoubleType)))))
        .parquet(s"$dir/pq_codebook.parquet")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    }
    val m = rows.map(_._1).max + 1
    val ks = rows.map(_._2).max + 1
    val subDim = rows.head._3.size
    val data = new Array[Double](m * ks * subDim)
    rows.foreach { case (mi, k, c) =>
      var j = 0
      while (j < subDim) {
        data(mi * ks * subDim + k * subDim + j) = c(j); j += 1
      }
    }
    new graft.expressions.PqCodebook(m, ks, subDim, data)
  }

  /** PQ search on the two-level tree — the narrowest candidate join
    * the index family offers: candidates are scored from `pq_codes`
    * (m BYTES each — 8× narrower than the int8 codes at m=8, dim=64,
    * 32× narrower than the float vectors) against a per-query dot
    * LOOKUP TABLE computed once per query ([[graft.expressions
    * .PqDotLut]] — ks·dim mults), so each candidate costs m array
    * lookups. A `rerankFactor·k` shortlist survives to the exact
    * cosine re-rank off the pruned scan. With a shortlist generous
    * enough to hold every candidate the result is IDENTICAL to
    * [[searchIvfIndexTwoLevel]] (spec-pinned — the q126 plumbing
    * contract); at production factors recall is measured in
    * RecallProbe's `ivf2_pq` line. Corrupt stored vectors carry null
    * pq codes and never enter the shortlist.
    */
  def searchIvfIndexTwoLevelPq(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbeCoarse: Int = 2, nProbeFine: Int = 2,
      rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be ≥ 1, got $rerankFactor")
    val cb = loadPqCodebook(spark, dir)
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("queryv"))
      .withColumn("query_lut",
        graft.functions.pqDotLutNative(col("queryv"), cb))
    val (qf, postings) = twoLevelProbed(spark, dir, q,
      nProbeCoarse, nProbeFine)
    val qa = qf.select(col("query_id"), col("queryv"), col("query_lut"),
      compositeCell(col("coarse"), col("fine")).as("cell"))
    val posts = postings.select(
      compositeCell(col("coarse"), col("fine")).as("cell"),
      col("vec_id"), col("vec"), col("pq_codes"))
    val cands = posts
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("pq_codes"))
      .join(qa.select(col("query_id"), col("query_lut"), col("cell")),
        Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
    // duplicate candidates carry identical pq_codes ⇒ identical LUT
    // scores — dedup rides the TopK buffer (one exchange, not two)
    val shortlist = Similarity.rankTopKDistinct(
      cands.select(col("query_id"), col("neighbor_id"),
        graft.functions.pqLutScoreNative(col("query_lut"),
          col("pq_codes"), cb.ks).as("approx")),
      k * rerankFactor, "approx")
      .select("query_id", "neighbor_id")
    val rerank = shortlist
      .join(qf.select("query_id", "queryv").dropDuplicates("query_id"),
        Seq("query_id"))
      .join(posts.select(col("vec_id").as("neighbor_id"),
        col("vec").as("neighborv")), Seq("neighbor_id"))
    Similarity.rankTopKDistinct(
      rerank.select(col("query_id"), col("neighbor_id"),
        cosineExact(col("queryv"), col("neighborv")).as("cosine")),
      k, "cosine")
  }

  /** Search the two-level index. Probing is hierarchical: queries
    * probe their `nProbeCoarse` nearest coarse groups (the flat
    * kernel), then within EACH probed group their `nProbeFine`
    * nearest sub-centroids — read from ONLY the probed groups'
    * partition directories and joined in as packed column values
    * (nothing fine-level crosses the driver except the ≤ nCoarse
    * probed-group ids and the ≤ nFine distinct probed fine ids, both
    * bounded collects). The postings scan prunes on `coarse`
    * (directory level) and `fine` (row-group stats on the
    * write-sorted column); candidates then join on the exact
    * (coarse, fine) pair — composed into one synthetic cell key so
    * the shared [[rerankCandidates]] arm (exact cosine, k-bounded,
    * self-excluded, multi-probe-deduped) applies verbatim, making the
    * flat/two-level result-identity contracts structural.
    *
    * Probed fraction ≈ (nProbeCoarse/nCoarse)·(nProbeFine/nFine) —
    * the recall/cost dial now has two axes; RecallProbe's ivf2
    * section measures recall at fractions matched against the flat
    * grid. Exhaustive probing (nProbeCoarse = nCoarse, nProbeFine =
    * nFinePerCell) is exact within the index, identical to the flat
    * exhaustive arm (spec-pinned).
    */
  /** Synthetic composite cell (coarse << 32 | fine): the exact-pair
    * candidate join rides the shared flat-arm implementation.
    */
  private def compositeCell(c: Column, f: Column): Column =
    c.cast("long") * lit(4294967296L) + f.cast("long")

  /** Hierarchical probing shared by the two-level search arms:
    * `q` is a (query_id, queryv, …extras) frame; returns
    * (qf — one row per (query, probed coarse, probed fine), extras
    * riding along; postings — the pruned scan). Bounded driver
    * collects: ≤ nCoarse probed group ids and ≤ max-nFinePerCell
    * distinct fine ids; only the probed groups' sub-centroid
    * partitions are read at all.
    */
  private def twoLevelProbed(spark: SparkSession, dir: String,
      q: DataFrame, nProbeCoarse: Int, nProbeFine: Int,
      coarseCents: Option[Seq[Seq[Double]]] = None)
      : (DataFrame, DataFrame) = {
    require(nProbeCoarse >= 1 && nProbeFine >= 1,
      s"probe widths must be ≥ 1, got $nProbeCoarse/$nProbeFine")
    // the converged ladder hands the coarse quantizer in so per-rung
    // searches don't re-read ≤nCoarse metadata (guide §1.2)
    val coarse = coarseCents.getOrElse(loadCentroids(spark, dir))
    require(coarse.nonEmpty, s"empty index at $dir")
    val qc = Similarity.ivfAssignProbes(q, "queryv", coarse, nProbeCoarse)
      .withColumn("coarse", col("cell").cast("int")).drop("cell")
      .localCheckpoint(false)
    val probedCoarse = qc.select("coarse").distinct().collect()
      .map(_.getInt(0))
    // only the probed groups' sub-centroids are READ AT ALL —
    // partition-pruned scan, the ceiling-breaking property. Schema
    // declared ([[trainFineCentroids]] fixes it) — no inference job.
    val fine = {
      import org.apache.spark.sql.types._
      spark.read.schema(StructType(Seq(
          StructField("fine", IntegerType),
          StructField("centroid", ArrayType(DoubleType)),
          StructField("coarse", IntegerType))))
        .parquet(s"$dir/fine_centroids.parquet")
        .where(col("coarse").isin(probedCoarse.map(Integer.valueOf).toSeq: _*))
        .select(col("coarse").cast("int").as("coarse"),
          col("fine").cast("int").as("fine"), col("centroid"))
    }
    val qf = qc.join(packFine(fine), Seq("coarse"), "left")
      .withColumn("fine", explode(coalesce(
        transform(graft.functions.nearestPackedCellsNative(
          col("queryv"), col("packed"), nProbeFine),
          p => element_at(col("ids"), p.cast("int") + 1)),
        array(lit(0)))))
      .drop("ids", "packed")
      .localCheckpoint(false)
    val probedFine = qf.select("fine").distinct().collect()
      .map(_.getInt(0))
    // schema declared ([[buildIvfIndexTwoLevel]] fixes it; pq_codes
    // reads as null on trees built without PQ — only the PQ arm
    // selects it, and that arm requires the codebook first)
    val postings = {
      import org.apache.spark.sql.types._
      spark.read.schema(StructType(Seq(
          StructField("vec_id", q.schema("query_id").dataType),
          StructField("vec", q.schema("queryv").dataType),
          StructField("q_scale", DoubleType),
          StructField("q_codes", ArrayType(ByteType)),
          StructField("fine", IntegerType),
          StructField("pq_codes", ArrayType(ByteType)),
          StructField("coarse", IntegerType))))
        .parquet(s"$dir/postings.parquet")
        .where(col("coarse").isin(probedCoarse.map(Integer.valueOf).toSeq: _*) &&
          col("fine").isin(probedFine.map(Integer.valueOf).toSeq: _*))
    }
    (qf, postings)
  }

  def searchIvfIndexTwoLevel(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbeCoarse: Int = 2, nProbeFine: Int = 2,
      coarseCents: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val (qf, postings) = twoLevelProbed(spark, dir,
      queries.select(col(idCol).as("query_id"), col(vecCol).as("queryv")),
      nProbeCoarse, nProbeFine, coarseCents)
    val qa = qf.select(col("query_id"), col("queryv"),
      compositeCell(col("coarse"), col("fine")).as("cell"))
    val posts = postings.select(
      compositeCell(col("coarse"), col("fine")).as("cell"),
      col("vec_id"), col("vec"))
    rerankCandidates(qa, posts, k)
  }

  /** QUANTIZED two-level search — [[searchIvfIndexQuantized]]'s
    * codes-shortlist shape on the capacity tree: candidates are
    * scored with the int8 codes off the pruned scan (dim bytes cross
    * the candidate join, not dim·4 floats), a `rerankFactor·k`
    * shortlist survives, and only the shortlist joins back for the
    * exact cosine re-rank. With a shortlist generous enough to hold
    * every candidate the result is IDENTICAL to
    * [[searchIvfIndexTwoLevel]] (the q126 plumbing contract,
    * spec-pinned); at production shortlist sizes recall follows the
    * measured quantized-rerank behavior (factor 4 recall-identical on
    * the fixtures — RecallProbe). At 100 TB this arm compounds the
    * two prunings: probed-fraction IO × 4× narrower candidate join.
    */
  def searchIvfIndexTwoLevelQuantized(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbeCoarse: Int = 2, nProbeFine: Int = 2,
      rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be ≥ 1, got $rerankFactor")
    val q = Similarity.withQuantizedInt8(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("queryv")),
        "queryv")
      .select(col("query_id"), col("queryv"),
        col("q_codes").as("query_codes"), col("q_scale").as("query_scale"))
    val (qf, postings) = twoLevelProbed(spark, dir, q,
      nProbeCoarse, nProbeFine)
    val qa = qf.select(col("query_id"), col("queryv"),
      col("query_codes"), col("query_scale"),
      compositeCell(col("coarse"), col("fine")).as("cell"))
    val posts = postings.select(
      compositeCell(col("coarse"), col("fine")).as("cell"),
      col("vec_id"), col("vec"), col("q_codes"), col("q_scale"))
    val cands = posts
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("q_codes").as("neighbor_codes"),
        col("q_scale").as("neighbor_scale"))
      .join(qa.select(col("query_id"), col("query_codes"),
        col("query_scale"), col("cell")), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
    // duplicate candidates carry identical int8 codes ⇒ identical
    // approx scores — dedup rides the TopK buffer (one exchange)
    val shortlist = Similarity.rankTopKDistinct(
      cands.select(col("query_id"), col("neighbor_id"),
        Similarity.quantizedDot(col("query_codes"), col("query_scale"),
          col("neighbor_codes"), col("neighbor_scale")).as("approx")),
      k * rerankFactor, "approx")
      .select("query_id", "neighbor_id")
    val rerank = shortlist
      .join(qa.select("query_id", "queryv").dropDuplicates("query_id"),
        Seq("query_id"))
      .join(posts.select(col("vec_id").as("neighbor_id"),
        col("vec").as("neighborv")), Seq("neighbor_id"))
    Similarity.rankTopKDistinct(
      rerank.select(col("query_id"), col("neighbor_id"),
        cosineExact(col("queryv"), col("neighborv")).as("cosine")),
      k, "cosine")
  }

  /** The adaptive probe ladder ([[searchIvfIndexConverged]]) on the
    * two-level tree: the ladder dials the COARSE probe width (the
    * axis that controls which partition directories are read at all),
    * with the fine layer probed EXHAUSTIVELY inside each probed group
    * — that keeps the ladder's terminal guarantee intact (width =
    * nCoarse with fine-exhaustive probing is exact within the index),
    * and every rung's candidate set is a superset of the last (the
    * recall-monotonicity theorem carries over unchanged).
    * `n_probe_used` counts COARSE groups. Fixed fine sub-probing
    * inside a ladder would forfeit terminal exactness — callers who
    * want the (pc, pf) cost dial use [[searchIvfIndexTwoLevel]]
    * directly with the RecallProbe `ivf2` curve.
    */
  def searchIvfIndexTwoLevelConverged(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbeCoarse0: Int = 1, maxRounds: Int = 16): DataFrame =
    widenToConvergence(spark, dir,
      queries.select(col(idCol), col(vecCol)), idCol, k, nProbeCoarse0,
      maxRounds)(
      (pending, w, cents) => searchIvfIndexTwoLevel(spark, dir, pending,
        idCol, vecCol, k, nProbeCoarse = w, nProbeFine = Int.MaxValue,
        coarseCents = Some(cents)))

  /** Zero-downtime versioned rebuild for the two-level index — the
    * capacity tree's maintenance AND serving story (see the section
    * comment: at two-level scale, rebuild-under-a-version IS the
    * lifecycle). Same composition as [[rebuildIvfIndexVersioned]]:
    * coarse training runs BEFORE the dataset lock; the whole tree
    * builds inside a [[Versioning.publishTree]] stage; readers move
    * with the atomic `_current` pointer swap and resolve
    * [[currentIndexDir]] once per search. The vacuum retention grace
    * rule applies verbatim.
    */
  def rebuildIvfIndexTwoLevelVersioned(corpus: DataFrame, idCol: String,
      vecCol: String, root: String, nCoarse: Int, nFinePerCell: Int,
      iters: Int = 2, corpusRowsHint: Option[Long] = None)
      : (Long, Seq[Seq[Double]]) = {
    val cents = Similarity.trainIvfCentroids(
      corpus, idCol, vecCol, nCoarse, iters, corpusRowsHint = corpusRowsHint)
    val v = Versioning.publishTree(corpus.sparkSession, root) { stage =>
      buildIvfIndexTwoLevel(corpus, idCol, vecCol, stage, nCoarse,
        nFinePerCell, iters, coarseCentroids = Some(cents))
    }
    (v, cents)
  }
}
