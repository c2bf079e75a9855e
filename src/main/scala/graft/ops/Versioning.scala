package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset versioning: what changed between two corpus snapshots —
  * the audit step before retraining on a refreshed crawl (which docs
  * arrived, which left, which were edited in place) — plus the
  * ATOMIC PUBLISH that makes "the corpus a training run read" a
  * reproducible fact rather than a directory that mutated underneath
  * the job.
  *
  * Published layout under `dir`:
  *   - `v=N/…` — immutable version trees, written whole by the
  *     FileOutputCommitter (in-flight files stay under `_temporary`);
  *   - `_current` — a one-line pointer file holding N, swapped with
  *     an ATOMIC rename. Readers resolve the pointer, then read an
  *     immutable tree — a reader can never observe a half-written
  *     version, a half-swapped pointer, or a torn mix of two
  *     versions.
  *
  * Crash story (the [[graft.ops.AnnIndex]] generation discipline):
  * a publish that dies mid-write leaves `_current` untouched and an
  * orphan `v=N` invisible to readers; the NEXT publish computes its
  * version from the pointer (not the directory listing), so it
  * re-owns and overwrites the orphan wholesale. [[rollback]] is a
  * pointer swap — the rolled-back version stays on disk for audit
  * and is re-owned by the next publish.
  */
object Versioning {

  private val CurrentFile = "_current"

  private def fsOf(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** The version readers currently resolve — None before the first
    * completed publish (including the crashed-first-publish state:
    * the tree may hold an orphan `v=1`, but nothing points at it).
    */
  def currentVersion(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, _) = fsOf(spark, dir)
    val ptr = new org.apache.hadoop.fs.Path(s"$dir/$CurrentFile")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Version ids present on disk, pointed-at or not — orphans from
    * crashed publishes and rolled-back versions included (that is the
    * point: they are visible to maintenance, invisible to readers).
    */
  def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, path) = fsOf(spark, dir)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
      .sorted
  }

  /** Atomically swap the `_current` pointer to `version`
    * ([[FsLock.replaceAtomically]]) — there is no window where the
    * pointer is absent or truncated.
    */
  private def swapPointer(spark: SparkSession, dir: String,
      version: Long): Unit =
    FsLock.replaceAtomically(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(s"$dir/$CurrentFile"), version.toString)

  /** ONE dataset mutation at a time: publish, rollback, and vacuum
    * all serialize through this [[FsLock.withLock]] file. Publish
    * alone was locked through r12, which left two real tears: a
    * vacuum racing a publish sees the just-written v=N+1 tree before
    * the pointer swap, classifies it DISAVOWED (id above the
    * pointer), and deletes the tree the swap is about to expose; a
    * rollback racing a publish has its pointer swap silently
    * overridden, un-disavowing the versions the rollback renounced.
    * Readers stay lock-free (the pointer swap is atomic; every
    * reader-visible state under a single mutator is covered by the
    * crash-ordering contract).
    */
  private val LockFile = "_publish_lock"

  private val Busy = "another mutator holds the dataset lock — " +
    "publish, rollback and vacuum serialize; back off, or " +
    "breakLock(dir) if its holder crashed"

  private def lockPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/$LockFile")

  /** Manual override for a crash-orphaned dataset lock that
    * [[FsLock.acquireOrReclaim]] cannot self-heal (foreign host, or
    * a stamp it can't prove dead): the operator clears it after
    * confirming the holder dead — the holder line stamped into the
    * lock file says who to confirm. Breaking a STILL-LIVE holder is
    * survivable but not free: the live holder is fenced out at its
    * next mutating write ([[FsLock.Fence]]) and aborts loudly rather
    * than racing the new mutator.
    */
  def breakLock(spark: SparkSession, dir: String): Unit = {
    val (fs, _) = fsOf(spark, dir)
    FsLock.release(fs, lockPath(dir))
  }

  /** Publish `df` as the next version of the dataset at `dir` and
    * atomically move readers onto it. Returns the published version
    * id (1-based). The version tree is written FIRST and the pointer
    * swapped LAST — the only two orderings a crash can observe are
    * "old version still current" and "new version current and
    * complete".
    *
    * ONE publisher at a time: publish opens with an exclusive-create
    * lock ([[FsLock.withLock]]: O_CREAT|O_EXCL locally, server-side
    * exclusive create on HDFS), so a second concurrent publisher
    * fails LOUDLY instead of racing its Overwrite into the same v=N
    * tree and leaving a torn mix behind the pointer. The lock is
    * removed on success AND on failure; only a publisher that died
    * takes it to the grave — see [[breakLock]].
    *
    * SUPPORTED FILESYSTEMS: HDFS and local/posix only. Both
    * guarantees lean on primitives object stores lack (server-side
    * exclusive create; atomic rename) — publish refuses known
    * non-atomic schemes loudly rather than degrading silently (see
    * [[FsLock.requireAtomicFs]]).
    */
  def publish(df: DataFrame, dir: String): Long =
    publishTree(df.sparkSession, dir)(stage =>
      df.write.mode(SaveMode.Overwrite).parquet(stage))

  /** Publish a caller-BUILT tree as the next version: the same lock /
    * stage / fence / rename / pointer-swap discipline as [[publish]]
    * (which rides this), but the version's content is produced by
    * `build(stageDir)` — any writer that lays a directory tree down,
    * e.g. a full [[AnnIndex.buildIvfIndex]] rebuild. This is the
    * ZERO-DOWNTIME REBUILD composition the in-place rebuild scaladoc
    * points at: readers keep resolving (and reading) the complete,
    * immutable `v=N` tree for the whole minutes-long build — the new
    * tree grows inside a dot-hidden stage they never see — and the
    * commit is a rename plus an atomic pointer swap, metadata ops.
    * A reader can never observe a torn tree because no version is
    * ever mutated in place; mid-swap readers finish on old-complete,
    * post-swap readers start on new-complete.
    */
  def publishTree(spark: SparkSession, dir: String)
      (build: String => Unit): Long = {
    val (fs, _) = fsOf(spark, dir)
    FsLock.withLock(fs, lockPath(dir), "publish", Busy) { fence =>
      val next = currentVersion(spark, dir).getOrElse(0L) + 1L
      // STAGE → FENCE → RENAME ([[StagedCommit]] — one implementation
      // shared with the index writers): the version write can run
      // minutes at corpus scale, and a publisher stalled past the
      // lease TTL and reclaimed must find its late job commit landed
      // in its own dot-hidden stage — never the v=N tree a successor
      // may already own. The fence guards the millisecond rename, and
      // the pointer swap stays last, so the only crash-visible states
      // remain "old version current" and "new version current and
      // complete".
      StagedCommit.purgeStages(fs, dir, s".stage_v_${next}_", fence)
      val stage = s"$dir/.stage_v_${next}_${StagedCommit.stageToken()}"
      build(stage)
      StagedCommit.commitStaged(fs, fence, stage, s"$dir/v=$next")
      fence.verify()
      swapPointer(spark, dir, next)
      next
    }
  }

  /** Read the dataset: the current version by default, or any
    * still-on-disk version for time travel (`read(dir, Some(1))` is
    * "exactly what the March run trained on", as long as retention
    * kept it).
    */
  def read(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $dir — publish first"))
    val (fs, _) = fsOf(spark, dir)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=$v")),
      s"version $v does not exist at $dir (have: " +
        s"${listVersions(spark, dir).mkString(",")})")
    spark.read.parquet(s"$dir/v=$v")
  }

  /** Point readers back at an older version — the bad-publish escape
    * hatch. A pointer swap only: the rolled-back version stays on
    * disk for audit, and the NEXT publish overwrites it (its content
    * was disavowed; its number is reused so the version line stays
    * contiguous).
    */
  def rollback(spark: SparkSession, dir: String, version: Long): Unit = {
    val (fs, _) = fsOf(spark, dir)
    FsLock.withLock(fs, lockPath(dir), "rollback", Busy) { fence =>
      require(listVersions(spark, dir).contains(version),
        s"cannot roll back to absent version $version at $dir")
      fence.verify()
      swapPointer(spark, dir, version)
    }
  }

  /** Retention: drop DISAVOWED versions (ids above the pointer — a
    * rollback renounced their content, so "newest" must not protect
    * them: serving one from time travel after an incident is exactly
    * the data the rollback was supposed to bury, r11 review finding),
    * then all but the `keep` highest LEGITIMATE versions. The
    * pointed-at version is NEVER vacuumed no matter how old (a
    * rollback target must not be deleted out from under readers).
    * Time travel reaches exactly what retention kept; this is where
    * that sentence gets its teeth. Also sweeps orphaned publisher
    * stages (`.stage_v_*` dirs a crashed or fenced-out publisher left
    * behind — reader-invisible, but garbage). Returns the version ids
    * deleted.
    *
    * RETENTION GRACE for SERVING roots (lock-free readers, e.g. an
    * [[AnnIndex.rebuildIvfIndexVersioned]] root): a reader resolves
    * the pointer once and then reads its immutable `v=N` tree with no
    * lock held, so only the pointed-at version is protected —
    * `vacuum(keep = 1)` fired right after a publish/rebuild can
    * delete the superseded version an in-flight reader resolved
    * moments earlier, failing it mid-read. Either keep ≥ 2 (the
    * superseded version survives one more retention cycle) or delay
    * vacuum past the maximum read/query duration after a pointer
    * swap. Offline/archival roots with no concurrent readers may use
    * keep = 1 freely.
    */
  def vacuum(spark: SparkSession, dir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, s"keep must be ≥ 1, got $keep")
    val (fs, _) = fsOf(spark, dir)
    FsLock.withLock(fs, lockPath(dir), "vacuum", Busy) { fence =>
      val cur = currentVersion(spark, dir)
      val (disavowed, legit) = listVersions(spark, dir).sorted
        .partition(v => cur.exists(v > _))
      val doomed = (disavowed ++ legit.dropRight(keep))
        .filterNot(cur.contains).sorted
      // fence per DELETE, not once per loop: a mid-loop wrong reclaim
      // followed by the usurper's rollback could otherwise point
      // readers at a version this stale loop is about to destroy
      doomed.foreach { v =>
        fence.verify()
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v=$v"), true)
      }
      // catch-all sweep of orphaned publisher stages: publish purges
      // only its OWN version's .stage_v_<next>_ prefix, so a publisher
      // that died mid-stage leaves its dot-hidden dir (and a crashed
      // commit's .tomb, which shares the prefix) behind forever if no
      // later publish lands the same version number. Reader-invisible
      // bytes, but retention is exactly where they get reclaimed —
      // the AnnIndex compaction catch-all, mirrored. No live
      // publisher's in-flight stage can be here: publish and vacuum
      // serialize through the dataset lock, and a fenced-out zombie's
      // stage is precisely the garbage this sweeps.
      StagedCommit.purgeStages(fs, dir, ".stage_v_", fence)
      doomed
    }
  }

  /** Snapshot diff by content hash: (doc_id, change) for every doc
    * `added` / `removed` / `modified` between the two snapshots;
    * unchanged docs are dropped (at corpus scale the diff is the
    * small output, the corpus is the big input).
    *
    * Only (id, xxhash64(text)) pairs shuffle — document bodies never
    * cross the wire, so the full-outer join is 16 bytes/row no matter
    * how large the documents are. A modified doc whose old and new
    * texts collide on xxhash64 (2⁻⁶⁴) reports as unchanged — the
    * standard at-scale trade, same policy as the postings hash.
    * `idCol` must be unique within each snapshot (the PK contract of
    * a snapshot); duplicate ids would multiply join rows.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // A null text is a VALUE distinct from every string (IS DISTINCT
    // FROM semantics): the hash stays null for it — xxhash64 would
    // otherwise skip the null argument and emit the seed constant,
    // conflating null text with whatever string shares that hash —
    // and presence rides an explicit flag, never the hash's nullness.
    def sig(df: DataFrame, side: String) =
      df.select(col(idCol).as("doc_id"),
        when(col(textCol).isNotNull, xxhash64(col(textCol))).as(s"h_$side"),
        lit(true).as(s"in_$side"))
    sig(oldSnap, "old")
      .join(sig(newSnap, "new"), Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(!(col("h_old") <=> col("h_new")), lit("modified")))
      .where(col("change").isNotNull)
      .select(col("doc_id"), col("change"))
  }

  /** One-row diff summary: the counts a snapshot-promotion gate
    * alerts on (plus both snapshot sizes, recomputed in the same
    * pass for ratio rules like "reject if >30% of the corpus
    * changed").
    */
  def diffSummary(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def n(kind: String) =
      coalesce(sum(when(col("change") === kind, 1L)), lit(0L)).as(s"n_$kind")
    val d = snapshotDiff(oldSnap, newSnap, idCol, textCol)
      .agg(n("added"), n("removed"), n("modified"))
    val sizes = oldSnap.agg(count(lit(1)).as("n_old"))
      .crossJoin(newSnap.agg(count(lit(1)).as("n_new")))
    d.crossJoin(broadcast(sizes))
  }
}
