package graft.engine

import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant}

import org.apache.spark.sql.SparkSession

import graft.ops.FsLock

/** Schedule/catchup control plane (SURVEY §2.10) — the reference DAG
  * declares `schedule=None, catchup=False`
  * (reference `dags/iowa_liquor_dag.py:53-54`): manual triggering, and
  * when a scheduler IS attached, missed intervals are NOT backfilled.
  * The library-honest equivalent is a pure tick calculator plus a
  * marker-file run gate — the caller's cron/driver invokes `runDue`
  * as often as it likes; the marker makes re-invocation idempotent and
  * the catchup flag decides whether downtime is replayed tick-by-tick
  * or collapsed to the latest interval (Airflow's `catchup=False`).
  */
object Schedule {

  /** One schedulable interval: `scheduled` is the tick's nominal time
    * (interval END, matching Airflow's data-interval convention);
    * `isCatchup` marks ticks older than the most recent one.
    */
  case class Tick(scheduled: Instant, isCatchup: Boolean)

  /** The ticks a scheduler would fire in (lastRun, now], aligned to
    * whole multiples of `every` since epoch (deterministic grid, so
    * independent callers agree on tick identity):
    * - no marker (first ever run): exactly one non-catchup tick — the
    *   latest grid point ≤ now (no unbounded history backfill);
    * - `catchup = false`: missed ticks collapse to the LATEST one;
    * - `catchup = true`: one tick per missed grid point, oldest first,
    *   all but the newest flagged `isCatchup`.
    * Empty when the newest grid point ≤ lastRun (nothing due).
    */
  def dueTicks(lastRun: Option[Instant], now: Instant, every: Duration,
      catchup: Boolean): Seq[Tick] = {
    require(!every.isZero && !every.isNegative, "schedule interval must be positive")
    val step = every.toMillis
    val latest = Math.floorDiv(now.toEpochMilli, step) * step
    if (latest <= 0 && now.toEpochMilli < 0) return Seq.empty // pre-epoch: out of scope
    lastRun match {
      case None =>
        Seq(Tick(Instant.ofEpochMilli(latest), isCatchup = false))
      case Some(prev) if latest <= prev.toEpochMilli => Seq.empty
      case Some(prev) =>
        if (!catchup) Seq(Tick(Instant.ofEpochMilli(latest), isCatchup = false))
        else {
          val first = (Math.floorDiv(prev.toEpochMilli, step) + 1) * step
          (first to latest by step).map(t =>
            Tick(Instant.ofEpochMilli(t), isCatchup = t != latest))
        }
    }
  }

  private def markerPath(markerDir: String) =
    new org.apache.hadoop.fs.Path(markerDir, "_last_run")

  /** Last successfully-completed tick, if any. A MISSING or
    * unparseable marker reads as "never ran" (the documented
    * first-run semantics — note this collapses any pending catchup
    * backlog to the single latest tick, which is why writes below are
    * atomic-replace). A genuine I/O failure PROPAGATES: treating a
    * transient read error as never-ran would silently skip due
    * catchup intervals, and idempotent loads do not protect against
    * skipped work.
    */
  def readMarker(spark: SparkSession, markerDir: String): Option[Instant] = {
    val p = markerPath(markerDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        .trim.toLongOption.map(Instant.ofEpochMilli)
      finally in.close()
    }
  }

  /** Record `tick` as the last completed run: write-temp then
    * ATOMIC-REPLACE rename (`Options.Rename.OVERWRITE` via
    * FileContext — unlike `FileSystem.rename`, this is a single
    * replace where the filesystem supports it and THROWS on failure
    * rather than returning false). A delete-then-rename pair would
    * leave a no-marker window in which a crash silently resets the
    * schedule to first-run semantics.
    */
  def writeMarker(spark: SparkSession, markerDir: String, tick: Instant): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = markerPath(markerDir)
    val fs = p.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(markerDir, "._last_run.tmp")
    val out = fs.create(tmp, true)
    try out.write(tick.toEpochMilli.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Run gate: computes the due ticks from the marker, runs `job` per
    * tick (oldest first), advances the marker AFTER each successful
    * tick (a mid-catchup crash resumes at the failed tick, never
    * re-runs completed ones). Returns the number of ticks run.
    * Single-scheduler semantics, matching the reference's lone DAG run.
    * For concurrent schedulers over one marker dir, use [[runDueShared]].
    */
  def runDue(spark: SparkSession, markerDir: String, every: Duration,
      catchup: Boolean, now: Instant = Instant.now())(job: Tick => Unit): Int = {
    val ticks = dueTicks(readMarker(spark, markerDir), now, every, catchup)
    ticks.foreach { t =>
      job(t)
      writeMarker(spark, markerDir, t.scheduled)
    }
    ticks.size
  }

  private def claimPath(markerDir: String, tick: Instant) =
    new org.apache.hadoop.fs.Path(markerDir, s"_claim_${tick.toEpochMilli}")

  /** Atomic rename of `src` away to `dest` (no overwrite): of N
    * concurrent movers of one src, exactly one succeeds — the
    * exclusive-takeover primitive (delete-then-create would let two
    * recoverers both "win", or one delete the other's fresh file).
    */
  private def renameAway(conf: org.apache.hadoop.conf.Configuration,
      src: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path): Boolean =
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(src.toUri, conf)
        .rename(src, dest) // no Rename.OVERWRITE: fails if dest exists
      true
    } catch { case _: java.io.IOException => false } // src gone: lost the takeover

  /** Per-tick claim via [[FsLock.tryAcquire]]'s exclusive create (in
    * an existing `markerDir`): of N schedulers racing on one tick,
    * exactly one wins. A claim whose holder crashed before
    * advancing the marker would wedge the tick forever, so a claim
    * OLDER than `leaseTimeout` (file mtime) with its tick still due
    * may be taken over — via atomic RENAME of the stale claim to a
    * tombstone, so concurrent recoverers race on the rename (one
    * winner) instead of both delete-then-creating. The standard lease
    * compromise applies: inside the lease window execution is
    * exactly-once; a holder that SILENTLY stalls past it (no crash,
    * no marker write) downgrades that tick to at-least-once. Claim
    * files are the per-tick dedup record and are kept after
    * completion (GC'd by [[runDueShared]] once the marker has durably
    * passed them).
    */
  def claimTick(spark: SparkSession, markerDir: String, tick: Instant,
      owner: String, leaseTimeout: Duration,
      now: Instant = Instant.now()): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = claimPath(markerDir, tick)
    val fs = p.getFileSystem(conf)
    if (FsLock.tryAcquire(fs, p, owner)) true
    else {
      val stale =
        try now.toEpochMilli - fs.getFileStatus(p).getModificationTime >
          leaseTimeout.toMillis
        catch { case _: java.io.FileNotFoundException => true } // holder vanished
      if (!stale) false
      else {
        val tomb = new org.apache.hadoop.fs.Path(markerDir,
          s".${p.getName}.tomb.${System.nanoTime()}")
        if (!fs.exists(p)) FsLock.tryAcquire(fs, p, owner) // vanished: plain re-race
        else if (renameAway(conf, p, tomb)) {
          try fs.delete(tomb, false) catch { case _: Throwable => () }
          FsLock.tryAcquire(fs, p, owner)
        } else false // another recoverer won the takeover
      }
    }
  }

  /** How long a `_marker_lock` may sit before being presumed crashed
    * and stolen. The lock guards a millisecond-scale read+write, so
    * 30 s is orders of magnitude above any live holder.
    */
  private val MarkerLockLease = Duration.ofSeconds(30)

  /** Advance the marker MONOTONICALLY and ATOMICALLY: the compare and
    * the write run under a short filesystem mutex (`_marker_lock`,
    * create-exclusive + stale-steal via rename), so a straggler
    * finishing an old tick after a peer advanced further can never
    * regress the schedule — which is what makes [[runDueShared]]'s
    * claim GC safe (a regressed marker would re-due completed ticks
    * whose claims were already collected). Residual caveat, as with
    * any lease: a holder that silently stalls INSIDE the lock past
    * `MarkerLockLease` and then resumes its write could still regress
    * by one tick; the GC horizon (leaseTimeout, default 30 min) dwarfs
    * the lock lease precisely so claims still gate that window.
    */
  def writeMarkerIfNewer(spark: SparkSession, markerDir: String,
      tick: Instant): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val lock = new org.apache.hadoop.fs.Path(markerDir, "_marker_lock")
    val fs = lock.getFileSystem(conf)
    // Unique owner token as the lock payload: release verifies the
    // lock is still OURS. A holder that stalls past MarkerLockLease,
    // has its lock stolen, and then resumes must NOT delete the
    // replacement lock a peer created — that would let a third
    // scheduler into the critical section alongside the peer.
    val token = s"${tick.toEpochMilli}:${java.util.UUID.randomUUID()}"
    while (!FsLock.tryAcquire(fs, lock, token)) {
      val stale =
        try System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime >
          MarkerLockLease.toMillis
        catch { case _: java.io.FileNotFoundException => false } // freed: retry create
      if (stale) {
        val tomb = new org.apache.hadoop.fs.Path(markerDir,
          s"._marker_lock.tomb.${System.nanoTime()}")
        if (renameAway(conf, lock, tomb))
          try fs.delete(tomb, false) catch { case _: Throwable => () }
      } else Thread.sleep(10)
    }
    try {
      if (!readMarker(spark, markerDir).exists(_.toEpochMilli >= tick.toEpochMilli))
        writeMarker(spark, markerDir, tick)
    } finally FsLock.releaseOwned(fs, lock, token)
  }

  private def donePath(markerDir: String, tickMillis: Long) =
    new org.apache.hadoop.fs.Path(markerDir, s"_done_$tickMillis")

  /** Record per-tick completion (idempotent overwrite): the completion
    * fact SEPARATE from the monotonic marker. The marker alone cannot
    * distinguish "tick T completed" from "a peer completed a LATER
    * tick while T's claimant crashed mid-job" — the done file is what
    * makes the crashed tick recoverable (see [[runDueShared]]).
    */
  private def writeDone(fs: org.apache.hadoop.fs.FileSystem,
      markerDir: String, tickMillis: Long, owner: String): Unit = {
    val out = fs.create(donePath(markerDir, tickMillis), true)
    try out.write(owner.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Multi-scheduler run gate: like [[runDue]], but safe for several
    * schedulers polling ONE marker dir concurrently — each due tick is
    * gated by [[claimTick]], so exactly one scheduler executes it
    * (within the lease window); the rest skip. Marker advance is
    * monotonic; each completed tick additionally writes a `_done_`
    * file.
    *
    * Crash recovery under `catchup = true`: a claimant that died
    * mid-job leaves its claim WITHOUT a done file. If a peer
    * meanwhile completed a later tick, the marker moved past the
    * crashed tick and it will never be in [[dueTicks]] again — so
    * each invocation also re-derives retryable ticks from
    * lease-expired claims lacking done files at or behind the marker
    * and runs them (at-least-once beyond the lease window, as
    * everywhere here). Under `catchup = false` a crashed tick
    * collapses into the next interval by design — no recovery, same
    * as a missed one.
    *
    * GC (bounded housekeeping): claim+done pairs further behind the
    * marker than `leaseTimeout` are collected; an UN-done claim is a
    * crash record, kept under catchup until its retry completes (a
    * permanently-failing tick thus keeps exactly one claim file
    * alive — loud, not leaky). Takeover tombstones orphaned by a
    * crash between rename and delete are collected by mtime age.
    * Returns the number of ticks THIS scheduler ran.
    */
  def runDueShared(spark: SparkSession, markerDir: String, every: Duration,
      catchup: Boolean, owner: String,
      leaseTimeout: Duration = Duration.ofMinutes(30),
      now: Instant = Instant.now())(job: Tick => Unit): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(markerDir)
    val fs = dir.getFileSystem(conf)
    val marker = readMarker(spark, markerDir)
    val due = dueTicks(marker, now, every, catchup)
    // Lease expiry here uses the SAME injectable `now` as claimTick's
    // takeover check — on two different clocks, a tick could be
    // selected for recovery that the takeover then refuses (or vice
    // versa) whenever a caller supplies a non-wall `now`.
    // Migration/compat note: a claim predating the done-file scheme
    // (or written via bare claimTick) is indistinguishable from a
    // crash — that is the point of the done file — so it is recovered
    // ONCE and its job re-runs. Consistent with the documented
    // at-least-once guarantee beyond the lease window; jobs behind
    // this gate are idempotent by contract.
    val recovered: Seq[Tick] =
      if (!catchup || marker.isEmpty || !fs.exists(dir)) Seq.empty
      else {
        val m = marker.get.toEpochMilli
        fs.listStatus(dir).toSeq.flatMap { st =>
          val name = st.getPath.getName
          if (!name.startsWith("_claim_")) None
          else name.stripPrefix("_claim_").toLongOption
            .filter(_ <= m) // ticks > marker are still in dueTicks
            .filter(_ =>
              now.toEpochMilli - st.getModificationTime > leaseTimeout.toMillis)
            .filterNot(tm => fs.exists(donePath(markerDir, tm)))
            .map(tm => Tick(Instant.ofEpochMilli(tm), isCatchup = true))
        }
      }
    val ticks = (recovered ++ due)
      .distinctBy(_.scheduled).sortBy(_.scheduled.toEpochMilli)
    fs.mkdirs(dir) // the claim and lock files' exclusive create needs the dir
    val ran = ticks.count { t =>
      val claimed = claimTick(spark, markerDir, t.scheduled, owner, leaseTimeout, now)
      if (claimed) {
        job(t)
        writeDone(fs, markerDir, t.scheduled.toEpochMilli, owner)
        writeMarkerIfNewer(spark, markerDir, t.scheduled)
      }
      claimed
    }
    // GC: claims far behind the (just-advanced) marker can never be
    // due again — the marker is monotonic under writeMarkerIfNewer's
    // lock. Done-gated as documented above; claim deletes first, so a
    // crash here leaves a done file whose claim is gone — collected
    // by the orphan branch on a later pass.
    readMarker(spark, markerDir).foreach { m =>
      val horizon = m.toEpochMilli - leaseTimeout.toMillis
      // tombstones are wall-clock filesystem debris (nanoTime-named),
      // not tick-time artifacts — their age check stays on wall time
      val wallNow = System.currentTimeMillis()
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("_claim_"))
          name.stripPrefix("_claim_").toLongOption
            .filter(_ < horizon)
            .filter(tm => !catchup || fs.exists(donePath(markerDir, tm)))
            .foreach { tm =>
              fs.delete(st.getPath, false)
              try fs.delete(donePath(markerDir, tm), false)
              catch { case _: Throwable => () }
            }
        else if (name.startsWith("_done_"))
          name.stripPrefix("_done_").toLongOption
            .filter(_ < horizon)
            .filterNot(tm => fs.exists(claimPath(markerDir, Instant.ofEpochMilli(tm))))
            .foreach(_ => fs.delete(st.getPath, false))
        else if (name.contains(".tomb.") &&
            wallNow - st.getModificationTime > leaseTimeout.toMillis)
          fs.delete(st.getPath, false)
      }
    }
    ran
  }
}
