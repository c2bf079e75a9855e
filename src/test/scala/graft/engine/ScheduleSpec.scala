package graft.engine

import java.nio.file.Files
import java.time.{Duration, Instant}

import graft.SparkSpecBase
import graft.engine.Schedule.Tick

/** Schedule/catchup semantics (reference `dags/iowa_liquor_dag.py:53-54`
  * — `schedule=None, catchup=False`): tick grid, catchup collapse,
  * marker idempotence, and crash-resume ordering.
  */
class ScheduleSpec extends SparkSpecBase {

  private val hour = Duration.ofHours(1)
  private def t(epochHours: Long) = Instant.ofEpochMilli(epochHours * 3600_000L)

  test("first ever run fires exactly one current tick, no history backfill") {
    val ticks = Schedule.dueTicks(None, t(100).plusSeconds(120), hour, catchup = true)
    assert(ticks == Seq(Tick(t(100), isCatchup = false)))
  }

  test("catchup=false collapses downtime to the latest grid point") {
    val ticks = Schedule.dueTicks(Some(t(90)), t(100), hour, catchup = false)
    assert(ticks == Seq(Tick(t(100), isCatchup = false)))
  }

  test("catchup=true replays every missed tick oldest-first, newest unflagged") {
    val ticks = Schedule.dueTicks(Some(t(97)), t(100).plusSeconds(5), hour, catchup = true)
    assert(ticks == Seq(
      Tick(t(98), isCatchup = true),
      Tick(t(99), isCatchup = true),
      Tick(t(100), isCatchup = false)))
  }

  test("nothing due inside the current interval") {
    assert(Schedule.dueTicks(Some(t(100)), t(100).plusSeconds(3599), hour,
      catchup = true).isEmpty)
    assert(Schedule.dueTicks(Some(t(100)), t(100).plusSeconds(3599), hour,
      catchup = false).isEmpty)
  }

  test("runDue is idempotent and resumes mid-catchup after a crash") {
    val dir = Files.createTempDirectory("graft_sched_").toString
    try {
      var ran = Vector.empty[Instant]
      // first invocation: no marker -> one tick
      assert(Schedule.runDue(spark, dir, hour, catchup = true, now = t(97)) {
        tk => ran :+= tk.scheduled } == 1)
      assert(ran == Vector(t(97)))
      // three hours pass; the job CRASHES on the middle catchup tick
      val boom = intercept[RuntimeException] {
        Schedule.runDue(spark, dir, hour, catchup = true, now = t(100)) { tk =>
          if (tk.scheduled == t(99)) throw new RuntimeException("boom")
          ran :+= tk.scheduled
        }
      }
      assert(boom.getMessage == "boom")
      assert(ran == Vector(t(97), t(98))) // t(98) completed, marker advanced
      // retry: resumes at the FAILED tick, never re-runs t(98)
      assert(Schedule.runDue(spark, dir, hour, catchup = true, now = t(100)) {
        tk => ran :+= tk.scheduled } == 2)
      assert(ran == Vector(t(97), t(98), t(99), t(100)))
      // immediate re-invocation: nothing due
      assert(Schedule.runDue(spark, dir, hour, catchup = true, now = t(100)) {
        _ => fail("must not run") } == 0)
    } finally FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("corrupt marker reads as never-ran (safe with an idempotent load)") {
    val dir = Files.createTempDirectory("graft_sched_bad_").toString
    try {
      Files.write(java.nio.file.Paths.get(dir, "_last_run"),
        "not-a-timestamp".getBytes)
      assert(Schedule.readMarker(spark, dir).isEmpty)
    } finally FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("claimTick: exactly one of N concurrent claimants wins") {
    val dir = Files.createTempDirectory("graft_sched_claim_").toString
    try {
      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(8)
      val go = new CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val done = new CountDownLatch(8)
      (0 until 8).foreach { i =>
        pool.execute { () =>
          go.await()
          try {
            if (Schedule.claimTick(spark, dir, t(50), s"owner-$i", hour, now = t(50)))
              wins.incrementAndGet()
          } finally done.countDown()
        }
      }
      go.countDown()
      assert(done.await(30, TimeUnit.SECONDS))
      pool.shutdown()
      assert(wins.get() == 1, s"${wins.get()} claimants won the same tick")
    } finally FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("runDueShared: second scheduler skips a tick the first has claimed") {
    val dir = Files.createTempDirectory("graft_sched_shared_").toString
    try {
      var ranA = 0; var ranB = 0
      // A claims and completes the tick
      assert(Schedule.runDueShared(spark, dir, hour, catchup = false, "A",
        leaseTimeout = hour, now = t(97)) { _ => ranA += 1 } == 1)
      // B at the same instant: marker already advanced -> nothing due
      assert(Schedule.runDueShared(spark, dir, hour, catchup = false, "B",
        leaseTimeout = hour, now = t(97)) { _ => ranB += 1 } == 0)
      assert(ranA == 1 && ranB == 0)
      // crash case: A claimed t(98) but died before advancing the marker.
      // Claim freshness is judged by file mtime vs wall clock, so pin
      // the mtimes explicitly rather than simulating `now`.
      assert(Schedule.claimTick(spark, dir, t(98), "A", hour, now = Instant.now()))
      val claim = java.nio.file.Paths.get(dir, s"_claim_${t(98).toEpochMilli}")
      assert(Schedule.runDueShared(spark, dir, hour, catchup = false, "B",
        leaseTimeout = hour, now = t(98)) { _ => ranB += 1 } == 0,
        "live claim must gate the tick")
      // ... until the lease expires: B takes the tick over
      Files.setLastModifiedTime(claim,
        java.nio.file.attribute.FileTime.fromMillis(0))
      assert(Schedule.runDueShared(spark, dir, hour, catchup = false, "B",
        leaseTimeout = hour, now = t(98)) { _ => ranB += 1 } == 1)
      assert(ranB == 1)
    } finally FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("runDueShared bootstraps on a marker dir that does not exist yet") {
    val base = Files.createTempDirectory("graft_sched_boot_").toString
    val dir = base + "/nested/markers" // parent dirs must be created by the claim
    try {
      var ran = 0
      assert(Schedule.runDueShared(spark, dir, hour, catchup = false, "A",
        leaseTimeout = hour, now = t(97)) { _ => ran += 1 } == 1)
      assert(ran == 1)
    } finally FsUtil.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("runDueShared recovers a tick whose claimant crashed after the marker passed it") {
    val dir = Files.createTempDirectory("graft_sched_recover_").toString
    try {
      var ran = Vector.empty[Instant]
      // t(97) completes normally (marker -> 97, done file written)
      assert(Schedule.runDueShared(spark, dir, hour, catchup = true, "A",
        leaseTimeout = hour, now = t(97)) { tk => ran :+= tk.scheduled } == 1)
      // A claims t(98) and crashes mid-job: claim file, NO done file
      assert(Schedule.claimTick(spark, dir, t(98), "A", hour, now = Instant.now()))
      // B runs at t(99): t(98) is gated by A's live claim, but B
      // completes t(99) — the marker advances PAST the crashed tick
      assert(Schedule.runDueShared(spark, dir, hour, catchup = true, "B",
        leaseTimeout = hour, now = t(99)) { tk => ran :+= tk.scheduled } == 1)
      assert(ran == Vector(t(97), t(99)))
      assert(Schedule.readMarker(spark, dir).contains(t(99)))
      // t(98) is no longer in dueTicks — marker-only dueness would
      // skip it FOREVER. Once A's lease expires, the recovery pass
      // re-derives it from the un-done claim and B takes it over.
      Files.setLastModifiedTime(
        java.nio.file.Paths.get(dir, s"_claim_${t(98).toEpochMilli}"),
        java.nio.file.attribute.FileTime.fromMillis(0))
      assert(Schedule.runDueShared(spark, dir, hour, catchup = true, "B",
        leaseTimeout = hour, now = t(99)) { tk =>
          assert(tk.isCatchup); ran :+= tk.scheduled } == 1)
      assert(ran == Vector(t(97), t(99), t(98)))
      assert(Schedule.readMarker(spark, dir).contains(t(99)), "marker never regresses")
      // recovered tick is now done: nothing further to run
      assert(Schedule.runDueShared(spark, dir, hour, catchup = true, "B",
        leaseTimeout = hour, now = t(99)) { _ => fail("must not re-run") } == 0)
    } finally FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("marker-lock release is ownership-checked: a stolen lock is left alone") {
    val dir = Files.createTempDirectory("graft_sched_lock_").toString
    try {
      val lockPath = new org.apache.hadoop.fs.Path(dir, "_marker_lock")
      val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // lock held by a PEER (as after a stale-steal + re-acquire):
      // releasing with a non-matching token must not delete it
      Files.write(java.nio.file.Paths.get(dir, "_marker_lock"),
        "peer-token".getBytes)
      graft.ops.FsLock.releaseOwned(fs, lockPath, "my-token")
      assert(Files.exists(java.nio.file.Paths.get(dir, "_marker_lock")),
        "a resumed stale holder deleted the peer's lock")
      // matching token: released
      graft.ops.FsLock.releaseOwned(fs, lockPath, "peer-token")
      assert(!Files.exists(java.nio.file.Paths.get(dir, "_marker_lock")))
      // missing lock: release is a no-op, not an error
      graft.ops.FsLock.releaseOwned(fs, lockPath, "peer-token")
    } finally FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("writeMarkerIfNewer never regresses; claim GC clears passed ticks") {
    val dir = Files.createTempDirectory("graft_sched_mono_").toString
    try {
      Schedule.writeMarker(spark, dir, t(100))
      Schedule.writeMarkerIfNewer(spark, dir, t(99)) // straggler
      assert(Schedule.readMarker(spark, dir).contains(t(100)))
      Schedule.writeMarkerIfNewer(spark, dir, t(101))
      assert(Schedule.readMarker(spark, dir).contains(t(101)))
      // a claim far behind the marker is GC'd on the next shared run
      assert(Schedule.claimTick(spark, dir, t(90), "old", hour, now = t(90)))
      Schedule.runDueShared(spark, dir, hour, catchup = false, "A",
        leaseTimeout = hour, now = t(102)) { _ => }
      assert(!Files.exists(java.nio.file.Paths.get(dir, s"_claim_${t(90).toEpochMilli}")),
        "passed claim should be GC'd")
      // while a claim inside the lease horizon survives
      assert(Files.exists(java.nio.file.Paths.get(dir, s"_claim_${t(102).toEpochMilli}")))
    } finally FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
