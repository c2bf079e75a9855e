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
}
