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

  /** Record `tick` as the last completed run, replacing the marker
    * atomically ([[FsLock.replaceAtomically]]): a delete-then-write
    * pair would leave a no-marker window in which a crash silently
    * resets the schedule to first-run semantics.
    */
  def writeMarker(spark: SparkSession, markerDir: String, tick: Instant): Unit =
    FsLock.replaceAtomically(spark.sparkContext.hadoopConfiguration,
      markerPath(markerDir), tick.toEpochMilli.toString)

  /** Run gate: computes the due ticks from the marker, runs `job` per
    * tick (oldest first), advances the marker AFTER each successful
    * tick (a mid-catchup crash resumes at the failed tick, never
    * re-runs completed ones). Returns the number of ticks run.
    * Single-scheduler semantics, matching the reference's lone
    * manually-triggered DAG run.
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
}
