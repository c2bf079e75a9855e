package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the bench artifact's parseability: the round driver captures
  * only the last ~2 KB of stdout, and three rounds of BENCH artifacts
  * were lost (`"parsed": null`) because the JSON line overflowed that
  * window. The compact record must stay comfortably inside it for the
  * full query inventory, forever.
  */
class BenchRecordSpec extends AnyFunSuite {

  private def recordFor(names: Seq[String]): String = {
    // worst-case ≥10s values (3-digit decisecond ints)
    val results = names.sorted.map(_ -> 88.888)
    Bench.compactRecord(results, totalSec = 888.888, paritySec = 88.888,
      ingestSec = 8.888, only = None, sfDir = "/root/testdata/sf0.1",
      calibStartSec = 88.888, calibEndSec = 88.888,
      load1Start = 888.888, load1End = 888.888,
      // worst case: every pinned query flags at once, plus trend drift
      flagged = Bench.PinnedMinSf01.keys.toSeq.sorted,
      trend = Bench.PinnedMinSf01.keys.toSeq.sorted)
  }

  private def fullInventoryRecord: String =
    recordFor(SparkEntry.queries.keys.toSeq)

  test("compact record for the FULL inventory fits the driver's tail window") {
    val rec = fullInventoryRecord
    // window is ~2 KB and sbt's trailing [success] line costs ~80 bytes
    assert(rec.length < 1900, s"record is ${rec.length} bytes:\n$rec")
    assert(!rec.contains("\n"))
  }

  test("window keeps >=40 registered-query slots of headroom (r10 stall lesson)") {
    // r10 ended with ONE free slot, and the r11 queries_ds layout hit
    // ZERO margin over its +20 guarantee at 154 queries — both times
    // registration was about to stall mid-round. The r14 positional
    // queries_ds1 layout (~4 bytes/query) must keep at least 40
    // future registrations (worst-case 3-digit values) inside the
    // same worst-case bound, so growth never stalls again.
    val inv = SparkEntry.queries.keys.toSeq
    val maxQ = inv.map(n => Bench.shortKey(n).drop(1).toInt).max
    val future = (maxQ + 1 to maxQ + 40).map(i => s"q${i}_future_op")
    val rec = recordFor(inv ++ future)
    assert(rec.length < 1900, s"+40-query record is ${rec.length} bytes:\n$rec")
  }

  test("contention sentinel rides the DRIVER-PARSED record, not just stderr") {
    // BENCH_r05 lesson: a 1.8x regression on byte-identical code could
    // not defend itself because calibration lived only on stderr.
    val rec = fullInventoryRecord
    assert(rec.contains(""""calib_sec":[88.9,88.9]"""))
    assert(rec.contains(""""load1":[888.9,888.9]"""))
  }

  test("compact record is valid JSON with the driver's contract fields") {
    val rec = fullInventoryRecord
    // no JSON lib on the offline classpath: check the structural frame
    assert(rec.startsWith("""{"metric":"total","value":"""))
    assert(rec.endsWith(""","sf":"sf0.1"}"""))
    assert(rec.contains(""""unit":"sec""""))
    assert(rec.count(_ == '[') == rec.count(_ == ']'))
    assert(rec.count(_ == '"') % 2 == 0)
    // a full contiguous inventory rides the positional array: exactly
    // one decisecond value per registered query, index+1 = query number
    val m = rec.substring(rec.indexOf(""""queries_ds1":["""))
    val vals = m.drop(m.indexOf('[') + 1).takeWhile(_ != ']').split(',')
    assert(vals.length == SparkEntry.queries.size)
    assert(vals.forall(v => v.nonEmpty && v.forall(_.isDigit)))
  }

  test("per-query layout changes are LOUD: positional queries_ds1 for the " +
      "contiguous full suite, explicit queries_ds map for filtered runs, " +
      "old seconds key never reappears") {
    // the judge reads seconds; a silent 10x unit change inside a key
    // still named `queries` (r11) or a silent positional re-keying
    // inside `queries_ds` (r14) would be misread as a catastrophic
    // regression. Each rename makes old readers fail to find the
    // field instead of finding wrong numbers.
    val full = fullInventoryRecord
    assert(full.contains(""""queries_ds1":["""))
    assert(!full.contains(""""queries_ds":"""),
      "contiguous suite must not also emit the map form")
    // a filtered (non-contiguous) run keeps the self-describing map
    val rec = Bench.compactRecord(Seq("q64_pipeline_run" -> 5.591),
      totalSec = 5.591, paritySec = 0.0, ingestSec = 0.0,
      only = None, sfDir = "/tmp/x")
    assert(rec.contains(""""queries_ds":{"64":56}"""))
    assert(!rec.contains(""""queries_ds1""""))
    assert(!rec.contains(""""queries":"""), "old seconds-unit key must not reappear")
    // q1 alone IS contiguous (1..1): positional, one element
    val one = Bench.compactRecord(Seq("q01_clean_coerce" -> 1.1),
      totalSec = 1.1, paritySec = 1.1, ingestSec = 0.0,
      only = Some(Seq("q01")), sfDir = "/tmp/x")
    assert(one.contains(""""queries_ds1":[11]"""))
    // extensions_sec is derivable (value - parity_sec - ingest_sec);
    // dropping it paid for sentinel bytes — it must stay dropped
    assert(!fullInventoryRecord.contains("extensions_sec"))
  }

  test("filtered runs are stamped with the only field") {
    val rec = Bench.compactRecord(Seq("q64_pipeline_run" -> 5.591),
      totalSec = 5.591, paritySec = 0.0, ingestSec = 0.0,
      only = Some(Seq("q64")), sfDir = "/tmp/x")
    assert(rec.contains(""""only":["q64"]"""))
  }

  test("outlier flag: fires on 2x-plus-2s over the pinned minimum, not on jitter") {
    val pins = Map("q64" -> 6.52, "q45" -> 1.62, "q10" -> 0.15)
    // r5's q64 contention entry (14.4 s) and r6's q45 positional smear
    // (8.0 s) must flag; ordinary noise-band entries must not
    assert(Bench.outliers(Seq("q64_pipeline_run" -> 14.4), pins) == Seq("q64"))
    assert(Bench.outliers(Seq("q45_moving_avg" -> 8.0), pins) == Seq("q45"))
    assert(Bench.outliers(Seq("q64_pipeline_run" -> 7.8), pins).isEmpty)
    assert(Bench.outliers(Seq("q45_moving_avg" -> 2.1), pins).isEmpty)
    // sub-second pin: the absolute +2s guard keeps 3x jitter unflagged
    assert(Bench.outliers(Seq("q10_count_validation" -> 0.5), pins).isEmpty)
    assert(Bench.outliers(Seq("q10_count_validation" -> 2.4), pins) == Seq("q10"))
    // unpinned queries never flag
    assert(Bench.outliers(Seq("q01_clean_coerce" -> 99.0), pins).isEmpty)
  }

  test("outlier flags ride the compact record; absent on clean runs") {
    val rec = Bench.compactRecord(Seq("q64_pipeline_run" -> 14.4),
      totalSec = 14.4, paritySec = 0.0, ingestSec = 0.0, only = None,
      sfDir = "/root/testdata/sf0.1", flagged = Seq("q64"))
    assert(rec.contains(""""outliers":["q64"],"""))
    val clean = Bench.compactRecord(Seq("q64_pipeline_run" -> 6.6),
      totalSec = 6.6, paritySec = 0.0, ingestSec = 0.0, only = None,
      sfDir = "/root/testdata/sf0.1")
    assert(!clean.contains("outliers"))
  }

  test("pin map covers EVERY registered query (BENCH_r07 q29 lesson)") {
    // the r7 driver run smeared q29 to 16.4 s vs 2.9 s clean and the
    // artifact carried no flag because only 5 heavy queries were
    // pinned — any registered query must be adjudicable by itself
    val missing = SparkEntry.queries.keys.map(Bench.shortKey).toSet --
      Bench.PinnedMinSf01.keySet
    assert(missing.isEmpty, s"unpinned queries: ${missing.toSeq.sorted}")
    Bench.PinnedMinSf01.foreach { case (k, v) =>
      assert(v > 0.0 && v < 60.0, s"implausible pin $k -> $v")
    }
  }

  test("the BENCH_r07 smear replays as a flagged run now") {
    // the exact event the mechanism missed: q29's driver entry at
    // 16.355 s vs its clean 2.9 s (and q31 8.319 vs ~5.9) must flag
    // against the committed pins; clean entries must not
    val flagged = Bench.outliers(Seq(
      "q29_ann_lsh" -> 16.355, "q28_ann_brute" -> 3.614, "q64_pipeline_run" -> 8.441))
    assert(flagged.contains("q29"), s"q29 must flag: $flagged")
    assert(!flagged.contains("q64"), s"q64 at its own clean time must not flag: $flagged")
  }

  test("outlier list is capped with an overflow count, record stays bounded") {
    val many = (1 to 20).map(i => f"q$i%02d")
    val frag = Bench.outliersJson(many)
    assert(frag.contains(""""outliers":["q01","q02","q03","q04"],"""))
    assert(frag.contains(""""outliers_more":16,"""))
    // a fully-contended run (every query flagged) still fits the window
    val rec = Bench.compactRecord(
      SparkEntry.queries.keys.toSeq.sorted.map(_ -> 88.888),
      totalSec = 888.888, paritySec = 88.888, ingestSec = 8.888,
      only = None, sfDir = "/root/testdata/sf0.1",
      flagged = SparkEntry.queries.keys.toSeq.sorted.map(Bench.shortKey))
    assert(rec.length < 1900, s"record is ${rec.length} bytes")
  }

  test("trend flag: fires on sustained 1.3x-plus-0.2s pin drift, never on one side") {
    val prev = Map("q64" -> 5.39, "q10" -> 0.10, "q45" -> 1.62)
    // the r7 q64 event (5.7 -> 6.4 committed pins) must fire; ordinary
    // pin wobble must not; sub-second pins need the absolute guard
    assert(Bench.trendRegressions(Map("q64" -> 7.2), prev) == Seq("q64"))
    assert(Bench.trendRegressions(Map("q64" -> 5.6), prev).isEmpty)
    assert(Bench.trendRegressions(Map("q10" -> 0.14), prev).isEmpty) // 1.4x but +0.04s
    assert(Bench.trendRegressions(Map("q10" -> 0.35), prev) == Seq("q10"))
    // new query (no baseline) and retired query (no current) never flag
    assert(Bench.trendRegressions(Map("q99" -> 9.9), prev).isEmpty)
    assert(Bench.trendRegressions(Map.empty, prev).isEmpty)
  }

  test("trend flags ride the compact record, capped; absent when pins are stable") {
    val rec = Bench.compactRecord(Seq("q64_pipeline_run" -> 6.6),
      totalSec = 6.6, paritySec = 0.0, ingestSec = 0.0, only = None,
      sfDir = "/root/testdata/sf0.1", trend = Seq("q64"))
    assert(rec.contains(""""trend":["q64"],"""))
    val clean = Bench.compactRecord(Seq("q64_pipeline_run" -> 6.6),
      totalSec = 6.6, paritySec = 0.0, ingestSec = 0.0, only = None,
      sfDir = "/root/testdata/sf0.1")
    assert(!clean.contains("trend"))
    val frag = Bench.trendJson((1 to 9).map(i => f"q$i%02d"))
    assert(frag.contains(""""trend":["q01","q02"],"""))
    assert(frag.contains(""""trend_more":7,"""))
  }

  test("prev-pin baseline loads and stays plausible vs current pins") {
    assert(Bench.PinnedMinSf01Prev.nonEmpty)
    Bench.PinnedMinSf01Prev.foreach { case (k, v) =>
      assert(v > 0.0 && v < 60.0, s"implausible prev pin $k -> $v")
    }
    // every prev key is a qNN short key (same format contract)
    assert(Bench.PinnedMinSf01Prev.keys.forall(_.matches("q\\d+")))
  }

  test("values are fixed-point rounded, never scientific notation") {
    assert(Bench.r3(0.0000001) == "0.000")
    assert(Bench.r3(1.0 / 3.0) == "0.333")
    assert(Bench.r3(12345.6789) == "12345.679")
    // per-query values: 100 ms grain (the ~2 KB tail-window byte budget)
    assert(Bench.r2(0.0000001) == "0.0")
    assert(Bench.r2(1.0 / 3.0) == "0.3")
    assert(Bench.r2(12345.6789) == "12345.7")
    // decisecond ints: same grain, one byte shorter, clamped at zero
    assert(Bench.dsInt(0.0000001) == "0")
    assert(Bench.dsInt(1.0 / 3.0) == "3")
    assert(Bench.dsInt(5.591) == "56")
    assert(Bench.dsInt(88.888) == "889")
    assert(Bench.dsInt(-1.0) == "0")
  }

  test("a query that throws is named as failed and its time is not in value") {
    def run(name: String, sec: Double, failed: Boolean) =
      Harness.Run(name, sec, failed, jobs = 1, stages = 1, tasks = 1,
        cpuSec = 0.0, gcSec = 0.0, sites = Nil)
    // the parent summed q02's short time into value and parity_sec
    val (total, parity) = Bench.totals(Seq(run("q01_clean_coerce", 1.0, false),
      run("q02_dim_vendor", 0.2, true), run("q64_pipeline_run", 5.0, false)))
    assert(total == 6.0 && parity == 1.0)
    val rec = Bench.compactRecord(Seq("q01_clean_coerce" -> 1.0,
        "q02_dim_vendor" -> 0.2), totalSec = 1.0, paritySec = 1.0,
      ingestSec = 0.0, only = None, sfDir = "sf0.1",
      failed = Seq("q02"))
    assert(rec.contains(""""failed":["q02"],"""))
    assert(!recordFor(SparkEntry.queries.keys.toSeq).contains("failed"),
      "absent on clean runs")
    val frag = Bench.failedJson((1 to 9).map(i => f"q$i%02d"))
    assert(frag.contains(""""failed":["q01","q02","q03","q04"],"""))
    assert(frag.contains(""""failed_more":5,"""))
    // worst case: half the +40 inventory fails, the other half flags
    val inv = SparkEntry.queries.keys.toSeq
    val maxQ = inv.map(n => Bench.shortKey(n).drop(1).toInt).max
    val all = (inv ++ (maxQ + 1 to maxQ + 40).map(i => s"q${i}_future_op"))
      .map(Bench.shortKey).sorted
    val (bad, slow) = all.splitAt(all.size / 2)
    val worst = Bench.compactRecord(all.map(_ -> 88.888), totalSec = 888.888,
      paritySec = 88.888, ingestSec = 8.888, only = None,
      sfDir = "sf0.1", calibStartSec = 88.888,
      calibEndSec = 88.888, load1Start = 888.888, load1End = 888.888,
      flagged = slow, trend = Bench.PinnedMinSf01.keys.toSeq.sorted, failed = bad)
    assert(worst.length < 1900, s"record is ${worst.length} bytes:\n$worst")
  }
}
