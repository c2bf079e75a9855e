package graft.engine

import graft.SparkSpecBase
import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Star-schema semantics: PG DOW convention (F7/F8), distinct dims (D1),
  * ON CONFLICT DO NOTHING (D2), FK audits (J1), PK audit (D3).
  */
class StarSpec extends SparkSpecBase {
  import spark.implicits._

  test("pgDow: Sunday=0, Saturday=6 (PG convention, not Spark's Sun=1)") {
    // 2024-01-07 is a Sunday, 2024-01-06 a Saturday, 2024-01-08 a Monday.
    val df = Seq("2024-01-07", "2024-01-06", "2024-01-08").toDF("d")
      .select(pgDow(to_date(col("d"))).as("dow"), isWeekend(to_date(col("d"))).as("we"))
    val got = df.collect().map(r => (r.getInt(0), r.getBoolean(1)))
    assert(got.toSeq == Seq((0, true), (6, true), (1, false)))
  }

  test("dimDate derives calendar parts and drops null dates") {
    val df = Seq(Some("2024-03-15 13:45:00"), None, Some("2024-03-15 02:00:00"))
      .toDF("ts").select(col("ts").cast("timestamp").as("ts"))
    val dd = Star.dimDate(df, "ts").collect()
    assert(dd.length == 1) // both timestamps truncate to the same day; null dropped
    val r = dd(0)
    assert(r.getAs[Int]("year") == 2024 && r.getAs[Int]("quarter") == 1 &&
      r.getAs[Int]("month") == 3 && r.getAs[Int]("day_of_week") == 5 &&
      !r.getAs[Boolean]("is_weekend"))
  }

  test("dim: distinct projection excludes null keys") {
    val df = Seq((Some("s1"), "a"), (Some("s1"), "a"), (None, "b"), (Some("s2"), "c"))
      .toDF("k", "v")
    assert(Star.dim(df, "k", "v").collect().length == 2)
  }

  test("conflictIgnoreAppend: dedups batch and skips existing keys") {
    val existing = Seq((1, "old")).toDF("k", "v")
    val fresh = Seq((1, "dup-of-existing"), (2, "x"), (2, "x-dup"), (3, "y"))
      .toDF("k", "v")
    val out = Star.conflictIgnoreAppend(fresh, existing, Seq("k"))
      .orderBy("k").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(2, 3)) // 1 skipped; 2 deduped to one row

    // a two-column key, a null key tuple twice, a key repeating with
    // different non-key values: the pick per key is arbitrary, but the
    // key set is dropDuplicates' and each tuple yields exactly one row
    val keys = Seq("a", "b")
    val batch = Seq[(Option[Int], String, String)](
      (Some(1), "p", "v1"), (Some(1), "p", "v2"), (Some(1), "q", "v3"),
      (None, "p", "n1"), (None, "p", "n2"), (Some(2), "p", "v4"), (Some(9), "z", "v5"))
      .toDF("a", "b", "v")
    val loaded = Seq((Some(9), "z", "old")).toDF("a", "b", "v")
    val got = Star.conflictIgnoreAppend(batch, loaded, keys)
    def keySet(df: DataFrame) = df.select(keys.map(col): _*).collect().toSet
    val want = keySet(batch.dropDuplicates(keys).join(loaded, keys, "left_anti"))
    assert(want.size == 4 && keySet(got) == want)
    assert(got.count() == want.size)
    assert(got.except(batch).isEmpty) // every survivor is a batch row
  }

  test("conflictIgnoreAppend: no aggregate over the existing table's keys") {
    // duplicate keys on the existing side are what a distinct would
    // remove; the anti join ignores them
    val existing = Seq((1, "a"), (1, "b"), (4, "c")).toDF("k", "v")
    val batch = Seq((1, "x"), (2, "y"), (2, "y2"), (3, "z")).toDF("k", "v")
    var got = Seq.empty[Int]
    val plans = jobPlans {
      got = Star.conflictIgnoreAppend(batch, existing, Seq("k")).collect().map(_.getInt(0)).sorted.toSeq
    }
    assert(got == Seq(2, 3))
    assert(plans.nonEmpty)
    for (p <- plans) assert(!p.contains("HashAggregate"), p)
  }

  test("fkViolations and fkRetain partition the fact") {
    // a repeated fact key is kept or reported once per row; repeated dim
    // keys neither repeat a fact row nor need a dim-side shuffle
    val fact = Seq((1, 10), (2, 20), (3, 30), (3, 31)).toDF("fk", "m")
    val dim = Seq((1, "a"), (1, "a2"), (3, "c"), (3, "c"), (3, "c3")).toDF("dk", "attr")
    val viol = Star.fkViolations(fact, dim, "fk", "dk")
    assert(viol.collect().map(_.getInt(1)).toSeq == Seq(20))
    val kept = Star.fkRetain(fact, dim, "fk", "dk")
    assert(kept.orderBy("m").collect().map(_.getInt(1)).toSeq == Seq(10, 30, 31))
    for (df <- Seq(viol, kept)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning"), plan)
    }
  }

  test("pkDuplicates finds multiplicity > 1") {
    val df = Seq((1, 1), (1, 1), (1, 2), (2, 1)).toDF("a", "b")
    val dups = Star.pkDuplicates(df, Seq("a", "b")).collect()
    assert(dups.length == 1 && dups(0).getAs[Long]("n") == 2L)
  }
}
