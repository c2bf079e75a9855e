package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDataset
import graft.functions._

/** Star-schema builder: the reference's six `INSERT … SELECT [DISTINCT]
  * … WHERE … ON CONFLICT DO NOTHING` statements
  * (reference `IowaLiquor-RDS.session.sql:75-182`) as DataFrame
  * pipelines (SURVEY.md §2.4, §3.3).
  *
  * Scale notes (100 TB): every dim derivation is
  * project → filter → hash-aggregate — partial aggregation runs
  * map-side, so the shuffle carries only distinct keys (tiny for real
  * dimensions). FK audits broadcast the dim's key column as it is:
  * anti-, semi- and existence joins ignore duplicate build keys, so the
  * dim side never shuffles and neither does the fact. The five-FK
  * audit `IowaStar.fkAudit` is one action over one fact scan.
  */
object Star {

  /** D1 + P4 + P5: distinct projection of non-null-keyed rows — the
    * shape of every dimension insert (e.g. dim_store,
    * reference `IowaLiquor-RDS.session.sql:85-94`).
    */
  def dim(base: DataFrame, key: String, cols: String*): DataFrame =
    base.select((key +: cols).map(col).toIndexedSeq: _*)
      .where(col(key).isNotNull)
      .distinct()

  /** dim_date derivation (reference `IowaLiquor-RDS.session.sql:104-126`):
    * date_trunc-to-day (F3), year/quarter/month (F4-F6), PG-convention
    * day-of-week (F7), weekend flag (F8). The distinct runs on the day
    * alone and the calendar parts are derived over the distinct days:
    * each is a function of the date, so the rows are the same and the
    * aggregate key is one column, not six.
    */
  def dimDate(base: DataFrame, tsCol: String): DataFrame = {
    val d = col("date")
    base.where(col(tsCol).isNotNull)
      .select(to_date(col(tsCol)).as("date"))
      .distinct()
      .select(
        d,
        year(d).as("year"),
        quarter(d).as("quarter"),
        month(d).as("month"),
        pgDow(d).as("day_of_week"),
        isWeekend(d).as("is_weekend"))
  }

  /** D2: conflict-ignoring append (`ON CONFLICT (pk) DO NOTHING`,
    * reference `IowaLiquor-RDS.session.sql:94,...,182`): dedup the batch
    * on the key with [[firstPerKey]], then keep only rows whose key is
    * absent from `existing`. PG keeps the first arriving row; the dedup
    * keeps an arbitrary row per key — set-equal on the keys, documented
    * in SURVEY.md §7.4 risk 2. The anti-join broadcasts whichever side
    * is under the broadcast threshold; when neither is, it is a
    * sort-merge join, and the dedup's output is already clustered and
    * sorted on the key, so the batch side gets no second Exchange or
    * Sort. `existing` enters it as its key projection with no
    * `distinct()`: an anti join ignores duplicate build keys, so a
    * distinct would only add an aggregate over every key of the table
    * (and a shuffle when the join broadcasts).
    */
  def conflictIgnoreAppend(newRows: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    firstPerKey(newRows, keys).join(
      existing.select(keys.map(col).toIndexedSeq: _*), keys, "left_anti")

  /** One arbitrary row per distinct key tuple, null keys included —
    * `dropDuplicates(keys)`'s contract: the first row of each key run
    * in key-sort order, the row a rank-1 `row_number` window over the
    * keys keeps. It plans as one key shuffle, a spillable sort and
    * [[FirstPerKeyExec]], which keeps the first row of each run of equal
    * keys. On a wide row `dropDuplicates` would plan as partial +
    * final SortAggregate carrying a `first` buffer per non-key column
    * (string buffers are not fixed-width, so no hash aggregate). The
    * planner strategy is installed on the frame's session here (once
    * per session).
    */
  def firstPerKey(df: DataFrame, keys: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    FirstPerKey.install(spark)
    val plan = df.queryExecution.analyzed
    val keyAttrs = df.select(keys.map(col).toIndexedSeq: _*).queryExecution.analyzed.output
    require(keyAttrs.forall(plan.outputSet.contains),
      s"firstPerKey: keys must be top-level columns, got ${keys.mkString(", ")}")
    PlanDataset.ofRows(spark, FirstPerKey(keyAttrs, plan))
  }

  /** J1 violation audit: fact rows whose FK has no match in the dim
    * (Postgres would reject these at insert,
    * reference `IowaLiquor-RDS.session.sql:68-72`). Dim side is
    * broadcast as a keys-only projection, which keeps the broadcast tiny
    * even for big dimensions; a left-anti join ignores duplicate build
    * keys, so the keys need no `distinct()` (and no shuffle).
    */
  def fkViolations(fact: DataFrame, dimTable: DataFrame, factKey: String, dimKey: String): DataFrame =
    fact.join(broadcast(dimTable.select(col(dimKey).as(factKey))), Seq(factKey), "left_anti")

  /** J1 retention: keep only fact rows whose FK resolves (left-semi,
    * which like the anti-join ignores duplicate dim keys).
    */
  def fkRetain(fact: DataFrame, dimTable: DataFrame, factKey: String, dimKey: String): DataFrame =
    fact.join(broadcast(dimTable.select(col(dimKey).as(factKey))), Seq(factKey), "left_semi")

  /** D3: PK-uniqueness audit — keys appearing more than once
    * (reference `include/sql/create_table.sql:2` PRIMARY KEY contract).
    */
  def pkDuplicates(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
}
