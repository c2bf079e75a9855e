package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's six star-schema builders, by name, over the real
  * Iowa 24-column table — a user of the reference finds the
  * `SELECT [DISTINCT] … WHERE …` part of each `INSERT … ON CONFLICT
  * DO NOTHING` statement (reference `IowaLiquor-RDS.session.sql:75-182`)
  * in the same-named function here. The dims return the DISTINCT
  * non-null-keyed tuples, not one row per key: a key whose attributes
  * vary across source rows yields one row per variant, where the
  * reference keeps the first inserted. The `ON CONFLICT` half is the
  * caller's: compose `Star.conflictIgnoreAppend` on the key, as
  * [[factSales]] says. `clean` is the transform-stage coercion
  * (reference `src/transform.py:11-23`).
  */
object IowaStar {

  /** Transform stage over the raw extract — F1/F2 coercions with the
    * reference's exact semantics (bad date → NULL, bad number → 0).
    */
  def clean(raw: DataFrame): DataFrame =
    Clean.clean(raw,
      timestampCols = Seq("date"),
      intCols = IowaSchema.intCols,
      moneyCols = IowaSchema.moneyCols,
      volumeCols = IowaSchema.volumeCols)

  /** dim_store — `IowaLiquor-RDS.session.sql:75-94`. */
  def dimStore(base: DataFrame): DataFrame =
    Star.dim(base, "store", "name", "address", "city", "zipcode",
      "store_location", "county_number", "county")

  /** dim_date — `IowaLiquor-RDS.session.sql:96-128` (PG DOW, Sun=0). */
  def dimDate(base: DataFrame): DataFrame =
    Star.dimDate(base, "date")

  /** dim_item — `IowaLiquor-RDS.session.sql:130-145`. */
  def dimItem(base: DataFrame): DataFrame =
    Star.dim(base, "itemno", "im_desc", "pack", "bottle_volume_ml",
      "state_bottle_cost", "state_bottle_retail")

  /** dim_vendor — `IowaLiquor-RDS.session.sql:147-151`. */
  def dimVendor(base: DataFrame): DataFrame =
    Star.dim(base, "vendor_no", "vendor_name")

  /** dim_category — `IowaLiquor-RDS.session.sql:153-157`. */
  def dimCategory(base: DataFrame): DataFrame =
    Star.dim(base, "category", "category_name")

  /** fact_sales — `IowaLiquor-RDS.session.sql:159-182`: not-null PK
    * filter, day-grain date, measure subset. ON CONFLICT semantics are
    * applied when appending via `Star.conflictIgnoreAppend` /
    * `Pipeline.conflictIgnoringAppend` with key `invoice_line_no`.
    */
  def factSales(base: DataFrame): DataFrame =
    base.where(col("invoice_line_no").isNotNull)
      .select(
        col("invoice_line_no"),
        to_date(col("date")).as("date"),
        col("store"), col("itemno"), col("vendor_no"), col("category"),
        col("sale_bottles"), col("sale_dollars"), col("sale_liters"),
        col("sale_gallons"))

  /** FK-integrity audit of a built fact against the five dims
    * (reference `IowaLiquor-RDS.session.sql:68-72`): returns
    * (dimension name → violating-row count); all zeros = loadable.
    * Each count is `Star.fkViolations(fact.where(col(k).isNotNull), dim,
    * k, k).count()`: a fact row counts once per copy, a null FK never.
    *
    * One Spark action: one scan of the fact; per dim one correlated
    * `NOT EXISTS`, which plans as a BroadcastHashJoin ExistenceJoin
    * built from the dim's key column as it is (existence ignores
    * duplicate keys, so nothing shuffles on the dim side); one global
    * aggregate of `count_if`s, read with one `head()`. The frames are
    * visible to the statement as uniquely named temp views, dropped
    * afterwards whether it throws or not. `NOT IN` and
    * `Dataset.exists()` spellings of the same audit plan a nested loop
    * or lose the correlation on Spark 4.1 (NOTES.md, "FK audit plan
    * traps").
    */
  def fkAudit(fact: DataFrame, store: DataFrame, date: DataFrame,
      item: DataFrame, vendor: DataFrame, category: DataFrame): Map[String, Long] = {
    val fks = Seq(
      ("dim_store", store, "store"),
      ("dim_date", date, "date"),
      ("dim_item", item, "itemno"),
      ("dim_vendor", vendor, "vendor_no"),
      ("dim_category", category, "category"))
    val spark = fact.sparkSession
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val factView = s"fk_audit_fact_$tag"
    val dimViews = fks.map { case (name, _, _) => s"fk_audit_${name}_$tag" }
    try {
      fact.createTempView(factView)
      fks.zip(dimViews).foreach { case ((_, dim, _), v) => dim.createTempView(v) }
      val counts = fks.zip(dimViews).map { case ((_, _, k), v) =>
        s"count_if(f.`$k` IS NOT NULL AND NOT EXISTS " +
          s"(SELECT /*+ BROADCAST(d) */ 1 FROM $v d WHERE d.`$k` = f.`$k`))"
      }
      val row = spark.sql(s"SELECT ${counts.mkString(", ")} FROM $factView f").head()
      fks.zipWithIndex.map { case ((name, _, _), i) => name -> row.getLong(i) }.toMap
    } finally (factView +: dimViews).foreach(spark.catalog.dropTempView)
  }
}
