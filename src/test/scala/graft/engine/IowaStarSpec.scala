package graft.engine

import graft.SparkSpecBase
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.Date

/** End-to-end Iowa parity on the REAL 24-column schema with the
  * representative rows FIXTURES.md A.2 calls for: an unparseable date,
  * a non-numeric pack, a null store, and a duplicated invoice_line_no.
  */
class IowaStarSpec extends SparkSpecBase {

  /** Raw rows (all strings except nothing — raw schema parses date at
    * the transform here). Column order follows IowaSchema.raw.
    */
  private def rawRow(
      inv: String, date: String, store: String, storeName: String,
      itemno: String, vendor: String, category: String, pack: String,
      dollars: String): Row =
    Row(inv, date, store, storeName, "addr", "city", "50309", "POINT(0 0)",
      "77", "Polk", category, s"cat-$category", vendor, s"vnd-$vendor",
      itemno, s"item-$itemno", pack, "750", "5.00", "7.50", "6", dollars,
      "4.500", "1.189")

  private def raw: DataFrame = {
    val rows = Seq(
      rawRow("INV1", "2024-03-15 10:00:00", "S1", "Store One", "I1", "V1", "C1", "12", "90.00"),
      rawRow("INV2", "not-a-date", "S1", "Store One", "I1", "V1", "C1", "twelve", "45.00"),
      rawRow("INV3", "2024-03-16 09:00:00", null, "No Store", "I2", "V1", "C1", "6", "30.00"),
      rawRow("INV3", "2024-03-16 09:00:00", "S2", "Store Two", "I2", "V2", "C2", "6", "30.00"),
      rawRow("INV4", "2024-03-17 12:00:00", "S2", "Store Two", "I2", "V2", "C2", "6", "30.00"))
    val strSchema = org.apache.spark.sql.types.StructType(
      IowaSchema.raw.fields.map(_.copy(dataType = org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), strSchema)
  }

  test("clean: reference coercion semantics on the 24-column table") {
    val cleaned = IowaStar.clean(raw)
    assert(cleaned.schema("date").dataType.typeName == "timestamp")
    val inv2 = cleaned.where(col("invoice_line_no") === "INV2").collect()(0)
    assert(inv2.isNullAt(inv2.fieldIndex("date")))  // bad date -> NULL
    assert(inv2.getAs[Int]("pack") == 0)            // "twelve" -> 0
    assert(inv2.getAs[java.math.BigDecimal]("sale_dollars").toPlainString == "45.00")
  }

  test("dims: distinct, null-keyed rows excluded, correct column sets") {
    val base = IowaStar.clean(raw)
    val stores = IowaStar.dimStore(base)
    assert(stores.columns.toSeq == Seq("store", "name", "address", "city",
      "zipcode", "store_location", "county_number", "county"))
    assert(stores.select("store").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("S1", "S2")) // null store filtered; duplicates collapsed
    assert(IowaStar.dimVendor(base).count() == 2)
    assert(IowaStar.dimCategory(base).count() == 2)
    // I1 has two attribute variants (pack 12, and the coerced pack 0) —
    // DISTINCT keeps both; the reference's ON CONFLICT (itemno) collapses
    // them at insert time, modeled by conflictIgnoreAppend on the key.
    val items = IowaStar.dimItem(base)
    assert(items.count() == 3)
    assert(Star.conflictIgnoreAppend(items, items.limit(0), Seq("itemno")).count() == 2)
    val dates = IowaStar.dimDate(base).orderBy("date").collect()
    assert(dates.length == 3) // INV2's null date dropped
    assert(dates.map(_.getAs[Int]("day_of_week")).toSeq == Seq(5, 6, 0)) // Fri,Sat,Sun (PG DOW)
    assert(dates.map(_.getAs[Boolean]("is_weekend")).toSeq == Seq(false, true, true))
  }

  test("fact + ON CONFLICT: duplicate invoice_line_no resolved, audit clean") {
    val base = IowaStar.clean(raw)
    val fact = IowaStar.factSales(base)
    assert(fact.count() == 5) // projection keeps all non-null-PK rows
    val loaded = Star.conflictIgnoreAppend(fact,
      fact.limit(0), Seq("invoice_line_no"))
    assert(loaded.count() == 4) // INV3 duplicate collapsed to one row
    val audit = IowaStar.fkAudit(loaded,
      IowaStar.dimStore(base), IowaStar.dimDate(base).select(col("date")),
      IowaStar.dimItem(base), IowaStar.dimVendor(base), IowaStar.dimCategory(base))
    assert(audit.values.forall(_ == 0L), s"audit: $audit")
  }

  /** A fact with at least one violating row per dim, a row whose five
    * FKs are all null (never a violation), and a duplicated violating
    * row (counted twice); dim_store repeats a key, which must not
    * inflate a count.
    */
  private def auditFixture: (DataFrame, Seq[(String, DataFrame, String)]) = {
    import spark.implicits._
    def d(s: String) = Date.valueOf(s)
    val fact = Seq[(String, Date, String, String, String, String)](
      ("F1", d("2024-03-15"), "S1", "I1", "V1", "C1"),
      ("F2", d("2024-03-15"), "SX", "I1", "V1", "C1"),
      ("F2", d("2024-03-15"), "SX", "I1", "V1", "C1"),
      ("F3", d("2024-01-01"), "S2", "IX", "V1", "C1"),
      ("F4", d("2024-03-16"), "S1", "I2", "VX", "CX"),
      ("F5", null, null, null, null, null),
      ("F6", d("2024-03-16"), "S2", "IY", "V2", null))
      .toDF("invoice_line_no", "date", "store", "itemno", "vendor_no", "category")
    val dims = Seq(
      ("dim_store", Seq(("S1", "One"), ("S1", "One again"), ("S2", "Two"), (null, "none"))
        .toDF("store", "name"), "store"),
      ("dim_date", Seq(d("2024-03-15"), d("2024-03-16")).toDF("date"), "date"),
      ("dim_item", Seq("I1", "I2").toDF("itemno"), "itemno"),
      ("dim_vendor", Seq("V1", "V2").toDF("vendor_no"), "vendor_no"),
      ("dim_category", Seq("C1", "C2").toDF("category"), "category"))
    (fact, dims)
  }

  private def audit(fact: DataFrame, dims: Seq[(String, DataFrame, String)]) = {
    val byName = dims.map { case (n, dim, _) => n -> dim }.toMap
    IowaStar.fkAudit(fact, byName("dim_store"), byName("dim_date"),
      byName("dim_item"), byName("dim_vendor"), byName("dim_category"))
  }

  test("fkAudit counts each dim's violations: nulls excluded, duplicate fact rows twice, duplicate dim keys once") {
    val (fact, dims) = auditFixture
    val got = audit(fact, dims)
    val expected = Map("dim_store" -> 2L, "dim_date" -> 1L, "dim_item" -> 2L,
      "dim_vendor" -> 1L, "dim_category" -> 1L)
    assert(got == expected)
    for ((name, dim, k) <- dims)
      assert(got(name) == Star.fkViolations(fact.where(col(k).isNotNull), dim, k, k).count(), name)
  }

  test("fkAudit is one SQL execution of five broadcast existence probes, no shuffle of keys, catalog untouched") {
    val (fact, dims) = auditFixture
    def tables() = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables()
    val plans = jobPlans { audit(fact, dims) }
    assert(plans.size == 1, plans.mkString("\n----\n"))
    val plan = plans.head
    val probes = plan.linesIterator.filter(_.contains("BroadcastHashJoin"))
      .flatMap("ExistenceJoin\\((exists#\\d+)\\)".r.findFirstMatchIn(_).map(_.group(1)))
      .toSet
    assert(probes.size == 5, plan)
    for (bad <- Seq("BroadcastNestedLoopJoin", "hashpartitioning"))
      assert(!plan.contains(bad), plan)
    assert(tables() == before)
    // a fact without one of the FK columns fails to analyze after the
    // views are registered; they are still dropped
    assertThrows[AnalysisException](audit(fact.drop("category"), dims))
    assert(tables() == before)
  }
}
