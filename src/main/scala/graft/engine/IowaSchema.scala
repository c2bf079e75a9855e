package graft.engine

import org.apache.spark.sql.types._

/** The reference's canonical schemas, verbatim: `raw`/`table`, the
  * 24-column `iowa_liquor_sales` DDL (reference
  * `include/sql/create_table.sql:1-26`), money as DECIMAL(18,2),
  * volumes as DECIMAL(18,3) per SURVEY.md §1.3.
  */
object IowaSchema {

  /** Target-table schema — `include/sql/create_table.sql:2-25`. */
  val table: StructType = StructType(Seq(
    StructField("invoice_line_no", StringType, nullable = false), // :2 PK
    StructField("date", TimestampType),                           // :3
    StructField("store", StringType),                             // :4
    StructField("name", StringType),                              // :5
    StructField("address", StringType),                           // :6
    StructField("city", StringType),                              // :7
    StructField("zipcode", StringType),                           // :8
    StructField("store_location", StringType),                    // :9
    StructField("county_number", StringType),                     // :10
    StructField("county", StringType),                            // :11
    StructField("category", StringType),                          // :12
    StructField("category_name", StringType),                     // :13
    StructField("vendor_no", StringType),                         // :14
    StructField("vendor_name", StringType),                       // :15
    StructField("itemno", StringType),                            // :16
    StructField("im_desc", StringType),                           // :17
    StructField("pack", IntegerType),                             // :18
    StructField("bottle_volume_ml", IntegerType),                 // :19
    StructField("state_bottle_cost", DecimalType(18, 2)),         // :20
    StructField("state_bottle_retail", DecimalType(18, 2)),       // :21
    StructField("sale_bottles", IntegerType),                     // :22
    StructField("sale_dollars", DecimalType(18, 2)),              // :23
    StructField("sale_liters", DecimalType(18, 3)),               // :24
    StructField("sale_gallons", DecimalType(18, 3))))             // :25

  /** Raw extract schema: all columns arrive as strings from the CSV
    * body except `date` (parsed at read — reference
    * `src/extract.py:27-31`); the transform stage owns the coercions.
    */
  val raw: StructType = StructType(table.fields.map {
    case f if f.name == "date" => f
    case f => f.copy(dataType = StringType, nullable = true)
  })

  /** Columns the transform coerces to numeric with zero-fill
    * (reference `src/transform.py:15-21`).
    */
  val intCols: Seq[String] = Seq("pack", "bottle_volume_ml", "sale_bottles")
  val moneyCols: Seq[String] = Seq("state_bottle_cost", "state_bottle_retail", "sale_dollars")
  val volumeCols: Seq[String] = Seq("sale_liters", "sale_gallons")
}
