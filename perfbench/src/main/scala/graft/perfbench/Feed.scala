package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.IowaSchema
import graft.sources.{PageFetcher, PageRecord, PageRequest}

/** Seeded Iowa liquor-sales feed.
  *
  * Every value is a pure function of (seed, key), where the key is the
  * feed position unless the position re-serves its predecessor's row.
  * Two halves compute the same functions: [[FeedFetcher]] serves the
  * four columns a page carries (key, date, store, dollars) through
  * `PagedProvider`'s fetcher seam, and [[widen]] derives the other
  * twenty `IowaSchema.raw` columns from the key with Spark expressions.
  * [[counts]] walks the positions in plain Scala to give the numbers the
  * pipeline's outputs are checked against.
  *
  * Injected faults, each on ≈1 % of keys: an unparseable date (served
  * as a null timestamp, as the reference's `parse_dates` leaves it), a
  * non-numeric `sale_bottles`, a null store; and ≈1 % of positions
  * re-serve the previous row whole (a duplicate key).
  */
object Feed {

  val FirstDay: LocalDate = LocalDate.of(2020, 1, 1)
  val LastDay: LocalDate = LocalDate.of(2025, 6, 30)
  val Days: Int = (LastDay.toEpochDay - FirstDay.toEpochDay + 1).toInt
  val Stores = 2000
  val Items = 20000
  val Vendors = 300
  val Categories = 100

  // one salt per derived value, so the values are independent
  private val SDup = 1L
  private val SDay = 2L
  private val SBadDate = 3L
  private val SStore = 4L
  private val SNullStore = 5L
  private val SItem = 6L
  private val SBottles = 7L
  private val SBadCount = 8L
  private val SDollars = 9L

  /** xxhash64 of (seed, salt, key), bit-identical to Spark's
    * `xxhash64(lit(seed), lit(salt), key)` so both halves agree.
    */
  def mix(seed: Long, salt: Long, key: Long): Long =
    XXH64.hashLong(key, XXH64.hashLong(salt, XXH64.hashLong(seed, 42L)))

  def bucket(seed: Long, salt: Long, key: Long, n: Int): Int =
    Math.floorMod(mix(seed, salt, key), n.toLong).toInt

  private def onePercent(seed: Long, salt: Long, key: Long): Boolean =
    bucket(seed, salt, key, 100) == 0

  /** Key served at position `i`: one odd position in 50 re-serves the
    * even position before it, so ≈1 % of rows are duplicates and an
    * even position always serves its own key.
    */
  def keyAt(seed: Long, i: Long): Long =
    if (i % 2 == 1 && bucket(seed, SDup, i, 50) == 0) i - 1 else i

  def invoice(key: Long): String = "INV-" + key

  private val DayMicros = 86400000000L
  private val EpochMicros = FirstDay.toEpochDay * DayMicros

  def dateMicros(seed: Long, key: Long): java.lang.Long =
    if (onePercent(seed, SBadDate, key)) null
    else EpochMicros + bucket(seed, SDay, key, Days) * DayMicros

  def store(seed: Long, key: Long): String =
    if (onePercent(seed, SNullStore, key)) null
    else (2000 + bucket(seed, SStore, key, Stores)).toString

  def saleDollars(seed: Long, key: Long): Double =
    (100 + bucket(seed, SDollars, key, 250000)) / 100.0

  /** Expected outcomes of cleaning and loading positions [from, until). */
  case class Counts(rows: Long, distinctKeys: Long, badDates: Long,
      badCounts: Long, nullStores: Long)

  def counts(seed: Long, from: Long, until: Long): Counts = {
    var distinct, badDates, badCounts, nullStores = 0L
    var i = from
    while (i < until) {
      val k = keyAt(seed, i)
      // a key is served at its own position unless that position
      // re-serves its predecessor; a re-served key < `from` is older
      if (k == i) distinct += 1
      if (onePercent(seed, SBadDate, k)) badDates += 1
      if (onePercent(seed, SBadCount, k)) badCounts += 1
      if (onePercent(seed, SNullStore, k)) nullStores += 1
      i += 1
    }
    Counts(until - from, distinct, badDates, badCounts, nullStores)
  }

  /** `PagedProvider` scan of positions [offset, offset + rows) in
    * `pageSize`-row pages, served by [[FeedFetcher]].
    */
  private def scan(spark: SparkSession, seed: Long, offset: Long, rows: Long,
      pageSize: Int): DataFrame =
    spark.read.format("graft.sources.PagedProvider")
      .option("totalRows", rows.toString)
      .option("pageSize", pageSize.toString)
      .option("fetcher", classOf[FeedFetcher].getName)
      .option("feedSeed", seed.toString)
      .option("feedOffset", offset.toString)
      .load()

  private def h(seed: Long, salt: Long, key: Column): Column =
    xxhash64(lit(seed), lit(salt), key)

  private def b(seed: Long, salt: Long, key: Column, n: Int): Column =
    pmod(h(seed, salt, key), lit(n.toLong))

  private def str(c: Column): Column = c.cast("string")

  /** The page scan widened to the 24 `IowaSchema.raw` columns. Store,
    * item, vendor and category attributes are functions of their key,
    * so each dimension has one row per key.
    */
  private def widen(scan: DataFrame, seed: Long): DataFrame = {
    val key = substring(col("invoice_line_no"), 5, 19).cast("long")
    val item = b(seed, SItem, key, Items)
    val storeNo = col("store").cast("int")
    val vendor = item % Vendors + 10
    val category = item % Categories * 10 + 1011000
    val bottles = b(seed, SBottles, key, 24) + 1
    val volume = item % 8 * 250 + 250
    val cost = (item % 40 + 3).cast(DecimalType(18, 2)) + lit(BigDecimal("0.17"))
    val retail = cost * lit(BigDecimal("1.5"))
    val liters = ((bottles * volume).cast(DecimalType(18, 3)) / 1000).cast(DecimalType(18, 3))
    val cols: Map[String, Column] = Map(
      "invoice_line_no" -> col("invoice_line_no"),
      "date" -> col("date"),
      "store" -> col("store"),
      "name" -> concat(lit("Store "), col("store")),
      "address" -> concat(str(storeNo % 997), lit(" Main St")),
      "city" -> concat(lit("City "), str(storeNo % 300)),
      "zipcode" -> str(storeNo % 900 + 50000),
      "store_location" -> concat(lit("POINT (-9"), str(storeNo % 7),
        lit("."), str(storeNo), lit(" 4"), str(storeNo % 3), lit("."), str(storeNo), lit(")")),
      "county_number" -> str(storeNo % 99 + 1),
      "county" -> concat(lit("County "), str(storeNo % 99 + 1)),
      "category" -> str(category),
      "category_name" -> concat(lit("Category "), str(category)),
      "vendor_no" -> str(vendor),
      "vendor_name" -> concat(lit("Vendor "), str(vendor)),
      "itemno" -> str(item + 10000),
      "im_desc" -> concat(lit("Item "), str(item + 10000)),
      "pack" -> str(item % 12 + 1),
      "bottle_volume_ml" -> str(volume),
      "state_bottle_cost" -> str(cost),
      "state_bottle_retail" -> str(retail.cast(DecimalType(18, 2))),
      "sale_bottles" -> when(pmod(h(seed, SBadCount, key), lit(100L)) === 0, lit("n/a"))
        .otherwise(str(bottles)),
      "sale_dollars" -> str(col("sale_dollars").cast(DecimalType(18, 2))),
      "sale_liters" -> str(liters),
      "sale_gallons" -> str((liters * lit(BigDecimal("0.264172"))).cast(DecimalType(18, 3))))
    scan.select(IowaSchema.raw.fieldNames.toIndexedSeq.map(n => cols(n).as(n)): _*)
  }

  /** The raw feed of positions [offset, offset + rows): scan + widen. */
  def raw(spark: SparkSession, seed: Long, offset: Long, rows: Long,
      pageSize: Int): DataFrame =
    widen(scan(spark, seed, offset, rows, pageSize), seed)
}

/** Serves feed pages to `PagedProvider`: instantiated per partition on
  * the executor with the scan's options.
  */
class FeedFetcher extends PageFetcher {
  private var seed = 0L
  private var offset = 0L

  override def init(options: Map[String, String]): Unit = {
    seed = options("feedseed").toLong
    offset = options("feedoffset").toLong
  }

  override def fetch(req: PageRequest): Iterator[PageRecord] = {
    FeedFetcher.pages.increment()
    val from = offset + req.offset
    Iterator.range(0, req.limit).map { j =>
      val k = Feed.keyAt(seed, from + j)
      PageRecord(Feed.invoice(k), Feed.dateMicros(seed, k), Feed.store(seed, k),
        Feed.saleDollars(seed, k))
    }
  }
}

object FeedFetcher {
  /** Pages served in this JVM (executors share it in local mode). */
  val pages = new java.util.concurrent.atomic.LongAdder
}
