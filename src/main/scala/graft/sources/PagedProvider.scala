package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 paginated source — the architecture the reference's
  * Socrata HTTP pager maps to (SURVEY.md §2.1 S1, §4):
  *
  * - `$limit`/`$offset` pages (reference `src/extract.py:22-23`) become
  *   one `InputPartition` per page, read in parallel instead of a
  *   serial cursor loop;
  * - the `$where=date BETWEEN …` server-side predicate (reference
  *   `src/extract.py:21`) becomes `SupportsPushDownFilters`: date
  *   bounds translate to row index bounds, so non-matching pages are
  *   never planned;
  * - `$select` (reference `src/extract.py:20`) becomes
  *   `SupportsPushDownRequiredColumns`;
  * - LIMIT pushdown (`SupportsPushDownLimit`) truncates the row range.
  *
  * Every page is read through a [[PageFetcher]]. Options:
  * - `totalRows` (default 100000) and `pageSize` (default 50000 = the
  *   reference's CHUNK_ROWS, `src/config.py:19`);
  * - `fetcher`: the page transport's class name. Without it the feed
  *   is the built-in [[GeneratorFetcher]]: row i has a monotonically
  *   non-decreasing date (10 rows per day from 2020-01-01), a cyclic
  *   store id and an arithmetic sale_dollars — closed-form, so a SQL
  *   oracle reproduces the feed exactly;
  * - `monotonicDates` (default false): an external fetcher declares its
  *   offsets follow that date layout, turning page pruning on for it.
  * Every option also reaches the fetcher's `init`.
  */
class PagedProvider extends TableProvider {
  private def feed(opts: Map[String, String]): PagedFeed =
    PagedFeed(opts.getOrElse("totalrows", "100000").toLong,
      opts.getOrElse("pagesize", "50000").toInt, opts.get("fetcher"), opts)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    feed(options.asScala.toMap).schema

  // getTable receives the original case-sensitive option keys
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new PagedTable(feed(properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap))
}

/** One page request — the reference's Socrata query-parameter tuple
  * (`src/extract.py:18-31`): `$offset`/`$limit` paging, `$select`
  * column projection, `$where` date bounds. Pushed-down filters and
  * pruned columns arrive here, so a transport forwards them to the
  * endpoint instead of over-fetching.
  */
case class PageRequest(offset: Long, limit: Int, select: Seq[String],
    dateGteMicros: Option[Long], dateLteMicros: Option[Long])

/** One fetched record; fields not requested via `select` may be null. */
case class PageRecord(invoiceLineNo: String, dateMicros: java.lang.Long,
    store: String, saleDollars: java.lang.Double)

/** Caller-supplied page transport (SURVEY §7.4 risk 4 remedy): the
  * reference fetches pages over HTTPS; this environment has no egress,
  * so the transport is pluggable — `option("fetcher", fqcn)` names a
  * zero-arg-constructible implementation instantiated ON THE EXECUTOR
  * per partition (the DSv2 pattern JDBC uses for driver classes).
  * Failures propagate to the task, and Spark's task retry re-issues
  * the idempotent page GET — the Airflow-retry story (O3) at page
  * grain, with no transport-level state to rewind.
  *
  * With an external fetcher the closed-form COUNT/MIN/MAX aggregate
  * pushdown is DISABLED: the engine can only answer closed-form for
  * its own generator feed ([[GeneratorFetcher]]), not for an
  * arbitrary endpoint.
  */
trait PageFetcher extends Serializable {
  def init(options: Map[String, String]): Unit = ()
  def fetch(req: PageRequest): Iterator[PageRecord]
}

object PageFetcher {
  def instantiate(fqcn: String, options: Map[String, String]): PageFetcher = {
    val f = Class.forName(fqcn).getDeclaredConstructor().newInstance()
      .asInstanceOf[PageFetcher]
    f.init(options)
    f
  }
}

object PagedSource {
  val schema: StructType = StructType(Seq(
    StructField("invoice_line_no", StringType, nullable = false),
    StructField("date", TimestampType, nullable = false),
    StructField("store", StringType, nullable = false),
    StructField("sale_dollars", DoubleType, nullable = false)))

  /** Same columns, nullable — the honest contract for external
    * transports (a PageRecord field may be null for unserved columns
    * or empty endpoint fields).
    */
  val schemaNullable: StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  val EpochMicros: Long = 1577836800000000L // 2020-01-01T00:00:00Z
  val DayMicros: Long = 86400000000L
  val RowsPerDay: Long = 10L

  def dateMicros(i: Long): Long = EpochMicros + (i / RowsPerDay) * DayMicros
  def invoice(i: Long): String = "INV" + i
  def store(i: Long): String = "store_" + (i % 37)
  def saleDollars(i: Long): Double = ((i * 7 + 13) % 10000) / 100.0

  /** Smallest row index whose date >= t (micros), given monotone dates. */
  def lowerIndexForDateGte(t: Long): Long =
    if (t <= EpochMicros) 0L
    else (t - EpochMicros + DayMicros - 1) / DayMicros * RowsPerDay // ceil day

  /** One-past-largest row index whose date <= t (micros). */
  def upperIndexForDateLte(t: Long): Long =
    if (t < EpochMicros) 0L
    else ((t - EpochMicros) / DayMicros + 1) * RowsPerDay // floor day

  /** Timestamp-literal decoding shared by plan-time and runtime filter paths. */
  def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant.toEpochMilli * 1000L + (t.getNanos / 1000) % 1000)
    case t: java.time.Instant => Some(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case _ => None
  }
}

/** The built-in feed as a [[PageFetcher]]: [[PagedSource]]'s rows at
  * the requested offsets, columns not in `select` left null. Date
  * bounds are ignored: monotone dates already pruned the planned
  * offsets to exactly the matching days.
  */
class GeneratorFetcher extends PageFetcher {
  override def fetch(req: PageRequest): Iterator[PageRecord] = {
    val cols = req.select.toSet
    val (inv, date, store, sale) =
      (cols("invoice_line_no"), cols("date"), cols("store"), cols("sale_dollars"))
    (req.offset until req.offset + req.limit).iterator.map { i =>
      PageRecord(
        if (inv) PagedSource.invoice(i) else null,
        if (date) Long.box(PagedSource.dateMicros(i)) else null,
        if (store) PagedSource.store(i) else null,
        if (sale) Double.box(PagedSource.saleDollars(i)) else null)
    }
  }
}

/** The feed a table pages over: `totalRows` rows in `pageSize`-row
  * pages, served by the `fetcher` class ([[GeneratorFetcher]] if none),
  * which `init`s with `options` (lower-cased keys).
  */
case class PagedFeed(totalRows: Long, pageSize: Int, fetcher: Option[String] = None,
    options: Map[String, String] = Map.empty) {
  /** Only the built-in feed is known null-free, date-monotone and
    * closed-form, so only it gets the non-nullable schema (Catalyst
    * TRUSTS it), unconditional page pruning and aggregate pushdown.
    */
  def builtIn: Boolean = fetcher.isEmpty

  def schema: StructType = if (builtIn) PagedSource.schema else PagedSource.schemaNullable

  /** Date→offset page pruning assumes the built-in feed's row layout.
    * An arbitrary endpoint's offsets index another ordering, where
    * pruning would silently skip matching pages: external transports
    * get it only by declaring `monotonicDates=true`, else they page the
    * full range behind the forwarded $where + Spark's residual filter.
    */
  def indexPruning: Boolean = builtIn || options.get("monotonicdates").contains("true")
}

class PagedTable(feed: PagedFeed) extends Table with SupportsRead {
  override def name(): String = s"paged(totalRows=${feed.totalRows}, pageSize=${feed.pageSize})"
  override def schema(): StructType = feed.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(feed)
}

class PagedScanBuilder(feed: PagedFeed)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var required: StructType = feed.schema
  private var lo: Long = 0L
  private var hi: Long = feed.totalRows
  private var pushed: Array[Filter] = Array.empty
  // pushed date bounds in micros, forwarded to an external transport
  // as the endpoint's `$where` clause
  private var dateGte: Option[Long] = None
  private var dateLte: Option[Long] = None
  private var pushedAgg: Option[Aggregation] = None

  private def atLeast(t: Long): Unit = {
    if (feed.indexPruning) lo = math.max(lo, PagedSource.lowerIndexForDateGte(t))
    dateGte = Some(dateGte.fold(t)(math.max(_, t)))
  }

  private def atMost(t: Long): Unit = {
    if (feed.indexPruning) hi = math.min(hi, PagedSource.upperIndexForDateLte(t))
    dateLte = Some(dateLte.fold(t)(math.min(_, t)))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def bound(v: Any)(narrow: Long => Unit): Boolean =
      PagedSource.tsMicros(v).map(narrow).isDefined
    pushed = filters.filter {
      case GreaterThanOrEqual("date", v) => bound(v)(atLeast)
      case GreaterThan("date", v) => bound(v)(t => atLeast(t + 1))
      case LessThanOrEqual("date", v) => bound(v)(atMost)
      case LessThan("date", v) => bound(v)(t => atMost(t - 1))
      case _ => false
    }
    // Residual = everything: bounds prune pages, Spark still re-applies
    // exact predicates (same contract as parquet row-group pruning).
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(limit: Int): Boolean = {
    // With an external transport AND a date predicate in play, whether
    // the endpoint applies $where before $offset is its business — a
    // truncated page range could then under-deliver matching rows, so
    // leave the limit to Spark in that combination.
    if (!feed.indexPruning && (dateGte.nonEmpty || dateLte.nonEmpty)) return false
    hi = math.min(hi, lo + limit)
    true // partial: pages may still overshoot within a partition
  }

  private def isDate(e: Expression): Boolean = e match {
    case nr: NamedReference => nr.fieldNames.sameElements(Array("date"))
    case _ => false
  }

  /** The [[PagedAggScan]] output column of a pushable aggregate. */
  private def aggColumn(e: AggregateFunc): Option[String] = e match {
    case _: CountStar => Some("count")
    case m: Min if isDate(m.column) => Some("min_date")
    case m: Max if isDate(m.column) => Some("max_date")
    case _ => None
  }

  /** COUNT(*) / MIN(date) / MAX(date), whole-range or GROUP BY date,
    * answered closed-form by [[PagedAggScan]]. Only the built-in feed
    * is closed-form — an external transport must serve real rows.
    * Complete pushdown: no partial aggregation above the scan.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    val gb = agg.groupByExpressions
    feed.builtIn && (gb.isEmpty || (gb.length == 1 && isDate(gb.head))) &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(aggColumn(_).isDefined)
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = Some(agg).filter(supportCompletePushDown)
    pushedAgg.isDefined
  }

  override def build(): Scan = pushedAgg match {
    case Some(agg) =>
      new PagedAggScan(agg.aggregateExpressions.toSeq.flatMap(aggColumn),
        agg.groupByExpressions.nonEmpty, lo, math.max(lo, hi))
    case None =>
      new PagedScan(feed, required, lo, math.max(lo, hi), dateGte, dateLte)
  }
}

/** Closed-form aggregate scan over the row range [lo, hi) (the
  * `$select=count(*)` / `$group=date` a SoQL endpoint would serve):
  * dates are monotone and day-aligned, so no row is generated. A
  * whole-range aggregate is the single group [lo, hi); by date, each
  * day overlapping the range is a group. For a group [start, end):
  * count = end - start, min = dateMicros(start), max =
  * dateMicros(end - 1), null min/max when empty. `aggs` names each
  * aggregate's output column (`count`, `min_date`, `max_date`).
  */
class PagedAggScan(aggs: Seq[String], byDate: Boolean, lo: Long, hi: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    (if (byDate) Seq("date") else Nil).map(StructField(_, TimestampType, nullable = false)) ++
      aggs.map(a => StructField(a, if (a == "count") LongType else TimestampType, a != "count")))
  override def toBatch: Batch = this
  override def description(): String =
    if (byDate) {
      val days = if (hi <= lo) 0L else (hi - 1) / PagedSource.RowsPerDay - lo / PagedSource.RowsPerDay + 1
      s"PagedDailyAggScan(days=$days, range=[$lo,$hi))"
    } else
      s"PagedAggScan(${aggs.zip(PagedAggScan.values(aggs, lo, hi)).map { case (f, v) => s"$f=$v" }.mkString(", ")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(PagedPartition(lo, hi))
  override def createReaderFactory(): PartitionReaderFactory =
    new PagedAggReaderFactory(aggs, byDate)
}

object PagedAggScan {
  private def nextDay(i: Long): Long = (i / PagedSource.RowsPerDay + 1) * PagedSource.RowsPerDay

  /** The groups of [lo, hi): the whole range, or one per day. */
  def groups(lo: Long, hi: Long, byDate: Boolean): Iterator[(Long, Long)] =
    if (!byDate) Iterator.single((lo, hi))
    else Iterator.iterate(lo)(nextDay).takeWhile(_ < hi).map(s => (s, math.min(hi, nextDay(s))))

  /** One group's aggregates, as internal values (Long / micros / null). */
  def values(aggs: Seq[String], start: Long, end: Long): Seq[Any] = aggs.map {
    case "count" => end - start
    case _ if end == start => null
    case "min_date" => PagedSource.dateMicros(start)
    case _ => PagedSource.dateMicros(end - 1)
  }
}

class PagedAggReaderFactory(aggs: Seq[String], byDate: Boolean) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[PagedPartition]
    val rows = PagedAggScan.groups(part.start, part.end, byDate).map { case (start, end) =>
      val values = PagedAggScan.values(aggs, start, end)
      InternalRow.fromSeq(if (byDate) PagedSource.dateMicros(start) +: values else values)
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

class PagedScan(feed: PagedFeed, required: StructType, lo: Long, hi: Long,
    dateGte: Option[Long], dateLte: Option[Long])
    extends Scan with Batch with SupportsRuntimeFiltering {
  // runtime-narrowed bounds (dynamic 'partition' pruning at page grain)
  private var rlo: Long = lo
  private var rhi: Long = hi

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val nPages = ((rhi - rlo) + feed.pageSize - 1) / feed.pageSize
    s"PagedScan(range=[$rlo,$rhi), pages=$nPages, cols=${required.fieldNames.mkString(",")})"
  }

  /** DPP hook: a join against a small date dimension hands the scan
    * the build side's date values at RUNTIME; monotone dates → narrow
    * the page range to [min, max] before planning partitions — the
    * page-grain analog of dynamic partition pruning (exact predicate
    * re-applied by Spark above the scan). Only a scan that still reads
    * `date` can name it: a pruned one offers no runtime filter, or
    * analysis of a join over it fails to resolve the column.
    */
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains("date")) Array(Expressions.column("date"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = if (feed.indexPruning) filters.foreach {
    case In("date", vs) if vs.nonEmpty =>
      val micros = vs.flatMap(PagedSource.tsMicros)
      if (micros.length == vs.length) {
        rlo = math.max(rlo, PagedSource.lowerIndexForDateGte(micros.min))
        rhi = math.min(rhi, PagedSource.upperIndexForDateLte(micros.max))
      }
    case EqualTo("date", v) => PagedSource.tsMicros(v).foreach { t =>
      rlo = math.max(rlo, PagedSource.lowerIndexForDateGte(t))
      rhi = math.min(rhi, PagedSource.upperIndexForDateLte(t))
    }
    case _ => ()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val end = math.max(rlo, rhi)
    Iterator.iterate(rlo)(_ + feed.pageSize).takeWhile(_ < end)
      .map(start => PagedPartition(start, math.min(start + feed.pageSize, end)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FetchedPageReaderFactory(required,
      feed.fetcher.getOrElse(classOf[GeneratorFetcher].getName), feed.options, dateGte, dateLte)
}

case class PagedPartition(start: Long, end: Long) extends InputPartition

/** The page reader: instantiates the feed's [[PageFetcher]]
  * executor-side (top-level class — never captures the Scan, see the
  * DSv2 serialization note) and issues ONE PageRequest per partition
  * with the pushed-down projection and date bounds.
  */
class FetchedPageReaderFactory(required: StructType, fqcn: String,
    options: Map[String, String], dateGte: Option[Long], dateLte: Option[Long])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagedPartition]
    val it = PageFetcher.instantiate(fqcn, options).fetch(PageRequest(
      p.start, (p.end - p.start).toInt, required.fieldNames.toSeq, dateGte, dateLte))
    new PartitionReader[InternalRow] {
      private val getters: Array[PageRecord => Any] = required.fieldNames.map {
        case "invoice_line_no" => (r: PageRecord) =>
          if (r.invoiceLineNo == null) null else UTF8String.fromString(r.invoiceLineNo)
        case "date" => (r: PageRecord) =>
          if (r.dateMicros == null) null else r.dateMicros.longValue()
        case "store" => (r: PageRecord) =>
          if (r.store == null) null else UTF8String.fromString(r.store)
        case "sale_dollars" => (r: PageRecord) =>
          if (r.saleDollars == null) null else r.saleDollars.doubleValue()
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
      private var cur: PageRecord = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = InternalRow.fromSeq(getters.map(_(cur)).toSeq)
      override def close(): Unit = ()
    }
  }
}
