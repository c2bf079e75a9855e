package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
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
  *   bounds translate to generator index bounds, so non-matching pages
  *   are never planned;
  * - `$select` (reference `src/extract.py:20`) becomes
  *   `SupportsPushDownRequiredColumns`;
  * - LIMIT pushdown (`SupportsPushDownLimit`) truncates the row range.
  *
  * The "endpoint" is a deterministic row generator (no network in this
  * environment): row i has a monotonically non-decreasing date (10 rows
  * per day from 2020-01-01), a cyclic store id, and an arithmetic
  * sale_dollars — pure closed-form, so a SQL oracle can reproduce the
  * feed exactly. Options: `totalRows` (default 100000), `pageSize`
  * (default 50000 = the reference's CHUNK_ROWS, `src/config.py:19`),
  * `failFirstAttempt` (default false — O3 test hook: every task's
  * FIRST attempt throws mid-page, so a session with task maxFailures>1
  * must retry every page; models the transient HTTP failures the
  * reference absorbs with Airflow `retries=1`,
  * `dags/iowa_liquor_dag.py:24-25`, `task_extract.log:3` try_number=2).
  */
class PagedProvider extends TableProvider {
  // The generator feed never produces nulls (nullable=false lets
  // Catalyst elide null checks); an external endpoint can serve empty
  // fields, so a fetcher-backed table must declare honest nullability —
  // Catalyst TRUSTS nullable=false and optimizes isNotNull filters away.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("fetcher")) PagedSource.schemaNullable
    else PagedSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // getTable receives the original case-sensitive option keys
    val opts = properties.asScala.map { case (k, v) => k.toLowerCase -> v }
    new PagedTable(
      opts.getOrElse("totalrows", "100000").toLong,
      opts.getOrElse("pagesize", "50000").toInt,
      opts.getOrElse("failfirstattempt", "false").toBoolean,
      opts.get("fetcher"),
      opts.toMap)
  }
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
  * its own generator feed, not for an arbitrary endpoint.
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
  def lowerIndexForDateGte(t: Long): Long = {
    if (t <= EpochMicros) 0L
    else {
      val d = (t - EpochMicros + DayMicros - 1) / DayMicros // ceil
      d * RowsPerDay
    }
  }

  /** One-past-largest row index whose date <= t (micros). */
  def upperIndexForDateLte(t: Long): Long = {
    if (t < EpochMicros) 0L
    else {
      val d = (t - EpochMicros) / DayMicros // floor
      (d + 1) * RowsPerDay
    }
  }
}

class PagedTable(totalRows: Long, pageSize: Int, failFirstAttempt: Boolean = false,
    fetcher: Option[String] = None, fetcherOptions: Map[String, String] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = s"paged(totalRows=$totalRows, pageSize=$pageSize)"
  override def schema(): StructType =
    if (fetcher.isDefined) PagedSource.schemaNullable else PagedSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(totalRows, pageSize, failFirstAttempt, fetcher, fetcherOptions)
}

class PagedScanBuilder(totalRows: Long, pageSize: Int, failFirstAttempt: Boolean = false,
    fetcher: Option[String] = None, fetcherOptions: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var required: StructType =
    if (fetcher.isDefined) PagedSource.schemaNullable else PagedSource.schema
  private var lo: Long = 0L
  private var hi: Long = totalRows
  private var pushed: Array[Filter] = Array.empty
  // pushed date bounds in micros, forwarded to an external transport
  // as the endpoint's `$where` clause
  private var dateGte: Option[Long] = None
  private var dateLte: Option[Long] = None
  // Date→offset page pruning assumes THIS feed's row layout (monotone
  // dates, fixed rows/day) — always true for the built-in generator,
  // but an arbitrary endpoint's offsets index a different ordering, so
  // pruning there would silently skip pages holding matching rows.
  // External transports get it only by declaring option
  // "monotonicDates=true"; otherwise they page the full range and rely
  // on the forwarded $where + Spark's residual predicate.
  private val indexPruning: Boolean =
    fetcher.isEmpty || fetcherOptions.getOrElse("monotonicdates", "false") == "true"

  private def tsMicros(v: Any): Option[Long] = PagedScanBuilderUtil.tsMicros(v)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable: Array[Filter] = filters.flatMap {
      case f @ GreaterThanOrEqual("date", v) => tsMicros(v).map { t =>
        if (indexPruning) lo = math.max(lo, PagedSource.lowerIndexForDateGte(t))
        dateGte = Some(dateGte.fold(t)(math.max(_, t))); f
      }
      case f @ GreaterThan("date", v) => tsMicros(v).map { t =>
        if (indexPruning) lo = math.max(lo, PagedSource.lowerIndexForDateGte(t + 1))
        dateGte = Some(dateGte.fold(t + 1)(math.max(_, t + 1))); f
      }
      case f @ LessThanOrEqual("date", v) => tsMicros(v).map { t =>
        if (indexPruning) hi = math.min(hi, PagedSource.upperIndexForDateLte(t))
        dateLte = Some(dateLte.fold(t)(math.min(_, t))); f
      }
      case f @ LessThan("date", v) => tsMicros(v).map { t =>
        if (indexPruning) hi = math.min(hi, PagedSource.upperIndexForDateLte(t - 1))
        dateLte = Some(dateLte.fold(t - 1)(math.min(_, t - 1))); f
      }
      case _ => None
    }
    pushed = usable
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
    if (!indexPruning && (dateGte.nonEmpty || dateLte.nonEmpty)) return false
    hi = math.min(hi, lo + limit)
    true // partial: pages may still overshoot within a partition
  }

  /** COUNT(*) / MIN(date) / MAX(date) pushdown: the feed is a
    * closed-form row range with MONOTONE dates, so all three are
    * answered without generating a single row — count is `hi - lo`,
    * min/max are the dates of the range endpoints (the
    * `$select=count(*)/min(date)/max(date)` a SoQL endpoint would
    * serve). Complete pushdown: no partial aggregation above the scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def isDate(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
          nr.fieldNames.sameElements(Array("date"))
        case _ => false
      }
    // closed-form answers are only truthful for the built-in generator
    // feed — an external transport must serve real rows
    if (fetcher.isDefined) return false
    val gb = agg.groupByExpressions
    val gbOk = gb.isEmpty || (gb.length == 1 && isDate(gb.head))
    gbOk && agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => isDate(m.column)
        case m: Max => isDate(m.column)
        case _ => false
      }
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (supportCompletePushDown(agg)) { pushedAgg = Some(agg); true }
    else false
  }

  private var pushedAgg: Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None

  override def build(): Scan = pushedAgg match {
    case Some(agg) if agg.groupByExpressions.isEmpty =>
      import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
      val n = math.max(0L, hi - lo)
      val fieldsAndValues: Seq[(StructField, Any)] = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => (StructField("count", LongType, nullable = false), n)
        case _: Min => (StructField("min_date", TimestampType),
          if (n == 0) null else PagedSource.dateMicros(lo))
        case _: Max => (StructField("max_date", TimestampType),
          if (n == 0) null else PagedSource.dateMicros(hi - 1))
        case other => throw new IllegalStateException(s"unexpected pushed agg $other")
      }
      new PagedAggScan(StructType(fieldsAndValues.map(_._1)),
        fieldsAndValues.map(_._2).toArray)
    case Some(agg) =>
      // GROUP BY date: one closed-form row per day in [lo, hi) — the
      // `$group=date` a SoQL endpoint serves. Dates are day-aligned, so
      // per-day COUNT is range overlap and per-day MIN/MAX(date) is the
      // day itself.
      import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
      val kinds: Array[Int] = agg.aggregateExpressions.map {
        case _: CountStar => 0
        case _: Min => 1
        case _: Max => 2
        case other => throw new IllegalStateException(s"unexpected pushed agg $other")
      }
      val fields = StructField("date", TimestampType, nullable = false) +:
        kinds.toSeq.map {
          case 0 => StructField("count", LongType, nullable = false)
          case 1 => StructField("min_date", TimestampType)
          case _ => StructField("max_date", TimestampType)
        }
      new PagedDailyAggScan(StructType(fields), lo, math.max(lo, hi), kinds)
    case None =>
      new PagedScan(required, lo, math.max(lo, hi), pageSize, failFirstAttempt,
        fetcher, fetcherOptions, dateGte, dateLte, indexPruning)
  }
}

/** Single-row scan answering a fully-pushed aggregation (closed form —
  * no row generation). `values` are internal representations
  * (Long / micros-Long / null) aligned with `schema`.
  */
class PagedAggScan(aggSchema: StructType, values: Array[Any]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"PagedAggScan(${aggSchema.fieldNames.zip(values).map { case (f, v) => s"$f=$v" }.mkString(", ")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(PagedPartition(0, 1))
  override def createReaderFactory(): PartitionReaderFactory =
    new PagedAggReaderFactory(values)
}

/** Per-day grouped aggregate scan: emits (date, aggs…) closed-form for
  * each day overlapping [lo, hi) — no row generation, one partition.
  * `kinds`: 0 = COUNT(*), 1 = MIN(date), 2 = MAX(date).
  */
class PagedDailyAggScan(aggSchema: StructType, lo: Long, hi: Long, kinds: Array[Int])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String = {
    val days = if (hi <= lo) 0L else (hi - 1) / PagedSource.RowsPerDay - lo / PagedSource.RowsPerDay + 1
    s"PagedDailyAggScan(days=$days, range=[$lo,$hi))"
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(PagedPartition(lo, hi))
  override def createReaderFactory(): PartitionReaderFactory =
    new PagedDailyAggReaderFactory(kinds)
}

class PagedDailyAggReaderFactory(kinds: Array[Int]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[PagedPartition]
    new PartitionReader[InternalRow] {
      private val lo = part.start
      private val hi = part.end
      private val firstDay = lo / PagedSource.RowsPerDay
      private val lastDay = if (hi <= lo) firstDay - 1 else (hi - 1) / PagedSource.RowsPerDay
      private var day = firstDay - 1
      override def next(): Boolean = { day += 1; day <= lastDay }
      override def get(): InternalRow = {
        val start = math.max(lo, day * PagedSource.RowsPerDay)
        val end = math.min(hi, (day + 1) * PagedSource.RowsPerDay)
        val date = PagedSource.EpochMicros + day * PagedSource.DayMicros
        InternalRow.fromSeq(date +: kinds.toSeq.map {
          case 0 => end - start
          case _ => date
        })
      }
      override def close(): Unit = ()
    }
  }
}

class PagedAggReaderFactory(values: Array[Any]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = { val r = !done; done = true; r }
      override def get(): InternalRow = InternalRow.fromSeq(values.toSeq)
      override def close(): Unit = ()
    }
}

class PagedScan(required: StructType, lo: Long, hi: Long, pageSize: Int,
    failFirstAttempt: Boolean = false,
    fetcher: Option[String] = None, fetcherOptions: Map[String, String] = Map.empty,
    dateGte: Option[Long] = None, dateLte: Option[Long] = None,
    indexPruning: Boolean = true)
    extends Scan with Batch with SupportsRuntimeFiltering {
  // runtime-narrowed bounds (dynamic 'partition' pruning at page grain)
  private var rlo: Long = lo
  private var rhi: Long = hi

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val nPages = ((rhi - rlo) + pageSize - 1) / pageSize
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
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (required.fieldNames.contains("date"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("date"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = if (indexPruning) filters.foreach {
    case In("date", vs) if vs.nonEmpty =>
      val micros = vs.flatMap(PagedScanBuilderUtil.tsMicros)
      if (micros.length == vs.length) {
        rlo = math.max(rlo, PagedSource.lowerIndexForDateGte(micros.min))
        rhi = math.min(rhi, PagedSource.upperIndexForDateLte(micros.max))
      }
    case EqualTo("date", v) => PagedScanBuilderUtil.tsMicros(v).foreach { t =>
      rlo = math.max(rlo, PagedSource.lowerIndexForDateGte(t))
      rhi = math.min(rhi, PagedSource.upperIndexForDateLte(t))
    }
    case _ => ()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val end = math.max(rlo, rhi)
    Iterator.iterate(rlo)(_ + pageSize).takeWhile(_ < end)
      .map(start => PagedPartition(start, math.min(start + pageSize, end)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = fetcher match {
    case Some(fqcn) =>
      new FetchedPageReaderFactory(required, fqcn, fetcherOptions, dateGte, dateLte)
    case None => new PagedReaderFactory(required, failFirstAttempt)
  }
}

/** Timestamp-literal decoding shared by plan-time and runtime filter paths. */
object PagedScanBuilderUtil {
  def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant.toEpochMilli * 1000L + (t.getNanos / 1000) % 1000)
    case t: java.time.Instant => Some(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case _ => None
  }
}

case class PagedPartition(start: Long, end: Long) extends InputPartition

/** Reader factory for transport-backed pages: instantiates the named
  * [[PageFetcher]] executor-side (top-level class — never captures the
  * Scan, see the DSv2 serialization note) and issues ONE PageRequest
  * per partition with the pushed-down projection and date bounds.
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

class PagedReaderFactory(required: StructType, failFirstAttempt: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagedPartition]
    new PagedReader(p.start, p.end, required, failFirstAttempt)
  }
}

class PagedReader(start: Long, end: Long, required: StructType,
    failFirstAttempt: Boolean = false)
    extends PartitionReader[InternalRow] {
  private var i = start - 1
  // O3 failure injection: throw MID-page (half the rows already emitted)
  // on the task's first attempt only, so a successful query proves the
  // scheduler retried the task and the committer discarded the partial
  // attempt — duplicate-free, identical output.
  private val failAt: Long =
    if (failFirstAttempt &&
        Option(org.apache.spark.TaskContext.get()).exists(_.attemptNumber() == 0))
      (start + end) / 2
    else Long.MinValue
  private val getters: Array[Long => Any] = required.fieldNames.map {
    case "invoice_line_no" => (i: Long) => UTF8String.fromString(PagedSource.invoice(i))
    case "date" => (i: Long) => PagedSource.dateMicros(i)
    case "store" => (i: Long) => UTF8String.fromString(PagedSource.store(i))
    case "sale_dollars" => (i: Long) => PagedSource.saleDollars(i)
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  override def next(): Boolean = {
    i += 1
    if (i == failAt)
      throw new RuntimeException(
        s"graft: injected transient failure at row $i (first attempt)")
    i < end
  }
  override def get(): InternalRow = InternalRow.fromSeq(getters.map(_(i)).toSeq)
  override def close(): Unit = ()
}
