package graft.engine

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatterBuilder
import java.time.temporal.ChronoField
import java.util.Arrays

import scala.annotation.switch

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Postgres COPY bulk-sink structure (SURVEY.md §2.1 S7): the
  * reference streams each chunk as CSV bytes with `\N` nulls into
  * `COPY … FROM STDIN WITH (FORMAT CSV, NULL '\N')`
  * (reference `src/load.py:37-44`).
  *
  * The Spark-native shape: each PARTITION formats its rows into one
  * COPY-ready byte payload (`payloadsWithCounts`), straight from
  * Spark's binary rows with no `Row` per record, and a
  * caller-supplied transport streams payloads connection-per-partition
  * (`load`) — exactly where `pgjdbc`'s `CopyManager.copyIn(sql,
  * stream)` plugs in. [[encodeRow]] is the row-at-a-time form of the
  * same bytes.
  * No database or pg driver exists in this environment, so the
  * transport is caller-supplied; the wire FORMAT — the verifiable
  * part — is implemented and spec-checked byte-for-byte.
  */
object CopySink {

  /** RFC-4180-style field encoding with the COPY CSV NULL sentinel:
    * null → `\N` (unquoted — that's what distinguishes it from the
    * literal string), fields containing delimiter/quote/newline are
    * double-quoted with internal quotes doubled (matching pandas
    * `to_csv` as used by the reference). An empty string is written
    * `""`, as [[Pipeline.writeCsvForCopy]] does: PostgreSQL loads an
    * unquoted empty field as `""` too, but Spark's CSV reader reads it
    * as null, so the quoted form is the one both agree on (pandas
    * writes it unquoted — the bytes differ, the loaded table does not).
    */
  def encodeField(v: Any): String = v match {
    case null => "\\N"
    case "" => "\"\""
    case s: String
        if s.contains(",") || s.contains("\"") || s.contains("\n") || s.contains("\r") =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case other => other.toString
  }

  /** One row → one CSV line (no header, matching `src/load.py:38`). A
    * timestamp is written as its wall-clock time in `zone`.
    */
  def encodeRow(row: Row, zone: ZoneId): String =
    (0 until row.length).map { i =>
      row.get(i) match {
        case ts: Timestamp => wallClock.format(LocalDateTime.ofInstant(
          DateTimeUtils.microsToInstant(DateTimeUtils.fromJavaTimestamp(ts)), zone))
        case v => encodeField(v)
      }
    }.mkString(",")

  /** `Timestamp.toString`'s `yyyy-MM-dd HH:mm:ss.f…` layout (a fraction
    * of 1–9 digits, `.0` for a whole second), with no time zone of its
    * own: `Timestamp.toString` renders in the JVM's default zone.
    */
  private val wallClock = new DateTimeFormatterBuilder()
    .appendPattern("uuuu-MM-dd HH:mm:ss")
    .appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, true)
    .toFormatter

  /** One (payload, rowCount) pair per non-empty partition, in the unit
    * `CopyManager.copyIn` consumes as a stream — the single encode path
    * [[load]] (and through it [[loadAtomic]]) builds on. The count is
    * taken at encode time (a newline count over the bytes would
    * miscount quoted embedded newlines). Timestamps are rendered in
    * the session time zone, as [[Pipeline.writeCsvForCopy]] renders
    * them.
    *
    * The payload is encoded from Spark's binary rows (the
    * `queryExecution.toRdd` that `Dataset.rdd` builds on, without its
    * per-row conversion to `Row`) into one growable UTF-8 buffer per
    * partition. Its bytes are [[encodeRow]]'s over the same rows:
    *  - a string's UTF-8 bytes are copied as stored; one scan over them
    *    for `,` `"` `\n` `\r` decides the quoting, exact because an
    *    ASCII byte never occurs inside a multi-byte sequence (a string
    *    that is not valid UTF-8 takes the `String` path, which
    *    replaces its malformed sequences as `encodeRow` does);
    *  - ints and longs are written as their digits, decimals by
    *    `Decimal.toJavaBigDecimal.toString` (the external value's
    *    `toString`), and timestamps from their micros in the session
    *    zone by [[encodeRow]]'s formatter;
    *  - every other type is converted to its external value and written
    *    by [[encodeField]].
    */
  def payloadsWithCounts(df: DataFrame): RDD[(Array[Byte], Long)] = {
    val conf = df.sparkSession.sessionState.conf
    val zoneId = conf.sessionLocalTimeZone
    val types = df.schema.fields.map(_.dataType)
    // with the java.time API on, a timestamp's external value is an
    // Instant, which encodeRow writes by toString: the fallback's case
    val kinds = types.map {
      case _: StringType => KString
      case IntegerType => KInt
      case LongType => KLong
      case _: DecimalType => KDecimal
      case TimestampType if !conf.datetimeJava8ApiEnabled => KTimestamp
      case _ => KOther
    }
    val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
    df.queryExecution.toRdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val zone = ZoneId.of(zoneId)
        val out = new Utf8Buffer
        var n = 0L
        while (rows.hasNext) {
          val r = rows.next()
          var i = 0
          while (i < kinds.length) {
            if (i > 0) out.put(',')
            if (r.isNullAt(i)) out.putAscii("\\N")
            else (kinds(i): @switch) match {
              case KString => out.putField(r.getUTF8String(i))
              case KInt => out.putLong(r.getInt(i).toLong)
              case KLong => out.putLong(r.getLong(i))
              case KDecimal =>
                val t = types(i).asInstanceOf[DecimalType]
                out.putAscii(r.getDecimal(i, t.precision, t.scale).toJavaBigDecimal.toString)
              case KTimestamp => out.putAscii(wallClock.format(
                LocalDateTime.ofInstant(DateTimeUtils.microsToInstant(r.getLong(i)), zone)))
              case _ => out.putString(encodeField(toScala(i)(r.get(i, types(i)))))
            }
            i += 1
          }
          out.put('\n')
          n += 1
        }
        Iterator.single((out.toByteArray, n))
      }
    }
  }

  // the column kinds payloadsWithCounts writes without a Row
  private final val KString = 0
  private final val KInt = 1
  private final val KLong = 2
  private final val KDecimal = 3
  private final val KTimestamp = 4
  private final val KOther = 5

  /** A growable byte buffer of COPY CSV text. */
  private final class Utf8Buffer {
    private var buf = new Array[Byte](1 << 16)
    private var len = 0

    private def ensure(n: Int): Unit =
      if (buf.length - len < n)
        buf = Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

    def put(c: Char): Unit = { ensure(1); buf(len) = c.toByte; len += 1 }

    /** `s` must be ASCII, as numbers and formatted timestamps are. */
    def putAscii(s: String): Unit = {
      val n = s.length
      ensure(n)
      var i = 0
      while (i < n) { buf(len + i) = s.charAt(i).toByte; i += 1 }
      len += n
    }

    def putString(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      ensure(b.length)
      System.arraycopy(b, 0, buf, len, b.length)
      len += b.length
    }

    def putLong(v: Long): Unit =
      if (v == Long.MinValue) putAscii(v.toString)
      else {
        var x = math.abs(v)
        var digits = 1
        var t = x
        while (t >= 10) { digits += 1; t /= 10 }
        val end = len + digits + (if (v < 0) 1 else 0)
        ensure(end - len)
        if (v < 0) buf(len) = '-'
        var p = end
        while (digits > 0) { p -= 1; buf(p) = ('0' + x % 10).toByte; x /= 10; digits -= 1 }
        len = end
      }

    /** [[encodeField]] of a non-null string, from its UTF-8 bytes. */
    def putField(s: UTF8String): Unit = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes
      var quote = n == 0
      var ascii = true
      var i = 0
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if (b == ',' || b == '"' || b == '\n' || b == '\r') quote = true
        else if (b < 0) ascii = false
        i += 1
      }
      if (!ascii && !s.isValid) putString(encodeField(s.toString))
      else if (!quote) {
        ensure(n)
        Platform.copyMemory(base, off, buf, Platform.BYTE_ARRAY_OFFSET + len, n)
        len += n
      } else {
        ensure(2 * n + 2)
        buf(len) = '"'
        len += 1
        i = 0
        while (i < n) {
          val b = Platform.getByte(base, off + i)
          if (b == '"') { buf(len) = b; len += 1 }
          buf(len) = b
          len += 1
          i += 1
        }
        buf(len) = '"'
        len += 1
      }
    }

    def toByteArray: Array[Byte] = Arrays.copyOf(buf, len)
  }

  /** The COPY statement the payloads pair with — column list from the
    * DataFrame, like the reference enumerates chunk columns
    * (`src/load.py:41`).
    */
  def copyStatement(df: DataFrame, table: String): String =
    s"""COPY $table (${df.columns.mkString(", ")}) FROM STDIN WITH (FORMAT CSV, NULL '\\N')"""

  /** Caller-supplied COPY transport with the full connection lifecycle
    * pgjdbc's CopyManager expects: one transport per PARTITION
    * (`open → copyIn × payloads → close`), created executor-side by the
    * serializable `factory`. A pgjdbc-backed implementation is
    * `conn = DriverManager.getConnection(url)` in `open`,
    * `new CopyManager(conn).copyIn(stmt, new ByteArrayInputStream(p))`
    * in `copyIn`, `conn.close()` in `close` — no engine change needed.
    * A transport failure fails the task; Spark's retry re-runs the
    * whole partition, so `copyIn` should ride one transaction per
    * partition (what COPY FROM STDIN gives naturally). Per-partition
    * transactions mean a mid-load failure of [[load]] can leave SOME
    * partitions visible — when the reference's whole-load-one-commit
    * semantics matter, use [[loadAtomic]], which stages invisibly and
    * swaps in one transaction.
    */
  trait CopyTransport {
    def open(): Unit = ()
    def copyIn(statement: String, payload: Array[Byte]): Unit
    def close(): Unit = ()

    /** Driver-side SQL execution — the atomic-load protocol's stage
      * DDL and swap statements ride the same transport seam as the
      * COPY payloads ([[loadAtomic]]). Default THROWS rather than
      * no-ops: a transport built for plain [[load]] need not support
      * it, but the atomic protocol must fail loudly before its commit
      * step, never skip it silently. pgjdbc implementation:
      * `conn.createStatement().execute(sql)` (a multi-statement
      * string with explicit BEGIN/COMMIT runs as one transaction).
      */
    def execute(statement: String): Unit =
      throw new UnsupportedOperationException(
        "this CopyTransport does not implement execute(sql) — " +
          "loadAtomic's stage DDL and swap require it")
  }

  /** S7 end-to-end: format + transport. Returns rows loaded — no
    * extra job: the payloads' one job runs inside one SQL execution,
    * as `Dataset.foreachPartition` runs it.
    */
  def load(df: DataFrame, table: String,
      factory: () => CopyTransport): Long = {
    val stmt = copyStatement(df, table)
    val rows = df.sparkSession.sparkContext.longAccumulator("copy_rows")
    SQLExecution.withNewExecutionId(df.queryExecution, Some("foreachPartition")) {
      payloadsWithCounts(df).foreachPartition { it =>
        if (it.nonEmpty) {
          val t = factory()
          t.open()
          try it.foreach { case (p, n) =>
            t.copyIn(stmt, p)
            rows.add(n)
          } finally t.close()
        }
      }
    }
    rows.value
  }

  /** How [[loadAtomic]] makes the staged rows visible. */
  sealed trait SwapMode
  /** `INSERT … SELECT` the stage into the live table — the
    * reference's append-load semantics (`src/load.py:64` commits the
    * whole load once).
    */
  case object AppendSwap extends SwapMode
  /** Rename the stage OVER the live table — full replace; the old
    * table is renamed aside and dropped inside the same transaction.
    */
  case object ReplaceSwap extends SwapMode

  /** The stage relation [[loadAtomic]] COPYs into — reader-invisible
    * by convention (nothing queries `__stage_` names), deterministic
    * per caller token so a replay reclaims its own dead stage.
    */
  def stageTableName(table: String, token: String): String =
    s"${table}__stage_$token"

  /** SINGLE-COMMIT atomic load — S9 parity with the reference, which
    * COPYs every chunk and then commits ONCE for the whole load
    * (`src/load.py:64`), so readers never observe a partial load.
    * [[load]] alone is weaker: one transaction per partition, so a
    * mid-load failure leaves some partitions' rows visible.
    *
    * Protocol (every SQL step rides the caller's [[CopyTransport]]):
    *   1. driver: `DROP TABLE IF EXISTS <stage>; CREATE TABLE <stage>
    *      (LIKE <table> INCLUDING DEFAULTS);` — one execute; the DROP
    *      makes a same-token replay reclaim its own dead stage.
    *   2. executors: [[load]] into the stage — partition-parallel
    *      COPY, the fast path (unindexed stage, per-partition
    *      transactions are FINE here because the stage is invisible;
    *      a task failure retries into the same invisible stage only
    *      via a full re-run after step 1's DROP, never double-counts
    *      in the live table).
    *   3. driver: ONE swap statement wrapped in an explicit
    *      `BEGIN; …; COMMIT;` — [[AppendSwap]] `INSERT … SELECT`s the
    *      stage in and drops it; [[ReplaceSwap]] renames the live
    *      table aside, renames the stage in, and drops the old —
    *      PostgreSQL DDL is transactional, so the swap is
    *      all-or-nothing and readers see the pre-load or post-load
    *      relation, never between.
    *
    * Crash story: a failure in steps 1–2 (or between 2 and 3) leaves
    * only the invisible stage — the live table is untouched and a
    * replay with the same token starts clean at step 1; a failure
    * INSIDE step 3 rolls the single transaction back to the pre-load
    * state. Orphaned stages from abandoned tokens are `DROP TABLE`
    * garbage for the operator (they match `<table>__stage_%`).
    *
    * Identifiers are interpolated, not quoted — `table` and `token`
    * are caller-trusted (the [[copyStatement]] convention); `token`
    * must be `[A-Za-z0-9_]` to form a valid relation name. Returns
    * rows loaded, counted at encode time.
    */
  def loadAtomic(df: DataFrame, table: String,
      factory: () => CopyTransport, mode: SwapMode = AppendSwap,
      token: String =
        java.util.UUID.randomUUID().toString.replace("-", "")): Long = {
    val stage = stageTableName(table, token)
    def onDriver(sql: String): Unit = {
      val t = factory()
      t.open()
      try t.execute(sql) finally t.close()
    }
    onDriver(s"DROP TABLE IF EXISTS $stage; " +
      s"CREATE TABLE $stage (LIKE $table INCLUDING DEFAULTS);")
    val n = load(df, stage, factory)
    val cols = df.columns.mkString(", ")
    val old = s"${table}__old_$token"
    onDriver(mode match {
      case AppendSwap =>
        s"BEGIN; INSERT INTO $table ($cols) SELECT $cols FROM $stage; " +
          s"DROP TABLE $stage; COMMIT;"
      case ReplaceSwap =>
        s"BEGIN; DROP TABLE IF EXISTS $old; " +
          s"ALTER TABLE $table RENAME TO $old; " +
          s"ALTER TABLE $stage RENAME TO $table; " +
          s"DROP TABLE $old; COMMIT;"
    })
    n
  }
}
