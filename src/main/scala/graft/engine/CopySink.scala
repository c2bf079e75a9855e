package graft.engine

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatterBuilder
import java.time.temporal.ChronoField

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Postgres COPY bulk-sink structure (SURVEY.md §2.1 S7): the
  * reference streams each chunk as CSV bytes with `\N` nulls into
  * `COPY … FROM STDIN WITH (FORMAT CSV, NULL '\N')`
  * (reference `src/load.py:37-44`).
  *
  * The Spark-native shape: each PARTITION formats its rows into one
  * COPY-ready byte payload (`copyPayloads`), and a caller-supplied
  * transport streams payloads connection-per-partition (`load`) —
  * exactly where `pgjdbc`'s `CopyManager.copyIn(sql, stream)` plugs in.
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

  /** One (payload, rowCount) pair per non-empty partition — the single
    * encode path both public entry points build on; the count is taken
    * at encode time (a newline count over the bytes would miscount
    * quoted embedded newlines). Timestamps are rendered in the session
    * time zone, as [[Pipeline.writeCsvForCopy]] renders them.
    */
  def payloadsWithCounts(df: DataFrame): Dataset[(Array[Byte], Long)] = {
    val zoneId = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    df.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val zone = ZoneId.of(zoneId)
        val sb = new StringBuilder
        var n = 0L
        rows.foreach { r => sb.append(encodeRow(r, zone)); sb.append('\n'); n += 1 }
        Iterator.single((sb.toString.getBytes(StandardCharsets.UTF_8), n))
      }
    }(Encoders.tuple(Encoders.BINARY, Encoders.scalaLong))
  }

  /** Distributed formatting: one COPY-ready byte payload per partition
    * (the unit `CopyManager.copyIn` consumes as a stream).
    */
  def copyPayloads(df: DataFrame): Dataset[Array[Byte]] =
    payloadsWithCounts(df).map(_._1)(Encoders.BINARY)

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
    * extra job.
    */
  def load(df: DataFrame, table: String,
      factory: () => CopyTransport): Long = {
    val stmt = copyStatement(df, table)
    val rows = df.sparkSession.sparkContext.longAccumulator("copy_rows")
    payloadsWithCounts(df).foreachPartition { (it: Iterator[(Array[Byte], Long)]) =>
      if (it.nonEmpty) {
        val t = factory()
        t.open()
        try it.foreach { case (p, n) =>
          t.copyIn(stmt, p)
          rows.add(n)
        } finally t.close()
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
