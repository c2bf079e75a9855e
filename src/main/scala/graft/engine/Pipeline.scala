package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline control-plane parity (SURVEY.md §2.1, §2.10): the
  * reference's 3-stage Airflow DAG `extract >> transform >> load`
  * (reference `dags/iowa_liquor_dag.py:74`) as sequential driver calls
  * over distributed jobs.
  *
  * Reference-semantics notes:
  * - Chunked extraction (285 × 50k-row pandas chunks,
  *   reference `src/extract.py:44-57`) dissolves into partition-grained
  *   execution: one Spark task per file split replaces one loop
  *   iteration per chunk. `maxPartitionBytes` plays CHUNK_ROWS' role.
  * - Per-stage idempotent `mode(Overwrite)` directories replace Airflow
  *   task retries (O3, reference `dags/iowa_liquor_dag.py:24-25`):
  *   a re-run of any stage overwrites its own output atomically
  *   (S9 — FileOutputCommitter job commit).
  * - Progress telemetry (O4, reference `src/load.py:61-66`) via
  *   `Observation` row-count metrics on each stage's write job instead
  *   of per-chunk prints.
  */
object Pipeline {

  /** Result of one pipeline run: per-stage row counts (A2). */
  case class RunStats(extracted: Long, cleaned: Long, loaded: Long)

  /** S3/S5 — parquet stage sink: overwrite-mode directory write, the
    * atomic, retry-safe replacement for `chunk_%05d.parquet` naming.
    */
  def writeStage(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dir)

  /** S6 — CSV serialization with the reference's NULL sentinel `\N`
    * and no header (reference `src/load.py:37-38`), the COPY-ready
    * interchange format. It speaks PostgreSQL's COPY CSV, as
    * [[CopySink.encodeField]] does: an embedded quote is doubled (CSV
    * mode has no backslash escape), edge spaces are kept, and an empty
    * string is written `""` to tell it from a null. Known gap, shared
    * with [[CopySink]] and the reference's pandas writer: a literal
    * `\N` string is written unquoted and so reads back as null.
    */
  def writeCsvForCopy(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("nullValue", "\\N")
      .option("emptyValue", "\"\"")
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("header", "false")
      .csv(dir)

  /** Read back COPY-format CSV (inverse of [[writeCsvForCopy]], and
    * the reader of [[CopySink]]'s payloads) given the schema: doubled
    * quotes and quoted embedded newlines parse back to the original
    * field.
    */
  def readCsvForCopy(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("nullValue", "\\N")
      .option("escape", "\"")
      .option("multiLine", "true")
      .option("header", "false")
      .csv(dir)

  /** D2 at the sink — conflict-ignoring append into a parquet "table"
    * directory: dedup the batch ([[Star.firstPerKey]]), anti-join
    * existing keys, append only novel rows. First write creates the
    * table. This is the `ON CONFLICT (pk) DO NOTHING` idempotency story
    * against files. Returns the number of rows appended.
    *
    * One write action: the novel-row count is an `Observation` on the
    * write job itself, so nothing is cached and no count job runs. A
    * zero-novel append still leaves the table as it was (an
    * unconditional append would otherwise leave empty part files behind
    * on every scheduled no-op re-run): when the observed count is 0, a
    * table directory this call created is deleted, and on an existing
    * table the data files missing from the listing taken before the
    * write are deleted. A crash between the write and that cleanup
    * leaves at most one zero-row part file behind, which is harmless:
    * reads see no rows from it, and a later append treats the table as
    * existing.
    */
  def conflictIgnoringAppend(
      spark: SparkSession, batch: DataFrame, dir: String, keys: Seq[String]): Long = {
    // Filesystem-level first-write probe, NOT a spark.read that throws
    // on a missing path: a failed analysis is memoized on its
    // QueryExecution and resurfaces later on the async
    // ExecutionListenerBus as a spurious PATH_NOT_FOUND ERROR per run.
    // "Exists" means at least one COMMITTED data file — a directory
    // holding only _temporary/_SUCCESS debris (a crashed first append)
    // must count as first-write, or every retry would wedge on an
    // unreadable empty table.
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = fs.listStatus(p).iterator.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    val dirExisted = fs.exists(p)
    val before = if (dirExisted) dataFiles() else Set.empty[String]
    val novel =
      if (before.isEmpty) Star.firstPerKey(batch, keys)
      else Star.conflictIgnoreAppend(batch, spark.read.parquet(dir), keys)
    // Append is not atomic with respect to the existence check —
    // single-writer semantics assumed, matching the reference's single
    // loader process (src/load.py runs alone).
    val obs = Observation()
    novel.observe(obs, count(lit(1)).as("rows")).write.mode(SaveMode.Append).parquet(dir)
    val n = obs.get("rows").asInstanceOf[Long]
    if (n == 0) {
      if (!dirExisted) fs.delete(p, true)
      else (dataFiles() -- before).foreach(f => fs.delete(new Path(p, f), false))
    }
    n
  }

  /** O1/O2 — the full extract → transform → load flow over directories
    * (the XCom path-list handoff becomes directory-name convention).
    * `clean` is the caller-supplied transform stage (e.g.
    * `Clean.cleanLineitem`). Returns per-stage counts (A2/O4).
    */
  def run(
      spark: SparkSession,
      source: DataFrame,
      clean: DataFrame => DataFrame,
      rawDir: String, cleanDir: String, tableDir: String,
      keys: Seq[String]): RunStats = {
    // Per-stage row telemetry (A2/O4) rides each stage's OWN write job
    // as Observation metrics — the reference's per-chunk progress prints
    // (src/load.py:61-66) without any extra count jobs or re-scans:
    // the whole pipeline is exactly one write action per stage.

    // extract: source scan → raw parquet (S3)
    val obsExtract = Observation()
    writeStage(source.observe(obsExtract, count(lit(1)).as("rows")), rawDir)
    val nExtracted = obsExtract.get("rows").asInstanceOf[Long]

    // transform: stateless clean, one whole-stage-codegen'd pass (S4/S5)
    val obsClean = Observation()
    writeStage(
      clean(spark.read.parquet(rawDir)).observe(obsClean, count(lit(1)).as("rows")),
      cleanDir)
    val nClean = obsClean.get("rows").asInstanceOf[Long]

    // load: conflict-ignoring keyed append (S7 analog over files)
    val nLoaded = conflictIgnoringAppend(spark, spark.read.parquet(cleanDir), tableDir, keys)
    RunStats(nExtracted, nClean, nLoaded)
  }

  /** S8 — DDL bootstrap: register the parquet table directory in the
    * session catalog so downstream SQL can address it by name
    * (`CREATE TABLE IF NOT EXISTS ... USING parquet LOCATION ...`).
    */
  def registerTable(spark: SparkSession, name: String, dir: String): Unit =
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $name USING parquet LOCATION '$dir'")
}
