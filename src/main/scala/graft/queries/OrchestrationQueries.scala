package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Clean, Pipeline, Tables}

/** End-to-end pipeline / sink / orchestration queries — the §2 operators
  * that previously only had ScalaTest coverage (S3/S5/S6/S8/S9, F10,
  * O1/O2/O4, A2) now observable by the driver's oracle compare.
  *
  * Both queries are side-effecting by design (they run the actual
  * staged pipeline against a fresh temp directory per invocation, the
  * way the reference DAG runs `extract >> transform >> load` per
  * schedule tick — reference `dags/iowa_liquor_dag.py:74`), and both
  * reduce to a single row of counts/sums that a DuckDB oracle computes
  * directly from the source table — so the *whole* write→read→load
  * path is hash-verified, not just rows>0. All distributed work
  * completes inside the query function (the returned frame is local),
  * so each invocation deletes its temp directory before returning —
  * repeated bench/verify rounds leak no disk.
  */
object OrchestrationQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Drain async query-execution listeners, then delete: the listener
    * bus resolves written paths asynchronously, so deleting first logs
    * a spurious PATH_NOT_FOUND ERROR on every bench/test run.
    */
  private def drainAndDelete(s: SparkSession, root: Path): Unit = {
    org.apache.spark.graft.ListenerDrain.drain(s)
    graft.engine.FsUtil.deleteRecursively(root)
  }

  /** Shared three-arm contract core of the delete rows (q141/q144 —
    * r11 review finding: the twins carried diverging copies of this
    * ~35-line block). PRECONDITION: the index at `idx` holds the full
    * embedding corpus `e` with ids `% 4 == 0` already tombstoned
    * (however the caller got them there — direct delete or streamed
    * takedown). The core then: searches the tombstoned tree
    * (materialized BEFORE compaction mutates what it reads), compacts
    * (the physical purge), searches again, builds the
    * rebuild(remaining) reference arm under the caller's frozen
    * centroids, and returns the per-query three-way agreement frame
    * (query_id, n_results, n_agree, n_doomed) plus the tombstone
    * counts read before/after the purge.
    */
  private def deleteContractCore(s: SparkSession, e: DataFrame, idx: String,
      ref: String, cents: Seq[Seq[Double]]): (DataFrame, Long, Long) = {
    import graft.ops.AnnIndex
    val tombBefore = AnnIndex.tombstonedCount(s, idx)
    val q = e.where(col("vec_id") < 10) // deleted ids may still query
    val before = AnnIndex.searchIvfIndex(s, idx, q,
      "vec_id", "embedding", k = 5, nProbe = 2).localCheckpoint(true)
    AnnIndex.compactIvfIndex(s, idx)
    val tombAfter = AnnIndex.tombstonedCount(s, idx)
    val purged = AnnIndex.searchIvfIndex(s, idx, q,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").as("rank2"), col("cosine").as("cos2"))
    AnnIndex.buildIvfIndex(e.where(col("vec_id") % 4 =!= 0), "vec_id",
      "embedding", ref, nCells = cents.length, centroids = Some(cents))
    val rebuilt = AnnIndex.searchIvfIndex(s, ref, q,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").as("rank3"), col("cosine").as("cos3"))
    val agg = before
      .join(purged, Seq("query_id", "neighbor_id"), "full_outer")
      .join(rebuilt, Seq("query_id", "neighbor_id"), "full_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_results"),
        sum(when(col("rank") === col("rank2") &&
          col("cosine") === col("cos2") &&
          col("rank") === col("rank3") &&
          col("cosine") === col("cos3"), 1L).otherwise(0L)).as("n_agree"),
        max(when(col("neighbor_id") % 4 === 0, 1L).otherwise(0L))
          .as("n_doomed"))
    (agg, tombBefore, tombAfter)
  }

  val queries: Map[String, Q] = Map(
    // O1/O2/O4 + S3/S5/S8/S9/A2 + D2-at-the-sink: the full 3-stage run,
    // executed TWICE over the same directories to prove idempotent
    // re-run semantics (overwrite stages + conflict-ignoring load ⇒ the
    // second run extracts/cleans the same counts but loads 0 novel
    // rows — the reference's Airflow retry story, dag.py:24-25).
    "q64_pipeline_run" -> { (s, dir) =>
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_q64_")
      try {
        val keys = Seq("l_orderkey", "l_linenumber")
        // fan the one-row-group fixture scan out to cluster width so the
        // raw stage writes in parallel — downstream stages then inherit
        // the multi-file layout and parallelize for free (the reference's
        // CHUNK_ROWS re-chunking, done once at extract)
        def once() = Pipeline.run(s, Tables.fanOut(s, Tables.lineitem(s, dir)),
          Clean.cleanLineitem,
          s"$tmp/raw", s"$tmp/clean", s"$tmp/table", keys)
        val first = once()
        val rerun = once()
        // S8 — catalog bootstrap over the loaded table, then count through
        // the catalog name (unique per invocation; dropped after use).
        val tbl = "t" + tmp.toString.replaceAll("[^A-Za-z0-9]", "_")
        Pipeline.registerTable(s, tbl, s"$tmp/table")
        val tableRows = try s.table(tbl).count()
        finally s.sql(s"DROP TABLE IF EXISTS $tbl")
        Seq((first.extracted, first.cleaned, first.loaded, rerun.loaded, tableRows))
          .toDF("extracted", "cleaned", "loaded_first", "loaded_rerun", "table_rows")
      } finally drainAndDelete(s, tmp)
    },

    // The real Iowa star schema, driver-checked end to end: a
    // deterministic 24-column raw feed (every value a pure SQL function
    // of lineitem, with malformed dates/numerics injected on fixed key
    // residues) goes through the ACTUAL reference path — IowaStar.clean
    // (F1 null-on-error dates, F2 zero-fill numerics) → the five named
    // dims → fact_sales → fkAudit — and reduces to counts + a decimal
    // revenue sum the DuckDB oracle computes directly from lineitem.
    "q72_iowa_star" -> { (s, dir) =>
      import s.implicits._
      import graft.engine.IowaStar
      def str(c: org.apache.spark.sql.Column) = c.cast("string")
      val store = str(col("l_suppkey") % 200)
      val itemno = str(col("l_partkey") % 500)
      val vendor = str(col("l_suppkey") % 100)
      val category = str(col("l_partkey") % 50)
      // the fixture is one row group ⇒ one task; fan out BEFORE the
      // 24-column string-building projection so the CPU-heavy feed
      // construction parallelizes across the cluster (invariant 7:
      // fanOut pays off exactly for projection-bound pipelines)
      val raw = Tables.fanOut(s, Tables.lineitem(s, dir)).select(
        concat_ws("-", lit("INV"), col("l_orderkey"), col("l_linenumber"))
          .as("invoice_line_no"),
        when(col("l_orderkey") % 97 === 0, lit("bad-date"))
          .otherwise(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("date"),
        store.as("store"),
        concat(lit("Store "), store).as("name"),
        concat(store, lit(" Main St")).as("address"),
        concat(lit("City "), str(col("l_suppkey") % 20)).as("city"),
        str(col("l_suppkey") % 200 + 50000).as("zipcode"),
        concat(lit("POINT("), store, lit(" "), store, lit(")")).as("store_location"),
        str(col("l_suppkey") % 10).as("county_number"),
        concat(lit("County "), str(col("l_suppkey") % 10)).as("county"),
        category.as("category"),
        concat(lit("Cat "), category).as("category_name"),
        vendor.as("vendor_no"),
        concat(lit("Vendor "), vendor).as("vendor_name"),
        itemno.as("itemno"),
        concat(lit("Item "), itemno).as("im_desc"),
        when(col("l_orderkey") % 89 === 0, lit("NaN"))
          .otherwise(str(col("l_partkey") % 12 + 1)).as("pack"),
        str(col("l_partkey") % 10 * 50 + 500).as("bottle_volume_ml"),
        concat(str(col("l_partkey") % 30 + 5), lit(".25")).as("state_bottle_cost"),
        concat(str(col("l_partkey") % 30 + 8), lit(".75")).as("state_bottle_retail"),
        when(col("l_orderkey") % 101 === 0, lit("oops"))
          .otherwise(str(col("l_quantity").cast("long"))).as("sale_bottles"),
        concat(str(floor(col("l_extendedprice")).cast("long")), lit(".50"))
          .as("sale_dollars"),
        concat(str(col("l_partkey") % 20), lit(".250")).as("sale_liters"),
        concat(str(col("l_partkey") % 5), lit(".125")).as("sale_gallons"))
      val base = IowaStar.clean(raw).persist()
      try {
        val dimStore = IowaStar.dimStore(base)
        val dimDate = IowaStar.dimDate(base)
        val dimItem = IowaStar.dimItem(base)
        val dimVendor = IowaStar.dimVendor(base)
        val dimCategory = IowaStar.dimCategory(base)
        val fact = IowaStar.factSales(base)
        // n_loaded as distinct→count inside the same union — a mixed
        // countDistinct + sum aggregate plans through Expand (×2 rows),
        // the same pathology measured on q35
        val labelled =
          Seq("n_dim_store" -> dimStore, "n_dim_date" -> dimDate,
            "n_dim_item" -> dimItem, "n_dim_vendor" -> dimVendor,
            "n_dim_category" -> dimCategory,
            "n_loaded" -> fact.select("invoice_line_no").distinct())
            .map { case (k, d) =>
              d.agg(count(lit(1)).as("n")).select(lit(k).as("k"), col("n"))
            }
        val counts = labelled.reduce(_ unionByName _).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        // the FK total from fkAudit's one-scan action; five
        // Star.fkViolations frames folded into the union instead cost
        // more jobs (sf0.01, local[4]: 48 vs 35)
        val fk = IowaStar.fkAudit(fact, dimStore, dimDate, dimItem, dimVendor,
          dimCategory).values.sum
        val r = fact.agg(
          count(lit(1)).as("n_fact"),
          sum(col("sale_dollars")).cast("double").as("revenue")).head()
        Seq((counts("n_dim_store"), counts("n_dim_date"), counts("n_dim_item"),
          counts("n_dim_vendor"), counts("n_dim_category"),
          r.getLong(0), counts("n_loaded"), fk, r.getDouble(1)))
          .toDF("n_dim_store", "n_dim_date", "n_dim_item", "n_dim_vendor",
            "n_dim_category", "n_fact", "n_loaded", "fk_violations", "revenue")
      } finally base.unpersist()
    },

    // S6/F10 — COPY-format CSV round-trip: inject NULLs (→ `\N`) and
    // empty strings (→ `""`, which must stay DISTINCT from NULL through
    // the file format — reference `src/load.py:37-38`), write, read
    // back with the schema, and aggregate. Money goes through
    // decimal(18,2) so the text round-trip and the sum are exact.
    // The aggregate is materialized EAGERLY so the CSV directory can be
    // deleted before returning.
    "q65_csv_null_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_q65_")
      try {
        val src = Tables.customer(s, dir).select(
          col("c_custkey"),
          when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("c_name")).as("name"),
          when(col("c_custkey") % 11 === 0, lit(""))
            .otherwise(col("c_mktsegment")).as("seg"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"))
        Pipeline.writeCsvForCopy(src, tmp.toString)
        val schema = StructType(Seq(
          StructField("c_custkey", LongType), StructField("name", StringType),
          StructField("seg", StringType), StructField("bal", DecimalType(18, 2))))
        val r = Pipeline.readCsvForCopy(s, tmp.toString, schema).agg(
          count(lit(1)).as("n_rows"),
          count(col("name")).as("n_name"),
          sum(when(col("seg") === "", 1L).otherwise(0L)).as("n_empty_seg"),
          count(col("seg")).as("n_seg"),
          sum(col("c_custkey")).as("key_sum"),
          sum(col("bal")).cast("double").as("bal_sum")).head()
        Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
          .toDF("n_rows", "n_name", "n_empty_seg", "n_seg", "key_sum", "bal_sum")
      } finally drainAndDelete(s, tmp)
    },

    // Compressed-JSONL ingest round-trip — the container web-scale LLM
    // corpora actually arrive in (.jsonl.gz). documents writes out as
    // gzip JSON-lines, SEVEN deterministic malformed lines are planted
    // in a sidecar file, and the read-back uses an explicit schema in
    // PERMISSIVE mode with a corrupt-record column: every malformed
    // line lands in quarantine (never a stage kill, never a silent
    // drop), every well-formed row round-trips value-exactly. The
    // oracle recomputes the surviving aggregate from the source table
    // plus the planted constants — a field lost or corrupted anywhere
    // in write→compress→decompress→parse hash-mismatches.
    "q135_jsonl_ingest" -> { (s, dir) =>
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_q135_")
      try {
        Tables.documents(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"),
            col("text"), col("lang"), col("source"))
          .write.option("compression", "gzip").json(s"$tmp/jsonl")
        // planted corruption covers distinct malformation classes —
        // truncated object, bare non-JSON token, unbalanced nesting
        // (note its doc_id PARTIALLY parses; the corrupt-record gate is
        // what keeps it out of key_sum), top-level array, unquoted key,
        // missing value — so the quarantine path is exercised beyond
        // one parser error shape. (Probed and rejected as plants:
        // Spark's line parser ACCEPTS trailing garbage after a
        // complete object — `{"a":1} junk` parses VALID.)
        val bad = Seq(
          """{"doc_id": 1, "text": "unterminated""",
          "this line is not json at all",
          "neither : is , this",
          """{"doc_id": 3, "text": ["wrong", {"nesting": }""",
          "[1, 2, 3]",
          "{bad_key: 1}",
          """{"doc_id": }""")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$tmp/jsonl/part-corrupt.json"),
          bad.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("_corrupt_record", StringType)))
        val back = s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(s"$tmp/jsonl")
        val r = back.agg(
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
            .as("n_rows"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull, col("doc_id")))
            .as("key_sum"),
          sum(when(col("_corrupt_record").isNull, length(col("text"))
            .cast("long"))).as("text_len_sum")).head()
        // lang.isNotNull matches the oracle's COUNT(DISTINCT lang)
        // null semantics STRUCTURALLY (a null lang must not count as
        // its own language) — today's fixture carries no null langs,
        // so without the filter the row would pass with a latent
        // off-by-one (r10 ADVICE finding)
        val nLang = back.where(col("_corrupt_record").isNull &&
            col("lang").isNotNull)
          .select("lang").distinct().count()
        Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), nLang))
          .toDF("n_rows", "n_corrupt", "key_sum", "text_len_sum", "n_langs")
      } finally drainAndDelete(s, tmp)
    },

    // Z-order layout, driver-checked: lineitem written twice — Morton-
    // clustered on (l_partkey, l_suppkey) vs range-sorted on l_partkey
    // alone — then probed with a SUPPKEY-only predicate. The linear
    // layout must touch (almost) every file (suppkey scattered); the z
    // layout must skip at least half. Row counts round-trip exactly
    // (oracle-computable); the pruning contract is recomputed in-query
    // from the actual part files.
    "q116_zorder_layout" -> { (s, dir) =>
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_q116_")
      try {
        // deterministic quarter of the fact — the layout contract
        // needs a representative slice, not the full write cost
        val li = Tables.lineitem(s, dir)
          .where(col("l_orderkey") % 4 === 0)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        graft.ops.ZOrder.zorderByN(li, Seq("l_partkey", "l_suppkey"),
            numFiles = 16, bitsPer = 12)
          .write.mode("overwrite").parquet(s"$tmp/z")
        li.repartitionByRange(16, col("l_partkey"))
          .sortWithinPartitions("l_partkey")
          .write.mode("overwrite").parquet(s"$tmp/linear")
        // scale-adaptive band: the lowest ~10% of the suppkey domain,
        // never empty at any fixture scale (oracle mirrors the bound)
        val hiSupp = math.max(1L,
          li.agg(max(col("l_suppkey").cast("long"))).head().getLong(0) / 10L)
        val pred = col("l_suppkey").between(1L, hiSupp)
        // one job per layout: files contributing matching rows,
        // counted via input_file_name (NOT one limit(1) job per file).
        // Part files listed through the Hadoop FileSystem API (the
        // Replay.scala convention), so the probe runs unchanged on
        // HDFS/S3 — java.io.File would return null there.
        def filesTouched(d: String): (Long, Long) = {
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          val total = fs.listStatus(p)
            .count(st => st.getPath.getName.startsWith("part-") &&
              st.getPath.getName.endsWith(".parquet")).toLong
          val touched = s.read.parquet(d).where(pred)
            .select(input_file_name().as("__f"))
            .distinct().count()
          (touched, total)
        }
        val (zT, zTot) = filesTouched(s"$tmp/z")
        val (lT, lTot) = filesTouched(s"$tmp/linear")
        val rd = s.read.parquet(s"$tmp/z")
        val nBox = rd.where(pred).count()
        val total = rd.count()
        // Contract thresholds DERIVED from measured selectivity, not
        // fixture-tuned constants. sel = band fraction of rows.
        // Linear files each hold ~total/lTot rows with suppkey
        // scattered, so P(file misses the band) = (1-sel)^rowsPerFile;
        // allow that many expected misses beyond the usual ±1. A 2-dim
        // z-curve confines a 1-dim band to ~√sel of the curve, so a
        // WORKING z layout touches ≲ 2·√sel·zTot files (2× theory
        // margin) while a broken one touches ~all — the bound never
        // tightens past the historical zTot/2 floor nor saturates at
        // zTot (so the contract stays falsifiable at every scale).
        val sel = nBox.toDouble / math.max(1L, total).toDouble
        val expLinMiss = math.round(
          lTot * math.pow(1.0 - sel, total.toDouble / math.max(1L, lTot)))
        val zBound = math.max(zTot / 2,
          math.min(zTot - 1, math.ceil(2.0 * zTot * math.sqrt(sel)).toLong))
        Seq((nBox, total,
          lT >= lTot - 1 - expLinMiss, // linear cannot skip suppkey files
          zT <= zBound,                // z layout must prune to ~2√sel
          zT < lT))
          .toDF("n_box_rows", "n_total_rows",
            "linear_scans_all", "zorder_prunes_half", "zorder_beats_linear")
      } finally drainAndDelete(s, tmp)
    },

    // Persisted IVF index (the ANN stored-ingest shape): build over
    // the embeddings table → hive-partitioned inverted lists + stored
    // centroids → RELOAD and search from disk. Contract row: the
    // stored-index search is IDENTICAL result-for-result (ids, ranks,
    // exact cosines) to the in-plan ivfTopK under the same centroids,
    // and a single-query probe's postings scan touches only its
    // probed cells' partition directories (partition pruning IS the
    // inverted-list seek).
    "q126_ann_index_persist" -> { (s, dir) =>
      import graft.ops.{AnnIndex, Similarity}
      val tmp = Files.createTempDirectory("graft_q126_")
      try {
        val e = Tables.embeddings(s, dir)
        val cents = AnnIndex.buildIvfIndex(e, "vec_id", "embedding",
          s"$tmp/ivf", nCells = 8, iters = 3)
        val q = e.where(col("vec_id") < 10)
        val fromIdx = AnnIndex.searchIvfIndex(s, s"$tmp/ivf", q,
          "vec_id", "embedding", k = 5, nProbe = 2)
        val inPlan = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 5,
            nCells = 8, iters = 3, nProbe = 2, centroids = Some(cents))
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank2"), col("cosine").as("cos2"))
        val agree = fromIdx
          .join(inPlan, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_results"),
            sum(when(col("rank") === col("rank2") &&
              col("cosine") === col("cos2"), 1L).otherwise(0L)).as("n_agree"))
        // pruning contract from a single-query probe: its ≤ 2 probed
        // cell directories vs all non-empty cells (q116's one-job
        // input_file_name pattern; the OR-arm keeps the contract
        // meaningful if training ever collapses to ≤ nProbe cells)
        val scanPruned = {
          val cs = AnnIndex.loadCentroids(s, s"$tmp/ivf")
          val cells = Similarity.ivfAssignProbes(
              e.where(col("vec_id") === 0), "embedding", cs, 2)
            .select(col("cell").cast("int")).distinct()
            .collect().map(_.getInt(0))
          val post = s.read.parquet(s"$tmp/ivf/postings.parquet")
          val touched = post
            .where(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
            .select(input_file_name()).distinct().count()
          val total = post.select(input_file_name()).distinct().count()
          val nonEmpty = post.select("cell").distinct().count()
          touched < total || nonEmpty <= 2
        }
        // quantized-arm plumbing contract: with a shortlist sized to
        // hold EVERY candidate (rf from the true corpus cardinality —
        // scale-robust by construction), the int8-scored path must
        // re-rank to the IDENTICAL result set as the exact arm
        val rf = math.max(1L, e.count() / 5L + 1L).toInt
        val quant = graft.ops.AnnIndex.searchIvfIndexQuantized(
            s, s"$tmp/ivf", q, "vec_id", "embedding", k = 5, nProbe = 2,
            rerankFactor = rf)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank3"), col("cosine").as("cos3"))
        val qagree = fromIdx
          .join(quant, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("qn"),
            sum(when(col("rank") === col("rank3") &&
              col("cosine") === col("cos3"), 1L).otherwise(0L)).as("qa"))
          .select(col("query_id"),
            (col("qn") === 5L && col("qa") === 5L).as("quant_match"))
        agree.select(col("query_id"),
            (col("n_results") === 5L && col("n_agree") === 5L).as("results_match"),
            lit(scanPruned).as("scan_pruned"))
          .join(qagree, Seq("query_id"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // Incremental append to the persisted IVF index (the hourly-ingest
    // path between nightly retrains): the base corpus builds the index
    // and trains the coarse quantizer; the delta appends against the
    // STORED centroids into its own postings generation. Contract row:
    // build(A) + append(B) search is IDENTICAL result-for-result (ids,
    // ranks, exact cosines) to rebuild(A++B) under the same stored
    // quantizer, and the per-generation _meta counts read back as the
    // EXACT base/delta cardinalities (the drift-trigger artifact —
    // write+read fidelity inside the oracle row, the q124 pattern).
    "q132_ann_index_append" -> { (s, dir) =>
      import graft.ops.AnnIndex
      val tmp = Files.createTempDirectory("graft_q132_")
      try {
        val e = Tables.embeddings(s, dir)
        val a = e.where(col("vec_id") % 3 =!= 0) // base ingest
        val b = e.where(col("vec_id") % 3 === 0) // hourly delta
        val cents = AnnIndex.buildIvfIndex(a, "vec_id", "embedding",
          s"$tmp/inc", nCells = 8, iters = 3)
        AnnIndex.appendToIvfIndex(s, s"$tmp/inc", b, "vec_id", "embedding",
          gen = 1L)
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$tmp/full",
          nCells = 8, centroids = Some(cents))
        val q = e.where(col("vec_id") < 10)
        val viaAppend = AnnIndex.searchIvfIndex(s, s"$tmp/inc", q,
          "vec_id", "embedding", k = 5, nProbe = 2)
        val viaRebuild = AnnIndex.searchIvfIndex(s, s"$tmp/full", q,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank2"), col("cosine").as("cos2"))
        val agree = viaAppend
          .join(viaRebuild, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_results"),
            sum(when(col("rank") === col("rank2") &&
              col("cosine") === col("cos2"), 1L).otherwise(0L)).as("n_agree"))
        // the drift artifact, READ BACK through the one layout reader
        val (nBase, nAppended) = AnnIndex.metaCounts(s, s"$tmp/inc")
        agree.select(col("query_id"),
            (col("n_results") === 5L && col("n_agree") === 5L)
              .as("results_match"),
            lit(nBase).as("n_base"), lit(nAppended).as("n_appended"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // MANY-QUERY STORED-INDEX SEARCH — the corpus-sized-query-set arm
    // (r10 shipped it spec-only for record-budget reasons): the WHOLE
    // embedding corpus queries the persisted index, the probe-cell set
    // never crosses the driver (a ≤nCells frame broadcast-semi-joins
    // the postings scan on the partition column → runtime dynamic
    // partition pruning), and the result is IDENTICAL row-for-row to
    // the bounded-collect IN-list arm. The dpp_planned bit is read off
    // the EXECUTED plan of the frame the row itself returns.
    "q140_ann_many_query_search" -> { (s, dir) =>
      import graft.ops.AnnIndex
      val tmp = Files.createTempDirectory("graft_q140_")
      try {
        val e = Tables.embeddings(s, dir)
        // iters=1: the arms' identity contract is independent of
        // centroid quality — train cheaply, search twice
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$tmp/ivf",
          nCells = 8, iters = 1)
        val many = AnnIndex.searchIvfIndexManyQueries(s, s"$tmp/ivf", e,
          "vec_id", "embedding", k = 3, nProbe = 2)
        val dppPlanned = many.queryExecution.executedPlan.toString
          .contains("dynamicpruning")
        val inList = AnnIndex.searchIvfIndex(s, s"$tmp/ivf", e,
            "vec_id", "embedding", k = 3, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank2"), col("cosine").as("cos2"))
        many
          .join(inList, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_results"),
            sum(when(col("rank") === col("rank2") &&
              col("cosine") === col("cos2"), 1L).otherwise(0L)).as("n_agree"))
          .select(col("query_id"),
            (col("n_results") === 3L && col("n_agree") === 3L)
              .as("results_match"),
            lit(dppPlanned).as("dpp_planned"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // CORPUS-SCALE HARD-NEGATIVE MINING — q151's operator freed of its
    // broadcast bound: in contrastive training EVERY example is an
    // anchor, so the anchor set is corpus-sized and the exact arm's
    // driver broadcast is the scale ceiling. Here anchors flow
    // executor-to-executor over the stored index (q140's DPP
    // many-query shape) and the cross-label predicate filters
    // candidates BEFORE the k-bounding (q143/q151's pre-filter
    // lesson). Contract row (r14 containment — the old shape ran BOTH
    // arms corpus-wide at exhaustive probes, 43 s at sf0.1 and
    // quadratic in fixture scale): the WHOLE corpus still anchors the
    // INDEXED arm, but at the operator's PRODUCTION probe width
    // (nProbe=2 — the shape a training pipeline actually runs), held
    // by aggregate invariants computed in ONE linear pass over the
    // mining output — every corpus anchor returned (corpus_covered),
    // exactly k dense-ranked rows each (ranks_contiguous), and zero
    // same-label pairs read back through the label table
    // (cross_label_only). Row-for-row identity vs the exact broadcast
    // arm (ids, ranks, exact cosines — which NEEDS exhaustive probes)
    // is verified on a DETERMINISTIC 1-in-13 anchor sample; anchors
    // are independent in hard-negative mining, so sample identity +
    // corpus shape invariants carry the corpus. The probe side still
    // plans runtime DPP.
    "q153_hard_negatives_indexed" -> { (s, dir) =>
      import graft.ops.{AnnIndex, Similarity}
      val tmp = Files.createTempDirectory("graft_q153_")
      try {
        val e = Tables.embeddings(s, dir)
        // iters=1: the identity contract is independent of centroid
        // quality (q140's reasoning) — train cheaply, mine twice
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$tmp/ivf",
          nCells = 8, iters = 1)
        val indexedLazy = AnnIndex.hardNegativesIndexed(s, s"$tmp/ivf", e,
          "vec_id", "embedding", "label", e.select("vec_id", "label"),
          k = 3, nProbe = 2)
        // the DPP bit reads the mining frame's own physical plan —
        // capture it BEFORE the checkpoint swaps in a scan node
        val dppPlanned = indexedLazy.queryExecution.executedPlan.toString
          .contains("dynamicpruning")
        val indexed = indexedLazy.localCheckpoint(true)
        // corpus-wide invariants: one linear aggregation over the
        // indexed output (never the O(n²) pair space) — per-anchor
        // row/rank shape, then one 1-row fold crossJoined back onto
        // the sampled rows (the scalar-broadcast pattern)
        val ql = e.select(col("vec_id").as("query_id"),
          col("label").as("qlab"))
        val nl = e.select(col("vec_id").as("neighbor_id"),
          col("label").as("nlab"))
        val invariants = indexed
          .join(ql, Seq("query_id"))
          .join(nl, Seq("neighbor_id"))
          .groupBy("query_id")
          .agg(count(lit(1)).as("n"), max("rank").as("mxr"),
            sum("rank").as("smr"),
            sum(when(col("qlab") === col("nlab"), 1L).otherwise(0L))
              .as("same"))
          .agg(count(lit(1)).as("n_anchors"),
            sum(when(col("n") === 3L && col("mxr") === 3 &&
              col("smr") === 6L, 0L).otherwise(1L)).as("bad_shape"),
            sum(col("same")).as("same_total"))
          .crossJoin(e.select(count(lit(1)).as("n_corpus")))
          .select(
            (col("same_total") === 0L).as("cross_label_only"),
            (col("bad_shape") === 0L).as("ranks_contiguous"),
            (col("n_anchors") === col("n_corpus")).as("corpus_covered"))
        // exact-identity arm, sampled: 1-in-13 anchors, deterministic.
        // Identity needs EXHAUSTIVE probes (nProbe = nCells), so the
        // sampled anchors are re-mined through the index at nProbe=8
        // rather than reusing the production-width rows above
        val sampleQ = e.where(col("vec_id") % 13 === 0)
        val idxSample = AnnIndex.hardNegativesIndexed(s, s"$tmp/ivf",
          sampleQ, "vec_id", "embedding", "label",
          e.select("vec_id", "label"), k = 3, nProbe = 8)
        val exact = Similarity.hardNegativesTopK(sampleQ, e,
            "vec_id", "embedding", "label", k = 3)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank2"), col("cosine").as("cos2"))
        idxSample
          .join(exact, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_results"),
            sum(when(col("rank") === col("rank2") &&
              col("cosine") === col("cos2"), 1L).otherwise(0L)).as("n_agree"))
          .select(col("query_id"),
            (col("n_results") === 3L && col("n_agree") === 3L)
              .as("results_match"),
            lit(dppPlanned).as("dpp_planned"))
          .crossJoin(invariants)
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // GENERATION COMPACTION — the maintenance path the append (q132)
    // and streaming-ingest (q134) trees were missing: each append owns
    // one gen=G directory, so a high-frequency ingest accumulates
    // batches×cells small files and an O(generations) seek per probed
    // cell with nothing folding them back. Contract row: after
    // build(A) + two appends, compactIvfIndex folds the tree to ONE
    // base generation and search-after-compaction is IDENTICAL
    // result-for-result (ids, ranks, exact cosines) BOTH to
    // search-before and to rebuild(A++B1++B2) under the same frozen
    // centroids; the _meta counts read back as (full corpus, 0) — the
    // appendedFraction drift signal resets to zero and exactly one
    // (negative) generation remains.
    "q138_ann_index_compact" -> { (s, dir) =>
      import graft.ops.AnnIndex
      val tmp = Files.createTempDirectory("graft_q138_")
      try {
        val e = Tables.embeddings(s, dir)
        val a = e.where(col("vec_id") % 3 =!= 0) // base ingest
        val b1 = e.where(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
        val b2 = e.where(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
        // iters=1: the compaction identity contract is independent of
        // centroid quality (q140's reasoning) — train cheaply
        val cents = AnnIndex.buildIvfIndex(a, "vec_id", "embedding",
          s"$tmp/idx", nCells = 8, iters = 1)
        AnnIndex.appendToIvfIndex(s, s"$tmp/idx", b1, "vec_id", "embedding",
          gen = 1L)
        AnnIndex.appendToIvfIndex(s, s"$tmp/idx", b2, "vec_id", "embedding",
          gen = 2L)
        val q = e.where(col("vec_id") < 10)
        // materialize BEFORE compaction mutates the tree it reads
        val before = AnnIndex.searchIvfIndex(s, s"$tmp/idx", q,
          "vec_id", "embedding", k = 5, nProbe = 2).localCheckpoint(true)
        AnnIndex.compactIvfIndex(s, s"$tmp/idx")
        val gensAfter = AnnIndex.listGenerations(s, s"$tmp/idx")
        val fracAfter = AnnIndex.appendedFraction(s, s"$tmp/idx")
        val (nBase, nAppended) = AnnIndex.metaCounts(s, s"$tmp/idx")
        val after = AnnIndex.searchIvfIndex(s, s"$tmp/idx", q,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank2"), col("cosine").as("cos2"))
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$tmp/full",
          nCells = 8, centroids = Some(cents))
        val rebuilt = AnnIndex.searchIvfIndex(s, s"$tmp/full", q,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank3"), col("cosine").as("cos3"))
        before
          .join(after, Seq("query_id", "neighbor_id"), "full_outer")
          .join(rebuilt, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_results"),
            sum(when(col("rank") === col("rank2") &&
              col("cosine") === col("cos2") &&
              col("rank") === col("rank3") &&
              col("cosine") === col("cos3"), 1L).otherwise(0L)).as("n_agree"))
          .select(col("query_id"),
            (col("n_results") === 5L && col("n_agree") === 5L)
              .as("results_match"),
            lit(nBase).as("n_base"), lit(nAppended).as("n_appended"),
            lit(gensAfter == Seq(-1L) && fracAfter == 0.0).as("single_gen"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // INDEX DELETE — the takedown/right-to-be-forgotten path that
    // completes the stored-index lifecycle (build q126 / append q132 /
    // compact q138 / delete). Deletes are TOMBSTONES: the postings tree
    // does not move (a takedown is O(delete set), never a corpus
    // rewrite), searches subtract the set with a broadcast anti-join,
    // and the next compaction purges it physically and retires the
    // tombstones. Contract row: after delete, search ≡ rebuild of the
    // remaining corpus under the same frozen centroids, IDENTICAL
    // before and after the purge; no tombstoned id surfaces as a
    // neighbor; the tombstone set reads back exact and retires to 0.
    "q141_ann_index_delete" -> { (s, dir) =>
      import graft.ops.AnnIndex
      val tmp = Files.createTempDirectory("graft_q141_")
      try {
        val e = Tables.embeddings(s, dir)
        // iters=1: the identity contract is independent of centroid
        // quality (q140's reasoning) — train cheaply
        val cents = AnnIndex.buildIvfIndex(e, "vec_id", "embedding",
          s"$tmp/idx", nCells = 8, iters = 1)
        val nDel = AnnIndex.deleteFromIvfIndex(s, s"$tmp/idx",
          e.where(col("vec_id") % 4 === 0).select("vec_id"), "vec_id",
          del = 1L)
        val (agg, tombBefore, tombAfter) =
          deleteContractCore(s, e, s"$tmp/idx", s"$tmp/ref", cents)
        val (nBase, _) = AnnIndex.metaCounts(s, s"$tmp/idx")
        agg.select(col("query_id"),
            (col("n_results") === 5L && col("n_agree") === 5L)
              .as("results_match"),
            (col("n_doomed") === 0L).as("no_deleted_neighbor"),
            lit(nDel).as("n_deleted"), lit(nBase).as("n_remaining"),
            lit(tombBefore == nDel && tombAfter == 0L)
              .as("tombstones_retired"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // STREAMING TAKEDOWN — the delete-side twin of q134: a takedown
    // feed streams in through a REAL Structured Streaming execution,
    // each micro-batch tombstoning ids EXACTLY-ONCE with
    // del = batchId + 1 (an injected replay of a completed batch is
    // part of the harness — the tombstone set cannot double-count).
    // Contract row: after the stream + a compaction, search ≡ rebuild
    // of the remaining corpus under frozen centroids; the tombstone
    // count reads back exact before the purge and zero after.
    "q144_streaming_takedown" -> { (s, dir) =>
      import graft.ops.AnnIndex
      import graft.streaming.Replay
      val tmp = Files.createTempDirectory("graft_q144_")
      try {
        val e = Tables.embeddings(s, dir)
        val doomed = e.where(col("vec_id") % 4 === 0).select("vec_id")
        // iters=1: the identity contract is independent of centroid
        // quality (q140's reasoning) — train cheaply
        val cents = AnnIndex.buildIvfIndex(e, "vec_id", "embedding",
          s"$tmp/idx", nCells = 8, iters = 1)
        val dataBatches = Replay.takedownReplay(s, doomed, s"$tmp/idx",
          nBatches = 3)
        val (agg, tombBefore, tombAfter) =
          deleteContractCore(s, e, s"$tmp/idx", s"$tmp/ref", cents)
        agg.select(col("query_id"),
            (col("n_results") === 5L && col("n_agree") === 5L)
              .as("results_match"),
            lit(tombBefore).as("n_tombstoned"),
            lit(tombAfter == 0L).as("tombstones_retired"),
            lit(dataBatches >= 3).as("replayed_multibatch"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // PRE-FILTERED SEARCH — attribute-filtered vector search (per-
    // language, per-license, newer-than-cutoff): candidates restrict
    // to an allowed-id frame BEFORE the k-bounded ranking, so every
    // returned rank is a true rank within the allowed sub-corpus —
    // filtering a plain top-k afterwards starves selective filters.
    // Contract row: filtered search over the FULL index ≡ search of an
    // index built from the allowed rows alone under the same frozen
    // centroids; only allowed ids surface as neighbors.
    "q143_ann_filtered_search" -> { (s, dir) =>
      import graft.ops.AnnIndex
      val tmp = Files.createTempDirectory("graft_q143_")
      try {
        val e = Tables.embeddings(s, dir)
        val allowed = e.where(col("label") % 2 === 0) // the attribute slice
        // iters=1: the identity contract is independent of centroid
        // quality (q140's reasoning) — train cheaply
        val cents = AnnIndex.buildIvfIndex(e, "vec_id", "embedding",
          s"$tmp/idx", nCells = 8, iters = 1)
        AnnIndex.buildIvfIndex(allowed, "vec_id", "embedding", s"$tmp/ref",
          nCells = 8, centroids = Some(cents))
        val q = e.where(col("vec_id") < 10)
        val filtered = AnnIndex.searchIvfIndexFiltered(s, s"$tmp/idx", q,
          "vec_id", "embedding", allowed.select("vec_id"), "vec_id",
          k = 5, nProbe = 2)
        val ref = AnnIndex.searchIvfIndex(s, s"$tmp/ref", q,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank2"), col("cosine").as("cos2"))
        val nAllowed = allowed.count()
        filtered
          .join(ref, Seq("query_id", "neighbor_id"), "full_outer")
          .join(e.select(col("vec_id").as("neighbor_id"), col("label")),
            Seq("neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_results"),
            sum(when(col("rank") === col("rank2") &&
              col("cosine") === col("cos2"), 1L).otherwise(0L)).as("n_agree"),
            max(when(col("label") % 2 =!= 0, 1L).otherwise(0L))
              .as("n_outside"))
          .select(col("query_id"),
            (col("n_results") === 5L && col("n_agree") === 5L)
              .as("results_match"),
            (col("n_outside") === 0L).as("only_allowed"),
            lit(nAllowed).as("n_allowed"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // STREAMING INDEX INGEST — the round-10 composition row: a seed
    // corpus builds the persisted IVF index, then the delta corpus
    // streams in through a REAL Structured Streaming execution whose
    // foreachBatch appends each micro-batch exactly-once
    // (gen = batchId + 1 — the stable replayed batchId IS the append
    // generation), including an injected replay of a completed batch.
    // Contract row: the streamed index's search is IDENTICAL
    // result-for-result to a one-shot build of the full corpus under
    // the same stored quantizer; the postings row count equals the
    // corpus cardinality EXACTLY (the replay duplicated nothing) with
    // unique ids; ≥3 data batches observed.
    "q134_streaming_index_ingest" -> { (s, dir) =>
      import graft.ops.AnnIndex
      val tmp = Files.createTempDirectory("graft_q134_")
      try {
        val e = Tables.embeddings(s, dir)
        // even ids seed the build; odd ids stream in (odd ids cover
        // every mod-3 staging class, so all three micro-batches carry
        // rows)
        val seed = e.where(col("vec_id") % 2 === 0)
        val deltas = e.where(col("vec_id") % 2 =!= 0)
        val nBatches = graft.streaming.Replay.indexIngestReplay(
          s, seed, deltas, s"$tmp/ivf", nCells = 8)
        val posted = s.read.parquet(s"$tmp/ivf/postings.parquet")
        val nPosted = posted.count()
        val idsUnique = posted.select("vec_id").distinct().count() == nPosted
        val cents = AnnIndex.loadCentroids(s, s"$tmp/ivf")
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$tmp/full",
          nCells = 8, centroids = Some(cents))
        val q = e.where(col("vec_id") < 10)
        val streamed = AnnIndex.searchIvfIndex(s, s"$tmp/ivf", q,
          "vec_id", "embedding", k = 5, nProbe = 2)
        val oneShot = AnnIndex.searchIvfIndex(s, s"$tmp/full", q,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank2"), col("cosine").as("cos2"))
        streamed
          .join(oneShot, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_results"),
            sum(when(col("rank") === col("rank2") &&
              col("cosine") === col("cos2"), 1L).otherwise(0L)).as("n_agree"))
          .select(col("query_id"),
            (col("n_results") === 5L && col("n_agree") === 5L)
              .as("results_match"),
            lit(nPosted).as("n_posted"),
            lit(idsUnique).as("ids_unique"),
            lit(nBatches >= 3).as("replayed_multibatch"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // Dataset versioning: the snapshot diff a promotion gate audits
    // before retraining on a refreshed crawl. Two deterministic
    // derived snapshots of the documents table (v_old drops doc_id %
    // 7 == 0; v_new drops % 5 == 0 and reverses the text of % 11 ==
    // 0) diffed by content hash — only (id, hash) pairs shuffle, doc
    // bodies never cross the wire. The oracle replays the diff by
    // comparing TEXTS directly, so an engine hash that misclassifies
    // anything hash-mismatches.
    "q113_snapshot_diff" -> { (s, dir) =>
      import graft.ops.Versioning
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val vOld = docs.where(col("doc_id") % 7 =!= 0)
      val vNew = docs.where(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, reverse(col("text")))
            .otherwise(col("text")))
      Versioning.snapshotDiff(vOld, vNew, "doc_id", "text")
        .orderBy("doc_id")
    },

    // ATOMIC VERSIONED PUBLISH — what makes "the corpus a training
    // run read" a reproducible fact: version trees are immutable,
    // readers resolve a pointer swapped with ONE atomic rename, time
    // travel reads any retained version, and rollback is a pointer
    // swap whose disavowed version the next publish re-owns. Contract
    // row: publish the q113 snapshots as v1/v2, prove the time-travel
    // read returns v1 BYTE-EQUIVALENT (empty content diff), report
    // the promotion-gate diff between the two published versions
    // (exact counts, the q113 math), and prove rollback moves readers
    // back without deleting anything.
    "q146_versioned_publish" -> { (s, dir) =>
      import graft.ops.Versioning
      val tmp = Files.createTempDirectory("graft_q146_")
      try {
        val ds = s"$tmp/ds"
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val vOld = docs.where(col("doc_id") % 7 =!= 0)
        val vNew = docs.where(col("doc_id") % 5 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 11 === 0, reverse(col("text")))
              .otherwise(col("text")))
        val p1 = Versioning.publish(vOld, ds)
        val p2 = Versioning.publish(vNew, ds)
        val cur = Versioning.currentVersion(s, ds)
        val ttOk = Versioning.snapshotDiff(
          Versioning.read(s, ds, Some(1L)), vOld, "doc_id", "text")
          .isEmpty
        val summary = Versioning.diffSummary(
            Versioning.read(s, ds, Some(1L)), Versioning.read(s, ds),
            "doc_id", "text")
          .localCheckpoint(true)
        Versioning.rollback(s, ds, 1L)
        val rolledOk = Versioning.currentVersion(s, ds).contains(1L) &&
          Versioning.listVersions(s, ds) == Seq(1L, 2L) &&
          Versioning.snapshotDiff(Versioning.read(s, ds), vOld,
            "doc_id", "text").isEmpty
        summary.select(col("n_added"), col("n_removed"), col("n_modified"),
          col("n_old"), col("n_new"),
          lit(p1 == 1L && p2 == 2L && cur.contains(2L)).as("versions_ok"),
          lit(ttOk).as("time_travel_ok"),
          lit(rolledOk).as("rollback_ok"))
      } finally drainAndDelete(s, tmp)
    },

    // ZERO-DOWNTIME REBUILD — the serving-path composition the
    // in-place buildIvfIndex scaladoc points at (an in-place rebuild
    // is inherently not reader-transparent: two reader-visible
    // artifacts, lock-free readers): build the new index tree whole
    // inside a Versioning stage under a VERSIONED root and move
    // readers with the atomic pointer swap. Contract row: (1) the
    // post-swap tree serves IDENTICAL results (ids, ranks, exact
    // cosines) to an unversioned build of the same corpus under the
    // same centroids; (2) the superseded v=1 tree reads EXACTLY as it
    // did before the rebuild (rollback stays sound) until (3) vacuum
    // reclaims precisely it, leaving the pointer on v=2. The
    // torn-view impossibility (a concurrent reader mid-rebuild) is
    // spec'd with a live reader thread in AnnIndexSpec.
    "q156_zero_downtime_rebuild" -> { (s, dir) =>
      import graft.ops.{AnnIndex, Versioning}
      val tmp = Files.createTempDirectory("graft_q156_")
      try {
        val e = Tables.embeddings(s, dir)
        val root = s"$tmp/idx"
        // v1 serves a 2/3 corpus; iters=1 — the identity contract is
        // independent of centroid quality (q140's reasoning)
        val (v1, _) = AnnIndex.rebuildIvfIndexVersioned(
          e.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
          root, nCells = 8, iters = 1)
        val q = e.where(col("vec_id") < 10)
        val before = AnnIndex.searchIvfIndex(s,
            AnnIndex.currentIndexDir(s, root), q, "vec_id", "embedding",
            k = 5, nProbe = 2)
          .localCheckpoint(true)
        // rebuild v2 from the FULL corpus with fresh centroids while
        // v1 keeps serving; readers move with the pointer swap
        val (v2, cents2) = AnnIndex.rebuildIvfIndexVersioned(e,
          "vec_id", "embedding", root, nCells = 8, iters = 1)
        val after = AnnIndex.searchIvfIndex(s,
            AnnIndex.currentIndexDir(s, root), q, "vec_id", "embedding",
            k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank2"), col("cosine").as("cos2"))
        // identity twin: an unversioned build of the same corpus
        // under the SAME centroids — the versioned path must serve
        // exactly this, byte-for-byte
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$tmp/twin",
          nCells = 8, centroids = Some(cents2))
        val twin = AnnIndex.searchIvfIndex(s, s"$tmp/twin", q,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank3"), col("cosine").as("cos3"))
        // the superseded tree, re-searched after the swap — must be
        // bit-identical to its pre-rebuild self (materialize BEFORE
        // vacuum reclaims it)
        val oldAgain = AnnIndex.searchIvfIndex(s,
            AnnIndex.currentIndexDir(s, root, version = Some(1L)), q,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rankOld"), col("cosine").as("cosOld"))
          .localCheckpoint(true)
        val vacuumOk = Versioning.vacuum(s, root, keep = 1) == Seq(1L) &&
          Versioning.listVersions(s, root) == Seq(2L) &&
          Versioning.currentVersion(s, root).contains(2L)
        val newAgree = after
          .join(twin, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_results"),
            sum(when(col("rank2") === col("rank3") &&
              col("cos2") === col("cos3"), 1L).otherwise(0L)).as("n_agree"))
        val oldAgree = before
          .join(oldAgain, Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_old"),
            sum(when(col("rank") === col("rankOld") &&
              col("cosine") === col("cosOld"), 1L).otherwise(0L))
              .as("n_old_agree"))
        newAgree.join(oldAgree, Seq("query_id"))
          .select(col("query_id"),
            (col("n_results") === 5L && col("n_agree") === 5L)
              .as("results_match"),
            (col("n_old") >= 1L && col("n_old") === col("n_old_agree"))
              .as("old_intact"),
            lit(v1).as("v_before"), lit(v2).as("v_after"),
            lit(vacuumOk).as("vacuumed_to_current"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // ADAPTIVE PROBE WIDENING — the recall dial on the stored index
    // (r14 order #1): searchIvfIndexConverged starts every query at
    // nProbe0=1 and doubles its probe width until its top-k is
    // IDENTICAL at two consecutive widths (or the probe set is
    // exhaustive). Contract row, per query: (1) recall vs the exact
    // brute-force twin is ≥ the fixed-nProbe0 search's — the
    // candidate-superset theorem, driver-checked; (2) the accepted
    // rows are IDENTICAL (ids, ranks, exact cosines) to a fixed-width
    // searchIvfIndex at that query's reported n_probe_used — the mode
    // never invents results, it only picks a width; with width =
    // nCells that is the exhaustive (exact-within-index) arm, so the
    // ladder's terminal correctness rides the same check; (3) the
    // reported width sits on the doubling ladder {4,8}. 8 cells and
    // nProbe0=2, not the 16/1 of the calibration runs: the contract
    // is width-count-independent and the registered plan pays one
    // Spark job per ladder rung — the wider grid lives in
    // RecallProbe/CalibrationSpec where it is measured, not re-proved
    // (the q153 containment discipline). The
    // recall-vs-cost curve behind the dial is RecallProbe's ivf_grid;
    // the scale-relevant floors are pinned in Calibration and
    // re-measured at sf0.01 by CalibrationSpec.
    "q157_ann_adaptive_probe" -> { (s, dir) =>
      import graft.ops.{AnnIndex, Similarity}
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_q157_")
      try {
        val e = Tables.embeddings(s, dir)
        // iters=1: every contract is an identity/monotonicity law,
        // independent of centroid quality (q138's reasoning)
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$tmp/ivf",
          nCells = 8, iters = 1)
        val q = e.where(col("vec_id") < 10)
        val conv = AnnIndex.searchIvfIndexConverged(s, s"$tmp/ivf", q,
            "vec_id", "embedding", k = 5, nProbe0 = 2)
          .localCheckpoint(true)
        val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding",
          k = 5)
        def hits(res: DataFrame, tag: String) =
          exact.select(col("query_id"), col("neighbor_id"))
            .join(res.select(col("query_id"), col("neighbor_id"),
              lit(1L).as("hit")), Seq("query_id", "neighbor_id"),
              "left_outer")
            .groupBy("query_id")
            .agg(coalesce(sum(col("hit")), lit(0L)).as(tag))
        val baseHits = hits(AnnIndex.searchIvfIndex(s, s"$tmp/ivf", q,
          "vec_id", "embedding", k = 5, nProbe = 2), "n_hit_base")
        val convHits = hits(conv, "n_hit_conv")
        // width consistency: per DISTINCT accepted width (bounded ≤
        // log2(nCells)+1 values — a bounded driver collect), the
        // accepted rows must equal a fixed-width search at that width
        val widths = conv.select("n_probe_used").distinct()
          .as[Int].collect().toSeq.sorted
        val consistency = widths.map { w =>
          val subsetQ = q.join(
            conv.where(col("n_probe_used") === w)
              .select(col("query_id").as("vec_id")).distinct(),
            Seq("vec_id"), "left_semi")
          val fixed = AnnIndex.searchIvfIndex(s, s"$tmp/ivf", subsetQ,
              "vec_id", "embedding", k = 5, nProbe = w)
            .select(col("query_id"), col("neighbor_id"),
              col("rank").as("rank_f"), col("cosine").as("cos_f"))
          conv.where(col("n_probe_used") === w)
            .select(col("query_id"), col("neighbor_id"),
              col("rank"), col("cosine"))
            .join(fixed, Seq("query_id", "neighbor_id"), "full_outer")
            .groupBy("query_id")
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col("rank") === col("rank_f") &&
                col("cosine") === col("cos_f"), 1L).otherwise(0L))
                .as("n_same"))
        }.reduce(_ unionByName _)
          .select(col("query_id"),
            (col("n_rows") === col("n_same")).as("width_consistent"))
        val ladder = conv
          .groupBy("query_id")
          .agg(min("n_probe_used").as("w_min"),
            max("n_probe_used").as("w_max"))
          .select(col("query_id"),
            (col("w_min") === col("w_max") &&
              col("w_min").isin(4, 8)).as("width_on_ladder"))
        convHits.join(baseHits, Seq("query_id"))
          .join(consistency, Seq("query_id"))
          .join(ladder, Seq("query_id"))
          .select(col("query_id"),
            (col("n_hit_conv") >= col("n_hit_base")).as("recall_monotone"),
            col("width_consistent"), col("width_on_ladder"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // FILTERED + CONVERGED — the composition the ladder's full-k gate
    // exists for (r15 order #1): a selective allowed set starves
    // narrow probes (sub-k and zero-row results are the NORM at small
    // widths), so acceptance must require a FULL stable top-k or ride
    // to exhaustive. Contract row, per query: (1) recall vs the exact
    // FILTERED twin (brute force over the allowed sub-corpus) ≥ the
    // fixed-nProbe0 filtered search's — the superset theorem under a
    // filter; (2) the accepted rows are IDENTICAL (ids, ranks, exact
    // cosines) to a search of a REFERENCE index built from the
    // allowed rows alone under the same frozen centroids at the
    // query's reported n_probe_used — the q143 pre-filter identity
    // lifted rung-by-rung onto the ladder, against an independently
    // BUILT index rather than the mode under test; (3) only allowed
    // ids ever surface; (4) widths sit on the {4, 8} ladder. Same
    // 8-cells/nProbe0=2 economy as q157 (one Spark job per rung); the
    // filtered-mode recall datum lives in RecallProbe's grid.
    "q158_ann_filtered_converged" -> { (s, dir) =>
      import graft.ops.{AnnIndex, Similarity}
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_q158_")
      try {
        val e = Tables.embeddings(s, dir)
        val allowed = e.where(col("label") % 2 === 0) // the attribute slice
        // iters=1: identity/monotonicity contracts are independent of
        // centroid quality (q138's reasoning) — train cheaply
        val cents = AnnIndex.buildIvfIndex(e, "vec_id", "embedding",
          s"$tmp/idx", nCells = 8, iters = 1)
        AnnIndex.buildIvfIndex(allowed, "vec_id", "embedding", s"$tmp/ref",
          nCells = 8, centroids = Some(cents))
        val q = e.where(col("vec_id") < 10)
        val conv = AnnIndex.searchIvfIndexFilteredConverged(s, s"$tmp/idx",
            q, "vec_id", "embedding", allowed.select("vec_id"), "vec_id",
            k = 5, nProbe0 = 2)
          .localCheckpoint(true)
        val exact = Similarity.bruteForceTopK(q, allowed, "vec_id",
          "embedding", k = 5)
        def hits(res: DataFrame, tag: String) =
          exact.select(col("query_id"), col("neighbor_id"))
            .join(res.select(col("query_id"), col("neighbor_id"),
              lit(1L).as("hit")), Seq("query_id", "neighbor_id"),
              "left_outer")
            .groupBy("query_id")
            .agg(coalesce(sum(col("hit")), lit(0L)).as(tag))
        val baseHits = hits(AnnIndex.searchIvfIndexFiltered(s, s"$tmp/idx",
          q, "vec_id", "embedding", allowed.select("vec_id"), "vec_id",
          k = 5, nProbe = 2), "n_hit_base")
        val convHits = hits(conv, "n_hit_conv")
        // per DISTINCT accepted width (bounded ≤ log2(nCells)+1 values
        // — a bounded driver collect): accepted rows ≡ the ref index's
        // search at that width
        val widths = conv.select("n_probe_used").distinct()
          .as[Int].collect().toSeq.sorted
        val refIdent = widths.map { w =>
          val subsetQ = q.join(
            conv.where(col("n_probe_used") === w)
              .select(col("query_id").as("vec_id")).distinct(),
            Seq("vec_id"), "left_semi")
          val ref = AnnIndex.searchIvfIndex(s, s"$tmp/ref", subsetQ,
              "vec_id", "embedding", k = 5, nProbe = w)
            .select(col("query_id"), col("neighbor_id"),
              col("rank").as("rank_r"), col("cosine").as("cos_r"))
          conv.where(col("n_probe_used") === w)
            .select(col("query_id"), col("neighbor_id"),
              col("rank"), col("cosine"))
            .join(ref, Seq("query_id", "neighbor_id"), "full_outer")
            .groupBy("query_id")
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col("rank") === col("rank_r") &&
                col("cosine") === col("cos_r"), 1L).otherwise(0L))
                .as("n_same"))
        }.reduce(_ unionByName _)
          .select(col("query_id"),
            (col("n_rows") === col("n_same")).as("ref_identical"))
        val onlyAllowed = conv
          .join(e.select(col("vec_id").as("neighbor_id"), col("label")),
            Seq("neighbor_id"), "left")
          .groupBy("query_id")
          .agg(max(when(col("label") % 2 =!= 0, 1L).otherwise(0L))
            .as("n_outside"))
          .select(col("query_id"),
            (col("n_outside") === 0L).as("only_allowed"))
        val ladder = conv
          .groupBy("query_id")
          .agg(min("n_probe_used").as("w_min"),
            max("n_probe_used").as("w_max"))
          .select(col("query_id"),
            (col("w_min") === col("w_max") &&
              col("w_min").isin(4, 8)).as("width_on_ladder"))
        val nAllowed = allowed.count()
        convHits.join(baseHits, Seq("query_id"))
          .join(refIdent, Seq("query_id"))
          .join(onlyAllowed, Seq("query_id"))
          .join(ladder, Seq("query_id"))
          .select(col("query_id"),
            (col("n_hit_conv") >= col("n_hit_base")).as("recall_monotone"),
            col("ref_identical"), col("only_allowed"),
            col("width_on_ladder"), lit(nAllowed).as("n_allowed"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // TWO-LEVEL IVF INDEX — the capacity path past the flat
    // quantizer's 65,536-cell ceiling (r15 order #2): a coarse layer
    // (driver-bounded, the only quantizer state that ever rides a
    // closure) over persisted per-group fine sub-quantizers that
    // reach executors as packed column values through a join on the
    // coarse cell; postings keep ≤ nCoarse partition DIRECTORIES with
    // `fine` as a write-sorted data column. Contract row, per query:
    // (1) results_match — with nFinePerCell=1 the two layers collapse
    // onto the coarse quantizer and search is IDENTICAL (ids, ranks,
    // exact cosines) to the flat index under the same centroids at
    // the same width; (2) exact_match — exhaustive probing on both
    // layouts is exact within the index, so a 4×4 two-level tree at
    // full width agrees exactly with the flat tree at full width;
    // (3) fine_per_group_ok — every coarse group's fine ids are dense
    // from 0 and ≤ nFinePerCell (the packing position contract);
    // (4) scan_pruned — probing one coarse group touches strictly
    // fewer files than a full scan on BOTH the postings and the
    // fine-centroid trees. The recall-at-equal-probed-fraction curve
    // lives in RecallProbe's ivf2 section; the floor is pinned in
    // Calibration and re-measured by CalibrationSpec.
    "q159_ann_two_level_index" -> { (s, dir) =>
      import graft.ops.AnnIndex
      val tmp = Files.createTempDirectory("graft_q159_")
      try {
        val e = Tables.embeddings(s, dir)
        // iters=1: identity contracts are independent of centroid
        // quality (q138's reasoning) — train cheaply
        val cents = AnnIndex.buildIvfIndex(e, "vec_id", "embedding",
          s"$tmp/flat", nCells = 8, iters = 1)
        AnnIndex.buildIvfIndexTwoLevel(e, "vec_id", "embedding",
          s"$tmp/collapse", nCoarse = 8, nFinePerCell = 1, iters = 1,
          coarseCentroids = Some(cents))
        AnnIndex.buildIvfIndexTwoLevel(e, "vec_id", "embedding",
          s"$tmp/two", nCoarse = 4, nFinePerCell = 4, iters = 1)
        val q = e.where(col("vec_id") < 10)
        def agree(got: DataFrame, ref: DataFrame, tag: String) =
          got.select(col("query_id"), col("neighbor_id"),
              col("rank"), col("cosine"))
            .join(ref.select(col("query_id"), col("neighbor_id"),
              col("rank").as("rank_r"), col("cosine").as("cos_r")),
              Seq("query_id", "neighbor_id"), "full_outer")
            .groupBy("query_id")
            .agg((count(lit(1)) === 5L &&
              sum(when(col("rank") === col("rank_r") &&
                col("cosine") === col("cos_r"), 1L).otherwise(0L)) === 5L)
              .as(tag))
        val collapse = agree(
          AnnIndex.searchIvfIndexTwoLevel(s, s"$tmp/collapse", q,
            "vec_id", "embedding", k = 5, nProbeCoarse = 2, nProbeFine = 1),
          AnnIndex.searchIvfIndex(s, s"$tmp/flat", q,
            "vec_id", "embedding", k = 5, nProbe = 2),
          "results_match")
        val exhaustive = agree(
          AnnIndex.searchIvfIndexTwoLevel(s, s"$tmp/two", q,
            "vec_id", "embedding", k = 5, nProbeCoarse = 4, nProbeFine = 4),
          AnnIndex.searchIvfIndex(s, s"$tmp/flat", q,
            "vec_id", "embedding", k = 5, nProbe = 8),
          "exact_match")
        val fineT = s.read.parquet(s"$tmp/two/fine_centroids.parquet")
          .select(col("coarse").cast("int").as("coarse"),
            col("fine").cast("int").as("fine"))
        // bounded collect: ≤ nCoarse·nFine quantizer metadata rows
        val fineOk = fineT.groupBy("coarse")
          .agg(min("fine").as("lo"), max("fine").as("hi"),
            count(lit(1)).as("n"))
          .collect()
          .forall(r => r.getInt(1) == 0 &&
            r.getLong(3) == r.getInt(2) + 1L && r.getLong(3) <= 4L)
        val post = s.read.parquet(s"$tmp/two/postings.parquet")
        val c0 = post.select("coarse").head().getInt(0)
        def files(df: DataFrame) =
          df.select(input_file_name()).distinct().count()
        val pruned =
          files(post.where(col("coarse") === c0)) < files(post) &&
          files(fineT.where(col("coarse") === c0)) <
            files(s.read.parquet(s"$tmp/two/fine_centroids.parquet"))
        collapse.join(exhaustive, Seq("query_id"))
          .select(col("query_id"), col("results_match"), col("exact_match"),
            lit(fineOk).as("fine_per_group_ok"),
            lit(pruned).as("scan_pruned"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    },

    // PQ-CODED POSTINGS on the two-level tree — the other half of the
    // r15 ceiling order: candidates score from m-BYTE product-
    // quantization codes (8× narrower than int8, 32× than float)
    // against a per-query dot lookup table, with only a
    // rerankFactor·k shortlist paying the exact re-rank. Contract
    // row, per query: (1) results_match — with a shortlist generous
    // enough to hold EVERY candidate, the PQ arm is IDENTICAL (ids,
    // ranks, exact cosines) to the exact two-level arm at the same
    // probes: the shortlist plumbing never invents or loses a
    // candidate, whatever the codebook quality (the q126 discipline);
    // (2) codes_m — every posting carries exactly m code bytes;
    // (3) rerank4_full — the production rerankFactor=4 arm still
    // fills its top-k (the recall COST of the narrowing is measured
    // in RecallProbe's ivf2_pq line: 0.756 vs the exact arm's 0.772
    // at the half-fraction point, sf0.001).
    "q160_ann_two_level_pq" -> { (s, dir) =>
      import graft.ops.AnnIndex
      val tmp = Files.createTempDirectory("graft_q160_")
      try {
        val e = Tables.embeddings(s, dir)
        // iters=1: identity contracts are independent of quantizer
        // quality (q138's reasoning); ks=64 keeps the PQ training
        // bounded at every fixture scale
        AnnIndex.buildIvfIndexTwoLevel(e, "vec_id", "embedding",
          s"$tmp/two", nCoarse = 4, nFinePerCell = 4, iters = 1,
          pqM = Some(8), pqKs = 64)
        val q = e.where(col("vec_id") < 10)
        val exact = AnnIndex.searchIvfIndexTwoLevel(s, s"$tmp/two", q,
          "vec_id", "embedding", k = 5, nProbeCoarse = 2, nProbeFine = 2)
        // generous shortlist: every cell-colocated candidate survives
        val genFactor = (e.count() / 5L + 1L).toInt
        val viaPq = AnnIndex.searchIvfIndexTwoLevelPq(s, s"$tmp/two", q,
          "vec_id", "embedding", k = 5, nProbeCoarse = 2, nProbeFine = 2,
          rerankFactor = genFactor)
        val matches = viaPq.select(col("query_id"), col("neighbor_id"),
            col("rank"), col("cosine"))
          .join(exact.select(col("query_id"), col("neighbor_id"),
            col("rank").as("rank_r"), col("cosine").as("cos_r")),
            Seq("query_id", "neighbor_id"), "full_outer")
          .groupBy("query_id")
          .agg((count(lit(1)) === 5L &&
            sum(when(col("rank") === col("rank_r") &&
              col("cosine") === col("cos_r"), 1L).otherwise(0L)) === 5L)
            .as("results_match"))
        val codesM = s.read.parquet(s"$tmp/two/postings.parquet")
          .select(size(col("pq_codes")).as("n")).distinct().collect()
          .map(_.getInt(0)).toSeq == Seq(8)
        val rerank4Full = AnnIndex.searchIvfIndexTwoLevelPq(s,
            s"$tmp/two", q, "vec_id", "embedding", k = 5,
            nProbeCoarse = 2, nProbeFine = 2, rerankFactor = 4)
          .groupBy("query_id").agg(count(lit(1)).as("n"))
          .where(col("n") =!= 5L).isEmpty
        matches
          .select(col("query_id"), col("results_match"),
            lit(codesM).as("codes_m"), lit(rerank4Full).as("rerank4_full"))
          .orderBy("query_id")
          .localCheckpoint(true)
      } finally drainAndDelete(s, tmp)
    }
  )

  val oracleSql: Map[String, String] = Map(

    "q116_zorder_layout" ->
      """WITH li AS (
        |  SELECT * FROM lineitem WHERE l_orderkey % 4 = 0)
        |SELECT
        |  (SELECT COUNT(*) FROM li
        |   WHERE l_suppkey BETWEEN 1 AND
        |     GREATEST(1, (SELECT MAX(l_suppkey) FROM li) // 10)) AS n_box_rows,
        |  (SELECT COUNT(*) FROM li) AS n_total_rows,
        |  TRUE AS linear_scans_all,
        |  TRUE AS zorder_prunes_half,
        |  TRUE AS zorder_beats_linear""".stripMargin,

    "q126_ann_index_persist" ->
      """SELECT vec_id AS query_id, TRUE AS results_match, TRUE AS scan_pruned,
        |  TRUE AS quant_match
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q132_ann_index_append" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 <> 0) AS n_base,
        |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 = 0) AS n_appended
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q140_ann_many_query_search" ->
      """SELECT vec_id AS query_id, TRUE AS results_match, TRUE AS dpp_planned
        |FROM embeddings ORDER BY query_id""".stripMargin,

    "q153_hard_negatives_indexed" ->
      """SELECT vec_id AS query_id, TRUE AS results_match, TRUE AS dpp_planned,
        |  TRUE AS cross_label_only, TRUE AS ranks_contiguous,
        |  TRUE AS corpus_covered
        |FROM embeddings WHERE vec_id % 13 = 0 ORDER BY query_id""".stripMargin,

    "q138_ann_index_compact" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  (SELECT COUNT(*) FROM embeddings) AS n_base,
        |  CAST(0 AS BIGINT) AS n_appended,
        |  TRUE AS single_gen
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q144_streaming_takedown" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 4 = 0) AS n_tombstoned,
        |  TRUE AS tombstones_retired,
        |  TRUE AS replayed_multibatch
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q143_ann_filtered_search" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  TRUE AS only_allowed,
        |  (SELECT COUNT(*) FROM embeddings WHERE label % 2 = 0) AS n_allowed
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q141_ann_index_delete" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  TRUE AS no_deleted_neighbor,
        |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 4 = 0) AS n_deleted,
        |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 4 <> 0) AS n_remaining,
        |  TRUE AS tombstones_retired
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q134_streaming_index_ingest" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  (SELECT COUNT(*) FROM embeddings) AS n_posted,
        |  TRUE AS ids_unique,
        |  TRUE AS replayed_multibatch
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q157_ann_adaptive_probe" ->
      """SELECT vec_id AS query_id, TRUE AS recall_monotone,
        |  TRUE AS width_consistent, TRUE AS width_on_ladder
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q158_ann_filtered_converged" ->
      """SELECT vec_id AS query_id, TRUE AS recall_monotone,
        |  TRUE AS ref_identical, TRUE AS only_allowed,
        |  TRUE AS width_on_ladder,
        |  (SELECT COUNT(*) FROM embeddings WHERE label % 2 = 0) AS n_allowed
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q159_ann_two_level_index" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  TRUE AS exact_match, TRUE AS fine_per_group_ok,
        |  TRUE AS scan_pruned
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q160_ann_two_level_pq" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  TRUE AS codes_m, TRUE AS rerank4_full
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q156_zero_downtime_rebuild" ->
      """SELECT vec_id AS query_id, TRUE AS results_match,
        |  TRUE AS old_intact,
        |  CAST(1 AS BIGINT) AS v_before, CAST(2 AS BIGINT) AS v_after,
        |  TRUE AS vacuumed_to_current
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    "q146_versioned_publish" ->
      """WITH v_old AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v_new AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN reverse(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM v_new n LEFT JOIN v_old o USING (doc_id)
        |        WHERE o.doc_id IS NULL) AS BIGINT) AS n_added,
        |  CAST((SELECT COUNT(*) FROM v_old o LEFT JOIN v_new n USING (doc_id)
        |        WHERE n.doc_id IS NULL) AS BIGINT) AS n_removed,
        |  CAST((SELECT COUNT(*) FROM v_old o JOIN v_new n USING (doc_id)
        |        WHERE o.text IS DISTINCT FROM n.text) AS BIGINT) AS n_modified,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v_old) AS n_old,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v_new) AS n_new,
        |  TRUE AS versions_ok,
        |  TRUE AS time_travel_ok,
        |  TRUE AS rollback_ok""".stripMargin,

    "q113_snapshot_diff" ->
      """WITH v_old AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v_new AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN reverse(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.text IS DISTINCT FROM n.text THEN 'modified' END AS change
        |FROM v_old o FULL OUTER JOIN v_new n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
        |   OR o.text IS DISTINCT FROM n.text
        |ORDER BY doc_id""".stripMargin,
    // The oracle states the pipeline CONTRACT directly over the source:
    // extract and clean preserve row count; load dedups on the PK pair;
    // a re-run loads nothing; the catalog table holds the PK-distinct
    // row set.
    "q64_pipeline_run" ->
      """SELECT
        |  (SELECT COUNT(*) FROM lineitem) AS extracted,
        |  (SELECT COUNT(*) FROM lineitem) AS cleaned,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS loaded_first,
        |  CAST(0 AS BIGINT) AS loaded_rerun,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS table_rows""".stripMargin,
    // Replays the same deterministic raw-feed derivation and the
    // reference's star semantics (DISTINCT dims over non-null keys,
    // PK-distinct load, zero FK violations by construction) directly
    // over lineitem.
    "q72_iowa_star" ->
      """SELECT
        |  (SELECT COUNT(DISTINCT l_suppkey % 200) FROM lineitem) AS n_dim_store,
        |  (SELECT COUNT(DISTINCT CAST(l_shipdate AS DATE)) FROM lineitem
        |    WHERE l_orderkey % 97 <> 0) AS n_dim_date,
        |  (SELECT COUNT(*) FROM (
        |     SELECT DISTINCT l_partkey % 500,
        |       CASE WHEN l_orderkey % 89 = 0 THEN 0 ELSE l_partkey % 12 + 1 END,
        |       l_partkey % 10, l_partkey % 30
        |     FROM lineitem)) AS n_dim_item,
        |  (SELECT COUNT(DISTINCT l_suppkey % 100) FROM lineitem) AS n_dim_vendor,
        |  (SELECT COUNT(DISTINCT l_partkey % 50) FROM lineitem) AS n_dim_category,
        |  (SELECT COUNT(*) FROM lineitem) AS n_fact,
        |  (SELECT COUNT(*) FROM (
        |     SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS n_loaded,
        |  CAST(0 AS BIGINT) AS fk_violations,
        |  (SELECT CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS DOUBLE)
        |     + CAST(COUNT(*) AS DOUBLE) * 0.5 FROM lineitem) AS revenue""".stripMargin,
    "q135_jsonl_ingest" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(7 AS BIGINT) AS n_corrupt,
        |  CAST(SUM(doc_id) AS BIGINT) AS key_sum,
        |  CAST(SUM(length(text)) AS BIGINT) AS text_len_sum,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents""".stripMargin,

    "q65_csv_null_roundtrip" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN c_custkey % 7 <> 0 AND c_name IS NOT NULL THEN 1 END) AS n_name,
        |  CAST(SUM(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_seg,
        |  COUNT(CASE WHEN c_custkey % 11 = 0 OR c_mktsegment IS NOT NULL THEN 1 END) AS n_seg,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM customer""".stripMargin
  )
}
