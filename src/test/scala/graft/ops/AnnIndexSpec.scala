package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

class AnnIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus(n: Int) = (0 until n).map { i =>
    // 4 well-separated clusters in 4-d
    val c = i % 4
    (i.toLong, Array.tabulate(4)(d =>
      (if (d == c) 1.0f else 0.0f) + 0.01f * (i / 4)))
  }.toDF("vec_id", "embedding")

  test("stored-index search equals in-plan ivfTopK under the same centroids") {
    val dir = Files.createTempDirectory("graft_annidx").toString
    val e = corpus(40)
    val cents = AnnIndex.buildIvfIndex(e, "vec_id", "embedding",
      s"$dir/ivf", nCells = 4, iters = 3)
    val q = e.where(col("vec_id") < 6)
    val fromIdx = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val inPlan = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 3,
        nCells = 4, iters = 3, nProbe = 2, centroids = Some(cents))
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(fromIdx == inPlan)
    assert(fromIdx.nonEmpty && fromIdx.forall(r => r._1 != r._2)) // self excluded
  }

  test("postings layout: hive-partitioned by cell, probe scans prune directories") {
    val dir = Files.createTempDirectory("graft_annidx2").toString
    val e = corpus(40)
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    val post = spark.read.parquet(s"$dir/ivf/postings.parquet")
    val nCellsOnDisk = post.select("cell").distinct().count()
    assert(nCellsOnDisk >= 2, "separated clusters must land in several cells")
    // scanning one cell touches strictly fewer files than scanning all
    val oneCell = post.where(col("cell") === post.select("cell").head().getInt(0))
      .select(input_file_name()).distinct().count()
    val all = post.select(input_file_name()).distinct().count()
    assert(oneCell < all)
    // round-trip: every corpus vector is in exactly one cell
    assert(post.count() == 40 && post.select("vec_id").distinct().count() == 40)
    // the int8 codes ride along for the quantized path; gen is the
    // append-generation partition column (gen=0 = base build)
    assert(post.columns.toSet ==
      Set("vec_id", "vec", "q_codes", "q_scale", "cell", "gen"))
    assert(post.select("gen").distinct().collect().map(_.get(0).toString).toSeq
      == Seq("0"))
  }

  // ---- incremental append ------------------------------------------------

  test("build(A) + append(B) search is result-identical to rebuild(A++B) " +
      "under the same stored centroids") {
    val dir = Files.createTempDirectory("graft_annidx_app").toString
    val all = corpus(48)
    val a = all.where(col("vec_id") % 3 =!= 0)
    val b = all.where(col("vec_id") % 3 === 0)
    val cents = AnnIndex.buildIvfIndex(a, "vec_id", "embedding",
      s"$dir/inc", nCells = 4, iters = 3)
    val nApp = AnnIndex.appendToIvfIndex(spark, s"$dir/inc", b,
      "vec_id", "embedding", gen = 1L)
    assert(nApp == 16L)
    AnnIndex.buildIvfIndex(all, "vec_id", "embedding", s"$dir/full",
      nCells = 4, centroids = Some(cents))
    val q = all.where(col("vec_id") < 6)
    def search(d: String) = AnnIndex.searchIvfIndex(spark, d, q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val viaAppend = search(s"$dir/inc")
    val viaRebuild = search(s"$dir/full")
    assert(viaAppend == viaRebuild, "append must be invisible to search")
    // appended ids genuinely participate as neighbors
    assert(viaAppend.exists(r => r._2 % 3 == 0))
    // quantized arm sees the appended generation too
    val quant = AnnIndex.searchIvfIndexQuantized(spark, s"$dir/inc", q,
        "vec_id", "embedding", k = 3, nProbe = 2, rerankFactor = 100)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(quant == viaAppend)
    // drift signal: |B| / |A| exactly
    assert(AnnIndex.appendedFraction(spark, s"$dir/inc") == 16.0 / 32.0)
    assert(AnnIndex.appendedFraction(spark, s"$dir/full") == 0.0)
  }

  test("append is exactly-once in gen: a replay overwrites itself; a crash " +
      "between postings and meta under-counts until replayed") {
    val dir = Files.createTempDirectory("graft_annidx_rep").toString
    val all = corpus(36)
    val a = all.where(col("vec_id") < 24)
    val b = all.where(col("vec_id") >= 24)
    AnnIndex.buildIvfIndex(a, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b, "vec_id", "embedding", 1L)
    val q = all.where(col("vec_id") < 4)
    def search() = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val before = search()
    // REPLAY the same append (failure after commit, before the stream
    // advanced): same gen → same directory overwritten, nothing dups
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b, "vec_id", "embedding", 1L)
    val post = spark.read.parquet(s"$dir/ivf/postings.parquet")
    assert(post.count() == 36 && post.select("vec_id").distinct().count() == 36)
    assert(search() == before)
    assert(AnnIndex.appendedFraction(spark, s"$dir/ivf") == 12.0 / 24.0)
    // CRASH between the postings write and the meta row: simulate by
    // deleting the meta generation — drift UNDER-counts (safe for a
    // ≥-threshold retrain trigger), search still sees the rows, and
    // the replay restores the count
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/ivf/_meta/gen=1")
    metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(metaPath, true)
    assert(AnnIndex.appendedFraction(spark, s"$dir/ivf") == 0.0)
    assert(search() == before)
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b, "vec_id", "embedding", 1L)
    assert(AnnIndex.appendedFraction(spark, s"$dir/ivf") == 12.0 / 24.0)
    assert(search() == before)
  }

  test("many-query search: no driver collect on the probe side, runtime " +
      "partition pruning in the plan, results identical to the IN-list arm") {
    val dir = Files.createTempDirectory("graft_annidx_dpp").toString
    val e = corpus(40)
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf", nCells = 4,
      iters = 3)
    val q = e.where(col("vec_id") < 8)
    val many = AnnIndex.searchIvfIndexManyQueries(spark, s"$dir/ivf", q,
      "vec_id", "embedding", k = 3, nProbe = 2)
    val inList = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
      "vec_id", "embedding", k = 3, nProbe = 2)
    val a = many.orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val b = inList.orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(a == b, "broadcast-probe arm must equal the IN-list arm")
    // the postings scan must carry a RUNTIME partition filter on cell
    // (dynamic partition pruning from the broadcast probe semi-join)
    val plan = many.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression PartitionFilter on the postings scan:\n$plan")
  }

  test("hardNegativesIndexed: identical to the exact broadcast arm under " +
      "exhaustive probes, cross-label only, null labels match nothing, " +
      "DPP on the probe side") {
    val dir = Files.createTempDirectory("graft_annidx_hn").toString
    val e = corpus(40)
      // two labels per cluster so every anchor has same-label near
      // neighbors (the starvation shape pre-filtering exists for);
      // ids ≡ 0 mod 10 carry NULL labels
      .withColumn("label",
        when(col("vec_id") % 10 === 0, lit(null).cast("long"))
          .otherwise(col("vec_id") % 8))
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf",
      nCells = 4, iters = 3)
    val labels = e.select("vec_id", "label")
    val indexed = AnnIndex.hardNegativesIndexed(spark, s"$dir/ivf", e,
      "vec_id", "embedding", "label", labels, k = 3, nProbe = 4)
    val got = indexed.orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val exact = Similarity.hardNegativesTopK(e, e,
        "vec_id", "embedding", "label", k = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == exact,
      "exhaustive-probe indexed arm must equal the exact broadcast arm")
    // null-labeled anchors mine nothing; null-labeled corpus rows are
    // never negatives
    val nullIds = (0 until 40 by 10).map(_.toLong).toSet
    assert(got.nonEmpty && got.forall(r =>
      !nullIds.contains(r._1) && !nullIds.contains(r._2)))
    // cross-label on every row, by label lookup not by trust
    val lab = e.collect().map(r =>
      r.getLong(0) -> Option(r.get(2)).map(_.toString)).toMap
    assert(got.forall(r => lab(r._1) != lab(r._2)))
    // the probe side must plan runtime partition pruning (q140's
    // discipline — anchors never cross the driver)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression PartitionFilter:\n$plan")
  }

  test("append contracts: gen 0 rejected; a rebuild clears stale generations") {
    val dir = Files.createTempDirectory("graft_annidx_gen").toString
    val e = corpus(24)
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf", nCells = 3)
    intercept[IllegalArgumentException] {
      AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", e, "vec_id", "embedding", 0L)
    }
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf",
      corpus(30).where(col("vec_id") >= 24), "vec_id", "embedding", 1L)
    assert(spark.read.parquet(s"$dir/ivf/postings.parquet").count() == 30)
    // rebuild at the same path: the old gen=1 must NOT survive
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf", nCells = 3)
    val post = spark.read.parquet(s"$dir/ivf/postings.parquet")
    assert(post.count() == 24, "stale append generations must be cleared")
    assert(AnnIndex.appendedFraction(spark, s"$dir/ivf") == 0.0)
  }

  // ---- generation compaction ---------------------------------------------

  private def postingsFiles(dir: String): Long =
    spark.read.parquet(s"$dir/postings.parquet")
      .select(input_file_name()).distinct().count()

  test("compaction folds all generations into one negative base; search is " +
      "identical before/after; drift signal and small files reset") {
    val dir = Files.createTempDirectory("graft_annidx_cmp").toString
    val all = corpus(48)
    val a = all.where(col("vec_id") % 3 =!= 0)
    val b1 = all.where(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
    val b2 = all.where(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
    AnnIndex.buildIvfIndex(a, "vec_id", "embedding", s"$dir/ivf", nCells = 4,
      iters = 3)
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b1, "vec_id", "embedding", 1L)
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b2, "vec_id", "embedding", 2L)
    assert(AnnIndex.listGenerations(spark, s"$dir/ivf") == Seq(0L, 1L, 2L))
    val q = all.where(col("vec_id") < 6)
    def search() = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val before = search()
    val filesBefore = postingsFiles(s"$dir/ivf")
    assert(AnnIndex.compactIvfIndex(spark, s"$dir/ivf") == 48L)
    assert(AnnIndex.listGenerations(spark, s"$dir/ivf") == Seq(-1L))
    assert(search() == before, "compaction must be invisible to search")
    // the quantized arm reads the folded tree identically
    val quant = AnnIndex.searchIvfIndexQuantized(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2, rerankFactor = 100)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(quant == before)
    // the small-file population shrinks (3 gens x cells -> 1 x cells)
    assert(postingsFiles(s"$dir/ivf") < filesBefore)
    // drift artifact: all mass is base again, trigger fully reset
    assert(AnnIndex.metaCounts(spark, s"$dir/ivf") == ((48L, 0L)))
    assert(AnnIndex.appendedFraction(spark, s"$dir/ivf") == 0.0)
  }

  test("crash between the compacted write and the stale clear leaves a " +
      "search-identical mixed tree; a replayed compaction converges") {
    val dir = Files.createTempDirectory("graft_annidx_crash").toString
    val all = corpus(48)
    val a = all.where(col("vec_id") % 3 =!= 0)
    val b = all.where(col("vec_id") % 3 === 0)
    AnnIndex.buildIvfIndex(a, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b, "vec_id", "embedding", 1L)
    val q = all.where(col("vec_id") < 6)
    def search() = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val before = search()
    // reach the crash state: compacted base committed (gen=-1), stale
    // gen=1 still present — reconstructed by re-writing the old delta
    // at its old generation after the fold
    AnnIndex.compactIvfIndex(spark, s"$dir/ivf")
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b, "vec_id", "embedding", 1L)
    assert(AnnIndex.listGenerations(spark, s"$dir/ivf") == Seq(-1L, 1L))
    val mixed = spark.read.parquet(s"$dir/ivf/postings.parquet")
    assert(mixed.count() == 48L + 16L, "mixed tree carries duplicates")
    // ... but search collapses per-(query, neighbor) duplicates and the
    // payloads are identical per id, so results don't change
    assert(search() == before, "mixed tree must stay search-identical")
    // the quantized arm too: its exact re-rank fetches neighbor vectors
    // from the (duplicated) postings scan — without the per-(query,
    // neighbor) collapse after that join, one neighbor would occupy two
    // top-k slots on exactly this tree (r11 ADVICE finding)
    val quantMixed = AnnIndex.searchIvfIndexQuantized(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2, rerankFactor = 100)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(quantMixed == before,
      "mixed tree must stay search-identical on the quantized arm")
    // drift OVER-counts in the mixed state (trigger over-fires — safe)
    assert(AnnIndex.appendedFraction(spark, s"$dir/ivf") == 16.0 / 48.0)
    // the REPLAYED compaction dedups the union and converges
    assert(AnnIndex.compactIvfIndex(spark, s"$dir/ivf") == 48L)
    assert(AnnIndex.listGenerations(spark, s"$dir/ivf") == Seq(-2L))
    val post = spark.read.parquet(s"$dir/ivf/postings.parquet")
    assert(post.count() == 48L &&
      post.select("vec_id").distinct().count() == 48L)
    assert(search() == before)
  }

  test("an orphaned _meta generation (crash mid-stale-clear) is purged by " +
      "the replayed compaction and never double-counts base mass") {
    val dir = Files.createTempDirectory("graft_annidx_orphan").toString
    val all = corpus(48)
    val a = all.where(col("vec_id") % 3 =!= 0)
    val b = all.where(col("vec_id") % 3 === 0)
    AnnIndex.buildIvfIndex(a, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b, "vec_id", "embedding", 1L)
    AnnIndex.compactIvfIndex(spark, s"$dir/ivf")
    // reconstruct the pre-r12 crash state: the OLD BASE gen's postings
    // were cleared but its meta row survived — re-plant _meta/gen=0
    spark.range(1).select(lit(32L).as("n_vectors"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/ivf/_meta/gen=0")
    // the orphan inflates BASE mass (gen<=0), so the retrain trigger
    // would under-fire: 16 appended over 48+32 base
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf", b, "vec_id", "embedding", 2L)
    assert(AnnIndex.metaCounts(spark, s"$dir/ivf") == ((48L + 32L, 16L)))
    // a replayed compaction derives its cleanup set from BOTH listings,
    // so the meta orphan goes even though no postings dir names gen=0
    assert(AnnIndex.compactIvfIndex(spark, s"$dir/ivf") == 48L)
    assert(AnnIndex.metaCounts(spark, s"$dir/ivf") == ((48L, 0L)))
    assert(AnnIndex.appendedFraction(spark, s"$dir/ivf") == 0.0)
  }

  // ---- tombstone deletes ---------------------------------------------------

  test("delete tombstones ids: every search arm excludes them, identically " +
      "to a rebuild of the remaining corpus under frozen centroids") {
    val dir = Files.createTempDirectory("graft_annidx_del").toString
    val all = corpus(48)
    val cents = AnnIndex.buildIvfIndex(all, "vec_id", "embedding",
      s"$dir/ivf", nCells = 4, iters = 3)
    val doomed = all.where(col("vec_id") % 4 === 0)
    assert(AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf",
      doomed.select("vec_id"), "vec_id", del = 1L) == 12L)
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 12L)
    // postings bytes did NOT move: a delete is O(delete set)
    assert(spark.read.parquet(s"$dir/ivf/postings.parquet").count() == 48L)
    AnnIndex.buildIvfIndex(all.where(col("vec_id") % 4 =!= 0), "vec_id",
      "embedding", s"$dir/ref", nCells = 4, centroids = Some(cents))
    val q = all.where(col("vec_id") < 6) // mixes deleted + surviving queries
    def exact(d: String) = AnnIndex.searchIvfIndex(spark, d, q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val afterDel = exact(s"$dir/ivf")
    assert(afterDel == exact(s"$dir/ref"),
      "tombstoned search must equal rebuild(remaining)")
    assert(afterDel.forall(_._2 % 4 != 0), "no tombstoned id as a neighbor")
    // tombstoned ids may still QUERY (the takedown doc looking for its
    // near-dups is a legitimate shape)
    assert(afterDel.exists(_._1 % 4 == 0))
    val quant = AnnIndex.searchIvfIndexQuantized(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2, rerankFactor = 100)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(quant == afterDel)
    val many = AnnIndex.searchIvfIndexManyQueries(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(many == afterDel)
  }

  test("delete is exactly-once in del; batches accumulate distinct; absent " +
      "ids are a no-op; compaction purges physically and retires the set") {
    val dir = Files.createTempDirectory("graft_annidx_del2").toString
    val all = corpus(48)
    AnnIndex.buildIvfIndex(all, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    val q = all.where(col("vec_id") < 6)
    def search() = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf",
      all.where(col("vec_id") % 4 === 0).select("vec_id"), "vec_id", 1L)
    val afterDel = search()
    // REPLAY the same batch: same del → same directory overwritten
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf",
      all.where(col("vec_id") % 4 === 0).select("vec_id"), "vec_id", 1L)
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 12L)
    assert(search() == afterDel)
    // second batch overlaps the first: the union subtracts each id once
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf",
      all.where(col("vec_id") % 8 === 0).select("vec_id"), "vec_id", 2L)
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 12L)
    assert(search() == afterDel)
    // compaction makes the tombstones physical and retires them
    assert(AnnIndex.compactIvfIndex(spark, s"$dir/ivf") == 36L)
    val post = spark.read.parquet(s"$dir/ivf/postings.parquet")
    assert(post.count() == 36L && post.where(col("vec_id") % 4 === 0).count() == 0L)
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 0L)
    assert(AnnIndex.metaCounts(spark, s"$dir/ivf") == ((36L, 0L)))
    assert(search() == afterDel, "the purge must be invisible to search")
    // deleting an id that was already purged subtracts nothing
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf",
      all.where(col("vec_id") === 0).select("vec_id"), "vec_id", 3L)
    assert(search() == afterDel)
  }

  test("a full-tombstone compaction refuses loudly and leaves the tree " +
      "readable (empty searches), instead of folding to zero files") {
    val dir = Files.createTempDirectory("graft_annidx_del5").toString
    val all = corpus(24)
    AnnIndex.buildIvfIndex(all, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf",
      all.select("vec_id"), "vec_id", 1L)
    val q = all.where(col("vec_id") < 4)
    def search() = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
      "vec_id", "embedding", k = 3, nProbe = 2).count()
    assert(search() == 0L, "everything tombstoned ⇒ empty results")
    intercept[IllegalStateException] {
      AnnIndex.compactIvfIndex(spark, s"$dir/ivf")
    }
    // the refused fold left the tree exactly as readable as before
    assert(search() == 0L)
    assert(spark.read.parquet(s"$dir/ivf/postings.parquet").count() == 24L)
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 24L)
  }

  test("crash orderings cannot resurrect a deleted id: stale tombstones over " +
      "a purged tree are a no-op, and a rebuild retires them with the corpus") {
    val dir = Files.createTempDirectory("graft_annidx_del3").toString
    val all = corpus(48)
    AnnIndex.buildIvfIndex(all, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    val doomed = all.where(col("vec_id") % 4 === 0).select("vec_id")
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf", doomed, "vec_id", 1L)
    val q = all.where(col("vec_id") < 6)
    def search() = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val afterDel = search()
    // crash state: compaction folded + cleared gens but died BEFORE
    // retiring _deletes — reconstructed by re-tombstoning after the fold
    AnnIndex.compactIvfIndex(spark, s"$dir/ivf")
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf", doomed, "vec_id", 1L)
    assert(search() == afterDel, "stale tombstones over a purged tree no-op")
    // the replayed compaction converges and retires them
    AnnIndex.compactIvfIndex(spark, s"$dir/ivf")
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 0L)
    assert(search() == afterDel)
    // a rebuild owns the whole tree: tombstones from the REPLACED corpus
    // must not silently delete from the new one
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf", doomed, "vec_id", 2L)
    AnnIndex.buildIvfIndex(all, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 0L)
    assert(spark.read.parquet(s"$dir/ivf/postings.parquet").count() == 48L)
  }

  // ---- pre-filtered search -------------------------------------------------

  test("filtered search: true ranks within the allowed sub-corpus, identical " +
      "to an index built from the allowed rows under frozen centroids") {
    val dir = Files.createTempDirectory("graft_annidx_flt").toString
    val all = corpus(48)
    val allowed = all.where(col("vec_id") % 2 === 0)
    val cents = AnnIndex.buildIvfIndex(all, "vec_id", "embedding",
      s"$dir/ivf", nCells = 4, iters = 3)
    AnnIndex.buildIvfIndex(allowed, "vec_id", "embedding", s"$dir/ref",
      nCells = 4, centroids = Some(cents))
    val q = all.where(col("vec_id") < 6)
    val filtered = AnnIndex.searchIvfIndexFiltered(spark, s"$dir/ivf", q,
        "vec_id", "embedding", allowed.select("vec_id"), "vec_id",
        k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val ref = AnnIndex.searchIvfIndex(spark, s"$dir/ref", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(filtered == ref)
    assert(filtered.forall(_._2 % 2 == 0), "only allowed ids as neighbors")
    // PRE-filter semantics: filtering a plain top-k after ranking
    // starves queries the filtered arm fills to k
    val post = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .where(col("neighbor_id") % 2 === 0)
    val postCounts = post.groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    val fltCounts = filtered.groupBy(_._1).view.mapValues(_.size).toMap
    assert(fltCounts.values.forall(_ == 3))
    assert(fltCounts.keys.exists(qid => postCounts.getOrElse(qid, 0L) < 3L),
      "fixture must demonstrate post-filter starvation")
    // composes with tombstones: deleting an allowed id removes it here too
    val doomed = filtered.head._2
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf",
      Seq(doomed).toDF("vec_id"), "vec_id", 1L)
    val after = AnnIndex.searchIvfIndexFiltered(spark, s"$dir/ivf", q,
        "vec_id", "embedding", allowed.select("vec_id"), "vec_id",
        k = 3, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(after.forall(_._2 != doomed))
  }

  test("maybeRetrain compacts a single-generation tree when tombstones " +
      "have accumulated") {
    val dir = Files.createTempDirectory("graft_annidx_del4").toString
    val all = corpus(40)
    val cents = AnnIndex.buildIvfIndex(all, "vec_id", "embedding",
      s"$dir/ivf", nCells = 4)
    AnnIndex.deleteFromIvfIndex(spark, s"$dir/ivf",
      all.where(col("vec_id") < 4).select("vec_id"), "vec_id", 1L)
    assert(!AnnIndex.maybeRetrain(spark, s"$dir/ivf",
      all.where(col("vec_id") >= 4), "vec_id", "embedding", nCells = 4))
    assert(AnnIndex.loadCentroids(spark, s"$dir/ivf") == cents,
      "a tombstone fold must not retrain the quantizer")
    assert(AnnIndex.tombstonedCount(spark, s"$dir/ivf") == 0L)
    assert(spark.read.parquet(s"$dir/ivf/postings.parquet").count() == 36L)
  }

  test("maybeRetrain: folds under frozen centroids below tau, rebuilds with " +
      "fresh centroids at tau and above") {
    val dir = Files.createTempDirectory("graft_annidx_tau").toString
    val all = corpus(44)
    val a = all.where(col("vec_id") < 40)
    val cents = AnnIndex.buildIvfIndex(a, "vec_id", "embedding", s"$dir/ivf",
      nCells = 4, iters = 3)
    // small delta: 4/40 = 0.1 < tau=0.2 -> compact only, quantizer frozen
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf",
      all.where(col("vec_id") >= 40), "vec_id", "embedding", 1L)
    assert(!AnnIndex.maybeRetrain(spark, s"$dir/ivf", all, "vec_id",
      "embedding", nCells = 4))
    assert(AnnIndex.listGenerations(spark, s"$dir/ivf") == Seq(-1L))
    assert(AnnIndex.loadCentroids(spark, s"$dir/ivf") == cents,
      "below tau the coarse quantizer must stay frozen")
    // big delta: 12/44 = 0.27 >= tau -> full rebuild, drift reset, gen=0
    val grown = corpus(56)
    AnnIndex.appendToIvfIndex(spark, s"$dir/ivf",
      grown.where(col("vec_id") >= 44), "vec_id", "embedding", 2L)
    assert(AnnIndex.maybeRetrain(spark, s"$dir/ivf", grown, "vec_id",
      "embedding", nCells = 4))
    assert(AnnIndex.listGenerations(spark, s"$dir/ivf") == Seq(0L))
    val post = spark.read.parquet(s"$dir/ivf/postings.parquet")
    assert(post.count() == 56L)
    assert(AnnIndex.appendedFraction(spark, s"$dir/ivf") == 0.0)
  }

  test("quantized search: exhaustive shortlist equals the exact arm; tight shortlist ranks sanely") {
    val dir = Files.createTempDirectory("graft_annidx_q").toString
    val e = corpus(40)
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf", nCells = 4)
    val q = e.where(col("vec_id") < 6)
    val exact = AnnIndex.searchIvfIndex(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // rf big enough that the shortlist holds every candidate
    val viaCodesDf = AnnIndex.searchIvfIndexQuantized(spark, s"$dir/ivf", q,
      "vec_id", "embedding", k = 3, nProbe = 2, rerankFactor = 100)
    val viaCodes = viaCodesDf.orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(viaCodes == exact)
    // the quantized arm rides the same runtime-partition-pruned scan
    // as the many-queries arm (r10 asymmetry closed): the postings
    // scan must carry a dynamicpruningexpression PartitionFilter, not
    // a driver-collected IN-list
    val plan = viaCodesDf.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected runtime partition pruning on the quantized arm:\n$plan")
    // tight shortlist: returned scores are still EXACT cosines and
    // k-bounded per query (recall behavior is RecallProbe territory)
    val tight = AnnIndex.searchIvfIndexQuantized(spark, s"$dir/ivf", q,
        "vec_id", "embedding", k = 3, nProbe = 2, rerankFactor = 1)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(tight.nonEmpty && tight.groupBy(_._1).forall(_._2.size <= 3))
    val exactByPair = exact.map(r => (r._1, r._2) -> r._3).toMap
    tight.foreach { r =>
      exactByPair.get((r._1, r._2)).foreach(c => assert(c == r._3))
    }
  }

  test("centroids round-trip the trained values exactly") {
    val dir = Files.createTempDirectory("graft_annidx3").toString
    val e = corpus(24)
    val trained = AnnIndex.buildIvfIndex(e, "vec_id", "embedding",
      s"$dir/ivf", nCells = 3, iters = 2)
    assert(AnnIndex.loadCentroids(spark, s"$dir/ivf") == trained)
    intercept[IllegalArgumentException] {
      AnnIndex.searchIvfIndex(spark,
        { // an index whose centroid table is empty
          val d2 = Files.createTempDirectory("graft_annidx4").toString
          spark.emptyDataFrame
            .select(lit(0).as("cell"), array().cast("array<double>").as("centroid"))
            .limit(0).write.parquet(s"$d2/centroids.parquet")
          d2
        }, e, "vec_id", "embedding", k = 2)
    }
  }

  test("corrupt vectors quantize to null codes but still land in a cell") {
    val dir = Files.createTempDirectory("graft_annidx5").toString
    val e = corpus(12).union(
      Seq((99L, Array(Float.NaN, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf", nCells = 3)
    val bad = spark.read.parquet(s"$dir/ivf/postings.parquet")
      .where(col("vec_id") === 99L).collect()
    assert(bad.length == 1 && bad(0).isNullAt(bad(0).fieldIndex("q_scale")))
  }

  test("every index mutation is single-writer: a held lock fails the " +
      "second writer loudly with the holder line, mutates nothing, and " +
      "breakIndexLock recovers a crashed holder") {
    val dir = Files.createTempDirectory("graft_annlock").toString
    val idx = s"$dir/ivf"
    val e = corpus(24)
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", idx, nCells = 3)
    AnnIndex.appendToIvfIndex(spark, idx, corpus(32).where(col("vec_id") >= 24),
      "vec_id", "embedding", gen = 1L)
    // crash state: a writer died mid-mutation — reconstructed by
    // planting its lock (stamped, as a real acquisition would be)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$idx/_writer_lock")
    assert(FsLock.tryAcquire(fs, lock, FsLock.holderStamp("appendToIvfIndex")))
    val before = spark.read.parquet(s"$idx/postings.parquet")
      .orderBy("vec_id").collect().toSeq
    // all four mutation entry points refuse, name the holder, and
    // leave the tree byte-identical
    val errs = Seq(
      intercept[IllegalStateException] {
        AnnIndex.appendToIvfIndex(spark, idx,
          Seq((90L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
          "vec_id", "embedding", gen = 2L)
      },
      intercept[IllegalStateException] {
        AnnIndex.deleteFromIvfIndex(spark, idx,
          Seq(Tuple1(3L)).toDF("vec_id"), "vec_id", del = 1L)
      },
      intercept[IllegalStateException] { AnnIndex.compactIvfIndex(spark, idx) },
      intercept[IllegalStateException] {
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", idx, nCells = 3)
      })
    errs.foreach { ex =>
      assert(ex.getMessage.contains("another writer holds"))
      assert(ex.getMessage.contains("op=appendToIvfIndex") &&
        ex.getMessage.contains("pid=") && ex.getMessage.contains("acquired="),
        s"holder line missing from: ${ex.getMessage}")
    }
    assert(AnnIndex.listGenerations(spark, idx) == Seq(0L, 1L))
    assert(AnnIndex.tombstonedCount(spark, idx) == 0L)
    assert(spark.read.parquet(s"$idx/postings.parquet")
      .orderBy("vec_id").collect().toSeq == before)
    // operator confirms the holder dead → break → mutations flow again,
    // and a successful mutation does not leave its lock behind
    AnnIndex.breakIndexLock(spark, idx)
    assert(AnnIndex.compactIvfIndex(spark, idx) == 32L)
    assert(!fs.exists(lock))
    // released on FAILURE too: the zero-survivor refusal inside
    // compactIvfIndex throws, but the next writer is not blocked
    AnnIndex.deleteFromIvfIndex(spark, idx,
      e.union(corpus(32).where(col("vec_id") >= 24)).select("vec_id"),
      "vec_id", del = 1L)
    intercept[IllegalStateException] { AnnIndex.compactIvfIndex(spark, idx) }
    assert(!fs.exists(lock),
      "a failed mutation must release the writer lock")
  }

  test("a crash-orphaned writer lock (dead pid, this host) self-heals: " +
      "the next mutation reclaims it unaided, while a live holder's " +
      "lock still refuses every entry point") {
    val dir = Files.createTempDirectory("graft_annreclaim").toString
    val idx = s"$dir/ivf"
    AnnIndex.buildIvfIndex(corpus(24), "vec_id", "embedding", idx, nCells = 3)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$idx/_writer_lock")
    // the kill -9 shape: a writer died without its finally — its lock
    // sits there stamped with a pid that no longer exists on this host
    assert(FsLock.tryAcquire(fs, lock,
      LockTestSupport.plantedStamp("appendToIvfIndex",
        LockTestSupport.deadPid)))
    // no breakIndexLock: the mutation itself proves the holder dead,
    // reclaims, runs, and releases
    assert(AnnIndex.appendToIvfIndex(spark, idx,
      corpus(32).where(col("vec_id") >= 24),
      "vec_id", "embedding", gen = 1L) == 8L)
    assert(!fs.exists(lock), "reclaimed lock must not outlive the mutation")
    assert(AnnIndex.listGenerations(spark, idx) == Seq(0L, 1L))
    // contrast — LIVE holder (this very process): conservative refusal,
    // nothing reclaimed, the holder's lock untouched
    val live = FsLock.holderStamp("compactIvfIndex")
    assert(FsLock.tryAcquire(fs, lock, live))
    val e = intercept[IllegalStateException] {
      AnnIndex.deleteFromIvfIndex(spark, idx,
        Seq(Tuple1(3L)).toDF("vec_id"), "vec_id", del = 1L)
    }
    assert(e.getMessage.contains("another writer holds"))
    assert(FsLock.holderInfo(fs, lock).contains(live),
      "a live holder's lock must survive the refused acquire")
    AnnIndex.breakIndexLock(spark, idx)
    // CROSS-HOST orphan (the pid is unprobeable from here — node loss
    // with the restart rescheduled elsewhere): the heartbeat lease is
    // the recovery path. Silent past the TTL the lost holder
    // ADVERTISED ⇒ the mutation reclaims unaided; heartbeat-fresh ⇒
    // conservative refusal stands
    assert(FsLock.tryAcquire(fs, lock,
      LockTestSupport.plantedStamp("appendToIvfIndex", 12345L,
        host = "lost-node-17", leaseTtlMs = Some(60000L))))
    fs.setTimes(lock, System.currentTimeMillis() - 120000L, -1L)
    try {
      assert(AnnIndex.appendToIvfIndex(spark, idx,
        corpus(40).where(col("vec_id") >= 32),
        "vec_id", "embedding", gen = 2L) == 8L)
      assert(!fs.exists(lock))
      assert(FsLock.tryAcquire(fs, lock,
        LockTestSupport.plantedStamp("compactIvfIndex", 12345L,
          host = "lost-node-17",
          leaseTtlMs = Some(60000L)))) // fresh mtime: lease live
      val e2 = intercept[IllegalStateException] {
        AnnIndex.compactIvfIndex(spark, idx)
      }
      assert(e2.getMessage.contains("another writer holds"))
    } finally {
      AnnIndex.breakIndexLock(spark, idx)
    }
  }

  test("stage -> fence -> rename: a writer whose lock is usurped WHILE " +
      "its distributed write runs aborts at the commit instant — the " +
      "tree is untouched, its completed stage never renamed, and the " +
      "usurper's lock survives") {
    val dir = Files.createTempDirectory("graft_annfence").toString
    val idx = s"$dir/ivf"
    AnnIndex.buildIvfIndex(corpus(24), "vec_id", "embedding", idx, nCells = 3)
    val before = spark.read.parquet(s"$idx/postings.parquet")
      .orderBy("vec_id").collect().toSeq
    val lockPath = s"$idx/_writer_lock"
    val usurper = LockTestSupport.plantedStamp("usurper", 424242L)
    // the wrong-break-mid-job shape, deterministically: a
    // nondeterministic UDF inside the APPEND's own write job breaks
    // the writer's lock and installs a usurper while the stage write
    // is still running (exactly what a TTL reclaim under a stalled
    // driver does); executed on the executors (same JVM, local mode)
    val breakAndUsurp = org.apache.spark.sql.functions.udf { (id: Long) =>
      val lp = java.nio.file.Paths.get(lockPath)
      val cur = try new String(java.nio.file.Files.readAllBytes(lp), "UTF-8")
        catch { case _: Exception => "" }
      if (!cur.startsWith("op=usurper")) {
        try {
          java.nio.file.Files.deleteIfExists(lp)
          java.nio.file.Files.write(lp, usurper.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
        } catch { case _: Exception => () } // a sibling task won the race
      }
      id
    }.asNondeterministic()
    val delta = corpus(32).where(col("vec_id") >= 24)
      .where(breakAndUsurp(col("vec_id")) >= 0L)
    val e = intercept[IllegalStateException] {
      AnnIndex.appendToIvfIndex(spark, idx, delta,
        "vec_id", "embedding", gen = 1L)
    }
    assert(e.getMessage.contains("fenced out"), e.getMessage)
    // the commit never happened: no gen=1 postings or meta, the tree
    // reads exactly as before, and the completed stage stayed hidden
    assert(AnnIndex.listGenerations(spark, idx) == Seq(0L))
    assert(spark.read.parquet(s"$idx/postings.parquet")
      .orderBy("vec_id").collect().toSeq == before,
      "a fenced-out writer's rows leaked into the live tree")
    // the fenced-out writer's finally must NOT have deleted the
    // usurper's lock (releaseOwned)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(FsLock.holderInfo(fs,
      new org.apache.hadoop.fs.Path(lockPath)).contains(usurper),
      "the usurper's lock must survive the fenced-out writer's exit")
    // recovery: break the (planted, dead) usurper and the same append
    // replays cleanly; the leftover stage is purged by its replayer
    AnnIndex.breakIndexLock(spark, idx)
    assert(AnnIndex.appendToIvfIndex(spark, idx,
      corpus(32).where(col("vec_id") >= 24),
      "vec_id", "embedding", gen = 1L) == 8L)
    assert(AnnIndex.listGenerations(spark, idx) == Seq(0L, 1L))
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$idx/postings.parquet"))
      .exists(_.getPath.getName.startsWith(".stage_")),
      "the replayer must purge its predecessor's stage leftovers")
  }

  test("searchIvfIndexFilteredConverged: a selective allowed set " +
      "(the sub-k norm) rides to the exhaustive width and returns the " +
      "true filtered top-k — never a starved result; every neighbor " +
      "is allowed and rows match the fixed filtered search") {
    val dir = Files.createTempDirectory("graft_annfconv").toString
    val e = corpus(40)
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf",
      nCells = 4, iters = 3)
    // allowed = cluster 3 only (vec_id % 4 == 3): for cluster-0
    // queries every near cell is empty of allowed rows at narrow
    // widths — the starved case
    val allowed = e.where(col("vec_id") % 4 === 3).select("vec_id")
    val q = e.where(col("vec_id") % 4 === 0 && col("vec_id") < 8)
    val conv = AnnIndex.searchIvfIndexFilteredConverged(spark,
        s"$dir/ivf", q, "vec_id", "embedding", allowed, "vec_id",
        k = 3, nProbe0 = 1)
      .collect()
    val allowedSet = allowed.as[Long].collect().toSet
    assert(conv.nonEmpty)
    assert(conv.forall(r => allowedSet(r.getAs[Long]("neighbor_id"))),
      "a disallowed neighbor surfaced")
    val byQ = conv.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == q.select("vec_id").as[Long].collect().toSet,
      "a starved query vanished instead of riding to exhaustive")
    byQ.foreach { case (qid, rs) =>
      assert(rs.length == 3, s"query $qid starved at ${rs.length} rows")
    }
    // row identity with the fixed filtered search at each used width
    conv.map(_.getAs[Int]("n_probe_used")).distinct.foreach { w =>
      val ids = byQ.collect {
        case (a, rs) if rs.head.getAs[Int]("n_probe_used") == w => a
      }.toSet
      val fixed = AnnIndex.searchIvfIndexFiltered(spark, s"$dir/ivf",
          q.where(col("vec_id").isin(ids.toSeq.map(Long.box): _*)),
          "vec_id", "embedding", allowed, "vec_id", k = 3, nProbe = w)
        .select("query_id", "neighbor_id", "rank", "cosine")
        .collect().map(_.toSeq).toSet
      val got = conv.filter(r => ids(r.getAs[Long]("query_id")))
        .map(r => Seq(r.getAs[Long]("query_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
          r.getAs[Double]("cosine"))).toSet
      assert(got == fixed, s"width-$w rows diverge from the fixed arm")
    }
  }

  test("converged ladder: a sub-k result identical at the first two " +
      "widths is not accepted; it rides to the exhaustive width") {
    val dir = Files.createTempDirectory("graft_annsubk").toString
    val e = corpus(40)
    AnnIndex.buildIvfIndex(e, "vec_id", "embedding", s"$dir/ivf",
      nCells = 4, iters = 3)
    // three allowed docs, all in query 0's own cluster: widths 1 and 2
    // both return the same two rows, short of k = 5
    val allowed = e.where(col("vec_id").isin(0L, 4L, 8L)).select("vec_id")
    val q = e.where(col("vec_id") === 0L)
    val conv = AnnIndex.searchIvfIndexFilteredConverged(spark,
        s"$dir/ivf", q, "vec_id", "embedding", allowed, "vec_id",
        k = 5, nProbe0 = 1)
      .collect()
    assert(conv.map(_.getAs[Long]("neighbor_id")).toSet == Set(4L, 8L))
    for (w <- Seq(1, 2)) {
      val fixed = AnnIndex.searchIvfIndexFiltered(spark, s"$dir/ivf", q,
          "vec_id", "embedding", allowed, "vec_id", k = 5, nProbe = w)
        .select("neighbor_id", "rank", "cosine").collect().map(_.toSeq).toSet
      assert(fixed == conv.map(r => Seq(r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"), r.getAs[Double]("cosine"))).toSet, s"width $w")
    }
    assert(conv.forall(_.getAs[Int]("n_probe_used") == 4),
      conv.map(_.getAs[Int]("n_probe_used")).mkString(","))
  }

  test("zero-downtime rebuild (versioned root + pointer swap): a " +
      "CONCURRENT reader never observes a torn quantizer/postings mix " +
      "while a full rebuild runs, the pointer advances atomically, the " +
      "old tree stays searchable until vacuum reclaims it") {
    val dir = Files.createTempDirectory("graft_annzdt").toString
    val root = s"$dir/idx"
    val small = corpus(24)
    val full = corpus(48)
    val (v1, _) = AnnIndex.rebuildIvfIndexVersioned(small, "vec_id",
      "embedding", root, nCells = 4, iters = 1)
    assert(v1 == 1L)
    val v1Search = AnnIndex.searchIvfIndex(spark,
        AnnIndex.currentIndexDir(spark, root),
        small.where(col("vec_id") < 4), "vec_id", "embedding",
        k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet
    // the reader: resolve the pointer ONCE per iteration, then read
    // BOTH artifacts from the SAME resolved tree. The two versions
    // differ in BOTH artifacts (4 cells/24 rows vs 8 cells/48 rows),
    // so any torn view — new quantizer over old postings or vice
    // versa — shows up as a (nCentroids, nPostings) pair outside the
    // two valid states. The pointer sequence must also be monotone.
    val valid = Set((4L, 24L), (8L, 48L))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var torn: Option[(Long, Long)] = None
    @volatile var readerErr: Option[Throwable] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      try while (!stop && torn.isEmpty) {
        val d = AnnIndex.currentIndexDir(spark, root)
        val nc = spark.read.parquet(s"$d/centroids.parquet").count()
        val np = spark.read.parquet(s"$d/postings.parquet").count()
        if (!valid((nc, np))) torn = Some((nc, np))
        seen.add(nc)
      } catch { case t: Throwable => readerErr = Some(t) }
    }, "graft-zdt-reader")
    reader.start()
    val v2 = try {
      val (v, _) = AnnIndex.rebuildIvfIndexVersioned(full, "vec_id",
        "embedding", root, nCells = 8, iters = 1)
      v
    } finally { stop = true; reader.join(60000) }
    assert(readerErr.isEmpty,
      s"a lock-free reader must never fail mid-rebuild: $readerErr")
    assert(torn.isEmpty, s"reader observed a torn view: $torn")
    import scala.jdk.CollectionConverters._
    val cells = seen.asScala.toSeq
    assert(cells.nonEmpty && cells == cells.sorted,
      s"pointer must move old -> new monotonically, saw $cells")
    assert(v2 == 2L &&
      Versioning.currentVersion(spark, root).contains(2L))
    // new tree serves the full corpus; the old tree is bit-identical
    // to its pre-rebuild self (time travel) until vacuum drops it
    val d2 = AnnIndex.currentIndexDir(spark, root)
    assert(spark.read.parquet(s"$d2/postings.parquet").count() == 48L)
    val v1Again = AnnIndex.searchIvfIndex(spark,
        AnnIndex.currentIndexDir(spark, root, version = Some(1L)),
        small.where(col("vec_id") < 4), "vec_id", "embedding",
        k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(v1Again == v1Search,
      "the superseded tree must read exactly as before the rebuild")
    assert(Versioning.vacuum(spark, root, keep = 1) == Seq(1L))
    intercept[IllegalArgumentException] {
      AnnIndex.currentIndexDir(spark, root, version = Some(1L))
    }
    assert(AnnIndex.currentIndexDir(spark, root) == s"$root/v=2")
  }
}
