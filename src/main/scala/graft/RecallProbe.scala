package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.ops.{Dedup, Similarity}

/** Diagnostic main: prints the measured recall of
  * the approximate paths vs their exact twins at a given SF dir, so
  * the contract-oracle floors in PipelineQueries are pinned to
  * evidence, not guesses. Run per scale:
  *
  *   sbt "runMain graft.RecallProbe /root/testdata/sf0.01"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // optional second arg "grid": run only the stored-index
    // (nCells, nProbe) grid — the section users iterate on when
    // picking an operating point at the big scales
    val onlyGrid = args.lift(1).contains("grid")
    val spark = Harness.session(32)
    import spark.implicits._

    // MinHash LSH vs exact Jaccard pairs
    if (!onlyGrid) {
    val docs = Tables.documents(spark, sfDir)
    val exactPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lshPairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 4, 8, 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    println(s"[recall-probe] sf=$sfDir minhash_lsh: exact=${exactPairs.size} " +
      s"lsh=${lshPairs.size} hit=${(exactPairs & lshPairs).size} " +
      s"recall=${(exactPairs & lshPairs).size.toDouble / math.max(exactPairs.size, 1)} " +
      s"false_pos=${(lshPairs -- exactPairs).size}")

    // Incremental (batch × corpus) LSH vs exact cross-side Jaccard —
    // pins q78's floor (the same band-collision process as q25, but
    // measured over the cross-side pair subset)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val exactCross = exactPairs.collect {
      case (a, b) if (a % 5 == 0) != (b % 5 == 0) =>
        if (a % 5 == 0) (a, b) else (b, a)
    }
    val incPairs = Dedup.incrementalLshPairs(corpus, batch, "doc_id", "text",
        3, 4, 8, 0.6)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    println(s"[recall-probe] sf=$sfDir incremental: exact=${exactCross.size} " +
      s"inc=${incPairs.size} hit=${(exactCross & incPairs).size} " +
      s"recall=${(exactCross & incPairs).size.toDouble / math.max(exactCross.size, 1)} " +
      s"false_pos=${(incPairs -- exactCross).size}")
    }

    // ANN LSH vs exact cosine, per query
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") < 10)
    lazy val exactCos = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    if (!onlyGrid) for ((np, nt) <- Seq((6, 4), (4, 8), (4, 16), (3, 16))) {
      val lshCos = Similarity.lshTopK(q, e, "vec_id", "embedding", k = 5,
          nPlanes = np, nTables = nt)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = exactCos.map { case (qid, ex) =>
        (lshCos.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
      println(s"[recall-probe] sf=$sfDir ann_lsh planes=$np tables=$nt: " +
        s"min=${recalls.min} mean=${recalls.sum / recalls.size} " +
        f"per-query=${recalls.toSeq.sorted.mkString(",")}")
    }

    // IVF vs exact dot, per query, at several probe widths
    lazy val exactDot = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5,
        simFn = (a, b) => graft.functions.decimalDotNative(a, b), simName = "dot")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    if (!onlyGrid) for (nCells <- Seq(8, 16); nProbe <- Seq(1, 2, 3)) {
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding", nCells, iters = 3)
      val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 5,
          nProbe = nProbe, centroids = Some(cents),
          simFn = (a, b) => graft.functions.decimalDotNative(a, b), simName = "dot")
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = exactDot.map { case (qid, ex) =>
        (ivf.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
      println(s"[recall-probe] sf=$sfDir ann_ivf cells=$nCells nProbe=$nProbe: " +
        s"min=${recalls.min} mean=${recalls.sum / recalls.size} " +
        s"per-query=${recalls.toSeq.sorted.mkString(",")}")
    }

    // STORED-INDEX (nCells, nProbe) GRID — the production-operating-
    // point curve (r14 order #1): mean recall@5 of searchIvfIndex vs
    // exact cosine across cell counts and probe widths, with the
    // probed fraction (nProbe/nCells — the scale-honest cost axis:
    // candidate work and postings bytes read scale with it) printed
    // beside each point. 50 queries (vs the 10 elsewhere) for 0.004
    // recall resolution. This is the curve a user picks (nCells,
    // nProbe) from; the pinned operating points live in
    // `graft.queries.Calibration` and NOTES.md.
    {
      import graft.ops.AnnIndex
      val gridRoot = java.nio.file.Files
        .createTempDirectory("graft_recall_grid").toString
      val qWide = e.where(col("vec_id") < 50)
      val exactWide = Similarity.bruteForceTopK(qWide, e,
          "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // the q158 attribute slice (half the corpus) and its exact
      // FILTERED twin — the filtered-converged mode's truth set
      val allowedE = e.where(col("label") % 2 === 0)
      val exactFilt = Similarity.bruteForceTopK(qWide, allowedE,
          "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for (nCells <- Seq(8, 16, 32, 64)) {
        val dir = s"$gridRoot/c$nCells"
        AnnIndex.buildIvfIndex(e, "vec_id", "embedding", dir,
          nCells = nCells, iters = 3)
        val widths = Seq(1, 2, 3, 4, 8, 16, 32, 64)
          .filter(_ <= nCells).distinct
        val line = widths.map { nProbe =>
          val got = AnnIndex.searchIvfIndex(spark, dir, qWide,
              "vec_id", "embedding", k = 5, nProbe = nProbe)
            .select("query_id", "neighbor_id").as[(Long, Long)].collect()
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          val rs = exactWide.map { case (qid, ex) =>
            (got.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
          f"p=$nProbe%d(${nProbe.toDouble / nCells}%.2f):" +
            f"${rs.sum / rs.size}%.3f"
        }.mkString(" ")
        println(s"[recall-probe] sf=$sfDir ivf_grid cells=$nCells " +
          s"mean_recall@5 [p=nProbe(frac):recall] $line")
        // the adaptive ladder at the same tree: what recall does
        // per-query probe widening actually land on, and what width
        // does the average query pay for it
        val conv = AnnIndex.searchIvfIndexConverged(spark, dir, qWide,
            "vec_id", "embedding", k = 5, nProbe0 = 1)
          .select("query_id", "neighbor_id", "n_probe_used")
          .as[(Long, Long, Int)].collect()
        val convSets = conv.groupBy(_._1).view
          .mapValues(_.map(_._2).toSet).toMap
        val convRs = exactWide.map { case (qid, ex) =>
          (convSets.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
        val usedByQ = conv.groupBy(_._1).view
          .mapValues(_.head._3).toMap
        val meanUsed = usedByQ.values.sum.toDouble /
          math.max(usedByQ.size, 1)
        println(f"[recall-probe] sf=$sfDir ivf_converged cells=$nCells " +
          f"nProbe0=1: mean_recall@5=${convRs.sum / convRs.size}%.3f " +
          f"mean_n_probe_used=$meanUsed%.1f " +
          f"(mean probed frac=${meanUsed / nCells}%.2f)")
        // the FILTERED converged mode on the same tree (q158): recall
        // vs the exact filtered twin plus the width the average query
        // paid — a selective allowed set starves narrow probes, so
        // the ladder is expected to ride higher than the unfiltered
        // mode on the same tree
        val fconv = AnnIndex.searchIvfIndexFilteredConverged(spark, dir,
            qWide, "vec_id", "embedding", allowedE.select("vec_id"),
            "vec_id", k = 5, nProbe0 = 1)
          .select("query_id", "neighbor_id", "n_probe_used")
          .as[(Long, Long, Int)].collect()
        val fSets = fconv.groupBy(_._1).view
          .mapValues(_.map(_._2).toSet).toMap
        val fRs = exactFilt.map { case (qid, ex) =>
          (fSets.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
        val fUsed = fconv.groupBy(_._1).view.mapValues(_.head._3).toMap
        val fMean = fUsed.values.sum.toDouble / math.max(fUsed.size, 1)
        println(f"[recall-probe] sf=$sfDir ivf_filtered_converged " +
          f"cells=$nCells nProbe0=1 allowed=label%%2==0: " +
          f"mean_recall@5=${fRs.sum / fRs.size}%.3f " +
          f"mean_n_probe_used=$fMean%.1f " +
          f"(mean probed frac=${fMean / nCells}%.2f)")
      }
      // TWO-LEVEL index (r15 order #2) at 8×8 = 64 effective cells:
      // recall at probed fractions MATCHED against the flat cells=64
      // grid line above — the equal-probed-fraction contract datum.
      // Probed fraction ≈ (nPC/8)·(nPF/8).
      {
        val dir2 = s"$gridRoot/two8x8"
        AnnIndex.buildIvfIndexTwoLevel(e, "vec_id", "embedding", dir2,
          nCoarse = 8, nFinePerCell = 8, iters = 3, pqM = Some(8))
        val line = Seq((2, 4), (4, 4), (4, 8), (8, 8)).map {
          case (pc, pf) =>
            val got = AnnIndex.searchIvfIndexTwoLevel(spark, dir2, qWide,
                "vec_id", "embedding", k = 5,
                nProbeCoarse = pc, nProbeFine = pf)
              .select("query_id", "neighbor_id").as[(Long, Long)].collect()
              .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
            val rs = exactWide.map { case (qid, ex) =>
              (got.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
            f"pc=$pc%d,pf=$pf%d(${pc * pf / 64.0}%.2f):${rs.sum / rs.size}%.3f"
        }.mkString(" ")
        println(s"[recall-probe] sf=$sfDir ivf2 coarse=8 fine=8 " +
          s"mean_recall@5 [pc,pf(frac):recall] $line")
        // the converged ladder on the same tree (coarse-width dial,
        // fine exhaustive — terminal exactness), and the quantized
        // codes-shortlist arm at the half-fraction point
        val cv = AnnIndex.searchIvfIndexTwoLevelConverged(spark, dir2,
            qWide, "vec_id", "embedding", k = 5, nProbeCoarse0 = 1)
          .select("query_id", "neighbor_id", "n_probe_used")
          .as[(Long, Long, Int)].collect()
        val cvSets = cv.groupBy(_._1).view
          .mapValues(_.map(_._2).toSet).toMap
        val cvRs = exactWide.map { case (qid, ex) =>
          (cvSets.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
        val cvUsed = cv.groupBy(_._1).view.mapValues(_.head._3).toMap
        val cvMean = cvUsed.values.sum.toDouble / math.max(cvUsed.size, 1)
        println(f"[recall-probe] sf=$sfDir ivf2_converged coarse=8 " +
          f"fine=8 nPC0=1: mean_recall@5=${cvRs.sum / cvRs.size}%.3f " +
          f"mean_coarse_width=$cvMean%.1f " +
          f"(mean coarse frac=${cvMean / 8}%.2f)")
        val qz = AnnIndex.searchIvfIndexTwoLevelQuantized(spark, dir2,
            qWide, "vec_id", "embedding", k = 5,
            nProbeCoarse = 4, nProbeFine = 8, rerankFactor = 4)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val qzRs = exactWide.map { case (qid, ex) =>
          (qz.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
        println(f"[recall-probe] sf=$sfDir ivf2_quantized coarse=8 " +
          f"fine=8 pc=4 pf=8 rerank=4: " +
          f"mean_recall@5=${qzRs.sum / qzRs.size}%.3f " +
          f"(exact arm at the same point: the frac-0.50 ivf2 value)")
        // the PQ codes-shortlist arm at the same point: m=8 BYTES per
        // candidate across the join (8× narrower than int8, 32× than
        // float) — the recall cost of that narrowing at rerank=4
        val pq = AnnIndex.searchIvfIndexTwoLevelPq(spark, dir2,
            qWide, "vec_id", "embedding", k = 5,
            nProbeCoarse = 4, nProbeFine = 8, rerankFactor = 4)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val pqRs = exactWide.map { case (qid, ex) =>
          (pq.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
        println(f"[recall-probe] sf=$sfDir ivf2_pq coarse=8 fine=8 " +
          f"m=8 ks=256 pc=4 pf=8 rerank=4: " +
          f"mean_recall@5=${pqRs.sum / pqRs.size}%.3f")
      }
    }

    // Quantized-rerank IVF (int8 candidate scoring + exact re-rank)
    // vs exact — pins q75's floor. Also printed: the full-precision
    // IVF twin at the same parameters, isolating the quantization
    // loss from the cell-blocking loss.
    if (!onlyGrid) {
    val cents8 = Similarity.trainIvfCentroids(e, "vec_id", "embedding", 8, iters = 3)
    for (rf <- Seq(1, 2, 4)) {
      val qr = Similarity.ivfTopKQuantizedRerank(q, e, "vec_id", "embedding", k = 5,
          nProbe = 3, rerankFactor = rf, centroids = Some(cents8),
          simFn = (a, b) => graft.functions.decimalDotNative(a, b), simName = "dot")
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = exactDot.map { case (qid, ex) =>
        (qr.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
      val full = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 5,
          nProbe = 3, centroids = Some(cents8),
          simFn = (a, b) => graft.functions.decimalDotNative(a, b), simName = "dot")
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val fullRecalls = exactDot.map { case (qid, ex) =>
        (full.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
      println(s"[recall-probe] sf=$sfDir ann_quantized cells=8 nProbe=3 rerank=$rf: " +
        s"min=${recalls.min} mean=${recalls.sum / recalls.size} " +
        s"(full-precision ivf min=${fullRecalls.min} mean=${fullRecalls.sum / fullRecalls.size}) " +
        s"per-query=${recalls.toSeq.sorted.mkString(",")}")
    }

    }

    // Sampled-vs-full centroid training parity (trainSampleCap):
    // recall through centroids trained on a bounded sample vs the
    // full corpus, same IVF parameters — pins the claim that the
    // sample cap does not cost recall at coarse-quantizer granularity.
    if (!onlyGrid) for (cap <- Seq(64, 256)) {
      val sampled = Similarity.trainIvfCentroids(e, "vec_id", "embedding", 8,
        iters = 3, trainSampleCap = cap)
      val viaSampled = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 5,
          nProbe = 3, centroids = Some(sampled),
          simFn = (a, b) => graft.functions.decimalDotNative(a, b), simName = "dot")
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = exactDot.map { case (qid, ex) =>
        (viaSampled.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
      println(s"[recall-probe] sf=$sfDir ivf_train_cap=$cap cells=8 nProbe=3: " +
        s"min=${recalls.min} mean=${recalls.sum / recalls.size}")
    }

    // Projected-shortlist rerank (q103): JL 32-dim shortlist + exact
    // cosine re-rank vs exact cosine — pins ProjectedRecallFloor.
    if (!onlyGrid) for (rf <- Seq(4, 8)) {
      val pr = Similarity.projectedRerankTopK(q, e, "vec_id", "embedding",
          k = 5, projDim = 32, rerankFactor = rf)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = exactCos.map { case (qid, ex) =>
        (pr.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
      println(s"[recall-probe] sf=$sfDir ann_projected projDim=32 rerank=$rf: " +
        s"min=${recalls.min} mean=${recalls.sum / recalls.size} " +
        s"per-query=${recalls.toSeq.sorted.mkString(",")}")
    }

    // Composed projected+quantized shortlist (q105): JL shortlist,
    // int8 mid-trim, exact re-rank vs exact cosine — pins
    // ProjectedQuantizedRecallFloor. Printed beside the pure
    // projected path at the same shortlist width, isolating the
    // int8-trim loss from the JL-shortlist loss.
    // the pure-projected baseline depends only on the shortlist
    // width — memoized so the duplicated sf0=16 tuples don't rerun
    // an identical shortlist+rerank job
    val pureBySf0 = scala.collection.mutable.Map.empty[Int, Map[Long, Set[Long]]]
    if (!onlyGrid) for ((sf0, rf) <- Seq((16, 4), (16, 8), (32, 8))) {
      val pq = Similarity.projectedQuantizedRerankTopK(q, e, "vec_id", "embedding",
          k = 5, projDim = 32, shortlistFactor = sf0, rerankFactor = rf)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = exactCos.map { case (qid, ex) =>
        (pq.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
      val pureProj = pureBySf0.getOrElseUpdate(sf0,
        Similarity.projectedRerankTopK(q, e, "vec_id", "embedding",
            k = 5, projDim = 32, rerankFactor = sf0)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
      val projRecalls = exactCos.map { case (qid, ex) =>
        (pureProj.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
      println(s"[recall-probe] sf=$sfDir ann_proj_quant shortlist=$sf0 rerank=$rf: " +
        s"min=${recalls.min} mean=${recalls.sum / recalls.size} " +
        s"(pure projected at same width mean=${projRecalls.sum / projRecalls.size}) " +
        s"per-query=${recalls.toSeq.sorted.mkString(",")}")
    }
    // INDEX-LIFECYCLE recall (r12 order #5): the production steady
    // state is build → append (drift) → takedown deletes → nightly
    // maintenance, and the maintenance pass has two arms — compact
    // (fold + purge under FROZEN centroids) or maybeRetrain's rebuild
    // (FRESH centroids over the survivors). RecallProbe pinned fresh
    // and appended trees only; this measures recall@k through each
    // lifecycle state so the floors cover the steady state too.
    // Tombstoned ≡ compacted is an identity law (q141's three-arm
    // contract) — printed here as evidence, the interesting datum is
    // frozen-centroid-over-survivors vs fresh-centroid-over-survivors.
    if (!onlyGrid) {
      import graft.ops.AnnIndex
      val lcRoot = java.nio.file.Files
        .createTempDirectory("graft_recall_lc").toString
      val base = e.where(col("vec_id") % 4 =!= 0)          // 75%: the build
      val delta = e.where(col("vec_id") % 4 === 0)         // 25%: the drift
      val delPred = col("vec_id") % 10 >= 1 &&
        col("vec_id") % 10 <= 3 && col("vec_id") >= 10     // ~30% takedown
      val survivors = e.where(!delPred)
      val exactSurv = Similarity.bruteForceTopK(q, survivors,
          "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def recallLine(tag: String, dir: String,
          truth: Map[Long, Set[Long]]): Unit = {
        val got = AnnIndex.searchIvfIndex(spark, dir, q,
            "vec_id", "embedding", k = 5, nProbe = 3)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val rs = truth.map { case (qid, ex) =>
          (got.getOrElse(qid, Set.empty) & ex).size.toDouble / ex.size }
        println(s"[recall-probe] sf=$sfDir ivf_lifecycle $tag cells=16 " +
          s"nProbe=3: min=${rs.min} mean=${rs.sum / rs.size}")
      }
      for (arm <- Seq("compact", "retrain")) {
        val dir = s"$lcRoot/$arm"
        AnnIndex.buildIvfIndex(base, "vec_id", "embedding", dir,
          nCells = 16, iters = 3)
        AnnIndex.appendToIvfIndex(spark, dir, delta,
          "vec_id", "embedding", gen = 1L)
        if (arm == "compact")
          recallLine("post_append(full corpus)", dir, exactCos)
        AnnIndex.deleteFromIvfIndex(spark, dir,
          e.where(delPred).select("vec_id"), "vec_id", del = 1L)
        if (arm == "compact") {
          recallLine("tombstoned(vs survivors)", dir, exactSurv)
          AnnIndex.compactIvfIndex(spark, dir)
          recallLine("compacted_frozen_centroids", dir, exactSurv)
        } else {
          // appendedFraction = 1/3 ≥ τ ⇒ maybeRetrain takes the
          // rebuild arm: fresh centroids over the survivor corpus
          val retrained = AnnIndex.maybeRetrain(spark, dir, survivors,
            "vec_id", "embedding", nCells = 16, tau = 0.2, iters = 3)
          recallLine(s"maybeRetrain_fresh_centroids(fired=$retrained)",
            dir, exactSurv)
        }
      }
    }
    spark.stop()
  }
}
