package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.decimalDot
import graft.ops.{Bpe, Dedup, LanguageModel, Multimodal, PerplexityBuckets, Retrieval, Sampling, Selection, Similarity, TextOps}
import graft.streaming.EventStreams

/** LLM-training-data pipeline operators (builder prompt: dedup,
  * similarity search, multimodal, text analysis) plus event analytics.
  *
  * Oracle-exactness rules as in ParityQueries: total ORDER BY, decimal
  * arithmetic for anything summed, doubles only where both engines
  * compute the identical IEEE expression shape. Hash-based operators
  * (minhash/simhash/fingerprint/LSH) have no portable SQL equivalent →
  * registered without oracle (rows-only check) and verified in specs.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Shared tail of the media-dedup queries (q76/q77): banded
    * Hamming-≤maxDist pairing over the per-media code frame,
    * symmetrized partner counts in ONE pass over the pair list
    * (explode, not a union that would re-execute the candidate join
    * twice), joined back onto every media row (unpaired → 0). The
    * incoming code frame is localCheckpointed HERE — it feeds three
    * plan references (both sides of the banded self-join + the final
    * projection) and the decode scan behind it is the expensive stage
    * at real scale; enforcing the run-once contract inside the helper
    * means no caller can silently reintroduce a 3× decode (r10 review
    * finding: the contract used to be a scaladoc convention).
    */
  private def mediaPartnerCounts(rawCodes: DataFrame, codeCol: String,
      maxDist: Int, nBits: Int): DataFrame = {
    val codes = rawCodes.localCheckpoint(false)
    val pairs = Dedup.perceptualDupPairs(codes, "media_id", codeCol,
      maxDist, nBits)
    val partners = pairs
      .select(explode(array(
        struct(col("id_a").as("id"), col("id_b")),
        struct(col("id_b").as("id"), col("id_a").as("id_b")))).as("e"))
      .groupBy(col("e.id").as("id")).agg(count(lit(1)).as("n_partners"))
    codes.join(partners, codes("media_id") === partners("id"), "left")
      .select(col("media_id"), col("format"), col(codeCol),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"))
      .orderBy("media_id")
  }

  val queries: Map[String, Q] = Map(
    // Streaming-shaped batch: hourly rollup (same transform serves
    // readStream with a watermark — graft.streaming.EventStreams).
    "q16_events_hourly" -> { (s, dir) =>
      EventStreams.hourlyRollup(Tables.events(s, dir))
        .orderBy("hour", "event_type")
    },

    // Gaps-and-islands sessionization (30-minute inactivity gap).
    "q17_sessionization" -> { (s, dir) =>
      EventStreams.sessionize(Tables.events(s, dir), 30)
        .orderBy("user_id", "session_seq")
    },

    // Token counting: whitespace tokens + BPE-ish subword proxy.
    "q18_token_count" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.bpeishTokenCount(col("text")).as("n_subtokens"))
        .orderBy("doc_id")
    },

    // Quality scoring: length/token/stopword/alpha signals + composite.
    "q19_quality_score" -> { (s, dir) =>
      val nTok = TextOps.tokenCount(col("text")).cast("double")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          ((length(col("text")).cast("double") - (nTok - lit(1.0))) /
            greatest(nTok, lit(1.0))).as("mean_tok_len"),
          TextOps.alphaRatio(col("text")).as("alpha_ratio"),
          (TextOps.stopwordHits(col("text"), TextOps.EnStopwords).cast("double") /
            greatest(nTok, lit(1.0))).as("stop_ratio"),
          TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // Language ID: per-language marker scores + argmax with
    // deterministic tie-break.
    "q20_lang_id" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(Seq(col("doc_id")) ++
          TextOps.LangMarkers.map { case (lang, words) =>
            TextOps.stopwordHits(col("text"), words).as(s"score_$lang")
          } ++ Seq(TextOps.langId(col("text")).as("pred_lang")): _*)
        .orderBy("doc_id")
    },

    // Document fingerprinting (rolling k-gram hashes). The hash VALUES
    // are engine-specific (xxhash64 — bit-identity is spec-tested, incl.
    // the native≡declarative parity spec), so the driver-compared output
    // is the per-doc fingerprint CONTRACT, which a SQL oracle states
    // exactly: defined ⟺ the text has ≥ k characters, and min ≤ max
    // whenever defined.
    "q21_fingerprint" -> { (s, dir) =>
      TextOps.fingerprints(Tables.documents(s, dir), "doc_id", "text", 8)
        .select(col("doc_id"),
          col("min_gram_hash").isNotNull.as("fp_defined"),
          coalesce(col("min_gram_hash") <= col("max_gram_hash"), lit(true))
            .as("min_le_max"))
        .orderBy("doc_id")
    },

    // Exact dedup: survivor = lowest doc_id per identical text.
    "q22_dedup_exact" -> { (s, dir) =>
      Dedup.exactDedup(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // Per-doc TF-IDF keywords: top-5 terms by tf·idf6 (add-one
    // smoothed, scale-6 quantized ln — exact long scores, ranking
    // replays in SQL; term-asc tiebreak).
    "q130_tfidf_keywords" -> { (s, dir) =>
      Retrieval.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rk")
    },

    // Corpus collocations (Church & Hanks PMI): adjacent pairs with
    // ≥ 5 occurrences scored by the fixed sum-of-lns expression shape
    // (each ln of an exact integer, floor-quantized) — hash-exact.
    "q131_pmi_collocations" -> { (s, dir) =>
      LanguageModel.collocationsPmi(Tables.documents(s, dir),
          "doc_id", "text", minCount = 5L)
        .orderBy("a", "b")
    },

    // Quality-phased curriculum order — the anneal recipe: phase =
    // thresholds cleared by q19's quality composite (0.5 / 0.9461,
    // both known to split the fixture at every scale), within-phase
    // order the q111 bijective permutation, global positions via the
    // bucketed prefix sum. Hash-exact: quality is q19's oracle-exact
    // composite, the permutation and positions are integer closed
    // forms.
    "q128_curriculum_order" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
      Sampling.curriculumOrder(docs, "doc_id", "q",
          phaseThresholds = Seq(0.5, 0.9461))
        .orderBy("doc_id")
    },

    // SOFT dedup: every exact-duplicate copy downweighted to
    // 1/n_copies (cluster mass = one doc) instead of dropped — the
    // repetition-aware sampling weight. Only (id, hash) shuffles;
    // the oracle clusters on the text itself, so an xxhash64
    // collision would mismatch loudly rather than pass.
    "q127_soft_dedup" -> { (s, dir) =>
      Dedup.softDedupWeights(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Near-exact dedup after whitespace/case normalization.
    "q23_dedup_normalized" -> { (s, dir) =>
      Dedup.normalizedDedup(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // n-gram Jaccard near-dup pairs via shingle inverted-index join.
    "q24_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.6)
        .orderBy("id_a", "id_b")
    },

    // Asymmetric containment (|S(A)∩S(B)| / |S(A)|): the DIRECTED
    // dedup measure that catches a short doc fully quoted inside a
    // long one (containment ≈ 1 while Jaccard ≈ |A|/|B| stays under a
    // symmetric threshold). Same exact postings machinery as q24
    // (shared helper); FULLY hash-exact per directed pair.
    "q112_containment" -> { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.6)
        .orderBy("contained_id", "container_id")
    },

    // MinHash + banded LSH, verified with exact Jaccard — the 100 TB
    // dedup shape (4 bands × 8 rows: j≈0.99 near-dups collide with
    // probability ~1, j≈0.6 false candidates at ~0.6^8 per band).
    // CONTRACT oracle (round-4 pattern): the pair set itself is hash-
    // dependent, but (a) every verified pair must be in the exact-
    // Jaccard pair set (n_false_pos = 0 — the verify step recomputes
    // exact Jaccard, so a nonzero count means the verify is broken),
    // and (b) recall vs the exact path (q24's twin, computed in-plan)
    // meets a measured floor. One full-outer join + one aggregate.
    "q25_minhash_lsh" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.6)
        .select("id_a", "id_b").withColumn("in_exact", lit(true))
      val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, bands = 4, rowsPerBand = 8, threshold = 0.6)
        .select("id_a", "id_b").withColumn("in_lsh", lit(true))
      // coalesce: a global agg over an EMPTY pair set yields null sums
      // (a legitimately dup-free corpus must read 0/0/true, not null)
      exact.join(lsh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(when(col("in_exact"), 1L).otherwise(0L)), lit(0L))
            .as("n_exact"),
          coalesce(sum(when(col("in_lsh") && col("in_exact").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_false_pos"),
          coalesce(sum(when(col("in_lsh") && col("in_exact"), 1L)
            .otherwise(0L)), lit(0L)).as("n_hit"))
        .select(col("n_exact"), col("n_false_pos"),
          (col("n_hit").cast("double") >=
            col("n_exact").cast("double") * Calibration.MinhashRecallFloor)
            .as("recall_floor_met"))
    },

    // SimHash 64-bit fingerprints, Hamming ≤ 3 via quarter-banding.
    // CONTRACT oracle: quarter-banding is EXHAUSTIVE for maxDist ≤ 3
    // (pigeonhole — 4 quarters, ≤3 differing bits, so one quarter is
    // untouched), so the banded pair set must EQUAL the brute-force
    // Hamming set. The brute arm runs over a BOUNDED deterministic
    // sample (the 2,000 lowest-xxhash64 docs; ≤2M fingerprint
    // comparisons at ANY fixture scale) with the banded set
    // restricted to the same ids — banding is per-document, so the
    // pigeonhole equality holds verbatim on the sampled subset. The
    // production path is the banded join; only the verification arm
    // is sampled.
    "q26_simhash" -> { (s, dir) =>
      val sampleCap = 2000
      val docs = Tables.documents(s, dir)
      val fp = Dedup.simhashFingerprints(docs, "doc_id", "text")
      // localCheckpoint: the sample feeds FOUR plan references (brute
      // self-join twice, two semi-join broadcasts) — without it the
      // full-corpus fingerprint scan re-executes per reference
      val sampled = fp
        .withColumn("__h", xxhash64(col("doc")))
        .orderBy(col("__h"), col("doc")).limit(sampleCap)
        .select("doc", "fp")
        .localCheckpoint(false)
      val brute = sampled.select(col("doc").as("id_a"), col("fp").as("fp_a"))
        .join(sampled.select(col("doc").as("id_b"), col("fp").as("fp_b")),
          col("id_a") < col("id_b"))
        .where(Dedup.hamming64(col("fp_a"), col("fp_b")) <= 3)
        .select("id_a", "id_b").withColumn("in_brute", lit(true))
      val sampleIds = sampled.select(col("doc"))
      val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
        .join(broadcast(sampleIds.withColumnRenamed("doc", "id_a")),
          Seq("id_a"), "left_semi")
        .join(broadcast(sampleIds.withColumnRenamed("doc", "id_b")),
          Seq("id_b"), "left_semi")
        .select("id_a", "id_b").withColumn("in_band", lit(true))
      val counts = brute.join(banded, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(when(col("in_brute") && col("in_band").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_missed"),
          coalesce(sum(when(col("in_band") && col("in_brute").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_spurious"))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(counts)
    },

    // Embedding near-dup pairs: exact decimal dot product (order-
    // independent ⇒ oracle-exact), blocked by label. A fast double-dot
    // prefilter (margin 0.01 ≫ double-summation error) keeps the
    // expensive exact-decimal arithmetic off the non-candidate pairs.
    "q27_embedding_neardup" -> { (s, dir) =>
      import graft.functions.decimalDotNative
      // all-pairs-in-block decimal dots are CPU-bound → scan at width
      val e = Tables.fanOut(s, Tables.embeddings(s, dir))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("label"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("label"))
      a.join(b, Seq("label")).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          decimalDotNative(col("va"), col("vb")).as("dot"))
        .where(col("dot") >= 0.25)
        .orderBy("id_a", "id_b")
    },

    // Brute-force ANN top-k (exact baseline): 10 query vectors vs the
    // full corpus, ranked by exact decimal dot, deterministic tiebreak.
    "q28_ann_topk" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
          e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
          simFn = (q, c) => graft.functions.decimalDotNative(q, c), simName = "dot")
        .orderBy("query_id", "rank")
    },

    // LSH-bucketed ANN (the scale path). CONTRACT oracle, per query:
    // recall@5 vs the exact cosine path (computed in-plan, the q47
    // twin) meets a measured floor; ranks are dense 1..n with no
    // self-matches. The neighbor ids themselves are bucket-dependent.
    // 4 planes × 16 tables: RecallProbe (r6) measured per-query min
    // recall 0.6 at ALL of sf0.001/0.01/0.1 — the 0.4 floor keeps one
    // whole hit of margin. (6×4 measured min 0.0 — planes too
    // selective for this corpus's weak clustering.)
    "q29_ann_lsh" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").withColumn("in_exact", lit(true))
      val lsh = Similarity.lshTopK(q, e, "vec_id", "embedding",
          k = 5, nPlanes = 4, nTables = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .withColumn("in_lsh", lit(true))
      exact.join(lsh, Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(
          sum(when(col("in_exact") && col("in_lsh"), 1L).otherwise(0L)).as("n_hit"),
          sum(when(col("in_exact"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("in_lsh"), 1L).otherwise(0L)).as("n_lsh"),
          max(when(col("in_lsh"), col("rank"))).as("max_rank"),
          count_distinct(when(col("in_lsh"), col("rank"))).as("n_ranks"),
          sum(when(col("in_lsh") && col("neighbor_id") === col("query_id"), 1L)
            .otherwise(0L)).as("n_self"))
        .select(col("query_id"),
          (col("n_hit").cast("double") >=
            col("n_exact").cast("double") * Calibration.LshRecallFloor)
            .as("recall_floor_met"),
          (coalesce(col("max_rank"), lit(0)) === col("n_lsh") &&
            col("n_ranks") === col("n_lsh")).as("ranks_valid"),
          (col("n_self") === 0L).as("self_excluded"))
        .orderBy("query_id")
    },

    // Margin-based bitext mining (Artetxe & Schwenk ratio margin, the
    // LASER/CCMatrix parallel-corpus shape): even vec_ids play the
    // source language, odd the target; k=4 neighborhoods both ways,
    // mutual margin-best pairs above 1.0 mined. FULLY oracle-exact:
    // cosines are scaled-integer exact (q47), each floor-quantized to
    // a scale-9 long so neighborhood sums are exact integers, and the
    // margin is one IEEE division — the oracle replays every
    // candidate, margin, mutual flag, and mined bit.
    "q125_bitext_mine" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      Similarity.bitextMine(
          e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, marginThreshold = 1.0)
        .orderBy("src_id", "tgt_id")
    },

    // Cosine ANN top-k with an ORACLE-EXACT metric: every dot is
    // scaled-integer exact and sqrt/divide are single correctly-rounded
    // IEEE ops, so even the float similarity values hash-match.
    "q47_cosine_topk" -> { (s, dir) =>
      import graft.functions.cosineExact
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
          e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
          simFn = (q, c) => cosineExact(q, c), simName = "cosine")
        .orderBy("query_id", "rank")
    },

    // Hard-negative mining for embedding training: each anchor's k
    // NEAREST vectors with a DIFFERENT label — the almost-positives a
    // contrastive loss learns the most from. The label predicate
    // filters candidate pairs BEFORE the k-bounding (q143's
    // pre-filter lesson: post-filtering starves exactly the anchors
    // whose neighborhoods are same-label — the ones that matter).
    "q151_hard_negatives" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegativesTopK(
          e.where(col("vec_id") < 10), e, "vec_id", "embedding", "label",
          k = 5)
        .orderBy("query_id", "rank")
    },

    // Near-dup clustering: Jaccard pairs → connected components →
    // cluster label (= min-id survivor) per member document.
    "q48_dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        "doc_id", "text", n = 3, threshold = 0.6)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster"))
        .orderBy("doc_id")
    },

    // IVF ANN (the second scale path besides LSH): deterministic
    // hash-seeded k-means centroids, multi-probe cell-blocked
    // candidate search, exact re-rank. CONTRACT oracle: cells
    // PARTITION the corpus (every vector gets exactly one cell in
    // [0, k)), and mean recall@5 vs the exact dot-product path (the
    // q28 twin, in-plan) meets a measured floor — cell membership
    // itself depends on the hash-seeded training trajectory.
    // 8 cells × 3 probes: RecallProbe (r6) measured mean recall
    // 0.60-0.66 at all of sf0.001/0.01/0.1 vs the 0.5 floor.
    "q41_ann_ivf" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding", k = 8, iters = 3)
      val assigned = Similarity.ivfAssign(e, "embedding", cents)
      val cellStats = assigned.agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("cell").isNull || col("cell") < 0 || col("cell") >= 8, 1L)
          .otherwise(0L)).as("n_bad_cell"))
      val ivf = Similarity.ivfTopK(
          e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
          nProbe = 3, centroids = Some(cents),
          simFn = (a, b) => graft.functions.decimalDotNative(a, b), simName = "dot")
        .select("query_id", "neighbor_id").withColumn("in_ivf", lit(true))
      val exact = Similarity.bruteForceTopK(
          e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
          simFn = (a, b) => graft.functions.decimalDotNative(a, b), simName = "dot")
        .select("query_id", "neighbor_id").withColumn("in_exact", lit(true))
      val recall = exact.join(ivf, Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(
          sum(when(col("in_exact") && col("in_ivf"), 1L).otherwise(0L)).as("n_hit"),
          sum(when(col("in_exact"), 1L).otherwise(0L)).as("n_exact"))
        .agg(count(lit(1)).as("n_queries"),
          // vacuously true on an empty query set (avg of none is null)
          coalesce(avg(col("n_hit").cast("double") /
            col("n_exact").cast("double")), lit(1.0)).as("mean_recall"))
      cellStats.crossJoin(recall).select(
        col("n_vectors"),
        coalesce(col("n_bad_cell"), lit(0L)).as("n_bad_cell"),
        col("n_queries"),
        (col("mean_recall") >= Calibration.IvfMeanRecallFloor)
          .as("recall_floor_met"))
    },

    // Quantized-candidate IVF ANN (int8 scoring + exact re-rank —
    // the search path q74's codes exist for). CONTRACT oracle:
    // (a) mean recall@5 vs the exact dot path meets the same 0.5
    // floor as q41 — RecallProbe (r7) measured the quantized path
    // recall-IDENTICAL to full-precision IVF at every scale and
    // every rerankFactor (mean 0.60-0.66 at sf0.001/0.01/0.1);
    // (b) every returned score EQUALS the independently recomputed
    // full-precision dot for that pair — proof the int8 approximation
    // never leaks into the final scores, only into candidate choice;
    // (c) no self-matches.
    "q75_ann_quantized" -> { (s, dir) =>
      import graft.functions.decimalDotNative
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding", k = 8, iters = 3)
      val quant = Similarity.ivfTopKQuantizedRerank(q, e, "vec_id", "embedding",
        k = 5, nProbe = 3, rerankFactor = 4, centroids = Some(cents),
        simFn = (a, b) => decimalDotNative(a, b), simName = "dot")
      val qv = e.select(col("vec_id").as("query_id"), col("embedding").as("qv2"))
      val cv = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv2"))
      val fidelity = quant
        .join(qv, Seq("query_id")).join(cv, Seq("neighbor_id"))
        .agg(
          coalesce(sum(when(col("dot") =!=
            decimalDotNative(col("qv2"), col("cv2")), 1L).otherwise(0L)), lit(0L))
            .as("n_inexact_score"),
          coalesce(sum(when(col("query_id") === col("neighbor_id"), 1L)
            .otherwise(0L)), lit(0L)).as("n_self"))
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5,
          simFn = (a, b) => decimalDotNative(a, b), simName = "dot")
        .select("query_id", "neighbor_id").withColumn("in_exact", lit(true))
      val recall = exact
        .join(quant.select("query_id", "neighbor_id").withColumn("in_q", lit(true)),
          Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(
          sum(when(col("in_exact") && col("in_q"), 1L).otherwise(0L)).as("n_hit"),
          sum(when(col("in_exact"), 1L).otherwise(0L)).as("n_exact"))
        .agg(count(lit(1)).as("n_queries"),
          coalesce(avg(col("n_hit").cast("double") /
            col("n_exact").cast("double")), lit(1.0)).as("mean_recall"))
      recall.crossJoin(fidelity).select(
        col("n_queries"),
        (col("mean_recall") >= Calibration.IvfMeanRecallFloor)
          .as("recall_floor_met"),
        (col("n_inexact_score") === 0L).as("rerank_scores_exact"),
        col("n_self"))
    },

    // ANN via JL shortlisting (q99's projection integrated into the
    // search path): 32-dim projected-cosine shortlist, exact re-rank.
    // CONTRACT oracle (q75 pattern): mean recall@5 vs the in-plan
    // exact twin >= measured floor, every returned score equals the
    // recomputed full-precision cosine, no self matches.
    "q103_ann_projected" -> { (s, dir) =>
      import graft.functions.cosineExact
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
      val proj = Similarity.projectedRerankTopK(q, e, "vec_id", "embedding",
        k = 5, projDim = 32, rerankFactor = 8)
      val qv = e.select(col("vec_id").as("query_id"), col("embedding").as("qv2"))
      val cv = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv2"))
      val fidelity = proj
        .join(qv, Seq("query_id")).join(cv, Seq("neighbor_id"))
        .agg(
          coalesce(sum(when(col("cosine") =!=
            cosineExact(col("qv2"), col("cv2")), 1L).otherwise(0L)), lit(0L))
            .as("n_inexact_score"),
          coalesce(sum(when(col("query_id") === col("neighbor_id"), 1L)
            .otherwise(0L)), lit(0L)).as("n_self"))
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").withColumn("in_exact", lit(true))
      // n_queries from the QUERY FRAME, not the joined groups: a
      // quarantined (NaN) query would vanish from both arms and
      // silently shrink a group count, diverging from the oracle's
      // COUNT(*) over the query set
      val nq = q.agg(count(lit(1)).as("n_queries"))
      val recall = exact
        .join(proj.select("query_id", "neighbor_id").withColumn("in_p", lit(true)),
          Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(
          sum(when(col("in_exact") && col("in_p"), 1L).otherwise(0L)).as("n_hit"),
          sum(when(col("in_exact"), 1L).otherwise(0L)).as("n_exact"))
        .agg(coalesce(avg(col("n_hit").cast("double") /
            col("n_exact").cast("double")), lit(1.0)).as("mean_recall"))
      recall.crossJoin(broadcast(nq)).crossJoin(fidelity).select(
        col("n_queries"),
        (col("mean_recall") >= Calibration.ProjectedRecallFloor)
          .as("recall_floor_met"),
        (col("n_inexact_score") === 0L).as("rerank_scores_exact"),
        col("n_self"))
    },

    // Adaptive-dispatch composed shortlist (r8 unification): the ONE
    // ANN entry point routed onto its projected+quantized arm — JL
    // shortlist → int8 trim → exact re-rank (q103's projection and
    // q75's codes STACKED behind adaptiveTopK). Dispatch forcing:
    // querySideRows past the brute crossover, the fixture corpus
    // under the IVF floor, highDimFloor=1 (the fixtures are dim 64 —
    // the honest floor is 256, NOTES.md round 8), quantized candidates
    // on. CONTRACT oracle (q103 shape): mean recall@5 vs the in-plan
    // exact twin ≥ the r8-measured floor, every returned score equals
    // the recomputed full-precision cosine (the int8 approximation
    // never leaks into output), no self matches — PLUS a plan-derived
    // dispatch proof: the optimized plan must carry BOTH the
    // projected-shortlist column and the quantized-scoring columns,
    // so the oracle row fails if the dispatcher quietly takes a
    // different arm.
    "q105_ann_adaptive" -> { (s, dir) =>
      import graft.functions.cosineExact
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
      val res = Similarity.adaptiveTopK(q, e, "vec_id", "embedding", k = 5,
        nPlanes = 2, nTables = 2, querySideRows = Some(10L),
        highDimFloor = 1, quantizedCandidates = true)
      // plan-tree detection, not string matching: project-collapse
      // inlines the __pvec alias away, but the native kernels stay
      val armProjQuant = {
        val p = res.queryExecution.optimizedPlan
        def has(pred: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
          p.exists(_.expressions.exists(_.exists(pred)))
        has(_.isInstanceOf[graft.expressions.RandomProjection]) &&
          has(_.isInstanceOf[graft.expressions.Int8Dot])
      }
      val qv = e.select(col("vec_id").as("query_id"), col("embedding").as("qv2"))
      val cv = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv2"))
      val fidelity = res
        .join(qv, Seq("query_id")).join(cv, Seq("neighbor_id"))
        .agg(
          coalesce(sum(when(col("cosine") =!=
            cosineExact(col("qv2"), col("cv2")), 1L).otherwise(0L)), lit(0L))
            .as("n_inexact_score"),
          coalesce(sum(when(col("query_id") === col("neighbor_id"), 1L)
            .otherwise(0L)), lit(0L)).as("n_self"))
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").withColumn("in_exact", lit(true))
      val nq = q.agg(count(lit(1)).as("n_queries"))
      val recall = exact
        .join(res.select("query_id", "neighbor_id").withColumn("in_a", lit(true)),
          Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(
          sum(when(col("in_exact") && col("in_a"), 1L).otherwise(0L)).as("n_hit"),
          sum(when(col("in_exact"), 1L).otherwise(0L)).as("n_exact"))
        .agg(coalesce(avg(col("n_hit").cast("double") /
            col("n_exact").cast("double")), lit(1.0)).as("mean_recall"))
      recall.crossJoin(broadcast(nq)).crossJoin(fidelity).select(
        col("n_queries"),
        (col("mean_recall") >= Calibration.ProjectedQuantizedRecallFloor)
          .as("recall_floor_met"),
        (col("n_inexact_score") === 0L).as("rerank_scores_exact"),
        col("n_self"),
        lit(armProjQuant).as("arm_projected_quantized"))
    },

    // The STREAMING path's own correctness row (not batch parity on a
    // batch plan): the events table replayed through a REAL
    // Structured Streaming execution — file source split into 3
    // deterministic micro-batches (mod-3 on event_id),
    // maxFilesPerTrigger=1, Trigger.AvailableNow, watermark + window
    // aggregation, Complete-mode memory sink. The final state must
    // hash-equal the plain-SQL rollup (Complete mode makes it
    // arrival-order-independent); replayed_multibatch proves the run
    // actually took ≥ 3 micro-batches through the state store rather
    // than collapsing into one.
    "q106_streaming_replay" -> { (s, dir) =>
      val (state, nBatches) = graft.streaming.Replay.hourlyRollupReplay(
        s, Tables.events(s, dir))
      state.select(col("hour"), col("event_type"),
          col("n_events"), col("value_sum"),
          lit(nBatches >= 3).as("replayed_multibatch"))
        .orderBy("hour", "event_type")
    },

    // WATERMARK LATE-DATA ACCOUNTING — the two promises an event-time
    // watermark makes, checked instead of assumed: rows arriving
    // behind the watermark are DROPPED AND COUNTED (reconcilable
    // against the source — no silent loss), and append mode emits
    // ONLY finalized windows (end behind the final watermark), so a
    // downstream training sink never sees a partially-filled hour.
    // Planted late rows are fresh-id copies of day-1 events; the
    // emitted aggregate proves they never contaminated their window.
    "q152_streaming_late_data" -> { (s, dir) =>
      import graft.streaming.Replay
      val ev = Tables.events(s, dir)
      // on-time filler in the final (never-emitted) window: lets the
      // lagging late-record filter watermark catch up (see
      // Replay.lateDataReplay's two-watermark note). Selected by a
      // broadcast join on max(ts) — no driver timestamp round-trip
      val filler = ev.join(
          broadcast(ev.agg(max(col("ts")).as("__mx"))),
          col("ts") === col("__mx")).drop("__mx")
        .withColumn("event_id", col("event_id") + lit(2000000000L))
      val late = ev.where(col("ts") < lit(java.sql.Timestamp.valueOf(
          "2024-01-02 00:00:00")))
        .withColumn("event_id", col("event_id") + lit(1000000000L))
      // numRowsDroppedByWatermark counts rows reaching the STATE
      // operator — map-side partial aggregation has already collapsed
      // the late batch to its distinct (hour, type) groups (the late
      // batch is one staged file ⇒ one input partition ⇒ the partials
      // ARE the distinct groups), so the exact reconciliation unit is
      // groups, not raw rows
      val nLateGroups = late.select(date_trunc("hour", col("ts")),
        col("event_type")).distinct().count()
      val (emitted, dropped, batches) = Replay.lateDataReplay(
        s, ev, filler, late, watermark = "1 hour")
      emitted.select(col("hour"), col("event_type"), col("n_events"),
          col("value_sum"),
          lit(nLateGroups > 0L && dropped == nLateGroups)
            .as("late_all_dropped"),
          lit(batches >= 3).as("replayed_multibatch"))
        .orderBy("hour", "event_type")
    },

    // UPDATE-MODE ROLLUP — the dashboard read path q152/q154's
    // append-mode pins cannot see: every micro-batch re-emits the
    // CURRENT partial of each window it touched, tagged with its batch
    // id, so a consumer watching the stream sees each window's value
    // sequence converge on the batch aggregate. The replay stages the
    // events table as four event-time-ordered quartile slices (q154's
    // monotone unix-timestamp slicing — nothing arrives late, so
    // nothing is watermark-dropped and every emitted row is provable
    // in closed form), and the oracle replays the whole partial
    // SEQUENCE: for each (window, type) and each batch that touched
    // it, the cumulative aggregate over slices ≤ that batch. Hash
    // equality therefore pins update-mode's three promises at once —
    // only touched groups re-emit, partials are the exact running
    // aggregates, and the last partial equals the batch rollup.
    "q155_streaming_update_rollup" -> { (s, dir) =>
      import graft.streaming.Replay
      val ev = Tables.events(s, dir).select("ts", "event_type", "value")
      // q154's slicing: quartiles of the full SECOND-floored timestamp
      // span (unix_timestamp floors; the oracle floors identically) —
      // event time advances with batch index by construction
      val bounds = ev.agg(min(unix_timestamp(col("ts"))).as("mn"),
        max(unix_timestamp(col("ts"))).as("mx")).head()
      val mn = bounds.getLong(0)
      val span = (bounds.getLong(1) - mn) / 4L + 1L // ceil: index <= 3
      val batches = (0 until 4).map(b =>
        ev.where(expr(s"(unix_timestamp(ts) - $mn) div $span") === b))
      val (updates, dropped, nBatches) =
        Replay.hourlyRollupUpdateReplay(s, batches, watermark = "1 hour")
      updates.select(col("batch_id"), col("hour"), col("event_type"),
          col("n_events"), col("value_sum"),
          lit(dropped == 0L).as("none_dropped"),
          lit(nBatches >= 3).as("replayed_multibatch"))
        .orderBy("batch_id", "hour", "event_type")
    },

    // KILL-AND-RESTART RECOVERY — the exactly-once half q134/q144's
    // injected replays cannot prove: a REAL StreamingQuery.stop() on
    // a live continuous-trigger query mid-corpus, then a NEW query
    // over the same checkpoint dir + file sink. Recovery must get
    // offsets right (the restarted query reads ONLY post-kill files —
    // checked against the input-row counters), state right (windows
    // whose rows arrived pre-kill finalize post-restart from the
    // recovered state store, their input never re-read), and sink
    // transactionality right (no window emitted twice across the two
    // queries). The emitted aggregate is compared row-for-row against
    // a never-stopped one-shot twin over the same staged batch
    // sequence, and the oracle replays the append-mode emission in
    // closed form (windows ending behind the final watermark).
    "q154_streaming_restart_recovery" -> { (s, dir) =>
      import graft.streaming.Replay
      val ev = Tables.events(s, dir).select("ts", "event_type", "value")
      // four quartile slices of the FULL timestamp span: event time
      // ADVANCES with batch index, so the watermark finalizes windows
      // in every phase — the kill lands with emitted output behind it
      // and live state across it. Sliced on unix_timestamp, not
      // day-of-month: a day slice repeats across month boundaries,
      // which would break event-time ordering (and the closed-form
      // oracle) the moment the fixture spans two months
      val bounds = ev.agg(min(unix_timestamp(col("ts"))).as("mn"),
        max(unix_timestamp(col("ts"))).as("mx")).head()
      val mn = bounds.getLong(0)
      val span = (bounds.getLong(1) - mn) / 4L + 1L // ceil: index ≤ 3
      // each slice materialized ONCE: both replay runs (kill-restart +
      // never-stopped twin) stage every slice to their own dirs, so
      // un-checkpointed frames would re-scan + re-filter the events
      // table 8× (r15 containment; the result is unchanged)
      val batches = (0 until 4).map(b =>
        ev.where(expr(s"(unix_timestamp(ts) - $mn) div $span") === b)
          .localCheckpoint(true))
      val r = Replay.restartRecoveryReplay(s, batches, stopAfter = 2,
        watermark = "1 hour")
      val twin = Replay.restartRecoveryReplay(s, batches, stopAfter = 0,
        watermark = "1 hour")
      // parity and mass checks are bounded driver actions (window
      // count, not corpus rows)
      val nDiff = r.result
        .select(col("hour"), col("event_type"), col("n_events"),
          col("value_sum"))
        .join(twin.result.select(col("hour"), col("event_type"),
          col("n_events").as("n2"), col("value_sum").as("v2")),
          Seq("hour", "event_type"), "full_outer")
        .where(col("n_events").isNull || col("n2").isNull ||
          col("n_events") =!= col("n2") || col("value_sum") =!= col("v2"))
        .count()
      val nFinal = r.result.count()
      val nTotal = ev.count()
      r.result.select(col("hour"), col("event_type"), col("n_events"),
          col("value_sum"),
          lit(nDiff == 0L && twin.rowsPhaseA == nTotal)
            .as("results_match"),
          lit(r.rowsPhaseB > 0L && r.rowsPhaseA + r.rowsPhaseB == nTotal)
            .as("no_reprocess"),
          lit(r.dataBatchesA == 2 && r.emittedAtStop >= 1L &&
            r.emittedAtStop < nFinal).as("stopped_midcorpus"),
          lit(r.dataBatchesB >= 2).as("replayed_multibatch"))
        .orderBy("hour", "event_type")
    },

    // The STREAMING CURATION-TO-LOADER composition's correctness row
    // (q120's streaming twin): offline-trained classifier weights
    // (q122's seed convention) gate each micro-batch map-side, kept
    // docs append exactly-once to the persisted token-stream layout
    // through foreachBatch — a REAL Structured Streaming execution of
    // classifier + packing + sink composed. The oracle replays the
    // gate (q122's CTEs) and the layout (kept docs in (doc_id mod 3,
    // doc_id) order, offsets accumulated) in closed form.
    "q129_streaming_curation" -> { (s, dir) =>
      val (layout, nBatches) = graft.streaming.Replay.curationLoaderReplay(
        s, Tables.documents(s, dir), window = 512L)
      layout.withColumn("replayed_multibatch", lit(nBatches >= 3))
        .orderBy("doc_id")
    },

    // STREAMING DECONTAMINATION GATE (q81's bloom screen composed into
    // the live-ingest path): the benchmark's shingles fold into one
    // bloom sketch offline, every micro-batch is screened map-side,
    // planted contaminated docs are dropped in whichever batch they
    // arrive. Contract row (q81's shape + streaming proof bits):
    // n_corpus/n_true exact SQL counts; n_leaked = 0 states bloom
    // one-sidedness ACROSS micro-batches (checked in-plan against the
    // exact shingle-intersect twin); fp bound derived from exact
    // counts; stream kept set ≡ batch bloomScreen kept set
    // row-for-row; ≥3 data batches observed.
    "q133_streaming_decontam" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") < 20)
      val corpus = docs.where(col("doc_id") >= 20)
      val (kept, nBatches) = graft.streaming.Replay.decontamScreenReplay(
        s, corpus, bench, n = 3, benchShingles = 4096L)
      val keptFlag = kept.select(col("doc_id"), lit(true).as("kept"))
      val truth = Dedup.contaminationReport(corpus, "doc_id", "text",
          bench, "text", n = 3)
        .select(col("doc_id"), lit(true).as("truly"))
      // batch twin for the stream≡batch parity bit
      val batchKept = Dedup.bloomScreen(corpus, "doc_id", "text",
          bench, "text", n = 3, benchShingles = 4096L)
        .where(!col("bloom_hit"))
        .select(col("doc_id"), lit(true).as("bkept"))
      corpus.select(col("doc_id"))
        .join(keptFlag, Seq("doc_id"), "left")
        .join(truth, Seq("doc_id"), "left")
        .join(batchKept, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_corpus"),
          sum(when(col("truly"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("truly") && coalesce(col("kept"), lit(false)), 1L)
            .otherwise(0L)).as("n_leaked"),
          sum(when(coalesce(col("kept"), lit(false)), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(coalesce(col("kept"), lit(false)) =!=
            coalesce(col("bkept"), lit(false)), 1L).otherwise(0L))
            .as("n_parity_diff"))
        .select(col("n_corpus"), col("n_true"), col("n_leaked"),
          greatest(lit(5L), expr("(n_corpus - n_true) div 100"))
            .as("fp_bound"),
          (col("n_corpus") - col("n_kept") - col("n_true") <=
            greatest(lit(5L), expr("(n_corpus - n_true) div 100")))
            .as("fp_ok"),
          (col("n_parity_diff") === 0L).as("stream_equals_batch"),
          lit(nBatches >= 3).as("replayed_multibatch"))
    },

    // The COMPOSED streaming curation row — decontam bloom gate
    // (q133) → classifier quality gate (q122's weights) → exactly-once
    // token-stream layout (q129's sink) in ONE replay: the full
    // production ingest path, not its pieces. Contract row: n_corpus/
    // n_true exact SQL counts; n_leaked = 0 (no truly-contaminated
    // doc reaches the LAYOUT, in whichever micro-batch it arrived);
    // the streamed layout is OFFSET-EXACT equal to the batch
    // composition of the same gates laid out in arrival order (the
    // in-plan twin — bloom + classifier are deterministic functions
    // of their offline artifacts); layout windows contiguous; ≥3 data
    // batches observed.
    "q139_streaming_curation_pipeline" -> { (s, dir) =>
      import graft.ops.Packing
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") < 20)
      val corpus = docs.where(col("doc_id") >= 20)
      val (layout, nBatches) = graft.streaming.Replay.curationPipelineReplay(
        s, corpus, bench, window = 512L)
      // batch twin: identical offline artifacts (deterministic
      // training), identical gates, laid out in the stream's arrival
      // order (batch = doc_id mod 3, then doc_id) via a synthetic
      // ordering id
      val (w, defw6) = Selection.collectClassifierWeights(
        corpus.where(col("doc_id") % 7 === 0),
        corpus.where(col("doc_id") % 7 === 3),
        "doc_id", "text", nBuckets = 1024)
      val keptBatch = Selection.scoreWithClassifier(
          Dedup.bloomScreen(corpus, "doc_id", "text", bench, "text",
              n = 3, benchShingles = 4096L)
            .where(!col("bloom_hit"))
            .withColumn("n_tokens",
              TextOps.tokenCount(col("text")).cast("long")),
          "doc_id", "text", w, defw6, nBuckets = 1024,
          keepCols = Seq("n_tokens"))
        .where(col("keep"))
        .select(col("doc_id"), col("n_tokens"))
      val twin = Packing.tokenStreamOffsets(
          keptBatch.select(
            (pmod(col("doc_id"), lit(3L)) * 10000000000L + col("doc_id"))
              .as("ord"),
            col("n_tokens")),
          "ord", "n_tokens", window = 512L)
        .select(pmod(col("doc_id"), lit(10000000000L)).as("doc_id"),
          col("n_tokens").as("tn"), col("start_offset").as("so"),
          col("first_window").as("fw"), col("last_window").as("lw"))
      val truth = Dedup.contaminationReport(corpus, "doc_id", "text",
          bench, "text", n = 3)
        .select(col("doc_id"), lit(true).as("truly"))
      val scalars = corpus.agg(count(lit(1)).as("n_corpus")).crossJoin(
        truth.agg(count(lit(1)).as("n_true")))
      layout
        .join(twin, Seq("doc_id"), "full_outer")
        .join(truth, Seq("doc_id"), "left")
        .agg(
          sum(when(col("start_offset").isNotNull, 1L).otherwise(0L))
            .as("n_layout"),
          sum(when(col("so").isNotNull, 1L).otherwise(0L)).as("n_twin"),
          sum(when(col("start_offset") === col("so") &&
            col("n_tokens") === col("tn") &&
            col("first_window") <=> col("fw") &&
            col("last_window") <=> col("lw"), 1L).otherwise(0L))
            .as("n_match"),
          sum(when(col("truly").isNotNull && col("start_offset").isNotNull,
            1L).otherwise(0L)).as("n_leaked"),
          coalesce(sum(when(col("start_offset").isNotNull,
            col("n_tokens"))), lit(0L)).as("mass"),
          coalesce(max(col("last_window")), lit(-1L)).as("maxw"))
        .crossJoin(scalars)
        .select(col("n_corpus"), col("n_true"), col("n_leaked"),
          (col("n_layout") === col("n_twin") &&
            col("n_match") === col("n_layout")).as("layout_equals_batch"),
          (col("maxw") + 1L === expr("(mass + 511) div 512"))
            .as("windows_contiguous"),
          lit(nBatches >= 3).as("replayed_multibatch"))
    },

    // The CUSTOM-STATE streaming path's correctness row: the events
    // table replayed through flatMapGroupsWithState sessionization in
    // time-ordered micro-batches (time-range tercile files + a
    // sentinel file that flushes every open session — see Replay's
    // parity argument). The emitted session set must hash-equal the
    // batch gaps-and-islands SQL (q17's oracle) exactly: per-user
    // session numbering, bounds, and event counts all come out of the
    // incremental state machine.
    "q107_streaming_sessions" -> { (s, dir) =>
      val (state, nBatches) = graft.streaming.Replay.sessionizationReplay(
        s, Tables.events(s, dir), gapMinutes = 30)
      state.select(col("user_id"), col("session_seq"),
          col("session_start"), col("session_end"), col("n_events"),
          lit(nBatches >= 3).as("replayed_multibatch"))
        .orderBy("user_id", "session_seq")
    },

    // Corpus k-means clustering — the SemDeDup-style curation
    // primitive (cluster, then curate within clusters): centroids
    // trained on the bounded deterministic sample
    // (trainIvfCentroids), the FULL corpus assigned through the
    // native NearestCentroid kernel (the scale-honest ingest path —
    // the declarative HOF scan exists only as the contract arm
    // below). CONTRACT oracle: (a) every vector gets exactly one
    // cluster in [0,k); (b) the kernel assignment equals the
    // declarative argmax recompute on EVERY corpus row; (c) in
    // aggregate, mean cosine to the OWN centroid beats the mean
    // cosine over all centroids (max ≥ mean rowwise — 1e-9 fp
    // slack); (d) 1 ≤ clusters used ≤ k.
    "q110_corpus_clusters" -> { (s, dir) =>
      val k = 16
      val e = Tables.embeddings(s, dir)
      val cents = Similarity.trainIvfCentroids(
        e, "vec_id", "embedding", k = k, iters = 3)
      val assigned = Similarity.ivfAssign(e, "embedding", cents)
      val normed = cents.map { c =>
        val n = math.sqrt(c.map(x => x * x).sum)
        if (n == 0.0) c else c.map(_ / n)
      }
      val centLit = typedLit(normed)
      val dots = transform(sequence(lit(1), lit(k)), j =>
        aggregate(
          zip_with(col("embedding").cast("array<double>"),
            element_at(centLit, j), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
      assigned
        .withColumn("__decl",
          Similarity.assignCellDeclarative(col("embedding"), cents))
        .withColumn("__dots", dots)
        .withColumn("__own", element_at(col("__dots"), col("cell").cast("int") + 1))
        .withColumn("__mean",
          aggregate(col("__dots"), lit(0.0), (a, x) => a + x) / lit(k.toDouble))
        .agg(
          count(lit(1)).as("n_vectors"),
          sum(when(col("cell").isNull || col("cell") < 0 ||
            col("cell") >= k, 1L).otherwise(0L)).as("n_bad_cell"),
          sum(when(col("cell") =!= col("__decl"), 1L).otherwise(0L))
            .as("n_kernel_mismatch"),
          (avg(col("__own")) >= avg(col("__mean")) - lit(1e-9))
            .as("own_beats_mean"),
          (count_distinct(col("cell")).between(1L, k.toLong))
            .as("clusters_bounded"))
    },

    // Multimodal: synthesized BMP/PPM/WAV payloads → REAL pure-JVM
    // codec decode (header walk, BMP row padding, RIFF chunk list) →
    // container features. CONTRACT oracle: every decoded feature is a
    // closed form of doc_id (Multimodal.synth* formulas), so the
    // oracle recomputes them — byte sums included, via range() lists —
    // and hash-matches only if encoder AND decoder honor the formats.
    "q30_multimodal_features" -> { (s, dir) =>
      Multimodal.extractFeatures(Tables.documents(s, dir), "doc_id")
        .orderBy("media_id")
    },

    // Perceptual-hash image dedup: real codec raster walk → 4×4
    // average hash (exact-integer bit definition — no floats), banded
    // Hamming-≤2 pairing, per-image partner counts. FULLY oracle-
    // exact: the aHash definition is recomputable from the synthesis
    // closed forms, so the oracle rebuilds every hash bit AND the
    // partner counts by brute force in DuckDB — cross-engine proof
    // that the banding is exhaustive and the decoder/cell walk (BMP
    // bottom-up rows, padding, PPM raster) is byte-correct. WAV rows
    // carry null hashes and never pair. Grid 4 because fixture
    // rasters go down to 5×4; grid 8 (64-bit) is the real-image
    // default on the operator.
    "q76_phash_image_dedup" -> { (s, dir) =>
      mediaPartnerCounts(
        Multimodal.perceptualHashes(Tables.documents(s, dir), "doc_id",
          grid = 4),
        "phash", maxDist = 2, nBits = 16)
    },

    // Audio-fingerprint dedup — q76's WAV counterpart, closing the
    // multimodal dedup story: real RIFF/PCM walk → 32-cell energy
    // fingerprint (exact-integer bit definition), banded Hamming-≤2
    // pairing, per-stream partner counts. FULLY oracle-exact for the
    // same reason as q76: the oracle rebuilds every fingerprint bit
    // AND the partner counts brute-force in DuckDB from the PCM
    // closed form — cross-engine proof of the chunk walk, sample
    // decode, and banding. Image rows carry null fingerprints and
    // never pair. 32 cells because fixture streams go down to 40
    // samples; 64 is the real-audio default on the operator.
    "q77_audio_fp_dedup" -> { (s, dir) =>
      mediaPartnerCounts(
        Multimodal.audioFingerprints(Tables.documents(s, dir), "doc_id",
          nCells = 32),
        "afp", maxDist = 2, nBits = 32)
    },

    // Incremental (delta) dedup — the per-crawl ingest operation: a
    // new batch (doc_id%5=0) screened against the existing corpus
    // (the rest) via the stored band-bucket index join; batch- and
    // corpus-internal pairs never generated. CONTRACT oracle (q25's
    // pattern, cross-side): every verified pair is in the exact
    // cross-side Jaccard pair set (n_false_pos = 0) and recall vs
    // the exact cross-side twin (computed in-plan) meets a measured
    // floor. For any fixed pair, candidate generation here is the
    // SAME band-collision event as q25's full LSH (same signatures,
    // same bands), so the floor is probed by the same machinery.
    "q78_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val batch = docs.where(col("doc_id") % 5 === 0)
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.6)
        .where((col("id_a") % 5 === 0) =!= (col("id_b") % 5 === 0))
        .select(
          when(col("id_a") % 5 === 0, col("id_a")).otherwise(col("id_b"))
            .as("batch_id"),
          when(col("id_a") % 5 === 0, col("id_b")).otherwise(col("id_a"))
            .as("corpus_id"))
        .withColumn("in_exact", lit(true))
      val inc = Dedup.incrementalLshPairs(corpus, batch, "doc_id", "text",
          n = 3, bands = 4, rowsPerBand = 8, threshold = 0.6)
        .select("batch_id", "corpus_id").withColumn("in_lsh", lit(true))
      exact.join(inc, Seq("batch_id", "corpus_id"), "full_outer")
        .agg(
          coalesce(sum(when(col("in_exact"), 1L).otherwise(0L)), lit(0L))
            .as("n_exact"),
          coalesce(sum(when(col("in_lsh") && col("in_exact").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_false_pos"),
          coalesce(sum(when(col("in_lsh") && col("in_exact"), 1L)
            .otherwise(0L)), lit(0L)).as("n_hit"))
        .select(col("n_exact"), col("n_false_pos"),
          (col("n_hit").cast("double") >=
            col("n_exact").cast("double") * Calibration.IncrementalRecallFloor)
            .as("recall_floor_met"))
    },

    // Per-source document cap — C4/Dolma "max N pages per host":
    // keep the 10 lowest-doc_id docs per source via the k-bounded
    // TopK aggregate (map-side trim — a million-page host never
    // sorts; contrast q55's window-based fraction sampling), then
    // semi-join back for full rows. doc_id priority = SQL-portable;
    // production passes xxhash64(id) for an unbiased pick. Output is
    // the full kept list + per-source count — oracle-exact (the
    // contract is pure SQL: row_number per source ≤ 10).
    "q79_domain_cap" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val kept = Sampling.perGroupCap(docs, col("source"), col("doc_id"),
        col("doc_id"), k = 10)
      kept.select(col("source"), col("doc_id"), col("lang"))
        .orderBy("source", "doc_id")
    },

    // Cross-document repeated spans — the exact-substring-dedup
    // signal (verbatim boilerplate shared across docs at token
    // granularity; distinct from q71's paragraphs and q67's within-
    // doc repetition). Engine path groups by 64-bit span hash (the
    // scale shape); the oracle groups by the span STRING — counts
    // agree unless two distinct spans collide in 64 bits (q24's
    // documented 2^-64 trade), so the comparison is value-exact.
    "q80_repeated_spans" -> { (s, dir) =>
      Dedup.repeatedSpans(Tables.documents(s, dir), "doc_id", "text",
          spanTokens = 6, minDocs = 2)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    },

    // Bloom-filter decontamination screen — q66's broadcast-budget
    // variant: the benchmark shingle set folds into a Catalyst bloom
    // sketch and the corpus is screened map-side (no corpus shuffle).
    // Contract output (q25's pattern): n_corpus / n_true are exact
    // SQL-recomputable counts; n_missed = 0 states the bloom's
    // no-false-negative guarantee (checked in-plan against the exact
    // shingle-intersect twin); fp_ok states the flagged overshoot
    // stayed under a generous bound DERIVED from the exact counts
    // (expected overshoot at fpp=1e-6 is ≪ 1 doc at every fixture
    // scale, so the 1%-of-clean floor-5 bound has orders of margin —
    // a math consequence of the sketch sizing, not a fixture-coupled
    // calibration).
    "q81_bloom_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") < 20)
      val corpus = docs.where(col("doc_id") >= 20)
      val screened = Dedup.bloomScreen(corpus, "doc_id", "text",
          bench, "text", n = 3, benchShingles = 4096L)
        .select(col("doc_id"), col("bloom_hit"))
      // exact twin: the same broadcast shingle-intersect q66 uses
      val truth = Dedup.contaminationReport(corpus, "doc_id", "text",
          bench, "text", n = 3)
        .select(col("doc_id"), lit(true).as("truly"))
      screened.join(truth, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_corpus"),
          sum(when(col("truly"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("truly") && !col("bloom_hit"), 1L).otherwise(0L))
            .as("n_missed"),
          sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_hit"))
        .select(col("n_corpus"), col("n_true"), col("n_missed"),
          greatest(lit(5L), expr("(n_corpus - n_true) div 100"))
            .as("fp_bound"),
          (col("n_hit") - col("n_true") <=
            greatest(lit(5L), expr("(n_corpus - n_true) div 100")))
            .as("fp_ok"))
    },

    // BM25 top-k retrieval — docs 0-4 play eval prompts, the rest the
    // corpus; per-prompt 10 best documents under BM25(1.2, 0.75).
    // tf/dl are map-side array HOFs (no corpus (doc,term) shuffle),
    // query terms broadcast, ranking is the k-bounded TopK aggregate.
    // Scores are scaled-long exact (floor(term·1e6) summed as longs —
    // no float-sum order dependence), so the oracle rebuilds every
    // score and rank bit-exactly.
    "q82_bm25_topk" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Retrieval.bm25TopK(
          docs.where(col("doc_id") >= 5), "doc_id", "text",
          docs.where(col("doc_id") < 5), "doc_id", "text",
          k = 10)
        .orderBy("query_id", "rank")
    },

    // CURATION RELEASE — the end-to-end release workflow a corpus team
    // actually runs: curate a crawl snapshot (exact dedup → Gopher
    // gate), PUBLISH it as an immutable version (q146), then gate the
    // NEXT curated snapshot through a promotion diff against the
    // currently-published release (q113's math, read THROUGH the
    // published artifact) before publishing it. The gate bit is
    // computed from exact integers in both engines: changed-mass ratio
    // ≤ 50% accepts (and v2 publishes), the 30% variant demonstrably
    // rejects on the same numbers.
    "q147_curation_release" -> { (s, dir) =>
      import graft.ops.Versioning
      val tmp = java.nio.file.Files.createTempDirectory("graft_q147_")
      try {
        val ds = s"$tmp/release"
        def curate(snap: DataFrame): DataFrame = {
          val deduped = Dedup.exactDedup(snap, "text", "doc_id")
          deduped.join(
            TextOps.gopherRules(deduped, "doc_id", "text")
              .where(col("keep")).select("doc_id"),
            Seq("doc_id"))
            .select("doc_id", "text")
        }
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val snapA = docs.where(col("doc_id") % 7 =!= 0)
        val snapB = docs.where(col("doc_id") % 5 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 11 === 0, reverse(col("text")))
              .otherwise(col("text")))
        val v1 = Versioning.publish(curate(snapA), ds)
        val candidate = curate(snapB).localCheckpoint(false)
        val g = Versioning.diffSummary(Versioning.read(s, ds), candidate,
          "doc_id", "text").head()
        val (nAdd, nRem, nMod, nOld, nNew) = (g.getLong(0), g.getLong(1),
          g.getLong(2), g.getLong(3), g.getLong(4))
        // an EMPTY published baseline has no meaningful change ratio —
        // refuse loudly rather than auto-accept (a gate that waves
        // through whatever follows a broken v1 is worse than no gate)
        // or throw a bare / by zero (r11 ADVICE finding). Matches the
        // verifyShards "never verify against nothing" discipline.
        require(nOld > 0L,
          s"q147 promotion gate: published baseline at $ds is empty — " +
            "cannot compute a change ratio against nothing; republish a " +
            "non-empty v1 or promote manually")
        val ratio6 = (nAdd + nRem + nMod) * 1000000L / nOld
        val accepted = ratio6 <= 500000L
        val published = if (accepted) Versioning.publish(candidate, ds) else v1
        val currentOk = Versioning.currentVersion(s, ds).contains(published) &&
          Versioning.read(s, ds).count() == (if (accepted) nNew else nOld)
        import s.implicits._
        Seq((nAdd, nRem, nMod, nOld, nNew, ratio6, accepted,
            ratio6 <= 300000L, published, currentOk))
          .toDF("n_added", "n_removed", "n_modified", "n_old", "n_new",
            "ratio6", "accepted_50", "accepted_30", "published_version",
            "current_ok")
      } finally {
        org.apache.spark.graft.ListenerDrain.drain(s)
        graft.engine.FsUtil.deleteRecursively(tmp)
      }
    },

    // PER-DOMAIN TOP-SHARE GATE — the percentile-style quality cut
    // applied per source ("keep each domain's best 20%"), so one
    // high-scoring domain cannot starve the rest of the mixture. Exact
    // integer semantics: the threshold is the largest score6 whose
    // tie-inclusive keep-set reaches ceil(n/5) — no float percentile
    // interpolation (which no two engines compute alike) anywhere.
    // NO per-row window: ranking rides per-(source, score6) counts.
    "q145_domain_share_gate" -> { (s, dir) =>
      import graft.ops.{Selection, TextOps}
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          floor(TextOps.qualityScore(col("text")) * lit(1000000.0))
            .cast("long").as("score6"))
      val totals = scored.groupBy("source").agg(count(lit(1)).as("n_docs"))
      Selection.topShareGate(scored, "source", "score6", 1L, 5L)
        .groupBy(col("source"), col("threshold").as("threshold6"))
        .agg(count(lit(1)).as("n_kept"))
        .join(totals, Seq("source"))
        .select(col("source"), col("n_docs"), col("threshold6"),
          col("n_kept"),
          expr("n_kept * 1000000 div n_docs").as("kept_share6"))
        .orderBy("source")
    },

    // HYBRID RETRIEVAL — reciprocal-rank fusion of the lexical (q82
    // BM25) and dense (q47 exact-cosine) arms over the SAME document
    // ids: the calibration-free candidate-generation shape a curation
    // pipeline uses when neither arm alone recalls enough (lexically
    // alien near-dups, embedding-blind keyword matches). Both arms and
    // the fused score are exact-deterministic (integer-derived fixed
    // IEEE expressions), so the whole hybrid ranking replays in SQL.
    "q142_hybrid_retrieval" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val vecs = Tables.embeddings(s, dir)
      Retrieval.hybridTopK(
          docs.where(col("doc_id") >= 5), "doc_id", "text",
          vecs.where(col("vec_id") >= 5), "vec_id", "embedding",
          docs.where(col("doc_id") < 5), "doc_id", "text",
          vecs.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10)
        .orderBy("query_id", "rank")
    },

    // The WHOLE curation-to-data-loader chain in one hash-exact row:
    // exact dedup (min-id survivors) → Gopher quality gate → global
    // token-stream layout (bucketed prefix sum) → loader window
    // count — the end-to-end story every piece was built for, with
    // an in-plan contract that the window ids the layout assigned
    // are exactly the contiguous range the token mass implies.
    "q120_curation_to_loader" -> { (s, dir) =>
      import graft.ops.{Dedup, Packing, TextOps}
      val docs = Tables.documents(s, dir)
      val deduped = Dedup.exactDedup(docs, "text", "doc_id")
      val keptIds = TextOps.gopherRules(deduped, "doc_id", "text")
        .where(col("keep")).select("doc_id")
      val withTokens = deduped.join(keptIds, "doc_id")
        .select(col("doc_id"),
          TextOps.bpeishTokenCount(col("text")).as("n_tokens"))
      val offsets = Packing.tokenStreamOffsets(
        withTokens, "doc_id", "n_tokens", window = 2048L, nBuckets = 64)
      offsets.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("token_mass"),
        expr("CAST((coalesce(sum(n_tokens), 0) + 2047) div 2048 AS BIGINT)")
          .as("n_windows"),
        (coalesce(max(col("last_window")), lit(-1L)) + 1L ===
          expr("(coalesce(sum(n_tokens), 0) + 2047) div 2048"))
          .as("windows_contiguous"))
    },

    // Data-card / mixture manifest EXPORT — the per-source artifact a
    // training launch actually consumes, composed from three
    // individually-oracle'd operators: q86's temperature mixture
    // (allocation), q90's health signals re-grained to source
    // (dup/contamination/quality over the non-bench slice), and q69's
    // greedy token-budget sample at source grain. The manifest is
    // PERSISTED through the pipeline sink as a single-file artifact
    // (coalesce(1) — a data card is one reviewable file, the q120
    // layout-contract discipline) and the READ-BACK rows are what the
    // oracle hashes, so write+read fidelity is part of the row.
    "q124_data_card" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val mix = Selection.temperatureMixture(docs, "source", "text",
        budgetDocs = 1000L)
      val bench = docs.where(col("doc_id") < 20)
      val corpus = docs.where(col("doc_id") >= 20)
      // gram-grain contamination (q68's n_hits), not just the binary
      // flag — the triage number a launch review reads
      val contam = Dedup.contaminationReport(corpus, "doc_id", "text",
          bench, "text", n = 3)
        .select(col("doc_id"), col("n_hits"))
      // one aggregate serves three dedup views: copy count (binary
      // dup + q127 soft weight) and the q22 min-id survivor
      val dupCounts = corpus.groupBy(col("text"))
        .agg(count(lit(1)).as("tc"), min(col("doc_id")).as("mindoc"))
      val health = corpus
        .join(dupCounts, Seq("text"))
        .join(contam, Seq("doc_id"), "left")
        .select(col("source"),
          when(col("tc") >= 2, 1L).otherwise(0L).as("isdup"),
          when(col("n_hits").isNotNull, 1L).otherwise(0L).as("iscont"),
          coalesce(col("n_hits"), lit(0L)).as("grams"),
          // q22 exact-dedup survivorship: this doc IS the min-id
          // representative of its text group
          when(col("doc_id") === col("mindoc"), 1L).otherwise(0L)
            .as("issurv"),
          // q127 soft-dedup mass, scale-6 quantized PER DOC so the
          // per-source sum is exact integer arithmetic (1/n as a
          // float sum would be order-dependent)
          expr("1000000 div tc").as("soft6"),
          when(TextOps.qualityScore(col("text")) >= 0.5 &&
            TextOps.tokenCount(col("text")).cast("long") >= 10, 1L)
            .otherwise(0L).as("iskept"))
        .groupBy("source")
        .agg(sum(col("isdup")).as("n_dup"),
          sum(col("iscont")).as("n_contaminated"),
          sum(col("grams")).as("n_contam_grams"),
          sum(col("issurv")).as("n_survivors"),
          sum(col("soft6")).as("soft_mass6"),
          sum(col("iskept")).as("n_kept"))
      val sample = Sampling.tokenBudgetSample(
          docs.select(col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("tk")),
          col("source"), col("doc_id"), col("tk"), 2000L)
        .groupBy("source")
        .agg(count(lit(1)).as("sample_docs"), sum(col("tk")).as("sample_tokens"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q124_")
      try {
        // stored-index drift state (r10 verdict: appendedFraction had
        // no consumer) — the retrieval index a launch ships alongside
        // the corpus, here a base build (3/4 of the embedding corpus)
        // plus one un-folded append generation (1/4). Scale-6 integer
        // ratio so the value is exact cross-engine arithmetic:
        // appended·10⁶ div base, the q127/soft_mass6 discipline. A
        // maintenance pass (AnnIndex.maybeRetrain, q138) would fold or
        // retrain and return this column to 0.
        import graft.ops.AnnIndex
        val emb = Tables.embeddings(s, dir)
        AnnIndex.buildIvfIndex(emb.where(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", s"$tmp/idx", nCells = 4, iters = 1)
        AnnIndex.appendToIvfIndex(s, s"$tmp/idx",
          emb.where(col("vec_id") % 4 === 0), "vec_id", "embedding", gen = 1L)
        val (idxBase, idxAppended) = AnnIndex.metaCounts(s, s"$tmp/idx")
        val drift6 = idxAppended * 1000000L / idxBase
        // un-purged takedown mass (q141/q144): the third index-health
        // number a launch review reads next to drift — non-zero means
        // a compaction is owed before the index ships
        AnnIndex.deleteFromIvfIndex(s, s"$tmp/idx",
          emb.where(col("vec_id") % 5 === 0).select("vec_id"), "vec_id",
          del = 1L)
        val idxTombstoned = AnnIndex.tombstonedCount(s, s"$tmp/idx")
        // VERSION-PINNED card (r11 verdict #4): the card names the
        // immutable corpus version it describes and carries the q147
        // change ratio vs the previous release — BOTH read THROUGH
        // the published Versioning artifact (pointer + v=N trees),
        // not from in-memory frames, so the numbers describe what a
        // consumer would actually time-travel to. Previous release =
        // the corpus minus every 7th doc with every 11th text
        // reversed (the q147 fixture convention), current = the
        // corpus the rest of the card describes.
        import graft.ops.Versioning
        val vds = s"$tmp/corpus_versions"
        Versioning.publish(corpus.select(col("doc_id"), col("text"))
          .where(col("doc_id") % 7 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 11 === 0, reverse(col("text")))
              .otherwise(col("text"))), vds)
        val vCur = Versioning.publish(corpus.select("doc_id", "text"), vds)
        val dg = Versioning.diffSummary(
          Versioning.read(s, vds, Some(vCur - 1L)),
          Versioning.read(s, vds), "doc_id", "text").head()
        val (vAdd, vRem, vMod, vOld) =
          (dg.getLong(0), dg.getLong(1), dg.getLong(2), dg.getLong(3))
        require(vOld > 0L, "version delta against an empty previous release")
        val versionDelta6 = (vAdd + vRem + vMod) * 1000000L / vOld
        val card = mix
          .join(health, Seq("source"), "left")
          .join(sample, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("n_tokens"), col("w6"),
            col("alloc_docs"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
            coalesce(col("n_contam_grams"), lit(0L)).as("n_contam_grams"),
            coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
            coalesce(col("soft_mass6"), lit(0L)).as("soft_mass6"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("sample_docs"), lit(0L)).as("sample_docs"),
            coalesce(col("sample_tokens"), lit(0L)).as("sample_tokens"),
            lit(drift6).as("index_drift6"),
            lit(idxTombstoned).as("index_tombstoned"),
            lit(vCur).as("dataset_version"),
            lit(versionDelta6).as("version_delta6"))
        graft.engine.Pipeline.writeStage(card.coalesce(1), s"$tmp/card")
        val p = new org.apache.hadoop.fs.Path(s"$tmp/card")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val nFiles = fs.listStatus(p)
          .count(st => st.getPath.getName.startsWith("part-") &&
            st.getPath.getName.endsWith(".parquet"))
        s.read.parquet(s"$tmp/card")
          .withColumn("one_file", lit(nFiles == 1))
          .orderBy("source")
          // the memory sink holds the result; collect defensively via
          // localCheckpoint before the temp dir is deleted
          .localCheckpoint(true)
      } finally {
        org.apache.spark.graft.ListenerDrain.drain(s)
        graft.engine.FsUtil.deleteRecursively(tmp)
      }
    },

    // Multimodal curation GATE — the decision a mixed text+media
    // pipeline actually ships: per doc, decode the media payload (real
    // codecs), score the text (q19's quality composite), and emit one
    // keep/drop verdict from closed-form-replayable rules (image mean
    // band + min raster area; audio amplitude band + min duration;
    // text quality threshold). Every input number is already
    // hash-exact under its own oracle (q30 media features, q19
    // quality), so the COMPOSITION is hash-exact too.
    "q119_multimodal_gate" -> { (s, dir) =>
      import graft.ops.{Multimodal, TextOps}
      val docs = Tables.documents(s, dir)
      val feats = Multimodal.extractFeatures(docs, "doc_id")
      val quality = docs.select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
      feats.join(quality, feats("media_id") === quality("doc_id"))
        .select(col("media_id"), col("format"), col("quality"),
          (col("format").isin("bmp", "ppm") &&
            col("mean_val").between(96.0, 160.0) &&
            col("width") * col("height") >= 40 ||
           col("format") === "wav" &&
            abs(col("mean_val")) <= 100.0 &&
            col("duration_sec") >= 0.02).as("keep_media"),
          (col("quality") >= 0.9461).as("keep_text"))
        .withColumn("keep", col("keep_media") && col("keep_text"))
        .orderBy("media_id")
    },

    // REAL image resize under the oracle: synthesized BMP/PPM payloads
    // → nearest-neighbor resample to 8×6 (MediaCodecs.resizeImage,
    // pure integer source mapping) → re-encode as PPM → REAL decode of
    // the re-encoded bytes. The oracle replays the resample mean from
    // the synthesis closed form, so a resampler that maps one source
    // byte wrong hash-mismatches. Audio rows pass through the stage
    // and are excluded here (their features are q30's).
    "q118_media_resize" -> { (s, dir) =>
      import graft.ops.Multimodal
      import s.implicits._
      val media = Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id")
      val resized = Multimodal.resizeMedia(media, tw = 8, th = 6)
      resized.filter(_.resized)
        .map(r => Multimodal.MediaRow(r.media_id, r.payload, r.format))
        .mapPartitions(Multimodal.decodeBatch)
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("mean_val"))
        .orderBy("media_id")
    },

    // REAL-WORLD container decode under the oracle: the same raster
    // closed form as q30/q118, but encoded as PNG and decoded through
    // the JDK's javax.imageio codec — an INDEPENDENT implementation of
    // a format this engine never parses by hand. PNG is lossless, so
    // the oracle replays both the full-raster mean and the 8×6
    // nearest-neighbor resample mean (the resize runs the same
    // integer source map over the ImageIO raster, re-encoded PPM,
    // re-decoded). One wrong byte anywhere in encode, the JDK decode
    // walk, the resample map, or the PPM re-encode hash-mismatches.
    "q121_png_decode" -> { (s, dir) =>
      import graft.ops.Multimodal
      import s.implicits._
      // the synthesized payloads feed two plan references (feature
      // decode + resize); encode once
      val media = Multimodal.synthesizePngMedia(Tables.documents(s, dir), "doc_id")
        .localCheckpoint(false)
      val feats = media.mapPartitions(Multimodal.decodeBatch).toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("mean_val"))
      val resizedMean = Multimodal.resizeMedia(media, tw = 8, th = 6)
        .filter(_.resized)
        .map(r => Multimodal.MediaRow(r.media_id, r.payload, r.format))
        .mapPartitions(Multimodal.decodeBatch).toDF()
        .select(col("media_id"), col("mean_val").as("resized_mean"))
      // left join: a PNG the resize arm fails to handle surfaces as a
      // NULL resized_mean → oracle hash mismatch, not a dropped row
      feats.join(resizedMean, Seq("media_id"), "left")
        .orderBy("media_id")
    },

    // Retrieval EVALUATION, binary-relevance companions to q114: MRR
    // and recall@10 of the q82 BM25 ranking against each query's 20
    // highest-overlap docs (shared distinct-token count, rel desc /
    // doc asc tie-break — a fixed-size label set that stays
    // discriminating at every fixture scale, unlike an absolute
    // overlap threshold). Every metric is a ratio of exact integers
    // through one IEEE division — hash-exact with no quantization.
    "q117_retrieval_mrr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val corpus = docs.where(col("doc_id") >= 5)
      val queries = docs.where(col("doc_id") < 5)
      val ranked = Retrieval.bm25TopK(
        corpus, "doc_id", "text", queries, "doc_id", "text", k = 10)
      def bag(df: org.apache.spark.sql.DataFrame, side: String) =
        df.select(col("doc_id").as(side),
          explode(array_distinct(graft.ops.TextOps.tokens(col("text"))))
            .as("tok"))
      val overlap = bag(queries, "query_id")
        .join(bag(corpus, "doc_id"), "tok")
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("rel"))
      val labelW = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("rel").desc, col("doc_id"))
      val labels = overlap
        .withColumn("__r", row_number().over(labelW))
        .where(col("__r") <= 20).drop("__r")
      Retrieval.retrievalMetrics(
          ranked.select("query_id", "rank", "doc_id"), labels, k = 10)
        .orderBy("query_id")
    },

    // Retrieval EVALUATION — nDCG@10 of the q82 BM25 ranking against
    // graded relevance labels (distinct shared-token counts, exactly
    // recomputable on both engines): the regression metric a
    // retrieval pipeline gates on. ln-position discounts are scale-6
    // floor-quantized per position (the q82/q83 ln discipline), so
    // DCG/IDCG are exact integer sums and the row is FULLY
    // hash-exact.
    "q114_retrieval_ndcg" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val corpus = docs.where(col("doc_id") >= 5)
      val queries = docs.where(col("doc_id") < 5)
      val ranked = Retrieval.bm25TopK(
        corpus, "doc_id", "text", queries, "doc_id", "text", k = 10)
      def bag(df: org.apache.spark.sql.DataFrame, side: String) =
        df.select(col("doc_id").as(side),
          explode(array_distinct(graft.ops.TextOps.tokens(col("text"))))
            .as("tok"))
      val rel = bag(queries, "query_id")
        .join(bag(corpus, "doc_id"), "tok")
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("rel"))
      Retrieval.ndcgAtK(ranked.select("query_id", "rank", "doc_id"), rel, 10)
        .orderBy("query_id")
    },

    // Bigram-LM cross-entropy scoring — the CCNet-style perplexity
    // quality signal: add-one bigram model trained per language on the
    // corpus itself, every doc scored in nats/transition. Count tables
    // are vocab-bounded broadcasts; per-token ln is floor-quantized to
    // scale-6 longs so document totals are exact integer sums.
    "q83_lm_perplexity" -> { (s, dir) =>
      LanguageModel.bigramCrossEntropy(
          Tables.documents(s, dir), "doc_id", "text", "lang")
        .orderBy("doc_id")
    },

    // DSIR-style importance reweighting — docs 0-19 play the curated
    // target sample (the q66/q81 convention), the rest the raw corpus;
    // every corpus doc scored by its hashed-unigram log importance
    // ratio, top-100 flagged selected. Feature buckets use a portable
    // polynomial char fold (NOT xxhash64) so the oracle recomputes
    // every bucket id; per-bucket ln is floor-quantized to scale-6
    // longs (the q83 rule), making doc totals exact integer sums.
    "q84_dsir_selection" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Selection.dsirScores(
          docs.where(col("doc_id") >= 20),
          docs.where(col("doc_id") < 20),
          "doc_id", "text", nBuckets = 1024, k = 100)
        .orderBy("doc_id")
    },

    // Model-based quality classifier (fastText shape / FineWeb-style
    // gate): NB log-odds weights over hashed unigram+bigram buckets
    // learned from two deterministic seed slices (doc_id%7==0 plays
    // the curated positive, %7==3 the crawl negative), every doc
    // scored by its exact-integer logit sum, kept iff the MEAN weight
    // clears 0 via cross-multiplication (no division). Same portable
    // char fold and scale-6 ln quantization as q84 — the oracle
    // recomputes every bucket id, weight, and logit.
    "q122_quality_classifier" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Selection.qualityClassifierScores(
          docs,
          docs.where(col("doc_id") % 7 === 0),
          docs.where(col("doc_id") % 7 === 3),
          "doc_id", "text", nBuckets = 1024, threshold6 = 0L)
        .orderBy("doc_id")
    },

    // Repeated-span REMOVAL — the strip side of q80 (Lee et al. 2022):
    // every token covered by a span appearing in ≥ 2 docs is removed
    // and the document rebuilt in token order. Span identity is the
    // 64-bit hash on the Spark side, the span string in the oracle —
    // value-exact modulo the documented 2^-64 collision trade.
    "q85_strip_spans" -> { (s, dir) =>
      Dedup.stripRepeatedSpans(Tables.documents(s, dir), "doc_id", "text",
          spanTokens = 6, minDocs = 2)
        .orderBy("doc_id")
    },

    // Temperature-based source mixture (α = 0.5): a 1000-doc budget
    // allocated across sources ∝ sqrt(token share). sqrt and double
    // division are IEEE-correctly-rounded (bit-portable by spec);
    // weights are floor-quantized to scale-6 longs so the normalizer
    // and the allocation are exact integer arithmetic.
    "q86_temperature_mix" -> { (s, dir) =>
      Selection.temperatureMixture(Tables.documents(s, dir),
          "source", "text", budgetDocs = 1000L)
        .orderBy("source")
    },

    // BPE merge discovery — tokenizer training as a distributed op:
    // the corpus collapses to a (word, count) vocabulary once, then
    // each of the 3 merge steps is one pair-count aggregate + one
    // TakeOrdered(1) argmax + one broadcast rewrite. Merge application
    // is the double-REPLACE contract (leftmost-rescan, identical in
    // JVM and SQL engines — see ops/Bpe.scala), so the oracle replays
    // every step exactly.
    "q87_bpe_merges" -> { (s, dir) =>
      Bpe.merges(Tables.documents(s, dir), "doc_id", "text", nMerges = 3)
        .orderBy("step")
    },

    // Tokenizer fertility per language under the first 3 learned
    // merges — symbols-per-word, the "which language pays more
    // sequence length" diagnostic. Merge application runs on the
    // per-language vocabulary, never the raw corpus.
    "q88_bpe_fertility" -> { (s, dir) =>
      Bpe.fertility(Tables.documents(s, dir), "doc_id", "text", "lang",
          nMerges = 3)
        .orderBy("lang")
    },

    // Corpus encode under the learned tokenizer — per-doc subword
    // counts (the honest token-budget number). Merge application per
    // DISTINCT word (vocabulary collapse), join-back + one aggregate.
    "q102_bpe_encode" -> { (s, dir) =>
      Bpe.encode(Tables.documents(s, dir), "doc_id", "text", nMerges = 3)
        .orderBy("doc_id")
    },

    // CCNet-style perplexity terciles — head/middle/tail thirds per
    // language by LM cross-entropy. The cutoffs come from the
    // per-(lang, score) HISTOGRAM (window over distinct scores only),
    // never a per-language sort of the corpus; assignment is a
    // broadcast join of two cutoff rows per language. Tied scores
    // share a bucket (the deterministic, engine-portable contract).
    "q89_perplexity_buckets" -> { (s, dir) =>
      // localCheckpoint: terciles references the scored frame twice
      // (histogram + assignment join) — without it the LM scoring
      // plan runs twice (the q26/q87 materialization precedent)
      val scored = LanguageModel.bigramCrossEntropy(
          Tables.documents(s, dir), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("nll6"))
        .localCheckpoint(true)
      PerplexityBuckets.terciles(scored).orderBy("doc_id")
    },

    // Corpus health report — the composed curation dashboard: per
    // (lang, source), exact-dup mass, benchmark contamination, the
    // q40 quality/keep rule, and token accounting. Every signal is a
    // portable recompute, so the whole composition is hash-exact.
    "q90_corpus_health" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") < 20)
      val corpus = docs.where(col("doc_id") >= 20)
      val contam = Dedup.contaminationReport(corpus, "doc_id", "text",
          bench, "text", n = 3)
        .select(col("doc_id"), lit(true).as("contam"))
      val dupCounts = corpus.groupBy(col("text")).agg(count(lit(1)).as("tc"))
      corpus
        .join(dupCounts, Seq("text"))
        .join(contam, Seq("doc_id"), "left")
        .select(col("lang"), col("source"), col("tc"), col("contam"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextOps.qualityScore(col("text")).as("quality"))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("tc") >= 2, 1L).otherwise(0L)).as("n_dup"),
          sum(when(coalesce(col("contam"), lit(false)), 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(when(col("quality") >= 0.5 && col("n_tokens") >= 10, 1L)
            .otherwise(0L)).as("n_kept"),
          sum(col("n_tokens")).as("total_tokens"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_dup"),
          col("n_contaminated"), col("n_kept"), col("total_tokens"),
          (col("total_tokens").cast("double") / col("n_docs").cast("double"))
            .as("mean_tokens"))
        .orderBy("lang", "source")
    },

    // Positional phrase search — docs 0-4's first 3 tokens play the
    // query phrases; every corpus doc containing a phrase as
    // consecutive tokens reports occurrence count + first position.
    // One postings⋈phrase-tokens join + a distinct-idx aggregate:
    // arity-free, no windows, only matched-term postings ever shuffle.
    "q91_phrase_search" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val phrases = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          slice(TextOps.tokens(col("text")), 1, 3).as("ph"))
        .where(size(col("ph")) === 3)
      Retrieval.phraseOccurrences(docs.where(col("doc_id") >= 5),
          "doc_id", "text", phrases, "qid", "ph")
        .orderBy("query_id", "doc_id")
    },

    // Source-overlap matrix — exact pairwise Jaccard of word-3-gram
    // shingle sets between sources (zeros included): the "which
    // sources duplicate each other" curation diagnostic. The exact
    // arm is fully portable; the mergeable-minhash scale arm is
    // spec-verified against it (DedupSpec).
    "q92_source_overlap" -> { (s, dir) =>
      Dedup.sourceOverlapExact(Tables.documents(s, dir), "source", "text", n = 3)
        .orderBy("src_a", "src_b")
    },

    // Trigram stupid-backoff scoring — the CROSS-corpus LM quality
    // signal: model trained per-language on docs 0-19 (the curated-
    // target convention), the rest scored; unseen n-grams genuinely
    // fire the backoff chain and the per-doc backoff counters are the
    // "how out-of-domain" diagnostic. Quantized-ln scale-6 longs keep
    // doc totals exact.
    "q93_trigram_backoff" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      LanguageModel.trigramStupidBackoff(
          docs.where(col("doc_id") < 20), docs.where(col("doc_id") >= 20),
          "doc_id", "text", "lang")
        .orderBy("doc_id")
    },

    // Leakage-safe split — normalized-dup groups route to ONE split
    // (train/test contamination guard at split time). Contract output
    // (q56 pattern): exact row/doc counts, zero bad labels, zero
    // groups spanning >1 split (the co-location guarantee, exactly
    // recomputable), train fraction within tolerance.
    "q94_leakage_split" -> { (s, dir) =>
      val split = Sampling.leakageSafeSplit(Tables.documents(s, dir),
        col("doc_id"), col("text"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val spanGroups = split
        .groupBy(Dedup.normalizeText(col("text")).as("__n"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_span_groups"))
      split.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(when(col("split").isin("train", "val", "test"), 0L)
            .otherwise(1L)).as("bad_labels"),
          (abs(avg(when(col("split") === "train", 1.0).otherwise(0.0)) - 0.8)
            < 0.07).as("train_frac_ok"))
        .crossJoin(broadcast(spanGroups))
    },

    // The MAP-ONLY twin of q91: same phrases, same results, but each
    // (doc, phrase) pair is decided inside one codegen'd array
    // expression — zero shuffles before the output sort. This is the
    // formulation that drops unchanged into a streaming scan (no
    // state, no exchange); q91's postings join is the large-phrase-set
    // arm. Shares q91's oracle verbatim — two plans, one contract.
    "q95_phrase_mapside" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val phrases = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          slice(TextOps.tokens(col("text")), 1, 3).as("ph"))
        .where(size(col("ph")) === 3)
      Retrieval.phraseOccurrencesMapSide(docs.where(col("doc_id") >= 5),
          "doc_id", "text", phrases, "qid", "ph")
        .orderBy("query_id", "doc_id")
    },

    // Sliding-window chunking (size 48, stride 24 — 50% overlap;
    // sized so fixture docs genuinely split into overlapping chunks):
    // the RAG-corpus preparation step, fully closed-form so the
    // oracle rebuilds every chunk text token-for-token. Map-side
    // explode only; zero-token docs keep one empty chunk.
    "q96_sliding_chunks" -> { (s, dir) =>
      graft.ops.Packing.chunkSliding(Tables.documents(s, dir),
          "doc_id", "text", size = 48, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    },

    // Sentence-aware sliding chunks — q96 with RAG-grade boundary
    // snapping: truncated windows pull their end back to the last
    // sentence-terminal token within an 8-token tolerance zone; final
    // windows and no-boundary windows keep the nominal end. The
    // fixture corpus carries no punctuation, so the marker-char set
    // (an operator parameter, the q97 convention) designates
    // 'e'-final tokens as boundaries — ~1/3 of fixture tokens, which
    // makes both the snapped and fallback arms discriminate. Every
    // boundary, chunk span, and text is a closed form the oracle
    // rebuilds.
    "q123_sentence_chunks" -> { (s, dir) =>
      graft.ops.Packing.chunkSentenceAware(Tables.documents(s, dir),
          "doc_id", "text", size = 48, stride = 24, tolerance = 8,
          sentenceEndChars = Seq('.', '!', '?', 'e'))
        .orderBy("doc_id", "chunk_idx")
    },

    // Gopher-style rule battery (Rae et al. 2021 shape): four
    // row-local quality rules + conjunction, every signal and boolean
    // oracle-exact. Thresholds parameterize the operator; the
    // registered defaults split the fixture corpus on every rule at
    // every scale (keep ≈ 10-13%). Map-only, zero shuffles.
    "q97_gopher_rules" -> { (s, dir) =>
      TextOps.gopherRules(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // n-gram novelty vs the corpus: fraction of each doc's distinct
    // 3-grams unique to it / shared by >2 docs — the new-text vs
    // recycled-text curation signal. Postings discipline, no pair
    // join; every count and fraction oracle-replayed.
    "q104_ngram_novelty" -> { (s, dir) =>
      Dedup.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
          n = 3, boilerplateFloor = 2)
        .orderBy("doc_id")
    },

    // Winnowed candidate pairs: the MOSS pairing step — q100's
    // fingerprints inverted into postings, stop-fingerprint cap,
    // pairs sharing >= 3 selected hashes. The bounded-density twin of
    // q24's exact shingle join; every pair and count oracle-replayed.
    "q101_winnowed_pairs" -> { (s, dir) =>
      Dedup.winnowedPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 3, maxDocFreq = 50)
        .orderBy("id_a", "id_b")
    },

    // Winnowing fingerprint selection (MOSS): window-min over portable
    // rolling 3-gram hashes, rightmost tie rule — the guaranteed-
    // recall/bounded-density fingerprint dial. Map-only; every count
    // and selected hash oracle-replayed.
    "q100_winnowing" -> { (s, dir) =>
      TextOps.winnow(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4)
        .orderBy("doc_id")
    },

    // Portable ±1 random projection (JL/Achlioptas): scale-6 quantized
    // vectors onto 16 closed-form sign rows — exact integer sums,
    // every output coordinate oracle-replayed. The 100 TB pre-ANN
    // dimensionality knob; map-only, stateless, zero shuffles.
    "q99_random_projection" -> { (s, dir) =>
      Similarity.randomProjection(Tables.embeddings(s, dir),
          "vec_id", "embedding", outDim = 16)
        .orderBy("vec_id")
    },

    // Quality-aware near-dup survivorship (Dolma/FineWeb keep-best):
    // q48's cluster machinery + q19's quality score, argmax per
    // cluster on the exact-integer quality key. Singletons keep
    // themselves; every kept/dropped decision oracle-replayed.
    "q98_quality_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      val scored = docs.select(col("doc_id"),
        floor(TextOps.qualityScore(col("text")) * lit(1000000.0))
          .cast("long").as("quality6"))
      Dedup.qualityAwareSurvivors(scored, "doc_id", "quality6", pairs)
        .orderBy("doc_id")
    },

    // End-to-end corpus curation — the composed training-data filter:
    // exact-dedup survivors, quality-scored, token-counted, grouped per
    // declared language with kept/dropped accounting. Every piece is
    // portable, so the whole composition is oracle-checked.
    "q40_corpus_curation" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val deduped = Dedup.exactDedup(docs, "text", "doc_id")
      val scored = deduped.select(
        col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.qualityScore(col("text")).as("quality"))
      scored
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("quality") >= 0.5 && col("n_tokens") >= 10, 1L)
            .otherwise(0L)).as("n_kept"),
          sum(col("n_tokens").cast("long")).as("total_tokens"))
        .orderBy("lang")
    },

    // Benchmark decontamination: docs 0-19 play the eval set; any
    // corpus doc sharing a word 3-gram with them is dropped. The
    // benchmark shingle set broadcasts — corpus shingles never shuffle.
    "q66_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") < 20)
      val corpus = docs.where(col("doc_id") >= 20)
      Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", n = 3)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // Within-document repetition signals: duplicate-line fraction and
    // duplicate-3-gram fraction — boilerplate/repetition-loop filters.
    "q67_repetition" -> { (s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextOps.dupLineRatio(col("text")).as("dup_line_ratio"),
          TextOps.dupNgramRatio(col("text"), 3).as("dup_3gram_ratio"))
        .orderBy("doc_id")
    },

    // Gram-grain contamination triage: distinct shared-benchmark-gram
    // counts per contaminated doc (the report behind q66's verdict).
    "q68_contamination_report" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.contaminationReport(
          docs.where(col("doc_id") >= 20), "doc_id", "text",
          docs.where(col("doc_id") < 20), "text", n = 3)
        .orderBy("doc_id")
    },

    // Token-budget mixture sampling: per-language documents in doc_id
    // order until 2000 tokens are spent per language (doc_id order =
    // SQL-portable; production uses xxhash64 order for unbiased picks).
    "q69_token_budget_mix" -> { (s, dir) =>
      val withTokens = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Sampling.tokenBudgetSample(
          withTokens, col("lang"), col("doc_id"), col("n_tokens"), 2000L)
        .orderBy("doc_id")
    },

    // Paragraph-grain dedup: corpus-wide first-occurrence per distinct
    // paragraph, documents rebuilt in order (Dolma-style boilerplate
    // removal). Output = per-doc kept-paragraph count + rebuilt length.
    "q71_paragraph_dedup" -> { (s, dir) =>
      val kept = Dedup.paragraphDedup(Tables.documents(s, dir), "doc_id", "text")
      Dedup.rebuildFromParagraphs(kept, "doc_id")
        .select(col("doc_id"), col("n_paras"),
          length(col("text")).as("rebuilt_len"))
        .orderBy("doc_id")
    },

    // PII/link scrubbing: per-class match counts on the raw text plus
    // the scrubbed length — the standard pre-training redaction pass.
    "q70_pii_scrub" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(Seq(col("doc_id")) ++ TextOps.piiCounts(col("text")) ++ Seq(
          length(TextOps.scrubPii(col("text"))).as("scrubbed_len")): _*)
        .orderBy("doc_id")
    },

    // Semantic dedup (SemDeDup shape): IVF-clustered embedding space,
    // within-cell cosine pairs, connected components, min-id survivor.
    // CONTRACT oracle: kept + dropped partition the corpus exactly,
    // and every dropped vector belongs to at least one ≥ τ near-dup
    // pair (no vector is dropped without a witness). τ = 0.4 is
    // corpus-calibrated (the synthetic embeddings' pairwise cosine
    // tops out near 0.45; real embedding models sit near 0.95+).
    "q73_semantic_dedup" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      // the OPERATOR runs the dedup; the contract arms count from the
      // very pair list / kept set it produced (parts are checkpointed
      // inside, so the four aggregate arms don't re-run the pair scan)
      val parts = Dedup.semanticDedupParts(e, "vec_id", "embedding",
        threshold = Calibration.SemanticDedupTau, nCells = 8)
      val paired = parts.pairs.select(col("id_a").as("vec_id"))
        .union(parts.pairs.select(col("id_b").as("vec_id"))).distinct()
      e.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(parts.kept.agg(count(lit(1)).as("n_kept")))
        .crossJoin(parts.dropped.agg(count(lit(1)).as("n_dropped")))
        .crossJoin(parts.dropped.join(paired, Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("n_orphans")))
        .select(col("n_vectors"),
          (col("n_kept") + col("n_dropped") === col("n_vectors"))
            .as("conservation_ok"),
          col("n_orphans"))
    },

    // Int8 embedding quantization (the corpus-scale storage/IO knob):
    // per-vector symmetric scale, tinyint codes. CONTRACT oracle per
    // vector: a positive scale ⟺ the vector is non-degenerate
    // (data-derived on both sides), reconstruction error within the
    // quantizer's scale/2 bound, dimensionality preserved.
    "q74_quantize_int8" -> { (s, dir) =>
      val q = Similarity.withQuantizedInt8(Tables.embeddings(s, dir), "embedding")
      val deq = Similarity.dequantizeInt8(col("q_codes"), col("q_scale"))
      q.select(col("vec_id"),
          (col("q_scale") > 0.0).as("scale_positive"),
          (array_max(zip_with(col("embedding"), deq,
            (x, y) => abs(x.cast("double") - y))) <=
              col("q_scale") * 0.5 + lit(1e-12)).as("within_bound"),
          (size(col("q_codes")) === size(col("embedding"))).as("dims_preserved"))
        .orderBy("vec_id")
    },

    // Custom DSv2 paginated source (S1/P3 parity): date-range pushdown
    // prunes pages server-side, then monthly rollup. The feed is
    // closed-form arithmetic, reproduced exactly by the oracle's
    // range()-based generator (sfDir unused by design — the source IS
    // the dataset).
    "q37_paged_source" -> { (s, _) =>
      s.read.format("graft.sources.PagedProvider")
        .option("totalRows", "100000").option("pageSize", "7919")
        .load()
        .where(col("date").between(
          lit("2020-06-01 00:00:00").cast("timestamp"),
          lit("2020-08-31 23:59:59").cast("timestamp")))
        .groupBy(date_trunc("month", col("date")).as("month"))
        .agg(count(lit(1)).as("n"),
          sum(col("sale_dollars").cast("decimal(18,2)")).cast("double").as("sales"),
          countDistinct(col("store")).as("n_stores"))
        .orderBy("month")
    }
  )

  private val tokensSql =
    """list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')"""

  /** The q122/q129 classifier CTE chain: hashed unigram+bigram bags,
    * NB log-odds weights from the doc_id%7 seed split, per-doc exact
    * logits (`perdoc(doc_id, logit6, n_features)`). Keep gate =
    * `n_features > 0 AND logit6 >= 0` downstream.
    */
  private val classifierCteSql =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS w FROM documents
       |), feats AS (
       |  SELECT doc_id, unnest(w) AS f FROM toks
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |    j -> w[j] || ' ' || w[j+1])) AS f
       |  FROM toks WHERE len(w) >= 2
       |), bag AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(split(f, ''), c -> CAST(unicode(c) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1024) AS b
       |  FROM feats
       |), cp AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS cp FROM bag
       |  WHERE doc_id % 7 = 0 GROUP BY b
       |), cn AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS cn FROM bag
       |  WHERE doc_id % 7 = 3 GROUP BY b
       |), np AS (SELECT CAST(COALESCE(SUM(cp), 0) AS BIGINT) AS np FROM cp
       |), nn AS (SELECT CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS nn FROM cn
       |), w AS (
       |  SELECT COALESCE(cp.b, cn.b) AS b,
       |    CAST(floor(ln(
       |      ((CAST(COALESCE(cp.cp, 0) AS DOUBLE) + 1.0)
       |        * CAST(nn.nn + 1024 AS DOUBLE)) /
       |      ((CAST(COALESCE(cn.cn, 0) AS DOUBLE) + 1.0)
       |        * CAST(np.np + 1024 AS DOUBLE))) * 1000000.0) AS BIGINT) AS w6
       |  FROM cp FULL OUTER JOIN cn ON cp.b = cn.b
       |  CROSS JOIN np CROSS JOIN nn
       |), defw AS (
       |  SELECT CAST(floor(ln(CAST(nn.nn + 1024 AS DOUBLE)
       |    / CAST(np.np + 1024 AS DOUBLE)) * 1000000.0) AS BIGINT) AS defw6
       |  FROM np CROSS JOIN nn
       |), perdoc AS (
       |  SELECT g.doc_id,
       |    CAST(SUM(COALESCE(w.w6, d.defw6)) AS BIGINT) AS logit6,
       |    CAST(COUNT(*) AS BIGINT) AS n_features
       |  FROM bag g LEFT JOIN w USING (b) CROSS JOIN defw d
       |  GROUP BY g.doc_id
       |)""".stripMargin

  /** The q87/q88 BPE oracle's per-step CTE chain: voc0 is the
    * symbolized (word, count) vocabulary; each step k adds pair
    * counts (pK), the argmax merge (mK), and the rewritten vocabulary
    * (vocK) via the same double-REPLACE contract as ops/Bpe.scala.
    */
  /** Merge-application CTE chain `rw1..rwN` over a symbolized source
    * CTE, mirroring `Bpe.applyMerges`: each step's double-REPLACE is
    * guarded by `EXISTS (m_k)` so an exhausted (truncated) merge step
    * leaves `sym` UNCHANGED — the same no-annihilation semantics as
    * the operator. `carryCols` are the non-sym columns to thread
    * through.
    */
  private def bpeApplySql(sourceCte: String, carryCols: String, n: Int): String =
    (1 to n).map { k =>
      val src = if (k == 1) sourceCte else s"rw${k - 1}"
      s""", rw$k AS (
         |  SELECT $carryCols,
         |    CASE WHEN EXISTS (SELECT 1 FROM m$k) THEN
         |      replace(replace(sym,
         |        (SELECT ' ' || a || ' ' || b || ' ' FROM m$k),
         |        (SELECT ' ' || a || b || ' ' FROM m$k)),
         |        (SELECT ' ' || a || ' ' || b || ' ' FROM m$k),
         |        (SELECT ' ' || a || b || ' ' FROM m$k))
         |    ELSE sym END AS sym
         |  FROM $src
         |)""".stripMargin
    }.mkString

  private def bpeStagesSql(n: Int): String = {
    val voc0 =
      s"""voc0 AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    ' ' || array_to_string(split(word, ''), ' ') || ' ' AS sym
         |  FROM (SELECT unnest($tokensSql) AS word FROM documents)
         |  GROUP BY word
         |)""".stripMargin
    val steps = (1 to n).map { k =>
      s"""p$k AS (
         |  SELECT arr[j] AS a, arr[j+1] AS b, CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, arr, unnest(range(1, len(arr))) AS j
         |        FROM (SELECT n, string_split(trim(sym), ' ') AS arr
         |              FROM voc${k - 1}))
         |  GROUP BY a, b
         |), m$k AS (
         |  SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1
         |), voc$k AS (
         |  SELECT n, replace(replace(sym,
         |    (SELECT ' ' || a || ' ' || b || ' ' FROM m$k),
         |    (SELECT ' ' || a || b || ' ' FROM m$k)),
         |    (SELECT ' ' || a || ' ' || b || ' ' FROM m$k),
         |    (SELECT ' ' || a || b || ' ' FROM m$k)) AS sym
         |  FROM voc${k - 1}
         |)""".stripMargin
    }
    (voc0 +: steps).mkString(", ")
  }

  /** Shared BM25@10 + shared-token-overlap CTE chain (`toks` →
    * `topk`, plus `ovl` = per-(query, doc) distinct-token overlap) —
    * the retrieval-evaluation oracles (q114 nDCG, q117 MRR/recall)
    * append their metric CTEs to this ONE fragment, so a BM25 or
    * overlap fix lands in both. The text ends inside the WITH list:
    * callers append `, <cte> ... ) SELECT ...`.
    */
  private val bm25EvalCteSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS w FROM documents
       |), d AS (
       |  SELECT doc_id AS doc, w, len(w) AS dl FROM toks WHERE doc_id >= 5
       |), q AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(w)) AS term
       |  FROM toks WHERE doc_id < 5
       |), post AS (
       |  SELECT doc, dl, term, len(list_filter(w, x -> x = term)) AS tf
       |  FROM (SELECT doc, dl, w, unnest(list_distinct(w)) AS term FROM d)
       |), matched AS (
       |  SELECT * FROM post WHERE term IN (SELECT term FROM q)
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM d
       |), dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM matched GROUP BY term
       |), scored AS (
       |  SELECT q.query_id, m.doc,
       |    CAST(floor(
       |      ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
       |               / (CAST(f.df AS DOUBLE) + 0.5))
       |      * (CAST(m.tf AS DOUBLE) * (1.2 + 1.0)
       |         / (CAST(m.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
       |            + 0.75 * CAST(m.dl AS DOUBLE) / s.avgdl)))
       |      * 1000000.0) AS BIGINT) AS s6
       |  FROM matched m JOIN dfreq f USING (term) JOIN q ON q.term = m.term
       |  CROSS JOIN stats s
       |), perdoc AS (
       |  SELECT query_id, doc, CAST(SUM(s6) AS BIGINT) AS score6
       |  FROM scored GROUP BY query_id, doc
       |), topk AS (
       |  SELECT query_id, doc AS doc_id, rnk FROM (
       |    SELECT query_id, doc, score6,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY score6 DESC, doc) AS rnk
       |    FROM perdoc
       |  ) WHERE rnk <= 10
       |), ovl AS (
       |  SELECT qd.query_id, cd.doc_id, COUNT(*) AS rel
       |  FROM (SELECT doc_id AS query_id, unnest(list_distinct(w)) AS tok
       |        FROM toks WHERE doc_id < 5) qd
       |  JOIN (SELECT doc_id, unnest(list_distinct(w)) AS tok
       |        FROM toks WHERE doc_id >= 5) cd USING (tok)
       |  GROUP BY 1, 2
       |)""".stripMargin

  private def stopHitsSql(words: Seq[String]): String =
    s"len(list_filter($tokensSql, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  private val phraseOracleSql: String =
    s"""WITH corp AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents WHERE doc_id >= 5
         |), qd AS (
         |  SELECT doc_id AS qid, w[1:3] AS ph
         |  FROM (SELECT doc_id, $tokensSql AS w FROM documents WHERE doc_id < 5)
         |  WHERE len(w) >= 3
         |), pt AS (
         |  SELECT qid, i - 1 AS idx, ph[i] AS term
         |  FROM (SELECT qid, ph, unnest(range(1, len(ph) + 1)) AS i FROM qd)
         |), plen AS (SELECT qid, len(ph) AS m FROM qd
         |), post AS (
         |  SELECT doc_id AS doc, i - 1 AS pos, w[i] AS term
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM corp)
         |), hits AS (
         |  SELECT p.qid, o.doc, o.pos - p.idx AS strt,
         |    COUNT(DISTINCT p.idx) AS hit
         |  FROM post o JOIN pt p USING (term)
         |  GROUP BY p.qid, o.doc, o.pos - p.idx
         |), occ AS (
         |  SELECT h.qid, h.doc, h.strt FROM hits h
         |  JOIN plen USING (qid) WHERE h.hit = plen.m
         |)
         |SELECT qid AS query_id, doc AS doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |  CAST(MIN(strt) AS INT) AS first_pos
         |FROM occ GROUP BY qid, doc
         |ORDER BY query_id, doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q16_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin,
    "q17_sessionization" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_id, ts_s,
        |    CASE WHEN lag(ts_s) OVER w IS NULL
        |           OR CAST(epoch(ts_s) AS BIGINT) - CAST(epoch(lag(ts_s) OVER w) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
        |), s AS (
        |  SELECT user_id, ts_s,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM g
        |)
        |SELECT user_id, session_seq, MIN(ts_s) AS session_start,
        |  MAX(ts_s) AS session_end, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    "q18_token_count" ->
      s"""SELECT doc_id, CAST(len($tokensSql) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_subtokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q19_quality_score" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, n_tokens, alpha_ratio, stop_hits,
         |    (CAST(length(text) AS DOUBLE) - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stop_ratio
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, mean_tok_len, alpha_ratio, stop_ratio,
         |  (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
         |  + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |  + (CASE WHEN stop_ratio > 0.005 THEN 1.0 ELSE 0.0 END) * 0.2
         |  + alpha_ratio * 0.3 AS quality
         |FROM m ORDER BY doc_id""".stripMargin,
    "q20_lang_id" -> {
      val scoreCols = TextOps.LangMarkers.map { case (lang, words) =>
        s"  CAST(${stopHitsSql(words)} AS INT) AS score_$lang"
      }.mkString(",\n")
      val best = s"greatest(${TextOps.LangMarkers.map(m => s"score_${m._1}").mkString(", ")})"
      val pick = TextOps.LangMarkers.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
        s"CASE WHEN score_$lang = $best AND $best > 0 THEN '$lang' ELSE $acc END"
      }
      s"""WITH s AS (
         |  SELECT doc_id,
         |$scoreCols
         |  FROM documents
         |)
         |SELECT doc_id, score_en, score_fr, score_es, score_de, score_zh,
         |  $pick AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // States the fingerprint contract (defined ⟺ ≥ k chars; min ≤ max)
    // — the hash values themselves are engine-specific and spec-tested.
    "q21_fingerprint" ->
      """SELECT doc_id, length(text) >= 8 AS fp_defined, TRUE AS min_le_max
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_dedup_exact" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "q130_tfidf_keywords" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), posting AS (
         |  SELECT doc_id, unnest(w) AS term FROM toks
         |), tf AS (
         |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM posting GROUP BY doc_id, term
         |), dfq AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
         |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
         |), idf AS (
         |  SELECT term, CAST(floor(ln((CAST(n.n AS DOUBLE) + 1.0)
         |    / (CAST(df AS DOUBLE) + 1.0)) * 1000000.0) AS BIGINT) AS idf6
         |  FROM dfq CROSS JOIN n
         |), scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf,
         |    CAST(tf.tf * idf.idf6 AS BIGINT) AS score6,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf * idf.idf6 DESC, tf.term) AS INT) AS rk
         |  FROM tf JOIN idf USING (term)
         |)
         |SELECT doc_id, term, tf, score6, rk FROM scored
         |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    "q131_pmi_collocations" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), grams AS (
         |  SELECT w[i] AS a, w[i+1] AS b
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i
         |        FROM toks WHERE len(w) >= 2)
         |), pairc AS (
         |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_pair
         |  FROM grams GROUP BY a, b HAVING COUNT(*) >= 5
         |), unic AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS cu
         |  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t
         |), tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS tp FROM grams
         |), tu AS (SELECT CAST(COALESCE(SUM(cu), 0) AS BIGINT) AS tu FROM unic
         |)
         |SELECT p.a, p.b, p.n_pair,
         |  CAST(floor((ln(CAST(p.n_pair AS DOUBLE))
         |    + 2.0 * ln(CAST(tu.tu AS DOUBLE))
         |    - ln(CAST(tp.tp AS DOUBLE))
         |    - ln(CAST(ua.cu AS DOUBLE))
         |    - ln(CAST(ub.cu AS DOUBLE))) * 1000000.0) AS BIGINT) AS pmi6
         |FROM pairc p
         |JOIN unic ua ON ua.t = p.a
         |JOIN unic ub ON ub.t = p.b
         |CROSS JOIN tp CROSS JOIN tu
         |ORDER BY p.a, p.b""".stripMargin,

    // q19's quality CTEs + phase counting + the q111 permutation and
    // ROW_NUMBER stream position.
    "q128_curriculum_order" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, n_tokens, alpha_ratio, stop_hits,
         |    (CAST(length(text) AS DOUBLE) - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stop_ratio
         |  FROM t
         |), q AS (
         |  SELECT doc_id,
         |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
         |    + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + (CASE WHEN stop_ratio > 0.005 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3 AS quality
         |  FROM m
         |), p AS (
         |  SELECT doc_id, quality,
         |    CAST((CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)
         |       + (CASE WHEN quality >= 0.9461 THEN 1 ELSE 0 END) AS INTEGER) AS phase,
         |    (doc_id * 2654435761) % 4294967296 AS shuffle_key
         |  FROM q
         |)
         |SELECT doc_id, quality, phase, shuffle_key,
         |  CAST(ROW_NUMBER() OVER (ORDER BY phase, shuffle_key) - 1 AS BIGINT)
         |    AS stream_pos
         |FROM p ORDER BY doc_id""".stripMargin,

    "q127_soft_dedup" ->
      """SELECT doc_id,
        |  CAST(COUNT(*) OVER (PARTITION BY text) AS BIGINT) AS n_copies,
        |  1.0 / CAST(COUNT(*) OVER (PARTITION BY text) AS DOUBLE) AS weight
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q23_dedup_normalized" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "q24_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT id_a, id_b,
         |  CAST(inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,

    "q112_containment" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |), directed AS (
         |  SELECT id_a AS contained_id, id_b AS container_id,
         |         CAST(inter AS DOUBLE) / CAST(sa.n_shingles AS DOUBLE) AS containment
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |  UNION ALL
         |  SELECT id_b AS contained_id, id_a AS container_id,
         |         CAST(inter AS DOUBLE) / CAST(sb.n_shingles AS DOUBLE) AS containment
         |  FROM inter JOIN sizes sb ON sb.doc_id = id_b
         |)
         |SELECT contained_id, container_id, containment
         |FROM directed WHERE containment >= 0.6
         |ORDER BY contained_id, container_id""".stripMargin,
    // Scaled-integer dot: round(x*1e6) is exact for floats in both
    // engines (float mantissa x 10^6 < 2^53, ties away from zero), all
    // partial sums are exact integers < 2^53 (order-independent), and
    // the final /1e12 is one correctly-rounded division — bit-identical
    // to graft.expressions.DecimalScaledDot. Engine decimal CASTs are
    // NOT used: DuckDB rounds float->decimal half-even, Spark half-up.
    "q27_embedding_neardup" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    SUM(round(CAST(a.embedding[i] AS DOUBLE) * 1e6)
        |        * round(CAST(b.embedding[i] AS DOUBLE) * 1e6)) / 1e12 AS dot
        |  FROM embeddings a
        |  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id,
        |       range(1, 65) t(i)
        |  GROUP BY a.vec_id, b.vec_id
        |)
        |SELECT id_a, id_b, dot FROM pairs WHERE dot >= 0.25 ORDER BY id_a, id_b""".stripMargin,
    "q28_ann_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
        |), dots AS (
        |  SELECT query_id, neighbor_id,
        |    SUM(round(CAST(qv[i] AS DOUBLE) * 1e6)
        |        * round(CAST(cv[i] AS DOUBLE) * 1e6)) / 1e12 AS dot
        |  FROM q JOIN c ON query_id <> neighbor_id, range(1, 65) t(i)
        |  GROUP BY query_id, neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, dot,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rnk
        |  FROM dots
        |)
        |SELECT query_id, neighbor_id, dot, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    // Contract oracle (see the query comment): n_exact is the q24
    // exact-Jaccard pair count recomputed here; zero false positives
    // and the recall floor are absolute properties of a correct
    // verify-with-exact-Jaccard LSH implementation.
    "q25_minhash_lsh" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |), jp AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) >= 0.6
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(0 AS BIGINT) AS n_false_pos,
         |  TRUE AS recall_floor_met
         |FROM jp""".stripMargin,
    // q25's oracle restricted to cross-side (batch × corpus) pairs —
    // the exact pair count is independently recomputed in DuckDB;
    // zero false positives and the recall floor are properties of a
    // correct verify-with-exact-Jaccard incremental implementation.
    "q78_incremental_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |   AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |  GROUP BY a.doc_id, b.doc_id
         |), jp AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) >= 0.6
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(0 AS BIGINT) AS n_false_pos,
         |  TRUE AS recall_floor_met
         |FROM jp""".stripMargin,
    "q80_repeated_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), wins AS (
         |  SELECT doc_id, array_to_string(w[i:i+5], ' ') AS span
         |  FROM toks, unnest(range(1, greatest(len(w) - 5, 0) + 1)) AS t(i)
         |  WHERE len(w) >= 6
         |), freq AS (
         |  SELECT span, COUNT(DISTINCT doc_id) AS span_docs
         |  FROM wins GROUP BY span
         |)
         |SELECT w.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(SUM(CASE WHEN f.span_docs >= 2 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_dup_windows,
         |  CAST(MAX(f.span_docs) AS BIGINT) AS max_span_docs
         |FROM wins w JOIN freq f USING (span)
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    // Contract oracle: n_corpus / n_true exact by shingle-intersect;
    // n_missed = 0 is the bloom no-false-negative guarantee; fp_bound
    // derives from the exact counts; fp_ok TRUE by sketch-sizing math.
    "q81_bloom_decontaminate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
         |), contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
         |  WHERE s.doc_id >= 20
         |), agg AS (
         |  SELECT (SELECT COUNT(*) FROM documents WHERE doc_id >= 20) AS n_corpus,
         |         (SELECT COUNT(*) FROM contaminated) AS n_true
         |)
         |SELECT CAST(n_corpus AS BIGINT) AS n_corpus,
         |  CAST(n_true AS BIGINT) AS n_true,
         |  CAST(0 AS BIGINT) AS n_missed,
         |  CAST(greatest(5, (n_corpus - n_true) // 100) AS BIGINT) AS fp_bound,
         |  TRUE AS fp_ok
         |FROM agg""".stripMargin,
    "q133_streaming_decontam" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
         |), contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
         |  WHERE s.doc_id >= 20
         |), agg AS (
         |  SELECT (SELECT COUNT(*) FROM documents WHERE doc_id >= 20) AS n_corpus,
         |         (SELECT COUNT(*) FROM contaminated) AS n_true
         |)
         |SELECT CAST(n_corpus AS BIGINT) AS n_corpus,
         |  CAST(n_true AS BIGINT) AS n_true,
         |  CAST(0 AS BIGINT) AS n_leaked,
         |  CAST(greatest(5, (n_corpus - n_true) // 100) AS BIGINT) AS fp_bound,
         |  TRUE AS fp_ok,
         |  TRUE AS stream_equals_batch,
         |  TRUE AS replayed_multibatch
         |FROM agg""".stripMargin,

    "q139_streaming_curation_pipeline" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
         |), contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
         |  WHERE s.doc_id >= 20
         |), agg AS (
         |  SELECT (SELECT COUNT(*) FROM documents WHERE doc_id >= 20) AS n_corpus,
         |         (SELECT COUNT(*) FROM contaminated) AS n_true
         |)
         |SELECT CAST(n_corpus AS BIGINT) AS n_corpus,
         |  CAST(n_true AS BIGINT) AS n_true,
         |  CAST(0 AS BIGINT) AS n_leaked,
         |  TRUE AS layout_equals_batch,
         |  TRUE AS windows_contiguous,
         |  TRUE AS replayed_multibatch
         |FROM agg""".stripMargin,

    // Scores are scaled-long exact: every per-term BM25 contribution
    // is floor(term * 1e6) over a FIXED IEEE expression order (the SQL
    // below mirrors the Spark column tree token for token, including
    // unfolded constants like (1.2 + 1.0)), then summed as exact longs.
    "q82_bm25_topk" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), d AS (
         |  SELECT doc_id AS doc, w, len(w) AS dl FROM toks WHERE doc_id >= 5
         |), q AS (
         |  SELECT doc_id AS query_id, unnest(list_distinct(w)) AS term
         |  FROM toks WHERE doc_id < 5
         |), post AS (
         |  SELECT doc, dl, term, len(list_filter(w, x -> x = term)) AS tf
         |  FROM (SELECT doc, dl, w, unnest(list_distinct(w)) AS term FROM d)
         |), matched AS (
         |  SELECT * FROM post WHERE term IN (SELECT term FROM q)
         |), stats AS (
         |  SELECT COUNT(*) AS n_docs,
         |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM d
         |), dfreq AS (
         |  SELECT term, COUNT(*) AS df FROM matched GROUP BY term
         |), scored AS (
         |  SELECT q.query_id, m.doc,
         |    CAST(floor(
         |      ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
         |               / (CAST(f.df AS DOUBLE) + 0.5))
         |      * (CAST(m.tf AS DOUBLE) * (1.2 + 1.0)
         |         / (CAST(m.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
         |            + 0.75 * CAST(m.dl AS DOUBLE) / s.avgdl)))
         |      * 1000000.0) AS BIGINT) AS s6
         |  FROM matched m JOIN dfreq f USING (term) JOIN q ON q.term = m.term
         |  CROSS JOIN stats s
         |), perdoc AS (
         |  SELECT query_id, doc, CAST(SUM(s6) AS BIGINT) AS score6
         |  FROM scored GROUP BY query_id, doc
         |)
         |SELECT query_id, CAST(rnk AS INT) AS "rank", doc AS doc_id, score6,
         |  CAST(score6 AS DOUBLE) / 1000000.0 AS score
         |FROM (
         |  SELECT query_id, doc, score6,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY score6 DESC, doc) AS rnk
         |  FROM perdoc
         |) WHERE rnk <= 10
         |ORDER BY query_id, "rank"""".stripMargin,

    "q147_curation_release" ->
      s"""WITH snapA AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
         |), snapB AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 0 THEN reverse(text) ELSE text END AS text
         |  FROM documents WHERE doc_id % 5 <> 0
         |), dedupA AS (
         |  SELECT doc_id, text FROM snapA
         |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
         |), dedupB AS (
         |  SELECT doc_id, text FROM snapB
         |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
         |), gA AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      CAST(len($tokensSql) AS INT) AS n_tokens,
         |      CAST(length(text) AS DOUBLE) AS n_chars_d,
         |      CAST(${stopHitsSql(TextOps.EnStopwords)} AS INT) AS stop_hits,
         |      CASE WHEN len($tokensSql) <= 0 THEN 0.0
         |           ELSE 1.0 - CAST(len(list_distinct($tokensSql)) AS DOUBLE)
         |                        / CAST(len($tokensSql) AS DOUBLE) END
         |        AS dup_tok_ratio
         |    FROM dedupA)
         |  WHERE n_tokens >= 40 AND n_tokens <= 100000
         |    AND (n_chars_d - (CAST(n_tokens AS DOUBLE) - 1.0))
         |        / greatest(CAST(n_tokens AS DOUBLE), 1.0) >= 3.5
         |    AND (n_chars_d - (CAST(n_tokens AS DOUBLE) - 1.0))
         |        / greatest(CAST(n_tokens AS DOUBLE), 1.0) <= 4.6
         |    AND stop_hits >= 2 AND dup_tok_ratio <= 0.55
         |), gB AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      CAST(len($tokensSql) AS INT) AS n_tokens,
         |      CAST(length(text) AS DOUBLE) AS n_chars_d,
         |      CAST(${stopHitsSql(TextOps.EnStopwords)} AS INT) AS stop_hits,
         |      CASE WHEN len($tokensSql) <= 0 THEN 0.0
         |           ELSE 1.0 - CAST(len(list_distinct($tokensSql)) AS DOUBLE)
         |                        / CAST(len($tokensSql) AS DOUBLE) END
         |        AS dup_tok_ratio
         |    FROM dedupB)
         |  WHERE n_tokens >= 40 AND n_tokens <= 100000
         |    AND (n_chars_d - (CAST(n_tokens AS DOUBLE) - 1.0))
         |        / greatest(CAST(n_tokens AS DOUBLE), 1.0) >= 3.5
         |    AND (n_chars_d - (CAST(n_tokens AS DOUBLE) - 1.0))
         |        / greatest(CAST(n_tokens AS DOUBLE), 1.0) <= 4.6
         |    AND stop_hits >= 2 AND dup_tok_ratio <= 0.55
         |), d AS (
         |  SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
         |              WHEN b.doc_id IS NULL THEN 'removed'
         |              WHEN a.text IS DISTINCT FROM b.text THEN 'modified'
         |         END AS ch
         |  FROM gA a FULL OUTER JOIN gB b ON a.doc_id = b.doc_id
         |), c AS (
         |  SELECT
         |    CAST(COUNT(*) FILTER (WHERE ch = 'added') AS BIGINT) AS n_added,
         |    CAST(COUNT(*) FILTER (WHERE ch = 'removed') AS BIGINT) AS n_removed,
         |    CAST(COUNT(*) FILTER (WHERE ch = 'modified') AS BIGINT) AS n_modified,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM gA) AS n_old,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM gB) AS n_new
         |  FROM d
         |)
         |SELECT n_added, n_removed, n_modified, n_old, n_new,
         |  CAST((n_added + n_removed + n_modified) * 1000000 // n_old
         |    AS BIGINT) AS ratio6,
         |  ((n_added + n_removed + n_modified) * 1000000 // n_old) <= 500000
         |    AS accepted_50,
         |  ((n_added + n_removed + n_modified) * 1000000 // n_old) <= 300000
         |    AS accepted_30,
         |  CAST(CASE WHEN (n_added + n_removed + n_modified) * 1000000
         |    // n_old <= 500000 THEN 2 ELSE 1 END AS BIGINT)
         |    AS published_version,
         |  TRUE AS current_ok
         |FROM c""".stripMargin,

    "q145_domain_share_gate" ->
      s"""WITH hq AS (
         |  SELECT doc_id, source,
         |    CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio,
         |    CAST(length(text) AS DOUBLE) AS n_chars
         |  FROM documents
         |), hm AS (
         |  SELECT doc_id, source, n_tokens, alpha_ratio, stop_hits,
         |    (n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stop_ratio
         |  FROM hq
         |), hs AS (
         |  SELECT doc_id, source, CAST(floor((
         |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
         |    + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + (CASE WHEN stop_ratio > 0.005 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3) * 1000000.0) AS BIGINT) AS score6
         |  FROM hm
         |), cnt AS (
         |  SELECT source, score6, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM hs GROUP BY source, score6
         |), cum AS (
         |  SELECT source, score6,
         |    SUM(c) OVER (PARTITION BY source ORDER BY score6 DESC) AS cm,
         |    SUM(c) OVER (PARTITION BY source) AS n
         |  FROM cnt
         |), thr AS (
         |  SELECT source, MAX(score6) AS threshold6
         |  FROM cum WHERE cm >= (n * 1 + 4) // 5 GROUP BY source
         |), kept AS (
         |  SELECT h.source, CAST(COUNT(*) AS BIGINT) AS n_kept
         |  FROM hs h JOIN thr t USING (source)
         |  WHERE h.score6 >= t.threshold6 GROUP BY h.source
         |), tot AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM hs GROUP BY source
         |)
         |SELECT t.source, tot.n_docs, t.threshold6, k.n_kept,
         |  CAST(k.n_kept * 1000000 // tot.n_docs AS BIGINT) AS kept_share6
         |FROM thr t JOIN kept k USING (source) JOIN tot USING (source)
         |ORDER BY t.source""".stripMargin,

    "q142_hybrid_retrieval" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), d AS (
         |  SELECT doc_id AS doc, w, len(w) AS dl FROM toks WHERE doc_id >= 5
         |), q AS (
         |  SELECT doc_id AS query_id, unnest(list_distinct(w)) AS term
         |  FROM toks WHERE doc_id < 5
         |), post AS (
         |  SELECT doc, dl, term, len(list_filter(w, x -> x = term)) AS tf
         |  FROM (SELECT doc, dl, w, unnest(list_distinct(w)) AS term FROM d)
         |), matched AS (
         |  SELECT * FROM post WHERE term IN (SELECT term FROM q)
         |), stats AS (
         |  SELECT COUNT(*) AS n_docs,
         |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM d
         |), dfreq AS (
         |  SELECT term, COUNT(*) AS df FROM matched GROUP BY term
         |), scored AS (
         |  SELECT q.query_id, m.doc,
         |    CAST(floor(
         |      ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
         |               / (CAST(f.df AS DOUBLE) + 0.5))
         |      * (CAST(m.tf AS DOUBLE) * (1.2 + 1.0)
         |         / (CAST(m.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
         |            + 0.75 * CAST(m.dl AS DOUBLE) / s.avgdl)))
         |      * 1000000.0) AS BIGINT) AS s6
         |  FROM matched m JOIN dfreq f USING (term) JOIN q ON q.term = m.term
         |  CROSS JOIN stats s
         |), lex AS (
         |  SELECT query_id, doc, rnk FROM (
         |    SELECT query_id, doc,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY score6 DESC, doc) AS rnk
         |    FROM (SELECT query_id, doc, CAST(SUM(s6) AS BIGINT) AS score6
         |          FROM scored GROUP BY query_id, doc)
         |  ) WHERE rnk <= 10
         |), qv AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < 5
         |), cv AS (
         |  SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings
         |  WHERE vec_id >= 5
         |), dots AS (
         |  SELECT query_id, neighbor_id,
         |    SUM(round(CAST(qe[i] AS DOUBLE) * 1e6)
         |        * round(CAST(ce[i] AS DOUBLE) * 1e6)) / 1e12 AS dab,
         |    SUM(round(CAST(qe[i] AS DOUBLE) * 1e6)
         |        * round(CAST(qe[i] AS DOUBLE) * 1e6)) / 1e12 AS daa,
         |    SUM(round(CAST(ce[i] AS DOUBLE) * 1e6)
         |        * round(CAST(ce[i] AS DOUBLE) * 1e6)) / 1e12 AS dbb
         |  FROM qv JOIN cv ON query_id <> neighbor_id, range(1, 65) t(i)
         |  GROUP BY query_id, neighbor_id
         |), dense AS (
         |  SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dab / (sqrt(daa) * sqrt(dbb)) DESC, neighbor_id) AS rnk
         |    FROM dots
         |  ) WHERE rnk <= 10
         |), fused AS (
         |  SELECT COALESCE(l.query_id, dn.query_id) AS query_id,
         |         COALESCE(l.doc, dn.neighbor_id) AS doc_id,
         |         COALESCE(1.0 / (60.0 + l.rnk), 0.0)
         |           + COALESCE(1.0 / (60.0 + dn.rnk), 0.0) AS rrf
         |  FROM lex l FULL OUTER JOIN dense dn
         |    ON l.query_id = dn.query_id AND l.doc = dn.neighbor_id
         |)
         |SELECT query_id, CAST(rk AS INT) AS "rank", doc_id, rrf
         |FROM (
         |  SELECT query_id, doc_id, rrf,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY rrf DESC, doc_id) AS rk
         |  FROM fused
         |) WHERE rk <= 10
         |ORDER BY query_id, "rank"""".stripMargin,

    "q120_curation_to_loader" ->
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len($tokensSql) AS INT) AS n_tokens_ws,
         |    CAST(length(text) AS DOUBLE) AS n_chars_d,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS INT) AS stop_hits,
         |    CASE WHEN len($tokensSql) <= 0 THEN 0.0
         |         ELSE 1.0 - CAST(len(list_distinct($tokensSql)) AS DOUBLE)
         |                      / CAST(len($tokensSql) AS DOUBLE) END AS dup_tok_ratio,
         |    text
         |  FROM d
         |), kept AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, n_tokens_ws, stop_hits, dup_tok_ratio,
         |      (n_chars_d - (CAST(n_tokens_ws AS DOUBLE) - 1.0))
         |        / greatest(CAST(n_tokens_ws AS DOUBLE), 1.0) AS mean_tok_len
         |    FROM m)
         |  WHERE n_tokens_ws >= 40 AND n_tokens_ws <= 100000
         |    AND mean_tok_len >= 3.5 AND mean_tok_len <= 4.6
         |    AND stop_hits >= 2 AND dup_tok_ratio <= 0.55
         |), tok AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n
         |  FROM kept
         |)
         |SELECT COUNT(*) AS n_docs,
         |  CAST(COALESCE(SUM(n), 0) AS BIGINT) AS token_mass,
         |  CAST((COALESCE(SUM(n), 0) + 2047) // 2048 AS BIGINT) AS n_windows,
         |  TRUE AS windows_contiguous
         |FROM tok""".stripMargin,

    "q119_multimodal_gate" ->
      s"""WITH p AS (
         |  SELECT doc_id, doc_id % 3 AS fmt,
         |    CAST((doc_id % 8) * 3 + 5 AS INT) AS w,
         |    CAST((doc_id % 6) * 3 + 4 AS INT) AS h,
         |    CAST(1 + doc_id % 2 AS INT) AS ch,
         |    (doc_id % 40) * 5 + 40 AS nf
         |  FROM documents
         |), media AS (
         |  SELECT doc_id,
         |    CASE WHEN fmt = 0 THEN 'bmp' WHEN fmt = 1 THEN 'ppm' ELSE 'wav' END AS format,
         |    CASE WHEN fmt <= 1 THEN
         |      CAST(list_sum(list_transform(range(0, 3 * w * h),
         |        k -> (k * 31 + 7 + doc_id) % 256)) AS DOUBLE) / CAST(3 * w * h AS DOUBLE)
         |    ELSE
         |      CAST(list_sum(list_transform(range(0, ch * nf),
         |        k -> (k * 37 + 11 + doc_id) % 2001 - 1000)) AS DOUBLE) / CAST(ch * nf AS DOUBLE)
         |    END AS mean_val,
         |    CASE WHEN fmt <= 1 THEN w * h ELSE 0 END AS area,
         |    CASE WHEN fmt <= 1 THEN 0.0 ELSE CAST(nf AS DOUBLE) / 8000.0 END AS duration_sec
         |  FROM p
         |), t AS (
         |  SELECT doc_id, text, CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, n_tokens, alpha_ratio, stop_hits,
         |    (CAST(length(text) AS DOUBLE) - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stop_ratio
         |  FROM t
         |), q AS (
         |  SELECT doc_id,
         |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
         |    + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + (CASE WHEN stop_ratio > 0.005 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3 AS quality
         |  FROM m
         |)
         |SELECT media.doc_id AS media_id, media.format, q.quality,
         |  (media.format IN ('bmp', 'ppm') AND media.mean_val >= 96.0
         |     AND media.mean_val <= 160.0 AND media.area >= 40)
         |  OR (media.format = 'wav' AND abs(media.mean_val) <= 100.0
         |     AND media.duration_sec >= 0.02) AS keep_media,
         |  q.quality >= 0.9461 AS keep_text,
         |  ((media.format IN ('bmp', 'ppm') AND media.mean_val >= 96.0
         |     AND media.mean_val <= 160.0 AND media.area >= 40)
         |  OR (media.format = 'wav' AND abs(media.mean_val) <= 100.0
         |     AND media.duration_sec >= 0.02)) AND q.quality >= 0.9461 AS keep
         |FROM media JOIN q ON media.doc_id = q.doc_id
         |ORDER BY media_id""".stripMargin,

    "q118_media_resize" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST((doc_id % 8) * 3 + 5 AS INT) AS w,
        |    CAST((doc_id % 6) * 3 + 4 AS INT) AS h
        |  FROM documents WHERE doc_id % 3 <= 1)
        |SELECT doc_id AS media_id,
        |  CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |  CAST(list_sum(list_transform(range(0, 144), k ->
        |    (((((k // 24) * h // 6) * w + (((k // 3) % 8) * w // 8)) * 3 + k % 3)
        |      * 31 + 7 + doc_id) % 256)) AS DOUBLE) / 144.0 AS mean_val
        |FROM p ORDER BY media_id""".stripMargin,

    // Every doc gets a PNG (no %3 container split — PNG is the
    // container under test); full-raster mean over 3wh bytes plus the
    // q118 resample closed form. Synthesis-formula sync: see the
    // comment on Multimodal.synthWidth (q30/q118/q119/q121 share it).
    "q121_png_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST((doc_id % 8) * 3 + 5 AS INT) AS w,
        |    CAST((doc_id % 6) * 3 + 4 AS INT) AS h
        |  FROM documents)
        |SELECT doc_id AS media_id, 'png' AS format,
        |  w AS width, h AS height,
        |  CAST(list_sum(list_transform(range(0, 3*w*h), k ->
        |    ((k * 31 + 7 + doc_id) % 256))) AS DOUBLE)
        |    / CAST(3*w*h AS DOUBLE) AS mean_val,
        |  CAST(list_sum(list_transform(range(0, 144), k ->
        |    (((((k // 24) * h // 6) * w + (((k // 3) % 8) * w // 8)) * 3 + k % 3)
        |      * 31 + 7 + doc_id) % 256)) AS DOUBLE) / 144.0 AS resized_mean
        |FROM p ORDER BY media_id""".stripMargin,

    "q117_retrieval_mrr" ->
      s"""$bm25EvalCteSql, rel AS (
         |  SELECT query_id, doc_id, rel FROM (
         |    SELECT query_id, doc_id, rel,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY rel DESC, doc_id) AS lr
         |    FROM ovl) WHERE lr <= 20
         |), hits AS (
         |  SELECT t.query_id,
         |    MIN(CASE WHEN r.rel > 0 THEN t.rnk END) AS fr,
         |    CAST(SUM(CASE WHEN r.rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM topk t LEFT JOIN rel r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
         |  GROUP BY 1
         |), totals AS (
         |  SELECT query_id, COUNT(*) AS n_relevant FROM rel WHERE rel > 0 GROUP BY 1
         |)
         |SELECT COALESCE(h.query_id, t.query_id) AS query_id,
         |  CAST(COALESCE(h.fr, 0) AS INT) AS first_rel_rank,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(t.n_relevant, 0) AS BIGINT) AS n_relevant,
         |  CASE WHEN h.fr IS NOT NULL THEN 1.0 / CAST(h.fr AS DOUBLE) ELSE 0.0 END AS reciprocal_rank,
         |  CASE WHEN COALESCE(t.n_relevant, 0) > 0
         |       THEN CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(t.n_relevant AS DOUBLE)
         |       ELSE 0.0 END AS recall_at_k
         |FROM hits h FULL OUTER JOIN totals t ON h.query_id = t.query_id
         |ORDER BY query_id""".stripMargin,

    "q114_retrieval_ndcg" ->
      s"""$bm25EvalCteSql, dcg AS (
         |  SELECT t.query_id,
         |    CAST(SUM(CAST(floor(CAST(COALESCE(r.rel, 0) AS DOUBLE) * 1000000.0
         |      / ln(CAST(t.rnk AS DOUBLE) + 1.0)) AS BIGINT)) AS BIGINT) AS dcg6
         |  FROM topk t LEFT JOIN ovl r
         |    ON r.query_id = t.query_id AND r.doc_id = t.doc_id
         |  GROUP BY 1
         |), ideal AS (
         |  SELECT query_id,
         |    CAST(SUM(CAST(floor(CAST(rel AS DOUBLE) * 1000000.0
         |      / ln(CAST(irank AS DOUBLE) + 1.0)) AS BIGINT)) AS BIGINT) AS idcg6
         |  FROM (SELECT query_id, rel, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY rel DESC, doc_id) AS irank
         |        FROM ovl WHERE rel > 0)
         |  WHERE irank <= 10 GROUP BY 1
         |)
         |SELECT d.query_id, d.dcg6, COALESCE(i.idcg6, 0) AS idcg6,
         |  CASE WHEN COALESCE(i.idcg6, 0) > 0
         |       THEN CAST(d.dcg6 AS DOUBLE) / CAST(i.idcg6 AS DOUBLE)
         |       ELSE 0.0 END AS ndcg
         |FROM dcg d LEFT JOIN ideal i USING (query_id)
         |ORDER BY d.query_id""".stripMargin,
    // Add-one smoothing keeps every probability a ratio of exact
    // integers; per-token ln is floor-quantized to scale-6 longs, so
    // document totals are exact integer sums on both engines.
    "q83_lm_perplexity" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $tokensSql AS w FROM documents
         |), big AS (
         |  SELECT doc_id, lang, w[i] AS a, w[i+1] AS b
         |  FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i
         |        FROM toks WHERE len(w) >= 2)
         |), c2 AS (
         |  SELECT lang, a, b, COUNT(*) AS c2 FROM big GROUP BY lang, a, b
         |), c1 AS (
         |  SELECT lang, a, COUNT(*) AS c1 FROM big GROUP BY lang, a
         |), voc AS (
         |  SELECT lang, COUNT(DISTINCT t) AS v
         |  FROM (SELECT lang, unnest(w) AS t FROM toks) GROUP BY lang
         |), scored AS (
         |  SELECT g.doc_id,
         |    -CAST(floor(ln((CAST(c.c2 AS DOUBLE) + 1.0)
         |                   / (CAST(p.c1 AS DOUBLE) + CAST(voc.v AS DOUBLE)))
         |                * 1000000.0) AS BIGINT) AS nll6
         |  FROM big g
         |  JOIN c2 c USING (lang, a, b)
         |  JOIN c1 p USING (lang, a)
         |  JOIN voc USING (lang)
         |), perdoc AS (
         |  SELECT doc_id, CAST(SUM(nll6) AS BIGINT) AS nll6,
         |         CAST(COUNT(*) AS BIGINT) AS n_bigrams
         |  FROM scored GROUP BY doc_id
         |)
         |SELECT d.doc_id, d.lang,
         |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(p.nll6, 0) AS nll6,
         |  CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
         |       ELSE CAST(p.nll6 AS DOUBLE) / 1000000.0
         |            / CAST(p.n_bigrams AS DOUBLE)
         |  END AS avg_nll
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // Feature buckets are a portable polynomial char fold, so the
    // oracle recomputes every bucket id exactly; add-one smoothing
    // keeps both distributions ratios of exact integers; per-bucket ln
    // is floor-quantized to scale-6 longs (q83's rule) so document
    // totals are exact integer sums on both engines.
    "q84_dsir_selection" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), bag AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
         |      (a, b) -> (a * 31 + b) % 1024) AS b
         |  FROM (SELECT doc_id, unnest(w) AS t FROM toks)
         |), ct AS (
         |  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bag
         |  WHERE doc_id < 20 GROUP BY b
         |), cr AS (
         |  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bag
         |  WHERE doc_id >= 20 GROUP BY b
         |), nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM ct
         |), nr AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS nr FROM cr
         |), ratios AS (
         |  SELECT cr.b,
         |    CAST(floor(ln(
         |      ((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1.0)
         |        * CAST(nr.nr + 1024 AS DOUBLE)) /
         |      ((CAST(cr.cr AS DOUBLE) + 1.0)
         |        * CAST(nt.nt + 1024 AS DOUBLE))) * 1000000.0) AS BIGINT) AS lr6
         |  FROM cr LEFT JOIN ct USING (b) CROSS JOIN nt CROSS JOIN nr
         |), perdoc AS (
         |  SELECT g.doc_id, CAST(SUM(r.lr6) AS BIGINT) AS logw6,
         |    CAST(COUNT(*) AS BIGINT) AS n_tokens
         |  FROM bag g JOIN ratios r USING (b)
         |  WHERE g.doc_id >= 20 GROUP BY g.doc_id
         |), scored AS (
         |  SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
         |    COALESCE(p.logw6, 0) AS logw6
         |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |  WHERE d.doc_id >= 20
         |)
         |SELECT doc_id, n_tokens, logw6,
         |  (n_tokens > 0 AND row_number() OVER (
         |     PARTITION BY n_tokens > 0
         |     ORDER BY logw6 DESC, doc_id) <= 100) AS selected
         |FROM scored ORDER BY doc_id""".stripMargin,
    // Mirrors Selection.qualityClassifierScores bucket for bucket:
    // same char fold, same smoothed NB log-odds with scale-6 floor
    // quantization, same cross-multiplied keep decision. The CTE
    // chain is shared with q129 (classifierCteSql).
    "q122_quality_classifier" ->
      s"""$classifierCteSql
         |SELECT d.doc_id,
         |  COALESCE(p.n_features, 0) AS n_features,
         |  COALESCE(p.logit6, 0) AS logit6,
         |  CASE WHEN COALESCE(p.n_features, 0) > 0
         |       THEN CAST(p.logit6 AS DOUBLE)
         |            / (CAST(p.n_features AS DOUBLE) * 1000000.0) END AS score,
         |  COALESCE(p.n_features, 0) > 0
         |    AND COALESCE(p.logit6, 0) >= 0 * COALESCE(p.n_features, 0) AS keep
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Span identity: 64-bit hash on the Spark side, span STRING here
    // (q80's documented 2^-64 collision trade) — rebuilds every
    // stripped document token-for-token.
    "q85_strip_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), tp AS (
         |  SELECT doc_id, i, w[i] AS tok
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks)
         |), wins AS (
         |  SELECT doc_id, i AS strt, array_to_string(w[i:i+5], ' ') AS span
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 4)) AS i
         |        FROM toks WHERE len(w) >= 6)
         |), freq AS (
         |  SELECT span FROM wins GROUP BY span
         |  HAVING COUNT(DISTINCT doc_id) >= 2
         |), cov AS (
         |  SELECT DISTINCT doc_id, p FROM (
         |    SELECT w2.doc_id, unnest(range(w2.strt, w2.strt + 6)) AS p
         |    FROM wins w2 JOIN freq USING (span))
         |), kept AS (
         |  SELECT t.doc_id, t.i, t.tok FROM tp t
         |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.p
         |  WHERE c.doc_id IS NULL
         |), reb AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean,
         |    CAST(COUNT(*) AS BIGINT) AS n_kept
         |  FROM kept GROUP BY doc_id
         |), st AS (
         |  SELECT c.doc_id, c.p,
         |    ROW_NUMBER() OVER (PARTITION BY c.doc_id ORDER BY c.p) AS k
         |  FROM cov c WHERE NOT EXISTS (
         |    SELECT 1 FROM cov c2 WHERE c2.doc_id = c.doc_id AND c2.p = c.p - 1)
         |), en AS (
         |  SELECT c.doc_id, c.p,
         |    ROW_NUMBER() OVER (PARTITION BY c.doc_id ORDER BY c.p) AS k
         |  FROM cov c WHERE NOT EXISTS (
         |    SELECT 1 FROM cov c2 WHERE c2.doc_id = c.doc_id AND c2.p = c.p + 1)
         |), runs AS (
         |  SELECT st.doc_id, en.p - st.p + 1 AS len
         |  FROM st JOIN en ON st.doc_id = en.doc_id AND st.k = en.k
         |), sp AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_removed,
         |    CAST(MAX(len) AS BIGINT) AS longest_removed_span
         |  FROM runs GROUP BY doc_id
         |)
         |SELECT t.doc_id, COALESCE(r.text_clean, '') AS text_clean,
         |  CAST(len(t.w) AS BIGINT) AS n_tokens,
         |  CAST(len(t.w) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(s.n_spans_removed, CAST(0 AS BIGINT)) AS n_spans_removed,
         |  COALESCE(s.longest_removed_span, CAST(0 AS BIGINT)) AS longest_removed_span
         |FROM toks t LEFT JOIN reb r USING (doc_id) LEFT JOIN sp s USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    // sqrt and double division are IEEE-correctly-rounded (portable by
    // spec); the floor-quantized w6 makes the normalizer and the
    // allocation exact integer arithmetic.
    // Composition of the q86 mixture, q90 health (source grain), and
    // q69 budget-sample (source grain) fragments; one_file is the
    // in-query layout contract (TRUE by construction via coalesce(1)).
    "q124_data_card" ->
      s"""WITH per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(len($tokensSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source
         |), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n_total FROM per
         |), wt AS (
         |  SELECT source, n_docs, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(n_total AS DOUBLE))
         |      * 1000000.0) AS BIGINT) AS w6
         |  FROM per CROSS JOIN tot
         |), nm AS (SELECT CAST(SUM(w6) AS BIGINT) AS total6 FROM wt
         |), corp AS (
         |  SELECT doc_id, source, text FROM documents WHERE doc_id >= 20
         |), hq AS (
         |  SELECT doc_id, source,
         |    CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio,
         |    CAST(length(text) AS DOUBLE) AS n_chars
         |  FROM corp
         |), hm AS (
         |  SELECT doc_id, source, n_tokens, alpha_ratio, stop_hits,
         |    (n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stop_ratio
         |  FROM hq
         |), hs AS (
         |  SELECT doc_id, source, n_tokens,
         |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
         |    + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + (CASE WHEN stop_ratio > 0.005 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3 AS quality
         |  FROM hm
         |), dupc AS (
         |  SELECT doc_id, COUNT(*) OVER (PARTITION BY text) AS tc,
         |    MIN(doc_id) OVER (PARTITION BY text) AS mindoc
         |  FROM corp
         |), toks2 AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks2 WHERE len(w) >= 3
         |), bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
         |), contamhits AS (
         |  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM sh s JOIN bench b USING (shingle)
         |  WHERE s.doc_id >= 20 GROUP BY s.doc_id
         |), health AS (
         |  SELECT q.source,
         |    CAST(SUM(CASE WHEN d.tc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |    CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_contaminated,
         |    CAST(SUM(COALESCE(c.n_hits, 0)) AS BIGINT) AS n_contam_grams,
         |    CAST(SUM(CASE WHEN q.doc_id = d.mindoc THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_survivors,
         |    CAST(SUM(1000000 // d.tc) AS BIGINT) AS soft_mass6,
         |    CAST(SUM(CASE WHEN q.quality >= 0.5 AND q.n_tokens >= 10
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |  FROM hs q
         |  JOIN dupc d USING (doc_id)
         |  LEFT JOIN contamhits c USING (doc_id)
         |  GROUP BY q.source
         |), st AS (
         |  SELECT doc_id, source, CAST(len($tokensSql) AS BIGINT) AS tk
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, source, tk,
         |    COALESCE(CAST(SUM(tk) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |      AS bef
         |  FROM st
         |), samp AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS sample_docs,
         |    CAST(SUM(tk) AS BIGINT) AS sample_tokens
         |  FROM sc WHERE bef < 2000 GROUP BY source
         |)
         |SELECT wt.source, wt.n_docs, wt.n_tokens, wt.w6,
         |  CAST((1000 * wt.w6) // nm.total6 AS BIGINT) AS alloc_docs,
         |  COALESCE(h.n_dup, 0) AS n_dup,
         |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
         |  COALESCE(h.n_contam_grams, 0) AS n_contam_grams,
         |  COALESCE(h.n_survivors, 0) AS n_survivors,
         |  COALESCE(h.soft_mass6, 0) AS soft_mass6,
         |  COALESCE(h.n_kept, 0) AS n_kept,
         |  COALESCE(s.sample_docs, 0) AS sample_docs,
         |  COALESCE(s.sample_tokens, 0) AS sample_tokens,
         |  (SELECT CAST(COUNT(*) FILTER (WHERE vec_id % 4 = 0) * 1000000
         |     // COUNT(*) FILTER (WHERE vec_id % 4 <> 0) AS BIGINT)
         |   FROM embeddings) AS index_drift6,
         |  (SELECT CAST(COUNT(*) FILTER (WHERE vec_id % 5 = 0) AS BIGINT)
         |   FROM embeddings) AS index_tombstoned,
         |  CAST(2 AS BIGINT) AS dataset_version,
         |  (SELECT CAST((COUNT(*) FILTER (WHERE doc_id % 7 = 0)
         |     + COUNT(*) FILTER (WHERE doc_id % 7 <> 0 AND doc_id % 11 = 0
         |                        AND reverse(text) <> text)) * 1000000
         |     // COUNT(*) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT)
         |   FROM documents WHERE doc_id >= 20) AS version_delta6,
         |  TRUE AS one_file
         |FROM wt CROSS JOIN nm
         |LEFT JOIN health h ON h.source = wt.source
         |LEFT JOIN samp s ON s.source = wt.source
         |ORDER BY wt.source""".stripMargin,

    "q86_temperature_mix" ->
      s"""WITH per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(len($tokensSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source
         |), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n_total FROM per
         |), wt AS (
         |  SELECT source, n_docs, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(n_total AS DOUBLE))
         |      * 1000000.0) AS BIGINT) AS w6
         |  FROM per CROSS JOIN tot
         |), nm AS (SELECT CAST(SUM(w6) AS BIGINT) AS total6 FROM wt)
         |SELECT source, n_docs, n_tokens, w6,
         |  CAST((1000 * w6) // total6 AS BIGINT) AS alloc_docs
         |FROM wt CROSS JOIN nm ORDER BY source""".stripMargin,
    // Rebuilds every chunk from the closed form: nChunks, starts,
    // slices, and short final windows all integer arithmetic.
    "q96_sliding_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), c AS (
         |  SELECT doc_id, w, len(w) AS l,
         |    CASE WHEN len(w) <= 48 THEN 1
         |         ELSE (len(w) - 48 + 23) // 24 + 1 END AS nc
         |  FROM t
         |), e AS (
         |  SELECT doc_id, w, l, unnest(range(0, nc)) AS i FROM c
         |)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  array_to_string(w[i*24 + 1 : least(i*24 + 48, l)], ' ')
         |    AS chunk_text,
         |  CAST(least(48, l - i*24) AS BIGINT) AS n_tokens
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    // q96's window math + the snap: list_max over boundary positions
    // in the tolerance zone (NULL = no boundary = nominal end);
    // DuckDB range() is [a,b) hence enom+1, list slices inclusive.
    "q123_sentence_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), c AS (
         |  SELECT doc_id, w, len(w) AS l,
         |    CASE WHEN len(w) <= 48 THEN 1
         |         ELSE (len(w) - 48 + 23) // 24 + 1 END AS nc
         |  FROM t
         |), e AS (
         |  SELECT doc_id, w, l, unnest(range(0, nc)) AS i FROM c
         |), b AS (
         |  SELECT doc_id, w, l, i, i*24 AS s, LEAST(l, i*24 + 48) AS enom
         |  FROM e
         |), sn AS (
         |  SELECT doc_id, w, i, s, enom,
         |    CASE WHEN enom < l THEN
         |      list_max(list_filter(range(GREATEST(s + 1, enom - 7), enom + 1),
         |        j -> right(w[CAST(j AS INT)], 1) IN ('.', '!', '?', 'e')))
         |    END AS snap
         |  FROM b
         |)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(s + 1 AS BIGINT) AS start_tok,
         |  CAST(COALESCE(snap, enom) AS BIGINT) AS end_tok,
         |  CAST(COALESCE(snap, enom) - s AS BIGINT) AS n_tokens,
         |  array_to_string(w[s + 1 : CAST(COALESCE(snap, enom) AS INT)], ' ')
         |    AS chunk_text,
         |  snap IS NOT NULL AS snapped
         |FROM sn ORDER BY doc_id, chunk_idx""".stripMargin,
    // Distinct-gram docfreq replay: counts and one double division
    // per fraction, identical IEEE shape.
    "q104_ngram_novelty" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS g
         |  FROM toks WHERE len(w) >= 3
         |), dfreq AS (
         |  SELECT g, COUNT(*) AS df FROM sh GROUP BY g
         |), perdoc AS (
         |  SELECT sh.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |    CAST(SUM(CASE WHEN df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
         |  FROM sh JOIN dfreq USING (g) GROUP BY sh.doc_id
         |)
         |SELECT d.doc_id,
         |  COALESCE(p.n_grams, 0) AS n_grams,
         |  COALESCE(p.n_unique, 0) AS n_unique,
         |  COALESCE(p.n_boiler, 0) AS n_boiler,
         |  CASE WHEN COALESCE(p.n_grams, 0) > 0
         |    THEN CAST(p.n_unique AS DOUBLE) / CAST(p.n_grams AS DOUBLE) END
         |    AS novelty,
         |  CASE WHEN COALESCE(p.n_grams, 0) > 0
         |    THEN CAST(p.n_boiler AS DOUBLE) / CAST(p.n_grams AS DOUBLE) END
         |    AS boilerplate_frac
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // q100's selection chain + docfreq cap + postings self-join —
    // every candidate pair and shared count replays exactly.
    "q101_winnowed_pairs" ->
      s"""WITH t AS (
         |  SELECT doc_id, $tokensSql AS wt FROM documents
         |), g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(wt) >= 3 THEN list_transform(
         |      range(1, greatest(len(wt) - 2, 0) + 1),
         |      i -> array_to_string(wt[i:i+2], ' '))
         |    ELSE [] END AS grams
         |  FROM t
         |), h AS (
         |  SELECT doc_id,
         |    list_transform(grams, g0 -> list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform(split(g0, ''), c -> CAST(unicode(c) AS BIGINT))),
         |      (a, b) -> (a * 31 + b) % 1000000007)) AS hs,
         |    CAST(len(grams) AS INT) AS n
         |  FROM g
         |), wins AS (
         |  SELECT doc_id, hs, n, unnest(range(0,
         |    CASE WHEN n >= 1 THEN greatest(n - 3, 1) ELSE 0 END)) AS s
         |  FROM h
         |), pick AS (
         |  SELECT doc_id, list_min(hs[s+1 : least(s+4, n)]) AS m FROM wins
         |), sel AS (
         |  SELECT DISTINCT doc_id, m FROM pick
         |), dfreq AS (
         |  SELECT m, COUNT(*) AS df FROM sel GROUP BY m
         |), kept AS (
         |  SELECT sel.doc_id, sel.m FROM sel JOIN dfreq USING (m)
         |  WHERE df <= 50
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM kept a JOIN kept b ON a.m = b.m AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // Replays gram hashing (the q84 fold at prime modulus), the
    // window walk as unnested rows, and the rightmost-min tie rule.
    "q100_winnowing" ->
      s"""WITH t AS (
         |  SELECT doc_id, $tokensSql AS wt FROM documents
         |), g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(wt) >= 3 THEN list_transform(
         |      range(1, greatest(len(wt) - 2, 0) + 1),
         |      i -> array_to_string(wt[i:i+2], ' '))
         |    ELSE [] END AS grams
         |  FROM t
         |), h AS (
         |  SELECT doc_id,
         |    list_transform(grams, g0 -> list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform(split(g0, ''), c -> CAST(unicode(c) AS BIGINT))),
         |      (a, b) -> (a * 31 + b) % 1000000007)) AS hs,
         |    CAST(len(grams) AS INT) AS n
         |  FROM g
         |), wins AS (
         |  SELECT doc_id, hs, n, unnest(range(0,
         |    CASE WHEN n >= 1 THEN greatest(n - 3, 1) ELSE 0 END)) AS s
         |  FROM h
         |), pick AS (
         |  SELECT doc_id,
         |    list_min(hs[s+1 : least(s+4, n)]) AS m,
         |    list_max(list_transform(range(s, least(s+4, n)),
         |      i -> CASE WHEN hs[i+1] = list_min(hs[s+1 : least(s+4, n)])
         |           THEN i ELSE -1 END)) AS p
         |  FROM wins
         |), sel AS (
         |  SELECT DISTINCT doc_id, m, p FROM pick
         |), agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_selected,
         |    MIN(m) AS fp_min, MAX(m) AS fp_max
         |  FROM sel GROUP BY doc_id
         |)
         |SELECT h.doc_id, h.n AS n_grams,
         |  CAST(CASE WHEN h.n >= 1 THEN greatest(h.n - 3, 1) ELSE 0 END AS INT)
         |    AS n_windows,
         |  COALESCE(agg.n_selected, 0) AS n_selected,
         |  agg.fp_min, agg.fp_max
         |FROM h LEFT JOIN agg ON h.doc_id = agg.doc_id
         |ORDER BY h.doc_id""".stripMargin,
    // Rebuilds every projected coordinate: the quantization, the LCG
    // sign matrix, and the integer sums are all exact arithmetic.
    "q99_random_projection" -> {
      val pCols = (0 until 16).map { j =>
        // the murmur-style finalizer, shifts as integer division
        val h1 = s"(((i + ${j * 1048576 + 1}) * 2654435761) % 2147483648)"
        val h2 = s"xor($h1, $h1 // 8192)"
        val h3 = s"(($h2 * 2246822519) % 2147483648)"
        val h4 = s"xor($h3, $h3 // 2048)"
        val h5 = s"(($h4 * 3266489917) % 2147483648)"
        val h6 = s"xor($h5, $h5 // 65536)"
        val sign = s"CASE WHEN $h6 % 2 = 1 THEN 1 ELSE -1 END"
        f"  CAST(list_sum(list_transform(range(0, len(q6)), i -> q6[i+1] * ($sign))) AS BIGINT) AS p$j%02d"
      }.mkString(",\n")
      s"""WITH q AS (
         |  SELECT vec_id,
         |    CASE WHEN len(embedding) >= 1 AND len(list_filter(embedding,
         |        x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) = 0
         |      THEN list_transform(embedding,
         |        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
         |    END AS q6
         |  FROM embeddings
         |)
         |SELECT vec_id,
         |$pCols
         |FROM q ORDER BY vec_id""".stripMargin
    },
    // q48's recursive-CTE cluster replay + q19's quality recompute;
    // the keep decision is an exact-integer argmax (quality6 desc,
    // doc_id asc) so every kept flag replays bit-for-bit.
    "q98_quality_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |), jp AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) >= 0.6
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION SELECT id_b, id_a FROM jp
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT src, dst FROM edges
         |    UNION
         |    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src
         |  ) SELECT a, b FROM r
         |), cl AS (
         |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster
         |  FROM reach GROUP BY a
         |), t AS (
         |  SELECT doc_id, text,
         |    CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, n_tokens, alpha_ratio, stop_hits,
         |    (CAST(length(text) AS DOUBLE) - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stop_ratio
         |  FROM t
         |), q AS (
         |  SELECT doc_id, CAST(floor((
         |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
         |    + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + (CASE WHEN stop_ratio > 0.005 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3) * 1000000.0) AS BIGINT) AS quality6
         |  FROM m
         |), lab AS (
         |  SELECT q.doc_id, COALESCE(cl.cluster, q.doc_id) AS cluster, q.quality6
         |  FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id
         |), keepers AS (
         |  SELECT cluster, doc_id AS keep_id FROM lab
         |  QUALIFY row_number() OVER (PARTITION BY cluster
         |    ORDER BY quality6 DESC, doc_id) = 1
         |)
         |SELECT lab.doc_id, lab.cluster, lab.quality6,
         |  (lab.doc_id = k.keep_id) AS kept
         |FROM lab JOIN keepers k USING (cluster)
         |ORDER BY lab.doc_id""".stripMargin,
    // Every Gopher signal is exact-integer counts plus one double
    // division in an identical IEEE shape, so signals AND rule
    // booleans replay exactly.
    "q97_gopher_rules" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(length(text) AS DOUBLE) AS n_chars_d,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS INT) AS stop_hits,
         |    CASE WHEN len($tokensSql) <= 0 THEN 0.0
         |         ELSE 1.0 - CAST(len(list_distinct($tokensSql)) AS DOUBLE)
         |                      / CAST(len($tokensSql) AS DOUBLE) END
         |      AS dup_tok_ratio
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, n_tokens,
         |    (n_chars_d - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits, dup_tok_ratio
         |  FROM m
         |)
         |SELECT doc_id, n_tokens, mean_tok_len, stop_hits, dup_tok_ratio,
         |  (n_tokens >= 40 AND n_tokens <= 100000) AS len_ok,
         |  (mean_tok_len >= 3.5 AND mean_tok_len <= 4.6) AS mtl_ok,
         |  (stop_hits >= 2) AS stop_ok,
         |  (dup_tok_ratio <= 0.55) AS rep_ok,
         |  ((n_tokens >= 40 AND n_tokens <= 100000)
         |    AND (mean_tok_len >= 3.5 AND mean_tok_len <= 4.6)
         |    AND (stop_hits >= 2) AND (dup_tok_ratio <= 0.55)) AS keep
         |FROM g ORDER BY doc_id""".stripMargin,
    // Contract: counts exact; co-location (zero normalized-dup groups
    // spanning splits) holds by construction; labels and the train
    // fraction are hash-routing guarantees (q56's pattern).
    "q94_leakage_split" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT doc_id) AS n_docs,
        |  CAST(0 AS BIGINT) AS bad_labels,
        |  TRUE AS train_frac_ok,
        |  CAST(0 AS BIGINT) AS n_span_groups
        |FROM documents""".stripMargin,
    // Replays the stupid-backoff chain arm-for-arm: exact integer
    // counts, the same ≤2 correctly-rounded 0.4 multiplies, one ln,
    // floor-quantized to scale-6 longs summed exactly.
    "q93_trigram_backoff" ->
      s"""WITH tr AS (
         |  SELECT doc_id, lang, $tokensSql AS w FROM documents WHERE doc_id < 20
         |), sc AS (
         |  SELECT doc_id, lang, $tokensSql AS w FROM documents WHERE doc_id >= 20
         |), tg AS (
         |  SELECT lang, w[i] AS a, w[i+1] AS b, w[i+2] AS c
         |  FROM (SELECT lang, w, unnest(range(1, len(w) - 1)) AS i
         |        FROM tr WHERE len(w) >= 3)
         |), c3 AS (
         |  SELECT lang, a, b, c, CAST(COUNT(*) AS BIGINT) AS c3
         |  FROM tg GROUP BY lang, a, b, c
         |), bg AS (
         |  SELECT lang, w[i] AS a, w[i+1] AS b
         |  FROM (SELECT lang, w, unnest(range(1, len(w))) AS i
         |        FROM tr WHERE len(w) >= 2)
         |), c2 AS (
         |  SELECT lang, a, b, CAST(COUNT(*) AS BIGINT) AS c2
         |  FROM bg GROUP BY lang, a, b
         |), c1 AS (
         |  SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c1
         |  FROM (SELECT lang, unnest(w) AS t FROM tr) GROUP BY lang, t
         |), st AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT(DISTINCT t) AS BIGINT) AS v
         |  FROM (SELECT lang, unnest(w) AS t FROM tr) GROUP BY lang
         |), sg AS (
         |  SELECT doc_id, lang, w[i] AS a, w[i+1] AS b, w[i+2] AS c
         |  FROM (SELECT doc_id, lang, w, unnest(range(1, len(w) - 1)) AS i
         |        FROM sc WHERE len(w) >= 3)
         |), scored AS (
         |  SELECT g.doc_id,
         |    CASE WHEN COALESCE(t3.c3, 0) > 0 THEN 0
         |         WHEN COALESCE(bc.c2, 0) > 0 THEN 1 ELSE 2 END AS bo,
         |    -CAST(floor(ln(
         |      CASE WHEN COALESCE(t3.c3, 0) > 0
         |           THEN CAST(t3.c3 AS DOUBLE) / CAST(ab.c2 AS DOUBLE)
         |           WHEN COALESCE(bc.c2, 0) > 0
         |           THEN 0.4 * (CAST(bc.c2 AS DOUBLE) / CAST(ub.c1 AS DOUBLE))
         |           ELSE 0.4 * 0.4 *
         |             ((CAST(COALESCE(uc.c1, 0) AS DOUBLE) + 1.0)
         |              / CAST(COALESCE(st.n, 0) + COALESCE(st.v, 0) + 1 AS DOUBLE))
         |      END) * 1000000.0) AS BIGINT) AS nll6
         |  FROM sg g
         |  LEFT JOIN c3 t3 USING (lang, a, b, c)
         |  LEFT JOIN c2 ab ON ab.lang = g.lang AND ab.a = g.a AND ab.b = g.b
         |  LEFT JOIN c2 bc ON bc.lang = g.lang AND bc.a = g.b AND bc.b = g.c
         |  LEFT JOIN c1 ub ON ub.lang = g.lang AND ub.t = g.b
         |  LEFT JOIN c1 uc ON uc.lang = g.lang AND uc.t = g.c
         |  LEFT JOIN st ON st.lang = g.lang
         |), perdoc AS (
         |  SELECT doc_id, CAST(SUM(nll6) AS BIGINT) AS nll6,
         |    CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         |    CAST(SUM(CASE WHEN bo = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bo2,
         |    CAST(SUM(CASE WHEN bo = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bo1
         |  FROM scored GROUP BY doc_id
         |)
         |SELECT d.doc_id, d.lang,
         |  COALESCE(p.n_trigrams, 0) AS n_trigrams,
         |  COALESCE(p.nll6, 0) AS nll6,
         |  CASE WHEN COALESCE(p.n_trigrams, 0) = 0 THEN 0.0
         |       ELSE CAST(p.nll6 AS DOUBLE) / 1000000.0
         |            / CAST(p.n_trigrams AS DOUBLE)
         |  END AS avg_nll,
         |  COALESCE(p.n_bo2, 0) AS n_bo2,
         |  COALESCE(p.n_bo1, 0) AS n_bo1
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |WHERE d.doc_id >= 20
         |ORDER BY d.doc_id""".stripMargin,
    // Shingle-set Jaccard between sources, exact: same distinct
    // (source, shingle) sets, same self-join intersection, same
    // complete pair frame with coalesced zeros.
    "q92_source_overlap" ->
      s"""WITH toks AS (
         |  SELECT source, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT DISTINCT source, shingle FROM (
         |    SELECT source, unnest(list_distinct(
         |      list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                     i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |    FROM toks WHERE len(w) >= 3)
         |), sizes AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY source
         |), inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.source < b.source
         |  GROUP BY a.source, b.source
         |), pairs AS (
         |  SELECT sa.source AS src_a, sb.source AS src_b,
         |    sa.sz AS sz_a, sb.sz AS sz_b
         |  FROM sizes sa JOIN sizes sb ON sa.source < sb.source
         |), wide AS (
         |  SELECT p.src_a, p.src_b,
         |    COALESCE(i.n_inter, 0) AS n_inter,
         |    p.sz_a + p.sz_b - COALESCE(i.n_inter, 0) AS n_union
         |  FROM pairs p LEFT JOIN inter i USING (src_a, src_b)
         |)
         |SELECT src_a, src_b, n_inter, n_union,
         |  CASE WHEN n_union > 0
         |       THEN CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)
         |       ELSE 0.0 END AS jaccard
         |FROM wide ORDER BY src_a, src_b""".stripMargin,
    // Same relational phrase formulation: candidate starts from the
    // postings⋈phrase-tokens join, occurrence ⟺ all m distinct idx
    // values hit — fully portable, value-exact.
    "q91_phrase_search" -> phraseOracleSql,
    // q95 is the map-only twin — same phrases, same contract, same
    // oracle; only the physical plan differs.
    "q95_phrase_mapside" -> phraseOracleSql,

    // Rebuilds the q83 nll6 scores, then the histogram-cutoff tercile:
    // cutoff k = smallest score whose cumulative count reaches
    // ceil(k·n/3) (integer comparison cum·3 >= k·n — no float
    // quantile); tied scores share a bucket.
    "q89_perplexity_buckets" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $tokensSql AS w FROM documents
         |), big AS (
         |  SELECT doc_id, lang, w[i] AS a, w[i+1] AS b
         |  FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i
         |        FROM toks WHERE len(w) >= 2)
         |), c2 AS (
         |  SELECT lang, a, b, COUNT(*) AS c2 FROM big GROUP BY lang, a, b
         |), c1 AS (
         |  SELECT lang, a, COUNT(*) AS c1 FROM big GROUP BY lang, a
         |), voc AS (
         |  SELECT lang, COUNT(DISTINCT t) AS v
         |  FROM (SELECT lang, unnest(w) AS t FROM toks) GROUP BY lang
         |), sc AS (
         |  SELECT g.doc_id,
         |    -CAST(floor(ln((CAST(c.c2 AS DOUBLE) + 1.0)
         |                   / (CAST(p.c1 AS DOUBLE) + CAST(voc.v AS DOUBLE)))
         |                * 1000000.0) AS BIGINT) AS nll6
         |  FROM big g
         |  JOIN c2 c USING (lang, a, b)
         |  JOIN c1 p USING (lang, a)
         |  JOIN voc USING (lang)
         |), perdoc AS (
         |  SELECT doc_id, CAST(SUM(nll6) AS BIGINT) AS nll6
         |  FROM sc GROUP BY doc_id
         |), scored AS (
         |  SELECT d.doc_id, d.lang, COALESCE(p.nll6, 0) AS nll6
         |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |), hist AS (
         |  SELECT lang, nll6, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM scored GROUP BY lang, nll6
         |), cum AS (
         |  SELECT lang, nll6,
         |    SUM(c) OVER (PARTITION BY lang ORDER BY nll6
         |                 ROWS UNBOUNDED PRECEDING) AS cum,
         |    SUM(c) OVER (PARTITION BY lang) AS n
         |  FROM hist
         |), cuts AS (
         |  SELECT lang,
         |    MIN(CASE WHEN cum * 3 >= n THEN nll6 END) AS cut1,
         |    MIN(CASE WHEN cum * 3 >= n * 2 THEN nll6 END) AS cut2
         |  FROM cum GROUP BY lang
         |)
         |SELECT s.doc_id, s.lang, s.nll6,
         |  CAST(CASE WHEN s.nll6 <= c.cut1 THEN 1
         |            WHEN s.nll6 <= c.cut2 THEN 2
         |            ELSE 3 END AS INT) AS bucket
         |FROM scored s JOIN cuts c USING (lang)
         |ORDER BY s.doc_id""".stripMargin,
    // Composes the portable recomputes of exact-dup mass (COUNT OVER
    // text), q66's shingle-intersect contamination, and q40's quality
    // rule into one per-(lang, source) report.
    "q90_corpus_health" ->
      s"""WITH corp AS (
         |  SELECT doc_id, lang, source, text FROM documents WHERE doc_id >= 20
         |), t AS (
         |  SELECT doc_id, lang, source,
         |    CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio,
         |    CAST(length(text) AS DOUBLE) AS n_chars
         |  FROM corp
         |), m AS (
         |  SELECT doc_id, lang, source, n_tokens, alpha_ratio, stop_hits,
         |    (n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stop_ratio
         |  FROM t
         |), q AS (
         |  SELECT doc_id, lang, source, n_tokens,
         |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
         |    + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + (CASE WHEN stop_ratio > 0.005 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3 AS quality
         |  FROM m
         |), dupc AS (
         |  SELECT doc_id, COUNT(*) OVER (PARTITION BY text) AS tc FROM corp
         |), toks2 AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks2 WHERE len(w) >= 3
         |), bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
         |), contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
         |  WHERE s.doc_id >= 20
         |), rep AS (
         |  SELECT q.lang, q.source,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN d.tc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |    CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_contaminated,
         |    CAST(SUM(CASE WHEN q.quality >= 0.5 AND q.n_tokens >= 10
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |    CAST(SUM(CAST(q.n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
         |  FROM q
         |  JOIN dupc d USING (doc_id)
         |  LEFT JOIN contaminated c USING (doc_id)
         |  GROUP BY q.lang, q.source
         |)
         |SELECT lang, source, n_docs, n_dup, n_contaminated, n_kept,
         |  total_tokens,
         |  CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens
         |FROM rep ORDER BY lang, source""".stripMargin,
    // Replays the 3 merge steps exactly: same vocabulary, same pair
    // counts, same (cnt DESC, a, b) argmax, same double-REPLACE
    // application (leftmost-rescan semantics shared by JVM and SQL).
    "q87_bpe_merges" ->
      s"""WITH ${bpeStagesSql(3)}
         |SELECT CAST(1 AS INT) AS step, a AS sym_a, b AS sym_b,
         |  cnt AS pair_count FROM m1
         |UNION ALL SELECT CAST(2 AS INT), a, b, cnt FROM m2
         |UNION ALL SELECT CAST(3 AS INT), a, b, cnt FROM m3
         |ORDER BY step""".stripMargin,
    // Same merge chain, then the rewritten PER-LANGUAGE vocabulary is
    // re-aggregated into symbols-per-word; fertility is one double
    // division of exact longs.
    "q88_bpe_fertility" ->
      s"""WITH ${bpeStagesSql(3)}, langvoc AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         |    ' ' || array_to_string(split(word, ''), ' ') || ' ' AS sym
         |  FROM (SELECT lang, unnest($tokensSql) AS word FROM documents)
         |  GROUP BY lang, word
         |)${bpeApplySql("langvoc", "lang, n", 3)}, rw AS (
         |  SELECT lang, n, sym FROM rw3
         |), rep AS (
         |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_words,
         |    CAST(SUM(n * len(string_split(trim(sym), ' '))) AS BIGINT)
         |      AS n_symbols
         |  FROM rw GROUP BY lang
         |)
         |SELECT lang, n_words, n_symbols,
         |  CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility
         |FROM rep ORDER BY lang""".stripMargin,
    // Same merge chain applied to the DISTINCT-word vocabulary, then
    // occurrences join word -> symbol count and sum per document.
    "q102_bpe_encode" ->
      s"""WITH ${bpeStagesSql(3)}, wv AS (
         |  SELECT word, ' ' || array_to_string(split(word, ''), ' ') || ' ' AS sym
         |  FROM (SELECT DISTINCT unnest($tokensSql) AS word FROM documents)
         |)${bpeApplySql("wv", "word", 3)}, rw AS (
         |  SELECT word, sym FROM rw3
         |), ws AS (
         |  SELECT word, CAST(len(string_split(trim(sym), ' ')) AS BIGINT)
         |    AS n_syms
         |  FROM rw
         |), dt AS (
         |  SELECT doc_id, unnest($tokensSql) AS word FROM documents
         |), agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(n_syms) AS BIGINT) AS n_subwords
         |  FROM dt JOIN ws USING (word) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  COALESCE(agg.n_tokens, 0) AS n_tokens,
         |  COALESCE(agg.n_subwords, 0) AS n_subwords,
         |  CASE WHEN COALESCE(agg.n_tokens, 0) > 0
         |    THEN CAST(agg.n_subwords AS DOUBLE) / CAST(agg.n_tokens AS DOUBLE)
         |  END AS doc_fertility
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q79_domain_cap" ->
      """SELECT source, doc_id, lang FROM (
        |  SELECT source, doc_id, lang,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin,
    // Quarter-banding is exhaustive for Hamming ≤ 3 and the banded
    // pairs carry a verified distance — both deviation counts are
    // exactly zero for a correct implementation (the sampled
    // verification arm restricts BOTH sets to the same ids, so the
    // equality — and the zeros — survive sampling unchanged).
    "q26_simhash" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_missed,
        |  CAST(0 AS BIGINT) AS n_spurious
        |FROM documents""".stripMargin,
    "q29_ann_lsh" ->
      """SELECT vec_id AS query_id, TRUE AS recall_floor_met,
        |  TRUE AS ranks_valid, TRUE AS self_excluded
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    "q73_semantic_dedup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  TRUE AS conservation_ok,
        |  CAST(0 AS BIGINT) AS n_orphans
        |FROM embeddings""".stripMargin,
    "q74_quantize_int8" ->
      """SELECT vec_id,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
        |    AS scale_positive,
        |  TRUE AS within_bound, TRUE AS dims_preserved
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q41_ann_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(0 AS BIGINT) AS n_bad_cell,
        |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries,
        |  TRUE AS recall_floor_met
        |FROM embeddings""".stripMargin,
    // The aHash bit definition is exact-integer (cell-sum cross-
    // multiplication), so the oracle recomputes every hash AND the
    // brute-force partner counts from the synthesis closed forms —
    // pixel (x,y,c) is p((y·w+x)·3+c), p(k)=(31k+7+id) mod 256, the
    // same logical indexing both containers encode.
    "q76_phash_image_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 3 AS fmt,
        |    CAST((doc_id % 8) * 3 + 5 AS INT) AS w,
        |    CAST((doc_id % 6) * 3 + 4 AS INT) AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h,
        |    ((t.i // w) * 4) // h * 4 + ((t.i % w) * 4) // w AS cell,
        |    (3*t.i*31 + 7 + doc_id) % 256
        |      + ((3*t.i+1)*31 + 7 + doc_id) % 256
        |      + ((3*t.i+2)*31 + 7 + doc_id) % 256 AS gray
        |  FROM p, unnest(range(0, CAST(w AS BIGINT)*h)) AS t(i)
        |  WHERE fmt <= 1
        |), cellagg AS (
        |  SELECT doc_id, cell, SUM(gray) AS cs, COUNT(*) AS cc
        |  FROM px GROUP BY doc_id, cell
        |), tot AS (
        |  SELECT doc_id, SUM(cs) AS ts, SUM(cc) AS tc FROM cellagg GROUP BY doc_id
        |), ph AS (
        |  SELECT c.doc_id,
        |    CAST(SUM(CASE WHEN c.cs * t.tc > t.ts * c.cc
        |      THEN 1 << c.cell ELSE 0 END) AS BIGINT) AS phash
        |  FROM cellagg c JOIN tot t USING (doc_id) GROUP BY c.doc_id
        |), allm AS (
        |  SELECT p.doc_id AS media_id,
        |    CASE WHEN fmt = 0 THEN 'bmp' WHEN fmt = 1 THEN 'ppm' ELSE 'wav' END AS format,
        |    ph.phash
        |  FROM p LEFT JOIN ph ON p.doc_id = ph.doc_id
        |), prt AS (
        |  SELECT a.media_id, CAST(COUNT(*) AS BIGINT) AS n_partners
        |  FROM allm a JOIN allm b
        |    ON a.phash IS NOT NULL AND b.phash IS NOT NULL
        |   AND a.media_id <> b.media_id
        |   AND bit_count(xor(a.phash, b.phash)) <= 2
        |  GROUP BY a.media_id
        |)
        |SELECT m.media_id, m.format, m.phash,
        |  COALESCE(prt.n_partners, 0) AS n_partners
        |FROM allm m LEFT JOIN prt USING (media_id)
        |ORDER BY media_id""".stripMargin,
    // Same exact-integer recomputation as q76, over the PCM closed
    // form: interleaved sample k is (37k+11+id) mod 2001 − 1000,
    // n = channels·frames = (1 + id%2)·((id%40)·5 + 40), cell =
    // k·32 // n, bit set iff cell |sample| sum cross-multiplies
    // strictly above the stream mean.
    "q77_audio_fp_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 3 AS fmt,
        |    CAST((1 + doc_id % 2) * ((doc_id % 40) * 5 + 40) AS BIGINT) AS n
        |  FROM documents
        |), sx AS (
        |  SELECT doc_id, n,
        |    (t.i * 32) // n AS cell,
        |    abs((37 * t.i + 11 + doc_id) % 2001 - 1000) AS v
        |  FROM p, unnest(range(n)) AS t(i)
        |  WHERE fmt = 2
        |), cellagg AS (
        |  SELECT doc_id, cell, SUM(v) AS cs, COUNT(*) AS cc
        |  FROM sx GROUP BY doc_id, cell
        |), tot AS (
        |  SELECT doc_id, SUM(cs) AS ts, SUM(cc) AS tc FROM cellagg GROUP BY doc_id
        |), fp AS (
        |  SELECT c.doc_id,
        |    CAST(SUM(CASE WHEN c.cs * t.tc > t.ts * c.cc
        |      THEN (CAST(1 AS BIGINT) << c.cell) ELSE 0 END) AS BIGINT) AS afp
        |  FROM cellagg c JOIN tot t USING (doc_id) GROUP BY c.doc_id
        |), allm AS (
        |  SELECT p.doc_id AS media_id,
        |    CASE WHEN fmt = 0 THEN 'bmp' WHEN fmt = 1 THEN 'ppm' ELSE 'wav' END AS format,
        |    fp.afp
        |  FROM p LEFT JOIN fp ON p.doc_id = fp.doc_id
        |), prt AS (
        |  SELECT a.media_id, CAST(COUNT(*) AS BIGINT) AS n_partners
        |  FROM allm a JOIN allm b
        |    ON a.afp IS NOT NULL AND b.afp IS NOT NULL
        |   AND a.media_id <> b.media_id
        |   AND bit_count(xor(a.afp, b.afp)) <= 2
        |  GROUP BY a.media_id
        |)
        |SELECT m.media_id, m.format, m.afp,
        |  COALESCE(prt.n_partners, 0) AS n_partners
        |FROM allm m LEFT JOIN prt USING (media_id)
        |ORDER BY media_id""".stripMargin,
    // The recall floor and score fidelity are absolute properties of
    // a correct quantized-candidate + exact-re-rank implementation
    // (floor measured with margin — see the query comment).
    "q75_ann_quantized" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  TRUE AS recall_floor_met,
        |  TRUE AS rerank_scores_exact,
        |  CAST(0 AS BIGINT) AS n_self
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // q75's contract shape for the JL-shortlist path: the floor and
    // score-fidelity guarantees are recomputed in-plan; the oracle
    // states the contract over the query set.
    "q103_ann_projected" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  TRUE AS recall_floor_met,
        |  TRUE AS rerank_scores_exact,
        |  CAST(0 AS BIGINT) AS n_self
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // The batch rollup's exact SQL (q16) + the multi-batch proof bit:
    // hash-equality here means the REAL streaming execution (file
    // micro-batches through the state store) reproduced the batch
    // aggregate bit-for-bit.
    // The classifier gate (shared CTEs) + the streamed layout's
    // closed form: kept docs in (doc_id mod 3, doc_id) order — batch
    // files are the pmod partition in mtime order — with exclusive
    // running token offsets and 512-token window spans.
    "q129_streaming_curation" ->
      s"""$classifierCteSql, kept AS (
         |  SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS tk
         |  FROM toks t JOIN perdoc p USING (doc_id)
         |  WHERE p.n_features > 0 AND p.logit6 >= 0
         |), laid AS (
         |  SELECT doc_id, tk,
         |    COALESCE(CAST(SUM(tk) OVER (ORDER BY doc_id % 3, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |      AS so
         |  FROM kept
         |)
         |SELECT doc_id, tk AS n_tokens, so AS start_offset,
         |  CASE WHEN tk > 0 THEN so // 512 END AS first_window,
         |  CASE WHEN tk > 0 THEN (so + tk - 1) // 512 END AS last_window,
         |  TRUE AS replayed_multibatch
         |FROM laid ORDER BY doc_id""".stripMargin,

    // The oracle replays BOTH watermark promises in closed form: the
    // aggregate runs over the on-time corpus only (late copies were
    // dropped, filler lives in an unemitted window), and the HAVING
    // keeps exactly the windows whose end sits behind the final
    // watermark max(ts) - 1h.
    "q152_streaming_late_data" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum,
        |  TRUE AS late_all_dropped,
        |  TRUE AS replayed_multibatch
        |FROM events CROSS JOIN mx
        |GROUP BY hour, event_type, m
        |HAVING hour + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
        |ORDER BY hour, event_type""".stripMargin,

    // q155's closed-form UPDATE-MODE emission: one row per (window,
    // type, touching batch) carrying the cumulative aggregate over the
    // event-time-ordered quartile slices up to that batch. Nothing is
    // late under monotone slicing, so every staged row is accepted and
    // the partial sequence is exactly this windowed running sum; the
    // foreachBatch batch ids are the slice indices (one staged file
    // per slice, maxFilesPerTrigger=1, mtime-ordered).
    "q155_streaming_update_rollup" ->
      """WITH b AS (
        |  SELECT MIN(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS mn,
        |    (MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) -
        |     MIN(CAST(epoch(date_trunc('second', ts)) AS BIGINT))) // 4 + 1 AS sp
        |  FROM events
        |), e AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |    (CAST(epoch(date_trunc('second', ts)) AS BIGINT) - mn) // sp AS batch_id,
        |    value
        |  FROM events CROSS JOIN b
        |), agg AS (
        |  SELECT hour, event_type, batch_id, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,3))) AS v
        |  FROM e GROUP BY hour, event_type, batch_id
        |)
        |SELECT batch_id, hour, event_type,
        |  CAST(SUM(n) OVER w AS BIGINT) AS n_events,
        |  CAST(SUM(v) OVER w AS DOUBLE) AS value_sum,
        |  TRUE AS none_dropped,
        |  TRUE AS replayed_multibatch
        |FROM agg
        |WINDOW w AS (PARTITION BY hour, event_type ORDER BY batch_id)
        |ORDER BY batch_id, hour, event_type""".stripMargin,

    // q152's closed-form append-mode emission (windows ending behind
    // the final watermark max(ts) - 1h) — the restarted run must land
    // on exactly the uninterrupted stream's output, which is exactly
    // this aggregate.
    "q154_streaming_restart_recovery" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum,
        |  TRUE AS results_match,
        |  TRUE AS no_reprocess,
        |  TRUE AS stopped_midcorpus,
        |  TRUE AS replayed_multibatch
        |FROM events CROSS JOIN mx
        |GROUP BY hour, event_type, m
        |HAVING hour + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
        |ORDER BY hour, event_type""".stripMargin,

    "q106_streaming_replay" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum,
        |  TRUE AS replayed_multibatch
        |FROM events GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin,
    // q17's exact gaps-and-islands SQL + the multi-batch proof bit:
    // hash-equality means the per-user session STATE MACHINE
    // (flatMapGroupsWithState across time-ordered micro-batches)
    // reproduced the batch window scan bit-for-bit.
    "q107_streaming_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_id, ts_s,
        |    CASE WHEN lag(ts_s) OVER w IS NULL
        |           OR CAST(epoch(ts_s) AS BIGINT) - CAST(epoch(lag(ts_s) OVER w) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
        |), s AS (
        |  SELECT user_id, ts_s,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM g
        |)
        |SELECT user_id, session_seq, MIN(ts_s) AS session_start,
        |  MAX(ts_s) AS session_end, COUNT(*) AS n_events,
        |  TRUE AS replayed_multibatch
        |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    // q103's contract shape + the dispatch proof bit: the oracle row
    // asserts the adaptive dispatcher actually took the composed
    // projected+quantized arm (plan-derived in the Spark side).
    "q105_ann_adaptive" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  TRUE AS recall_floor_met,
        |  TRUE AS rerank_scores_exact,
        |  CAST(0 AS BIGINT) AS n_self,
        |  TRUE AS arm_projected_quantized
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "q110_corpus_clusters" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(0 AS BIGINT) AS n_bad_cell,
        |  CAST(0 AS BIGINT) AS n_kernel_mismatch,
        |  TRUE AS own_beats_mean,
        |  TRUE AS clusters_bounded
        |FROM embeddings""".stripMargin,
    // Every decoded feature is a closed form of doc_id — the synthesis
    // formulas in Multimodal.synth*. The byte-stream means are
    // recomputed exactly (integer sums < 2^53, one final IEEE
    // division), so a decoder that miscounts BMP row padding or WAV
    // channel interleave hash-mismatches.
    "q30_multimodal_features" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 3 AS fmt,
        |    CAST((doc_id % 8) * 3 + 5 AS INT) AS w,
        |    CAST((doc_id % 6) * 3 + 4 AS INT) AS h,
        |    CAST(1 + doc_id % 2 AS INT) AS ch,
        |    (doc_id % 40) * 5 + 40 AS nf
        |  FROM documents
        |)
        |SELECT doc_id AS media_id,
        |  CASE WHEN fmt = 0 THEN 'bmp' WHEN fmt = 1 THEN 'ppm' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN fmt = 0 THEN 54 + h * (((3 * w + 3) // 4) * 4)
        |            WHEN fmt = 1 THEN 9 + length(CAST(w AS VARCHAR))
        |                 + length(CAST(h AS VARCHAR)) + 3 * w * h
        |            ELSE 44 + 2 * ch * nf END AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN fmt <= 1 THEN w ELSE 0 END AS INT) AS width,
        |  CAST(CASE WHEN fmt <= 1 THEN h ELSE 0 END AS INT) AS height,
        |  CAST(CASE WHEN fmt <= 1 THEN 3 ELSE ch END AS INT) AS channels,
        |  CAST(CASE WHEN fmt <= 1 THEN 0 ELSE 8000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN fmt <= 1 THEN 0 ELSE nf END AS BIGINT) AS n_frames,
        |  CASE WHEN fmt <= 1 THEN 0.0 ELSE CAST(nf AS DOUBLE) / 8000.0 END AS duration_sec,
        |  CASE WHEN fmt <= 1 THEN
        |    CAST(list_sum(list_transform(range(0, 3 * w * h),
        |      k -> (k * 31 + 7 + doc_id) % 256)) AS DOUBLE) / CAST(3 * w * h AS DOUBLE)
        |  ELSE
        |    CAST(list_sum(list_transform(range(0, ch * nf),
        |      k -> (k * 37 + 11 + doc_id) % 2001 - 1000)) AS DOUBLE) / CAST(ch * nf AS DOUBLE)
        |  END AS mean_val
        |FROM p ORDER BY media_id""".stripMargin,
    // q47's scaled-integer cosine CTE both ways + scale-9 quantized
    // neighborhood sums + the one-division margin; mutual-best via
    // (margin DESC NULLS LAST, id) windows on the k-bounded pair sets.
    "q125_bitext_mine" ->
      """WITH s AS (
        |  SELECT vec_id AS src_id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0
        |), t AS (
        |  SELECT vec_id AS tgt_id, embedding AS v FROM embeddings WHERE vec_id % 2 = 1
        |), dots AS (
        |  SELECT src_id, tgt_id,
        |    SUM(round(CAST(s.v[i] AS DOUBLE) * 1e6)
        |        * round(CAST(t.v[i] AS DOUBLE) * 1e6)) / 1e12 AS dab,
        |    SUM(round(CAST(s.v[i] AS DOUBLE) * 1e6)
        |        * round(CAST(s.v[i] AS DOUBLE) * 1e6)) / 1e12 AS daa,
        |    SUM(round(CAST(t.v[i] AS DOUBLE) * 1e6)
        |        * round(CAST(t.v[i] AS DOUBLE) * 1e6)) / 1e12 AS dbb
        |  FROM s CROSS JOIN t, range(1, 65) r(i)
        |  GROUP BY src_id, tgt_id
        |), cosv AS (
        |  SELECT src_id, tgt_id, dab / (sqrt(daa) * sqrt(dbb)) AS cosine,
        |    CAST(floor(dab / (sqrt(daa) * sqrt(dbb)) * 1e9) AS BIGINT) AS c9
        |  FROM dots
        |), fwd AS (
        |  SELECT src_id, tgt_id, cosine, c9 FROM (
        |    SELECT src_id, tgt_id, cosine, c9,
        |      row_number() OVER (PARTITION BY src_id
        |        ORDER BY cosine DESC, tgt_id) AS rnk
        |    FROM cosv) WHERE rnk <= 4
        |), bwd AS (
        |  SELECT src_id, tgt_id, c9 FROM (
        |    SELECT src_id, tgt_id, c9,
        |      row_number() OVER (PARTITION BY tgt_id
        |        ORDER BY cosine DESC, src_id) AS rnk
        |    FROM cosv) WHERE rnk <= 4
        |), sf AS (
        |  SELECT src_id, CAST(SUM(c9) AS BIGINT) AS sum_f9,
        |    CAST(COUNT(c9) AS BIGINT) AS cnt_f FROM fwd GROUP BY src_id
        |), sb AS (
        |  SELECT tgt_id, CAST(SUM(c9) AS BIGINT) AS sum_b9,
        |    CAST(COUNT(c9) AS BIGINT) AS cnt_b FROM bwd GROUP BY tgt_id
        |), fm AS (
        |  SELECT f.src_id, f.tgt_id, f.cosine,
        |    CASE WHEN CAST(sf.sum_f9 AS DOUBLE) / CAST(sf.cnt_f AS DOUBLE)
        |              + CAST(sb.sum_b9 AS DOUBLE) / CAST(sb.cnt_b AS DOUBLE) > 0
        |         THEN CAST(f.c9 * 2 AS DOUBLE)
        |              / (CAST(sf.sum_f9 AS DOUBLE) / CAST(sf.cnt_f AS DOUBLE)
        |                 + CAST(sb.sum_b9 AS DOUBLE) / CAST(sb.cnt_b AS DOUBLE)) END AS margin
        |  FROM fwd f JOIN sf USING (src_id) JOIN sb USING (tgt_id)
        |), bm AS (
        |  SELECT b.src_id, b.tgt_id,
        |    CASE WHEN CAST(sf.sum_f9 AS DOUBLE) / CAST(sf.cnt_f AS DOUBLE)
        |              + CAST(sb.sum_b9 AS DOUBLE) / CAST(sb.cnt_b AS DOUBLE) > 0
        |         THEN CAST(b.c9 * 2 AS DOUBLE)
        |              / (CAST(sf.sum_f9 AS DOUBLE) / CAST(sf.cnt_f AS DOUBLE)
        |                 + CAST(sb.sum_b9 AS DOUBLE) / CAST(sb.cnt_b AS DOUBLE)) END AS margin
        |  FROM bwd b JOIN sf USING (src_id) JOIN sb USING (tgt_id)
        |), bestf AS (
        |  SELECT src_id, tgt_id FROM (
        |    SELECT src_id, tgt_id, row_number() OVER (PARTITION BY src_id
        |      ORDER BY margin DESC NULLS LAST, tgt_id) AS r FROM fm)
        |  WHERE r = 1
        |), bestb AS (
        |  SELECT src_id, tgt_id FROM (
        |    SELECT src_id, tgt_id, row_number() OVER (PARTITION BY tgt_id
        |      ORDER BY margin DESC NULLS LAST, src_id) AS r FROM bm)
        |  WHERE r = 1
        |)
        |SELECT fm.src_id, fm.tgt_id, fm.cosine, fm.margin,
        |  (bf.src_id IS NOT NULL AND bb.src_id IS NOT NULL) AS mutual_best,
        |  COALESCE(bf.src_id IS NOT NULL AND bb.src_id IS NOT NULL
        |    AND fm.margin >= 1.0, FALSE) AS mined
        |FROM fm
        |LEFT JOIN bestf bf ON bf.src_id = fm.src_id AND bf.tgt_id = fm.tgt_id
        |LEFT JOIN bestb bb ON bb.src_id = fm.src_id AND bb.tgt_id = fm.tgt_id
        |ORDER BY fm.src_id, fm.tgt_id""".stripMargin,

    "q151_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id AS neighbor_id, embedding AS cv, label AS cl
        |  FROM embeddings
        |), dots AS (
        |  SELECT query_id, neighbor_id,
        |    SUM(round(CAST(qv[i] AS DOUBLE) * 1e6)
        |        * round(CAST(cv[i] AS DOUBLE) * 1e6)) / 1e12 AS dab,
        |    SUM(round(CAST(qv[i] AS DOUBLE) * 1e6)
        |        * round(CAST(qv[i] AS DOUBLE) * 1e6)) / 1e12 AS daa,
        |    SUM(round(CAST(cv[i] AS DOUBLE) * 1e6)
        |        * round(CAST(cv[i] AS DOUBLE) * 1e6)) / 1e12 AS dbb
        |  FROM q JOIN c ON query_id <> neighbor_id
        |    AND ql IS NOT NULL AND cl IS NOT NULL AND ql <> cl,
        |    range(1, 65) t(i)
        |  GROUP BY query_id, neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    dab / (sqrt(daa) * sqrt(dbb)) AS cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dab / (sqrt(daa) * sqrt(dbb)) DESC, neighbor_id) AS rnk
        |  FROM dots
        |)
        |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,

    "q47_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
        |), dots AS (
        |  SELECT query_id, neighbor_id,
        |    SUM(round(CAST(qv[i] AS DOUBLE) * 1e6)
        |        * round(CAST(cv[i] AS DOUBLE) * 1e6)) / 1e12 AS dab,
        |    SUM(round(CAST(qv[i] AS DOUBLE) * 1e6)
        |        * round(CAST(qv[i] AS DOUBLE) * 1e6)) / 1e12 AS daa,
        |    SUM(round(CAST(cv[i] AS DOUBLE) * 1e6)
        |        * round(CAST(cv[i] AS DOUBLE) * 1e6)) / 1e12 AS dbb
        |  FROM q JOIN c ON query_id <> neighbor_id, range(1, 65) t(i)
        |  GROUP BY query_id, neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    dab / (sqrt(daa) * sqrt(dbb)) AS cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dab / (sqrt(daa) * sqrt(dbb)) DESC, neighbor_id) AS rnk
        |  FROM dots
        |)
        |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    "q48_dedup_clusters" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |), jp AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) >= 0.6
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION SELECT id_b, id_a FROM jp
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT src, dst FROM edges
         |    UNION
         |    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src
         |  ) SELECT a, b FROM r
         |)
         |SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    "q40_corpus_curation" ->
      s"""WITH surv AS (
         |  SELECT doc_id, lang, text FROM documents
         |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
         |), t AS (
         |  SELECT doc_id, lang,
         |    CAST(len($tokensSql) AS INT) AS n_tokens,
         |    CAST(${stopHitsSql(TextOps.EnStopwords)} AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio,
         |    CAST(length(text) AS DOUBLE) AS n_chars
         |  FROM surv
         |), m AS (
         |  SELECT doc_id, lang, n_tokens, alpha_ratio, stop_hits,
         |    (n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
         |      / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mean_tok_len,
         |    stop_hits / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS stop_ratio
         |  FROM t
         |), q AS (
         |  SELECT doc_id, lang, n_tokens,
         |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
         |    + (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + (CASE WHEN stop_ratio > 0.005 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3 AS quality
         |  FROM m
         |)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN quality >= 0.5 AND n_tokens >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
         |FROM q GROUP BY lang ORDER BY lang""".stripMargin,
    "q66_decontaminate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
         |), contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
         |  WHERE s.doc_id >= 20
         |)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY doc_id""".stripMargin,
    "q67_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
         |                l -> l <> '') AS lines,
         |    list_transform(range(1, greatest(len($tokensSql) - 2, 0) + 1),
         |                   i -> array_to_string(($tokensSql)[i:i+2], ' ')) AS grams
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CASE WHEN len(lines) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE) END
         |    AS dup_line_ratio,
         |  CASE WHEN len(grams) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE) END
         |    AS dup_3gram_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "q68_contamination_report" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
         |  FROM toks WHERE len(w) >= 3
         |), bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
         |)
         |SELECT s.doc_id, COUNT(*) AS n_hits
         |FROM sh s JOIN bench b USING (shingle)
         |WHERE s.doc_id >= 20
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "q69_token_budget_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($tokensSql) AS INT) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before
         |  FROM t
         |)
         |SELECT doc_id, lang, n_tokens FROM c WHERE before < 2000
         |ORDER BY doc_id""".stripMargin,
    "q71_paragraph_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM documents
        |), p AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |    i -> {'idx': i, 'para': trim(ps[i])})) AS o
        |  FROM d
        |), np AS (
        |  SELECT doc_id, o.idx AS idx, o.para AS para FROM p WHERE o.para <> ''
        |), kept AS (
        |  SELECT doc_id, idx, para FROM np
        |  QUALIFY row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) = 1
        |)
        |SELECT doc_id, COUNT(*) AS n_paras,
        |  CAST(length(string_agg(para, chr(10) || chr(10) ORDER BY idx)) AS INT)
        |    AS rebuilt_len
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q70_pii_scrub" -> {
      val (u, e, i4) = (TextOps.UrlPattern, TextOps.EmailPattern, TextOps.Ipv4Pattern)
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$u')) AS INT) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '$e')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$i4')) AS INT) AS n_ipv4,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$u', '<URL>', 'g'), '$e', '<EMAIL>', 'g'), '$i4', '<IP>', 'g')) AS INT)
         |    AS scrubbed_len
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q37_paged_source" ->
      """WITH g AS (SELECT range AS i FROM range(100000)),
        |feed AS (
        |  SELECT TIMESTAMP '2020-01-01' + (i // 10) * INTERVAL 1 DAY AS date,
        |    'store_' || (i % 37) AS store,
        |    ((i * 7 + 13) % 10000) / 100.0 AS sale_dollars
        |  FROM g
        |)
        |SELECT CAST(date_trunc('month', date) AS TIMESTAMP) AS month,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(sale_dollars AS DECIMAL(18,2))) AS DOUBLE) AS sales,
        |  COUNT(DISTINCT store) AS n_stores
        |FROM feed
        |WHERE date BETWEEN TIMESTAMP '2020-06-01 00:00:00' AND TIMESTAMP '2020-08-31 23:59:59'
        |GROUP BY month ORDER BY month""".stripMargin
  )
}
