package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Dedup-family semantics on crafted corpora with planted duplicates. */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm windowsill every afternoon"
  private val nearDup = base.replace("warm", "cold") // one token differs
  private val unrelated =
    "completely different content about distributed query engines and columnar storage formats for analytics"

  private def corpus = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated),
    (3L, base), // exact dup of 0
    (4L, "  " + base.toUpperCase + "  ") // normalized dup of 0
  ).toDF("doc_id", "text")

  test("exactDedup keeps lowest id per identical text") {
    val kept = Dedup.exactDedup(corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L, 4L)) // 3 dropped (dup of 0)
  }

  test("normalizedDedup also folds case/whitespace variants") {
    val kept = Dedup.normalizedDedup(corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L)) // 3 and 4 both fold into 0
  }

  test("semanticDedup drops clustered near-identical embeddings, keeps min-id") {
    // three tight groups around axes; within-group cosine ≈ 1
    val rows = for {
      axis <- 0 until 3
      i <- 0 until 4
    } yield {
      val v = Array.fill(8)(0.001f * (i + 1))
      v(axis) = 1.0f
      (axis * 4 + i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedupParts(emb, "vec_id", "embedding",
        threshold = 0.99, nCells = 3, iters = 4).kept
      .select("vec_id").as[Long].collect().sorted.toSeq
    // each group collapses to its min-id survivor
    assert(kept == Seq(0L, 4L, 8L), s"kept $kept")
    // dup-free case: orthogonal vectors all survive
    val ortho = (0 until 4).map { i =>
      val v = Array.fill(8)(0.0f); v(i) = 1.0f; (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val keptAll = Dedup.semanticDedupParts(ortho, "vec_id", "embedding",
        threshold = 0.99, nCells = 2, iters = 2).kept
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(keptAll == Seq(0L, 1L, 2L, 3L))
  }

  test("embeddingNearDupPairs: zero-norm vectors never pair (NaN guard)") {
    // two zero vectors + two genuine near-dups in ONE block: cosine of
    // a zero-norm side is 0/0 = NaN, and Spark orders NaN above every
    // double — an unguarded >= threshold would pair the zero vectors
    // with everything and weld the groups together
    val emb = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 0.011f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        lit(0), threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 3L)), s"got $pairs")
  }

  test("semanticDedup on an empty corpus returns empty, not an exception") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedupParts(empty, "vec_id", "embedding",
      threshold = 0.9, nCells = 4).kept
    assert(kept.count() == 0)
  }

  test("ngramJaccardPairs finds planted near-dups and skips unrelated") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // near-dup found
    assert(pairs.contains((0L, 3L))) // exact dup found (jaccard 1.0)
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated excluded
  }

  test("containmentPairs: full quote scores 1.0 where Jaccard misses it") {
    val quote = "the quick brown fox jumps over the lazy dog"
    val host = s"unrelated preamble text goes here first $quote and then a " +
      "long tail of additional words that dilute the union considerably " +
      "far beyond any symmetric threshold you might pick"
    val docs = Seq((10L, quote), (11L, host), (12L, "nothing shared at all here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((10L, 11L, 1.0))) // quote ⊂ host, directed, exact 1.0
    // the symmetric measure misses the same pair at the same bar
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty)
    // near-identical docs contain each other: both directions emitted
    val twins = Seq((20L, quote), (21L, quote)).toDF("doc_id", "text")
    val both = Dedup.containmentPairs(twins, "doc_id", "text", 3, 0.9)
      .select("contained_id", "container_id").as[(Long, Long)].collect().toSet
    assert(both == Set((20L, 21L), (21L, 20L)))
  }

  test("minhashLshPairs recovers the exact-jaccard pairs on this corpus") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // verification step guarantees precision
    assert(lsh.contains((0L, 3L))) // identical docs always collide in LSH
  }

  test("simhashPairs: identical docs at distance 0, unrelated docs apart") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val d03 = pairs.find(p => p._1 == 0L && p._2 == 3L)
    assert(d03.exists(_._3 == 0)) // exact dup -> identical fingerprint
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("embeddingNearDupPairs with constant block = true all-pairs") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.001f, 0.0f)), // near-dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f))      // orthogonal
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        lit(1), threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embeddingNearDupPairs refuses a block over the pair budget") {
    // pathological single-label input: one block of 100 rows = 4950 pairs
    val emb = (0L until 100L).map(i => (i, Array(1.0f, 0.0f), "all"))
      .toDF("vec_id", "embedding", "label")
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", col("label"),
        threshold = 0.9, maxPairsPerBlock = 1000L)
    }
    assert(ex.getMessage.contains("all (100 rows)"))
    // same input under a sufficient budget plans and runs fine
    val n = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", col("label"),
      threshold = 0.9, maxPairsPerBlock = 5000L).count()
    assert(n == 4950L)
  }

  test("subBlockApprox refines over-budget blocks: subset of exact, high recall") {
    // 3 tight clusters under ONE label: 90 rows = 4005 pairs > 1000 budget
    val rows = for { axis <- 0 until 3; i <- 0 until 30 } yield {
      val v = Array.fill(8)(0.001f * (i % 7 + 1)); v(axis) = 1.0f
      (axis * 30 + i.toLong, v, "all")
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    def run(budget: Long, sub: Boolean) =
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", col("label"),
          threshold = 0.99, maxPairsPerBlock = budget, subBlockApprox = sub)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = run(0L, sub = false)
    assert(exact.nonEmpty)
    val approx = run(1000L, sub = true)
    assert(approx.subsetOf(exact), "sub-blocking must not invent pairs")
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${approx.size}/${exact.size})")
    // without the opt-in the same input still refuses
    intercept[IllegalArgumentException](run(1000L, sub = false))
  }

  test("paragraphDedup keeps the first corpus-wide occurrence of each paragraph") {
    val docs = Seq(
      (1L, "unique one\n\nshared footer\n\nunique two"),
      (2L, "other text\n\nshared footer"),       // footer already seen in doc 1
      (3L, "shared footer"),                     // fully boilerplate -> vanishes
      (4L, "  \n\nlast bit")                     // empty para dropped, rest kept
    ).toDF("doc_id", "text")
    val kept = Dedup.paragraphDedup(docs, "doc_id", "text")
    val byDoc = kept.select("id", "para").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L) == Set("unique one", "shared footer", "unique two"))
    assert(byDoc(2L) == Set("other text"))
    assert(!byDoc.contains(3L))
    assert(byDoc(4L) == Set("last bit"))
    // rebuild preserves document order and drops the vanished doc
    val rebuilt = Dedup.rebuildFromParagraphs(kept, "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rebuilt(1L) == "unique one\n\nshared footer\n\nunique two")
    assert(rebuilt(2L) == "other text")
    assert(!rebuilt.contains(3L))
  }

  test("decontaminate drops docs sharing any n-gram with the benchmark") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a sentence with the quick brown fox inside it"), // contaminated
      (2L, "completely unrelated words only here"),          // clean
      (3L, "quick brown cats sleep all day"),                // no shared 3-gram
      (4L, "so short")                                       // < n tokens: never flagged
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L))
  }

  test("decontaminate broadcasts the benchmark shingle set") {
    val bench = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val corpus = Seq((1L, "some words the quick brown fox here"))
      .toDF("doc_id", "text")
    val plan = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"expected a broadcast semi join:\n$plan")
  }

  test("contaminationReport counts distinct shared grams per doc") {
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps"), // shares 3 distinct 3-grams
      (2L, "nothing in common at all"),
      (3L, "see the quick brown dog run") // shares exactly "the quick brown"
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationReport(corpus, "doc_id", "text", bench, "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 3L -> 1L))
  }

  test("shingleIndex maxDocFreq drops stop-shingles") {
    val docs = Seq((1L, "a b c x y z"), (2L, "a b c q r s"), (3L, "a b c t u v"))
      .toDF("doc_id", "text")
    val full = Dedup.shingleIndex(docs, "doc_id", "text", 3).count()
    val capped = Dedup.shingleIndex(docs, "doc_id", "text", 3, Some(2)).count()
    assert(capped < full) // "a b c" (df=3) filtered out
  }

  test("editDistancePairs finds blocked near-dups with exact distance") {
    val docs = Seq(
      (1L, "the quick brown fox jumps", "en"),
      (2L, "the quick brown fox jumped", "en"),  // dist 2 from doc 1
      (3L, "a completely different text here", "en"),
      (4L, "the quick brown fox jumps", "de")    // same text, other block
    ).toDF("doc_id", "text", "lang")
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "text",
        org.apache.spark.sql.functions.col("lang"), maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 2)))  // cross-block pair (1,4) not considered
  }

  test("repeatedSpans: planted boilerplate counts, short docs excluded") {
    val boiler = "all rights reserved contact us for details"  // 7 tokens
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler"),           // 10 tokens
      (2L, s"$boiler delta epsilon"),              // 9 tokens
      (3L, "nothing shared here at all between documents ever"), // 8 tokens
      (4L, "too short")                            // excluded (< 6 tokens)
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text",
        spanTokens = 6, minDocs = 2)
      .orderBy("doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: 5 windows, the last 2 lie fully inside the 7-token
    // boilerplate and recur in doc 2; doc 2: 4 windows, first 2
    // boilerplate; doc 3: 3 windows, none shared; doc 4 absent
    assert(got.toSeq == Seq(
      (1L, 5L, 2L, 2L), (2L, 4L, 2L, 2L), (3L, 3L, 0L, 1L)), got.toSeq)
  }

  test("sourceOverlapExact: identical, partial, and disjoint source pairs") {
    val docs = Seq(
      (1L, "sA", "one two three four"),     // shingles: {one two three, two three four}
      (2L, "sB", "one two three four"),     // identical to sA
      (3L, "sC", "one two three unrelated"),// shares {one two three}
      (4L, "sD", "totally different words here")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlapExact(docs, "source", "text", n = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(("sA", "sB")) == ((2L, 2L, 1.0)))
    assert(got(("sA", "sC")) == ((1L, 3L, 1.0 / 3.0)))
    assert(got(("sA", "sD")) == ((0L, 4L, 0.0))) // zero pair still present
    assert(got.size == 6) // complete 4-choose-2 matrix
  }

  test("stripRepeatedSpans removes covered tokens, keeps everything else") {
    val boiler = "all rights reserved contact us now" // exactly 6 tokens
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler"),
      (2L, s"$boiler delta epsilon"),
      (3L, "nothing shared here at all between documents ever"),
      (4L, "too short"),              // < spanTokens: no windows, untouched
      (5L, boiler)                    // fully covered -> empty survivor
    ).toDF("doc_id", "text")
    val got = Dedup.stripRepeatedSpans(docs, "doc_id", "text",
        spanTokens = 6, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "alpha beta gamma", 9L, 6L)))
    assert(got(2L) == ((2L, "delta epsilon", 8L, 6L)))
    assert(got(3L) == ((3L, "nothing shared here at all between documents ever", 8L, 0L)))
    assert(got(4L) == ((4L, "too short", 2L, 0L)))
    assert(got(5L) == ((5L, "", 6L, 6L))) // membership preserved, text gone
  }

  test("stripRepeatedSpans unions overlapping frequent spans' coverage") {
    // 7-token shared run => two overlapping frequent 6-windows in each
    // doc; coverage must union to exactly the 7 shared positions
    val run = "one two three four five six seven"
    val docs = Seq(
      (1L, s"$run tail1"),
      (2L, s"head2 $run")
    ).toDF("doc_id", "text")
    val got = Dedup.stripRepeatedSpans(docs, "doc_id", "text",
        spanTokens = 6, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "tail1", 7L)))
    assert(got(2L) == ((2L, "head2", 7L)))
  }

  test("stripRepeatedSpans coalesces window chains into maximal spans") {
    // Chain CROSSING window boundaries: a 15-token shared run with
    // spanTokens=6 produces 10 overlapping frequent windows per doc —
    // they must coalesce into ONE maximal 15-token span, not 10.
    val run15 = (1 to 15).map(i => s"w$i").mkString(" ")
    // A second, separated shared run (6 tokens exactly) in the same
    // docs must count as a SECOND distinct span.
    val run6 = "p q r s t u"
    val docs = Seq(
      (1L, s"$run15 gapA $run6"),
      (2L, s"$run15 gapB gapC $run6 gapD")
    ).toDF("doc_id", "text")
    val got = Dedup.stripRepeatedSpans(docs, "doc_id", "text",
        spanTokens = 6, minDocs = 2)
      .select("doc_id", "n_removed", "n_spans_removed", "longest_removed_span")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 21L, 2L, 15L)), s"${got(1L)}")
    assert(got(2L) == ((2L, 21L, 2L, 15L)), s"${got(2L)}")
    // an untouched doc reports zero spans
    val clean = Dedup.stripRepeatedSpans(
      docs.union(Seq((3L, "entirely novel content never repeated anywhere else"))
        .toDF("doc_id", "text")),
      "doc_id", "text", spanTokens = 6, minDocs = 2)
      .where(col("doc_id") === 3L)
      .select("n_spans_removed", "longest_removed_span")
      .as[(Long, Long)].head()
    assert(clean == ((0L, 0L)))
  }

  test("incrementalLshPairs: cross-side pairs only, verified jaccard") {
    // corpus doc 10 and batch doc 20 are near-identical; batch docs
    // 20/21 are identical to EACH OTHER (batch-internal — must not
    // pair); corpus docs 10/11 identical (corpus-internal — must not
    // pair); 30 is unrelated
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (10L, base), (11L, base),
      (12L, "completely different text with no overlap at all here now ok")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, base + " x"), (21L, base + " x"),
      (30L, "unrelated batch document content nothing shared with anyone else")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalLshPairs(corpus, batch, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 8, threshold = 0.6)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    // both batch near-dups hit both corpus twins; no internal pairs
    assert(got == Set((20L, 10L), (20L, 11L), (21L, 10L), (21L, 11L)), got)
    // jaccard on returned pairs is the exact shingle jaccard
    val j = Dedup.incrementalLshPairs(corpus, batch, "doc_id", "text",
        3, 4, 8, 0.6).select("jaccard").as[Double].collect()
    assert(j.forall(v => v >= 0.6 && v <= 1.0), j.toSeq)
  }

  test("perceptualDupPairs: banding is exhaustive vs brute for Hamming <= 3") {
    // 16-bit codes with planted distances: 0 (dup), 2 (near), 3, 4 (far)
    val codes = Seq(
      (0L, Some(0x1234L)), (1L, Some(0x1234L)),          // dist 0
      (2L, Some(0x1234L ^ 0x0011L)),                     // dist 2 from 0/1
      (3L, Some(0x1234L ^ 0x0700L)),                     // dist 3 from 0/1
      (4L, Some(0x1234L ^ 0xF00FL)),                     // dist 8: far
      (5L, Option.empty[Long])                           // audio: never pairs
    ).toDF("media_id", "phash")
    val got = Dedup.perceptualDupPairs(codes, "media_id", "phash",
        maxDist = 3, nBits = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force expectation over the non-null codes
    val vals = Map(0L -> 0x1234L, 1L -> 0x1234L,
      2L -> (0x1234L ^ 0x0011L), 3L -> (0x1234L ^ 0x0700L),
      4L -> (0x1234L ^ 0xF00FL))
    val brute = (for {
      a <- vals.keys; b <- vals.keys if a < b
      if java.lang.Long.bitCount(vals(a) ^ vals(b)) <= 3
    } yield (a, b)).toSet
    assert(got == brute, s"banded $got != brute $brute")
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
    // tighter threshold drops the dist-3 pairs
    val tight = Dedup.perceptualDupPairs(codes, "media_id", "phash",
        maxDist = 2, nBits = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(tight == brute.filterNot { case (a, b) =>
      java.lang.Long.bitCount(vals(a) ^ vals(b)) == 3 })
  }

  test("ngramNovelty: unique text 1.0, replicated text 0.0 with boilerplate flagged") {
    val docs = Seq(
      (0L, "completely novel words never repeated anywhere else"),
      (1L, "shared boiler plate text here"), // in 3 docs -> df 3 > floor 2
      (2L, "shared boiler plate text here"),
      (3L, "shared boiler plate text here"),
      (4L, "too short"),                      // < 3 tokens: no grams
      (5L, "half novel opening then shared boiler plate text here")
    ).toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(docs, "doc_id", "text", n = 3,
        boilerplateFloor = 2)
      .orderBy("doc_id").collect()
    def d(i: Int, f: String) = got(i).getDouble(got(i).fieldIndex(f))
    assert(d(0, "novelty") == 1.0 && d(0, "boilerplate_frac") == 0.0)
    assert(d(1, "novelty") == 0.0 && d(1, "boilerplate_frac") == 1.0)
    assert(got(4).isNullAt(got(4).fieldIndex("novelty")) &&
      got(4).getLong(got(4).fieldIndex("n_grams")) == 0L)
    // doc 5: "shared boiler plate", "boiler plate text", "plate text
    // here" appear in 4 docs (> floor); its novel prefix grams are
    // unique -> strictly between
    assert(d(5, "novelty") > 0.0 && d(5, "novelty") < 1.0)
    assert(d(5, "boilerplate_frac") > 0.0 && d(5, "boilerplate_frac") < 1.0)
  }

  test("winnowedPairs: near-dups pair, unrelated don't") {
    val got = Dedup.winnowedPairs(corpus, "doc_id", "text",
        minShared = 3, maxDocFreq = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 0/1 (one token differs), 0/3 (exact dup), and their closure
    // all share fingerprints; 2 (unrelated) pairs with nobody
    assert(got.contains((0L, 1L)) && got.contains((0L, 3L)))
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("winnowedPairs: stop-fingerprint cap suppresses boilerplate pairs") {
    // 5 docs share only a boilerplate run; docs 10/11 share a rare run
    val boiler = "shared navigation header text repeated on every page"
    val rare = "unique long passage appearing exactly twice in this corpus"
    val docs = ((0L to 4L).map(i => (i, s"$boiler filler$i")) ++
      Seq((10L, s"$rare alpha beta"), (11L, s"gamma delta $rare")))
      .toDF("doc_id", "text")
    val got = Dedup.winnowedPairs(docs, "doc_id", "text",
        minShared = 1, maxDocFreq = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 11L)),
      s"expected only the rare pair, got $got")
    // without the cap, the boilerplate clique comes back
    val uncapped = Dedup.winnowedPairs(docs, "doc_id", "text",
        minShared = 1, maxDocFreq = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((0L, 1L)) && uncapped.contains((10L, 11L)))
  }

  test("qualityAwareSurvivors: best quality wins, ties to min id, singletons kept") {
    // cluster {0,1,2} (chained edges), cluster {3,4} (tie on quality),
    // singleton 5
    val docs = Seq(
      (0L, 10L), (1L, 99L), (2L, 50L), // 1 has the best quality
      (3L, 7L), (4L, 7L),              // tie -> 3 (min id) survives
      (5L, 1L)
    ).toDF("doc_id", "quality6")
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.qualityAwareSurvivors(docs, "doc_id", "quality6", pairs)
      .orderBy("doc_id")
      .select("doc_id", "cluster", "kept")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, false), (1L, 0L, true), (2L, 0L, false),
      (3L, 3L, true), (4L, 3L, false),
      (5L, 5L, true)))
  }

  test("qualityAwareSurvivors: exactly one survivor per cluster") {
    val docs = (0L to 20L).map(i => (i, i % 5)).toDF("doc_id", "quality6")
    val pairs = (0L until 20L by 2).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.qualityAwareSurvivors(docs, "doc_id", "quality6", pairs)
    val perCluster = got.groupBy("cluster")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select("n_kept").as[Long].collect()
    assert(perCluster.forall(_ == 1L))
    assert(got.count() == 21)
  }

  test("softDedupWeights: cluster mass is one doc; uniques keep full weight") {
    val df = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "unique a"), (5L, "unique b"), (6L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.softDedupWeights(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L, 6L)) // every row kept
    assert(got.take(3).forall(r => r._2 == 3L && r._3 == 1.0 / 3.0))
    assert(got.drop(3).forall(r => r._2 == 1L && r._3 == 1.0))
    // cluster mass sums to the number of DISTINCT texts (4 here)
    assert(math.abs(got.map(_._3).sum - 4.0) < 1e-12)
  }
}
