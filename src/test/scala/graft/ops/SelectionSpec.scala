package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class SelectionSpec extends SparkSpecBase {
  import spark.implicits._

  // pure-Scala reference of the portable feature hash
  private def refBucket(tok: String, b: Int): Long =
    tok.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % b)

  // the kernel dsirScores buckets with: one bucket per whitespace token
  private def tokenBuckets(toks: Seq[String], n: Int) =
    toks.toDF("t")
      .select(col("t"), element_at(
        graft.functions.tokenBucketsNative(col("t"), n, useBigrams = false), 1).as("b"))
      .as[(String, Long)].collect()

  test("tokenBucket matches the reference polynomial fold") {
    val toks = Seq("hello", "a", "Z9", "don't", "x-ray!", "émigré", "0", "~~~")
    val got = tokenBuckets(toks, 1024).toMap
    toks.foreach { t => assert(got(t) == refBucket(t, 1024), s"token $t") }
  }

  test("tokenBucket stays inside [0, nBuckets) and rejects bad sizes") {
    val got = tokenBuckets(Seq("alpha", "beta", "gamma"), 7).map(_._2)
    assert(got.forall(b => b >= 0 && b < 7))
    val e = intercept[Exception](tokenBuckets(Seq("alpha"), 0))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
  }

  test("dsirScores ranks target-like documents above off-target ones") {
    // target speaks only "alpha beta"; corpus docs 100-104 are
    // target-like, 200-204 are pure "zulu yankee" noise
    val target = (0L until 10L).map(i => (i, "alpha beta alpha beta")).toDF("doc_id", "text")
    val corpus = ((100L until 105L).map(i => (i, "alpha beta alpha")) ++
      (200L until 205L).map(i => (i, "zulu yankee zulu"))).toDF("doc_id", "text")
    val scored = Selection.dsirScores(corpus, target, "doc_id", "text",
      nBuckets = 64, k = 5)
    val rows = scored.as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val likeW = (100L until 105L).map(rows(_)._3)
    val offW = (200L until 205L).map(rows(_)._3)
    assert(likeW.min > offW.max,
      s"target-like $likeW must outrank off-target $offW")
    // exactly the 5 target-like docs are selected at k=5
    assert((100L until 105L).forall(rows(_)._4))
    assert((200L until 205L).forall(!rows(_)._4))
  }

  test("dsirScores matches an exact Scala recompute (quantized-ln law)") {
    val b = 32
    val target = Seq((0L, "red green red"), (1L, "green blue")).toDF("doc_id", "text")
    val corpusRows = Seq((10L, "red blue blue"), (11L, "void void red"), (12L, ""))
    val corpus = corpusRows.toDF("doc_id", "text")
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val tBags = Seq("red green red", "green blue").flatMap(toks).map(refBucket(_, b))
    val rBags = corpusRows.flatMap(r => toks(r._2)).map(refBucket(_, b))
    val ct = tBags.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = rBags.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (nt, nr) = (tBags.size.toLong, rBags.size.toLong)
    def lr6(bk: Long): Long = math.floor(math.log(
      ((ct.getOrElse(bk, 0L) + 1.0) * (nr + b).toDouble) /
        ((cr(bk) + 1.0) * (nt + b).toDouble)) * 1e6).toLong
    val expected = corpusRows.map { case (id, text) =>
      id -> toks(text).map(t => lr6(refBucket(t, b))).sum
    }.toMap
    val got = Selection.dsirScores(corpus, target, "doc_id", "text",
        nBuckets = b, k = 2)
      .select("doc_id", "logw6").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("dsirScores: zero-token docs score 0, never selected; tiebreak doc_id asc") {
    val target = Seq((0L, "same same")).toDF("doc_id", "text")
    // all corpus docs identical => identical (negative) scores; k=2
    // must pick the two LOWEST doc ids deterministically, and the
    // empty doc's neutral 0 must NOT outrank them
    val corpus = (10L until 15L).map(i => (i, "same same")).toDF("doc_id", "text")
      .union(Seq((20L, "")).toDF("doc_id", "text"))
    val got = Selection.dsirScores(corpus, target, "doc_id", "text",
        nBuckets = 16, k = 2)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(20L)._2 == 0L && got(20L)._3 == 0L && !got(20L)._4)
    assert(got(10L)._4 && got(11L)._4)
    assert(Seq(12L, 13L, 14L).forall(!got(_)._4))
  }

  test("temperatureMixture matches the exact integer-allocation law") {
    val docs = Seq.fill(8)((("big"), "w w w w w w w w w w")) ++ // 80 tokens
      Seq.fill(2)(("small", "w w")) // 4 tokens
    val df = docs.toDF("source", "text")
    val got = Selection.temperatureMixture(df, "source", "text", budgetDocs = 100L)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val n = Map("big" -> 80L, "small" -> 4L)
    val w6 = n.view.mapValues(t =>
      math.floor(math.sqrt(t.toDouble / 84.0) * 1e6).toLong).toMap
    val total6 = w6.values.sum
    n.keys.foreach { s =>
      val (_, nd, ntk, w, alloc) = got(s)
      assert(ntk == n(s) && w == w6(s))
      assert(alloc == 100L * w6(s) / total6)
    }
    assert(got("big")._2 == 8L && got("small")._2 == 2L)
    // temperature up-weights the tail: small's share beats proportional
    val smallShare = got("small")._5.toDouble / 100.0
    assert(smallShare > 4.0 / 84.0)
    // floor allocation never overfills
    assert(got.values.map(_._5).sum <= 100L)
  }

  test("temperatureMixture: all-empty corpus yields zero allocations, no abort") {
    val df = Seq(("s0", ""), ("s1", " ")).toDF("source", "text")
    val got = Selection.temperatureMixture(df, "source", "text", 100L)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // n_total = 0: weights and allocations must be 0, not NaN-fed
    // longs or an ANSI divide-by-zero error
    assert(got("s0") == (("s0", 1L, 0L, 0L, 0L)))
    assert(got("s1") == (("s1", 1L, 0L, 0L, 0L)))
  }

  test("temperatureMixture floor under-fill is bounded by nSources - 1") {
    val df = (0 until 7).flatMap(s => Seq.fill(s + 1)((s"s$s", "a b c")))
      .toDF("source", "text")
    val allocs = Selection.temperatureMixture(df, "source", "text", 1000L)
      .select("alloc_docs").as[Long].collect()
    assert(allocs.sum > 1000L - 7 && allocs.sum <= 1000L)
  }

  // ---- qualityClassifierScores ----------------------------------------

  private def classify(corpus: Seq[(Long, String)],
      posIds: Set[Long], negIds: Set[Long],
      nBuckets: Int = 64, threshold6: Long = 0L, bigrams: Boolean = true) = {
    val df = corpus.toDF("doc_id", "text")
    Selection.qualityClassifierScores(
        df, df.where(col("doc_id").isin(posIds.toSeq: _*)),
        df.where(col("doc_id").isin(negIds.toSeq: _*)),
        "doc_id", "text", nBuckets, threshold6, bigrams)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double], Boolean)].collect().toSeq
  }

  test("qualityClassifier separates seed-like documents") {
    val corpus = Seq(
      (0L, "clean prose with words"), (1L, "clean prose here too"),
      (2L, "spam spam buy now"), (3L, "buy now spam spam"),
      (4L, "clean prose with words here"), // positive-like probe
      (5L, "now buy spam"))               // negative-like probe
    val got = classify(corpus, posIds = Set(0L, 1L), negIds = Set(2L, 3L))
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(4L)._5 && !byId(5L)._5, got)       // keep decisions
    assert(byId(4L)._4.get > byId(5L)._4.get)      // score ordering
  }

  test("qualityClassifier matches an exact Scala recompute (quantized-ln law)") {
    val corpus = Seq(
      (0L, "alpha beta gamma"), (1L, "delta epsilon"),
      (2L, "alpha delta beta"), (3L, "zeta eta theta alpha"))
    val nB = 64
    def bucket(f: String): Long =
      f.foldLeft(0L)((a, c) => java.lang.Math.floorMod(a * 31 + c.toInt, nB.toLong))
    def feats(t: String): Seq[String] = {
      val w = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val pos = feats(corpus(0)._2).map(bucket)
    val neg = feats(corpus(1)._2).map(bucket)
    val cp = pos.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cn = neg.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (np, nn) = (pos.size.toLong, neg.size.toLong)
    def w6(b: Long): Long =
      math.floor(math.log(
        ((cp.getOrElse(b, 0L) + 1.0) * (nn + nB)) /
          ((cn.getOrElse(b, 0L) + 1.0) * (np + nB))) * 1e6).toLong
    val got = classify(corpus, posIds = Set(0L), negIds = Set(1L), nBuckets = nB)
    got.foreach { case (id, nf, logit6, score, keep) =>
      val fs = feats(corpus.find(_._1 == id).get._2).map(bucket)
      assert(nf == fs.size.toLong)
      val expected = fs.map(w6).sum
      assert(logit6 == expected, s"doc $id: $logit6 != $expected")
      assert(score.get == expected.toDouble / (fs.size.toDouble * 1e6))
      assert(keep == (expected >= 0L))
    }
  }

  test("qualityClassifier: feature-less docs score null and never keep") {
    val corpus = Seq((0L, "alpha beta"), (1L, "spam"), (2L, "   "))
    val got = classify(corpus, posIds = Set(0L), negIds = Set(1L))
    val empty = got.find(_._1 == 2L).get
    assert(empty._2 == 0L && empty._3 == 0L && empty._4.isEmpty && !empty._5)
  }

  test("qualityClassifier: OOV buckets take the smoothed default weight") {
    // doc 2's tokens are unseen in either seed: its per-feature weight
    // must be floor(1e6·ln((Nn+B)/(Np+B))), not a dropped row
    val corpus = Seq((0L, "a a a"), (1L, "b"), (2L, "zz yy"))
    val nB = 32
    val got = classify(corpus, posIds = Set(0L), negIds = Set(1L), nBuckets = nB)
    val oov = got.find(_._1 == 2L).get
    // Np = 3 unigrams + 2 bigrams = 5; Nn = 1; doc 2 has 3 features
    // (zz, yy, "zz yy"), all OOV
    val defW = math.floor(math.log((1.0 + nB) / (5.0 + nB)) * 1e6).toLong
    assert(oov._3 == 3L * defW, s"${oov._3} != ${3L * defW}")
  }

  test("map-side scorer is bit-identical to the distributed scorer") {
    val corpus = Seq(
      (0L, "alpha beta gamma"), (1L, "delta epsilon"),
      (2L, "alpha delta beta"), (3L, "zeta eta theta alpha"),
      (4L, "   "), (5L, "alpha"))
    val df = corpus.toDF("doc_id", "text")
    val pos = df.where(col("doc_id") === 0L)
    val neg = df.where(col("doc_id") === 1L)
    val distributed = Selection.qualityClassifierScores(
        df, pos, neg, "doc_id", "text", nBuckets = 64)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val (w, defw6) = Selection.collectClassifierWeights(
      pos, neg, "doc_id", "text", nBuckets = 64)
    val mapSide = Selection.scoreWithClassifier(
        df, "doc_id", "text", w, defw6, nBuckets = 64)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(mapSide == distributed)
  }

  test("map-side scorer: empty weight map (empty seeds) scores via the default only") {
    val df = Seq((0L, "alpha beta")).toDF("doc_id", "text")
    val empty = df.where(lit(false))
    val (w, defw6) = Selection.collectClassifierWeights(
      empty, empty, "doc_id", "text", nBuckets = 32)
    assert(w.isEmpty && defw6 == 0L) // ln((0+32)/(0+32)) = 0
    val got = Selection.scoreWithClassifier(df, "doc_id", "text",
        w, defw6, nBuckets = 32)
      .collect().head
    assert(got.getLong(1) == 3L && got.getLong(2) == 0L) // 2 uni + 1 bi, all defw6
  }

  test("map-side scorer runs UNCHANGED on a structured stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val pos = Seq((0L, "clean prose text")).toDF("doc_id", "text")
    val neg = Seq((1L, "spam buy now")).toDF("doc_id", "text")
    val (w, defw6) = Selection.collectClassifierWeights(
      pos, neg, "doc_id", "text", nBuckets = 64)
    val mem = MemoryStream[(Long, String)]
    val scored = Selection.scoreWithClassifier(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", w, defw6,
      nBuckets = 64)
    val q = scored.writeStream.format("memory").queryName("clf_stream")
      .outputMode("append").start()
    try {
      mem.addData((10L, "clean prose here"), (11L, "buy spam now now"))
      q.processAllAvailable()
      val got = spark.table("clf_stream").orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      // identical rows to the batch path on the same docs
      val batch = Selection.scoreWithClassifier(
          Seq((10L, "clean prose here"), (11L, "buy spam now now"))
            .toDF("doc_id", "text"),
          "doc_id", "text", w, defw6, nBuckets = 64)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(got == batch)
      assert(got.size == 2)
    } finally q.stop()
  }

  test("qualityClassifier: negative threshold keeps borderline docs via cross-mult") {
    val corpus = Seq((0L, "good text"), (1L, "bad stuff"), (2L, "bad stuff mixed"))
    // threshold6 negative: mean-weight comparisons must handle the
    // sign correctly through the multiplication (no floor-div tricks)
    val loose = classify(corpus, posIds = Set(0L), negIds = Set(1L),
      threshold6 = -5000000L)
    val strict = classify(corpus, posIds = Set(0L), negIds = Set(1L),
      threshold6 = 5000000L)
    assert(loose.count(_._5) >= strict.count(_._5))
    intercept[IllegalArgumentException] {
      classify(corpus, Set(0L), Set(1L), threshold6 = 30000000L)
    }
  }

  test("topShareGate keeps each group's best ceil(n*num/den) with ties " +
      "inclusive; thresholds are per-group; no cross-group starvation") {
    import spark.implicits._
    // group a: 10 docs scored 1..10 → top 1/5 = ceil(2) = {10, 9}
    // group b: 5 docs scored 100,100,100,1,1 → ceil(1) = score 100,
    //   ties inclusive → ALL THREE 100s survive
    val a = (1 to 10).map(i => ("a", i.toLong, i.toLong))
    val b = Seq(("b", 11L, 100L), ("b", 12L, 100L), ("b", 13L, 100L),
      ("b", 14L, 1L), ("b", 15L, 1L))
    val docs = (a ++ b).toDF("source", "doc_id", "score6")
    val kept = Selection.topShareGate(docs, "source", "score6", 1L, 5L)
      .select("source", "doc_id", "threshold")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(kept.filter(_._1 == "a").map(_._2) == Seq(9L, 10L))
    assert(kept.filter(_._1 == "a").forall(_._3 == 9L))
    assert(kept.filter(_._1 == "b").map(_._2) == Seq(11L, 12L, 13L),
      "threshold ties must all survive")
    assert(kept.filter(_._1 == "b").forall(_._3 == 100L))
    // num = den keeps everything
    assert(Selection.topShareGate(docs, "source", "score6", 1L, 1L)
      .count() == 15L)
    // non-integral scores are rejected loudly, not silently truncated
    intercept[IllegalArgumentException] {
      Selection.topShareGate(
        docs.withColumn("score6", col("score6").cast("double")),
        "source", "score6", 1L, 5L)
    }
  }
}
