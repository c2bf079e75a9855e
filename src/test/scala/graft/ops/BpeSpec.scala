package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpecBase {
  import spark.implicits._

  /** Pure-Scala reference of the merge loop: same symbolization, same
    * (cnt desc, a asc, b asc) argmax, same double String.replace
    * application (java.lang.String.replace is the leftmost-rescan
    * contract the operator pins).
    */
  private def refMerges(words: Map[String, Long], n: Int): Seq[(Int, String, String, Long)] = {
    var vocab = words.toSeq.map { case (w, c) =>
      (" " + w.map(_.toString).mkString(" ") + " ", c)
    }
    (1 to n).map { s =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (sym, c) =>
        sym.trim.split(" ").sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      val ((a, b), cnt) = counts.toSeq
        .sortBy { case ((x, y), c) => (-c, x, y) }.head
      val (pat, rep) = (s" $a $b ", s" $a$b ")
      vocab = vocab.map { case (sym, c) =>
        (sym.replace(pat, rep).replace(pat, rep), c)
      }
      (s, a, b, cnt)
    }
  }

  private def corpusDf(words: Map[String, Long]) = {
    val text = words.toSeq.sortBy(_._1)
      .flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("merges matches the reference loop on a mixed vocabulary") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val got = Bpe.merges(corpusDf(words), "doc_id", "text", nMerges = 3)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(got == refMerges(words, 3), s"got $got")
    // step 1 on this classic fixture: (e,s) rides newest+widest = 9
    assert(got.head == ((1, "e", "s", 9L)))
  }

  test("a merged symbol participates in later merges") {
    // "abc" dominates: step 1 merges (a,b) or (b,c); step 2 must then
    // merge the COMPOSED symbol with the remaining char
    val words = Map("abc" -> 10L, "xy" -> 1L)
    val got = Bpe.merges(corpusDf(words), "doc_id", "text", nMerges = 2)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(got(0) == ((1, "a", "b", 10L))) // tiebreak vs (b,c): a < b
    assert(got(1) == ((2, "ab", "c", 10L)))
  }

  test("overlapping alternating pairs both merge (double-replace law)") {
    // word "abab": after merging (a,b) both occurrences must be "ab"
    // (the string forms share a boundary space; pass 2 catches the
    // second), so step 2 sees the (ab,ab) pair
    val words = Map("abab" -> 7L, "qq" -> 1L)
    val got = Bpe.merges(corpusDf(words), "doc_id", "text", nMerges = 2)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(got(0) == ((1, "a", "b", 14L)))
    assert(got(1) == ((2, "ab", "ab", 7L)))
    assert(got == refMerges(words, 2))
  }

  test("argmax tiebreak is (count desc, a asc, b asc)") {
    // (a,z) and (b,y) both count 4; (a,z) must win on sym_a
    val words = Map("az" -> 4L, "by" -> 4L)
    val got = Bpe.merges(corpusDf(words), "doc_id", "text", nMerges = 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "z", 4L)))
  }

  test("fertility matches an exact recompute and shares global merges") {
    val docs = Seq(
      (1L, "abc abc ab", "l1"),
      (2L, "abc zz", "l2")
    ).toDF("doc_id", "text", "lang")
    val merges = Bpe.merges(docs, "doc_id", "text", nMerges = 2)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(merges(0)._2 == "a" && merges(0)._3 == "b")
    assert(merges(1)._2 == "ab" && merges(1)._3 == "c")
    val got = Bpe.fertility(docs, "doc_id", "text", "lang", nMerges = 2)
      .orderBy("lang").as[(String, Long, Long, Double)].collect().toSeq
    // l1: abc(x2) -> 1 symbol each, ab -> 1 symbol; 3 words, 3 symbols
    // l2: abc -> 1, zz -> 2 (z z never merged); 2 words, 3 symbols
    assert(got == Seq(("l1", 3L, 3L, 1.0), ("l2", 2L, 3L, 1.5)), got)
  }

  test("encode: per-doc subword counts under the learned merges") {
    val docs = Seq(
      (1L, "abc abc ab"),
      (2L, "abc zz"),
      (3L, "   ") // token-less
    ).toDF("doc_id", "text")
    // merges on this corpus: (a,b) then (ab,c) — as pinned in the
    // fertility test; abc -> 1 symbol, ab -> 1 symbol, zz -> 2.
    val got = Bpe.encode(docs, "doc_id", "text", nMerges = 2)
      .orderBy("doc_id")
      .collect()
    def row(i: Int) = (got(i).getLong(1), got(i).getLong(2),
      if (got(i).isNullAt(3)) None else Some(got(i).getDouble(3)))
    assert(row(0) == ((3L, 3L, Some(1.0))))
    assert(row(1) == ((2L, 3L, Some(1.5))))
    assert(row(2) == ((0L, 0L, None)))
  }

  test("encode laws: 1 <= syms-per-word <= word length; consistent with fertility") {
    val docs = Seq(
      (1L, "low lower newest widest", "en"),
      (2L, "newest low low", "en")
    ).toDF("doc_id", "text", "lang")
    val enc = Bpe.encode(docs, "doc_id", "text", nMerges = 3)
      .orderBy("doc_id").collect()
    // doc1: 4 words, chars 3+5+6+6=20; doc2: 3 words, chars 6+3+3=12
    assert(enc(0).getLong(1) == 4L && enc(0).getLong(2) >= 4L &&
      enc(0).getLong(2) <= 20L)
    assert(enc(1).getLong(1) == 3L && enc(1).getLong(2) >= 3L &&
      enc(1).getLong(2) <= 12L)
    // corpus-wide: sum of per-doc subwords == fertility's n_symbols
    val fert = Bpe.fertility(docs, "doc_id", "text", "lang", nMerges = 3)
      .collect()(0)
    assert(enc.map(_.getLong(2)).sum == fert.getLong(2))
  }

  test("merge exhaustion leaves encode/fertility intact, never annihilates") {
    // every word is one character: no adjacent pairs exist, merges()
    // truncates to zero rows — encode must still count one symbol per
    // word (review finding: the old crossJoin against an empty rule
    // frame returned ZERO rows, i.e. n_tokens=0 for every doc)
    val df = Seq((1L, "a b c a", "en"), (2L, "z z", "en"))
      .toDF("doc_id", "text", "lang")
    assert(Bpe.merges(df, "doc_id", "text", nMerges = 2).count() == 0)
    val enc = Bpe.encode(df, "doc_id", "text", nMerges = 2)
      .orderBy("doc_id").collect()
    assert(enc(0).getLong(1) == 4L && enc(0).getLong(2) == 4L)
    assert(enc(1).getLong(1) == 2L && enc(1).getLong(2) == 2L)
    val fert = Bpe.fertility(df, "doc_id", "text", "lang", nMerges = 2)
      .collect()(0)
    assert(fert.getLong(1) == 6L && fert.getLong(2) == 6L)
  }

  test("nMerges bounds are enforced") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Bpe.merges(df, "doc_id", "text", 0))
    intercept[IllegalArgumentException](
      Bpe.merges(df, "doc_id", "text", (1 << 16) + 1))
    intercept[IllegalArgumentException](
      Bpe.merges(df, "doc_id", "text", 2, vocabSampleCap = 1))
    // the distributed semantics oracle keeps its per-step job bound
    intercept[IllegalArgumentException](
      Bpe.mergesDistributed(df, "doc_id", "text", 9))
  }

  test("driver merge loop is bit-identical to the distributed semantics oracle") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L, "wide" -> 4L, "abab" -> 7L)
    val docs = corpusDf(words)
    val viaDriver = Bpe.merges(docs, "doc_id", "text", nMerges = 5)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    val viaJobs = Bpe.mergesDistributed(docs, "doc_id", "text", nMerges = 5)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(viaDriver == viaJobs, s"driver $viaDriver vs distributed $viaJobs")
  }

  test("vocabulary cap: identity when the vocabulary fits; bounded when it doesn't") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val docs = corpusDf(words)
    val full = Bpe.merges(docs, "doc_id", "text", nMerges = 3)
      .as[(Int, String, String, Long)].collect().toSeq
    // cap ≥ vocab size: the sample IS the vocabulary — exact identity
    // (this is what keeps q87/q88/q102's oracles valid at fixture scale)
    val capped = Bpe.merges(docs, "doc_id", "text", nMerges = 3,
        vocabSampleCap = 4)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(capped == full)
    // cap < vocab size: discovery still yields a deterministic,
    // repeatable merge list drawn from the surviving words
    val sampled = Bpe.merges(docs, "doc_id", "text", nMerges = 2,
        vocabSampleCap = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    val sampled2 = Bpe.merges(docs, "doc_id", "text", nMerges = 2,
        vocabSampleCap = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(sampled == sampled2 && sampled.nonEmpty)
  }

  test("fixture corpus: sampled-at-cap discovery agrees exactly with full") {
    // the regime the registered queries (q87/q88/q102) and any corpus
    // whose vocabulary fits DefaultVocabSampleCap run in: the sample
    // IS the vocabulary, so discovery output is identical merge for
    // merge (NOTES.md, r9 build log, records the sub-cap divergence behavior)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val vocabSize = docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .distinct().count().toInt
    val full = Bpe.merges(docs, "doc_id", "text", nMerges = 8)
      .as[(Int, String, String, Long)].collect().toSeq
    val atCap = Bpe.merges(docs, "doc_id", "text", nMerges = 8,
        vocabSampleCap = vocabSize)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(full == atCap && full.size == 8)
  }
}
