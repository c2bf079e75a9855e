package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("tokens/tokenCount: whitespace runs, leading/trailing space, empty") {
    val df = Seq("a  b\tc", "  x ", "", "one").toDF("t")
      .select(TextOps.tokenCount(col("t")).as("n"))
    assert(df.as[Int].collect().toSeq == Seq(3, 1, 0, 1))
  }

  test("bpeishTokenCount splits letter runs, digit runs, symbols") {
    val df = Seq("hello world42!", "a,b").toDF("t")
      .select(TextOps.bpeishTokenCount(col("t")).as("n"))
    // hello|world|42|! = 4 ; a|,|b = 3
    assert(df.as[Int].collect().toSeq == Seq(4, 3))
  }

  test("wordShingles: sliding n-grams; short docs give empty") {
    val df = Seq("a b c d", "a b").toDF("t")
      .select(TextOps.wordShingles(col("t"), 3).as("s"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("langId discriminates genuinely multilingual text") {
    val samples = Seq(
      ("en", "the cat is on the roof and the dog is in the garden with a ball"),
      ("fr", "le chat est sur le toit et la porte des voisins est ouverte"),
      ("es", "el gato esta en el tejado y los perros estan en una casa"),
      ("de", "der hund ist im garten und die katze ist auf dem dach das ist gut"),
      ("zh", "我 的 猫 是 在 屋 顶 了 我 的 狗 是 在 花 园"),
      ("und", "zzz qqq xxx"))
    val got = samples.toDF("expected", "text")
      .select(col("expected"), TextOps.langId(col("text")).as("pred"))
      .as[(String, String)].collect()
    got.foreach { case (exp, pred) => assert(pred == exp, s"expected $exp got $pred") }
  }

  test("qualityScore: clean English prose scores higher than junk") {
    val good = "the quick brown fox jumps over the lazy dog and it is a fine day in the park"
    val junk = "@@@@ #### 1234 %%%%"
    val scores = Seq(good, junk).toDF("t")
      .select(TextOps.qualityScore(col("t")).as("q")).as[Double].collect()
    assert(scores(0) > 0.9 && scores(1) < 0.5)
  }

  test("fingerprint: near-identical docs share min/max gram hashes") {
    val a = "abcdefghijklmnopqrstuvwxyz0123456789abcdefghijklmnopqrstuvwxyz"
    val b = a.dropRight(1) + "!" // tail perturbation
    val fps = TextOps.fingerprints(Seq((0L, a), (1L, b)).toDF("id", "t"), "id", "t", 8)
      .orderBy("id")
      .select("text_hash", "min_gram_hash").as[(Long, Long)].collect()
    assert(fps(0)._1 != fps(1)._1) // whole-text hashes differ
    assert(fps(0)._2 == fps(1)._2) // rolling min-gram hash collides
  }

  test("alphaRatio/punctRatio bounds") {
    val df = Seq("abc", "!!!", "a!b").toDF("t")
      .select(TextOps.alphaRatio(col("t")).as("a"), TextOps.punctRatio(col("t")).as("p"))
    val got = df.as[(Double, Double)].collect()
    assert(got(0) == ((1.0, 0.0)) && got(1) == ((0.0, 1.0)))
    assert(math.abs(got(2)._1 - 2.0 / 3) < 1e-12)
  }

  test("scrubPii replaces URLs, emails, IPs; order protects URL-embedded emails") {
    val df = Seq(
      "mail me at alice@example.com or visit https://a.example.com/u?user=bob@x.io now",
      "server 10.0.0.1 talks to 192.168.1.255 but v6 ::1 stays",
      "no pii here at all"
    ).toDF("t").select(TextOps.scrubPii(col("t")).as("s"))
    val got = df.as[String].collect()
    assert(got(0) == "mail me at <EMAIL> or visit <URL> now") // URL eats its email
    assert(got(1) == "server <IP> talks to <IP> but v6 ::1 stays")
    assert(got(2) == "no pii here at all")
  }

  test("piiCounts counts per class on the raw text") {
    val df = Seq("a@b.co and c@d.org at 1.2.3.4 via http://x.y/z")
      .toDF("t").select(TextOps.piiCounts(col("t")): _*)
    val r = df.collect()(0)
    assert(r.getInt(r.fieldIndex("n_urls")) == 1)
    assert(r.getInt(r.fieldIndex("n_emails")) == 2)
    assert(r.getInt(r.fieldIndex("n_ipv4")) == 1)
  }

  test("dupLineRatio: repeated lines raise the ratio, empty lines ignored") {
    val df = Seq(
      "one\ntwo\nthree",          // all distinct -> 0
      "spam\nspam\nspam\nspam",   // 1 distinct of 4 -> 0.75
      "a\n\n  \na",               // blanks dropped: 2 lines, 1 distinct -> 0.5
      ""                          // no lines -> 0
    ).toDF("t").select(TextOps.dupLineRatio(col("t")).as("r"))
    assert(df.as[Double].collect().toSeq == Seq(0.0, 0.75, 0.5, 0.0))
  }

  test("dupNgramRatio: repetition loops flagged, short docs are 0") {
    val df = Seq(
      "a b c a b c a b c a b c",  // "a b c" loop: many repeated 3-grams
      "all words here are unique today",
      "too short"                 // < 3 tokens -> 0
    ).toDF("t").select(TextOps.dupNgramRatio(col("t"), 3).as("r"))
    val got = df.as[Double].collect()
    assert(got(0) > 0.6, s"loop doc ratio ${got(0)}")
    assert(got(1) == 0.0 && got(2) == 0.0)
  }

  test("dupTokenRatio: repeated unigrams, all-distinct, empty") {
    val df = Seq(
      "spam spam spam spam",      // 1 distinct of 4 -> 0.75
      "all distinct words here",  // -> 0
      ""                          // empty -> 0
    ).toDF("t").select(TextOps.dupTokenRatio(col("t")).as("r"))
    assert(df.as[Double].collect().toSeq == Seq(0.75, 0.0, 0.0))
  }

  test("gopherRules: each rule fails on its own trigger; keep is the conjunction") {
    // 46 distinct 4-char words + the/a/is/area: 50 tokens, mean token
    // length 194/50 = 3.88 (in band), 3 stopword hits, dup ratio 0.
    val good = ((1 to 46).map(i => f"w$i%03d") ++
      Seq("the", "a", "is", "area")).mkString(" ")
    // 48 distinct 15-char words + the/a: mean 724/50 = 14.48 — only
    // the mean-token-length band fails.
    val longWords = ((1 to 48).map(i => f"extraordinary$i%02d") ++
      Seq("the", "a")).mkString(" ")
    val rows = Seq(
      (1L, good),                                 // passes all
      (2L, "the a of in it is and to or an"),     // 10 tokens: len_ok false
      (3L, longWords),                            // mtl_ok false, rest pass
      (4L, ("zzz " * 60).trim),                   // no stopwords + repetition
      (5L, good + " " + ("the " * 80).trim)       // dup 1-50/130 = 0.615
    ).toDF("doc_id", "text")
    val r = TextOps.gopherRules(rows, "doc_id", "text")
      .orderBy("doc_id").collect()
    def b(i: Int, f: String) = r(i).getBoolean(r(i).fieldIndex(f))
    assert(b(0, "len_ok") && b(0, "mtl_ok") && b(0, "stop_ok") &&
      b(0, "rep_ok") && b(0, "keep"))
    assert(!b(1, "len_ok") && !b(1, "keep"))
    assert(!b(2, "mtl_ok") && !b(2, "keep"))
    assert(b(2, "len_ok") && b(2, "stop_ok") && b(2, "rep_ok"))
    assert(!b(3, "stop_ok") && !b(3, "rep_ok") && !b(3, "keep"))
    assert(!b(4, "rep_ok") && !b(4, "keep"))
  }

  // Independent winnowing recompute: fold-hash word k-grams, window
  // min with rightmost tie, distinct (pos, hash) selections.
  private def winnowRef(text: String, k: Int = 3, w: Int = 4): (Int, Int, Set[(Int, Long)]) = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val grams =
      if (toks.size < k) Seq.empty[String]
      else (0 to toks.size - k).map(i => toks.slice(i, i + k).mkString(" "))
    val hs = grams.map(_.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L))
    val n = hs.size
    val nw = if (n >= 1) math.max(n - w + 1, 1) else 0
    val sel = (0 until nw).map { s =>
      val win = hs.slice(s, math.min(s + w, n))
      val m = win.min
      val p = s + win.lastIndexOf(m)
      (p, m)
    }.toSet
    (n, nw, sel)
  }

  test("winnow matches the independent recompute on crafted docs") {
    val docs = Seq(
      (0L, "a b c a b c a b c a b c"),       // repeated grams: tie rule fires
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),    // all distinct
      (2L, "x y z q"),                        // n=2 grams < w: single window
      (3L, "just two"),                       // no grams
      (4L, "")                                // empty
    ).toDF("doc_id", "text")
    val got = TextOps.winnow(docs, "doc_id", "text").orderBy("doc_id").collect()
    val texts = Seq("a b c a b c a b c a b c",
      "w1 w2 w3 w4 w5 w6 w7 w8 w9", "x y z q", "just two", "")
    texts.zipWithIndex.foreach { case (t, r) =>
      val (n, nw, sel) = winnowRef(t)
      val row = got(r)
      assert(row.getInt(row.fieldIndex("n_grams")) == n, s"doc $r n_grams")
      assert(row.getInt(row.fieldIndex("n_windows")) == nw, s"doc $r n_windows")
      assert(row.getInt(row.fieldIndex("n_selected")) == sel.size, s"doc $r n_selected")
      if (sel.nonEmpty) {
        assert(row.getLong(row.fieldIndex("fp_min")) == sel.map(_._2).min)
        assert(row.getLong(row.fieldIndex("fp_max")) == sel.map(_._2).max)
      } else {
        assert(row.isNullAt(row.fieldIndex("fp_min")))
        assert(row.isNullAt(row.fieldIndex("fp_max")))
      }
    }
  }

  test("winnowing guarantee: docs sharing >= w+k-1 words share a fingerprint") {
    // shared 8-word run embedded in different surroundings
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val a = s"intro words here $shared closing remarks"
    val b = s"different lead-in tokens now $shared and a new tail"
    val (_, _, selA) = winnowRef(a)
    val (_, _, selB) = winnowRef(b)
    assert(selA.map(_._2).intersect(selB.map(_._2)).nonEmpty,
      "no shared fingerprint despite 8-word shared run")
  }

  test("foldHash native kernel: ASCII parity with the declarative arm, codepoint-exact beyond it") {
    // ASCII: the pre-r8 split+ascii fold and the native codepoint walk
    // must agree exactly (the winnowing fixtures' regime)
    val ascii = Seq("alpha beta", "the quick brown fox", "a", "", "x y z w")
      .toDF("s")
    val both = ascii.select(
      TextOps.foldHash(col("s")).as("native"),
      TextOps.foldHashDeclarative(col("s")).as("decl"))
    assert(both.where(not(col("native") <=> col("decl"))).count() == 0)
    // beyond ASCII the native arm is the CORRECT one: equal to an
    // independent JVM codepoint walk, including supplementary plane
    def expected(s: String): Long = {
      var acc = 0L
      s.codePoints().toArray.foreach(cp => acc = (acc * 31L + cp) % 1000000007L)
      acc
    }
    val uni = Seq("héllo", "日本語", "clef 𝄞 end").toDF("s")
    val got = uni.select(col("s"), TextOps.foldHash(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (s, h) => assert(h == expected(s), s"'$s'") }
  }

  test("gopherRules boundary: counts exactly at thresholds pass") {
    // exactly minTokens=40 tokens, each 4 chars (mtl in band), with
    // two stopword hits, all distinct (dup ratio 0 <= 0.55)
    val toks = (1 to 38).map(i => f"w$i%03d") ++ Seq("the", "area")
    val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val r = TextOps.gopherRules(df, "doc_id", "text",
      minStopHits = 1).collect()(0)
    assert(r.getInt(r.fieldIndex("n_tokens")) == 40)
    assert(r.getBoolean(r.fieldIndex("len_ok")))
    assert(r.getBoolean(r.fieldIndex("keep")))
  }
}
