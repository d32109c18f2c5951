package graft

import graft.functions.{HashExpressions => HE, TextFunctions => TF}
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {

  import spark.implicits._

  private def one(text: String) = Seq((1L, text)).toDF("doc_id", "text")

  test("tokens: lower-cased, whitespace-split, trimmed") {
    val t = one("  The QUICK  brown\tfox ")
      .select(TF.tokens(col("text"))).as[Seq[String]].head()
    assert(t == Seq("the", "quick", "brown", "fox"))
  }

  test("shingles: n-grams in order; short docs give empty array") {
    val s = one("a b c d").select(HE.wordShingles(TF.tokens(col("text")), 3))
      .as[Seq[String]].head()
    assert(s == Seq("a b c", "b c d"))
    val empty = one("a b").select(HE.wordShingles(TF.tokens(col("text")), 3))
      .as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("tokenCode matches the md5-prefix definition") {
    val c = one("x").select(TF.tokenCode(lit("hello"))).as[Long].head()
    val expected = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest("hello".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    assert(c == expected)
  }

  test("minhash signature: component-wise <= any single element's hash") {
    val sig = one("a b c d e f").select(
      ComposedText.minhashSignature(TF.tokenCodes(TF.tokens(col("text"))), 8))
      .as[Seq[Long]].head()
    assert(sig.length == 8)
    assert(sig.forall(v => v >= 0 && v < TF.HashMod))
  }

  test("minhash of identical token sets is identical regardless of order") {
    val a = one("a b c").select(ComposedText.minhashSignature(TF.tokenCodes(TF.tokens(col("text"))), 8))
      .as[Seq[Long]].head()
    val b = one("c a b").select(ComposedText.minhashSignature(TF.tokenCodes(TF.tokens(col("text"))), 8))
      .as[Seq[Long]].head()
    assert(a == b)
  }

  test("rolling fingerprint is order-sensitive") {
    val fa = one("a b").select(TF.rollingFingerprint(TF.tokenCodes(TF.tokens(col("text")))))
      .as[Long].head()
    val fb = one("b a").select(TF.rollingFingerprint(TF.tokenCodes(TF.tokens(col("text")))))
      .as[Long].head()
    assert(fa != fb)
  }

  test("language id: predicts by stopword votes with alphabetical tie-break") {
    val df = Seq(
      (1L, "the cat of the house is in it"), // en
      (2L, "el gato de la casa es un gato"), // es
      (3L, "xyzzy plugh") // no hits -> first lang alphabetically (de)
    ).toDF("doc_id", "text")
    val res = TextAnalysis.languageId(df).orderBy("id")
      .select("predicted_lang").as[String].collect()
    assert(res.toSeq == Seq("en", "es", "de"))
  }

  test("trained langid: charGrams slide 2-4 over lowered text, short text degrades") {
    val g = Seq(("abcd")).toDF("t")
      .select(TextAnalysis.charGrams(col("t")).as("g"))
      .as[Seq[String]].head()
    assert(g == Seq("ab", "bc", "cd", "abc", "bcd", "abcd"))
    // below the smallest n: no grams at all
    assert(Seq(("a")).toDF("t")
      .select(TextAnalysis.charGrams(col("t")).as("g"))
      .as[Seq[String]].head().isEmpty)
  }

  test("trained langid: train/apply recovers held-out languages; p08 parity on clear text") {
    // distinctive char-gram profiles per language; train on 3 docs per
    // lang, predict a HELD-OUT doc of each
    val phrases = Map(
      "en" -> Seq("the quick brown fox jumps over the lazy dog",
        "this is the house that jack built with wood",
        "she sells sea shells by the sea shore today"),
      "es" -> Seq("el gato de la casa es un gato muy bonito",
        "la lluvia en sevilla es una pura maravilla",
        "los ninos juegan en el parque con la pelota"),
      "de" -> Seq("der schnelle braune fuchs springt gern im wald",
        "das haus ist gross und schoen und sehr alt",
        "die kinder spielen gern im garten mit dem hund"))
    val train = phrases.toSeq.flatMap { case (l, ts) =>
      ts.map(t => (l, t)) }.zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("doc_id", "lang", "text")
    val model = TextAnalysis.langIdTrain(train, buckets = 1024)
    assert(model.langs == Seq("de", "en", "es"))
    assert(model.totals.forall(_ > 0))
    val heldOut = Seq(
      (100L, "the dog and the fox play in this house"),
      (101L, "el perro juega en la casa con los gatos"),
      (102L, "der hund spielt gern im haus mit den kindern"),
      (103L, "")) // no grams: null prediction
      .toDF("doc_id", "text")
    val pred = TextAnalysis.langIdApply(heldOut, model).orderBy("id")
      .select("predicted_lang").as[String].collect().toSeq
    assert(pred == Seq("en", "es", "de", null))
    // parity with the stopword voter on the en/es cases it can see
    val p08 = TextAnalysis.languageId(heldOut.where(col("doc_id") <= 101))
      .orderBy("id").select("predicted_lang").as[String].collect().toSeq
    assert(p08 == Seq("en", "es"))
    // vote bookkeeping: n_grams = all 2-4 grams, top_votes <= n_grams
    val row = TextAnalysis.langIdApply(heldOut, model).orderBy("id").collect()(0)
    val txt = "the dog and the fox play in this house"
    val expectGrams = (2 to 4).map(n => txt.length - n + 1).sum
    assert(row.getAs[Long]("n_grams") == expectGrams)
    assert(row.getAs[Long]("top_votes") <= row.getAs[Long]("n_grams"))
    // the apply is a narrow stateless projection: no exchange anywhere
    val plan = TextAnalysis.langIdApply(heldOut, model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("trained langid: exact cross-multiplied votes match a hand computation") {
    // one lang pair, tiny bucket space: force collisions and verify the
    // integer argmax directly. buckets=2 so every gram lands in b0/b1.
    val train = Seq((1L, "aa", "aaaa"), (2L, "bb", "bbbb"))
      .toDF("doc_id", "lang", "text")
    val model = TextAnalysis.langIdTrain(train, buckets = 2)
    // re-derive expected votes in Scala with the same md5 convention
    def bucket(g: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes)
      ((((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % 2).toInt
    }
    val doc = "aab"
    val grams = Seq("aa", "ab", "aab")
    val dens = model.totals.map(_ + 2L)
    val votes = Array(0L, 0L)
    grams.foreach { g =>
      val b = bucket(g)
      val c = model.langs.indices.map(l => model.counts(l)(b) + 1L)
      val best = if (c(1) * dens(0) > c(0) * dens(1)) 1 else 0
      votes(best) += 1
    }
    val expect = model.langs(if (votes(1) > votes(0)) 1 else 0)
    val got = TextAnalysis.langIdApply(
      Seq((9L, doc)).toDF("doc_id", "text"), model)
      .select("predicted_lang").as[String].head()
    assert(got == expect)
  }

  test("quality: ratios computed over chars and tokens") {
    val r = TextAnalysis.quality(one("the cat!! sat?")).collect()(0)
    assert(r.getAs[Long]("n_chars") == 14)
    assert(r.getAs[Long]("n_tokens") == 3)
    // punct chars: ! ! ? = 3 of 14
    assert(math.abs(r.getAs[Double]("punct_ratio") - 3.0 / 14) < 1e-6)
    // stopwords: "the" of 3 tokens
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 1.0 / 3) < 1e-6)
  }

  test("token counts: bpe-ish regex splits symbols from words") {
    val r = TextAnalysis.tokenCounts(one("don't stop-me now")).collect()(0)
    assert(r.getAs[Long]("ws_tokens") == 3)
    // don ' t stop - me now
    assert(r.getAs[Long]("bpe_tokens") == 7)
  }

  test("cleaned: strips hard controls, collapses whitespace, trims, counts removals") {
    val r = TextAnalysis.cleaned(one("  a\u0000b \tc   d  ")).collect()(0)
    // NUL vanishes (a<NUL>b -> ab), tab+runs collapse to single spaces,
    // ends trimmed -- whitespace controls do NOT glue words together
    assert(r.getAs[String]("clean_text") == "ab c d")
    // original 14 chars -> 6
    assert(r.getAs[Long]("n_chars_removed") == 8L)
    // already-clean text is a no-op with zero removals
    val clean = TextAnalysis.cleaned(one("ab c d")).collect()(0)
    assert(clean.getAs[String]("clean_text") == "ab c d")
    assert(clean.getAs[Long]("n_chars_removed") == 0L)
  }

  test("redacted: typed placeholders + counts; clean text untouched") {
    val r = TextAnalysis.redacted(
      one("mail a.b+c@x-mail.org or x@y.io, call 555-123-4567!")).collect()(0)
    assert(r.getAs[String]("redacted_text") ==
      "mail <EMAIL> or <EMAIL>, call <PHONE>!")
    assert(r.getAs[Long]("n_emails") == 2L && r.getAs[Long]("n_phones") == 1L)
    val c = TextAnalysis.redacted(one("no pii here at all")).collect()(0)
    assert(c.getAs[String]("redacted_text") == "no pii here at all")
    assert(c.getAs[Long]("n_emails") == 0L && c.getAs[Long]("n_phones") == 0L)
  }

  test("c4 line filter: keeps prose lines, drops short/unterminated ones, flags leak signals") {
    val doc = "Welcome to the home page\n" +          // 5 words, no terminal punct -> drop
      "This is a proper prose sentence right here.\n" + // kept
      "Click here\n" +                                 // too short -> drop
      "  Is this trimmed line with enough words kept?  \n" + // trimmed, kept (ends ?)
      "function() { var x = 1; }"                      // code -> drop, sets has_braces
    val r = TextAnalysis.lineFilter(one(doc)).collect()(0)
    assert(r.getAs[Long]("n_lines") == 5L)
    assert(r.getAs[Long]("n_kept") == 2L)
    assert(!r.getAs[Boolean]("has_lorem") && r.getAs[Boolean]("has_braces"))
    assert(r.getAs[String]("filtered_text") ==
      "This is a proper prose sentence right here.\n" +
      "  Is this trimmed line with enough words kept?  ")
    val lorem = TextAnalysis.lineFilter(one("Lorem Ipsum dolor sit amet today.")).collect()(0)
    assert(lorem.getAs[Boolean]("has_lorem") && lorem.getAs[Long]("n_kept") == 1L)
  }

  test("unigram score: hand-computed vocab, frequencies, and OOV accounting") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"), // 6 tokens, 'the' twice
      (2L, "the dog ran"),
      (3L, "zz qq xx")                // fully out-of-vocabulary
    ).toDF("doc_id", "text")
    // counts: the=3, everything else 1 (total 12); top-3 by (count desc,
    // token asc) = the, cat, dog
    val r = TextAnalysis.unigramScore(docs, vocabSize = 3).orderBy("id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(6L, 3L, 3L)) // n_tokens
    assert(r.map(_.getLong(2)).toSeq == Seq(3L, 1L, 3L)) // n_oov
    assert(math.abs(r(0).getAs[Double]("oov_frac") - 0.5) < 1e-9)
    assert(math.abs(r(2).getAs[Double]("oov_frac") - 1.0) < 1e-9)
    // doc1: (3/12 + 1/12 + 0 + 0 + 3/12 + 0) / 6
    assert(math.abs(r(0).getAs[Double]("avg_freq") - (7.0 / 12.0) / 6.0) < 1e-8)
    // doc2: (3/12 + 1/12 + 0) / 3
    assert(math.abs(r(1).getAs[Double]("avg_freq") - (4.0 / 12.0) / 3.0) < 1e-8)
    assert(r(2).getAs[Double]("avg_freq") == 0.0)
  }

  test("bigram score: hand-computed vocab, frequencies, and OOV accounting") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"), // bigrams: "a b", "b a", "a b"
      (2L, "c d"),     // bigram: "c d"
      (3L, "solo")     // < 2 tokens -> excluded from scoring
    ).toDF("doc_id", "text")
    // counts: "a b"=2, "b a"=1, "c d"=1 (total 4); top-2 by (count desc,
    // gram asc) = "a b" (0.5), "b a" (0.25) — "c d" loses the tie and
    // goes OOV
    val r = TextAnalysis.bigramScore(docs, vocabSize = 2).orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r.map(_.getLong(1)).toSeq == Seq(3L, 1L)) // n_bigrams
    assert(r.map(_.getLong(2)).toSeq == Seq(0L, 1L)) // n_oov
    assert(math.abs(r(0).getAs[Double]("avg_freq") - (0.5 + 0.25 + 0.5) / 3.0) < 1e-8)
    assert(r(1).getAs[Double]("avg_freq") == 0.0)
    assert(math.abs(r(1).getAs[Double]("oov_frac") - 1.0) < 1e-9)
  }

  test("trigram score: hand-computed vocab and the >=3-token domain filter") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c"), // trigrams: "a b c","b c a","c a b","a b c"
      (2L, "x y z"),       // trigram: "x y z"
      (3L, "two words")    // < 3 tokens -> excluded from scoring
    ).toDF("doc_id", "text")
    // counts: "a b c"=2, others 1 each (total 5); top-2 by (count desc,
    // gram asc) = "a b c" (0.4), "b c a" (0.2) — doc1's only OOV gram
    // is "c a b"
    val r = TextAnalysis.trigramScore(docs, vocabSize = 2).orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r.map(_.getLong(1)).toSeq == Seq(4L, 1L)) // n_trigrams
    assert(r.map(_.getLong(2)).toSeq == Seq(1L, 1L)) // n_oov
    assert(math.abs(r(0).getAs[Double]("avg_freq") - (0.4 + 0.2 + 0.0 + 0.4) / 4.0) < 1e-8)
    assert(math.abs(r(1).getAs[Double]("oov_frac") - 1.0) < 1e-9)
  }

  test("gopher rules: each signal fires on its planted violation, prose passes") {
    // 60 words of prose-like text with both required stopwords ("the",
    // "be" from the default list), ends clean: passes every rule.
    val prose = ("the quick brown fox jumps over lazy dogs and it must be " +
      "said that words keep flowing here ").trim + " more filler" * 18
    val ok = TextAnalysis.gopherRules(one(prose), minWords = 20).collect()(0)
    assert(ok.getAs[Boolean]("passes"),
      s"prose failed: ${ok.mkString(", ")}")
    // symbol spam trips ONLY the symbol rule
    val sym = TextAnalysis.gopherRules(
      one(prose + " # # # # # # # # # #"), minWords = 20).collect()(0)
    assert(!sym.getAs[Boolean]("passes") &&
      sym.getAs[Double]("symbol_ratio") > 0.1)
    // a bullet-list document trips the bullet-fraction rule
    val bullets = (1 to 20).map(i => s"- item $i").mkString("\n")
    val bl = TextAnalysis.gopherRules(one(bullets), minWords = 20).collect()(0)
    assert(!bl.getAs[Boolean]("passes") &&
      bl.getAs[Double]("bullet_frac") > 0.9)
    // ellipsis-heavy lines trip the ellipsis-fraction rule
    val ell = (1 to 10).map(i => s"teaser number $i continues...").mkString("\n")
    val el = TextAnalysis.gopherRules(one(ell), minWords = 20).collect()(0)
    assert(!el.getAs[Boolean]("passes") &&
      el.getAs[Double]("ellipsis_frac") > 0.3)
    // numeric salad trips the alphabetic-word rule
    val nums = (1 to 30).map(_.toString).mkString("the be ", " ", "")
    val nm = TextAnalysis.gopherRules(one(nums), minWords = 20).collect()(0)
    assert(!nm.getAs[Boolean]("passes") &&
      nm.getAs[Double]("alpha_frac") < 0.8)
    // missing required stopwords trips the stopword rule
    val nostop = ("alpha beta gamma delta epsilon " * 12).trim
    val ns = TextAnalysis.gopherRules(one(nostop), minWords = 20).collect()(0)
    assert(!ns.getAs[Boolean]("passes") && ns.getAs[Long]("stop_hits") == 0L)
  }

  test("sourceQualityFilter: chronically-failing sources drop wholesale, incl. passing docs") {
    import spark.implicits._
    // goodSrc: 3/4 docs pass; badSrc: 1/4 pass — with minFrac 0.5 the
    // bad source drops WHOLE, including its one passing doc
    val prose = ("the quick brown fox jumps over lazy dogs and it must be " +
      "said that words keep flowing here ").trim + " more filler" * 18
    val junk = (1 to 30).map(_.toString).mkString("x ", " ", "")
    val docs = Seq(
      (0L, "goodSrc", prose), (1L, "goodSrc", prose),
      (2L, "goodSrc", prose), (3L, "goodSrc", junk),
      (4L, "badSrc", prose), (5L, "badSrc", junk),
      (6L, "badSrc", junk), (7L, "badSrc", junk)
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceQualityFilter(docs, minFrac = 0.5,
      minDocs = 2L).orderBy("id").collect()
    assert(out.length == 8)
    out.foreach { r =>
      val kept = r.getAs[Boolean]("source_kept")
      assert(kept == (r.getAs[String]("source") == "goodSrc"),
        s"doc ${r.getLong(0)}: $r")
    }
    // the bad source's passing doc (id 4) is dropped with its source
    val d4 = out.find(_.getLong(0) == 4L).get
    assert(d4.getAs[Boolean]("doc_passes") && !d4.getAs[Boolean]("source_kept"))
    // minDocs guards tiny sources from a verdict on no evidence
    val tiny = Seq((0L, "s", prose)).toDF("doc_id", "source", "text")
    val t = TextAnalysis.sourceQualityFilter(tiny, minFrac = 0.5,
      minDocs = 2L).collect()(0)
    assert(!t.getAs[Boolean]("source_kept"))
  }

  test("interpolatedScore: hand-computed lambdas, tier mixing, and OOV") {
    import spark.implicits._
    // counts: c3 abc=4 abd=2 xbd=2 efg=1 qrs=1; c2 ab=6 bc=4 bd=4 xb=2;
    // c1 b=8 a=6 c=4 d=4; N=30. V=4 keeps qrs OUT of every table.
    // Deleted interpolation: abc d3=3/5 wins (b3+=4); abd d2=3/7 beats
    // d3=1/5 (b2+=2); xbd d3=1/1 wins (b3+=2); efg all-(0,1) ties to the
    // longest context (b3+=1) -> lam3=7/9, lam2=2/9, lam1=0.
    val docs = ((1L to 4L).map(i => (i, "a b c")) ++
      Seq((5L, "a b d"), (6L, "a b d"), (7L, "x b d"), (8L, "x b d"),
        (9L, "e f g"), (10L, "q r s"))).toDF("doc_id", "text")
    val r = TextAnalysis.interpolatedScore(docs, vocabSize = 4).orderBy("id")
      .collect()
    assert(r.length == 10)
    val row1 = r(0)
    assert(row1.getAs[Double]("lam3") == 0.777778)
    assert(row1.getAs[Double]("lam2") == 0.222222)
    assert(row1.getAs[Double]("lam1") == 0.0)
    // abc: (7/9)(4/6) + (2/9)(4/8) + 0*(4/30) = 17/27
    assert(math.abs(row1.getAs[Double]("avg_score") - 17.0 / 27.0) < 1e-8)
    assert(row1.getAs[Long]("n_tri") == 1 && row1.getAs[Long]("n_bi") == 1 &&
      row1.getAs[Long]("n_uni") == 1 && row1.getAs[Long]("n_oov") == 0)
    // abd: (7/9)(2/6) + (2/9)(4/8) = 10/27
    assert(math.abs(r(4).getAs[Double]("avg_score") - 10.0 / 27.0) < 1e-8)
    // efg: trigram hit with ctx 1 -> (7/9)(1/1); bigram/unigram OOV
    assert(math.abs(r(8).getAs[Double]("avg_score") - 7.0 / 9.0) < 1e-8)
    assert(r(8).getAs[Long]("n_bi") == 0 && r(8).getAs[Long]("n_uni") == 0)
    // qrs: outside every table -> fully OOV, score 0
    assert(r(9).getAs[Double]("avg_score") == 0.0)
    assert(r(9).getAs[Long]("n_oov") == 1)
  }

  test("tfidfKeywords: hand-computed scores, rarity ranking, term-asc ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple cherry date")
    ).toDF("doc_id", "text")
    // N=3; df: apple 2, banana 2, cherry 2, date 1
    val r = TextAnalysis.tfidfKeywords(docs, k = 2).orderBy("id", "rank")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        x.getAs[Double]("tfidf")))
    // doc1: apple 2*(3/2)=3.0 then banana 1*(3/2)=1.5
    assert(r(0) == ((1L, 1L, "apple", 3.0)) && r(1) == ((1L, 2L, "banana", 1.5)))
    // doc3: date 1*(3/1)=3.0 first; apple/cherry tie at 1.5 -> term asc
    val d3 = r.filter(_._1 == 3L)
    assert(d3(0)._3 == "date" && d3(0)._4 == 3.0)
    assert(d3(1)._3 == "apple" && d3(1)._4 == 1.5)
  }

  test("repetition: top-shingle ratio separates boilerplate from natural text") {
    val rep = TextAnalysis.repetition(
      one("buy now buy now buy now buy now"), n = 3).collect()(0)
    // 8 tokens -> 6 shingles; "buy now buy"x3 dominates
    assert(rep.getAs[Long]("n_shingles") == 6L)
    assert(rep.getAs[Long]("top_count") == 3L)
    assert(math.abs(rep.getAs[Double]("top_shingle_ratio") - 0.5) < 1e-6)
    val nat = TextAnalysis.repetition(
      one("the quick brown fox jumps over the lazy dog"), n = 3).collect()(0)
    // all 7 shingles distinct
    assert(nat.getAs[Long]("top_count") == 1L)
    // a doc too short to shingle yields no row (documented domain)
    assert(TextAnalysis.repetition(one("ab cd"), n = 3).count() == 0L)
  }

  test("perplexity buckets: hand-computed per-language LM, cutoffs, ties, unseen lang") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // reference slice (source=ref) — trains the per-language models
      (1L, "a a b", "en", "ref"),  // en counts: a=3 b=1 c=1, T=5
      (2L, "a c", "en", "ref"),    //   top-2 (c desc, tok asc) = a, b
      (3L, "x x", "fr", "ref"),    // fr counts: x=2, T=2, v=1
      // corpus-only docs (still scored; ref docs are scored too)
      (10L, "a a", "en", "web"), (11L, "b b", "en", "web"),
      (12L, "c c", "en", "web"), (13L, "q", "en", "web"),
      (14L, "y", "fr", "web"),
      (15L, "m n", "zz", "web"),   // language with no reference model
      // NULL lang: must be excluded by BOTH the batch self-quantile
      // path and the frozen-model apply path (the pre-r13 bug dropped
      // it in batch but kept it as head in apply, breaking parity)
      (20L, "a a", null.asInstanceOf[String], "web")
    ).toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.perplexityBuckets(docs,
      refFilter = col("source") === "ref", vocabSize = 2,
      headFrac = 0.3, keepFrac = 0.6)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2),
        x.getString(3), x.getBoolean(4))).toSeq
    // en: denom = 5+2+1 = 8 -> p(a)=.5 p(b)=.25 oov=.125; scores:
    // d10 .5 > d1 .416667 > d2 .3125 > d11 .25 > d12 = d13 .125.
    // n=6: hc = rank ceil(1.8)=2 -> .416667; mc = rank ceil(3.6)=4 -> .25
    // fr: denom = 2+1+1 = 4 -> p(x)=.75 oov=.25; n=2 -> hc=.75, mc=.25
    // zz: no model -> every token OOV at prob 1 -> score 1.0, all head
    assert(r == Seq(
      (1L, "en", 0.416667, "head", true),
      (2L, "en", 0.3125, "middle", true),
      (3L, "fr", 0.75, "head", true),
      (10L, "en", 0.5, "head", true),
      (11L, "en", 0.25, "middle", true),  // exactly at mc -> middle, kept
      (12L, "en", 0.125, "tail", false),  // tied tail pair shares bucket
      (13L, "en", 0.125, "tail", false),
      (14L, "fr", 0.25, "middle", true),
      (15L, "zz", 1.0, "head", true)))
    // the null-lang doc 20 is in NEITHER output (and `applied == r`
    // below proves the two paths agree on it row-for-row)
    assert(!r.exists(_._1 == 20L))
    intercept[IllegalArgumentException] {
      TextAnalysis.perplexityBuckets(docs, col("source") === "ref",
        headFrac = 0.0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.perplexityBuckets(docs, col("source") === "ref",
        headFrac = 0.7, keepFrac = 0.6)
    }
    // Train/apply parity: the frozen-model path (what the streaming twin
    // runs) must reproduce the batch self-quantile run row-for-row on
    // the same corpus — including the unseen-language head default.
    val model = TextAnalysis.perplexityTrain(docs,
      refFilter = col("source") === "ref", vocabSize = 2,
      headFrac = 0.3, keepFrac = 0.6)
    assert(model.cuts("en") == (0.416667, 0.25) && model.cuts("fr") == (0.75, 0.25))
    val applied = TextAnalysis.perplexityApply(docs, model)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2),
        x.getString(3), x.getBoolean(4))).toSeq
    assert(applied == r)
    // A language the TRAINED model never saw (no vocab, no cutoffs):
    // every token OOV at probability 1 -> score 1.0, defaults head/keep.
    val novel = TextAnalysis.perplexityApply(
      Seq((99L, "w v", "qq", "web")).toDF("doc_id", "text", "lang", "source"),
      model).collect()(0)
    assert(novel.getDouble(2) == 1.0 && novel.getString(3) == "head" &&
      novel.getBoolean(4))
  }

  test("boilerplateRemove: per-domain frequency, exact boundary, order-preserving rebuild") {
    // domain A: 4 docs. header in all 4 (removed); 'promo' in 1 of 4
    // (kept); 'notice' in exactly 2 of 4 — the 2*cnt >= ndocs boundary
    // fires at EXACTLY half (removed). domain B: 1 doc — under the
    // default minDocs guard a singleton domain is untouched; with
    // minDocs = 1 every line trivially meets the threshold and the doc
    // empties (fully-boilerplate edge: row kept, text_clean = "").
    val docs = Seq(
      (1L, "A", "head\nbody one\npromo\nnotice"),
      (2L, "A", "head\nbody two\nnotice"),
      (3L, "A", "head\nbody three"),
      (4L, "A", "head\nbody four"),
      (10L, "B", "solo line\nsolo two")
    ).toDF("doc_id", "domain", "text")
    val out = TextAnalysis.boilerplateRemove(docs, "domain")
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, "body one\npromo"), // head + notice removed, promo 1/4 kept
      (2L, 2L, "body two"),
      (3L, 1L, "body three"),
      (4L, 1L, "body four"),
      (10L, 0L, "solo line\nsolo two"))) // minDocs guard: B untouched
    val unguarded = TextAnalysis.boilerplateRemove(docs, "domain", minDocs = 1)
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(unguarded.last == ((10L, 2L, ""))) // guard off: singleton empties
    // repeated occurrences of a boilerplate line are ALL removed, and
    // n_removed counts occurrences, not distinct lines (threshold 2/3
    // here — at the default 1/2, EVERY line of a 2-doc domain is
    // boilerplate: 1 of 2 docs meets the bar, caught by this spec's
    // first draft)
    val rep = Seq(
      (1L, "C", "x\nmid\nx"),
      (2L, "C", "x\nother")
    ).toDF("doc_id", "domain", "text")
    val rout = TextAnalysis.boilerplateRemove(rep, "domain", tNum = 2, tDen = 3,
        minDocs = 1)
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(rout == Seq((1L, 2L, "mid"), (2L, 1L, "other")))
    // line order survives removal even when kept lines interleave
    val ord = Seq(
      (1L, "D", "b\nz\na\nb\ny"),
      (2L, "D", "b\nq")
    ).toDF("doc_id", "domain", "text")
    val oout = TextAnalysis.boilerplateRemove(ord, "domain", tNum = 2, tDen = 3,
        minDocs = 1)
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(oout == Seq((1L, 2L, "z\na\ny"), (2L, 1L, "q")))
  }

  test("unicodeFold: zero-widths vanish, spaces/quotes/dashes/ellipsis fold") {
    // the two fold tables must stay aligned 1:1
    assert(TextAnalysis.FoldFrom.length == TextAnalysis.FoldTo.length)
    val in = Seq(
      (1L, "a​b‌‍﻿c"),          // zero-widths removed
      (2L, "x y z　w"),                // NBSP/thin/ideographic
      (3L, "“q” ‘a’ –— done…"),
      (4L, "plain ascii stays")).toDF("doc_id", "text")
    val out = TextAnalysis.unicodeFold(in).orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "abc", 3L),
      (2L, "x y z w", 7L),
      (3L, "\"q\" 'a' -- done...", 18L),
      (4L, "plain ascii stays", 17L)))
  }

  test("sentences: every rule branch, one row per trimmed sentence") {
    val in = Seq(
      (1L, "One two. Three four! Five? Six seven."),
      (2L, "i.e. lowercase stays. 3.14 is pi. But 9 Lives"),
      (3L, "No terminal punctuation at all"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.sentences(in).orderBy("id", "sent_idx")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, "One two."), (1L, 1L, "Three four!"), (1L, 2L, "Five?"),
      (1L, 3L, "Six seven."),
      // ". lowercase" and "3.14" don't split; ". But"/"But 9"? — only
      // punctuation+space+capital-or-digit marks a boundary
      (2L, 0L, "i.e. lowercase stays."), (2L, 1L, "3.14 is pi."),
      (2L, 2L, "But 9 Lives"),
      (3L, 0L, "No terminal punctuation at all")))
  }

  test("domainSignals: pages, out/in degrees, target-only domains kept") {
    import graft.operators.Html
    val edges = Seq(
      ("a.com/1", "b.com/x"), ("a.com/1", "b.com/y"),
      ("a.com/2", "b.com/x"), ("b.com/x", "a.com/1"),
      // c.com is only ever a TARGET: row with n_pages = 0
      ("a.com/2", "c.com/z")).toDF("src_url", "dst_url")
    val out = Html.domainSignals(edges).orderBy("domain")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("a.com", 2L, 4L, 1L),
      ("b.com", 1L, 1L, 3L),
      ("c.com", 0L, 0L, 1L)))
  }

  test("codeQuality: line geometry, alnum density, autogen marker, keep verdict") {
    val docs = Seq(
      (1L, "def f(x):\n  return x + 1\n"),          // healthy code
      (2L, "let x=1;" + "y".repeat(1500)),          // minified: max line
      (3L, "// Auto-Generated by protoc\ncode();"), // marker
      (4L, "{}[]();,.!?<>" + "\n" + "::==--++"),    // symbol soup: alnum
      (5L, "x\n\nz")                                 // empty middle line
    ).toDF("doc_id", "text")
    val out = TextAnalysis.codeQuality(docs).orderBy("id").collect()
    val byId = out.map(r => r.getAs[Long]("id") -> r).toMap
    // healthy: 3 lines (trailing \n makes an empty 3rd), keeps
    assert(byId(1L).getAs[Long]("n_lines") == 3 &&
      byId(1L).getAs[Long]("max_line_len") == 14 &&
      byId(1L).getAs[Boolean]("keep"))
    // mean = (n_chars - (n_lines-1)) * 1000 div n_lines, exact
    val t1 = "def f(x):\n  return x + 1\n"
    assert(byId(1L).getAs[Long]("mean_line_milli") ==
      (t1.length - 2) * 1000L / 3)
    assert(!byId(2L).getAs[Boolean]("keep") &&
      byId(2L).getAs[Long]("max_line_len") > 1000)
    assert(byId(3L).getAs[Boolean]("autogen") && !byId(3L).getAs[Boolean]("keep"))
    assert(byId(4L).getAs[Long]("alnum_bp") == 0 && !byId(4L).getAs[Boolean]("keep"))
    // split must KEEP empty segments (split limit -1): 3 lines, not 2
    assert(byId(5L).getAs[Long]("n_lines") == 3)
    // one narrow scan, zero exchanges
    val plan = TextAnalysis.codeQuality(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
