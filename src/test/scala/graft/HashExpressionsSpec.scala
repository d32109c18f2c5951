package graft

import graft.functions.{HashExpressions => HE, TextFunctions => TF}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The native single-pass hash expressions must be bit-identical to the
 * composable Column versions (same md5 code, same hash family) — the
 * DuckDB oracles mirror the Column versions, so this equivalence is what
 * keeps the oracle valid after the fast path swap. */
class HashExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "alpha beta gamma delta epsilon zeta eta"),
    (2L, "a b a b a b a b"), // heavy duplication -> exercises distinct
    (3L, "unique words only appear once here today friends")
  ).toDF("doc_id", "text")
    .select(col("doc_id"),
      array_distinct(HE.wordShingles(TF.tokens(col("text")), 2)).as("shingles"))

  test("native simhash == Column-composed simhash") {
    val both = docs.select(col("doc_id"),
      HE.shingleSimhash(col("shingles")).as("native"),
      ComposedText.simhash(TF.tokenCodes(col("shingles"))).as("composed")).collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
  }

  test("native minhash == Column-composed minhash") {
    val both = docs.select(col("doc_id"),
      HE.shingleMinhash(col("shingles"), 16).as("native"),
      ComposedText.minhashSignature(TF.tokenCodes(col("shingles")), 16).as("composed"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1).toList == r.getSeq[Long](2).toList,
        s"doc ${r.getLong(0)}")
    }
  }

  test("native expressions handle null input") {
    val df = Seq(Tuple1(Option.empty[Seq[String]])).toDF("shingles")
    val r = df.select(HE.shingleSimhash(col("shingles")),
      HE.shingleMinhash(col("shingles"), 4),
      HE.maxMultiplicity(col("shingles")),
      HE.windowHashes(col("shingles"), 3)).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("randomized equivalence sweep: native == composed on 500 random docs") {
    // Broad-input insurance for the oracle-validity keystone (the DuckDB
    // oracles mirror the Column forms; the native expressions must stay
    // bit-identical). One seeded corpus, all comparisons batched into a
    // handful of Spark jobs — a per-sample forAll would pay a job per
    // case. Token alphabet is small so duplicates, runs, and shared
    // windows occur constantly; lengths sweep 0..40 so every n<w / n==w
    // boundary is hit for every w.
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("a", "b", "c", "ab", "ba", "x1", "§", "longertoken")
    val rows = (0 until 500).map { i =>
      val n = rnd.nextInt(41)
      (i.toLong, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))))
    }
    val df = rows.toDF("doc_id", "toks").cache()
    // simhash + minhash + max multiplicity in one pass
    val h = df.select(col("doc_id"),
      HE.shingleSimhash(col("toks")).as("ns"),
      ComposedText.simhash(TF.tokenCodes(col("toks"))).as("cs"),
      HE.shingleMinhash(col("toks"), 8).as("nm"),
      ComposedText.minhashSignature(TF.tokenCodes(col("toks")), 8).as("cm"),
      HE.maxMultiplicity(col("toks")).as("mx"),
      size(col("toks")).as("n")).collect()
    val byId = rows.toMap
    h.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"simhash doc ${r.getLong(0)}")
      if (r.getInt(6) == 0) assert(r.isNullAt(3))
      else assert(r.getSeq[Long](3) == r.getSeq[Long](4),
        s"minhash doc ${r.getLong(0)}")
      val toks = byId(r.getLong(0))
      val exactMode =
        if (toks.isEmpty) 0L else toks.groupBy(identity).values.map(_.size).max.toLong
      assert(r.getLong(5) == exactMode, s"mode count doc ${r.getLong(0)}")
    }
    Seq(1, 2, 5, 20).foreach { w =>
      val wh = df.select(col("doc_id"),
        HE.windowHashes(col("toks"), w).as("nw"),
        ComposedText.windowHashes(col("toks"), w).as("cw"),
        size(col("toks")).as("n")).collect()
      wh.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"window hashes doc ${r.getLong(0)} w=$w")
        assert(r.getSeq[Long](1).length == math.max(r.getInt(3) - w + 1, 0))
      }
    }
    df.unpersist()
  }

  test("native rolling window hashes == per-window refold, incl. edges") {
    // real fixture text exercises the rolling update over many windows;
    // the short rows hit the n == w and n < w edges.
    val texts = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and then naps"),
      (1L, "one two three"), // n == w
      (2L, "too short"),     // n < w -> empty
      (3L, "a b a b a b a b a b")
    ).toDF("doc_id", "text").select(col("doc_id"), TF.tokens(col("text")).as("t"))
    Seq(1, 3, 5).foreach { w =>
      val both = texts.select(col("doc_id"),
        HE.windowHashes(col("t"), w).as("native"),
        ComposedText.windowHashes(col("t"), w).as("composed")).collect()
      both.foreach { r =>
        assert(r.getSeq[Long](1).toList == r.getSeq[Long](2).toList,
          s"doc ${r.getLong(0)} w=$w")
      }
    }
    // window count contract: n - w + 1, or 0 below w
    val counts = texts.select(col("doc_id"), size(col("t")).as("n"),
      size(HE.windowHashes(col("t"), 5)).as("c")).collect()
    counts.foreach { r =>
      assert(r.getInt(2) == math.max(r.getInt(1) - 5 + 1, 0), s"doc ${r.getLong(0)}")
    }
  }

  test("rolling window hashes: null array -> null, null element -> error") {
    // the SQL surface accepts arbitrary arrays; pinned semantics are
    // null-intolerant input (standard SQL) and a loud guard on null
    // elements (silent 0-hashing would break the Column-twin equivalence)
    val nullArr = Seq(Tuple1(null.asInstanceOf[Seq[String]]))
      .toDF("t").select(HE.windowHashes(col("t"), 2).as("h")).collect()
    assert(nullArr(0).isNullAt(0))
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq("a", null, "b"))).toDF("t")
        .select(HE.windowHashes(col("t"), 2)).collect()
    }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("null token")))
  }

  test("native max-multiplicity == sorted longest-equal-run fold") {
    // the Column form TextAnalysis.repetition used before the native
    // expression: longest equal run of the sorted array
    def topRun(sorted: org.apache.spark.sql.Column) = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val arrs = Seq(
      Seq("a b c", "a b c", "a b c", "x y z"),
      Seq("q w e"),
      Seq("t1", "t2", "t1", "t2", "t2", "t3"),
      Seq("same", "same", "same"),
      Seq.empty[String]
    ).map(Tuple1(_)).toDF("sh")
    val both = arrs.select(HE.maxMultiplicity(col("sh")).as("native"),
      topRun(sort_array(col("sh"))).as("fold")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    assert(both.last.getLong(0) == 0L) // empty array -> 0
  }

  test("native vocab_score == element_at/aggregate fold, incl. null/OOV") {
    // the LM-quality scorers' oracle mirrors the element_at-over-literal-
    // map fold; the native hash-probe expression must match it bit-for-
    // bit (sum in array order, null element -> OOV, empty array -> zeros)
    val vocab = Map("a" -> 0.25, "b" -> 1.0 / 3.0, "a b" -> 0.125,
      "§" -> 1.0 / 7.0)
    val vm = typedLit(vocab)
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("a", "b", "c", "a b", "§", "zz")
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))))
    } :+ (200L, Seq.empty[String])
    val df = rows.toDF("doc_id", "t")
    val both = df.select(col("doc_id"),
      HE.vocabScore(col("t"), vocab).as("s"),
      size(col("t")).cast("long").as("fn"),
      size(filter(col("t"), x => element_at(vm, x).isNull)).cast("long")
        .as("foov"),
      aggregate(col("t"), lit(0.0),
        (acc, x) => acc + coalesce(element_at(vm, x), lit(0.0))).as("fsum"))
      .select(col("doc_id"), col("s.n"), col("s.n_oov"), col("s.sumf"),
        col("fn"), col("foov"), col("fsum")).collect()
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(4), s"n doc ${r.getLong(0)}")
      assert(r.getLong(2) == r.getLong(5), s"oov doc ${r.getLong(0)}")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(6)),
        s"sum doc ${r.getLong(0)}: ${r.getDouble(3)} vs ${r.getDouble(6)}")
    }
    // null element counts OOV (element_at(m, null) is null in the twin)
    val withNull = Seq((0L, Seq("a", null, "zz"))).toDF("doc_id", "t")
      .select(HE.vocabScore(col("t"), vocab).as("s"))
      .select(col("s.n"), col("s.n_oov"), col("s.sumf")).collect()(0)
    assert(withNull.getLong(0) == 3L && withNull.getLong(1) == 2L &&
      withNull.getDouble(2) == 0.25)
    // null array -> null struct (standard unary null-intolerance)
    val nullArr = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("t")
      .select(HE.vocabScore(col("t"), vocab)).collect()(0)
    assert(nullArr.isNullAt(0))
  }

  test("native backoff_score: tier preference, exact discounts, null/edge") {
    // hand-computed stupid-backoff fixture: each window must score by the
    // LONGEST known context with exact 0.5 / 0.25 discounts — the same
    // values the oracle's CASE produces
    val v3 = Map("the cat sat" -> 0.1)
    val v2 = Map("on the" -> 0.2, "sat on" -> 0.3)
    val v1 = Map("mat" -> 0.4, "on" -> 0.5)
    def score(toks: Seq[String]) =
      Seq(Tuple1(toks)).toDF("t")
        .select(HE.backoffScore(col("t"), v3, v2, v1, 0.5).as("s"))
        .select(col("s.n"), col("s.n_tri"), col("s.n_bi"), col("s.n_uni"),
          col("s.n_oov"), col("s.sumf")).collect()(0)

    // windows: "the cat sat"->tri 0.1; "cat sat on"->bi 0.5*0.3;
    // "sat on the"->bi 0.5*0.2; "on the mat"->uni 0.25*0.4
    val r = score(Seq("the", "cat", "sat", "on", "the", "mat"))
    assert(r.getLong(0) == 4L && r.getLong(1) == 1L && r.getLong(2) == 2L &&
      r.getLong(3) == 1L && r.getLong(4) == 0L)
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(5)) ==
      java.lang.Double.doubleToRawLongBits(0.1 + 0.5 * 0.3 + 0.5 * 0.2 + 0.25 * 0.4))

    // all-OOV window
    val oov = score(Seq("x", "y", "z"))
    assert(oov.getLong(0) == 1L && oov.getLong(4) == 1L && oov.getDouble(5) == 0.0)

    // too short for any window -> zeros
    val short = score(Seq("the", "cat"))
    assert(short.getLong(0) == 0L && short.getDouble(5) == 0.0)

    // null token: trigram+bigram containing it miss, unigram on the last
    // token still fires; a null LAST token is a full miss (OOV)
    val nulled = score(Seq("the", null, "mat"))
    assert(nulled.getLong(0) == 1L && nulled.getLong(3) == 1L &&
      nulled.getDouble(5) == 0.25 * 0.4)
    val nullLast = score(Seq("the", "cat", null))
    assert(nullLast.getLong(0) == 1L && nullLast.getLong(4) == 1L)

    // operator end-to-end: heavy-repetition text hits trigrams, shuffled
    // word-salad of the same unigrams falls down the ladder — the signal
    // p55/p56 motivated, now in one score
    val docs = Seq(
      (0L, "the cat sat on the mat the cat sat on the mat the cat sat on the mat"),
      (1L, "mat the sat cat on the mat sat the on cat mat")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.backoffScore(docs, vocabSize = 16)
      .orderBy("id").collect()
    assert(out.length == 2)
    val fluent = out(0); val salad = out(1)
    assert(fluent.getLong(2) > salad.getLong(2)) // n_tri
    assert(fluent.getDouble(6) > salad.getDouble(6)) // avg_score
  }

  test("LangIdVote: structural equality across independent instances") {
    // The model rides as Seq (structural equality), not Array
    // (reference equality): two semantically identical votes built
    // from separate collections must be semanticEquals, or Catalyst's
    // common-subexpression elimination and plan-cache matching
    // silently fail whenever the vote is referenced twice. (The
    // explode barrier in langIdApply masks this today; this pin keeps
    // other call sites safe.)
    import org.apache.spark.sql.graftglue.Bridge
    val child = Bridge.expression(col("g"))
    def model(): (Seq[Seq[Long]], Seq[Long]) =
      (Seq(Seq(3L, 1L), Seq(0L, 2L)), Seq(6L, 4L))
    val (c1, d1) = model(); val (c2, d2) = model()
    val e1 = HE.LangIdVote(child, c1, d1)
    val e2 = HE.LangIdVote(child, c2, d2)
    assert(e1 == e2, "case-class equality must be structural")
    assert(e1.semanticEquals(e2), "canonicalized forms must match")
    assert(e1.hashCode == e2.hashCode)
    // and a different model must NOT compare equal
    val e3 = HE.LangIdVote(child, Seq(Seq(9L, 9L), Seq(0L, 2L)), d1)
    assert(e1 != e3 && !e1.semanticEquals(e3))
    // eval still correct through the transient array hot path
    val out = Seq((0L, Seq("aa", "bb"))).toDF("id", "g")
      .select(HE.langIdVote(col("g"), c1, d1).as("v"))
      .select(col("v.n"), col("v.best"), col("v.top")).collect()(0)
    assert(out.getLong(0) == 2L)
  }

  test("set_probe casts a non-string key at analysis, and a string key not at all") {
    val ids = (0L to 3L).toDF("doc_id")
    val probed = ids.select(col("doc_id"), HE.setProbe(col("doc_id"), Set("1", "3")))
    assert(probed.orderBy("doc_id").collect().map(_.getBoolean(1)).toSeq ==
      Seq(false, true, false, true))
    val str = Seq("1", "2").toDF("id")
      .select(HE.setProbe(col("id"), Set("1")), HE.mapProbe(col("id"), Map("1" -> "one")))
    assert(str.queryExecution.analyzed.expressions.forall(_.collectFirst {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => c }.isEmpty),
      s"a string key gained a cast:\n${str.queryExecution.analyzed}")
  }

  test("map_probe casts a non-string key at analysis instead of failing at run time") {
    val ids = Seq(Option(1L), Option(2L), None).toDF("doc_id")
    val probed = ids.select(col("doc_id"),
      HE.mapProbe(col("doc_id"), Map("1" -> "one")).as("name"))
    assert(probed.collect().map(r => Option(r.getString(1))).toSeq.sorted ==
      Seq(None, None, Some("one")))
  }

  test("probe tables: serialize as two arrays, compare by content, render as a size") {
    val emoji = "\uD83D\uDE00" // outside the BMP: a surrogate pair
    val vals = Seq("CUST:1", "", "\u00e9t\u00e9", emoji, null)
    val set = HE.ProbeTable.of(vals)
    val map = HE.ProbeTable.of(Map("k" -> "v", emoji -> "\u00e9", "gone" -> null))
    assert(set.size == 4 && map.size == 2) // null members dropped
    val ser = new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf)
      .newInstance()
    def roundTrip(t: HE.ProbeTable) =
      ser.deserialize[HE.ProbeTable](ser.serialize(t))
    val (set2, map2) = (roundTrip(set), roundTrip(map))
    assert(set2 == set && set2.hashCode == set.hashCode && set2 != map)
    for (v <- vals.filter(_ != null)) assert(set2.contains(UTF8String.fromString(v)), v)
    assert(!set2.contains(UTF8String.fromString("CUST:2")))
    assert(map2.get(UTF8String.fromString(emoji)) == UTF8String.fromString("\u00e9"))
    assert(map2.get(UTF8String.fromString("gone")) == null)
    assert(set.toString == "<4 values>" && map.toString == "<2 entries>")
    // the same values built again compare equal; one more value does not
    assert(HE.ProbeTable.of(vals) == set && HE.ProbeTable.of(vals :+ "x") != set)
    // a plan renders the size, not the members
    val probed = Seq("CUST:1", emoji, "x").toDF("id")
      .select(HE.setProbe(col("id"), (1 to 5000).map("CUST:" + _) :+ emoji).as("hit"))
    assert(probed.queryExecution.analyzed.toString.contains("<5001 values>"))
    assert(probed.collect().map(_.getBoolean(0)).toSeq == Seq(true, true, false))
  }
}
