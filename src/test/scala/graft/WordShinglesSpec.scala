package graft

import graft.functions.{HashExpressions => HE, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `word_shingles` must be bit-identical to the three composed n-gram
 * shapes it replaced (ComposedText), whether the projection runs in
 * whole-stage codegen or interpreted, because the DuckDB oracles of every
 * dedup, repetition, gram-scoring and decontamination key mirror the
 * composed forms. */
class WordShinglesSpec extends SparkSpec {

  import spark.implicits._

  private val widths = Seq(1, 2, 3, 13)

  private lazy val texts: DataFrame = {
    val rnd = new scala.util.Random(7)
    val words = Vector("a", "B", "ab", "Ça", "ΟΔΟΣ", "İ", "𐐀x", "😀", "x1")
    val seps = Vector(" ", "  ", "\t", "\n", " \t\n ", "\u00a0", " \u00a0 ", "\r\n")
    val random = (0 until 300).map { _ =>
      val k = rnd.nextInt(30)
      Some((0 until k).map(_ => words(rnd.nextInt(words.size)) + seps(rnd.nextInt(seps.size)))
        .mkString)
    }
    val edges = Seq(None, Some(""), Some("   "), Some("\t\n \u00a0 "),
      Some("a\t\tb\n\nc \u00a0 d\r\ne"), Some("ÀÉÎ ΣΟΦΊΑ İSTANBUL ΟΔΟΣ straße"),
      Some("𐐀𐐁 😀 𝔘𝔫 a😀b"))
    val exactly = widths.flatMap(n => Seq(n, n - 1))
      .map(k => Some((1 to k).map("w" + _).mkString(" ")))
    (random ++ edges ++ exactly).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").cache()
  }

  /** (name, token array) for each of the three composed shapes' inputs:
   * the dedup tokenizer, decontamination's non-empty lower-cased split,
   * and span decontamination's per-word lower-case. */
  private def inputs(text: Column): Seq[(String, Column, (Column, Int) => Column)] = {
    val words = filter(split(text, "\\s+"), t => t =!= "")
    Seq(("tokens", TF.tokens(text), ComposedText.shingles _),
      ("decontam", filter(split(lower(text), "\\s+"), t => t =!= ""),
        ComposedText.joinedGrams _),
      ("span", transform(words, w => lower(w)), ComposedText.joinedGrams _))
  }

  private def withCodegen[T](on: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def mismatches(df: DataFrame, native: Column, composed: Column): Long =
    df.where(not(native <=> composed)).count()

  for (codegen <- Seq(true, false)) {
    val mode = if (codegen) "codegen" else "interpreted"

    test(s"word_shingles == composed n-grams, all three shapes ($mode)") {
      withCodegen(codegen) {
        for ((shape, toks, composed) <- inputs(col("text")); n <- widths) {
          assert(mismatches(texts, HE.wordShingles(toks, n), composed(toks, n)) == 0L,
            s"$shape n=$n")
        }
        if (codegen) {
          val plan = texts.select(HE.wordShingles(TF.tokens(col("text")), 3))
            .queryExecution.executedPlan.toString
          assert("""\*\(\d+\) Project \[word_shingles""".r.findFirstIn(plan).nonEmpty, plan)
        }
      }
    }

    test(s"word_shingles: null elements skipped, empty tokens kept, short arrays empty ($mode)") {
      withCodegen(codegen) {
        val arrays = Seq(Seq("a", null, "b"), Seq(null), Seq(null, null, "c", "d"),
          Seq(""), Seq.empty[String], null, Seq("x", "y", "z"))
        val df = arrays.toDF("t").cache()
        for (n <- widths; composed <- Seq(ComposedText.shingles _, ComposedText.joinedGrams _))
          assert(mismatches(df, HE.wordShingles(col("t"), n), composed(col("t"), n)) == 0L,
            s"n=$n")
        val got = df.select(HE.wordShingles(col("t"), 1).as("g1"),
          HE.wordShingles(col("t"), 2).as("g2")).collect()
          .map(r => (r.getSeq[String](0), r.getSeq[String](1))).toSeq
        assert(got == Seq(
          (Seq("a", "", "b"), Seq("a", "b")),
          (Seq(""), Seq()),
          (Seq("", "", "c", "d"), Seq("", "c", "c d")),
          (Seq(""), Seq()),
          (Seq(), Seq()),
          (Seq(), Seq()),
          (Seq("x", "y", "z"), Seq("x y", "y z"))))
        df.unpersist()
      }
    }
  }

  test("word_shingles rejects a non-positive width and a non-array input") {
    intercept[IllegalArgumentException](HE.wordShingles(col("t"), 0))
    intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(HE.wordShingles(col("id"), 2)))
  }
}
