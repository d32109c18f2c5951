package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text primitives for the LLM-data-pipeline operators (SURVEY.md §2 P1-P11).
 * Everything is a built-in Column expression (no UDFs) with an exact
 * DuckDB-SQL twin, so dedup/fingerprint results are oracle-checkable
 * bit-for-bit. Word n-grams are not composed here: they are the one
 * native `word_shingles` expression (HashExpressions.wordShingles),
 * which reads the token array once instead of re-splitting the text
 * per n-gram.
 *
 *  - token code: first 8 hex chars of md5 parsed as an integer — md5 is
 *    identical across engines, unlike engine-specific hash().
 *  - all folds (fingerprints) run in deterministic array order.
 */
object TextFunctions {

  val HashMod: Long = 2147483647L // 2^31 - 1

  /** Whitespace tokens of the lower-cased text. */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** 32-bit integer code of a token via md5 prefix (engine-portable). */
  def tokenCode(token: Column): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("long")

  /** Deterministic integer codes for each token (order preserved). */
  def tokenCodes(toks: Column): Column =
    transform(toks, tokenCode(_))

  /** Polynomial rolling fingerprint (Horner fold, base 131, mod 2^31-1)
   * over token codes in document order. */
  def rollingFingerprint(codes: Column): Column =
    aggregate(codes, lit(0L),
      (acc, c) => (acc * 131L + (c % lit(HashMod))) % lit(HashMod))

  /** Per-language stopword hit counts + argmax prediction (alphabetical
   * tie-break). `stopwords` maps language -> word list. */
  def languageScores(toks: Column, stopwords: Map[String, Seq[String]]): Seq[(String, Column)] =
    stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    }

  def predictedLanguage(scores: Seq[(String, Column)]): Column =
    scores.foldLeft((lit(""), lit(-1L))) { case ((bestLang, bestCnt), (lang, cnt)) =>
      val c = cnt.cast("long")
      (when(c > bestCnt, lit(lang)).otherwise(bestLang),
        when(c > bestCnt, c).otherwise(bestCnt))
    }._1

  val DefaultStopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "von", "zu"),
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "en", "du", "est"))
}
