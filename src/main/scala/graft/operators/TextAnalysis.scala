package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions => HE, TextFunctions => TF}

/**
 * Per-document text analysis operators (SURVEY.md §2 P8-P11): language ID,
 * quality scoring, token counting, fingerprinting.
 *
 * All four are embarrassingly parallel narrow projections — no shuffle, no
 * UDFs, pure whole-stage-codegen expressions — so they scale linearly with
 * the corpus and cost one scan each (or one combined scan when composed).
 * Hashing is md5-based (engine-portable), making every output bit-exactly
 * DuckDB-checkable.
 */
object TextAnalysis {

  /** "BPE-ish" token regex: alnum runs or single non-alnum-non-space
   * symbols — the pre-tokenizer split pattern most BPE vocabularies use.
   * RE2/Java-regex portable. */
  val BpeTokenPattern = "[a-z0-9]+|[^a-z0-9\\s]"

  /**
   * P8 — Language ID by stopword voting: per-language hit counts over the
   * whitespace tokens + argmax prediction (alphabetical tie-break).
   * Output: (id, predicted_lang, <lang>_hits...).
   */
  def languageId(docs: DataFrame,
                 stopwords: Map[String, Seq[String]] = TF.DefaultStopwords,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // Staged in three selects (r20): predictedLanguage's argmax fold
    // embeds each accumulated score TWICE per step (condition +
    // otherwise), so composing the per-language filter counts in
    // directly re-embedded the tokenize+filter trees up to 2^|langs|/2
    // times (16 copies in p08/p91/p102 plans). Tokens and the hit
    // counts land as their own aliases — the CollapseProject cost
    // guard keeps multi-referenced non-cheap aliases apart — and the
    // fold duplicates only cheap attribute references. Same columns,
    // same values (the fold compares the identical long counts).
    val langs = stopwords.toSeq.sortBy(_._1).map(_._1)
    docs
      .select(col(idCol).as("id"), TF.tokens(col(textCol)).as("__toks"))
      .select(col("id") +:
        TF.languageScores(col("__toks"), stopwords).map { case (lang, c) =>
          c.cast("long").as(s"${lang}_hits") }: _*)
      .select(
        (col("id") +:
          TF.predictedLanguage(langs.map(l => l -> col(s"${l}_hits")))
            .as("predicted_lang") +:
          langs.map(l => col(s"${l}_hits"))): _*)
  }

  /**
   * Trained char-n-gram language-ID model: per-language hashed-bucket
   * gram counts plus smoothing denominators — the O(|langs| × buckets)
   * literal artifact (the house train-artifact discipline: ONE bounded
   * aggregation, collect, ship as literals).
   */
  final case class LangIdModel(langs: Seq[String],
                               counts: Seq[Seq[Long]],
                               totals: Seq[Long],
                               buckets: Int) {
    private[operators] def denSeq: Seq[Long] =
      totals.map(_ + buckets.toLong)
  }

  /** Character 2–4-grams of an ALREADY-LOWERCASED text attribute —
   * the langid feature space (char n-grams carry script, diacritic,
   * and morphology signal that whitespace tokens flatten; 2–4 is the
   * classic profile range). Spaces are kept: word-boundary grams are
   * discriminative. Callers must pass a plain lowered ATTRIBUTE, not
   * an expression — the column is referenced once per n-arm and once
   * per lambda, and composing a derived expression in would duplicate
   * its tree at every reference (the r14 plan-explosion lesson). */
  private[graft] def charGrams(lowered: Column,
                               ns: Seq[Int] = Seq(2, 3, 4)): Column =
    concat(ns.map { n =>
      when(length(lowered) >= n,
        transform(sequence(lit(1), length(lowered) - (n - 1)),
          i => lowered.substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
    }: _*)

  /**
   * TRAIN the language classifier from a labeled slice: one bounded
   * groupBy (lang, bucket) over the exploded char-gram stream — the
   * only shuffle is O(|langs| × buckets) keys with map-side combine —
   * then collect the counts as the literal model artifact. Grams hash
   * by the md5 tokenCode convention, so a DuckDB oracle re-derives
   * identical buckets.
   *
   * The vote comparison in apply cross-multiplies (count+1) × den in
   * int64; the `require` pins the exactness bound the way dsirTrain
   * does (a corpus past it must shard or raise `buckets`).
   */
  def langIdTrain(labeled: DataFrame, buckets: Int = 4096,
                  langCol: String = "lang",
                  textCol: String = "text"): LangIdModel = {
    val rows = labeled
      .select(col(langCol).as("l"), lower(col(textCol)).as("__lt"))
      .select(col("l"), explode(charGrams(col("__lt"))).as("g"))
      .select(col("l"),
        pmod(TF.tokenCode(col("g")), lit(buckets.toLong)).as("b"))
      .groupBy("l", "b").agg(count(lit(1)).as("c"))
      .collect()
    val langs = rows.map(_.getString(0)).distinct.sorted.toSeq
    val idx = langs.zipWithIndex.toMap
    val counts = Array.fill(langs.size, buckets)(0L)
    rows.foreach { r =>
      counts(idx(r.getString(0)))(r.getLong(1).toInt) = r.getLong(2)
    }
    val totals = counts.map(_.sum)
    val maxC = counts.map(_.max).max
    val maxT = totals.max
    require(BigInt(maxC + 1) * BigInt(maxT + buckets) < (BigInt(1) << 62),
      s"langid exact-arithmetic bound exceeded: (maxCount+1)*(total+" +
        s"buckets) >= 2^62; shard the training slice or raise `buckets`")
    LangIdModel(langs, counts.map(_.toSeq).toSeq, totals.toSeq, buckets)
  }

  /**
   * APPLY the trained classifier — P8's production successor: each
   * char-gram votes for the language whose add-1-smoothed bucket
   * probability is largest, and the document takes the plurality
   * vote. The decision chain is exact integers end to end (the
   * `langid_vote` native expression cross-multiplies instead of
   * dividing; per-gram ties break to the alphabetically smaller
   * language, as does the doc-level plurality tie) — no logs, no
   * floats, so Spark and the DuckDB oracle agree bit-for-bit, the
   * dsir_score dodge applied to multiclass.
   *
   * A STATELESS narrow projection over the literal model (no joins,
   * no shuffle, one scan through one native expression per row), so
   * it runs unchanged over batch or streaming frames: train-once,
   * predict-forever. Docs with no gram (< 2 chars) predict null.
   * `carry` columns pass through unchanged (a downstream per-language
   * stage reads the prediction WITHOUT an id-keyed re-join against
   * the input).
   *
   * Output: (id, predicted_lang, n_grams, top_votes, carry...).
   */
  def langIdApply(docs: DataFrame, model: LangIdModel,
                  textCol: String = "text",
                  idCol: String = "doc_id",
                  carry: Seq[String] = Nil): DataFrame = {
    val langsLit = typedLit(model.langs)
    val voted = HE.langIdVote(charGrams(col("__lt")),
      model.counts, model.denSeq)
    docs
      .withColumn("__lt", lower(col(textCol)))
      .select(col(idCol).as("id") +: voted.as("__v0") +:
        carry.map(col): _*)
      // ONE-ELEMENT EXPLODE BARRIER (p63's dodge): CollapseProject
      // inlines a projected alias into EVERY downstream reference, so
      // without a Generate between the vote and its consumers the
      // whole-text scoring expression re-evaluates once per reference
      // — p120 routes predicted_lang into the full CCNet chain
      // (filters, groupBys, windows) and paid ~80x one scan (76 s vs
      // 1.4 s at sf0.1) before this barrier pinned it to ONE
      // evaluation per row.
      .select(col("id") +: explode(array(col("__v0"))).as("v") +:
        carry.map(col): _*)
      .select(col("id") +:
        when(col("v.best") >= 0,
          element_at(langsLit, col("v.best") + 1)).as("predicted_lang") +:
        col("v.n").as("n_grams") +:
        col("v.top").as("top_votes") +:
        carry.map(col): _*)
  }

  /**
   * P9 — Quality scoring: structural ratios a data-curation pipeline
   * filters on. All doubles rounded to 6dp for cross-engine stability.
   * Output: (id, n_chars, n_tokens, mean_token_len, punct_ratio,
   *          stopword_ratio, quality_score).
   */
  def quality(docs: DataFrame, stopwords: Seq[String] = TF.DefaultStopwords("en"),
              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val text = col(textCol)
    val toks = TF.tokens(text)
    val nChars = length(text).cast("long")
    val nToks = size(toks).cast("long")
    val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / nToks.cast("double")
    val punct = length(regexp_replace(lower(text), "[a-z0-9\\s]", "")).cast("long")
    val punctRatio = punct.cast("double") / nChars.cast("double")
    val stopHits = size(filter(toks, t => t.isin(stopwords: _*))).cast("long")
    val stopRatio = stopHits.cast("double") / nToks.cast("double")
    // Simple interpretable score: stopword presence is good (natural
    // language), excessive punctuation is bad, degenerate token length
    // (too short/long) is bad.
    val score = greatest(lit(0.0),
      lit(1.0) - abs(meanLen - lit(5.0)) / lit(10.0) - punctRatio * lit(2.0)
        + stopRatio * lit(0.5))
    docs.select(col(idCol).as("id"), nChars.as("n_chars"), nToks.as("n_tokens"),
      round(meanLen, 6).as("mean_token_len"),
      round(punctRatio, 6).as("punct_ratio"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(score, 6).as("quality_score"))
  }

  /**
   * P10 — Token counting: whitespace tokens and BPE-ish regex tokens
   * (alnum runs + individual symbols).
   * Output: (id, ws_tokens, bpe_tokens).
   */
  def tokenCounts(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"),
      size(TF.tokens(col(textCol))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)), lit(BpeTokenPattern), lit(0)))
        .cast("long").as("bpe_tokens"))

  /**
   * P11 — Document fingerprint: order-sensitive polynomial rolling hash
   * over the token codes (content-defined identity that survives
   * re-serialization but not reordering), plus the order-insensitive
   * content hash for contrast.
   * Output: (id, fingerprint, content_hash).
   */
  def fingerprints(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"),
      TF.rollingFingerprint(TF.tokenCodes(TF.tokens(col(textCol))))
        .as("fingerprint"),
      md5(col(textCol)).as("content_hash"))

  /** HARD control characters by explicit byte ranges — excludes \t \n \r
   * (those are whitespace and must COLLAPSE to a space, not vanish and
   * glue words together). Explicit byte ranges are the one spelling both
   * Java regex (Spark) and RE2 (DuckDB/engines) read identically, so the
   * oracle stays portable. */
  val ControlCharPattern = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"

  /**
   * P22 — Text cleaning: the first stage of every ingest pipeline.
   * Strips hard control characters, collapses whitespace runs (incl.
   * tabs/newlines) to single spaces, trims. Pure column expressions, no
   * shuffle, codegen'd.
   * Output: (id, clean_text, n_chars_removed).
   */
  def cleaned(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val clean = trim(regexp_replace(
      regexp_replace(col(textCol), ControlCharPattern, ""), "\\s+", " "))
    docs.select(col(idCol).as("id"), clean.as("clean_text"),
      (length(col(textCol)) - length(clean)).cast("long").as("n_chars_removed"))
  }

  /** Deterministic-format PII patterns (portable Java-regex/RE2 subset).
   * Real pipelines plug locale-specific pattern sets in; the operator
   * shape (count + replace per pattern, one scan) is what matters. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /**
   * P23 — PII redaction: replace emails/phone numbers with typed
   * placeholder tokens and count what was removed (the audit trail a
   * compliance pipeline keeps). One scan, no shuffle.
   * Output: (id, redacted_text, n_emails, n_phones).
   */
  def redacted(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val text = col(textCol)
    docs.select(col(idCol).as("id"),
      regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>").as("redacted_text"),
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(text, lit(PhonePattern), lit(0))).cast("long")
        .as("n_phones"))
  }

  /**
   * P29 — C4-style LINE filtering (Raffel et al. 2020, "Exploring the
   * Limits of Transfer Learning with a Unified Text-to-Text
   * Transformer" §2.2 — public heuristics): web text is cleaned at the
   * LINE level before any document-level curation. A line is kept iff
   * it looks like prose — at least `minWords` whitespace words AND
   * ending in terminal punctuation (. ! ? ") — which drops menus,
   * button labels, code fragments and truncated boilerplate. The two
   * doc-level C4 drop signals are surfaced as flags rather than
   * applied ("lorem ipsum" placeholder text, curly braces = leaked
   * code) so the caller chooses the drop policy.
   *
   * Scale shape: one narrow per-row scan (split / filter / join on the
   * line array) — no explode, no shuffle; composes before p23's
   * character-level cleaning in a real pipeline.
   * Output: (id, n_lines, n_kept, has_lorem, has_braces,
   * filtered_text).
   */
  def lineFilter(docs: DataFrame, minWords: Int = 5, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    def keepRule(l: Column): Column = {
      val t = trim(l)
      (size(split(t, "\\s+")) >= minWords) &&
        t.substr(length(t), lit(1)).isin(".", "!", "?", "\"")
    }
    docs
      .select(col(idCol).as("id"), col(textCol).as("text"),
        split(col(textCol), "\n").as("ls"))
      .select(col("id"), col("text"), col("ls"),
        filter(col("ls"), keepRule(_)).as("ks"))
      .select(col("id"),
        size(col("ls")).cast("long").as("n_lines"),
        size(col("ks")).cast("long").as("n_kept"),
        lower(col("text")).contains("lorem ipsum").as("has_lorem"),
        col("text").contains("{").as("has_braces"),
        array_join(col("ks"), "\n").as("filtered_text"))
  }

  /** The required-stopword list from Gopher's quality rules (Rae et al.
   * 2021 Appendix A1.1 — public heuristics). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * P30 — Gopher document-quality rules (Rae et al. 2021, "Scaling
   * Language Models: Methods, Analysis & Insights from Training
   * Gopher", Appendix A1.1 — the public rule set): a document passes iff
   *  - word count in [minWords, maxWords]
   *  - mean word length in [minMeanWordLen, maxMeanWordLen]
   *  - symbol-to-word ratio ("#" or ellipsis) <= maxSymbolRatio
   *  - fraction of lines starting with a bullet <= maxBulletFrac
   *  - fraction of lines ending with an ellipsis <= maxEllipsisFrac
   *  - fraction of words with an alphabetic character >= minAlphaFrac
   *  - at least minStopHits distinct required stopwords present
   * Every signal is emitted alongside the verdict so callers can tune
   * thresholds without recomputing (the doc-level complement of p32's
   * line-level C4 stage).
   *
   * Scale shape: one narrow per-row scan — split/filter/aggregate over
   * the token and line arrays, no explode, no shuffle, codegen'd.
   * Output: (id, n_words, mean_word_len, symbol_ratio, bullet_frac,
   * ellipsis_frac, alpha_frac, stop_hits, passes[, passthrough...]).
   *
   * `passthrough` names input columns carried unchanged into the
   * output — what lets a composed pipeline (Corpus.curationPipeline)
   * keep the verdict AND the text in ONE fused scan instead of
   * re-joining the metrics frame back to its own input on id.
   */
  def gopherRules(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2, stopwords: Seq[String] = GopherStopwords,
                  textCol: String = "text", idCol: String = "doc_id",
                  passthrough: Seq[String] = Nil): DataFrame = {
    // Internal working columns use reserved __gopher_* names so a
    // passthrough of the raw text column (p70's classifier seed needs
    // exactly that) can't collide with them and turn the next reference
    // ambiguous. Output-name collisions can't be dodged the same way —
    // reject them up front instead of failing mid-plan.
    val outNames = Set("id", "n_words", "mean_word_len", "symbol_ratio",
      "bullet_frac", "ellipsis_frac", "alpha_frac", "stop_hits", "passes")
    require(passthrough.forall(p => !outNames.contains(p)),
      s"passthrough ${passthrough.filter(outNames.contains)} collides with gopherRules output columns")
    val text = col(textCol)
    val nW = col("n_words").cast("double")
    val nL = size(col("__gopher_ls")).cast("double")
    val pt = passthrough.map(col)
    docs
      .select(Seq(col(idCol).as("id"), text.as("__gopher_text"),
        TF.tokens(text).as("__gopher_toks"), split(text, "\n").as("__gopher_ls")) ++ pt: _*)
      .select(Seq(col("id"), col("__gopher_text"), col("__gopher_toks"), col("__gopher_ls"),
        size(col("__gopher_toks")).cast("long").as("n_words")) ++ pt: _*)
      .select(Seq(col("id"), col("n_words"),
        (aggregate(col("__gopher_toks"), lit(0L), (acc, t) => acc + length(t))
          .cast("double") / nW).as("mean_word_len"),
        (size(regexp_extract_all(col("__gopher_text"), lit("#|\\.\\.\\.|…"), lit(0)))
          .cast("double") / nW).as("symbol_ratio"),
        (size(filter(col("__gopher_ls"), l => trim(l).substr(1, 1).isin("•", "-", "*")))
          .cast("double") / nL).as("bullet_frac"),
        (size(filter(col("__gopher_ls"), l => trim(l).endsWith("...") || trim(l).endsWith("…")))
          .cast("double") / nL).as("ellipsis_frac"),
        (size(filter(col("__gopher_toks"), t => t.rlike("[a-z]")))
          .cast("double") / nW).as("alpha_frac"),
        size(filter(typedLit(stopwords), w => array_contains(col("__gopher_toks"), w)))
          .cast("long").as("stop_hits")) ++ pt: _*)
      .select(Seq(col("id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("symbol_ratio"), 6).as("symbol_ratio"),
        round(col("bullet_frac"), 6).as("bullet_frac"),
        round(col("ellipsis_frac"), 6).as("ellipsis_frac"),
        round(col("alpha_frac"), 6).as("alpha_frac"),
        col("stop_hits"),
        (col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stop_hits") >= minStopHits).as("passes")) ++ pt: _*)
  }

  /**
   * P31 — Unigram-frequency quality scoring (the deterministic twin of
   * CCNet-style LM filtering, Wenzek et al. 2020: score each document by
   * how "expected" its tokens are under a model trained on a reference
   * corpus, then filter/bucket on the score). The model here is the
   * simplest one with the same pipeline shape: a bounded top-`vocabSize`
   * unigram frequency table trained on the corpus itself. A true LM
   * perplexity needs log-probabilities, and transcendental functions are
   * not bit-portable across engines (Java Math.log and libm may differ
   * in the last ulp) — mean token frequency is monotonic in the same
   * signal and IEEE-exact, so the oracle holds bit-for-bit.
   *
   * Scale shape: training is ONE uniform hash-keyed groupBy over the
   * exploded tokens (map-side partial aggregation absorbs hot stopword
   * keys) + a TakeOrdered top-V + a scalar total — the collected
   * artifact is O(vocabSize), independent of corpus size, embedded as a
   * literal map (the ANN-quantizer pattern). Scoring is one narrow
   * codegen scan with per-token map lookups and an ordered in-doc fold;
   * OOV tokens score frequency 0 and are counted separately.
   * Output: (id, n_tokens, n_oov, oov_frac, avg_freq).
   */
  def unigramScore(docs: DataFrame, vocabSize: Int = 4096,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cnt = SelfJoinMaterialize(
      docs.select(explode(TF.tokens(col(textCol))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c")))
    val top = cnt.orderBy(col("c").desc, col("tok").asc).limit(vocabSize).collect()
    val totalRow = cnt.agg(sum(col("c"))).collect()(0)
    val total = if (totalRow.isNullAt(0)) 1L else math.max(1L, totalRow.getLong(0))
    val vmMap: Map[String, Double] =
      top.iterator.map(r => r.getString(0) -> r.getLong(1).toDouble / total).toMap
    docs
      .select(col(idCol).as("id"),
        HE.vocabScore(TF.tokens(col(textCol)), vmMap).as("s"))
      .select(col("id"), col("s.n").as("n_tokens"), col("s.n_oov").as("n_oov"),
        round(col("s.n_oov").cast("double") / col("s.n").cast("double"), 6)
          .as("oov_frac"),
        round(col("s.sumf") / col("s.n").cast("double"), 9).as("avg_freq"))
  }

  /**
   * P31+ — BIGRAM-frequency quality scoring: one rung up the LM-quality
   * ladder from `unigramScore` toward CCNet's 5-gram KenLM (Wenzek et
   * al. 2020). A document whose adjacent-token PAIRS are common in the
   * reference corpus reads like fluent text even when its unigrams are
   * unremarkable — bigrams catch word-salad that unigram frequency
   * can't (shuffled common words keep their unigram score but lose
   * their bigram mass). Same deterministic design: top-`vocabSize`
   * bigram table as a literal map, mean in-vocabulary frequency instead
   * of non-portable log-probs, OOV counted separately.
   *
   * Scale shape: identical to unigramScore — training is one uniform
   * groupBy over exploded bigram shingles + TakeOrdered top-V + scalar
   * total (O(vocabSize) artifact, corpus-size-independent); scoring is
   * one narrow scan with an ordered fold. Docs with < 2 tokens have no
   * bigrams and are excluded (the dedup operators' domain convention).
   * Output: (id, n_bigrams, n_oov, oov_frac, avg_freq).
   */
  def bigramScore(docs: DataFrame, vocabSize: Int = 4096,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    gramScore(docs, 2, vocabSize, textCol, idCol, countName = "n_bigrams")

  /**
   * P31++ — TRIGRAM-frequency quality scoring: the next rung toward
   * CCNet's 5-gram KenLM. Trigram mass separates locally-fluent
   * word-salad (common pairs, incoherent triples) from real prose; the
   * trained table is still O(vocabSize) and corpus-size-independent, so
   * the ladder climbs without changing the scale shape. Same operator
   * skeleton as bigramScore via `gramScore`; docs need >= 3 tokens.
   * Output: (id, n_trigrams, n_oov, oov_frac, avg_freq).
   */
  def trigramScore(docs: DataFrame, vocabSize: Int = 4096,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    gramScore(docs, 3, vocabSize, textCol, idCol, countName = "n_trigrams")

  /**
   * P30+ — SOURCE-level quality filtering (the domain-blocklist step of
   * C4/RefinedWeb curation, lifted from hand-maintained lists to the
   * corpus's own signals): a source whose documents chronically fail
   * the Gopher rules is dropped WHOLESALE — low-quality domains produce
   * low-quality pages faster than per-document filters can reject
   * them, and dropping the source also removes the pages that
   * individually squeak past. The verdict is two INTEGER aggregates
   * per source (doc count, passing count) — deliberately not a mean of
   * per-doc double scores, whose cross-partition summation order is
   * nondeterministic; the passing FRACTION is one exact division, so
   * the whole operator is bit-portable to the oracle.
   *
   * Scale shape: one fused Gopher scan (the p35 projection with
   * `passthrough` carrying the source column), one uniform source-keyed
   * integer aggregation (sources number thousands, not billions —
   * map-side combine absorbs the hot ones), and the tiny per-source
   * verdict broadcasts back onto the doc stream. No corpus shuffle
   * anywhere.
   * Output per document: (id, source, doc_passes, n_docs_source,
   * frac_passing, source_kept).
   */
  def sourceQualityFilter(docs: DataFrame, minFrac: Double = 0.5,
                          minDocs: Long = 1L,
                          stopwords: Seq[String] = GopherStopwords,
                          sourceCol: String = "source",
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val gp = gopherRules(docs, stopwords = stopwords, textCol = textCol,
      idCol = idCol, passthrough = Seq(sourceCol))
    val per = gp.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs_source"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_passing"))
      .withColumn("frac_passing",
        col("n_passing").cast("double") / col("n_docs_source").cast("double"))
      .select(col(sourceCol), col("n_docs_source"),
        col("frac_passing"),
        (col("frac_passing") >= minFrac &&
          col("n_docs_source") >= minDocs).as("source_kept"))
    gp.select(col("id"), col(sourceCol), col("passes").as("doc_passes"))
      .join(broadcast(per), Seq(sourceCol))
      .select(col("id"), col(sourceCol).as("source"), col("doc_passes"),
        col("n_docs_source"), round(col("frac_passing"), 6).as("frac_passing"),
        col("source_kept"))
  }

  /**
   * TF-IDF keyword extraction — the classic corpus-contrastive term
   * salience score (Sparck Jones 1972), the pipeline's
   * per-document topical summary (tag clouds, retrieval features, or a
   * dedup-explainability aid: which terms make this doc distinctive).
   * idf here is the RAW rarity ratio N/df rather than log(N/df) — log
   * is not bit-portable across engines, and per-document RANKING is
   * invariant under any monotone transform of idf, so the top-k set
   * and order are exactly the textbook ones (the unigramScore dodge).
   * Ties break by term ascending; empty-string tokens (blank docs) are
   * excluded.
   *
   * Scale shape: term frequencies are one uniform (id, term)-keyed
   * groupBy; document frequencies aggregate FROM the materialized tf
   * frame (second uniform groupBy, map-side combine absorbs stopword
   * keys); the tf-df join is stats-adaptive on the term key (AQE
   * handles the zipfian head via skew-join splitting — the df side of
   * a hot key is ONE row, so splitting is cheap); the per-doc top-k is
   * a rank window over (id) — WindowGroupLimit prunes to k per
   * partition before the exchange. No literal artifact: vocabulary at
   * corpus scale is unbounded, so df rides as data, never as driver
   * state.
   * Output: (id, rank, term, tf, df, tfidf).
   */
  def tfidfKeywords(docs: DataFrame, k: Int = 5,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val n = docs.count()
    val tf = SelfJoinMaterialize(
      docs.select(col(idCol).as("id"), explode(TF.tokens(col(textCol))).as("term"))
        .where(col("term") =!= "")
        .groupBy("id", "term").agg(count(lit(1)).as("tf")))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id")
      .orderBy(col("tfidf_raw").desc, col("term").asc)
    tf.join(df_, "term")
      // tf * (N / df): one correctly-rounded division then one multiply,
      // mirrored operation-for-operation in the oracle
      .withColumn("tfidf_raw",
        col("tf").cast("double") * (lit(n.toDouble) / col("df").cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tfidf_raw"), 6).as("tfidf"))
  }

  /**
   * P31+++ — KenLM-style STUPID-BACKOFF scoring (Brants et al. 2007 §4):
   * the top rung of the LM-quality ladder, and the closest deterministic
   * analogue of CCNet's KenLM perplexity filter this engine carries.
   * Where p55/p56 score each n-gram order in isolation (a trigram the
   * corpus has never seen scores 0 even when its suffix bigram is
   * common), backoff scores every trigram window by the LONGEST context
   * the trained tables know, discounting each fallback by `alpha`:
   * f3(abc), else alpha*f2(bc), else alpha^2*f1(c), else OOV. That is
   * exactly the "stupid backoff" scheme Brants et al. showed matches
   * Kneser-Ney quality at web scale while needing only raw counts — no
   * smoothing pass, so the trained artifact stays three bounded top-V
   * frequency tables (the same O(vocabSize) collect-and-embed pattern
   * as the other rungs; corpus-size-independent).
   *
   * alpha defaults to 0.5 (not Brants' 0.4) so alpha and alpha^2 are
   * EXACT doubles — the oracle's `0.5 *` / `0.25 *` literals then
   * reproduce the backoff products bit-for-bit, keeping the hash gate
   * meaningful.
   *
   * Scale shape: training is three uniform hash-keyed groupBys over
   * exploded grams (map-side combine absorbs hot keys) + TakeOrdered
   * top-V each; scoring is ONE narrow codegen scan through the native
   * `backoff_score` expression — O(1) hash probes per window, no
   * explode, no shuffle. Docs need >= 3 tokens (one full trigram
   * window), the dedup operators' domain convention.
   * Output: (id, n_windows, n_tri, n_bi, n_uni, n_oov, avg_score).
   */
  def backoffScore(docs: DataFrame, vocabSize: Int = 4096, alpha: Double = 0.5,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = TF.tokens(col(textCol))
    // All three tables train from ONE corpus scan + ONE uniform groupBy:
    // unigrams, bigrams, and trigrams explode together, and a gram's
    // space count recovers its order afterwards (tokens are split on
    // whitespace, so a token can never contain a space). Counts are
    // identical to three per-order trainings — this only removes two
    // corpus scans and two shuffles from the artifact build.
    val cnt = SelfJoinMaterialize(
      docs.select(explode(concat(toks, HE.wordShingles(toks, 2),
          HE.wordShingles(toks, 3))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
        .withColumn("ord",
          (length(col("g")) - length(replace(col("g"), lit(" "), lit("")))) + 1))
    def table(n: Int): Map[String, Double] = {
      val sub = cnt.where(col("ord") === n)
      val top = sub.orderBy(col("c").desc, col("g").asc).limit(vocabSize).collect()
      val totalRow = sub.agg(sum(col("c"))).collect()(0)
      val total = if (totalRow.isNullAt(0)) 1L else math.max(1L, totalRow.getLong(0))
      top.iterator.map(r => r.getString(0) -> r.getLong(1).toDouble / total).toMap
    }
    val v3 = table(3); val v2 = table(2); val v1 = table(1)
    docs
      .where(size(toks) >= 3)
      .select(col(idCol).as("id"), HE.backoffScore(toks, v3, v2, v1, alpha).as("s"))
      .select(col("id"), col("s.n").as("n_windows"), col("s.n_tri").as("n_tri"),
        col("s.n_bi").as("n_bi"), col("s.n_uni").as("n_uni"),
        col("s.n_oov").as("n_oov"),
        round(col("s.sumf") / col("s.n").cast("double"), 9).as("avg_score"))
  }

  /**
   * Jelinek-Mercer INTERPOLATED trigram scoring with weights LEARNED by
   * deleted interpolation (Jelinek & Mercer 1980; Chen & Goodman 1999)
   * — the final LM-ladder rung: where stupid backoff (p57) scores each
   * window by its longest KNOWN context only, interpolation mixes all
   * three tiers with corpus-TUNED weights, s = lam3·p(w3|w1w2) +
   * lam2·p(w3|w2) + lam1·p(w3). The lambdas come from the standard
   * held-one-out recipe: for each trained trigram type (occurrence-
   * weighted), delete one occurrence, ask which tier's estimate ranks
   * it highest — (c3-1)/(ctx-1) vs (c2-1)/(c1-1) vs (c1-1)/(N-1) —
   * and credit that tier; lambdas are the normalized credits. Longest
   * context wins ties (the standard convention).
   *
   * Determinism/portability: the tier comparison is EXACT — rationals
   * compared by cross-multiplication on integer counts (products below
   * 2^63 at any realistic vocab), so no float enters the argmax; a
   * 0-denominator estimate is (0,1). Lambdas are one division each;
   * conditional probabilities are one division each; the per-window
   * mix is evaluated in fixed order — all mirrored in the oracle,
   * which RE-DERIVES the lambdas from its own counts (they ride in
   * the output columns, so the hash gate checks the learning too).
   *
   * Scale shape: same as backoffScore — ONE fused gram groupBy trains
   * all tables; context counts for the trained grams are a second
   * bounded probe into the same materialized counts (O(V) keys); the
   * artifact is O(V) integers; scoring is one narrow codegen scan via
   * the native `interp_score` expression, O(1) probes per window.
   * Output: (id, n_windows, n_tri, n_bi, n_uni, n_oov, avg_score,
   * lam3, lam2, lam1).
   */
  def interpolatedScore(docs: DataFrame, vocabSize: Int = 4096,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = TF.tokens(col(textCol))
    val cnt = SelfJoinMaterialize(
      docs.select(explode(concat(toks, HE.wordShingles(toks, 2),
          HE.wordShingles(toks, 3))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
        .withColumn("ord",
          (length(col("g")) - length(replace(col("g"), lit(" "), lit("")))) + 1))
    def top(ord: Int): Array[(String, Long)] =
      cnt.where(col("ord") === ord).orderBy(col("c").desc, col("g").asc)
        .limit(vocabSize).collect().map(r => r.getString(0) -> r.getLong(1))
    val t3 = top(3); val t2 = top(2); val t1 = top(1)
    val n1Row = cnt.where(col("ord") === 1).agg(sum(col("c"))).collect()(0)
    val n1 = if (n1Row.isNullAt(0)) 0L else n1Row.getLong(0)
    // bounded probes for the CONTEXT counts of the trained grams — full
    // corpus counts (not top-V-truncated), O(V) keys each. The key set is
    // joined as a broadcast frame: an isin here would put ~2*vocabSize
    // literal nodes in the plan per probe (65536-key In lists at the
    // ScaleSmoke bound — r10 advice), where the broadcast join costs one
    // hashed-relation build of the same keys.
    def counts(ord: Int, keys: Seq[String]): Map[String, Long] =
      if (keys.isEmpty) Map.empty
      else {
        import docs.sparkSession.implicits._
        cnt.where(col("ord") === ord)
          .join(broadcast(keys.toDF("g")), Seq("g"))
          .select("g", "c")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    def w(g: String): Array[String] = g.split(' ')
    val triCtx = counts(2, t3.map(x => { val a = w(x._1); a(0) + " " + a(1) })
      .distinct.toSeq)
    val sufCnt = counts(2, t3.map(x => { val a = w(x._1); a(1) + " " + a(2) })
      .distinct.toSeq)
    val uniCnt = counts(1,
      (t3.flatMap(x => { val a = w(x._1); Seq(a(1), a(2)) }) ++
        t2.map(x => w(x._1)(0))).distinct.toSeq)
    val biCtx = t2.map(x => w(x._1)(0)).distinct
      .map(k => k -> uniCnt.getOrElse(k, 0L)).toMap
    // deleted-interpolation credit assignment (exact rational argmax)
    var b3 = 0L; var b2 = 0L; var b1 = 0L
    t3.foreach { case (g, c3) =>
      val a = w(g)
      def nd(num: Long, den: Long): (Long, Long) =
        if (den > 0) (num, den) else (0L, 1L)
      val e3 = nd(c3 - 1, triCtx.getOrElse(a(0) + " " + a(1), 0L) - 1)
      val e2 = nd(sufCnt.getOrElse(a(1) + " " + a(2), 0L) - 1,
        uniCnt.getOrElse(a(1), 0L) - 1)
      val e1 = nd(uniCnt.getOrElse(a(2), 0L) - 1, n1 - 1)
      def ge(x: (Long, Long), y: (Long, Long)): Boolean = x._1 * y._2 >= y._1 * x._2
      if (ge(e3, e2) && ge(e3, e1)) b3 += c3
      else if (ge(e2, e1)) b2 += c3
      else b1 += c3
    }
    val tot = b3 + b2 + b1
    val (lam3, lam2, lam1) =
      if (tot == 0L) (0.0, 0.0, 0.0)
      else (b3.toDouble / tot.toDouble, b2.toDouble / tot.toDouble,
        b1.toDouble / tot.toDouble)
    docs
      .where(size(toks) >= 3)
      .select(col(idCol).as("id"),
        HE.interpScore(toks, t3.toMap, triCtx, t2.toMap, biCtx, t1.toMap, n1,
          lam3, lam2, lam1).as("s"))
      .select(col("id"), col("s.n").as("n_windows"), col("s.n_tri").as("n_tri"),
        col("s.n_bi").as("n_bi"), col("s.n_uni").as("n_uni"),
        col("s.n_oov").as("n_oov"),
        round(col("s.sumf") / col("s.n").cast("double"), 9).as("avg_score"),
        round(lit(lam3), 6).as("lam3"), round(lit(lam2), 6).as("lam2"),
        round(lit(lam1), 6).as("lam1"))
  }

  /**
   * P31+++++ — CCNet-style PER-LANGUAGE perplexity bucketing (Wenzek et
   * al. 2020 "CCNet"): train a language model per language on a trusted
   * REFERENCE slice of the corpus (CCNet: Wikipedia), score every
   * document with its own language's model, then split each language
   * into head / middle / tail at fixed quantiles of the score
   * distribution and keep head+middle. This is the canonical
   * "perplexity filter" step between language ID and dedup in a
   * web-scale curation pipeline.
   *
   * Portability design (the LM-ladder convention): the per-document
   * statistic is the MEAN add-one-smoothed unigram probability
   * p(w) = (c(w)+1)/(T_l + v_l + 1) (OOV: c = 0) rather than a log
   * perplexity — logs are the one transcendental whose last-ulp differs
   * across engines, while this score is pure rational IEEE arithmetic
   * summed in token order, so DuckDB reproduces it bit-exactly. The
   * score is a strictly monotone proxy for fluency-under-the-LM, which
   * is all quantile bucketing consumes.
   *
   * Quantile rule (discrete, tie-safe): within a language with n scored
   * docs, the head cutoff is the score at rank ceil(headFrac*n) of the
   * descending score order (equivalently the LARGEST rounded score whose
   * descending cumulative count reaches that rank); keepFrac gives the
   * head+middle cutoff the same way. Ties share a bucket, so the head
   * can exceed headFrac — deterministic and row-local once the two
   * cutoffs are known.
   *
   * Scale shape: training is one uniform (lang, token) groupBy over the
   * reference slice + a per-language top-V window on the count table
   * (O(|langs| x V) collected artifact); scoring is ONE narrow scan
   * through the native vocab_score hash probe (keys "lang\u0001token"
   * so one probe serves every language); the cutoffs derive from a
   * histogram of (lang, rounded score) — BOUNDED at 10^6+1 bins per
   * language because the score lives in [0,1] and is rounded to 6dp —
   * and join back as a broadcast of |langs| rows. No corpus-sized
   * shuffle, sort, or collect anywhere; the corpus is scanned twice
   * (score materialization + output), the reference slice once.
   *
   * Languages absent from the reference slice degenerate to T = v = 0,
   * denominator 1, so every token scores 1.0 and the whole language
   * lands in head — deterministic, and the honest reading of "no
   * reference model exists for this language".
   *
   * Output: (id, lang, score, bucket, keep), keep = bucket != tail.
   */
  def perplexityBuckets(docs: DataFrame, refFilter: Column,
                        vocabSize: Int = 4096,
                        headFrac: Double = 0.3, keepFrac: Double = 0.6,
                        textCol: String = "text", idCol: String = "doc_id",
                        langCol: String = "lang"): DataFrame = {
    require(headFrac > 0 && headFrac <= keepFrac && keepFrac <= 1.0,
      s"need 0 < headFrac <= keepFrac <= 1, got ($headFrac, $keepFrac)")
    val (vocab, oov) = perplexityLm(docs, refFilter, vocabSize, textCol, langCol)
    // Materialized scores: reused by the histogram AND the final output,
    // so the corpus scan + score evaluation run once.
    val scored = SelfJoinMaterialize(
      perplexityScored(docs, vocab, oov, textCol, idCol, langCol))
    val cuts = perplexityCuts(scored, headFrac, keepFrac)
    scored.join(broadcast(cuts), Seq("lang"))
      .select(col("id"), col("lang"), col("score"),
        when(col("score") >= col("hc"), lit("head"))
          .when(col("score") >= col("mc"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        (col("score") >= col("mc")).as("keep"))
  }

  /** Trained perplexity-filter artifact: per-language add-one unigram
   * probabilities (keys "lang\u0001token"), per-language OOV constants,
   * and the frozen head/keep score cutoffs — O(|langs| x V), the thing a
   * serving/streaming deployment ships to score NEW documents without
   * re-deriving quantiles. */
  final case class PerplexityModel(vocab: Map[String, Double],
                                   oov: Map[String, Double],
                                   cuts: Map[String, (Double, Double)])

  /** Train the CCNet filter as a portable artifact: the per-language LMs
   * from the `refFilter` slice of `docs` plus the quantile cutoffs of
   * `docs`' own score distribution (collected — |langs| rows). Batch
   * parity is exact: `perplexityApply(docs, perplexityTrain(docs, ...))`
   * equals `perplexityBuckets(docs, ...)` row-for-row (spec-pinned),
   * which is what lets the STREAMING twin share the batch oracle. */
  def perplexityTrain(docs: DataFrame, refFilter: Column,
                      vocabSize: Int = 4096,
                      headFrac: Double = 0.3, keepFrac: Double = 0.6,
                      textCol: String = "text", idCol: String = "doc_id",
                      langCol: String = "lang"): PerplexityModel = {
    require(headFrac > 0 && headFrac <= keepFrac && keepFrac <= 1.0,
      s"need 0 < headFrac <= keepFrac <= 1, got ($headFrac, $keepFrac)")
    val (vocab, oov) = perplexityLm(docs, refFilter, vocabSize, textCol, langCol)
    val scored = SelfJoinMaterialize(
      perplexityScored(docs, vocab, oov, textCol, idCol, langCol))
    val cuts = perplexityCuts(scored, headFrac, keepFrac)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    PerplexityModel(vocab, oov, cuts)
  }

  /** The ONE quantile-cutoff derivation both perplexityBuckets (broadcast
   * join) and perplexityTrain (collected artifact) consume — a single
   * copy so a future tweak to the quantile rule cannot silently break
   * the spec-pinned batch ≡ train/apply parity. In-plan and bounded: the
   * cumulative window runs over <= 1e6+1 rounded-score bins per language
   * and the output is |langs| rows (lang, hc, mc). */
  private def perplexityCuts(scored: DataFrame, headFrac: Double,
                             keepFrac: Double): DataFrame = {
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("score").desc)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    scored.groupBy("lang", "score").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wl))
      .withColumn("n", sum("c").over(wn))
      .groupBy("lang").agg(
        max(when(col("cum") >= ceil(col("n") * lit(headFrac)), col("score")))
          .as("hc"),
        max(when(col("cum") >= ceil(col("n") * lit(keepFrac)), col("score")))
          .as("mc"))
  }

  /** Score + bucket documents with a FROZEN model — one stateless narrow
   * projection (no aggregation, no shuffle, no state), so it runs
   * unchanged on a Structured Streaming source: the continuous-ingestion
   * shape of the CCNet filter. A language the model never saw scores 1.0
   * (every token OOV at probability 1) and defaults to head/keep — the
   * same deterministic reading the batch operator gives it. */
  def perplexityApply(docs: DataFrame, model: PerplexityModel,
                      textCol: String = "text", idCol: String = "doc_id",
                      langCol: String = "lang"): DataFrame = {
    def cutCol(pick: ((Double, Double)) => Double, default: Double): Column =
      model.cuts.toSeq.sortBy(_._1).foldLeft(lit(default)) {
        case (acc, (l, hm)) =>
          when(col(langCol) === l, lit(pick(hm))).otherwise(acc)
      }
    // unseen-language default: cutoffs at 1.0 put the score-1.0 docs in
    // head (score >= hc), matching the batch degenerate
    val hc = cutCol(_._1, 1.0)
    val mc = cutCol(_._2, 1.0)
    perplexityScored(docs, model.vocab, model.oov, textCol, idCol, langCol)
      .select(col("id"), col("lang"), col("score"),
        when(col("score") >= hc, lit("head"))
          .when(col("score") >= mc, lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        (col("score") >= mc).as("keep"))
  }

  /** Per-language LM training shared by perplexityBuckets/Train: ONE
   * uniform (lang, token) groupBy over the reference slice, top-V per
   * language via a rank window over the count table (vocabulary-sized,
   * not corpus-sized; collect bounded by |langs| x vocabSize). Returns
   * (vocab probs keyed "lang\u0001token", per-language OOV constant). */
  private def perplexityLm(docs: DataFrame, refFilter: Column, vocabSize: Int,
                           textCol: String, langCol: String)
      : (Map[String, Double], Map[String, Double]) = {
    val toks = TF.tokens(col(textCol))
    val cnt = SelfJoinMaterialize(
      docs.where(refFilter && col(langCol).isNotNull)
        .select(col(langCol).as("l"), explode(toks).as("tok"))
        .groupBy("l", "tok").agg(count(lit(1)).as("c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l").orderBy(col("c").desc, col("tok").asc)
    val top = cnt.withColumn("rn", row_number().over(w))
      .where(col("rn") <= vocabSize).select("l", "tok", "c").collect()
    val totals: Map[String, Long] = cnt.groupBy("l").agg(sum("c").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabSizes: Map[String, Int] =
      top.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val denom: Map[String, Double] = totals.map { case (l, t) =>
      l -> (t + vocabSizes.getOrElse(l, 0) + 1).toDouble }
    val vocab: Map[String, Double] = top.iterator.map { r =>
      (r.getString(0) + "\u0001" + r.getString(1)) ->
        (r.getLong(2) + 1).toDouble / denom(r.getString(0))
    }.toMap
    (vocab, denom.map { case (l, d) => l -> 1.0 / d })
  }

  /** The score projection shared by all three perplexity entry points:
   * ONE narrow scan through the native vocab_score hash probe with
   * lang-prefixed keys (one probe serves every language); score = mean
   * add-one-smoothed probability, rounded to 6dp. OOV probability is a
   * per-language literal when-chain (|langs| bounded), 1.0 for languages
   * with no reference model.
   *
   * NULL-language rows are excluded HERE so every entry point treats
   * them identically: before this filter, perplexityBuckets silently
   * dropped them (the inner join to the per-language cutoffs never
   * matches NULL) while perplexityApply kept them under the unseen-
   * language default — breaking the documented row-for-row train/apply
   * parity on any corpus with an un-identified language column. A doc
   * with no language has no model to score under; run language ID
   * (p08) first. */
  private def perplexityScored(docs: DataFrame, vocab: Map[String, Double],
                               oov: Map[String, Double], textCol: String,
                               idCol: String, langCol: String): DataFrame = {
    val toks = TF.tokens(col(textCol))
    val oovp = oov.toSeq.sortBy(_._1).foldLeft(lit(1.0)) {
      case (acc, (l, p)) => when(col(langCol) === l, lit(p)).otherwise(acc)
    }
    val grams = transform(toks, t => concat(col(langCol), lit("\u0001"), t))
    docs.where(size(toks) >= 1 && col(langCol).isNotNull)
      .select(col(idCol).as("id"), col(langCol).as("lang"),
        HE.vocabScore(grams, vocab).as("s"), oovp.as("oovp"))
      .select(col("id"), col("lang"),
        round((col("s.sumf") +
            col("s.n_oov").cast("double") * col("oovp"))
          / col("s.n").cast("double"), 6).as("score"))
  }

  /** Shared n-gram (n >= 2) scorer behind bigramScore/trigramScore:
   * train one top-`vocabSize` frequency table (uniform hash-keyed
   * groupBy over exploded shingles, map-side combine absorbs hot grams;
   * TakeOrdered top-V + scalar total = O(vocabSize) collected artifact),
   * then score every doc in ONE narrow scan through the native
   * `vocab_score` expression — a hash probe per gram. The previous
   * shape folded `element_at` over a literal map, which Catalyst
   * evaluates as a LINEAR key scan per gram: O(|vocab|) per lookup,
   * measured at 30 s for bigrams at the 20× ScaleSmoke point and
   * growing linearly with vocab size — the native expression holds the
   * same scan at production vocabs (50k+). Values are bit-identical
   * (same IEEE sum order; spec-pinned) so the DuckDB oracles are
   * unchanged. */
  private def gramScore(docs: DataFrame, n: Int, vocabSize: Int,
                        textCol: String, idCol: String,
                        countName: String): DataFrame = {
    val grams = HE.wordShingles(TF.tokens(col(textCol)), n)
    val cnt = SelfJoinMaterialize(
      docs.select(explode(grams).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c")))
    val top = cnt.orderBy(col("c").desc, col("g").asc).limit(vocabSize).collect()
    val totalRow = cnt.agg(sum(col("c"))).collect()(0)
    val total = if (totalRow.isNullAt(0)) 1L else math.max(1L, totalRow.getLong(0))
    val vmMap: Map[String, Double] =
      top.iterator.map(r => r.getString(0) -> r.getLong(1).toDouble / total).toMap
    // tokens projected once; the domain test rides the one-element
    // explode (see `repetition`), which pushdown cannot re-inline
    docs.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(when(size(col("toks")) >= n,
        array(HE.vocabScore(HE.wordShingles(col("toks"), n), vmMap)))).as("s"))
      .select(col("id"), col("s.n").as(countName), col("s.n_oov").as("n_oov"),
        round(col("s.n_oov").cast("double") / col("s.n").cast("double"), 6)
          .as("oov_frac"),
        round(col("s.sumf") / col("s.n").cast("double"), 9).as("avg_freq"))
  }

  /**
   * P24 — Repetition scoring (the Gopher-style quality signal): the
   * fraction of a document's n-gram occurrences taken by its single most
   * frequent n-gram. Boilerplate/spam repeats a few n-grams; natural text
   * spreads mass. Shingles here are NON-distinct (multiplicity is the
   * signal). Docs with fewer than n tokens are excluded (no shingles to
   * score — same domain as the dedup operators).
   *
   * Scale shape: the per-doc mode count is computed ENTIRELY per row by
   * the native `MaxMultiplicity` expression (one hash-counting pass,
   * whole-stage codegen) — no explode, no shuffle, no shingle-keyed
   * aggregation. History of this operator's shapes, all value-identical:
   * exploded (id, shingle) groupBy 6.1 s at sf0.1; interpreted
   * sort_array + longest-run HOF fold ~2.9 s; native expression ~0.4 s.
   * The tokens are projected once, and the domain test (shingles exist
   * iff tokens >= n) rides a one-element explode: a Filter would be
   * pushed below the projection with its own copy of the tokenizer.
   * Output: (id, n_shingles, top_count, top_shingle_ratio).
   */
  def repetition(docs: DataFrame, n: Int = 3, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(when(size(col("toks")) >= n,
        array(HE.wordShingles(col("toks"), n)))).as("sh"))
      .select(col("id"), size(col("sh")).cast("long").as("n_shingles"),
        HE.maxMultiplicity(col("sh")).as("top_count"))
      .select(col("id"), col("n_shingles"), col("top_count"),
        round(col("top_count").cast("double") / col("n_shingles").cast("double"), 6)
          .as("top_shingle_ratio"))

  // ------------------------------------------ boilerplate removal (P80)

  /**
   * Domain-aware boilerplate line removal — the jusText/trafilatura
   * step every web pipeline runs between extraction and dedup: a line
   * that appears in at least `tNum/tDen` of a DOMAIN's documents
   * (headers, footers, cookie banners, nav text) is template, not
   * content, and is excised from every doc of that domain. Distinct
   * from paragraph dedup (p33), which keeps the FIRST copy of an
   * exact duplicate — boilerplate is removed from ALL docs, and the
   * frequency is judged per domain (a line ubiquitous on one site is
   * boilerplate there even if globally rare).
   *
   * The threshold compare is exact-integer (`cnt*tDen >= ndocs*tNum`)
   * so the oracle reproduces every boundary case bit-for-bit.
   *
   * Scale shape: line explode is narrow; the per-(domain,line) doc
   * frequency is one distinct + one uniform hash aggregation (both
   * partial-combined map-side); the boilerplate set — bounded by the
   * threshold to O(domains x template-lines) — BROADCASTS into a
   * left-anti join, so the corpus lines never shuffle for the
   * removal; the rebuild is one id-keyed aggregation reassembling
   * surviving lines in order. No window over the corpus anywhere.
   *
   * Output: (id, n_removed, text_clean) — n_removed counts excised
   * line OCCURRENCES; a fully-boilerplate doc keeps its row with
   * text_clean = "". Domains with fewer than `minDocs` docs are left
   * untouched (no line is removed): below that, the frequency vote is
   * vacuous and the default 1/2 threshold would erase the whole
   * domain.
   */
  def boilerplateRemove(docs: DataFrame, domainCol: String,
                        textCol: String = "text", idCol: String = "doc_id",
                        tNum: Int = 1, tDen: Int = 2,
                        minDocs: Int = 3): DataFrame = {
    require(tNum >= 1 && tDen >= 1 && tNum <= tDen,
      "threshold must be a fraction in (0, 1]")
    require(minDocs >= 1, "minDocs must be positive")
    val base = docs.select(col(idCol).as("id"), col(domainCol).as("domain"),
      col(textCol).as("text"))
    val lines = base.select(col("id"), col("domain"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    val ndocs = base.groupBy("domain").agg(count(lit(1)).as("ndocs"))
    val boiler = lines.select("domain", "line", "id").distinct()
      .groupBy("domain", "line").agg(count(lit(1)).as("cnt"))
      .join(ndocs, "domain")
      // the ndocs >= minDocs conjunct guards tiny domains: at the default
      // 1/2 threshold every line of a 1- or 2-doc domain trivially meets
      // cnt*tDen >= ndocs*tNum (cnt = 1, ndocs <= 2), which would erase
      // ALL text of small domains — frequency is only evidence of
      // boilerplate when there are enough docs to vote (review-caught)
      .where(col("cnt") * tDen >= col("ndocs") * tNum &&
        col("ndocs") >= minDocs)
      // renamed on BOTH columns: boiler shares lineage with `lines`, so
      // an unrenamed join key resolves to a trivially-true self-compare
      .select(col("domain").as("boiler_domain"),
        col("line").as("boiler_line"))
    val kept = lines.join(broadcast(boiler),
      col("domain") === col("boiler_domain") &&
        col("line") === col("boiler_line"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("line")))),
        s => s.getField("line")), "\n").as("text_clean"))
    // per-doc line totals come narrowly from the base frame (size of
    // the split) — a second explode + id aggregation would re-shuffle
    // every corpus line just to count them (review-caught)
    val totals = base.select(col("id"),
      size(split(col("text"), "\n")).cast("long").as("n_lines"))
    totals.join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** 1:1 character folds for `unicodeFold` (curly quotes, long
   * dashes), applied via `translate` in one pass. Kept as paired
   * strings so the spec can assert the two stay aligned. */
  val FoldFrom = "‘’‚“”„–—―"
  val FoldTo = "'''\"\"\"---"

  /**
   * Unicode confusable folding — the ftfy-lite pass between extraction
   * and analysis, COMPLEMENTING `cleaned` (p32): that stage strips
   * hard control characters and collapses whitespace runs; this one
   * folds the Unicode lookalikes that SURVIVE it and silently split
   * tokens or fork dedup hashes (the same visible text hashing two
   * ways is a dedup miss):
   *   1. remove zero-width characters (ZWSP/ZWNJ/ZWJ/BOM — invisible,
   *      but tokenizers and hashes see them);
   *   2. fold Unicode spaces (NBSP, en/em/thin/ideographic...) to
   *      plain space;
   *   3. fold curly quotes / long dashes to ASCII (one `translate`
   *      pass) and `…` to `...`.
   * Character classes use `\x{hhhh}` escapes — the one spelling valid
   * in BOTH Java regex (Spark) and RE2 (DuckDB), so the oracle runs
   * the identical pattern strings. One narrow codegen projection, no
   * UDF, no shuffle.
   * Output: (id, text_clean, n_chars_clean).
   */
  def unicodeFold(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val noZw = regexp_replace(col(textCol),
      "[\\x{200B}-\\x{200D}\\x{FEFF}]", "")
    val spaced = regexp_replace(noZw,
      "[\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]",
      " ")
    val folded = replace(
      translate(spaced, FoldFrom, FoldTo),
      lit("…"), lit("..."))
    docs.select(col(idCol).as("id"), folded.as("text_clean"),
      length(folded).cast("long").as("n_chars_clean"))
  }

  /**
   * Sentence segmentation (rule-based, the splitter feeding
   * sentence-level dedup/packing/alignment): a boundary falls AFTER a
   * run of `.`/`!`/`?` that is followed by whitespace and an
   * uppercase letter or digit — so abbreviations mid-clause
   * (`i.e. lower`) and decimal points don't split, while a lowercase
   * continuation (`. the`) is treated as the same sentence (the
   * deliberately simple, documented subset of a Punkt-style model;
   * no lookahead, so the SAME rule runs under RE2 in the oracle: the
   * boundary is marked by a capturing rewrite `([.!?])\s+([A-Z0-9])`
   * -> `$1\x01$2`, then one split).
   * Output: (id, sent_idx, sentence) — sentences trimmed, empties
   * dropped, `sent_idx` 0-based in document order. One narrow scan +
   * explode, no shuffle.
   */
  /**
   * Code-quality filters — the line-geometry screen every code-corpus
   * pipeline applies before training (the Codex data section and
   * StarCoder/The-Stack filters: drop files with very long or very
   * uniform-long lines, low alphanumeric density, or auto-generation
   * markers — minified bundles, vendored blobs, and generated
   * protobufs fail exactly these):
   *   - max_line_len / mean_line_milli (mean chars-per-line x1000,
   *     exact integer: (n_chars - (n_lines-1)) * 1000 div n_lines —
   *     the numerator is the chars-in-lines total without re-summing);
   *   - alnum_bp: [A-Za-z0-9] chars per 10000 (basis points, exact);
   *   - autogen: case-insensitive generation-marker scan
   *     ("auto-generated" / "autogenerated" / "generated by");
   *   - keep: max_line_len <= maxLineLen AND mean_line_milli <=
   *     maxMeanMilli AND alnum_bp >= minAlnumBp AND NOT autogen.
   * Thresholds default to the published StarCoder values (1000 max,
   * 100 mean, 25% alphanumeric).
   *
   * Scale shape: one narrow scan — split/transform/aggregate per row,
   * exact integers only, zero shuffles, zero UDFs.
   */
  def codeQuality(docs: DataFrame, maxLineLen: Int = 1000,
                  maxMeanMilli: Long = 100000L, minAlnumBp: Long = 2500L,
                  textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    val text = col(textCol)
    val lines = split(text, "\n", -1)
    docs.select(
        col(idCol).as("id"),
        size(lines).cast("long").as("n_lines"),
        array_max(transform(lines, l => length(l))).cast("long")
          .as("max_line_len"),
        length(text).cast("long").as("__n_chars"),
        length(regexp_replace(text, "[^A-Za-z0-9]", "")).cast("long")
          .as("__n_alnum"),
        lower(text).rlike("auto-generated|autogenerated|generated by")
          .as("autogen"))
      // exact integral division (div, never IEEE /) — the oracle's //;
      // empty-text docs (n_chars = 0) score alnum_bp 0, not a crash
      .withColumn("mean_line_milli",
        expr("(__n_chars - (n_lines - 1)) * 1000 div n_lines"))
      .withColumn("alnum_bp", expr(
        "CASE WHEN __n_chars = 0 THEN 0 ELSE __n_alnum * 10000 div __n_chars END"))
      .select(col("id"), col("n_lines"), col("max_line_len"),
        col("mean_line_milli"), col("alnum_bp"), col("autogen"),
        (col("max_line_len") <= maxLineLen &&
          col("mean_line_milli") <= maxMeanMilli &&
          col("alnum_bp") >= minAlnumBp && !col("autogen")).as("keep"))
  }

  def sentences(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    // strip any pre-existing sentinel char first — a \u0001 in crawl
    // junk would otherwise inject phantom boundaries (cleaned() removes
    // control chars upstream, but this operator must be safe standalone)
    val safe = regexp_replace(col(textCol), "\u0001", "")
    val marked = regexp_replace(safe,
      "([.!?])\\s+([A-Z0-9])", "$1\u0001$2")
    val sents = filter(transform(split(marked, "\u0001"), s => trim(s)),
      s => s =!= "")
    docs.select(col(idCol).as("id"), posexplode(sents))
      .select(col("id"), col("pos").cast("long").as("sent_idx"),
        col("col").as("sentence"))
  }
}
