package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions => HE, TextFunctions => TF}
import graft.operators.TextAnalysis.BpeTokenPattern

/**
 * Corpus-construction operators: the steps that turn per-doc analysis
 * (dedup pairs/clusters, token counts) into an actual training corpus —
 * survivor selection after dedup, deterministic stratified downsampling,
 * and token-budget sequence packing.
 *
 * Everything here is deterministic (hash-ordered, never RNG-seeded) so a
 * 100 TB corpus build is exactly reproducible and every step has a SQL
 * oracle. Reference scope: these extend the mandated LLM-pipeline surface
 * beyond PloverDB's graph operators (SURVEY.md §2 P-series).
 */
object Corpus {

  /** Portable deterministic per-doc hash: the first 8 md5 hex digits of
   * the id rendered as decimal — same trick as TextFunctions.tokenCode,
   * reproducible bit-for-bit in any engine with md5. */
  private def idHash(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  // ------------------------- P18 (registered query key: p19_dedup_apply;
  // the p18 KEY is the streaming windowed-agg entry of operator P15)
  /**
   * Dedup APPLY: the surviving corpus after near-duplicate removal.
   * `clusters` is Dedup.clusters output (id, cluster_rep); every document
   * that appears in a cluster under a smaller representative id is
   * dropped, everything else (representatives and never-paired docs)
   * survives, flagged with whether it represents a duplicate group.
   *
   * Scale shape: the cluster table holds only docs that had a near-dup
   * pair. At low duplication that is a tiny broadcastable fraction — but
   * web-scale pretraining corpora run 30-50% duplicated, where a forced
   * broadcast would OOM the driver. So the table is materialized
   * (persist + count) for accurate size statistics and the PLANNER picks:
   * broadcast while small, shuffle join once it isn't — the same
   * scale-adaptive persist-with-stats pattern the dedup operators use.
   * The corpus side is never shuffled by the broadcast form.
   */
  def dedupApply(docs: DataFrame, clusters: DataFrame,
                 idCol: String = "doc_id"): DataFrame = {
    val cl = SelfJoinMaterialize(clusters.select(col("id"), col("cluster_rep")))
    docs.join(cl, docs(idCol) === cl("id"), "left")
      .where(col("cluster_rep").isNull || col("cluster_rep") === docs(idCol))
      .select(docs("*"),
        (col("cluster_rep").isNotNull).as("is_cluster_rep"))
  }

  // ------------------- P19 (registered query key: p20_stratified_sample)
  /**
   * Deterministic stratified downsampling: keep at most `perStratum` docs
   * per stratum (e.g. per source or language), chosen by md5-hash order —
   * an unbiased, seedless, reproducible sample.
   *
   * Two-phase plan for scale: an exact rank within each stratum is a
   * shuffle of the FULL corpus partitioned by stratum — skewed and huge
   * when one stratum dominates. Phase 1 prefilters by hash threshold
   * scaled to each stratum's count (a broadcast of the tiny per-stratum
   * count table), passing ~`overSample`x the target through; only that
   * sliver reaches the exact rank window in phase 2. The sample semantic
   * is "hash-rank within the hash-prefiltered set", identical in the SQL
   * oracle. `hashMod` quantizes the threshold (keep-fraction resolution
   * of 1/hashMod).
   */
  def stratifiedSample(docs: DataFrame, strataCol: String, perStratum: Int,
                       overSample: Int = 4, hashMod: Int = 1 << 20,
                       idCol: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("n_stratum"))
    // keep when (h % hashMod) * n_stratum < hashMod * perStratum * overSample
    // — the multiply form needs no division rounding convention. The same
    // modded hash orders the phase-2 rank, so the selected set is a pure
    // function of (id, stratum count).
    val prefiltered = docs
      .join(broadcast(counts), strataCol)
      .withColumn("hm", pmod(idHash(col(idCol)), lit(hashMod.toLong)))
      .where(col("hm") * col("n_stratum")
        < lit(hashMod.toLong) * lit(perStratum.toLong * overSample))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("hm").asc, col(idCol).asc)
    prefiltered
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= perStratum)
  }

  // ------------------------------- P20 (registered query key: p21_pack)
  /**
   * Token-budget sequence packing: assign documents to fixed-budget packs
   * (context windows) of ~`maxTokens` BPE-ish tokens. Documents are
   * sharded by `doc_id % nShards` and packed in id order within their
   * shard: pack boundary = running token count crossing a multiple of the
   * budget (contiguous binning — each pack holds consecutive docs and
   * averages the budget; docs larger than the budget get a pack of their
   * own).
   *
   * Scale shape: packing is inherently sequential, so the 100 TB form
   * runs it per shard — one window partitioned by shard, shards sized to
   * executor memory, no global ordering anywhere. This mirrors how real
   * pretraining pipelines pack per input shard.
   */
  def packSequences(docs: DataFrame, maxTokens: Long, nShards: Int = 32,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = size(regexp_extract_all(lower(col(textCol)), lit(BpeTokenPattern), lit(0)))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col(idCol), pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        toks.as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        ((col("cum_tokens") - col("n_tokens")) / lit(maxTokens)).cast("long"))
  }

  /**
   * P20+ — deterministic SHUFFLE-SHARD: the training-order
   * decorrelation step that runs between curation and `packSequences`.
   * Adjacent document ids are correlated (same crawl, same site, same
   * day), and packing in id order would hand the model long runs of
   * near-identical context; production pipelines therefore shuffle
   * before packing — but a real global RNG shuffle is neither
   * reproducible nor restartable. This is the standard deterministic
   * substitute: order = the portable md5 id-hash. Each document gets
   *   shard = hash % nShards  (which output file it lands in)
   *   pos   = its rank within the shard by (hash / nShards, id)
   * so the (shard, pos) order is a pure function of the id set —
   * re-running on the same corpus reproduces it bit-for-bit, and
   * growing the corpus only interleaves new docs without reordering
   * old ones relative to each other.
   *
   * The quotient hash/nShards (not the full hash) breaks the ordering
   * tie inside a shard: every doc in a shard shares hash % nShards, so
   * the quotient carries all remaining hash entropy and the id is only
   * reached on true quotient collisions.
   *
   * Scale shape: one narrow scan for the hash projection + nShards
   * per-shard rank windows (the packSequences topology — shards sized
   * to executor memory, no global sort anywhere). Feeding `pos` in as
   * the packing order turns id-order packing into shuffled packing with
   * zero extra passes.
   * Output: (id, shard, pos).
   */
  def shuffleShards(docs: DataFrame, nShards: Int = 32,
                    idCol: String = "doc_id"): DataFrame = {
    val h = idHash(col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hq").asc, col("id").asc)
    docs
      .select(col(idCol).as("id"), pmod(h, lit(nShards.toLong)).as("shard"),
        floor(h / lit(nShards.toLong)).as("hq"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("id"), col("shard"), col("pos"))
  }

  /**
   * Curriculum ordering — quality-banded shuffle: the training-order
   * policy that reads high-quality data first (or last, by reversing
   * band order downstream) while staying decorrelated WITHIN a band.
   * Band = fixed-width score cell (floor(score·bands), clamped — the
   * qualityPercentileFilter quantization); within a band the order is
   * the shuffleShards hash order, so the curriculum is a pure function
   * of (id set, scores): reproducible, restartable, and growth-stable
   * inside each band. Training consumes bands descending, shards of a
   * band in parallel.
   *
   * Scale shape: one narrow projection (band + hash) + per-(band,
   * shard) rank windows — the shuffleShards/packSequences topology
   * with a band prefix; no global sort, no skew (bands×shards bounded
   * key space, hash-uniform within).
   * Output: (id, band, shard, pos).
   */
  def curriculumOrder(docs: DataFrame, bands: Int = 10, nShards: Int = 32,
                      scoreCol: String = "quality_score",
                      idCol: String = "id"): DataFrame = {
    val h = idHash(col(idCol))
    val band = least(greatest(
      floor(col(scoreCol) * bands).cast("long"), lit(0L)), lit(bands.toLong))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("shard"))
      .orderBy(col("hq").asc, col("id").asc)
    docs
      .select(col(idCol).as("id"), band.as("band"),
        pmod(h, lit(nShards.toLong)).as("shard"),
        floor(h / lit(nShards.toLong)).as("hq"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("id"), col("band"), col("shard"), col("pos"))
  }

  // ---------------- P28 (registered query key: p29_token_mixture)
  /**
   * Token-budget corpus mixing: sample each stratum (source/language) to
   * its weighted share of a total token budget — the data-mixture step a
   * pretraining build runs after cleaning/dedup ("X% web, Y% code, ..."
   * by TOKENS, not documents). Deterministic hash order, like
   * stratifiedSample; a stratum keeps docs (in md5-hash order) while the
   * PRECEDING cumulative token count is under its budget, so the output
   * slightly overshoots each budget by at most one document and is a
   * pure function of (ids, token counts, weights).
   *
   * Scale shape, two-phase like stratifiedSample: per-stratum token
   * totals broadcast; phase 1 keeps a hash prefix sized to
   * ~overSample × the expected document need (keep iff
   * hm × tot_tokens < hashMod × overSample × budget — the multiply form,
   * no division rounding), so the phase-2 cumulative-sum window sees
   * only that sliver, never a full dominant stratum.
   * Output: (id, stratum, n_tokens, cum_tokens).
   */
  def tokenMixture(docs: DataFrame, weights: Map[String, Double],
                   totalTokens: Long, strataCol: String = "source",
                   overSample: Int = 4, hashMod: Int = 1 << 20,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = size(regexp_extract_all(lower(col(textCol)), lit(BpeTokenPattern),
      lit(0))).cast("long")
    val base = docs.select(col(idCol).as("id"), col(strataCol).as("stratum"),
      toks.as("n_tokens"),
      pmod(idHash(col(idCol)), lit(hashMod.toLong)).as("hm"))
    val stats = base.groupBy("stratum").agg(sum("n_tokens").as("tot_tokens"))
    val wMap = typedLit(weights)
    // budget_s = w_s * totalTokens, computed as ONE multiplication so the
    // SQL oracle reproduces the exact double
    val budget = element_at(wMap, col("stratum")) * lit(totalTokens.toDouble)
    // hm and tot_tokens are cast to double BEFORE the multiply: the Long
    // product hm * tot_tokens overflows at ~10^13 tokens/stratum (hashMod
    // 2^20 x a 100 TB-corpus stratum), which under ANSI mode is a job
    // failure. Both factors are < 2^53 so the double product is exact at
    // test scale and merely rounds (never overflows) at extreme scale.
    val prefiltered = base
      .join(broadcast(stats), Seq("stratum"))
      .where(element_at(wMap, col("stratum")).isNotNull &&
        col("hm").cast("double") * col("tot_tokens").cast("double") <
          lit(hashMod.toDouble * overSample) * budget)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy(col("hm").asc, col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    prefiltered
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where((col("cum_tokens") - col("n_tokens")).cast("double") < budget)
      .select(col("id"), col("stratum"), col("n_tokens"), col("cum_tokens"))
  }

  /**
   * P28+ — temperature-rebalanced token mixture (the α-sampling of
   * multilingual pretraining — Conneau & Lample 2019, XLM-R, mT5):
   * instead of caller-provided weights, each stratum's share of the
   * token budget is proportional to its token mass raised to α = 0.5.
   * Square root is the one exponent IEEE 754 requires to be correctly
   * rounded, so the whole computation stays bit-portable to the SQL
   * oracle — a deployment wanting other α precomputes weights
   * driver-side (exp/log are not bit-portable) and calls `tokenMixture`.
   *
   * The stratum-share denominator Σ_s sqrt(T_s) is folded in stratum
   * order over a sorted collect (a tiny per-stratum list), because a
   * plain SUM over doubles has partition-dependent order — the one
   * nondeterminism that would break the oracle. Everything else is the
   * p29 shape: hash-threshold prefilter, per-stratum cumsum window.
   * Output: (id, stratum, n_tokens, cum_tokens).
   */
  def tokenMixtureTemperature(docs: DataFrame, totalTokens: Long,
                              strataCol: String = "source", overSample: Int = 4,
                              hashMod: Int = 1 << 20, textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame = {
    val toks = size(regexp_extract_all(lower(col(textCol)), lit(BpeTokenPattern),
      lit(0))).cast("long")
    val base = docs.select(col(idCol).as("id"), col(strataCol).as("stratum"),
      toks.as("n_tokens"),
      pmod(idHash(col(idCol)), lit(hashMod.toLong)).as("hm"))
    val stats = base.groupBy("stratum").agg(sum("n_tokens").as("tot_tokens"))
      .withColumn("sq", sqrt(col("tot_tokens").cast("double")))
    val denom = stats.agg(
      aggregate(array_sort(collect_list(struct(col("stratum"), col("sq")))),
        lit(0.0), (acc, x) => acc + x.getField("sq")).as("denom"))
    val budgets = stats.crossJoin(denom)
      .select(col("stratum"), col("tot_tokens"),
        (lit(totalTokens.toDouble) * col("sq") / col("denom")).as("budget"))
    // double-first multiply: see tokenMixture — Long hm * tot_tokens
    // overflows at ~10^13 tokens/stratum under ANSI mode.
    val prefiltered = base.join(broadcast(budgets), Seq("stratum"))
      .where(col("hm").cast("double") * col("tot_tokens").cast("double") <
        lit(hashMod.toDouble * overSample) * col("budget"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy(col("hm").asc, col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    prefiltered
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where((col("cum_tokens") - col("n_tokens")).cast("double") < col("budget"))
      .select(col("id"), col("stratum"), col("n_tokens"), col("cum_tokens"))
  }

  /**
   * P28++ — EPOCH-CAPPED token mixture (the data-constrained regime of
   * Muennighoff et al. 2023, "Scaling Data-Constrained Language
   * Models"): when a stratum's token budget w_s·B exceeds its actual
   * mass T_s, the plain mixture silently under-delivers (selection
   * without replacement can't exceed one epoch); the production answer
   * is to REPEAT the stratum — but only up to `maxEpochs` passes,
   * because repeated data decays in value (the paper's ~4-epoch rule).
   * Each stratum therefore emits:
   *   full epochs  f_s = min(maxEpochs, floor(budget_s / T_s))  — every
   *     document, epoch-stamped 0..f_s-1 (no ordering, no window);
   *   one partial epoch (epoch = f_s, only if f_s < maxEpochs and
   *     budget remains): the tokenMixture hash-order prefix cut against
   *     the REMAINING budget budget_s − f_s·T_s.
   * Delivered tokens per stratum = min(budget_s, maxEpochs·T_s), and
   * every arithmetic step (one multiply for the budget, floor of a
   * double division for f_s, one multiply-subtract for the remainder)
   * is a single IEEE operation the SQL oracle reproduces exactly.
   *
   * Scale shape: the per-stratum stats join is a broadcast (strata are
   * few); full epochs are a pure explode projection — NO window touches
   * them, so a 4-epoch stratum costs 4 narrow output rows per doc, not
   * a 4× window sort; only the partial epoch pays the per-stratum
   * cumsum window, and the same hash-threshold prefilter as
   * tokenMixture bounds what that window sees.
   * Output: (id, epoch, stratum, n_tokens).
   */
  def tokenMixtureCapped(docs: DataFrame, weights: Map[String, Double],
                         totalTokens: Long, maxEpochs: Int = 4,
                         strataCol: String = "source", overSample: Int = 4,
                         hashMod: Int = 1 << 20, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val toks = size(regexp_extract_all(lower(col(textCol)), lit(BpeTokenPattern),
      lit(0))).cast("long")
    val base = docs.select(col(idCol).as("id"), col(strataCol).as("stratum"),
      toks.as("n_tokens"),
      pmod(idHash(col(idCol)), lit(hashMod.toLong)).as("hm"))
    val wMap = typedLit(weights)
    val budget = element_at(wMap, col("stratum")) * lit(totalTokens.toDouble)
    // materialized (tiny: one row per stratum): both union branches — the
    // full-epoch explode and the partial-epoch window — consume it, and
    // without the cache each branch would re-run the corpus-wide stats
    // aggregation (a second full scan + shuffle at 100 TB)
    val stats = SelfJoinMaterialize(
      base.groupBy("stratum").agg(sum("n_tokens").as("tot_tokens"))
        .where(col("tot_tokens") > 0 &&
          element_at(wMap, col("stratum")).isNotNull)
        .select(col("stratum"), col("tot_tokens"), budget.as("budget"),
          least(lit(maxEpochs.toDouble),
            floor(budget / col("tot_tokens").cast("double"))).cast("long")
            .as("full_epochs"))
        .withColumn("partial_budget",
          when(col("full_epochs") < maxEpochs,
            col("budget") -
              col("full_epochs").cast("double") * col("tot_tokens").cast("double"))
            .otherwise(lit(0.0))))
    val joined = base.join(broadcast(stats), Seq("stratum"))
    val fullRows = joined.where(col("full_epochs") > 0)
      .select(col("id"),
        explode(sequence(lit(0L), col("full_epochs") - 1)).as("epoch"),
        col("stratum"), col("n_tokens"))
    // double-first multiply: see tokenMixture — Long hm * tot_tokens
    // overflows at ~10^13 tokens/stratum under ANSI mode.
    val partial = joined.where(col("partial_budget") > 0.0 &&
      col("hm").cast("double") * col("tot_tokens").cast("double") <
        lit(hashMod.toDouble * overSample) * col("partial_budget"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy(col("hm").asc, col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val partialRows = partial
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where((col("cum_tokens") - col("n_tokens")).cast("double") <
        col("partial_budget"))
      .select(col("id"), col("full_epochs").as("epoch"),
        col("stratum"), col("n_tokens"))
    fullRows.unionAll(partialRows)
  }

  // ---------------- P25 (registered query key: p26_contamination)
  /**
   * Benchmark decontamination: for every document, the fraction of its
   * DISTINCT n-gram shingles that appear anywhere in the benchmark
   * corpus — the standard check that held-out eval data did not leak
   * into the training set. Callers drop docs above a threshold.
   *
   * Scale shape: the benchmark shingle set is small (eval suites are
   * KBs-to-MBs against a 100 TB corpus) and materialized with stats, so
   * the hit-join broadcasts it; the corpus side is one explode +
   * per-doc count, keyed by doc id — no skew, no corpus shuffle beyond
   * the per-id aggregation. (At extreme benchmark sizes the same shape
   * works as a bloom-filter semi-join; the equi-join is the exact form.)
   * Output: (id, n_shingles, n_contaminated, contamination).
   */
  def contamination(docs: DataFrame, benchmark: DataFrame, n: Int = 3,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val bench = SelfJoinMaterialize(
      Dedup.shingleSets(benchmark, n, textCol, idCol)
        .select(explode(col("shingles")).as("shingle")).distinct())
    val sets = Dedup.shingleSets(docs, n, textCol, idCol)
    val totals = sets.select(col("id"),
      size(col("shingles")).cast("long").as("n_shingles"))
    val hits = sets.select(col("id"), explode(col("shingles")).as("shingle"))
      .join(bench, Seq("shingle"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_contaminated"))
    totals.join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(when(col("n_shingles") > 0,
          coalesce(col("n_contaminated"), lit(0L)).cast("double")
            / col("n_shingles").cast("double")).otherwise(lit(0.0)), 6)
          .as("contamination"))
  }

  /**
   * P25 at extreme scale — the Bloom-filter variant of `contamination`:
   * when the held-out benchmark's exact shingle set is too large to
   * broadcast, fold it into an m-bit Bloom filter (ONE aggregation over
   * the benchmark; the artifact is O(numBits/8) bytes regardless of
   * benchmark size) and test corpus shingles against that. Bloom
   * filters have no false negatives, so every exactly-contaminated
   * shingle is flagged — `n_flagged >= n_contaminated` row-wise (spec
   * pins it against the exact operator); false positives inflate
   * counts by ~the filter's fpp, the right direction for a
   * drop-if-contaminated policy and tunable via `numBits`.
   *
   * Implementation: Spark's native `BloomFilterAggregate` /
   * `BloomFilterMightContain` expressions (the machinery behind runtime
   * join row-filtering), reached through the graftglue Bridge — both
   * codegen-capable. The built filter is collected and re-embedded as a
   * binary literal (`might_contain` requires a constant or scalar
   * subquery; the collect is the bounded-artifact pattern the ANN
   * quantizers use — driver cost is numBits/8 bytes, ~1 MB at the
   * default). No SQL oracle: the bit layout is engine-specific, so the
   * key registers rows-only and correctness is pinned by the spec
   * equivalence to `contamination` instead.
   * Output: (id, n_shingles, n_flagged, contamination_ub).
   */
  def contaminationBloom(docs: DataFrame, benchmark: DataFrame, n: Int = 3,
                         expectedItems: Long = 1000000L, numBits: Long = 1L << 23,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graftglue.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val benchShingle = Dedup.shingleSets(benchmark, n, textCol, idCol)
      .select(explode(col("shingles")).as("shingle")).distinct()
    val bloomAgg = Bridge.column(
      new BloomFilterAggregate(Bridge.expression(xxhash64(col("shingle"))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bfRow = benchShingle.agg(bloomAgg.as("bf")).collect()(0)
    val bf = if (bfRow.isNullAt(0)) null else bfRow.getAs[Array[Byte]](0)
    val sets = Dedup.shingleSets(docs, n, textCol, idCol)
    val totals = sets.select(col("id"),
      size(col("shingles")).cast("long").as("n_shingles"))
    val mightContain =
      if (bf == null) lit(false) // empty benchmark: nothing can be flagged
      else Bridge.column(BloomFilterMightContain(Literal(bf, BinaryType),
        Bridge.expression(xxhash64(col("shingle")))))
    val flagged = sets.select(col("id"), explode(col("shingles")).as("shingle"))
      .where(mightContain)
      .groupBy("id").agg(count(lit(1)).as("n_flagged"))
    totals.join(flagged, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        round(when(col("n_shingles") > 0,
          coalesce(col("n_flagged"), lit(0L)).cast("double")
            / col("n_shingles").cast("double")).otherwise(lit(0.0)), 6)
          .as("contamination_ub"))
  }

  /**
   * Quality-WEIGHTED deterministic sampling — the importance-sampling
   * complement of `stratifiedSample`: each document's acceptance
   * probability is its own quality weight (clamped to [0, 1]), decided
   * by the same portable id-hash used everywhere else, so the sample is
   * exactly reproducible at any scale and in any engine — no RNG, no
   * seed plumbing, and re-running on a grown corpus keeps every
   * previous decision (documents are accepted/rejected independently).
   * This is the CCNet-style "keep good text with high probability,
   * tail-sample the rest" curation step as a pure filter.
   *
   * Scale shape: one narrow scan — the weight expression and the hash
   * threshold fuse into the input's projection; no shuffle, no state.
   *
   * Returns surviving rows: (id, weight).
   */
  def qualityWeightedSample(docs: DataFrame,
                            weightCol: String = "quality_score",
                            hashMod: Long = 1000003L,
                            idCol: String = "doc_id"): DataFrame = {
    val w = round(least(lit(1.0), greatest(lit(0.0), col(weightCol))), 6)
    docs
      .select(col(idCol).as("id"), w.as("weight"),
        (idHash(col(idCol)) % hashMod).as("hm"))
      .where(col("hm").cast("double") < col("weight") * hashMod)
      .select("id", "weight")
  }

  /**
   * Quality-percentile thresholding — "keep the top keepFrac of the
   * corpus by quality score" (the FineWeb/DCLM-style classifier-score
   * cut, expressed against any per-doc score column). An exact global
   * percentile is a full sort — non-viable at corpus scale — so the
   * threshold comes from a BUCKETED histogram: scores quantize to
   * `buckets` fixed cells, the per-cell counts (an O(buckets) driver
   * artifact, corpus-size-independent) pick the HIGHEST cell whose
   * suffix count still covers ceil(keepFrac * N), and the corpus keeps
   * every doc at or above that cell. Kept fraction therefore lands
   * within one cell width of the target (over, never under) — the
   * documented quantization trade, like stratifiedSample's hashMod.
   *
   * Portability: cells are floor(score * buckets) clamped to
   * [0, buckets] — one correctly-rounded multiply + floor, identical
   * in any IEEE engine; the target is ceil(N * keepFrac) on exact
   * integer-valued doubles.
   *
   * Scale shape: one narrow scan + a ≤(buckets+1)-key aggregation for
   * the histogram; the cutoff filter fuses into a second scan's
   * projection. No sort, no window, no shuffle of the corpus.
   * Returns kept rows: (id, score, qbucket).
   */
  def qualityPercentileFilter(docs: DataFrame, keepFrac: Double = 0.5,
                              buckets: Int = 1000,
                              scoreCol: String = "quality_score",
                              idCol: String = "id"): DataFrame = {
    val qb = least(greatest(
      floor(col(scoreCol) * buckets).cast("long"), lit(0L)), lit(buckets.toLong))
    val hist = docs.select(qb.as("qb"))
      .groupBy("qb").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = hist.valuesIterator.sum
    val target = math.ceil(n * keepFrac).toLong
    // target == 0 (keepFrac = 0.0, or an empty corpus) keeps NOTHING:
    // without this guard the suffix fold fires at the very first cell and
    // returns cutoff = buckets, silently keeping score >= 1.0 docs and
    // diverging from the oracle's coalesce(max, 0) = 0 cutoff (r10 advice).
    if (target == 0L)
      return docs.select(col(idCol).as("id"), col(scoreCol).as("score"),
        qb.as("qbucket")).where(lit(false))
    // highest cell whose suffix count (docs scoring >= cell) covers the
    // target
    val cutoff = (buckets.to(0, -1)).foldLeft((0L, Option.empty[Long])) {
      case ((acc, found), b) =>
        val acc2 = acc + hist.getOrElse(b.toLong, 0L)
        (acc2, found.orElse(if (acc2 >= target) Some(b.toLong) else None))
    }._2.getOrElse(0L)
    docs.select(col(idCol).as("id"), col(scoreCol).as("score"), qb.as("qbucket"))
      .where(col("qbucket") >= cutoff)
  }

  /**
   * DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
   * arXiv:2302.03169): keep raw-corpus documents whose hashed-n-gram
   * feature distribution looks like a TARGET domain. Importance weight
   * w(x) = p_target(x) / p_raw(x) under bag-of-hashed-bigrams models;
   * selection is deterministic hash-Bernoulli thinning with acceptance
   * probability min(1, w * acceptScale) — the paper's Gumbel top-k
   * replaced by the portable id-hash so the decision is shuffle-free,
   * reproducible, and stable under corpus growth (the same substitution
   * `qualityWeightedSample` makes). `isTarget` is a row PREDICATE over
   * the input (e.g. a language or quality flag), not a second corpus:
   * target counts ride the raw-count pass as a conditional aggregate.
   *
   * Determinism/portability: the paper scores sum-of-log ratios; logs
   * are not bit-portable across engines, so the weight here is the MEAN
   * per-feature probability ratio — the same signal, IEEE-exact (the
   * `unigramScore` dodge). Add-1 smoothing over `buckets` hash buckets:
   * ratio(b) = ((ct_b+1)*(Tr+B)) / ((cr_b+1)*(Tt+B)) — integer-valued
   * double products below 2^53 (exact) and ONE correctly-rounded
   * division, identical in any IEEE engine; the in-doc sum is an
   * ordered left fold.
   *
   * Scale shape (the paper's own pitch — hashing keeps selection
   * linear): training is ONE uniform groupBy over at most `buckets`
   * keys (map-side combine absorbs hot buckets); the artifact is O(B)
   * integers independent of corpus size, embedded as literals; scoring
   * + selection is one narrow scan, zero shuffle, no RNG. Docs with
   * < 2 tokens have no features and are excluded (the dedup operators'
   * domain convention).
   *
   * Returns accepted rows: (id, n_grams, dsir_weight).
   */
  def dsirSample(docs: DataFrame, isTarget: Column, buckets: Int = 4096,
                 hashMod: Long = 1000003L, acceptScale: Double = 0.25,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    dsirApply(docs, dsirTrain(docs, isTarget, buckets, textCol),
      hashMod, acceptScale, textCol, idCol)

  /** The DSIR bucket models: raw and target hashed-bigram counts plus
   * their totals — the O(buckets) trained artifact. */
  final case class DsirModel(cr: Seq[Long], ct: Seq[Long], tr: Long, tt: Long) {
    def buckets: Int = cr.length
  }

  /** Train the DSIR bucket models in ONE pass: raw counts and target
   * counts (a conditional aggregate over the same rows) from a single
   * uniform groupBy over at most `buckets` keys. */
  def dsirTrain(docs: DataFrame, isTarget: Column, buckets: Int = 4096,
                textCol: String = "text"): DsirModel = {
    val grams = HE.wordShingles(TF.tokens(col(textCol)), 2)
    val counts = docs
      .select(isTarget.cast("boolean").as("tgt"), explode(grams).as("g"))
      .select(col("tgt"), pmod(TF.tokenCode(col("g")), lit(buckets.toLong)).as("b"))
      .groupBy("b")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("tgt"), lit(1L)).otherwise(lit(0L))).as("ct"))
      .collect()
    val cr = Array.fill(buckets)(0L)
    val ct = Array.fill(buckets)(0L)
    counts.foreach { r =>
      val b = r.getLong(0).toInt; cr(b) = r.getLong(1); ct(b) = r.getLong(2)
    }
    // Bit-portability contract (r10 advice): the ratio's integer-valued
    // double products (c+1)*(T+B) are EXACT only below 2^53. That holds
    // to ~10^8x the sf0.1 gram count, but a corpus past it would quietly
    // degrade Spark/oracle hash parity — so assert the bound instead.
    val maxC = math.max(cr.max, ct.max)
    val maxT = math.max(cr.sum, ct.sum)
    require(BigInt(maxC + 1) * BigInt(maxT + buckets) < (BigInt(1) << 53),
      s"DSIR exact-arithmetic bound exceeded: (maxCount+1)*(total+buckets) = " +
        s"${BigInt(maxC + 1) * BigInt(maxT + buckets)} >= 2^53; shard the " +
        "training corpus or raise `buckets` to keep scores bit-portable")
    DsirModel(cr.toSeq, ct.toSeq, cr.sum, ct.sum)
  }

  /** Score + select against a trained model — a STATELESS projection
   * (literal count arrays, no joins, no shuffle), so it runs unchanged
   * over a batch frame or a Structured Streaming frame: the production
   * continual-curation shape is train-once, filter-forever. Scoring
   * runs through the native `dsir_score` expression (one tight loop
   * per row); `dsirScoreHof` below is the bit-identical Column-composed
   * twin the equivalence spec checks. */
  def dsirApply(docs: DataFrame, model: DsirModel,
                hashMod: Long = 1000003L, acceptScale: Double = 0.25,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = col("toks")
    val scored = HE.dsirScore(HE.wordShingles(toks, 2),
      model.ct.toArray, model.cr.toArray, model.tr, model.tt)
    docs.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("toks"))
      // The score rides through a one-element explode: a Generate is a
      // predicate-pushdown barrier, so the acceptance filter below CANNOT
      // be substituted-and-pushed beneath this projection (which would
      // re-evaluate dsir_score 2-3x per row and drag the expensive filter
      // under the source's parallelism spread — the r10 p63/p67 plan
      // defect). dsir_score now runs exactly once per row, post-spread;
      // PlanAuditSpec pins the single occurrence. The domain test (at
      // least one bigram) rides the same explode, so the tokens, projected
      // once, are not split again in a pushed-down Filter.
      .select(col("id"), pmod(idHash(col("id")), lit(hashMod)).as("hm"),
        explode(when(size(toks) >= 2, array(scored))).as("sc"))
      .withColumn("w", col("sc.s") / col("sc.n").cast("double"))
      .where(col("hm").cast("double")
        < least(lit(1.0), col("w") * acceptScale) * hashMod)
      .select(col("id"), col("sc.n").as("n_grams"),
        round(col("w"), 6).as("dsir_weight"))
  }

  /** The Column-composed scoring twin of the native `dsir_score`
   * expression — same integer products, same single division per gram,
   * same ordered fold, so the two are bit-identical (spec-pinned).
   * Kept as the readable reference semantics; the native expression is
   * the production path (the HOF evaluates an interpreted lambda with
   * an md5 + two literal-array probes per gram).
   * Exact-integer doubles: counts and totals are bounded by the corpus
   * gram count (~1e7 at sf0.1), so (c+1)*(T+B) < 2^53 stays exact and
   * the single division is correctly rounded — bit-portable. */
  private[graft] def dsirScoreHof(grams: Column, model: DsirModel): Column = {
    val buckets = model.buckets
    val crLit = typedLit(model.cr)
    val ctLit = typedLit(model.ct)
    def ratio(gr: Column): Column = {
      val b = pmod(TF.tokenCode(gr), lit(buckets.toLong)).cast("int")
      ((element_at(ctLit, b + 1) + lit(1L)).cast("double")
        * lit((model.tr + buckets).toDouble)) /
        ((element_at(crLit, b + 1) + lit(1L)).cast("double")
          * lit((model.tt + buckets).toDouble))
    }
    aggregate(grams,
      struct(lit(0L).as("n"), lit(0.0).as("s")),
      (acc, gr) => struct((acc.getField("n") + lit(1L)).as("n"),
        (acc.getField("s") + ratio(gr)).as("s")))
  }

  /**
   * Cluster-balanced sampling — k-means domain DISCOVERY over the
   * embedding column plus per-cluster deterministic downsampling: the
   * `stratifiedSample` semantics with a LEARNED stratum (nearest
   * trained centroid) instead of a given column. This is the standard
   * pretraining-mixture move when no domain labels exist (cluster the
   * corpus, then balance the clusters so no single mode dominates the
   * mixture — the cluster framing SemDeDup/D4 build on).
   *
   * Scale shape: the quantizer is the ANN stack's bounded-sample
   * deterministic k-means (O(sampleN*dim) driver artifact, centroids as
   * literals); assignment is the zero-shuffle per-row argmax
   * projection; balancing reuses the two-phase stratified plan — hash
   * prefilter scaled by broadcast per-cluster counts, exact rank window
   * only over the ~overSample*perCluster sliver. The corpus is scanned
   * once and only the prefiltered sliver is shuffled.
   *
   * Returns (id, centroid_id, n_stratum, sample_rank).
   */
  def clusterBalancedSample(embs: DataFrame, perCluster: Int,
                            nClusters: Int = 16, overSample: Int = 4,
                            hashMod: Int = 1 << 20,
                            trainIters: Int = 2, trainSample: Int = 256,
                            vecCol: String = "embedding",
                            idCol: String = "vec_id"): DataFrame =
    Ann.encodedAssignOpt(embs, nClusters, trainIters, trainSample,
      vecCol, idCol) match {
      case None =>
        embs.select(col(idCol).cast("long").as("id"),
          lit(0L).as("centroid_id"), lit(0L).as("n_stratum"),
          lit(0L).as("sample_rank")).limit(0)
      case Some(assigned) =>
        stratifiedSample(assigned.select(col("id"), col("centroid_id")),
          strataCol = "centroid_id", perStratum = perCluster,
          overSample = overSample, hashMod = hashMod, idCol = "id")
          .select(col("id"), col("centroid_id"), col("n_stratum"),
            col("sample_rank"))
    }

  /**
   * The full curation pipeline as ONE composed operator — the flagship
   * end-to-end shape a training-data build actually runs, in the real
   * production order:
   *
   *   1. C4 line filter (line-level prose heuristics; needs the raw
   *      line structure, so it runs FIRST), dropping documents the C4
   *      doc-level signals flag (lorem-ipsum placeholder, leaked code
   *      braces) or that lose every line;
   *   2. character cleaning (control chars, whitespace collapse);
   *   3. PII redaction (emails/phones to typed placeholders);
   *   4. Gopher document-quality rules on the redacted text, keeping
   *      passing docs — `passthrough` carries the text so no re-join;
   *   5. exact dedup of the final text, keep-min-id.
   *
   * Stages 1-4 are narrow projections that fuse into a SINGLE scan
   * (gopherRules' passthrough is what avoids a metrics-to-text re-join
   * on id); stage 5 is the pipeline's ONLY exchange — one window over
   * the uniform 16-byte content hash (keep-min-id + group size in the
   * same partitioning). Whole pipeline at 100 TB: one pass over the
   * corpus plus one hash-keyed shuffle of the survivors.
   *
   * Returns one row per surviving document:
   * (id, content_hash, n_tokens, n_dups, final_text).
   */
  def curationPipeline(docs: DataFrame, minWords: Int = 50,
                       stopwords: Seq[String] = TextAnalysis.GopherStopwords,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val q = curationStages(docs, minWords, stopwords, textCol, idCol)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash")
    q.withColumn("rn", row_number().over(byHash.orderBy("id")))
      .withColumn("n_dups", count(lit(1)).over(byHash))
      .where(col("rn") === 1)
      .select(col("id"), col("content_hash"), col("n_tokens"),
        col("n_dups"), col("final_text"))
  }

  /** Stages 1-4 of `curationPipeline` (everything BEFORE the dedup
   * exchange): line filter + C4 doc drops → clean → redact → Gopher
   * keep, plus the content hash. All narrow projections fusing to one
   * scan, and STATELESS — so this exact composition also runs under
   * Structured Streaming unchanged (the streaming pipeline key), where
   * the dedup becomes a hash-keyed streaming aggregation instead of a
   * window. Returns (id, final_text, n_tokens, content_hash). */
  private def rowBarrier(df: DataFrame): DataFrame = RowBarrier(df)

  def curationStages(docs: DataFrame, minWords: Int = 50,
                     stopwords: Seq[String] = TextAnalysis.GopherStopwords,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    // Barrier discipline (r20, measured): without the two barriers the
    // verdict filters PUSH DOWN through every stage projection,
    // substituting the full line-filter→clean→redact expression chain
    // into the condition per referenced metric — the formatted plan
    // carried SIXTEEN copies of the chain, i.e. ~16 evaluations of the
    // whole regex cascade per input row. The flag-where and the
    // passes-where now reference GENERATE OUTPUT, which pushdown cannot
    // cross, and the in-between stages are single-reference projections
    // the CollapseProject cost guard already keeps apart: the chain and
    // the tokenization each evaluate ONCE per row. Both barriers are
    // stateless Generates, so the composition stays streaming-legal
    // (p58/p75 drain it unchanged).
    val lf = rowBarrier(
      TextAnalysis.lineFilter(docs, textCol = textCol, idCol = idCol)
        .select(col("id"), col("has_lorem"), col("has_braces"),
          col("n_kept"), col("filtered_text")))
      .where(!col("has_lorem") && !col("has_braces") && col("n_kept") > 0)
    val cl = TextAnalysis.cleaned(lf, textCol = "filtered_text", idCol = "id")
    val rd = TextAnalysis.redacted(cl, textCol = "clean_text", idCol = "id")
    val gp = TextAnalysis.gopherRules(rd, minWords = minWords,
      stopwords = stopwords, textCol = "redacted_text", idCol = "id",
      passthrough = Seq("redacted_text"))
    rowBarrier(
      gp.select(col("id"), col("redacted_text"), col("n_words"),
        col("passes")))
      .where(col("passes"))
      .select(col("id"), col("redacted_text").as("final_text"),
        col("n_words").as("n_tokens"))
      .withColumn("content_hash", md5(col("final_text")))
  }

  /** The dedup stage of the curation pipeline as a STREAMING-legal
   * aggregation: a running (min-id, count, text) per content hash.
   * Value-identical to the batch window once all input is consumed —
   * every text in a hash group is byte-identical (the hash IS md5 of
   * the text), so min(text)/min(n_tokens) are THE text and token count,
   * and min(id)/count are exactly the window's keep-min-id + group
   * size. In production this runs in update mode into an upsert sink
   * (the running min/count per key is the whole state — O(distinct
   * hashes), the same state a batch shuffle would materialize); the
   * registered key drains with Complete mode into a memory sink, which
   * is the same aggregate at bounded fixture scale. */
  def curationDedupAgg(staged: DataFrame): DataFrame =
    staged.groupBy(col("content_hash"))
      .agg(min(col("id")).as("id"), min(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_dups"), min(col("final_text")).as("final_text"))
      .select(col("id"), col("content_hash"), col("n_tokens"),
        col("n_dups"), col("final_text"))

  /** Per-pack fill summary over packSequences output — the shape a
   * packing-efficiency report reads (docs per pack, fill vs budget). */
  def packStats(packed: DataFrame): DataFrame =
    packed.groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /**
   * Supervised quality-classifier training — the DCLM/FineWeb-Edu
   * "fastText classifier" step: a cheap model distills an expensive
   * per-document judgment (rule verdict, LLM grade, curated-seed
   * membership) from a LABELED seed set, then filters the full corpus.
   * The model is a binary Naive Bayes over hashed-bigram features,
   * reusing the DSIR bucket machinery (Xie et al. 2023 use the same
   * feature space); the contrast is POSITIVE vs NEGATIVE seed docs,
   * where DSIR contrasts target vs the whole raw corpus.
   *
   * Trained in ONE pass (dsirTrain's single uniform groupBy over ≤
   * `buckets` keys, map-side combine); the (all, positive) counts it
   * returns are re-based to (negative, positive) by subtraction, so the
   * scoring ratio below is the per-feature NB likelihood ratio
   * P(b|pos)/P(b|neg) with add-1 smoothing — same exact-integer
   * arithmetic, same 2^53 bit-portability bound (asserted in dsirTrain).
   */
  def classifierTrain(labeled: DataFrame, isPositive: Column,
                      buckets: Int = 4096,
                      textCol: String = "text"): DsirModel = {
    val m = dsirTrain(labeled, isPositive, buckets, textCol)
    DsirModel(m.cr.zip(m.ct).map { case (all, pos) => all - pos }, m.ct,
      m.tr - m.tt, m.tt)
  }

  /**
   * Classifier APPLY: score every document by the mean per-feature
   * likelihood ratio (the bit-portable surrogate of NB log-odds — the
   * dsirScore dodge: mean of ratios instead of sum of logs) and keep
   * docs at or above `threshold`. 1.0 means "looks more like the
   * positive seed than the negative seed on average".
   *
   * A STATELESS projection over literal count arrays — no joins, no
   * shuffle, one narrow scan through the native `dsir_score`
   * expression — so like dsirApply it runs unchanged over a batch or
   * streaming frame: train-once, filter-forever. The seed and the
   * scored corpus are DIFFERENT frames (train/apply generalization),
   * which is what separates this from DSIR's self-referential
   * target-vs-raw resampling; the decision is a plain threshold, not
   * hash-Bernoulli acceptance.
   *
   * Returns kept rows: (id, n_grams, quality_score).
   */
  def classifierFilter(docs: DataFrame, model: DsirModel,
                       threshold: Double = 1.0, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val toks = col("toks")
    val scored = HE.dsirScore(HE.wordShingles(toks, 2),
      model.ct.toArray, model.cr.toArray, model.tr, model.tt)
    docs.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("toks"))
      // one-element explode = Generate barrier, exactly as in dsirApply:
      // keeps the threshold filter from being substituted-and-pushed
      // below the score projection (the r10 double-eval defect), and
      // carries the domain test so the tokens are split once.
      .select(col("id"), explode(when(size(toks) >= 2, array(scored))).as("sc"))
      .withColumn("w", col("sc.s") / col("sc.n").cast("double"))
      .where(col("w") >= threshold)
      .select(col("id"), col("sc.n").as("n_grams"),
        round(col("w"), 6).as("quality_score"))
  }

  /**
   * Fixed-size token-window chunking with stride — the long-document
   * splitting step a pretraining/RAG pipeline runs between curation and
   * packing: each document's token sequence becomes windows of
   * `chunkSize` tokens starting every `stride` tokens (overlap =
   * chunkSize − stride preserves context across boundaries, the
   * HuggingFace `return_overflowing_tokens` semantics). The last window
   * may be shorter but always contains at least one token no earlier
   * window covers (last start = ceil((n − chunkSize)/stride) · stride),
   * so no emitted chunk is redundant and no token is dropped.
   *
   * Scale shape: one narrow codegen scan + one explode — stateless, no
   * shuffle, no joins; output size is input tokens × (1 + overlap
   * fraction), linear at any corpus size.
   *
   * Returns (id, chunk_id, start_token, n_tokens, chunk_text).
   */
  def tokenChunks(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val n = size(col("t"))
    // ceil over exact small-int doubles — bit-portable (every intermediate
    // is an integer-valued double far below 2^53)
    val kMax = when(n > chunkSize,
      ceil((n - lit(chunkSize)).cast("double") / lit(stride.toDouble))
        .cast("int")).otherwise(lit(0))
    docs
      .select(col(idCol).as("id"), TF.tokens(col(textCol)).as("t"))
      .select(col("id"), col("t"), explode(sequence(lit(0), kMax)).as("k"))
      .select(col("id"), col("k").cast("long").as("chunk_id"),
        (col("k") * stride).cast("long").as("start_token"),
        slice(col("t"), col("k") * stride + 1, lit(chunkSize)).as("c"))
      .select(col("id"), col("chunk_id"), col("start_token"),
        size(col("c")).cast("long").as("n_tokens"),
        concat_ws(" ", col("c")).as("chunk_text"))
  }

  // ------------------------------------------------ corpus stats (P83)

  /**
   * Corpus statistics report — the dashboard every data team keeps in
   * front of a training corpus: per-(lang, source) document/char/token
   * counts WITH per-language subtotals and the corpus grand total, in
   * one pass via `rollup`. `grouping_id` disambiguates a subtotal row
   * from a hypothetical NULL-valued group (0 = detail, 1 = per-lang
   * subtotal, 3 = grand total). Counts and sums are exact integers —
   * no floats anywhere, so the report is bit-portable.
   *
   * Scale shape: rollup plans as ONE hash aggregation over an Expand
   * (3 grouping sets -> 3x pre-agg rows, partial-combined map-side);
   * output is O(|langs| x |sources|) — the shuffle carries subtotals,
   * never documents. Tokens use the same whitespace tokenizer as P10.
   */
  def corpusStats(docs: DataFrame, langCol: String = "lang",
                  sourceCol: String = "source", textCol: String = "text",
                  lenCol: String = "n_chars"): DataFrame =
    docs.select(col(langCol).as("lang"), col(sourceCol).as("source"),
        col(lenCol).as("nc"),
        size(graft.functions.TextFunctions.tokens(col(textCol)))
          .cast("long").as("toks"))
      .rollup("lang", "source")
      .agg(grouping_id().as("grouping_id"),
        count(lit(1)).as("n_docs"),
        sum("nc").as("n_chars_total"),
        sum("toks").as("n_tokens_total"))
      .select(col("lang"), col("source"), col("grouping_id"),
        col("n_docs"), col("n_chars_total"), col("n_tokens_total"))

  // ------------------------------------------- deterministic split (P84)

  /**
   * Deterministic hash split — train/val/test assignment as a pure
   * function of (id, salt), never of the rest of the corpus: a doc
   * keeps its split when the corpus grows, is re-filtered, or is
   * re-processed on different hardware — the leakage guarantee
   * `randomSplit` cannot give (its assignment depends on partitioning
   * and seed plumbing). Weights are integers over a common
   * denominator; bucket = md5(id:salt) mod total, split = the label
   * whose cumulative weight range holds the bucket. Changing `salt`
   * yields an independent re-split.
   *
   * Scale shape: one narrow codegen scan, zero shuffles — the split
   * column is computed where the row lives.
   */
  def hashSplit(docs: DataFrame,
                weights: Seq[(String, Int)] =
                  Seq(("train", 98), ("val", 1), ("test", 1)),
                idCol: String = "doc_id", salt: String = "v1"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val total = weights.map(_._2).sum
    val bucket = pmod(
      conv(substring(md5(concat(col(idCol).cast("string"),
        lit(":" + salt))), 1, 8), 16, 10).cast("long"), lit(total))
    val cums = weights.scanLeft(("", 0)) {
      case ((_, acc), (n, w)) => (n, acc + w)
    }.tail
    val splitCol = cums.init.foldRight(lit(cums.last._1): Column) {
      case ((name, cum), rest) => when(bucket < cum, name).otherwise(rest)
    }
    docs.withColumn("split", splitCol)
  }

  // ------------------------------------- content-defined chunks (P88)

  /**
   * Content-defined chunking (the Rabin/CDC boundary rule storage
   * dedup uses, applied to token streams): cut after every w-token
   * window whose rolling hash ≡ 0 (mod `divisor`), so boundaries are
   * functions of CONTENT, not position. The property fixed-stride
   * chunking (p71) lacks: inserting a prefix shifts every stride
   * boundary and changes every downstream chunk identity, while CDC
   * boundaries RE-SYNCHRONIZE after the edit — all later chunk hashes
   * survive, so chunk-level dedup still collapses near-identical docs
   * that differ by an insertion. Expected chunk length ≈ divisor + w.
   *
   * One narrow codegen scan per doc: the O(n) native rolling hash,
   * boundary selection, and per-chunk md5 all happen inside array
   * expressions; the only post-scan op is the explode. No shuffle.
   *
   * Output: (id, chunk_idx, start_token, n_tokens, chunk_hash).
   * Docs shorter than w tokens yield one whole-doc chunk.
   */
  def cdcChunks(docs: DataFrame, w: Int = 8, divisor: Int = 16,
                textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    require(w >= 1 && divisor >= 1, "window and divisor must be positive")
    val base = docs.select(col(idCol).as("id"),
      TF.tokens(col(textCol)).as("t"))
      .withColumn("wh", HE.windowHashes(col("t"), w))
    val cuts = transform(
      filter(sequence(lit(0), size(col("wh")) - 1),
        i => pmod(element_at(col("wh"), i + 1), lit(divisor.toLong)) === 0),
      i => i + w)
    val withBounds = base
      // guard: sequence(0, -1) is a DESCENDING range, not empty
      .withColumn("cuts", when(size(col("wh")) > 0, cuts)
        .otherwise(array().cast("array<int>")))
      // tokens() of any text is non-empty, so bounds always holds at
      // least [0, n] and the distinct only merges a final-position cut
      .withColumn("bounds", array_distinct(concat(
        array(lit(0)), col("cuts"), array(size(col("t"))))))
    val chunkStructs = transform(
      sequence(lit(0), size(col("bounds")) - 2), k => struct(
        element_at(col("bounds"), k + 1).as("start_token"),
        (element_at(col("bounds"), k + 2) -
          element_at(col("bounds"), k + 1)).as("n_tokens"),
        md5(array_join(slice(col("t"),
          element_at(col("bounds"), k + 1) + 1,
          element_at(col("bounds"), k + 2) -
            element_at(col("bounds"), k + 1)), " ")).as("chunk_hash")))
    withBounds.select(col("id"),
      posexplode(chunkStructs).as(Seq("chunk_idx", "ch")))
      .select(col("id"), col("chunk_idx").cast("long"),
        col("ch.start_token").cast("long").as("start_token"),
        col("ch.n_tokens").cast("long").as("n_tokens"),
        col("ch.chunk_hash").as("chunk_hash"))
  }

  /**
   * CDC shared-content pairs — what the chunking is FOR: two docs
   * sharing at least `minShared` content-defined chunks are
   * partial-overlap near-dups (one embeds a copy of the other, a
   * quoted passage, a syndicated section), found even when the shared
   * region sits at DIFFERENT offsets — fixed-stride chunking misses
   * exactly that case. `maxDocFreq` drops ubiquitous chunks (the
   * inverted-index frequency guard every shingle join needs: a chunk
   * in k docs costs k join rows, and a boilerplate chunk in millions
   * would be quadratic — and means nothing for pairing anyway).
   *
   * Scale shape: chunking is the p88 narrow scan; the pair derivation
   * is a bucketed self-join on chunk_hash (k rows per shared chunk,
   * never all-pairs), then one pair-keyed count.
   *
   * Output: (id_a, id_b, n_shared) with id_a < id_b.
   */
  def cdcSharedDocs(docs: DataFrame, w: Int = 8, divisor: Int = 16,
                    minShared: Int = 2, maxDocFreq: Int = 256,
                    textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    val chunks = SelfJoinMaterialize(
      cdcChunks(docs, w, divisor, textCol, idCol)
        .select(col("id"), col("chunk_hash")).distinct())
    val eligible = chunks.groupBy("chunk_hash")
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDocFreq)
      .select("chunk_hash")
    val hits = chunks.join(eligible, "chunk_hash")
    hits.as("a").join(hits.as("b"),
        col("a.chunk_hash") === col("b.chunk_hash") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  // --------------------------------------------- snapshot diff (P87)

  /**
   * Corpus snapshot diff — the planning step of every incremental
   * refresh: compare two corpus versions by CONTENT (md5 of text, not
   * timestamps or row identity) and classify every doc id as
   * added / removed / modified / unchanged. Downstream, only
   * added+modified re-enter the curation pipeline and removed ids are
   * retired from derived artifacts — the alternative is reprocessing
   * the full corpus per refresh.
   *
   * Scale shape: each side collapses to (id, content hash) inside its
   * own scan — text never crosses the wire — then ONE full outer hash
   * join on id. No window, no skew risk (ids are unique per side).
   */
  def snapshotDiff(v1: DataFrame, v2: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val a = v1.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("h1"))
    val b = v2.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("h2"))
    a.join(b, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /**
   * SFT chat-template rendering + loss-mask spans — the step that turns
   * curated conversations into supervised-finetuning examples: each
   * conversation's turns are flattened into ONE training string under a
   * fixed template, and the char ranges holding ASSISTANT content are
   * emitted as spans (the loss mask: a trainer computes loss only
   * inside them — user/system text is context, not target).
   *
   * Template (fixed, shared with the oracle):
   *   `<|role|>\n` + content + `<|end|>\n`   per turn, concatenated.
   *
   * Input: (idCol, turns: array<struct<role string, content string>>).
   * Output: one row per ASSISTANT turn —
   *   (idCol, turn_idx, span_start, span_end, n_chars_total), where
   *   substring(rendered, span_start+1, span_end-span_start) == the
   *   turn's content (0-based [start, end) offsets) and n_chars_total
   *   is the full rendered length. Conversations with no assistant
   *   turn yield no rows (nothing to train on).
   *
   * Scale shape: a narrow per-row expression tree — per-turn rendered
   * lengths, prefix sums via a bounded slice-sum (turn counts are
   * tens, never data-scale), one explode over assistant turn indices.
   * Zero shuffles, zero driver work; the rendered string itself is
   * recomputable downstream and deliberately NOT carried through the
   * explode (spans + the turns array reconstruct it).
   */
  def sftRender(convs: DataFrame, idCol: String = "conv_id",
                turnsCol: String = "turns"): DataFrame = {
    val turns = col(turnsCol)
    // rendered length of turn t: len("<|"+role+"|>\n") + len(content)
    //                            + len("<|end|>\n")
    val lens = transform(turns, t =>
      length(t.getField("role")) + lit(4) + lit(1) +
        length(t.getField("content")) + lit(8))
    val total = aggregate(lens, lit(0L), (a, x) => a + x)
    // span of turn i: start = sum(lens[0..i-1]) + header len;
    // slice-sum is O(T^2) in the TURN count — bounded, never data-scale
    val spans = filter(
      transform(turns, (t, i) =>
        struct(
          i.as("turn_idx"),
          (aggregate(slice(lens, lit(1), i), lit(0L), (a, x) => a + x) +
            length(t.getField("role")) + lit(5)).as("span_start"),
          (aggregate(slice(lens, lit(1), i), lit(0L), (a, x) => a + x) +
            length(t.getField("role")) + lit(5) +
            length(t.getField("content"))).as("span_end"),
          t.getField("role").as("role"))),
      s => s.getField("role") === "assistant")
    convs
      .select(col(idCol), total.as("n_chars_total"),
        explode(spans).as("s"))
      .select(col(idCol), col("s.turn_idx").cast("long").as("turn_idx"),
        col("s.span_start").as("span_start"),
        col("s.span_end").as("span_end"), col("n_chars_total"))
  }

  /** The template `sftRender` prices in: kept here so specs and
   * fixtures render the SAME string the span arithmetic describes. */
  def sftRendered(turns: Column): Column =
    aggregate(turns, lit(""), (acc, t) =>
      concat(acc, lit("<|"), t.getField("role"), lit("|>\n"),
        t.getField("content"), lit("<|end|>\n")))

  /**
   * Filter-evaluation threshold sweep — the "is my quality filter any
   * good" table: for each candidate threshold, the confusion counts of
   * `score >= t` against a label column (tp/fp/fn/tn as EXACT integers
   * — precision/recall are one division away and the caller picks the
   * rounding; emitting counts keeps the output engine-exact).
   *
   * Scale shape: ONE corpus scan exploded by the |T| literal
   * thresholds (a constant), one |T|-group aggregation with map-side
   * combine — no per-threshold rescans, no sort. This is how a
   * threshold is actually chosen before a filter ships (FineWeb-style
   * classifier calibration).
   * Output: (threshold, tp, fp, fn, tn) ordered by threshold.
   */
  /**
   * SFT packing with remapped loss masks — the composition that turns
   * rendered conversations into actual trainer input (p94 x p21): a
   * trainer packs many conversations into one fixed-budget context
   * window, so the per-conversation assistant spans must remap into
   * PACK coordinates or the loss mask trains on the wrong bytes.
   *
   * Packing follows packSequences' topology exactly — shard =
   * id % nShards, contiguous char-budget bins in id order within the
   * shard (running-sum div budget), a doc larger than the budget gets
   * its own pack — and each conversation's char offset within its pack
   * is its running start minus the pack's first start. Every assistant
   * span then shifts by that offset:
   *   (idCol, shard, pack_id, turn_idx, mask_start, mask_end)
   * with substring(pack_text, mask_start+1, ...) == the turn's content
   * once the pack is materialized by concatenating its members in id
   * order (recomputable downstream, deliberately not carried).
   *
   * Scale shape: per-shard rank windows (the packSequences posture —
   * no global sort), one co-keyed join of the span rows back onto the
   * pack assignment by id (both sides derive from the same source; one
   * exchange each on the id key). Char budget, not token budget: the
   * mask coordinates are char offsets into the rendered string, so the
   * budget must live in the same unit.
   */
  def sftPack(convs: DataFrame, budget: Long, nShards: Int = 8,
              idCol: String = "conv_id", turnsCol: String = "turns")
      : DataFrame = {
    require(budget > 0, "budget must be positive")
    val spans = sftRender(convs, idCol, turnsCol)
      .select(col(idCol), col("turn_idx"), col("span_start"), col("span_end"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("pack_id"))
    val packed = convs
      .select(col(idCol), pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        length(sftRendered(col(turnsCol))).cast("long").as("__n"))
      .withColumn("__cum", sum(col("__n")).over(w))
      .withColumn("pack_id", expr(s"(__cum - __n) div $budget"))
      .withColumn("__off",
        col("__cum") - col("__n") - min(col("__cum") - col("__n")).over(wp))
    packed.join(spans, Seq(idCol))
      .select(col(idCol), col("shard"), col("pack_id"), col("turn_idx"),
        (col("__off") + col("span_start")).as("mask_start"),
        (col("__off") + col("span_end")).as("mask_end"))
  }

  def thresholdSweep(scored: DataFrame, scoreCol: String,
                     labelCol: String, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val t = explode(array(thresholds.map(lit): _*)).as("threshold")
    val pred = col(scoreCol) >= col("threshold")
    val lab = col(labelCol)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    scored.select(col(scoreCol), lab, t)
      .groupBy("threshold")
      .agg(cnt(pred && lab).as("tp"), cnt(pred && !lab).as("fp"),
        cnt(!pred && lab).as("fn"), cnt(!pred && !lab).as("tn"))
  }

  /**
   * Shard manifest — the dataset-card artifact corpora ship beside the
   * shards (Dolma-style): per shard, the doc count, token mass, id
   * range, and an ORDER-INSENSITIVE content checksum (sum of 32-bit
   * md5-prefix codes of each doc's text — int64-safe to ~2^31 docs per
   * shard, and any changed/added/dropped doc moves it). A consumer
   * validates a downloaded shard against this row without trusting
   * file metadata.
   *
   * Scale shape: one scan, one shard-keyed aggregation — the checksum
   * is commutative so the map-side combine works and shard re-writes
   * in any partition order reproduce it.
   * Output: (shard, n_docs, n_tokens, min_doc_id, max_doc_id,
   * checksum) ordered by shard.
   */
  def shardManifest(docs: DataFrame, nShards: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(nShards >= 1)
    val shard = pmod(
      conv(substring(md5(concat(lit("shard:"), col(idCol))), 1, 8), 16, 10)
        .cast("long"), lit(nShards.toLong))
    val code = conv(substring(md5(col(textCol)), 1, 8), 16, 10).cast("long")
    docs
      .select(shard.as("shard"), col(idCol).as("id"),
        size(TF.tokens(col(textCol))).cast("long").as("n_toks"),
        code.as("code"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("id")).as("min_doc_id"), max(col("id")).as("max_doc_id"),
        sum(col("code")).as("checksum"))
  }

  /**
   * Preference-pair construction — the dataset-building step of
   * DPO/RLHF reward modeling: per prompt group of scored candidate
   * responses, emit (chosen, rejected) = (best, worst) with
   * deterministic tie-breaks (equal scores: chosen = smallest id,
   * rejected = largest id — so a fully-tied group still yields a
   * well-defined, distinct pair). Groups with fewer than two
   * candidates are dropped (no pair exists).
   *
   * Scale shape: ONE group-keyed aggregation — `max_by`/`min_by` over
   * a (score, ±id) struct are declarative aggregates with map-side
   * partial combine, so candidates ride exactly the one exchange the
   * semantics require and no WINDOW materializes whole groups. The
   * struct-typed ordering buffer keeps the aggregate on the Sort
   * (not Hash) strategy — a per-partition sort on the grouping key,
   * which partial combine has already shrunk to one row per (group,
   * partition); the alternative (two row_number windows) costs two
   * full sorts of the CANDIDATES.
   *
   * Scores are compared and reported on their NATIVE numeric type —
   * fractional reward scores (0.9 vs 0.2, the typical DPO input)
   * order exactly and surface unrounded in chosen_score /
   * rejected_score / margin; nothing is cast to an integer anywhere.
   *
   * Output: (group_id, chosen_id, rejected_id, chosen_score,
   * rejected_score, margin, n_candidates).
   */
  def dpoPairs(candidates: DataFrame, groupCol: String = "group_id",
               idCol: String = "id", scoreCol: String = "score")
      : DataFrame = {
    val id = col(idCol).cast("long")
    val score = col(scoreCol)
    // ordering structs: chosen = max by (score asc-ordering, then -id)
    // so ties prefer the SMALLEST id; rejected = min by (score, -id) so
    // ties prefer the LARGEST id — distinct endpoints whenever n >= 2
    val chosenKey = struct(score.as("s"), (-id).as("t"))
    candidates
      .groupBy(col(groupCol).as("group_id"))
      .agg(
        max_by(id, chosenKey).as("chosen_id"),
        min_by(id, chosenKey).as("rejected_id"),
        max(score).as("chosen_score"),
        min(score).as("rejected_score"),
        count(lit(1)).as("n_candidates"))
      .where(col("n_candidates") >= 2)
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
  }

  /**
   * N-gram decontamination (the GPT-3-report recipe): a TRAIN doc is
   * contaminated when it shares any n-gram of normalized tokens
   * (lowercased, whitespace-split) with the EVAL corpus. Exact n-gram
   * collision — no fuzziness — which is what published pipelines ship
   * for eval hygiene; n = 13 is the published default.
   *
   * Scale shape: the eval side is an EVALUATION SET — bounded by
   * construction (thousands of docs, not the corpus) — so its distinct
   * gram table broadcasts; the train side is one narrow scan
   * (tokenize + slide + array_distinct, all codegen'd) whose exploded
   * grams meet the broadcast in a semi-join shape, then one doc-keyed
   * count with map-side combine. The corpus text never rides a
   * shuffle; nothing quadratic anywhere.
   *
   * Output: one row per train doc — (id, n_contaminated_grams,
   * contaminated).
   */
  def ngramDecontaminate(train: DataFrame, eval: DataFrame, n: Int = 13,
                         idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(n >= 1)
    def grams(c: Column): Column =
      array_distinct(HE.wordShingles(filter(split(lower(c), "\\s+"), t => t =!= ""), n))
    val evalGrams = eval
      .select(explode(grams(col(textCol))).as("gram")).distinct()
    // the caller's id type rides both sides of the final join
    // UNCHANGED — casting one side only (the r14 bug) nulled every
    // string id and silently lost all contamination
    val hits = train
      .select(col(idCol).as("id"), explode(grams(col(textCol))).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_contaminated_grams"))
    train.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_contaminated_grams"), lit(0L))
          .as("n_contaminated_grams"))
      .withColumn("contaminated", col("n_contaminated_grams") > 0)
  }

  /**
   * SPAN-level n-gram decontamination — the excision half of the
   * GPT-3-report recipe ([[ngramDecontaminate]] is the doc-level
   * flagging half): instead of dropping a whole train doc on one
   * colliding n-gram, remove a `pad`-token window around EACH
   * collision and keep the rest (the report excises a fixed window
   * around every leaked eval gram, splitting the doc). Matching
   * normalizes like the flagging half (lowercased, whitespace-split);
   * the excised text keeps its ORIGINAL case — only gram comparison
   * folds case, so the surviving corpus is the input corpus minus the
   * contaminated spans, not a lowercased rewrite.
   *
   * Excision windows are [start - pad, start + n + pad) in token
   * positions, folded into disjoint merged intervals with the same
   * sorted-fold [[Dedup.spanDedupApply]] uses (constant width keeps
   * the fold's extension property: ascending starts can only extend
   * the open interval's hi), so the per-token coverage test is
   * O(#disjoint spans) however many grams collided.
   *
   * Scale shape: the eval side is an evaluation set — bounded by
   * construction — so its distinct gram table BROADCASTS; the train
   * side tokenizes once into a materialized (id, tokens) frame that
   * feeds both the hit scan and the final projection, and only
   * (id, hit-start int) pairs ride the one doc-keyed shuffle. The
   * corpus text never shuffles; nothing quadratic anywhere.
   *
   * Output: one row per train doc — (id, n_tokens, n_spans,
   * n_removed, clean_text).
   */
  def spanDecontaminate(train: DataFrame, eval: DataFrame, n: Int = 13,
                        pad: Int = 20, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(n >= 1 && pad >= 0)
    def words(c: Column): Column = filter(split(c, "\\s+"), t => t =!= "")
    def gramsOf(ws: Column): Column = HE.wordShingles(transform(ws, w => lower(w)), n)
    val evalGrams = eval
      .select(explode(array_distinct(gramsOf(words(col(textCol)))))
        .as("gram")).distinct()
    val base = SelfJoinMaterialize(
      train.select(col(idCol).as("id"), words(col(textCol)).as("toks")))
    val hitStarts = base
      .select(col("id"), posexplode(gramsOf(col("toks"))).as(Seq("s", "gram")))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .groupBy("id").agg(sort_array(collect_set(col("s"))).as("ss"))
    val zero = array().cast("array<struct<lo:long,hi:long>>")
    val iv = aggregate(col("ss"), zero, (acc, s) => {
      val sl = s.cast("long")
      val lo = greatest(sl - pad, lit(0L))
      val hi = sl + (n + pad)
      val last = element_at(acc, -1)
      when(size(acc) > 0 && last.getField("hi") >= lo,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last.getField("lo").as("lo"), hi.as("hi")))))
        .otherwise(concat(acc, array(struct(lo.as("lo"), hi.as("hi")))))
    })
    val withIv = base.join(hitStarts, Seq("id"), "left")
      .withColumn("ss", coalesce(col("ss"), array().cast("array<int>")))
      .withColumn("iv", iv)
    val kept = filter(col("toks"), (t, i) =>
      !exists(col("iv"), v =>
        v.getField("lo") <= i && i < v.getField("hi")))
    withIv
      .withColumn("kept", kept)
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("iv")).cast("long").as("n_spans"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  // ------------------------------------- fill-in-the-middle (P121)

  /**
   * Fill-in-the-middle transformation — the pretraining-data rewrite
   * that teaches a causal LM to infill (Bavarian et al. 2022,
   * "Efficient Training of Language Models to Fill in the Middle"):
   * a gated fraction of docs is split at two cut points into
   * (prefix, middle, suffix) and re-serialized with sentinel tokens so
   * the middle comes LAST; the rest pass through verbatim (the paper's
   * joint objective needs both populations).
   *
   * Everything is a pure function of (id, salt) — the house
   * deterministic-randomness discipline (hashSplit's md5 chain), so
   * the transform is reproducible, shard-order-independent, and
   * oracle-checkable:
   *   - gate:  md5(id:salt:gate)  % 100 < fimRate   -> transform
   *   - mode:  md5(id:salt:mode)  % 100 < spmRate   -> SPM else PSM
   *   - cuts:  md5(id:salt:c1|c2) % (n+1), character-level; lo/hi
   *     ordered, so middle may be empty (lo==hi) — kept, as the paper
   *     keeps degenerate splits.
   * Rendering (this library's fixed convention, shared with the
   * oracle):
   *   PSM: `pre` + prefix + `suf` + suffix + `mid` + middle
   *   SPM: `suf` + suffix + `pre` + prefix + `mid` + middle
   *
   * Output: (idCol, fim, mode 'psm'|'spm'|'plain', n_prefix, n_middle,
   * n_suffix — null when untransformed — , text). One narrow scan,
   * zero shuffles, zero UDFs; the split is char-level (the paper's
   * context-level variant), so it composes BEFORE tokenization (p41
   * BPE) exactly as production FIM pipelines order it.
   */
  def fimTransform(docs: DataFrame, fimRate: Int = 50, spmRate: Int = 50,
                   idCol: String = "doc_id", textCol: String = "text",
                   salt: String = "v1",
                   pre: String = "<|fim_prefix|>",
                   suf: String = "<|fim_suffix|>",
                   mid: String = "<|fim_middle|>"): DataFrame = {
    require(fimRate >= 0 && fimRate <= 100 && spmRate >= 0 && spmRate <= 100,
      "rates are percentages")
    val text = col(textCol)
    def h(tag: String, modulus: Column): Column = pmod(
      conv(substring(md5(concat(col(idCol).cast("string"),
        lit(s":$salt:$tag"))), 1, 8), 16, 10).cast("long"), modulus)
    val n = length(text).cast("long")
    val isFim = h("gate", lit(100)) < fimRate
    val isSpm = h("mode", lit(100)) < spmRate
    val c1 = h("c1", n + 1)
    val c2 = h("c2", n + 1)
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val prefix = text.substr(lit(1), lo.cast("int"))
    val middle = text.substr((lo + 1).cast("int"), (hi - lo).cast("int"))
    val suffix = text.substr((hi + 1).cast("int"), (n - hi).cast("int"))
    docs.select(
      col(idCol),
      isFim.as("fim"),
      when(!isFim, "plain").when(isSpm, "spm").otherwise("psm").as("mode"),
      when(isFim, lo).as("n_prefix"),
      when(isFim, hi - lo).as("n_middle"),
      when(isFim, n - hi).as("n_suffix"),
      when(!isFim, text)
        .when(isSpm, concat(lit(suf), suffix, lit(pre), prefix, lit(mid), middle))
        .otherwise(concat(lit(pre), prefix, lit(suf), suffix, lit(mid), middle))
        .as("text"))
  }
}
