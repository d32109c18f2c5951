package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions => HE, TextFunctions => TF, VectorFunctions => VF}

/** Shared helper: eagerly materialize a frame that feeds BOTH sides of a
 * self-join. Without this, Catalyst's projection collapse inlines the
 * (expensive, deterministic) hash expressions into every downstream
 * reference, so signatures would be recomputed once per join side and
 * per band. persist-and-count (rather than checkpoint) is deliberate:
 * the materialized InMemoryRelation carries accurate size statistics,
 * so the planner broadcast-joins the candidate table while it is small
 * and switches to a shuffled join when it isn't — the scale-adaptive
 * behavior a checkpointed (stats-less) RDD would forfeit.
 *
 * Lifecycle: each persist registers in `OperatorCaches`; the cache is
 * plan-keyed, so repeating the SAME query reuses one entry, but a
 * long-lived session running many DIFFERENT queries accumulates one
 * InMemoryRelation per distinct plan. Entry points that are done with a
 * result call `OperatorCaches.drainMaterialized()` (Verify does per
 * key; Bench at end of run, asserting the cache manager empties) —
 * unpersist is always safe, Spark lazily recomputes if a frame is
 * somehow still referenced. */
private[operators] object SelfJoinMaterialize {
  def apply(df: DataFrame): DataFrame = withCount(df)._1

  /** Same materialization, surfacing the count the materializing
   * action already computed — callers that need the row count must
   * not schedule a second count job over the cached frame
   * (review-caught). */
  def withCount(df: DataFrame): (DataFrame, Long) = {
    // idempotent: a frame the caller already persisted (e.g. a guarded
    // one-hop result) keeps its level; the count still materializes it.
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      OperatorCaches.register(df)
    }
    (df, df.count())
  }
}

/** Row-preserving plan barrier (the langIdApply one-element-explode
 * dodge, generalized): pack the row into a struct, explode the
 * 1-element array, unpack. The Generate blocks BOTH duplication
 * mechanisms Catalyst has for heavy projected trees — CollapseProject
 * inlining, and filter-PUSHDOWN substitution, which rewrites a pushed
 * condition by inlining every referenced alias's whole expression tree
 * (so a `where` over k computed columns evaluates each column's chain
 * again inside the filter). A filter above the barrier references
 * generator output, which pushdown cannot cross. Row set, values, and
 * ordering semantics are identical; the Generate codegens and is
 * streaming-legal. Cost: one struct pack/unpack per row. */
private[graft] object RowBarrier {
  def apply(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    df.select(explode(array(struct(cols.map(col): _*))).as("__rb"))
      .select(cols.map(c => col("__rb." + c).as(c)): _*)
  }
}

/** Session-level registry of operator-materialized frames (see
 * SelfJoinMaterialize) with an explicit drop point for long-running
 * processes. */
object OperatorCaches {
  private val frames =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  private[operators] def register(df: DataFrame): Unit = frames.add(df)

  /** Unpersist every registered frame; returns how many were dropped.
   * Safe while queries are mid-flight (lazy recompute), intended after
   * results are consumed. A frame of a stopped SparkContext is dropped
   * without an unpersist (its cache went with the context). */
  def drainMaterialized(): Int = {
    var n = 0
    var df = frames.poll()
    while (df != null) {
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
      n += 1
      df = frames.poll()
    }
    n
  }
}

/**
 * Deduplication operators for large-scale text/embedding corpora
 * (SURVEY.md §2 P1-P5). These go beyond the reference engine: they are the
 * operators an LLM-training-data pipeline needs at 100 TB.
 *
 * Scale design notes (what decides 100 TB viability is the JOIN TOPOLOGY,
 * not the per-row hashing):
 *
 *  - Exact dedup (P1) is one hash-keyed groupBy — the only shuffle is on
 *    md5(text), uniformly distributed, map-side partial aggregation applies.
 *  - N-gram Jaccard (P2) uses an inverted-index join: explode distinct
 *    shingles, self-join on the shingle value, count co-occurrences per
 *    pair. Never all-pairs. A document-frequency cutoff drops ubiquitous
 *    shingles (the skew/stopword guard — a shingle shared by k docs
 *    produces k^2 join rows).
 *  - MinHash+LSH (P3) is the classic banded explode + self-join on
 *    (band_index, band_hash): cost is O(candidates), not O(n^2), and band
 *    hashes are uniform so the shuffle has no skew. Candidates are then
 *    scored by signature agreement — no second pass over raw text.
 *  - SimHash (P4) bands the 32-bit fingerprint into 4 bytes; documents
 *    within Hamming distance 3 of each other must agree on at least one
 *    full byte only if the <=3 flipped bits fall outside it — with 4 bands
 *    and <=3 flips the pigeonhole guarantees one untouched band, so
 *    banding is recall-lossless for maxHamming <= 3.
 *  - Embedding near-dup (P5) exact mode is a quadratic self-join — correct
 *    but only for modest partitions; the scale path is sign-LSH bucketing
 *    (`bucketed = true`, same join topology as P7 ANN).
 *
 * Everything is codegen'd Column expressions over md5-based portable token
 * codes (TextFunctions), so every operator has a bit-exact DuckDB oracle.
 */
object Dedup {

  // ---------------------------------------------------------------- P1
  /**
   * Exact dedup: group by content hash, keep the minimum id per group.
   * Returns one row per distinct content: (id, content_hash, n_dups).
   */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol).as("id"), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id").as(idCol), col("content_hash"), col("n_dups"))

  /**
   * Incremental (cross-corpus) exact dedup — the production
   * continual-refresh shape: a NEW batch arrives and must be deduped
   * against the already-curated corpus AND against itself, without ever
   * re-deduping the corpus. A batch document survives iff its content
   * hash (a) does not occur anywhere in the corpus and (b) it is the
   * minimum-id holder of that hash within the batch.
   *
   * Scale shape: the corpus contributes ONLY its distinct 16-byte
   * hashes (uniform-key aggregation with map-side partials — the
   * corpus text is never shuffled and never broadcast); the join is
   * hash-equi on that uniform key, and the within-batch tie-break is a
   * window partitioned by the same hash, so batch skew equals hash
   * collision rate (none). At 100 TB the corpus-hash side is the big
   * relation and Catalyst/AQE picks the join build side from stats —
   * nothing here assumes the batch fits in memory either.
   *
   * Returns one row per batch document:
   * (id, in_corpus, batch_dup, kept).
   */
  def incrementalExact(corpus: DataFrame, batch: DataFrame,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val ch = corpus.select(md5(col(textCol)).as("h")).distinct()
      .withColumn("hit", lit(true))
    val bh = batch.select(col(idCol).as("id"), md5(col(textCol)).as("h"))
    val perHash = Window.partitionBy("h").orderBy("id")
    bh.withColumn("batch_dup", row_number().over(perHash) > 1)
      .join(ch, Seq("h"), "left")
      .withColumn("in_corpus", coalesce(col("hit"), lit(false)))
      .select(col("id"), col("in_corpus"), col("batch_dup"),
        (!col("in_corpus") && !col("batch_dup")).as("kept"))
  }

  /**
   * Extreme-scale variant of `incrementalExact` — the corpus-membership
   * side compressed to a BLOOM FILTER (the cross-datacenter shape: the
   * curated corpus lives elsewhere, and shipping a ~100 MB bit array
   * beats shipping billions of 16-byte hashes through a join). A batch
   * document is flagged `in_corpus_maybe` when the filter might contain
   * its content hash — no false negatives (every true corpus dup IS
   * flagged; dropping on `maybe` can only over-drop by the filter's FP
   * rate, the safe direction for dedup), and the within-batch tie-break
   * stays exact.
   *
   * Scale shape: the Bloom build is a partial-aggregated reduction —
   * each corpus partition folds its hashes into a local filter and the
   * filters OR-merge — so unlike `incrementalExact`'s distinct(), the
   * corpus side needs NO shuffle at all: one scan, one O(numBits)
   * artifact (the bounded-collect pattern; ~1 MB at the defaults,
   * sized by expectedItems/numBits for the target corpus). The batch
   * side tests membership in its own projection — the join disappears
   * entirely; only the within-batch window shuffles (batch-sized, not
   * corpus-sized).
   *
   * No SQL oracle: the filter's bit layout is engine-specific (same as
   * `contaminationBloom`), so the key registers rows-only and
   * correctness is spec-pinned against `incrementalExact`: flagged ⊇
   * exact in_corpus, kept ⊆ exact kept, batch_dup identical.
   * Returns one row per batch document:
   * (id, in_corpus_maybe, batch_dup, kept).
   */
  def incrementalExactBloom(corpus: DataFrame, batch: DataFrame,
                            expectedItems: Long = 1000000L,
                            numBits: Long = 1L << 23,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graftglue.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val bloomAgg = Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(md5(col(textCol)))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bfRow = corpus.agg(bloomAgg.as("bf")).collect()(0)
    val bf = if (bfRow.isNullAt(0)) null else bfRow.getAs[Array[Byte]](0)
    val mightContain =
      if (bf == null) lit(false) // empty corpus: nothing can match
      else Bridge.column(BloomFilterMightContain(Literal(bf, BinaryType),
        Bridge.expression(xxhash64(col("h")))))
    val bh = batch.select(col(idCol).as("id"), md5(col(textCol)).as("h"))
    val perHash = Window.partitionBy("h").orderBy("id")
    bh.withColumn("batch_dup", row_number().over(perHash) > 1)
      .withColumn("in_corpus_maybe", mightContain)
      .select(col("id"), col("in_corpus_maybe"), col("batch_dup"),
        (!col("in_corpus_maybe") && !col("batch_dup")).as("kept"))
  }

  /**
   * Incremental (cross-corpus) NEAR-duplicate dedup — `incrementalExact`
   * upgraded to MinHash+LSH similarity: a batch document is dropped when
   * some CORPUS document shares an LSH band and agrees on >= `minAgree`
   * of the k signature components (the unbiased Jaccard estimate), or
   * when a SMALLER-ID batch document does. The corpus is never
   * re-deduped and never self-joined.
   *
   * Scale shape: the corpus contributes one (band, band_hash, sig) row
   * per band — k longs and a hash per document, never text — and the
   * batch-vs-corpus join is band-hash-equi exactly like the in-corpus
   * LSH (`minhashLshPairs`): cost is O(collisions), not |corpus|×|batch|.
   * Batch signatures are materialized once (they feed the corpus join
   * AND the within-batch self-join). Documents with no shingles (< n
   * tokens) have no signature and are kept — too short to near-match.
   *
   * Drop rule note: a batch doc duplicating an already-dropped batch doc
   * is still dropped (the rule is "near-dup of ANY smaller-id batch
   * doc", not "of a surviving one") — deterministic and
   * transitive-closure-free, the same convention as `minhashLshPairs`
   * consumers.
   *
   * Returns one row per batch document:
   * (id, corpus_dup, batch_dup, kept).
   */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame, k: Int = 16,
                         bands: Int = 4, shingleN: Int = 3, minAgree: Int = 8,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // corpus side has ONE consumer — no materialization needed; the
    // batch side feeds two joins, so its signatures persist with stats.
    val cb = banded(signatures(shingleSets(corpus, shingleN, textCol, idCol), k),
      k, bands)
    val bb = banded(SelfJoinMaterialize(
      signatures(shingleSets(batch, shingleN, textCol, idCol), k)), k, bands)
    val corpusHit = bb
      .join(cb.select(col("band"), col("band_hash"), col("sig").as("csig")),
        Seq("band", "band_hash"))
      .where(agreement(col("sig"), col("csig"), k) >= minAgree)
      .select("id").distinct().withColumn("chit", lit(true))
    val batchHit = bb.select(col("band"), col("band_hash"),
      col("id").as("id_b"), col("sig").as("sig_b"))
      .join(bb.select(col("band"), col("band_hash"),
        col("id").as("id_a"), col("sig").as("sig_a")), Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b") &&
        agreement(col("sig_a"), col("sig_b"), k) >= minAgree)
      .select(col("id_b").as("id")).distinct().withColumn("bhit", lit(true))
    batch.select(col(idCol).as("id"))
      .join(corpusHit, Seq("id"), "left")
      .join(batchHit, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("chit"), lit(false)).as("corpus_dup"),
        coalesce(col("bhit"), lit(false)).as("batch_dup"))
      .withColumn("kept", !col("corpus_dup") && !col("batch_dup"))
  }

  /** (id, shingles) with DISTINCT n-gram shingles of the lower-cased
   * whitespace tokens. */
  def shingleSets(docs: DataFrame, n: Int, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      array_distinct(HE.wordShingles(TF.tokens(col(textCol)), n)).as("shingles"))

  /** (id, sig): the k-permutation MinHash of each (id, shingles) row's
   * distinct shingles, null for a document too short to shingle. */
  private def signatures(sets: DataFrame, k: Int): DataFrame =
    sets.select(col("id"), HE.shingleMinhash(col("shingles"), k).as("sig"))

  /** One (id, sig, band, band_hash) row per band of each signature. A
   * null signature explodes to no rows: a Filter testing emptiness would
   * be pushed below the projection and shingle every document again. */
  private def banded(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    sigs.select(col("id"), col("sig"), explode(when(col("sig").isNotNull,
      sequence(lit(0), lit(bands - 1)))).as("band"))
      .withColumn("band_hash", md5(concat_ws(",",
        transform(slice(col("sig"), col("band") * r + 1, lit(r)), _.cast("string")))))
  }

  /** How many of the k signature components two signatures share. */
  private def agreement(a: Column, b: Column, k: Int): Column =
    size(filter(sequence(lit(0), lit(k - 1)),
      i => element_at(a, i + 1) === element_at(b, i + 1)))

  /**
   * Cross-document PARAGRAPH dedup (the MassiveText/RefinedWeb-style
   * sub-document stage, public heuristics): a paragraph (newline-split
   * span) occurring in several documents is kept only at its FIRST
   * occurrence — ordered by (doc id, position) — and removed everywhere
   * else; documents are reassembled from their surviving paragraphs in
   * original order. Complements `exact` (whole-doc granularity) and the
   * near-dup family: boilerplate shared across distinct pages (footers,
   * nav text, disclaimers) survives doc-level dedup but not this.
   *
   * Scale shape: posexplode, ONE shuffle keyed on the paragraph hash
   * (uniform — the window ranks inside each hash group only), then the
   * per-doc reassembly grouping. No self-join, no quadratic term;
   * paragraphs move as (hash, id, idx) triples plus one text payload.
   * Returns (id, n_paragraphs, n_kept, text_deduped) for every doc —
   * a doc whose every paragraph was seen earlier keeps an empty text.
   */
  def paragraphDedup(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val paras = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "para")))
    val w = Window.partitionBy(md5(col("para")))
      .orderBy(col("id").asc, col("idx").asc)
    paras
      .withColumn("rn", row_number().over(w))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_paragraphs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("idx"), col("para"))))),
            _.getField("para")),
          "\n").as("text_deduped"))
  }

  // ---------------------------------------------------------------- P2
  /**
   * N-gram Jaccard near-duplicate pairs via inverted-index join.
   * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
   *
   * @param maxShingleFreq drop shingles occurring in more than this many
   *   documents before pairing (0 = keep all). The skew guard: a shingle in
   *   k docs contributes k^2 pair rows, and ubiquitous shingles carry no
   *   discriminative signal. Exactness note: dropping a shared shingle can
   *   only LOWER a pair's computed jaccard (numerator loses 1, denominator
   *   loses 1 and num<=den), so with a high-frequency cutoff the operator
   *   is conservative, never over-reporting.
   */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                   maxShingleFreq: Long = 0,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // Materialize the per-doc shingle arrays: they feed both self-join
    // sides (and two references below), and the shingling expressions are
    // the expensive part — the explode itself is cheap to replay.
    val sets = SelfJoinMaterialize(shingleSets(docs, n, textCol, idCol))
    val exploded = sets
      .select(col("id"), size(col("shingles")).cast("long").as("n_shingles"),
        explode(col("shingles")).as("shingle"))
    val pruned =
      if (maxShingleFreq <= 0) exploded
      else {
        val hot = exploded.groupBy("shingle").count()
          .where(col("count") > maxShingleFreq).select("shingle")
        SelfJoinMaterialize(exploded.join(hot, Seq("shingle"), "left_anti"))
      }
    val a = pruned.select(col("shingle"), col("id").as("id_a"), col("n_shingles").as("na"))
    val b = pruned.select(col("shingle"), col("id").as("id_b"), col("n_shingles").as("nb"))
    a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("co"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard",
        col("co").cast("double") / (col("na") + col("nb") - col("co")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------- P3
  /**
   * MinHash + banded-LSH near-duplicate candidates.
   * Signature of k minhashes over shingle token-codes, split into `bands`
   * bands of k/bands rows each; a pair is a candidate iff some band hashes
   * identically. Candidates are scored by signature agreement (the unbiased
   * Jaccard estimate) and kept when >= minAgree of k components match.
   * Returns (id_a, id_b, n_bands, n_agree), id_a < id_b.
   */
  def minhashLshPairs(docs: DataFrame, k: Int = 16, bands: Int = 4,
                      shingleN: Int = 3, minAgree: Int = 8,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    lshPairs(shingleSets(docs, shingleN, textCol, idCol), k, bands, minAgree)
  }

  /** `minhashLshPairs` over an (id, shingles) frame. */
  private def lshPairs(sets: DataFrame, k: Int, bands: Int,
                       minAgree: Int): DataFrame = {
    // Materialize the signatures: the minhash expressions would otherwise
    // be re-inlined (and recomputed) into every band reference and both
    // self-join sides. Banding itself is a cheap slice+md5 replay.
    val rows = banded(SelfJoinMaterialize(signatures(sets, k)), k, bands)
    val left = rows.select(col("band"), col("band_hash"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val right = rows.select(col("band"), col("band_hash"),
      col("id").as("id_b"), col("sig").as("sig_b"))

    left.join(right, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_bands"),
        first(col("sig_a")).as("sig_a"), first(col("sig_b")).as("sig_b"))
      .withColumn("n_agree", agreement(col("sig_a"), col("sig_b"), k).cast("long"))
      .where(col("n_agree") >= minAgree)
      .select("id_a", "id_b", "n_bands", "n_agree")
  }

  /**
   * The PRODUCTION dedup ordering at 100 TB: banded-LSH candidate
   * generation (linear in corpus + collisions) followed by EXACT n-gram
   * Jaccard verification on the candidate pairs only — raw text is never
   * all-pairs joined, and the exact score is computed for the tiny
   * candidate set instead of every co-shingled pair (ScaleSmoke: raw
   * inverted-index Jaccard 159 s vs LSH 4 s on the 20x corpus; this
   * operator buys exactness back for the cost of scoring candidates).
   * Precision: every returned pair truly has jaccard >= threshold.
   * Recall: bounded by LSH band collisions (1-(1-j^r)^b), the documented
   * trade. Returns (id_a, id_b, jaccard), id_a < id_b.
   */
  def lshVerifiedPairs(docs: DataFrame, k: Int = 16, bands: Int = 4,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // One materialized shingle-set frame feeds both the signatures and
    // the verification joins, so text is shingled once. minAgree = 1:
    // ANY band collision is a candidate (a colliding band already implies
    // k/bands agreeing components); verification, not the signature
    // estimate, decides membership.
    val sets = SelfJoinMaterialize(shingleSets(docs, shingleN, textCol, idCol))
    val cand = lshPairs(sets, k, bands, minAgree = 1).select("id_a", "id_b")
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("long")
    cand
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sa")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sb")), Seq("id_b"))
      .withColumn("inter", inter)
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------- P4
  /** (id, simhash) — 32-bit SimHash over distinct n-gram shingle codes.
   * Shingles, not single tokens: on a small shared vocabulary every
   * document's token SET overlaps heavily, collapsing token-level
   * simhashes; shingle sets keep near-identical docs close and unrelated
   * docs far. */
  def simhashes(docs: DataFrame, shingleN: Int = 3, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame =
    // docs too short to shingle have no hash; the explode drops them
    // without a Filter that pushdown would fill with a second shingling
    shingleSets(docs, shingleN, textCol, idCol)
      .select(col("id"), explode(when(size(col("shingles")) > 0,
        array(HE.shingleSimhash(col("shingles"))))).as("simhash"))

  /**
   * SimHash near-duplicate pairs within `maxHamming` bit flips, via 4-band
   * bucketing of the 32-bit fingerprint (recall-lossless for
   * maxHamming <= 3 by pigeonhole — see object doc).
   * Returns (id_a, id_b, hamming), id_a < id_b.
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, shingleN: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3, "4-band bucketing is only recall-lossless for maxHamming <= 3")
    val sh = SelfJoinMaterialize(simhashes(docs, shingleN, textCol, idCol))
    val banded = sh.select(col("id"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_byte", expr("shiftright(simhash, band * 8) % 256"))
    val left = banded.select(col("band"), col("band_byte"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val right = banded.select(col("band"), col("band_byte"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    left.join(right, Seq("band", "band_byte"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Near-duplicate pairs among 64-bit fingerprints within `maxHamming`
   * bit flips — the pairing stage behind image dHash dedup (P74), and
   * the 64-bit twin of `simhashPairs`: 4-band bucketing on 16-bit bands
   * (recall-lossless for maxHamming <= 3 by pigeonhole: 4 bands cannot
   * all differ on <= 3 flipped bits), candidate join per bucket, exact
   * hamming verification, never all-pairs. Input (idCol long, hashCol
   * long); returns (id_a, id_b, hamming), id_a < id_b.
   */
  def hammingPairs64(hashes: DataFrame, maxHamming: Int = 3,
                     idCol: String = "id", hashCol: String = "dhash"): DataFrame = {
    require(maxHamming <= 3, "4-band bucketing is only recall-lossless for maxHamming <= 3")
    val hs = SelfJoinMaterialize(
      hashes.select(col(idCol).as("id"), col(hashCol).as("hsh")))
    val banded = hs.select(col("id"), col("hsh"),
      explode(sequence(lit(0), lit(3))).as("band"))
      // & 65535, not % 65536: arithmetic shiftright sign-extends, and %
      // keeps the dividend's sign, so a negative hash's band key would
      // differ from a positive hash with identical band CONTENT — pairs
      // straddling bit 63 would silently miss (review-caught). The mask
      // makes the key depend only on the 16 band bits.
      .withColumn("band_bits", expr("shiftright(hsh, band * 16) & 65535"))
    val left = banded.select(col("band"), col("band_bits"),
      col("id").as("id_a"), col("hsh").as("h_a"))
    val right = banded.select(col("band"), col("band_bits"),
      col("id").as("id_b"), col("hsh").as("h_b"))
    left.join(right, Seq("band", "band_bits"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------------------- P16
  /**
   * Near-duplicate CLUSTERS from a pair list: connected components via
   * ALTERNATING large-star / small-star contraction (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC 2014), so a
   * pipeline can keep one representative per duplicate group (not just
   * per pair). Returns (id, cluster_rep) for every id appearing in
   * `pairs`; cluster_rep = the minimum id reachable through the pair
   * graph.
   *
   * Scale shape: the alternation converges in O(log n) rounds
   * INDEPENDENT of component diameter — the property min-label
   * propagation (the r16 implementation) lacked: that needed
   * O(diameter) rounds, and a 100-TB template-drift CHAIN can exceed
   * any fixed round budget, which the old silent maxIter=20 cutoff
   * answered by returning unconverged labels. Each round is two
   * group-by-min aggregations and two joins keyed by node id, each
   * round localCheckpointed like the subclass closure. This remains
   * the standard alternative to driver-side union-find, which cannot
   * scale past driver memory.
   *
   * `maxIter` is now a LOUD safety cap — IllegalStateException, never
   * silently-unconverged labels. Alternation provably terminates in
   * O(log² n) rounds and empirically ~log n, so the default covers any
   * physical input (log²(10¹²) ≈ 40² with the constant well under 1).
   *
   * `localEdges` (r18, the r17 verdict's #3): a DISTINCT canonical
   * edge set at or below this count solves LOCALLY — one collect of
   * ≤ localEdges (id, id) rows (a bounded driver artifact in the
   * request-batch class, ~3 MB at the default) and a union-find fold,
   * labels shipped back as one small frame. The iterative Spark loop
   * pays several shuffle stages of FIXED scheduling cost per round,
   * which dwarfs the work when the pair graph is small — and a
   * post-LSH near-dup graph usually IS small even when the corpus is
   * 100 TB (pairs are the exception, not the rule). Above the
   * threshold the star-contraction loop runs unchanged; this is the
   * same small-side escape hatch production CC implementations ship
   * (GraphFrames' broadcast threshold). Local ordering for the min
   * representative matches Spark's exactly: integral ids numerically,
   * strings by UTF-8 byte order (UTF8String semantics); other id
   * types take the distributed path regardless of size. Set 0 to
   * force the loop (ScaleSmoke's round-scaling measurement does).
   */
  def clusters(pairs: DataFrame, maxIter: Int = 100,
               localEdges: Long = 100000L): DataFrame = {
    // materialize the pair list first: the star rounds reference it
    // twice, and deriving pairs is usually the expensive part (an
    // LSH/jaccard pipeline)
    val prs = SelfJoinMaterialize(pairs.select(col("id_a"), col("id_b")))
    // every id appearing in `pairs` — kept separately because the
    // canonical edge set below drops self-loops, and an id appearing
    // ONLY as (x, x) must still come back as its own singleton cluster
    // (the documented contract; review-caught). Referenced once (the
    // final left join) and derived from the cached `prs`, so it needs
    // no materialization of its own.
    val ids = prs.select(col("id_a").as("id"))
      .unionAll(prs.select(col("id_b").as("id"))).distinct()
    // LAZY persist (r18, the r17 verdict's #3): the round's single
    // convergence job materializes the frame as a side effect — an
    // eager count here is a pure scheduling-overhead job. Frames are
    // registered so an aborted loop (the maxIter throw) still drains.
    def lazyPersist(df: DataFrame): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      OperatorCaches.register(df)
      df
    }
    // canonical orientation (hi > lo), self-loops dropped
    val (edges, edgeCount0) = SelfJoinMaterialize.withCount(
      prs.select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
        .where(col("hi") =!= col("lo")).distinct())
    val dt = edges.schema.fields(0).dataType
    val localizable = {
      import org.apache.spark.sql.types._
      dt == LongType || dt == IntegerType || dt == ShortType ||
        dt == ByteType || dt == StringType
    }
    // an EMPTY edge set is trivial for ANY id type (localStarLabels
    // never compares ids on it) — without this, a non-localizable
    // id column of pure self-pairs would run a full loop round over
    // empty frames (review-caught)
    val starLabels: DataFrame =
      if (edgeCount0 == 0 || (edgeCount0 <= localEdges && localizable))
        localStarLabels(edges, dt)
      else starContractionLabels(edges, maxIter, lazyPersist)
    ids.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_rep"), col("id"))
        .as("cluster_rep"))
  }

  /** Driver-side union-find over a SMALL collected edge list (see
   * [[clusters]]' `localEdges` doc — the bounded small-graph escape
   * hatch): (id, cluster_rep) for every id appearing in an edge,
   * cluster_rep = component minimum. Union-by-min + path compression,
   * so each root IS its component's minimum; ordering matches the
   * distributed path exactly (integral numeric; strings by UTF-8
   * byte order, UTF8String semantics). */
  private def localStarLabels(
      edges: DataFrame,
      dt: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = edges.collect()
    val isStr = dt == StringType
    def lt(a: Any, b: Any): Boolean =
      if (isStr) {
        val x = a.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        var c = 0
        while (i < n && c == 0) { c = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
        if (c != 0) c < 0 else x.length < y.length
      } else {
        def num(v: Any): Long = v match {
          case l: Long => l
          case i: Int => i.toLong
          case s: Short => s.toLong
          case b: Byte => b.toLong
        }
        num(a) < num(b)
      }
    val parent = new java.util.HashMap[Any, Any](rows.length * 2)
    def find(x0: Any): Any = {
      var r = x0
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      var x = x0 // path compression
      while (x != r) { val nx = parent.getOrDefault(x, x); parent.put(x, r); x = nx }
      r
    }
    rows.foreach { r =>
      val ra = find(r.get(0))
      val rb = find(r.get(1))
      if (ra != rb) {
        // union-by-min: the smaller root stays root, so at the end
        // every root is its component's minimum — no second pass
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val seen = new java.util.HashSet[Any](rows.length * 2)
    val labels = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length * 2)
    rows.foreach { r =>
      var k = 0
      while (k < 2) {
        val id = r.get(k)
        if (seen.add(id))
          labels.add(org.apache.spark.sql.Row(id, find(id)))
        k += 1
      }
    }
    val schema = StructType(Seq(
      StructField("id", dt), StructField("cluster_rep", dt)))
    edges.sparkSession.createDataFrame(labels, schema)
  }

  /** The alternating large-star / small-star loop (see [[clusters]]):
   * returns the (id, cluster_rep) star labels from the converged edge
   * set. The 100-TB path — O(log n) rounds, one Spark job per round. */
  private def starContractionLabels(
      edges0: DataFrame, maxIter: Int,
      lazyPersist: DataFrame => DataFrame): DataFrame = {
    var edges = edges0
    var iter = 0
    // the caller only routes here with a non-empty edge set (the empty
    // case falls below every localEdges >= 0), so no emptiness job
    var converged = false
    while (!converged) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"clusters: star contraction did not converge in $maxIter " +
            "rounds — pathological input (cyclic id graph?); raise maxIter")
      // LARGE-STAR: every node u attaches its LARGER neighbors to
      // m(u) = min(N(u) ∪ {u}). Each canonical edge (hi, lo) is emitted
      // exactly once — from its lo endpoint, as (hi, m(lo)) — so the
      // edge count never grows.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(edges.select(col("lo").as("u"), col("hi").as("v")))
      val minsL = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // lazily cached: the small-star's two references (the min
      // aggregation and the join back) share ONE InMemoryRelation,
      // populated inside the round's job instead of by its own count
      val ls = lazyPersist(
        sym.where(col("v") > col("u"))
          .join(minsL, Seq("u"))
          .select(col("v").as("hi"), col("m").as("lo")).distinct())
      // SMALL-STAR: every node attaches its SMALLER neighbors — and
      // itself — to their common minimum: per hi group with m =
      // min(lo*), emit (hi, m) and (lo, m) for each lo ≠ m.
      val minsS = ls.groupBy("hi").agg(min("lo").as("m"))
      val ss = minsS.select(col("hi"), col("m").as("lo"))
        .unionAll(ls.join(minsS, Seq("hi")).where(col("lo") =!= col("m"))
          .select(col("lo").as("hi"), col("m").as("lo")))
        .distinct()
      // localCheckpoint cuts the per-round lineage (plan growth across
      // rounds is O(rounds²) planning otherwise), but its LogicalRDD
      // carries no size statistics — every subsequent round's joins
      // would fall to sort-merge even on a tiny edge table.
      // Re-persisting the checkpointed frame restores stats, so each
      // round's joins stay broadcast while edges are small and shuffle
      // once they aren't. NON-eager: the convergence job below is the
      // round's ONE action — it computes the small-star output,
      // checkpoints it, populates the cache, and answers set equality
      // in the same pass (5 jobs/round in r17, 1 now).
      val cp = ss.localCheckpoint(false)
      val fresh = lazyPersist(
        cp.sparkSession.createDataFrame(cp.rdd, cp.schema))
      // exact convergence check — both frames are DISTINCT sets, so
      // set-equal ⇔ every (hi, lo) of their union appears exactly
      // twice (a hash-sum shortcut could collide and terminate EARLY
      // with wrong labels; this stays exact in one job)
      val same = fresh.unionAll(edges).groupBy("hi", "lo").count()
        .where(col("count") =!= 2).limit(1).count() == 0
      ls.unpersist()
      edges.unpersist()
      edges = fresh
      converged = same
      iter += 1
    }
    // the alternation's fixed points are disjoint STARS centered at
    // component minima: leaves read off as hi → lo, centers map to
    // themselves; ids touched only by self-loops fall through the
    // caller's left join to their own id
    edges
      .select(col("hi").as("id"), col("lo").as("cluster_rep"))
      .unionAll(
        edges.select(col("lo").as("id"), col("lo").as("cluster_rep")))
      .distinct()
  }

  // ---------------------------------------------------------------- P5
  /**
   * Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
   * cosine >= threshold, id_a < id_b.
   *
   * `bucketed = false` is the exact quadratic self-join (ground truth /
   * modest partitions); `bucketed = true` prefilters through sign-LSH
   * buckets (`nPlanes` hyperplanes) so only same-bucket pairs are scored —
   * the 100 TB path, at the cost of recall for borderline pairs.
   */
  def embeddingPairs(embs: DataFrame, threshold: Double = 0.4,
                     bucketed: Boolean = false, nPlanes: Int = 8, dim: Int = 64,
                     vecCol: String = "embedding", idCol: String = "vec_id",
                     nTables: Int = 1): DataFrame = {
    // Precompute each vector's norm once (N sqrt-dots instead of 2 per
    // pair — at n^2 pairs that's the dominant cost).
    val base = SelfJoinMaterialize(
      embs.select(col(idCol).as("id"), VF.toDouble(col(vecCol)).as("v"))
        .withColumn("nrm", VF.norm(col("v"))))
    val scored =
      if (!bucketed) {
        // exact quadratic ground truth: carry the vectors straight through
        val a = base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        val b = base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
        a.crossJoin(b).where(col("id_a") < col("id_b"))
      } else {
        // Multi-table sign-LSH (nTables independent hyperplane sets): a
        // pair collides when it shares a bucket in ANY table — same recall
        // recovery as Ann.lshTopK. Candidate generation and cross-table
        // dedup move ONLY id pairs (the ScaleSmoke lesson: deduping rows
        // that carry two 64-double vectors made the dedup exchange the
        // bottleneck, 114s vs 16s at 20x); vectors re-join by id afterward,
        // and the join is always bucket-equi, never all-pairs.
        val keyed = SelfJoinMaterialize(
          (0 until nTables).map { t =>
            base.select(col("id"),
              VF.lshBucket(col("v"), nPlanes, dim, t * nPlanes).as("bucket"))
              .withColumn("t", lit(t))
          }.reduce(_ unionAll _))
        val cand = keyed.select(col("t"), col("bucket"), col("id").as("id_a"))
          .join(keyed.select(col("t"), col("bucket"), col("id").as("id_b")),
            Seq("t", "bucket"))
          .where(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        cand
          .join(base.select(col("id").as("id_a"), col("v").as("va"),
            col("nrm").as("na")), Seq("id_a"))
          .join(base.select(col("id").as("id_b"), col("v").as("vb"),
            col("nrm").as("nb")), Seq("id_b"))
      }
    scored
      .withColumn("cosine", VF.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  // --------------------------------------------------------------- P1++
  /**
   * Cross-document duplicated-span detection — the window-hash
   * approximation of suffix-array exact-substring dedup (Lee et al.
   * 2021, "Deduplicating Training Data Makes Language Models Better",
   * public algorithm): hash every `w`-token window (stride 1 — the
   * every-position grid is what makes detection alignment-free), mark a
   * window duplicated when its hash occurs in >= 2 distinct documents,
   * and report each document's duplicated-window load. Any token run of
   * length >= w shared verbatim between two documents is caught
   * regardless of where it sits in either; the per-doc fraction is the
   * "how much of this doc is copied from elsewhere" curation signal
   * (sub-document, finer than p33's paragraph granularity because it
   * needs no structural boundary).
   *
   * Scale shape: window hashing is ONE O(n) rolling-hash pass per row
   * (native expression, whole-stage codegen); the explode emits (id,
   * hash) longs only — never window text. The duplicated-hash set is a
   * groupBy on the uniform hash key, and the join back is hash-equi —
   * a shingle shared by k docs costs k join rows (linear), never the
   * k^2 of pair-joins, so no frequency guard is needed.
   *
   * Returns one row per input document:
   * (id, n_windows, n_dup_windows, dup_window_frac).
   */
  def dupSpans(docs: DataFrame, w: Int = 20, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    // The hashed frame feeds THREE consumers (the duplicated-hash
    // aggregation, the join-back, and the per-doc window counts), so the
    // materialization boundary sits at `base` — persisting only the
    // exploded side would re-run the O(n) rolling-hash scan for the
    // window-count branch (measured as a second full corpus pass).
    val base = SelfJoinMaterialize(docs.select(col(idCol).as("id"),
      HE.windowHashes(TF.tokens(col(textCol)), w).as("hs")))
    val ex = base.select(col("id"), explode(col("hs")).as("h"))
    val dup = ex.groupBy("h").agg(count_distinct(col("id")).as("ndocs"))
      .where(col("ndocs") >= 2).select("h")
    val per = ex.join(dup, Seq("h"))
      .groupBy("id").agg(count(lit(1)).as("n_dup_windows"))
    base.select(col("id"), size(col("hs")).cast("long").as("n_windows"))
      .join(per, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(when(col("n_windows") > 0,
          coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
            col("n_windows").cast("double")).otherwise(lit(0.0)), 6)
          .as("dup_window_frac"))
  }

  /**
   * Span-level dedup APPLY — the excision half of Lee et al. 2021's
   * exact-substring dedup (public algorithm; `dupSpans` is the
   * detection half): every token covered by a duplicated `w`-window is
   * REMOVED from the document, and the surviving tokens (space-joined)
   * are the cleaned corpus. The policy is drop-all-occurrences — more
   * conservative than the paper's keep-one, but deterministic with no
   * occurrence-ordering tie-break, which is what makes it expressible
   * as one declarative plan on both engines (the registered key's
   * oracle reproduces it row-for-row).
   *
   * Plan shape: the hashed frame is materialized once (it feeds the
   * duplicated-hash aggregation, the start-collection join, and the
   * final projection); the explode ships (id, start, hash) ints/longs
   * only — never window text. Per-doc duplicated starts are SORTED and
   * folded into disjoint [lo, hi) intervals before the token filter,
   * so the per-token coverage test is O(#disjoint dup spans), not
   * O(#dup windows): a fully-duplicated document (the 20x-duplication
   * worst case) collapses to ONE interval and filters in O(n).
   *
   * Returns one row per input document:
   * (id, n_tokens, n_removed, clean_text).
   */
  def spanDedupApply(docs: DataFrame, w: Int = 20, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val base = SelfJoinMaterialize(docs.select(col(idCol).as("id"),
      TF.tokens(col(textCol)).as("toks"))
      .withColumn("hs", HE.windowHashes(col("toks"), w)))
    val ex = base.select(col("id"), posexplode(col("hs")).as(Seq("s", "h")))
    val dup = ex.groupBy("h").agg(count_distinct(col("id")).as("ndocs"))
      .where(col("ndocs") >= 2).select("h")
    // 0-based duplicated window starts per doc, sorted for the interval
    // fold below (collect_set: the same start can reach here once per
    // duplicated hash only, but sets are cheap insurance).
    val starts = ex.join(dup, Seq("h"))
      .groupBy("id").agg(sort_array(collect_set(col("s"))).as("ss"))
    // Fold sorted starts into disjoint merged intervals [lo, hi): a new
    // start s extends the open interval when s <= hi (s strictly
    // increases, so the extended hi is always s + w).
    val zero = array().cast("array<struct<lo:long,hi:long>>")
    val iv = aggregate(col("ss"), zero, (acc, s) => {
      val sl = s.cast("long")
      val last = element_at(acc, -1)
      when(size(acc) > 0 && last.getField("hi") >= sl,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last.getField("lo").as("lo"),
            (sl + w).as("hi")))))
        .otherwise(concat(acc,
          array(struct(sl.as("lo"), (sl + w).as("hi")))))
    })
    val withIv = base.join(starts, Seq("id"), "left")
      .withColumn("ss", coalesce(col("ss"), array().cast("array<int>")))
      .withColumn("iv", iv)
    val kept = filter(col("toks"), (t, i) =>
      !exists(col("iv"), v =>
        v.getField("lo") <= i && i < v.getField("hi")))
    withIv
      .withColumn("kept", kept)
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  // --------------------------------------------------------------- P5+
  /**
   * SemDeDup — semantic deduplication (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic
   * deduplication", public algorithm): cluster the embedding space with
   * a bounded-sample k-means quantizer, then search for near-duplicates
   * ONLY within each cluster. The cluster count is the scale lever — the
   * paper runs k ≈ N/2000 so per-cluster pair work stays constant as the
   * corpus grows; the quadratic is per-cluster, never global.
   *
   * Survivor rule: within a cluster, a vector is dropped iff some
   * PRECEDING vector in the same cluster has cosine >= threshold to it,
   * where precedence is keep-first (lower id — the engine's
   * deterministic convention shared with `exact`/`dedupApply`; the
   * registered key's rule) or, with `keepFarthest = true`, the paper's
   * own rule: the example with the LOWEST cosine to the cluster
   * centroid survives (ties to the lower id) — SemDeDup keeps the
   * outlier of each duplicate neighborhood to preserve diversity.
   * `dup_of` records the smallest preceding id as the audit trail.
   *
   * Plan shape: assignment is a pure per-row argmax projection over
   * literal centroids (zero shuffle — Ann's IVF primitive); the only
   * shuffles are the within-cluster pair join keyed on centroid_id and
   * the per-id dropped-set aggregation. The assigned frame feeds both
   * join sides, so it is materialized once with stats.
   *
   * Skew guard (`pairRankWindow = Some(w)`): the trained quantizer
   * SHAPES cluster sizes but does not BOUND them — one giant cluster
   * (a dense mode of the embedding space) makes the per-cluster
   * quadratic the whole job. With the cap, members of each cluster are
   * ranked by their cosine to the centroid (descending; ties by id) and
   * only pairs within `w` ranks of each other are compared. Locality
   * argument: near-duplicate vectors have near-identical centroid
   * cosines, so they sort adjacently — what the cap forfeits is pairs
   * whose centroid cosines differ by more than w member positions,
   * which at `threshold`-level similarity is the rare tail (the spec
   * pins both the hit and the documented miss). Join work drops from
   * O(m^2) to O(m·w) per cluster: both sides band on floor(rank/w) and
   * a pair within w ranks shares a band edge, so each row joins at most
   * ~4w others (the duplicate band matches collapse in the min()
   * aggregation).
   *
   * Returns one row per input vector: (id, centroid_id, kept, dup_of).
   */
  def semDedup(embs: DataFrame, threshold: Double = 0.4, nCenters: Int = 16,
               trainIters: Int = 2, trainSample: Int = 256,
               keepFarthest: Boolean = false,
               pairRankWindow: Option[Int] = None,
               vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    Ann.encodedAssignOpt(embs, nCenters, trainIters, trainSample, vecCol, idCol) match {
      case None =>
        embs.select(col(idCol).cast("long").as("id"),
          lit(0L).as("centroid_id"), lit(true).as("kept"),
          lit(null).cast("long").as("dup_of")).limit(0)
      case Some(enc0) =>
        val ranked = pairRankWindow match {
          case Some(w) =>
            require(w >= 1, s"pairRankWindow ($w) must be >= 1")
            val win = Window.partitionBy("centroid_id")
              .orderBy(col("ccos").desc, col("id").asc)
            enc0.withColumn("rk", row_number().over(win).cast("long"))
          case None => enc0.withColumn("rk", lit(0L))
        }
        val enc = SelfJoinMaterialize(ranked)
        def side(suffix: String): DataFrame = {
          val base = enc.select(col("centroid_id"), col("rk"),
            col("id").as(s"id_$suffix"), col("v").as(s"v$suffix"),
            col("vn").as(s"n$suffix"), col("ccos").as(s"c$suffix"))
          pairRankWindow match {
            case Some(w) => base
              .withColumn("band",
                explode(array(floor(col("rk") / w), floor(col("rk") / w) + 1)))
              .withColumnRenamed("rk", s"rk_$suffix")
            case None => base.withColumn("band", lit(0L)).drop("rk")
          }
        }
        val a = side("a")
        val b = side("b")
        val precedes =
          if (keepFarthest)
            col("ca") < col("cb") ||
              (col("ca") === col("cb") && col("id_a") < col("id_b"))
          else col("id_a") < col("id_b")
        val windowCond = pairRankWindow match {
          case Some(w) => abs(col("rk_a") - col("rk_b")) <= w
          case None => lit(true)
        }
        val dropped = a.join(b, Seq("centroid_id", "band"))
          .where(windowCond && precedes &&
            VF.dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
          .groupBy(col("id_b").as("id")).agg(min(col("id_a")).as("dup_of"))
        enc.join(dropped, Seq("id"), "left")
          .select(col("id"), col("centroid_id"),
            col("dup_of").isNull.as("kept"), col("dup_of"))
    }
}
