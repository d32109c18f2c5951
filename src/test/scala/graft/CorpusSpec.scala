package graft

import graft.operators.{Corpus, Dedup}
import org.apache.spark.sql.functions._

/** Corpus-construction operators: dedup apply, stratified sampling,
 * sequence packing. */
class CorpusSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today", "en", "a"),
    (1L, "the quick brown fox jumps over the lazy dog today", "en", "a"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "b"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "de", "b"),
    (4L, "completely different words about spark catalyst tungsten engines", "de", "b")
  ).toDF("doc_id", "text", "lang", "source")

  test("dedupApply keeps one representative per cluster plus unpaired docs") {
    val clusters = Seq((0L, 0L), (1L, 0L)).toDF("id", "cluster_rep")
    val out = Corpus.dedupApply(docs, clusters).orderBy("doc_id")
      .select("doc_id", "is_cluster_rep")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    // doc 1 dropped (duplicate of 0); 0 flagged as representative
    assert(out.toSeq == Seq((0L, true), (2L, false), (3L, false), (4L, false)))
  }

  test("dedupApply end-to-end from jaccard clusters drops the exact dup") {
    val cl = Dedup.clusters(Dedup.jaccardPairs(docs, n = 3, threshold = 0.8))
    val survivors = Corpus.dedupApply(docs, cl).select("doc_id")
      .as[Long].collect().sorted
    assert(survivors.toSeq == Seq(0L, 2L, 3L, 4L))
  }

  test("dedupApply adapts the join to cluster-table size (no forced broadcast)") {
    // High-duplication regime: EVERY doc sits in a dup cluster, so the
    // cluster table is the size of the corpus — at 100 TB a forced
    // broadcast would OOM the driver. With the broadcast threshold forced
    // below the table size, the planner must be FREE to pick a
    // non-broadcast join (it can't be if the operator hints broadcast),
    // and results must be identical either way.
    val n = 2000L
    val docsBig = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("text "), col("id").cast("string")).as("text"))
    // every even doc is the rep of a 2-doc cluster holding it + the odd one
    val clusters = spark.range(n).select(col("id"),
      (col("id") - col("id") % 2).as("cluster_rep"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1024")
      val out = Corpus.dedupApply(docsBig, clusters)
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"cluster join still broadcasts under a tiny threshold (forced hint?):\n$p")
      assert(out.count() == n / 2)
      assert(out.where(!col("is_cluster_rep")).count() == 0)
    } finally spark.conf.set(key, prev)
    // and with the normal threshold the small-table plan broadcasts
    val p2 = Corpus.dedupApply(docsBig, clusters)
      .queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"), p2)
  }

  test("stratifiedSample caps each stratum, is deterministic, unbiased across reruns") {
    val many = spark.range(1000).select(
      col("id").as("doc_id"),
      when(col("id") % 10 === 0, "rare").otherwise("common").as("lang"))
    val s1 = Corpus.stratifiedSample(many, "lang", perStratum = 30)
    val counts = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts("common") == 30L && counts("rare") == 30L)
    // ranks are 1..perStratum within each stratum
    val ranks = s1.where(col("lang") === "rare")
      .select("sample_rank").as[Long].collect().sorted
    assert(ranks.toSeq == (1L to 30L))
    // deterministic: same ids on a rerun
    val ids1 = s1.select("doc_id").as[Long].collect().toSet
    val ids2 = Corpus.stratifiedSample(many, "lang", perStratum = 30)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("dsirSample weights target-looking docs above off-target docs") {
    // 6 en docs sharing a bigram vocabulary, 6 de docs sharing another;
    // target = en. With acceptance forced to 1 (huge acceptScale) every
    // doc survives and the weights are directly comparable: every en
    // doc must outweigh every de doc (its bigrams dominate the target
    // counts), and a doc mixing both vocabularies must land in between.
    val fixture = ((0L until 6L).map(i =>
      (i, s"the quick brown fox number $i jumps high", "en")) ++
      (6L until 12L).map(i =>
        (i, s"der schnelle braune fuchs nummer $i springt hoch", "de")) :+
      ((12L, "the quick brown fox springt hoch heute ja", "mix")))
      .toDF("doc_id", "text", "lang")
    val out = Corpus.dsirSample(fixture, isTarget = col("lang") === "en",
      buckets = 512, acceptScale = 1e9)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.size == 13) // acceptance forced to 1: nobody drops
    val en = (0L until 6L).map(out); val de = (6L until 12L).map(out)
    assert(en.min > de.max, s"en=$en de=$de")
    assert(out(12L) < en.min && out(12L) > de.max, s"mix=${out(12L)}")
    // deterministic: same weights on rerun
    val again = Corpus.dsirSample(fixture, isTarget = col("lang") === "en",
      buckets = 512, acceptScale = 1e9)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == out)
  }

  test("dsirSample acceptance thins by weight and excludes sub-bigram docs") {
    val fixture = ((0L until 200L).map(i =>
      (i, s"common shared text body number ${i % 7} here", "en")) ++
      (200L until 400L).map(i =>
        (i, s"voellig anderes vokabular nummer ${i % 7} hier ja", "de")) :+
      ((400L, "single", "en"))).toDF("doc_id", "text", "lang")
    val out = Corpus.dsirSample(fixture, isTarget = col("lang") === "en",
      buckets = 512, acceptScale = 0.25)
    val ids = out.select("id").as[Long].collect().toSet
    assert(!ids.contains(400L)) // one token -> no bigrams -> excluded
    val enKept = ids.count(_ < 200L); val deKept = ids.count(i => i >= 200L && i < 400L)
    // en weight ~ Tr/Tt (~2) -> acceptance ~0.5; de weight near 0
    assert(enKept > 50, s"enKept=$enKept")
    assert(deKept < enKept / 4, s"deKept=$deKept enKept=$enKept")
  }

  test("clusterBalancedSample caps every learned cluster and is deterministic") {
    // two well-separated directions -> the trained quantizer splits them;
    // each cluster contributes at most perCluster rows with contiguous
    // hash-ordered ranks
    val vecs = (0L until 60L).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0f, 0f, 1f) else Array(0f, 10.0f, 1f, 0f)
      (i, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i + d) % 5) })
    }.toDF("vec_id", "embedding")
    val out = Corpus.clusterBalancedSample(vecs, perCluster = 7, nClusters = 4,
      trainSample = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.length <= 7, s"cluster $cid over cap: ${rows.length}")
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"cluster $cid ranks not contiguous")
      // n_stratum is the FULL cluster size, never below the kept count
      assert(rows.forall(r => r._3 >= rows.length))
    }
    val again = Corpus.clusterBalancedSample(vecs, perCluster = 7, nClusters = 4,
      trainSample = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.sorted.toSeq == out.sorted.toSeq)
  }

  test("native dsir_score is bit-identical to the Column-composed twin") {
    val fixture = (0L until 100L).map(i =>
      (i, s"assorted text body number ${i % 13} with words ${i % 7} here"))
      .toDF("doc_id", "text")
    val model = Corpus.dsirTrain(fixture, col("doc_id") % 2 === 0, buckets = 256)
    val grams = graft.functions.HashExpressions.wordShingles(
      graft.functions.TextFunctions.tokens(col("text")), 2)
    val native = fixture.select(col("doc_id"),
      graft.functions.HashExpressions.dsirScore(grams,
        model.ct.toArray, model.cr.toArray, model.tr, model.tt).as("sc"))
      .select(col("doc_id"), col("sc.n"), col("sc.s")).collect().map(_.toSeq)
    val hof = fixture.select(col("doc_id"),
      Corpus.dsirScoreHof(grams, model).as("sc"))
      .select(col("doc_id"), col("sc.n"), col("sc.s")).collect().map(_.toSeq)
    // EXACT double equality — same products, same division, same fold
    assert(native.toSeq == hof.toSeq)
  }

  test("dsirApply is train/apply-split and batch-parity with dsirSample") {
    // the one-shot operator must equal train-then-apply (the streaming
    // key relies on dsirApply being the same stateless projection)
    val fixture = ((0L until 20L).map(i =>
      (i, s"shared common text number ${i % 5} here", if (i % 2 == 0) "en" else "de")))
      .toDF("doc_id", "text", "lang")
    val direct = Corpus.dsirSample(fixture, col("lang") === "en", buckets = 256)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val model = Corpus.dsirTrain(fixture, col("lang") === "en", buckets = 256)
    val split = Corpus.dsirApply(fixture, model)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(direct.toSeq == split.toSeq)
    assert(model.cr.sum == model.tr && model.ct.sum == model.tt)
  }

  test("curriculumOrder: band prefix over the shuffled shard order, growth-stable") {
    val scored = (1L to 40L).map(i => (i, if (i <= 20) 0.9 else 0.1))
      .toDF("id", "quality_score")
    val out = Corpus.curriculumOrder(scored, bands = 10, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 40)
    // high-quality docs land in band 9, low in band 1
    assert(out.filter(_._1 <= 20).forall(_._2 == 9L))
    assert(out.filter(_._1 > 20).forall(_._2 == 1L))
    // contiguous ranks within every (band, shard)
    out.groupBy(t => (t._2, t._3)).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // within a band, order matches shuffleShards (the same hash order)
    val shuf = Corpus.shuffleShards(scored.select("id"), nShards = 4, idCol = "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hi = out.filter(_._2 == 9L)
    hi.groupBy(_._3).foreach { case (shard, rows) =>
      val byPos = rows.sortBy(_._4).map(_._1).toSeq
      val expected = (1L to 20L).filter(id => shuf(id)._1 == shard)
        .sortBy(id => shuf(id)._2)
      assert(byPos == expected, s"shard $shard band order diverged")
    }
  }

  test("qualityPercentileFilter keeps the top fraction via histogram cutoff") {
    val scored = (1L to 10L).map(i => (i, i * 0.1 - 0.05))
      .toDF("doc_id", "quality_score")
    // keepFrac 0.3 -> target 3 -> cutoff at bucket(0.75): ids 8,9,10
    val top3 = Corpus.qualityPercentileFilter(scored, keepFrac = 0.3,
      idCol = "doc_id").select("id").as[Long].collect().sorted
    assert(top3.toSeq == Seq(8L, 9L, 10L))
    // fractional target rounds UP: ceil(10*0.25)=3 -> same cut
    val top25 = Corpus.qualityPercentileFilter(scored, keepFrac = 0.25,
      idCol = "doc_id").count()
    assert(top25 == 3L)
    // keepFrac 1.0 keeps everything
    assert(Corpus.qualityPercentileFilter(scored, keepFrac = 1.0,
      idCol = "doc_id").count() == 10L)
    // a fully-tied corpus keeps everything at any fraction (one cell)
    val tied = (1L to 6L).map(i => (i, 0.42)).toDF("doc_id", "quality_score")
    assert(Corpus.qualityPercentileFilter(tied, keepFrac = 0.5,
      idCol = "doc_id").count() == 6L)
  }

  test("stratifiedSample keeps whole stratum when smaller than the target") {
    val out = Corpus.stratifiedSample(docs, "lang", perStratum = 10)
    assert(out.count() == 5)
  }

  test("packSequences: contiguous in-shard binning, budget-average packs") {
    val many = spark.range(200).select(col("id").as("doc_id"),
      lit("one two three four five six seven eight nine ten").as("text"))
    val packed = Corpus.packSequences(many, maxTokens = 50, nShards = 4)
    val rows = packed.orderBy("shard", "doc_id")
      .select("shard", "doc_id", "n_tokens", "cum_tokens", "pack_id")
      .collect()
    // every doc is 10 tokens; 5 docs fill a 50-token pack exactly
    assert(rows.forall(_.getLong(2) == 10L))
    rows.groupBy(_.getLong(0)).foreach { case (_, shardRows) =>
      val byDoc = shardRows.sortBy(_.getLong(1))
      // pack_id nondecreasing in doc order, starting at 0
      val packs = byDoc.map(_.getLong(4))
      assert(packs.head == 0L)
      assert(packs.zip(packs.tail).forall { case (a, b) => b == a || b == a + 1 })
      // each pack holds exactly 5 docs = exactly the budget
      byDoc.groupBy(_.getLong(4)).values.foreach(p => assert(p.length == 5))
    }
    val stats = Corpus.packStats(packed)
    assert(stats.where(col("pack_tokens") =!= 50L).count() == 0)
  }

  test("tokenMixture: each stratum stops at its token budget, deterministic") {
    // 100 docs of 10 tokens each per lang -> 1000 tokens per stratum
    val many = spark.range(200).select(
      col("id").as("doc_id"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang"),
      lit("one two three four five six seven eight nine ten").as("text"))
    val out = Corpus.tokenMixture(many, Map("en" -> 0.8, "de" -> 0.2),
      totalTokens = 500, strataCol = "lang")
    val byLang = out.groupBy("stratum")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // en budget 400 -> exactly 40 docs (10 tokens each); de budget 100 -> 10
    assert(byLang("en") == ((400L, 40L)))
    assert(byLang("de") == ((100L, 10L)))
    // a stratum with no weight contributes nothing
    assert(Corpus.tokenMixture(many, Map("en" -> 1.0), totalTokens = 100,
      strataCol = "lang").where(col("stratum") === "de").count() == 0)
    // deterministic across reruns
    val ids1 = out.select("id").as[Long].collect().toSet
    val ids2 = Corpus.tokenMixture(many, Map("en" -> 0.8, "de" -> 0.2),
      totalTokens = 500, strataCol = "lang").select("id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("shuffleShards: contiguous per-shard ranks, deterministic, growth-stable") {
    val docs = spark.range(300).select(col("id").as("doc_id"))
    val out = Corpus.shuffleShards(docs, nShards = 4).cache()
    // every doc lands in exactly one shard with contiguous ranks 1..count
    assert(out.count() == 300L)
    out.groupBy("shard").agg(count(lit(1)).as("n"), max("pos").as("mx"),
        min("pos").as("mn"), countDistinct("pos").as("d"))
      .collect().foreach { r =>
        assert(r.getLong(4) == r.getLong(1)) // distinct ranks
        assert(r.getLong(2) == r.getLong(1) && r.getLong(3) == 1L) // 1..n
      }
    // the order is NOT id order (it actually shuffles)
    val shard0 = out.where(col("shard") === out.select("shard").first().getLong(0))
      .orderBy("pos").select("id").as[Long].collect()
    assert(shard0.toSeq != shard0.sorted.toSeq)
    // deterministic across reruns
    val k1 = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val k2 = Corpus.shuffleShards(docs, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(k1 == k2)
    // growing the corpus preserves the relative order of old docs
    val grown = Corpus.shuffleShards(
      spark.range(400).select(col("id").as("doc_id")), nShards = 4)
    val oldOrder = out.orderBy("shard", "pos").select("id").as[Long].collect()
      .filter(_ < 300)
    val grownOrder = grown.orderBy("shard", "pos").select("id").as[Long]
      .collect().filter(_ < 300)
    // per shard, old docs keep their relative sequence
    val oldByShard = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grownByShard = grown.collect().filter(_.getLong(0) < 300)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oldByShard == grownByShard) // shard assignment is pure in id
    assert(oldOrder.toSeq == grownOrder.toSeq)
    out.unpersist()
  }

  test("tokenMixtureCapped: full epochs repeat, cap binds, partial cuts by budget") {
    // 100 docs of 10 tokens each per lang -> 1000 tokens per stratum
    val many = spark.range(200).select(
      col("id").as("doc_id"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang"),
      lit("one two three four five six seven eight nine ten").as("text"))
    // en budget 2500 = 2 full epochs + 500-token partial;
    // de budget 7500 = 7.5 epochs -> capped at 3 full, no partial
    val out = Corpus.tokenMixtureCapped(many,
      Map("en" -> 0.25, "de" -> 0.75), totalTokens = 10000, maxEpochs = 3,
      strataCol = "lang")
    val byLang = out.groupBy("stratum")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("n"),
        max("epoch").as("maxe"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // en: 2 full epochs (2000 tokens, 200 rows) + 50-doc partial at epoch 2
    assert(byLang("en") == ((2500L, 250L, 2L)))
    // de: capped at 3 complete epochs — 3000 tokens delivered, not 7500
    assert(byLang("de") == ((3000L, 300L, 2L)))
    // every full epoch contains every doc exactly once
    val enEpoch0 = out.where(col("stratum") === "en" && col("epoch") === 0)
    assert(enEpoch0.count() == 100L)
    assert(enEpoch0.select("id").distinct().count() == 100L)
    // the partial epoch is a strict prefix, not a full pass
    assert(out.where(col("stratum") === "en" && col("epoch") === 2)
      .count() == 50L)
    // deterministic across reruns
    val k1 = out.select(col("id"), col("epoch")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val k2 = Corpus.tokenMixtureCapped(many,
      Map("en" -> 0.25, "de" -> 0.75), totalTokens = 10000, maxEpochs = 3,
      strataCol = "lang").select(col("id"), col("epoch")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k1 == k2)
  }

  test("tokenMixtureTemperature: sqrt shares upweight the small stratum") {
    // en: 160 docs x 10 tokens = 1600; de: 40 docs x 10 = 400 (4:1 mass).
    // sqrt shares: 40 / (40 + 20) = 2/3 vs 1/3 — the small stratum's
    // share doubles relative to proportional sampling (4/5 vs 1/5).
    val many = spark.range(200).select(
      col("id").as("doc_id"),
      when(col("id") % 5 < 4, "en").otherwise("de").as("lang"),
      lit("one two three four five six seven eight nine ten").as("text"))
    val out = Corpus.tokenMixtureTemperature(many, totalTokens = 300,
      strataCol = "lang")
    val byLang = out.groupBy("stratum")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // budgets: en 200, de 100 -> selected token mass stops at the budget
    assert(byLang("en") == 200L, s"en got ${byLang("en")}")
    assert(byLang("de") == 100L, s"de got ${byLang("de")}")
    // deterministic across reruns
    val ids1 = out.select("id").as[Long].collect().toSet
    val ids2 = Corpus.tokenMixtureTemperature(many, totalTokens = 300,
      strataCol = "lang").select("id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("contamination: benchmark overlap fraction, zero for disjoint docs") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),   // = benchmark doc
      (1L, "the quick brown fox sleeps all day long now"),   // partial overlap
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // disjoint
      (3L, "ab")                                             // too short: no shingles
    ).toDF("doc_id", "text")
    val bench = corpus.where(col("doc_id") === 0L)
    val out = Corpus.contamination(corpus, bench, n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // the benchmark doc itself: fully contaminated (7 of its 7 shingles)
    assert(out(0L) == ((7L, 7L, 1.0)))
    // doc 1 shares exactly "the quick brown" + "quick brown fox" with it
    assert(out(1L)._1 == 7L && out(1L)._2 == 2L)
    assert(math.abs(out(1L)._3 - 2.0 / 7.0) < 1e-6)
    assert(out(2L) == ((6L, 0L, 0.0)))
    // shingle-less doc: 0 shingles, contamination defined as 0
    assert(out(3L) == ((0L, 0L, 0.0)))
  }

  test("contaminationBloom: no false negatives vs exact; fixture counts identical") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox sleeps all day long now"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "ab")
    ).toDF("doc_id", "text")
    val bench = corpus.where(col("doc_id") === 0L)
    val exact = Corpus.contamination(corpus, bench, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bloom = Corpus.contaminationBloom(corpus, bench, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // Bloom filters never miss a real hit (the spec-level invariant);
    // at this filter size / universe the fp probability is ~0 and the
    // filter is deterministic, so counts are exactly the exact ones.
    exact.foreach { case (id, n) => assert(bloom(id) >= n, s"doc $id") }
    assert(bloom == exact)
    // an empty benchmark flags nothing (and must not crash)
    val none = Corpus.contaminationBloom(corpus, corpus.limit(0), n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(none.values.forall(_ == 0L))
  }

  test("packSequences gives an oversized doc its own pack boundary") {
    val two = Seq(
      (0L, Seq.fill(30)("tok").mkString(" ")),   // 30 tokens
      (8L, Seq.fill(100)("tok").mkString(" ")),  // 100 tokens, same shard (mod 8)
      (16L, Seq.fill(5)("tok").mkString(" "))
    ).toDF("doc_id", "text")
    val packed = Corpus.packSequences(two, maxTokens = 50, nShards = 8)
      .orderBy("doc_id").select("doc_id", "pack_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 0 starts pack 0 (cum 30); doc 8 starts at cum 30 -> pack 0, ends 130;
    // doc 16 starts at cum 130 -> pack 2 (the oversized doc consumed pack 1)
    assert(packed.toSeq == Seq((0L, 0L), (8L, 0L), (16L, 2L)))
  }

  test("qualityWeightedSample: weight 1 always kept, weight 0 never, clamped") {
    val weighted = Seq(
      (1L, 1.0), (2L, 1.0), (3L, 0.0), (4L, 0.0), (5L, 2.5), (6L, -0.3)
    ).toDF("doc_id", "quality_score")
    val r = Corpus.qualityWeightedSample(weighted).orderBy("id").collect()
    // 2.5 clamps to weight 1 (kept), -0.3 clamps to 0 (dropped)
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))
    assert(r.map(_.getDouble(1)).toSeq == Seq(1.0, 1.0, 1.0))
  }

  test("curationPipeline: drops, redacts, and dedups across the full chain") {
    // a 56-word prose line that clears every Gopher threshold
    val rep = "the quick brown fox jumps over a lazy dog near the river bank today"
    val base = s"$rep $rep $rep $rep."
    val pipeDocs = Seq(
      (1L, base + "\ntiny"),                                      // survives; dup group rep
      (2L, base),                                                 // identical final text -> dropped
      (3L, base + "\nlorem ipsum dolor sit amet consectetur."),   // C4 doc drop
      (4L, "too short a line here today."),                       // fails Gopher minWords
      (5L, base.dropRight(1) +
        " contact bob@example.com or 555-123-4567 today please.") // PII redacted
    ).toDF("doc_id", "text")
    val r = Corpus.curationPipeline(pipeDocs, stopwords = Seq("the", "a"))
      .orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 5L))
    assert(r(0).getAs[Long]("n_dups") == 2L) // docs 1 and 2 collapsed
    val t5 = r(1).getAs[String]("final_text")
    assert(t5.contains("<EMAIL>") && t5.contains("<PHONE>"))
    assert(!t5.contains("bob@") && !t5.contains("555-123-4567"))
  }

  // ---------------------------------------------------------------- p70

  /** Pure-Scala twin of TF.tokenCode → bucket (md5 prefix, engine-portable)
   * so the classifier fixture below is hand-computed, not circular. */
  private def bucketOf(gram: String, buckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(gram.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 8), 16) % buckets).toInt
  }

  /** Unrounded mean NB likelihood ratio for `text` under `model` —
   * re-derives score from the model's count arrays with the documented
   * formula ((cp+1)(tn+B))/((cn+1)(tp+B)), ordered fold, independent of
   * the native dsir_score expression. */
  private def handScore(text: String, model: Corpus.DsirModel): (Long, Double) = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    val grams = toks.sliding(2).map(_.mkString(" ")).toSeq
    val b = model.cr.size
    val ratios = grams.map { g =>
      val k = bucketOf(g, b)
      ((model.ct(k) + 1).toDouble * (model.tr + b).toDouble) /
        ((model.cr(k) + 1).toDouble * (model.tt + b).toDouble)
    }
    (grams.size.toLong, ratios.foldLeft(0.0)(_ + _) / grams.size)
  }

  private lazy val seedDocs = Seq(
    (0L, "good clean prose about science and careful analysis today", true),
    (1L, "good clean prose with careful reasoning and clear analysis", true),
    (2L, "spam spam click here buy now cheap cheap deal", false),
    (3L, "click buy now spam cheap spam here deal now", false)
  ).toDF("doc_id", "text", "pos")

  test("classifierTrain rebases dsirTrain's (all, pos) counts to (neg, pos)") {
    val B = 64
    val raw = Corpus.dsirTrain(seedDocs, isTarget = col("pos"), buckets = B)
    val cls = Corpus.classifierTrain(seedDocs, isPositive = col("pos"), buckets = B)
    assert(cls.ct == raw.ct && cls.tt == raw.tt)
    assert(cls.cr == raw.cr.zip(raw.ct).map { case (all, p) => all - p })
    assert(cls.tr == raw.tr - raw.tt)
    // the rebased negatives really are the negative-seed gram counts
    val negOnly = Corpus.dsirTrain(seedDocs.where(!col("pos")),
      isTarget = lit(false), buckets = B)
    assert(cls.cr == negOnly.cr && cls.tr == negOnly.tr)
  }

  test("classifierFilter matches a hand-computed NB score; threshold is >=") {
    val B = 64
    val model = Corpus.classifierTrain(seedDocs, isPositive = col("pos"), buckets = B)
    // apply frame DIFFERENT from the train frame (generalization, the
    // p70 contract): unseen docs built from seed-like vocabulary
    val applyDocs = Seq(
      (10L, "clean prose about careful science analysis"),
      (11L, "buy cheap spam now click here"),
      (12L, "onetoken")
    ).toDF("doc_id", "text")
    val (nGood, sGood) = handScore("clean prose about careful science analysis", model)
    val (_, sBad) = handScore("buy cheap spam now click here", model)
    assert(sGood > 1.0 && sBad < 1.0) // the fixture separates

    val kept = Corpus.classifierFilter(applyDocs, model, threshold = 1.0)
      .orderBy("id").collect()
    // doc 12 has one token (< 2) -> no bigrams -> excluded, not scored
    assert(kept.map(_.getLong(0)).toSeq == Seq(10L))
    assert(kept(0).getAs[Long]("n_grams") == nGood)
    assert(kept(0).getAs[Double]("quality_score") ==
      BigDecimal(sGood).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

    // threshold semantics: keep AT the unrounded score, drop just above
    val atScore = Corpus.classifierFilter(applyDocs, model, threshold = sGood)
      .select("id").as[Long].collect()
    assert(atScore.toSeq == Seq(10L))
    val above = Corpus.classifierFilter(applyDocs, model,
      threshold = sGood + 1e-12).select("id").as[Long].collect()
    assert(!above.contains(10L))
  }

  // ---------------------------------------------------------------- p71

  test("tokenChunks edge cases: n==chunk, n==chunk+1, stride==chunk, n<chunk, empty") {
    def doc(n: Int) = Seq((1L, (0 until n).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text")
    def run(n: Int, cs: Int, st: Int) =
      Corpus.tokenChunks(doc(n), chunkSize = cs, stride = st)
        .orderBy("chunk_id").collect()

    // n == chunkSize: exactly one window, no spurious empty tail chunk
    val eq = run(8, 8, 5)
    assert(eq.length == 1 && eq(0).getAs[Long]("n_tokens") == 8L)

    // n == chunkSize+1: two windows; the last contains the one new token
    val p1 = run(9, 8, 5)
    assert(p1.length == 2)
    assert(p1(1).getAs[Long]("start_token") == 5L &&
      p1(1).getAs[Long]("n_tokens") == 4L &&
      p1(1).getAs[String]("chunk_text") == "t5 t6 t7 t8")

    // stride == chunkSize: disjoint tiling, concatenation == original text
    val tile = run(20, 8, 8)
    assert(tile.map(_.getAs[Long]("start_token")).toSeq == Seq(0L, 8L, 16L))
    assert(tile.map(_.getAs[String]("chunk_text")).mkString(" ") ==
      (0 until 20).map("t" + _).mkString(" "))

    // n < chunkSize: one short window
    val short = run(3, 8, 5)
    assert(short.length == 1 && short(0).getAs[Long]("n_tokens") == 3L)

    // empty text: tokens("") == [""] -> a single 1-token window of ""
    val empty = Corpus.tokenChunks(Seq((1L, "")).toDF("doc_id", "text"),
      chunkSize = 8, stride = 5).collect()
    assert(empty.length == 1 && empty(0).getAs[Long]("n_tokens") == 1L &&
      empty(0).getAs[String]("chunk_text") == "")

    // require() bounds
    intercept[IllegalArgumentException](Corpus.tokenChunks(doc(5), 8, 0))
    intercept[IllegalArgumentException](Corpus.tokenChunks(doc(5), 8, 9))
  }

  test("tokenChunks invariant sweep: every token covered, every window novel") {
    val (cs, st) = (8, 5)
    val docsN = (1 to 40).map(n =>
      (n.toLong, (0 until n).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val rows = Corpus.tokenChunks(docsN, chunkSize = cs, stride = st)
      .orderBy("id", "chunk_id").collect()
      .groupBy(_.getAs[Long]("id")).view.mapValues(_.sortBy(_.getAs[Long]("chunk_id")))
    (1 to 40).foreach { n =>
      val ch = rows(n.toLong)
      // expected window count straight from the documented formula
      val kMax = if (n > cs) math.ceil((n - cs).toDouble / st).toInt else 0
      assert(ch.length == kMax + 1, s"n=$n")
      var prevEnd = 0L
      ch.foreach { r =>
        val start = r.getAs[Long]("start_token")
        val nt = r.getAs[Long]("n_tokens")
        assert(nt == math.min(cs.toLong, n - start), s"n=$n start=$start")
        // novelty: each window ends past the previous window's end,
        // so it contains at least one token no earlier window covered
        assert(start + nt > prevEnd, s"n=$n redundant window at $start")
        // coverage: no gap between consecutive windows
        assert(start <= prevEnd, s"n=$n dropped tokens before $start")
        prevEnd = start + nt
      }
      assert(prevEnd == n, s"n=$n tail tokens dropped") // full coverage
    }
  }

  test("corpusStats: rollup levels, grouping_id semantics, exact integer sums") {
    val docs = Seq(
      (1L, "one two three", "en", "web", 13L),
      (2L, "four five", "en", "web", 9L),
      (3L, "six", "en", "books", 3L),
      (4L, "sept huit", "fr", "web", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus.corpusStats(docs)
      .orderBy("grouping_id", "lang", "source")
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      // detail rows (grouping_id 0)
      (Some("en"), Some("books"), 0L, 1L, 3L, 1L),
      (Some("en"), Some("web"), 0L, 2L, 22L, 5L),
      (Some("fr"), Some("web"), 0L, 1L, 9L, 2L),
      // per-lang subtotals (grouping_id 1): source is NULL
      (Some("en"), None, 1L, 3L, 25L, 6L),
      (Some("fr"), None, 1L, 1L, 9L, 2L),
      // grand total (grouping_id 3)
      (None, None, 3L, 4L, 34L, 8L)))
  }

  test("hashSplit: stable under corpus growth, salt re-splits, partition covers") {
    def split(ids: Seq[Long], salt: String = "v1"): Map[Long, String] =
      Corpus.hashSplit(ids.toDF("doc_id"), salt = salt)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // STABILITY — the production property randomSplit lacks: doubling
    // the corpus must not move any existing doc's assignment
    val small = split(0L until 200L)
    val grown = split(0L until 400L)
    assert((0L until 200L).forall(i => small(i) == grown(i)))
    // every doc gets exactly one label; all three labels appear at 400
    assert(grown.values.toSet == Set("train", "val", "test"))
    // 98/1/1: train dominates
    val counts = grown.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 350 && counts("val") < 25 && counts("test") < 25, counts)
    // a different salt is an independent re-split: some docs move
    val resalted = split(0L until 400L, salt = "v2")
    assert((0L until 400L).exists(i => grown(i) != resalted(i)))
    // custom weights: 1/1 halves and covers
    val half = Corpus.hashSplit((0L until 100L).toDF("doc_id"),
      weights = Seq(("a", 1), ("b", 1))).collect()
      .map(_.getString(1)).groupBy(identity).view.mapValues(_.size).toMap
    assert(half.keySet == Set("a", "b") && half.values.sum == 100)
  }

  test("cdcChunks: boundaries resynchronize after an insertion; short docs chunk whole") {
    val text = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "inserted prefix words " + text))
      .toDF("doc_id", "text")
    val out = Corpus.cdcChunks(docs, w = 8, divisor = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val c1 = out.filter(_._1 == 1L).sortBy(_._2)
    val c2 = out.filter(_._1 == 2L).sortBy(_._2)
    // chunks tile each doc exactly
    def tiles(cs: Seq[(Long, Long, Long, Long, String)], n: Long): Unit = {
      assert(cs.head._3 == 0L)
      cs.sliding(2).foreach { case Seq(a, b) => assert(a._3 + a._4 == b._3) }
      assert(cs.last._3 + cs.last._4 == n)
    }
    tiles(c1.toSeq, 60); tiles(c2.toSeq, 63)
    // THE CDC property: a 3-token insertion leaves every doc-1 chunk
    // after the first boundary intact in doc 2 (boundaries are content
    // functions, so they re-align; fixed-stride chunking loses ALL of
    // them). Multiple shared chunks prove resync, not coincidence.
    val tail1 = c1.drop(1).map(_._5).toSet
    val h2 = c2.map(_._5).toSet
    assert(c1.size >= 3, s"fixture too short to cut: ${c1.size} chunks")
    assert(tail1.subsetOf(h2), s"lost ${tail1.diff(h2).size} of ${tail1.size}")
    // a doc shorter than the window is one whole-doc chunk
    val short = Corpus.cdcChunks(Seq((9L, "a b c")).toDF("doc_id", "text"),
      w = 8, divisor = 16).collect()
    assert(short.length == 1 && short(0).getLong(2) == 0L &&
      short(0).getLong(3) == 3L)
  }

  test("cdcSharedDocs: offset-shifted shared passages pair; frequency guard drops ubiquitous chunks") {
    val passage = (1 to 80).map(i => s"pp$i").mkString(" ")
    val docs = Seq(
      (1L, "short intro " + passage),
      (2L, (1 to 17).map(i => s"longer prefix$i").mkString(" ") + " " + passage),
      (3L, (1 to 60).map(i => s"unrelated$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Corpus.cdcSharedDocs(docs, w = 8, divisor = 16, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1 and 2 embed the passage at DIFFERENT token offsets (2 vs
    // 17) — content-defined boundaries resync inside it, so they share
    // its interior chunks; doc 3 pairs with nobody
    assert(pairs == Set((1L, 2L)), pairs)
    // the frequency guard: with maxDocFreq = 1 every shared chunk is
    // "ubiquitous" and no pair survives
    assert(Corpus.cdcSharedDocs(docs, w = 8, divisor = 16, minShared = 2,
      maxDocFreq = 1).count() == 0)
  }

  test("snapshotDiff: content-based classes; text never crosses the join") {
    val v1 = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("doc_id", "text")
    val out = Corpus.snapshotDiff(v1, v2).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "unchanged"), (2L, "modified"),
      (3L, "removed"), (4L, "added")))
    // identity is CONTENT: a doc whose text round-trips byte-identically
    // is unchanged even if the row was rewritten
    val plan = Corpus.snapshotDiff(v1, v2).queryExecution.executedPlan.toString
    // each side collapses to (id, md5) before the join — the raw text
    // column must not appear in the join operator's output
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("text#"), plan)
  }

  test("thresholdSweep: hand-computed confusion cells, rows partition the corpus") {
    val scored = Seq(
      (0.1, true), (0.3, true), (0.6, false), (0.9, true), (0.5, false))
      .toDF("score", "label")
    val out = Corpus.thresholdSweep(scored, "score", "label", Seq(0.5, 0.95))
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // t=0.5: predicted+ = {0.6F, 0.9T, 0.5F} -> tp 1, fp 2, fn 2, tn 0
    // t=0.95: nothing predicted+ -> fn = all labels, tn = rest
    assert(out.toSeq == Seq((0.5, 1L, 2L, 2L, 0L), (0.95, 0L, 0L, 3L, 2L)))
    // the four cells always partition the corpus, at every threshold
    assert(out.forall { case (_, tp, fp, fn, tn) => tp + fp + fn + tn == 5 })
  }

  test("shardManifest: checksum order-insensitive, any content change moves it") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "delta eps"),
      (4L, "zeta")).toDF("doc_id", "text")
    val base = Corpus.shardManifest(docs, nShards = 2).orderBy("shard").collect()
    // totals across shards cover the corpus exactly
    assert(base.map(_.getLong(1)).sum == 4L)
    assert(base.map(_.getLong(2)).sum == 6L) // 2+1+2+1 tokens
    // partition order / row order cannot move the checksum
    val shuffled = Corpus.shardManifest(
      docs.orderBy(col("doc_id").desc).repartition(5), nShards = 2)
      .orderBy("shard").collect()
    assert(base.map(_.toSeq).toSeq == shuffled.map(_.toSeq).toSeq)
    // a one-char content change moves exactly that doc's shard checksum
    val changed = Corpus.shardManifest(
      docs.withColumn("text",
        when(col("doc_id") === 2, lit("gamma!")).otherwise(col("text"))),
      nShards = 2).orderBy("shard").collect()
    assert(base.map(_.toSeq).toSeq != changed.map(_.toSeq).toSeq)
    assert(base.zip(changed).count {
      case (b, c) => b.getLong(5) != c.getLong(5) } == 1)
  }

  test("dpoPairs: best/worst per group, deterministic tie-breaks, singletons drop") {
    val cands = Seq(
      // group 0: distinct scores — plain argmax/argmin
      (0L, 10L, 5L), (0L, 11L, 9L), (0L, 12L, 1L),
      // group 1: fully tied — chosen = smallest id, rejected = largest
      (1L, 20L, 7L), (1L, 21L, 7L), (1L, 22L, 7L),
      // group 2: singleton — no pair, dropped
      (2L, 30L, 3L)
    ).toDF("group_id", "id", "score")
    val out = Corpus.dpoPairs(cands).orderBy("group_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("chosen_id") == 11L &&
      out(0).getAs[Long]("rejected_id") == 12L &&
      out(0).getAs[Long]("margin") == 8L &&
      out(0).getAs[Long]("n_candidates") == 3L)
    assert(out(1).getAs[Long]("chosen_id") == 20L &&
      out(1).getAs[Long]("rejected_id") == 22L &&
      out(1).getAs[Long]("margin") == 0L)
    // one group-keyed exchange, no window materializing whole groups
    // (the struct ordering buffer rides a SortAggregate with partial
    // combine — see the scaladoc's cost argument)
    val plan = Corpus.dpoPairs(cands).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("partial_max_by") || plan.contains("partial_"), plan)
  }

  test("dpoPairs: fractional scores order and report on their native type") {
    // 0.9 vs 0.2 must NOT collapse to a tie (the r14 cast("long") bug
    // truncated both to 0 and handed the pair to the id tie-break)
    val cands = Seq(
      (0L, 10L, 0.2), (0L, 11L, 0.9), (0L, 12L, 0.35),
      (1L, 20L, -0.5), (1L, 21L, 0.5)
    ).toDF("group_id", "id", "score")
    val out = Corpus.dpoPairs(cands).orderBy("group_id").collect()
    assert(out(0).getAs[Long]("chosen_id") == 11L &&
      out(0).getAs[Long]("rejected_id") == 10L)
    assert(out(0).getAs[Double]("chosen_score") == 0.9 &&
      out(0).getAs[Double]("rejected_score") == 0.2 &&
      math.abs(out(0).getAs[Double]("margin") - 0.7) < 1e-12)
    assert(out(1).getAs[Long]("chosen_id") == 21L &&
      out(1).getAs[Double]("margin") == 1.0)
  }

  test("spanDecontaminate: pad windows excise, overlaps merge, case survives") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      // one hit at s=4: window [4-2, 4+5+2) = [2, 11) of 13 tokens
      (1L, "t0 t1 t2 t3 alpha beta gamma delta epsilon t9 t10 t11 t12"),
      // two hits at s=0 and s=6, gap 6 <= 5+2*2: ONE merged span
      // covering everything (lo clamps at 0)
      (2L, "alpha beta gamma delta epsilon x alpha beta gamma delta epsilon"),
      // matching is case-folded but the kept text is NOT rewritten
      (3L, "ALPHA Beta gamma delta epsilon Keep Me SAFE here now yes ok"),
      (4L, "nothing shared with the eval split at all")
    ).toDF("doc_id", "text")
    val out = Corpus.spanDecontaminate(train, eval, n = 5, pad = 2)
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("n_spans") == 1L &&
      out(0).getAs[Long]("n_removed") == 9L &&
      out(0).getAs[String]("clean_text") == "t0 t1 t11 t12")
    assert(out(1).getAs[Long]("n_spans") == 1L &&
      out(1).getAs[Long]("n_removed") == 11L &&
      out(1).getAs[String]("clean_text") == "")
    assert(out(2).getAs[Long]("n_spans") == 1L &&
      out(2).getAs[String]("clean_text") == "SAFE here now yes ok")
    assert(out(3).getAs[Long]("n_spans") == 0L &&
      out(3).getAs[Long]("n_removed") == 0L &&
      out(3).getAs[String]("clean_text") ==
        "nothing shared with the eval split at all")
    // distant hits stay SEPARATE spans at pad=0
    val far = Seq((9L, "alpha beta gamma delta epsilon q w e r t y u i o p" +
      " alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val sep = Corpus.spanDecontaminate(far, eval, n = 5, pad = 0).collect()(0)
    assert(sep.getAs[Long]("n_spans") == 2L &&
      sep.getAs[Long]("n_removed") == 10L &&
      sep.getAs[String]("clean_text") == "q w e r t y u i o p")
    // the eval side broadcasts; the corpus never rides a shuffle join
    val plan = Corpus.spanDecontaminate(train, eval, n = 5, pad = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ngramDecontaminate: string doc ids survive (no one-sided cast)") {
    // the r14 bug cast the train id to long on the output side only,
    // so string ids became null and contamination was silently lost
    val eval = Seq(("e1", "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      ("doc-a", "x alpha beta gamma delta epsilon y"),
      ("doc-b", "nothing shared at all in here")
    ).toDF("doc_id", "text")
    val out = Corpus.ngramDecontaminate(train, eval, n = 5)
      .orderBy("id").collect()
    assert(out.map(r => (r.getString(0), r.getBoolean(2))).toSeq ==
      Seq(("doc-a", true), ("doc-b", false)))
    assert(out(0).getAs[Long]("n_contaminated_grams") == 1L)
  }

  test("ngramDecontaminate: exact n-gram collision across the split, nothing fuzzy") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      // shares the full 5-gram (case/extra-whitespace-insensitive)
      (1L, "intro  ALPHA beta GAMMA delta epsilon outro"),
      // shares only a 4-gram — NOT contaminated at n=5
      (2L, "alpha beta gamma delta omega"),
      // too short to have any 5-gram
      (3L, "alpha beta"),
      (4L, "unrelated text entirely free of overlap here")
    ).toDF("doc_id", "text")
    val out = Corpus.ngramDecontaminate(train, eval, n = 5)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(2))).toSeq ==
      Seq((1L, true), (2L, false), (3L, false), (4L, false)))
    assert(out(0).getAs[Long]("n_contaminated_grams") == 1L)
    // the eval side broadcasts — the corpus never rides a shuffle join
    val plan = Corpus.ngramDecontaminate(train, eval, n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("fimTransform: splits reconstruct, renders match mode, lengths consistent") {
    val docs = (0L until 40L).map(i => (i, s"document $i body with some text"))
      .toDF("doc_id", "text")
    val out = Corpus.fimTransform(docs).orderBy("doc_id").collect()
    val orig = docs.orderBy("doc_id").collect().map(_.getString(1))
    val (pre, suf, mid) = ("<|fim_prefix|>", "<|fim_suffix|>", "<|fim_middle|>")
    var nFim = 0
    out.zip(orig).foreach { case (r, t) =>
      val rendered = r.getAs[String]("text")
      if (!r.getAs[Boolean]("fim")) {
        assert(r.getAs[String]("mode") == "plain" && rendered == t)
        assert(r.isNullAt(r.fieldIndex("n_prefix")))
      } else {
        nFim += 1
        val (np, nm, ns) = (r.getAs[Long]("n_prefix").toInt,
          r.getAs[Long]("n_middle").toInt, r.getAs[Long]("n_suffix").toInt)
        assert(np + nm + ns == t.length, "split lengths must cover the doc")
        assert(rendered.length == t.length + pre.length + suf.length + mid.length)
        // reconstruct the three pieces from the KNOWN lengths and
        // require they reassemble the original — render-order proof
        val (p, m, s) = (t.substring(0, np), t.substring(np, np + nm),
          t.substring(np + nm))
        if (r.getAs[String]("mode") == "spm")
          assert(rendered == suf + s + pre + p + mid + m)
        else
          assert(rendered == pre + p + suf + s + mid + m)
      }
    }
    assert(nFim > 5 && nFim < 35, s"gate should split the population: $nFim")
    assert(out.exists(r => r.getAs[String]("mode") == "spm") &&
      out.exists(r => r.getAs[String]("mode") == "psm"))
    // rate endpoints: 0 -> all plain (byte-identical), 100 -> all fim
    assert(Corpus.fimTransform(docs, fimRate = 0).collect()
      .forall(r => r.getAs[String]("mode") == "plain"))
    assert(Corpus.fimTransform(docs, fimRate = 100).collect()
      .forall(_.getAs[Boolean]("fim")))
    // degenerate empty-middle splits are kept, not dropped
    val all = Corpus.fimTransform(docs, fimRate = 100).collect()
    assert(all.length == 40)
    // one narrow scan, zero exchanges
    val plan = Corpus.fimTransform(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
