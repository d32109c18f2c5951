package graft

import graft.model.{GraftOntology => O}
import graft.operators._
import graft.sources.TpchGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Physical-plan audits: the properties that decide 100 TB viability,
 * asserted so they can't silently regress.
 *  - lookups broadcast the small query-side set and never shuffle the
 *    edge table;
 *  - literal predicate filters reach the scan;
 *  - no cartesian products anywhere in the operator suite;
 *  - narrow projections prune the parquet read schema.
 */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val graph = TpchGraph(spark, sfDir)
  private val ont = O.ontology

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("one-hop literal fast path: single scan, zero joins, zero exchanges") {
    // The serving path for pinned-id lookups: ids resolve to literal
    // set probes, each direction scans the replica clustered on the
    // column it probes, and a direction whose condition folds to false
    // (here: located_in is not symmetric, input pinned on the subject
    // side) must PRUNE AWAY at optimization time — leaving one pass over
    // the edge table with no join, no broadcast build job, no shuffle,
    // and (r12) no Union and no Generate either: a plain Filter+Project
    // over the clustered cache, which zone-map batch pruning serves in
    // O(matching batches). This is what holds the per-query floor near
    // the Spark scheduling constant (r10 advice #1).
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n0", ids = Seq("NAT:1", "NAT:2")),
      QNode("n1", categories = Seq(O.Customer)),
      QEdge("n0", "n1", predicates = Seq(O.LocatedIn))),
      closure = None, expandSubclasses = false)
    // Audit the query part only — the cached edge table's BUILD plan
    // (with its denorm broadcast joins) renders inside InMemoryRelation.
    val p = plan(res.matches).split("InMemoryTableScan").head
    assert(!p.contains("Join"), s"fast path gained a join:\n$p")
    assert(!p.contains("Exchange"), s"fast path gained a shuffle:\n$p")
    assert(!p.contains("Union"), s"dead direction branch not pruned:\n$p")
    assert(!p.contains("Generate"), s"unexpected explode on the fast path:\n$p")
  }

  test("one-hop literal fast path, symmetric predicate: per-replica union, still no joins/exchanges") {
    // A symmetric predicate keeps BOTH directions live: the plan must be
    // a Union of two filtered scans — fwd probing `subject` against the
    // subject-clustered primary, bwd probing `object` against the
    // object-clustered replica — with still zero joins and zero
    // exchanges before the output sort.
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n0", ids = Seq("NAT:1")),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.AdjacentTo))),
      closure = None, expandSubclasses = false)
    val p = plan(res.matches).split("InMemoryTableScan").head
    assert(!p.contains("Join"), s"fast path gained a join:\n$p")
    assert(!p.contains("Exchange"), s"fast path gained a shuffle:\n$p")
    assert(p.contains("Union"), s"fwd/bwd replica union missing:\n$p")
  }

  test("one-hop 70k pinned ids: the one literal path, no join, no exchange") {
    // Past the old 65,536-id cap a lookup still takes the literal path:
    // one probe-filtered scan, no broadcast build job, no shuffle.
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n0", ids = (1 to 70000).map("CUST:" + _)),
      QNode("n1", categories = Seq(O.Nation)),
      QEdge("n0", "n1", predicates = Seq(O.LocatedIn))),
      closure = None, expandSubclasses = false)
    val p = plan(res.matches).split("InMemoryTableScan").head
    assert(!p.contains("Join"), s"70k-id lookup gained a join:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"70k-id lookup gained a shuffle:\n${p.take(2000)}")
    assert(p.contains("set_probe"), s"id set probe missing:\n${p.take(2000)}")
  }

  test("get_edges literal fast path (g18 shape): one probe scan, zero joins, zero exchanges") {
    // The batch pair-lookup serving path: unordered-pair keys become an
    // isin scan filter plus a map_probe literal lookup — no broadcast
    // build job, no join, no shuffle before the caller's output sort.
    val res = GraphOps.getEdges(spark, graph, Seq(
      ("NAT:0", "REG:0"), ("NAT:1", "NAT:2"), ("CUST:1", "NAT:7")))
    val p = plan(res).split("InMemoryTableScan").head
    assert(!p.contains("Join"), s"get_edges literal path gained a join:\n$p")
    assert(!p.contains("Exchange"), s"get_edges literal path gained a shuffle:\n$p")
    assert(p.contains("map_probe"), s"pair-key map probe missing:\n$p")
  }

  test("single-node literal fast path (g14 shape): one probe scan, zero joins, zero exchanges") {
    // Edgeless lookups with subclass expansion resolved driver-side via
    // ClosureIndex: the query collapses to one probe filter over the
    // cached node table with the query-id mapping as a map_probe literal.
    val closure = SubclassClosure.fromGraph(graph, ont).cache()
    val res = GraphOps.singleNode(spark, graph, Seq("REG:1", "NAT:20", "CUST:3"),
      Some(closure), index = Some(ClosureIndex.fromClosure(closure)))
    val p = plan(res).split("InMemoryTableScan").head
    assert(!p.contains("Join"), s"single-node literal path gained a join:\n$p")
    assert(!p.contains("Exchange"), s"single-node literal path gained a shuffle:\n$p")
    assert(p.contains("map_probe"), s"query-id map probe missing:\n$p")
  }

  test("graph build: endpoint-category denormalization broadcasts the node dimension") {
    // The build-time category denorm is the dominant warm-up cost; the
    // stats-materialized narrow dimension must keep BOTH endpoint joins
    // broadcast at fixture scale (a raw-source estimate would fall to
    // two sort-merge joins over the full edge table — the ~21 s sf0.1
    // warm-up this pin guards against).
    val g = graft.sources.GraphBuilder.build(
      TpchGraph.rawNodes(spark, sfDir), TpchGraph.rawEdges(spark, sfDir), ont)
    val p = plan(g.edges)
    assert(!p.contains("SortMergeJoin"), s"node dimension got shuffled:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected two broadcast endpoint joins:\n$p")
  }

  test("one-hop: predicate filter is a literal pushed to the scan") {
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n0", ids = Seq("NAT:1")),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.PartOf))),
      closure = None, expandSubclasses = false)
    // The predicate restriction must appear as a literal IN/equals filter
    // (expanded driver-side from the ontology), not as a join.
    val p = res.matches.queryExecution.optimizedPlan.toString
    assert(p.contains("graft:part_of"))
  }

  test("batch ops and meta summary avoid cartesian products") {
    val frames = Seq(
      GraphOps.getEdges(spark, graph, Seq(("NAT:0", "REG:0"))),
      GraphOps.getNeighbors(spark, graph, ont, Seq("NAT:0"), Seq(O.Customer),
        Seq(O.RelatedTo)),
      GraphOps.metaSummary(graph))
    frames.foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("meta summary uses denormalized categories (no node-table join)") {
    val p = plan(GraphOps.metaSummary(graph))
    // a single aggregate over generate/explode, reading the cached edge
    // table; no join ABOVE the cache scan (the denormalization join lives
    // in the cached build plan, rendered inside InMemoryRelation).
    val queryPart = p.split("InMemoryTableScan").head
    assert(!queryPart.contains("Join"),
      s"meta summary re-joined the node table:\n$queryPart")
    assert(queryPart.contains("explode"))
  }

  test("narrow projection prunes the parquet read schema") {
    val scan = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val scans = scan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("l_orderkey", "l_partkey"))
  }

  test("dedup pair generation is join-based, never all-pairs") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "b c d e f")).toDF("doc_id", "text")
    val p = plan(Dedup.jaccardPairs(docs, n = 2, threshold = 0.1))
    assert(!p.contains("CartesianProduct"), p)
    val p2 = plan(Dedup.minhashLshPairs(docs, k = 8, bands = 4, shingleN = 2,
      minAgree = 1))
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("redirect edges are a shuffle-free projection; chain collapse joins only") {
    import spark.implicits._
    val recs = Seq(
      ("f", "response", "<r1>", "https://a.com/x", 301, "text/html",
        "b", "b".getBytes("UTF-8"), null: String, null: String,
        Map("location" -> "/y"))
    ).toDF("file", "warc_type", "record_id", "target_uri", "status",
      "content_type", "body", "body_bytes", "refers_to",
      "payload_digest", "http_headers")
    val p = plan(graft.sources.WarcSource.redirectEdges(recs))
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src_url", "dst_url")
    val p2 = plan(graft.operators.UrlOps.collapseRedirects(edges))
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("one-hop output-category filter is a scan predicate, not a join (r2 g07 regression)") {
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n_out", categories = Seq(O.Customer, O.Nation)),
      QNode("n_in", ids = Seq("NAT:0", "NAT:1")),
      QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn, O.AdjacentTo))),
      closure = None, expandSubclasses = false)
    val opt = res.matches.queryExecution.optimizedPlan.toString
    // denormalized endpoint categories: the filter is arrays_overlap on
    // the edge row itself — no semi-join against the node table
    assert(opt.contains("arrays_overlap"), opt)
    assert(!opt.contains("LeftSemi"), s"category filter became a join again:\n$opt")
    assert(!plan(res.matches).contains("SortMergeJoin"))
  }

  test("category-hierarchy expansion (g08 shape): no join, filter at the scan") {
    // The r4 bench recorded g08 at ~4.9s p50 (vs 0.7s on an idle machine —
    // external load, not plan structure). This pins the structural
    // invariants so a REAL plan regression can't hide behind that noise:
    // the subclass-expanded pinned input resolves driver-side through the
    // ClosureIndex (no broadcast join), the edge table is never shuffled,
    // and the output-category filter stays a denormalized arrays_overlap
    // predicate rather than a node-table join.
    val closure = SubclassClosure.fromGraph(graph, ont)
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n_out", categories = Seq(O.Actor)),
      QNode("n_in", ids = Seq("NAT:3")),
      QEdge("n_out", "n_in", predicates = Seq(O.AffiliatedWith))),
      closure = Some(closure), expandSubclasses = true,
      index = Some(ClosureIndex.fromClosure(closure)))
    // the query part only: the cached edge table's build plan (with its
    // denorm broadcast joins) renders inside InMemoryRelation
    val p = plan(res.matches).split("InMemoryTableScan").head
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"edge table got shuffled:\n$p")
    assert(!p.contains("CartesianProduct"))
    val opt = res.matches.queryExecution.optimizedPlan.toString
    assert(opt.contains("arrays_overlap"), opt)
    assert(!opt.contains("LeftSemi"), s"category filter became a join:\n$opt")
  }

  test("bucketed embedding dedup joins on the bucket key, never all-pairs") {
    import spark.implicits._
    val vecs = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d).toFloat / 32f)))
      .toDF("vec_id", "embedding")
    val p = plan(Dedup.embeddingPairs(vecs, threshold = 0.1, bucketed = true,
      nPlanes = 4, dim = 4, nTables = 2))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("shingling runs once per document: no emptiness filter re-shingles") {
    // A Filter on the shingle count (or on a value computed from the
    // shingles) is pushed below the projection and copies the whole
    // shingle expression into it; the dedup operators test emptiness in
    // an explode instead. Cached signatures count once however many
    // InMemoryRelation nodes read them.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def shinglings(df: DataFrame): Int = {
      val opt = df.queryExecution.optimizedPlan
      val cached = opt.collect { case r: InMemoryRelation => r.cacheBuilder }.distinct
        .map(_.cachedPlan.map(_.simpleString(1000000)).mkString("\n"))
      val dump = (opt.map(_.simpleString(1000000)) ++ cached).mkString("\n")
      "word_shingles\\(".r.findAllIn(dump).size
    }
    import spark.implicits._
    // an RDD source, not a local relation the optimizer would evaluate away
    val docs = spark.sparkContext.parallelize(
      Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "short")), 1).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, k = 8, bands = 4, minAgree = 1)
    assert(shinglings(pairs) == 1, pairs.queryExecution.optimizedPlan)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val sh = Dedup.simhashes(docs)
    assert(shinglings(sh) == 1, sh.queryExecution.optimizedPlan)
    assert(sh.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val inc = Dedup.incrementalNearDup(docs, docs.where(col("doc_id") > 1), k = 8)
    assert(shinglings(inc) == 2, inc.queryExecution.optimizedPlan) // corpus + batch
    // signatures and verification sets share one shingle-set cache;
    // drained first so that only this call's caches are counted
    OperatorCaches.drainMaterialized()
    val ver = Dedup.lshVerifiedPairs(docs, k = 8, bands = 4, threshold = 0.5)
    assert(shinglings(ver) == 1, ver.queryExecution.optimizedPlan)
    assert(ver.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 0.5)))
  }

  test("tokenizing runs once per document: the domain test rides an explode") {
    // A Filter on the token count is pushed below the projection with its
    // own split; the scorers project the tokens once and drop documents
    // outside the domain in a one-element explode instead.
    import spark.implicits._
    def splits(df: DataFrame): Int = "split\\(".r.findAllIn(
      df.queryExecution.optimizedPlan.map(_.simpleString(1000000)).mkString("\n")).size
    val docs = spark.sparkContext.parallelize(
      Seq((1L, "a b c a b c"), (2L, "x y z"), (3L, "one")), 1).toDF("doc_id", "text")
    val rep = TextAnalysis.repetition(docs, n = 2)
    assert(splits(rep) == 1, rep.queryExecution.optimizedPlan)
    assert(rep.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      .toSeq == Seq((1L, 5L, 2L), (2L, 2L, 1L)))
    val bi = TextAnalysis.bigramScore(docs, vocabSize = 4)
    assert(splits(bi) == 1, bi.queryExecution.optimizedPlan)
    assert(bi.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val model = Corpus.classifierTrain(docs, col("doc_id") === 1L, buckets = 8)
    val cf = Corpus.classifierFilter(docs, model, threshold = 0.0)
    assert(splits(cf) == 1, cf.queryExecution.optimizedPlan)
    assert(cf.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val ds = Corpus.dsirApply(docs, model, acceptScale = 1e9)
    assert(splits(ds) == 1, ds.queryExecution.optimizedPlan)
    assert(ds.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("g09/g10/g11 shapes: literal-probe one-hops, no join, edge table never shuffled") {
    // The r5/r6 benches recorded these three keys (registry-adjacent in
    // run order) at 3-6x their r4 mins with no code change to their
    // paths — consistent with an external load window. Pin the plan
    // structure so a REAL regression can't hide behind bench noise,
    // exactly as the g08 case above does.
    val shapes = Seq(
      "g09" -> QueryGraph.oneHop(
        QNode("n0", ids = (1 to 10).map("PART:" + _)),
        QNode("n1"),
        QEdge("n0", "n1", predicates = Seq(O.Transacts))),
      "g10" -> QueryGraph.oneHop(
        QNode("n0", ids = Seq("NAT:4")),
        QNode("n1"),
        QEdge("n0", "n1", predicates = Seq(O.AdjacentTo))),
      "g11" -> QueryGraph.oneHop(
        QNode("nb"),
        QNode("na", ids = (1 to 6).map("CUST:" + _)),
        QEdge("nb", "na", predicates = Seq(O.PlacedBy))))
    for ((name, qg) <- shapes) {
      val res = OneHop.answer(spark, graph, ont, qg,
        closure = None, expandSubclasses = false)
      // the query part only, as in the g08 case: the cached edge table's
      // build plan (its denorm broadcast joins) renders inside
      // InMemoryRelation and says nothing about the lookup
      val p = plan(res.matches).split("InMemoryTableScan").head
      assert(!p.contains("Join"), s"$name literal path gained a join:\n$p")
      assert(!p.contains("Exchange"), s"$name edge table got shuffled:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      // isin: one id folds to `=`, 11+ ids become INSET
      assert("""set_probe\(|\sIN \(|\sINSET |\s= \w+:\d""".r.findFirstIn(p).nonEmpty,
        s"$name: no literal id probe on the edge scan:\n$p")
    }
  }

  test("qualified-predicate match (g15 shape): literal qualifier filter, no extra join") {
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("nOrd"),
      QNode("nPart", ids = (1 to 40).map("PART:" + _)),
      QEdge("nOrd", "nPart", qualifierConstraints = Seq(
        QualifierConstraint(qualifiedPredicate = Some(O.Ships),
          objectDirection = Some(O.Flagged))))),
      closure = None, expandSubclasses = false)
    // qualifier hierarchy expands driver-side to literal filters on the
    // denormalized edge columns — never a join against a qualifier table
    val opt = res.matches.queryExecution.optimizedPlan.toString
    assert(opt.contains(O.Ships), s"qualified predicate not a literal filter:\n$opt")
    val p = plan(res.matches)
    assert(!p.contains("SortMergeJoin"), s"edge table got shuffled:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("IVF assignment is a projection: the rank window is the only shuffle") {
    // The r5 form computed each vector's nearest centroid via
    // crossJoin(centroids) + row_number() — a full shuffle of an
    // nCenters x corpus intermediate. The r6 rewrite makes assignment a
    // per-row argmax over literal centroids; this pins it: exactly ONE
    // hash-partitioning exchange (the per-probe rank window) in the
    // whole plan, for all three IVF variants.
    import spark.implicits._
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    def shuffles(df: DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(plan(df)).size

    val ivf = Ann.ivfTopK(corpus, probes, k = 5, nCenters = 4, nProbe = 2,
      trainIters = 2, trainSample = 32)
    assert(shuffles(ivf) == 1, s"IVF corpus got shuffled:\n${plan(ivf)}")
    assert(!plan(ivf).contains("SortMergeJoin") && !plan(ivf).contains("CartesianProduct"))

    val cb = Ann.trainPqCodebooks(corpus, m = 2, nCodes = 4, sampleN = 32,
      iters = 2, dim = 8)
    val ivfpq = Ann.ivfPqTopK(corpus, probes, cb, k = 5, nCenters = 4,
      nProbe = 2, trainIters = 2, trainSample = 32, dim = 8)
    assert(shuffles(ivfpq) == 1, s"IVF+PQ corpus got shuffled:\n${plan(ivfpq)}")
    assert(!plan(ivfpq).contains("SortMergeJoin"))

    val cents = Ann.trainCentroids(corpus, nCenters = 4, sampleN = 32, iters = 2)
    val cbr = Ann.trainPqCodebooksResidual(corpus, cents, m = 2, nCodes = 4,
      sampleN = 32, iters = 2, dim = 8)
    val res = Ann.ivfPqResidualTopK(corpus, probes, cents, cbr, k = 5,
      nProbe = 2, dim = 8)
    assert(shuffles(res) == 1, s"residual IVF+PQ corpus got shuffled:\n${plan(res)}")
    assert(!plan(res).contains("SortMergeJoin"))

    // SQ8 flat and IVF-composed: same invariant — the rank window is
    // the only exchange, encode/dequantize stay projections
    val rng = Ann.trainSqRanges(corpus, sampleN = 32, dim = 8)
    val sq = Ann.sqTopK(corpus, probes, rng, k = 5)
    assert(shuffles(sq) == 1, s"SQ8 corpus got shuffled:\n${plan(sq)}")
    assert(!plan(sq).contains("SortMergeJoin"))
    val ivfsq = Ann.ivfSqTopK(corpus, probes, rng, k = 5, nCenters = 4,
      nProbe = 2, trainIters = 2, trainSample = 32)
    assert(shuffles(ivfsq) == 1, s"IVF+SQ corpus got shuffled:\n${plan(ivfsq)}")
    assert(!plan(ivfsq).contains("SortMergeJoin"))
  }

  test("DSIR scoring/selection is shuffle-free; training is one bucket groupBy") {
    // Selection: the literal count arrays make scoring + acceptance a
    // pure projection over the corpus scan — zero exchanges, no joins.
    // (Training inside dsirSample is a separate bounded job: one
    // hash-keyed groupBy over at most `buckets` keys.)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(Corpus.dsirSample(docs, isTarget = col("lang") === "en",
      buckets = 256))
    assert(!p.contains("Exchange"), s"DSIR selection gained a shuffle:\n$p")
    assert(!p.contains("Join"), s"DSIR selection gained a join:\n$p")
    // The r10 plan defect: the acceptance filter was substituted below the
    // scoring projection, re-evaluating dsir_score 2-3x per row. The
    // one-element explode barrier keeps it to exactly ONE evaluation.
    assert("dsir_score".r.findAllIn(p).size == 1,
      s"dsir_score must appear exactly once in the plan:\n$p")
  }

  test("cluster-balanced sample: argmax assignment, counts broadcast, one rank window") {
    // Assignment must stay the zero-shuffle argmax projection; the only
    // hash exchanges are the per-cluster count aggregation and the
    // prefiltered rank window, and the count table joins by BROADCAST
    // (never a shuffle of the corpus against a 16-row dimension).
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(Corpus.clusterBalancedSample(embs, perCluster = 5,
      nClusters = 4, trainSample = 64))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"cluster sample shuffles more than counts+window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"count join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("tfidf: top-k prunes before the window exchange, no cartesian") {
    // df rides as DATA (no literal artifact — vocabulary is unbounded at
    // corpus scale); the per-doc top-k must go through WindowGroupLimit
    // so only ~k rows per doc reach the rank exchange.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(TextAnalysis.tfidfKeywords(docs, k = 5))
    assert(p.contains("WindowGroupLimit"), s"top-k not pruned pre-exchange:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality-percentile selection is a pure scan (histogram is a separate bounded job)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(Corpus.qualityPercentileFilter(
      TextAnalysis.quality(docs), keepFrac = 0.5))
    assert(!p.contains("Exchange"), s"percentile filter gained a shuffle:\n$p")
    assert(!p.contains("Join"), s"percentile filter gained a join:\n$p")
  }

  test("curriculum order: per-(band,shard) windows are the only exchange, no global sort") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(Corpus.curriculumOrder(TextAnalysis.quality(docs)))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"curriculum gained exchanges beyond the banded window:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"curriculum sorts globally:\n$p")
  }

  test("interpolated scoring is one narrow scan through the native expression") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(TextAnalysis.interpolatedScore(docs, vocabSize = 8))
    assert(!p.contains("Exchange"), s"interp scoring gained a shuffle:\n$p")
    assert(p.contains("interp_score"), s"native interp probe missing:\n$p")
  }

  test("repetition scoring is a pure narrow scan: no shuffle, native mode count") {
    // Third shape of this operator (explode+groupBy 6.1 s -> HOF fold
    // 2.9 s -> native expression 0.26 s at sf0.1); pin the final one:
    // zero exchanges, the native max_multiplicity expression present,
    // and no interpreted aggregate fold left in the plan.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(TextAnalysis.repetition(docs, n = 2))
    assert(!p.contains("Exchange"), s"repetition gained a shuffle:\n$p")
    assert(p.contains("max_multiplicity"), s"native mode count missing:\n$p")
  }

  test("curation stages: line filter is shuffle-free; paragraph dedup shuffles exactly twice") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lf = plan(TextAnalysis.lineFilter(docs))
    assert(!lf.contains("Exchange"), s"line filter gained a shuffle:\n$lf")
    // gopher rules are the same class of stage: one narrow scan
    val gr = plan(TextAnalysis.gopherRules(docs))
    assert(!gr.contains("Exchange"), s"gopher rules gained a shuffle:\n$gr")
    // the chained form (line filter feeding the gopher verdict) must
    // fuse into the same single scan — stage composition is free
    val chain = plan(TextAnalysis.gopherRules(
      TextAnalysis.lineFilter(docs), textCol = "filtered_text", idCol = "id"))
    assert(!chain.contains("Exchange"), s"curation chain gained a shuffle:\n$chain")
    // paragraph dedup's two shuffles are inherent: the corpus-wide
    // paragraph-hash rank window, then the per-doc reassembly grouping.
    // Anything beyond that (a self-join, a third exchange) is a
    // regression.
    val pd = plan(Dedup.paragraphDedup(docs))
    assert("Exchange hashpartitioning".r.findAllIn(pd).size == 2,
      s"paragraph dedup shuffle count changed:\n$pd")
    assert(!pd.contains("SortMergeJoin") && !pd.contains("CartesianProduct"))
  }

  test("full curation pipeline: stages 1-4 fuse, the dedup window is the only exchange") {
    // line filter -> clean -> redact -> gopher(passthrough) are narrow
    // projections over ONE scan; gopherRules' passthrough is what keeps
    // the text in-plan (a metrics-to-text re-join on id would show up
    // here as a second exchange + join). The keep-min-id window over the
    // content hash is the pipeline's single shuffle.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.Corpus.curationPipeline(docs))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"curation pipeline shuffle count changed:\n$p")
    assert(!p.contains("Join"), s"curation pipeline gained a join:\n$p")
  }

  test("backoff scoring is one narrow scan through the native expression") {
    // three trained tables ride along as literals; the corpus pays one
    // codegen scan with hash probes — no explode, no shuffle, no join
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(TextAnalysis.backoffScore(docs, vocabSize = 8))
    assert(!p.contains("Exchange"), s"backoff scoring gained a shuffle:\n$p")
    assert(!p.contains("Join"), s"backoff scoring gained a join:\n$p")
    assert(p.contains("backoff_score"), s"native expression missing:\n$p")
  }

  test("Bloom incremental frontier: membership is a projection, no corpus join") {
    // the corpus folds into the filter artifact before this plan exists;
    // the batch plan must contain the might_contain probe, exactly the
    // within-batch window exchange, and no join at all
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
    val p = plan(Dedup.incrementalExactBloom(corpus, batch))
    assert(!p.contains("Join"), s"Bloom frontier gained a join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected only the within-batch window exchange:\n$p")
    assert(p.contains("might_contain"), s"Bloom probe missing:\n$p")
  }

  test("epoch-capped mixture: full epochs are window-free, stats computed once") {
    // the full-epoch path is an explode-over-broadcast-join projection —
    // only the partial-epoch branch pays a window; the per-stratum stats
    // frame is materialized so the two union branches don't re-run the
    // corpus-wide aggregation (textual exchange counts are inflated by
    // the InMemoryRelation printout, so pin the Window count + the cache
    // + the join strategy instead)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.Corpus.tokenMixtureCapped(docs,
      Map("en" -> 0.5, "de" -> 0.5), totalTokens = 10000,
      strataCol = "lang"))
    assert(!p.contains("SortMergeJoin"), s"stats join got shuffled:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"stats not materialized — both branches re-aggregate the corpus:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"expected the partial-epoch window only:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"stats join not broadcast:\n$p")
    graft.operators.OperatorCaches.drainMaterialized()
  }

  test("shuffle-shard: per-shard rank window is the only exchange, no global sort") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.Corpus.shuffleShards(docs, nShards = 8))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"shuffle-shard exchange count changed:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"shuffle-shard gained a global sort:\n$p")
    assert(!p.contains("Join"))
  }

  test("residual IVFPQ encode runs ONCE per corpus row (no inferred-filter re-inline)") {
    // The probe-list join infers isnotnull on the corpus-side centroid_id
    // and would push it below the encode projection, re-inlining the full
    // argmax+codes machinery into a Filter (every row pays the encode
    // twice — measured 2x before nonNullKey). Pin: the optimized plan
    // contains the argmax/codes struct-min exactly once per use —
    // 1 (coarse argmax) + m (per-subspace code argmins) on the corpus
    // side, and nothing in any Filter.
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val probes = corpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val cents = Ann.trainCentroids(corpus, nCenters = 4, sampleN = 32, iters = 1)
    val m = 2
    val cbr = Ann.trainPqCodebooksResidual(corpus, cents, m = m, nCodes = 4,
      sampleN = 32, iters = 1, dim = 64)
    val opt = Ann.ivfPqResidualTopK(corpus, probes, cents, cbr, k = 5,
      nProbe = 2, dim = 64).queryExecution.optimizedPlan
    val planStr = opt.toString
    val argmins = "array_min".r.findAllIn(planStr).size
    assert(argmins == 1 + m,
      s"encode machinery appears $argmins times, expected ${1 + m} (once):\n$planStr")
    val filterLines = planStr.split("\n").filter(_.contains("Filter"))
    assert(filterLines.forall(l => !l.contains("array_min")),
      s"encode re-inlined into a Filter:\n${filterLines.mkString("\n")}")
  }

  test("TRAPI envelope assembly is join-light: no cartesian, no edge-table shuffle join") {
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n_out"),
      QNode("n_in", ids = Seq("NAT:0", "NAT:1")),
      QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
      closure = None, expandSubclasses = false)
    val parts = TrapiResponse.assemble(res, graph, Map.empty, "infores:graft")
    val p = plan(parts)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("TRAPI envelope is one lazy plan: no job to build, nothing persisted") {
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n_out"),
      QNode("n_in", ids = Seq("NAT:0", "NAT:1")),
      QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
      closure = None, expandSubclasses = false)
    OperatorCaches.drainMaterialized()
    val (parts, run) = JobCount.during(spark)(
      TrapiResponse.assemble(res, graph, Map.empty, "infores:graft"))
    assert(run.jobs == 0, s"building assemble ran Spark jobs ($run)")
    assert(OperatorCaches.drainMaterialized() == 0,
      "building assemble registered a materialized frame")
    assert(parts.count() > 0)
  }

  /** The serving shape for the response pins: the store-backed fixture
   * with its object-clustered replica, on the serving session. A
   * symmetric predicate keeps both one-hop directions live, so both edge
   * replicas are scanned. */
  private def servingAnswer(): (model.PropertyGraph, OneHop.Result) = {
    Fixture.ensureStore(spark, sfDir)
    val sv = Fixture.serving(spark)
    val g = Fixture.graph(sv, sfDir)
    (g, OneHop.answer(sv, g, ont, QueryGraph.oneHop(
      QNode("n0", ids = Seq("NAT:1")),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.AdjacentTo))),
      closure = None, expandSubclasses = false))
  }

  /** A response plan over `g` is one pass over the fixture's edges:
   * every cached relation in it is a fixture cache (no per-request
   * materialization of the answer), it scans each edge replica exactly
   * once and groups once (one logical Aggregate). Node names and
   * categories ride on the edges, so with `nodeJoin` false it has no
   * join, no BroadcastExchange and no scan of the node table; with
   * `nodeJoin` (node attribute columns) its one node join scans the node
   * table once, builds (broadcasts) the answer side and streams the node
   * table. */
  private def assertOnePass(name: String, df: DataFrame, g: model.PropertyGraph,
                            nodeJoin: Boolean = false): Unit = {
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def builder(df: DataFrame) = df.queryExecution.optimizedPlan.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder
    }.getOrElse(fail("fixture frame is not cached"))
    val (nodesB, edgesB, reverseB) = (builder(g.nodes), builder(g.edges), builder(g.reverseEdges))
    assert(!(edgesB eq reverseB), "fixture has no separate edge replica")

    val optimized = df.queryExecution.optimizedPlan
    val relations = optimized.collect { case r: InMemoryRelation => r.cacheBuilder }
    assert(relations.forall(b => Seq(nodesB, edgesB, reverseB).exists(_ eq b)),
      s"$name caches something beyond the fixture:\n$optimized")
    val aggregates = optimized.collect { case a: Aggregate => a }
    assert(aggregates.size == 1, s"$name groups ${aggregates.size} times:\n$optimized")

    val exec = df.queryExecution.executedPlan
    val scans = exec.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
    Seq("edges" -> edgesB, "reverse edges" -> reverseB, "nodes" -> nodesB).foreach {
      case (table, b) =>
        val want = if (b eq nodesB) (if (nodeJoin) 1 else 0) else 1
        assert(scans.count(_ eq b) == want,
          s"$name: $table scanned ${scans.count(_ eq b)} times, not $want:\n$exec")
    }

    val joins = exec.collect { case j: BroadcastHashJoinExec => j }
    val broadcasts = exec.collect { case b: BroadcastExchangeExec => b }
    if (!nodeJoin)
      assert(joins.isEmpty && broadcasts.isEmpty, s"$name: joins or broadcasts:\n$exec")
    else {
      def scansNodes(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case s: InMemoryTableScanExec => s }.exists(_.relation.cacheBuilder eq nodesB)
      assert(joins.size == 1 && broadcasts.size == 1,
        s"$name: expected one node-table join:\n$exec")
      val j = joins.head
      val (build, stream) = if (j.buildSide == BuildLeft) (j.left, j.right) else (j.right, j.left)
      assert(!scansNodes(build) && scansNodes(stream),
        s"$name: node table is on the build side:\n$exec")
    }
  }

  test("slim response is one job: no join, no broadcast, no node table") {
    val (g, res) = servingAnswer()
    // construction runs no Spark job (nothing persisted, nothing counted)
    val (slim, run) = JobCount.during(spark)(TrapiResponse.slim(res, g))
    assert(run.jobs == 0, s"building slim ran Spark jobs ($run)")
    assertOnePass("slim", slim, g)
    // and collecting it runs one: no broadcast job before the scan job
    val (rows, collected) = JobCount.during(spark)(slim.collect())
    assert(rows.nonEmpty)
    assert(collected.jobs == 1, s"collecting slim ran $collected")
  }

  test("TRAPI envelope is one pass: one scan per replica, one aggregate, node table streamed") {
    val (g, res) = servingAnswer()
    assertOnePass("assemble", TrapiResponse.assemble(res, g, Map.empty, "infores:graft"), g)
    assertOnePass("assemble with node attributes", TrapiResponse.assemble(res, g, Map.empty,
      "infores:graft", nodeAttrColumns = Seq("equiv_ids")), g, nodeJoin = true)
  }

  test("warm path is scan-only: stored artifacts load without joins or aggregation") {
    // Build-time materialization (GraphStore) exists so service startup
    // reads columnar data instead of re-running the build pipeline. Pin:
    // once the store is fresh, every Fixture artifact's load plan is a
    // parquet scan — no join, no aggregate, no broadcast; the only
    // allowed exchange is the small-file round-robin spread (a fixture-
    // scale read-parallelism artifact, absent on a real many-file store).
    Fixture.ensureStore(spark, sfDir)
    val g = Fixture.graph(spark, sfDir)
    val warm = Seq(
      "nodes" -> g.nodes, "edges" -> g.edges,
      "closure" -> Fixture.closure(spark, sfDir),
      "meta_summary" -> Fixture.metaSummary(spark, sfDir))
    warm.foreach { case (name, df) =>
      // the cached frame's own plan is InMemoryRelation; audit the plan
      // it caches (what warm-up actually executes to materialize it)
      val cached = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cachedPlan.toString
      }.getOrElse(plan(df))
      assert(cached.contains("Scan parquet") || cached.contains("FileScan"),
        s"$name warm plan is not a parquet scan:\n$cached")
      Seq("Join", "Aggregate", "HashAggregate", "Window", "Generate")
        .foreach(op => assert(!cached.contains(op),
          s"$name warm plan re-runs build stage '$op':\n$cached"))
      // the size-derived spread (GraphStore's repartition-to-target-bytes)
      // plans as REPARTITION_BY_NUM — round-robin for k>1, SinglePartition
      // for k=1; any other exchange means the load re-runs build work
      val exchanges = "Exchange".r.findAllIn(cached).size
      val spread = "REPARTITION_BY_NUM".r.findAllIn(cached).size
      assert(exchanges == spread,
        s"$name warm plan has a non-spread exchange:\n$cached")
    }
  }

  test("web-curation family (r13): the load-bearing plan shapes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val urls = docs.select(col("doc_id"), col("n_chars"),
      concat(lit("https://e-"), pmod(col("doc_id"), lit(7)),
        lit(".com/d/"), col("doc_id")).as("url"))
    // urlDedup: ONE exchange (the keep-best agg), partial combine
    // before it, no window
    val pd = plan(UrlOps.urlDedup(urls))
    assert("Exchange".r.findAllIn(pd).size == 1, pd)
    assert(pd.contains("partial_min") && !pd.contains("Window"), pd)
    // domainCap: WindowGroupLimit Partial prunes before the exchange
    val pc = plan(UrlOps.domainCap(urls, k = 3))
    assert(pc.contains("WindowGroupLimit") && pc.contains("Partial"), pc)
    // boilerplate: the template set broadcasts (left_anti build side);
    // no SortMergeJoin anywhere — corpus lines never shuffle for the
    // removal itself
    val withDomain = docs.select(col("doc_id"), col("text"),
      concat(lit("d"), pmod(col("doc_id"), lit(7))).as("domain"))
    val pb = plan(TextAnalysis.boilerplateRemove(withDomain, "domain"))
    assert(pb.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), pb)
    assert(!pb.contains("SortMergeJoin"), pb)
    // cdc chunks: one narrow scan + explode — NO exchange at all
    val pk = plan(Corpus.cdcChunks(docs, w = 8, divisor = 16))
    assert(!pk.contains("Exchange") && !pk.contains("Join"), pk)
    // snapshot diff: text collapses to md5 below the join — no JOIN
    // node ships the raw text column
    val pdf = plan(Corpus.snapshotDiff(docs, docs))
    assert(pdf.contains("FullOuter"), pdf)
    assert(pdf.linesIterator.filter(_.contains("Join"))
      .forall(!_.contains("text#")), pdf)
  }

  test("web extraction family: extraction is join-free, link graph pays one distinct") {
    import spark.implicits._
    val pages = Seq(("https://a.com/p", "<p>t</p><a href=\"https://b.com/x\">l</a>"))
      .toDF("url", "html")
    // htmlToText: a pure projection — no Join, no Exchange, no Generate
    val pt = plan(pages.select(Html.htmlToText(col("html")).as("t")))
    assert(!pt.contains("Join") && !pt.contains("Exchange"), pt)
    // linkGraph: exactly two Generates — the href explode plus the
    // r20 RowBarrier before the self-loop filter (which keeps the
    // filter from re-inlining the resolve+canonicalize chain; a third
    // Generate would mean an accidental explosion crept in) — and
    // exactly the distinct's aggregation pair; no joins anywhere
    val pl = plan(Html.linkGraph(pages))
    assert(!pl.contains("Join"), pl)
    assert("Generate".r.findAllIn(pl).size == 2, pl)
    assert(pl.contains("HashAggregate"), pl)
    // the barrier did its job: the filter condition references the
    // generated attributes, not a re-inlined canonicalize chain — the
    // chain's host-extract marker appears in the plan ONCE per
    // consumer projection, never inside a Filter
    val filterBlocks = pl.split("\n").filter(_.contains("Filter"))
    assert(!filterBlocks.exists(_.contains("[^/?]*")), pl)
    // robots filtering: the per-host rule arrays BROADCAST into ONE
    // left join and the longest-match verdict is a narrow expression —
    // the corpus side never shuffles at all
    val robots = Seq(("a.com", "Disallow: /x\nAllow: /x/ok\n"))
      .toDF("host", "body")
    val docsUrl = Seq((1L, "https://a.com/x/1")).toDF("doc_id", "url")
    val pr = plan(UrlOps.robotsFilter(docsUrl, robots))
    assert("BroadcastHashJoin".r.findAllIn(pr).size == 1, pr)
    assert(!pr.contains("SortMergeJoin"), pr)
    assert(pr.contains("StartsWith"), pr)
  }

  test("sketches: bounded aggregation shapes, estimate scan is join-free") {
    import spark.implicits._
    val vals = (1 to 100).map(i => s"v$i").toDF("v")
    // HLL registers: ONE aggregation keyed by bucket (partial + final),
    // nothing else — the corpus ships (bucket, rho) pairs only
    val ph = plan(Sketches.hllRegisters(vals, "v"))
    assert(!ph.contains("Join"), ph)
    assert(ph.contains("partial_max"), ph)
    // CMS estimates: the sketch rides as a literal map — scoring any
    // candidate stream is a narrow scan with zero joins
    val cms = Sketches.cmsBuild(vals, "v")
    val pe = plan(Sketches.cmsEstimate(cms, vals, "v"))
    assert(!pe.contains("Join") && !pe.contains("Exchange"), pe)
  }

  test("r15 family: the load-bearing plan shapes") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // FIM + code-quality: pure projections — no Join, no Exchange
    val pf = plan(Corpus.fimTransform(docs))
    assert(!pf.contains("Join") && !pf.contains("Exchange"), pf)
    val pq = plan(TextAnalysis.codeQuality(docs))
    assert(!pq.contains("Join") && !pq.contains("Exchange"), pq)
    // frontier: exactly ONE exchange (the host partitioning) feeding
    // the politeness window — no global sort, no join
    val entries = Seq(("s", "urlset", 0L, "https://a.com/x",
      null: String, null: String, "0.5"))
      .toDF("site", "kind", "entry_idx", "loc", "lastmod", "changefreq",
        "priority")
    val pfr = plan(UrlOps.frontierSchedule(entries))
    assert("Exchange".r.findAllIn(pfr).size == 1, pfr)
    assert(!pfr.contains("Join"), pfr)
    assert(pfr.contains("Window"), pfr)
    // main content: a pure projection over the page scan
    val pages = Seq((1L, "<p>text</p>")).toDF("doc_id", "html")
    val pm = plan(Html.mainContent(pages))
    assert(!pm.contains("Join") && !pm.contains("Exchange"), pm)
    // SFT packing: the span join is keyed on the conversation id —
    // no cartesian, no text/content column riding any join
    val convs = Seq((1L, Seq(("assistant", "a")))).toDF("conv_id", "raw")
      .select(col("conv_id"), transform(col("raw"), t =>
        struct(t.getField("_1").as("role"), t.getField("_2").as("content")))
        .as("turns"))
    val ps = plan(Corpus.sftPack(convs, budget = 100))
    assert(!ps.contains("Cartesian"), ps)
    assert(ps.linesIterator.filter(_.contains("Join"))
      .forall(!_.contains("content#")), ps)
    // CDX diff: one full-outer join on urlkey; digests only, never a
    // body/text column
    val cdx = Seq(("k", "d")).toDF("urlkey", "digest")
    val pd = plan(graft.sources.WarcSource.cdxDiff(cdx, cdx))
    assert(pd.contains("FullOuter"), pd)
    assert(!pd.contains("Cartesian"), pd)
  }

  test("trained langid: the vote evaluates ONCE however predicted_lang fans out") {
    // the p120 regression: CollapseProject inlined the whole-text
    // langid_vote expression into every downstream reference of
    // predicted_lang (~80x per row through the CCNet chain). The
    // explode barrier inside langIdApply must keep the plan at
    // EXACTLY ONE vote evaluation even when a consumer filters,
    // groups, and projects on the prediction simultaneously.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = TextAnalysis.langIdTrain(
      docs.select(col("doc_id"), col("text"), col("lang")))
    val applied = TextAnalysis.langIdApply(docs, model, carry = Seq("text"))
    val fanout = applied
      .where(col("predicted_lang").isNotNull &&
        col("predicted_lang") =!= "zz")
      .groupBy("predicted_lang")
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
    val p = plan(fanout)
    assert("langid_vote".r.findAllIn(p).size == 1,
      s"vote must evaluate once, not per reference:\n$p")
    assert(p.contains("Generate"), p)
  }

  /** Tokenizer work inside a higher-order function's lambda body that
   * reads something other than the lambda's own variables: a split,
   * regex, lower-case or trim of an outer column, re-run once per array
   * element (the O(tokens²) composed shingles re-split the document per
   * n-gram this way). Variables of lambdas nested in the body count as
   * the lambda's own; each nested lambda is checked on its own too. */
  private def lambdaTokenizers(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    def tokenizer(e: Expression): Boolean = e match {
      case _: StringSplit | _: Lower => true
      case _ => val n = e.getClass.getSimpleName
        n.startsWith("RegExp") || n.startsWith("StringTrim")
    }
    plan.flatMap(_.expressions).flatMap(_.collect { case l: LambdaFunction =>
      val own = l.collect { case f: LambdaFunction => f.arguments }.flatten
        .map(_.exprId).toSet
      l.function.collect {
        case e if tokenizer(e) && e.exists {
          case _: Attribute => true
          case v: NamedLambdaVariable => !own(v.exprId)
          case _ => false
        } => s"${e.prettyName} in ${l.toString.take(240)}"
      }
    }.flatten)
  }

  // ------------------------------------------------------------------
  // BOARD-WIDE SWEEP — the generalization of the p120 lesson. An
  // expensive derived column that fans out downstream gets inlined by
  // CollapseProject into EVERY reference (p120 paid ~80x/row before
  // its explode barrier), and helper-composed Columns duplicate their
  // input expression at every internal reference (r14's 16M-char
  // plan). Both failure modes are visible in the OPTIMIZED plan long
  // before they burn a benchmark: the plan string balloons, or a
  // native expression name appears many times. This sweep walks every
  // registered key and pins both, so the next blowup fails a spec
  // instead of shipping. It also fails on a lambda that re-tokenizes
  // an outer column per element (lambdaTokenizers).
  //
  // Node dump uses simpleString(1e6) per node: plain toString
  // truncates long expression lists at spark.sql.debug.maxToStringFields
  // and would HIDE duplication.
  // ------------------------------------------------------------------
  test("board sweep: every key's optimized plan is small and duplication-free") {
    val natives = Seq("vec_dot", "shingle_simhash", "shingle_minhash",
      "max_multiplicity", "rolling_window_hashes", "bpe_encode",
      "bpe_encode_fast", "vocab_score", "backoff_score", "interp_score",
      "dsir_score", "langid_vote", "map_probe", "set_probe",
      "decode_html_entities", "word_shingles",
      // r21: the URL canonicalizer as ONE node — the sweep now pins the
      // whole family's fan-out (VERDICT r20 #4 done-criterion: <= 5
      // copies family-wide; measured max is p90's 4 = corpus canonical +
      // bench-side canonical + the anti-join's two key references)
      "canonicalize_url")
    // Default bounds: a healthy single-operator plan is a few thousand
    // chars; 150k flags only genuine blowups. A native expression
    // should appear once per (train|apply) stage — duplication past 4
    // means an inlined alias is re-evaluating per reference.
    val defaultMaxChars = 150000
    val defaultMaxNative = 4
    // Documented exemptions (key -> chars): plans that are legitimately
    // large because they carry a TRAINED LITERAL ARTIFACT whose size is
    // bounded by configuration, not data. Pinned near the measured
    // value so a duplication (roughly 2x) still trips.
    val charExempt: Map[String, Int] = Map(
      // PQ codebooks + ADC tables as literals: O(M*K*dsub) constants
      "p31_ann_ivfpq_residual" -> 350000,
      // the Bloom bitmap rides as ONE literal long-array (configured m
      // bits); plan length IS the artifact, measured ~2.10M chars
      "p39_contamination_bloom" -> 2300000,
      "p59_incremental_bloom" -> 2300000,
      // wide per-domain metric rollup over canonicalized-URL
      // expressions (r13-audited shape); scales with the metric count.
      // r21: the native canonicalize_url node collapsed these three
      // below the 150k default (p98 formatted plan 26k -> 15k, p137
      // 43k -> 14k, p155 11k -> 5k; plans/r21/) — exemptions dropped so
      // a reappearing chain blowup trips the default cap again.
      )
    // Documented exemptions (key, native) -> count: repeats that scale
    // with a CONFIG constant or the request batch, never with data or
    // downstream reference fanout.
    val nativeExempt: Map[(String, String), Int] = Map(
      // batched lookup serving: one literal probe per (query shape,
      // direction replica) — 7 shapes x 2 directions in one job
      ("g36_batch_lookup", "set_probe") -> 14,
      // multi-graph routed batch: 6 shapes x 2
      ("g38_multi_graph_batch", "set_probe") -> 12,
      // sign-LSH: one dot per hyperplane builds the signature (config
      // constant), plus the re-rank dots
      ("p07_ann_lsh", "vec_dot") -> 34)

    val dir = sfDir // sf0.001
    val report = new scala.collection.mutable.ArrayBuffer[String]
    val sizes = new scala.collection.mutable.ArrayBuffer[(Int, String)]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, dir)
      val dump = df.queryExecution.optimizedPlan
        .map(n => n.simpleString(1000000)).mkString("\n")
      sizes += ((dump.length, name))
      val maxChars = charExempt.getOrElse(name, defaultMaxChars)
      if (dump.length > maxChars)
        report += s"$name: optimized plan ${dump.length} chars (> $maxChars)"
      natives.foreach { nat =>
        val c = java.util.regex.Pattern.quote(nat + "(").r
          .findAllIn(dump).size
        val cap = nativeExempt.getOrElse((name, nat), defaultMaxNative)
        if (c > cap)
          report += s"$name: $nat evaluates $c times (> $cap) — " +
            "an inlined alias is re-evaluating per reference; add an " +
            "explode barrier (langIdApply's dodge) or exempt with a reason"
      }
      lambdaTokenizers(df.queryExecution.optimizedPlan).distinct.foreach { e =>
        report += s"$name: a lambda body re-runs $e once per element — " +
          "tokenize once, outside the lambda"
      }
    }
    val top = sizes.sorted.reverse.take(10)
      .map { case (l, n) => f"$l%8d  $n" }.mkString("\n")
    assert(report.isEmpty,
      s"${report.size} plan-shape violations:\n${report.mkString("\n")}\n" +
        s"largest plans:\n$top")
  }
}
