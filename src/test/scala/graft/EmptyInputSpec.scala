package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Library robustness: every pipeline operator must return an EMPTY
 * result (not crash) on empty input — the behavior a pipeline hits on an
 * empty partition date or a filter that matched nothing. */
class EmptyInputSpec extends SparkSpec {

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private val emptyEmbs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))

  private val emptyEvents = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType))))

  test("dedup operators on an empty corpus") {
    assert(Dedup.exact(emptyDocs).count() == 0)
    assert(Dedup.jaccardPairs(emptyDocs, maxShingleFreq = 10).count() == 0)
    assert(Dedup.minhashLshPairs(emptyDocs).count() == 0)
    assert(Dedup.simhashPairs(emptyDocs).count() == 0)
    assert(Dedup.clusters(
      Dedup.jaccardPairs(emptyDocs)).count() == 0)
    assert(Dedup.embeddingPairs(emptyEmbs).count() == 0)
    assert(Dedup.embeddingPairs(emptyEmbs, bucketed = true, nTables = 2).count() == 0)
    assert(Dedup.semDedup(emptyEmbs).count() == 0)
  }

  test("ANN operators on an empty corpus / empty probe set") {
    val emptyProbes = emptyEmbs.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_vec"))
    assert(Ann.bruteForceTopK(emptyEmbs, emptyProbes).count() == 0)
    assert(Ann.lshTopK(emptyEmbs, emptyProbes).count() == 0)
    assert(Ann.ivfTopK(emptyEmbs, emptyProbes).count() == 0)
    assert(Ann.ivfTopK(emptyEmbs, emptyProbes, trainIters = 2).count() == 0)
    assert(Ann.ivfListSizes(emptyEmbs).count() == 0)
    // a codebook trained elsewhere applied to an empty corpus:
    import spark.implicits._
    val tiny = (0 until 4).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i + d).toFloat))).toDF("vec_id", "embedding")
    val cb = Ann.trainPqCodebooks(tiny, m = 2, nCodes = 2, sampleN = 4,
      iters = 1, dim = 8)
    assert(Ann.ivfPqTopK(emptyEmbs, emptyProbes, cb, dim = 8).count() == 0)
    assert(Ann.pqTopK(emptyEmbs, emptyProbes, cb, dim = 8).count() == 0)
    val rng = Ann.trainSqRanges(tiny, sampleN = 4, dim = 8)
    assert(Ann.sqTopK(emptyEmbs, emptyProbes, rng).count() == 0)
    assert(Ann.ivfSqTopK(emptyEmbs, emptyProbes, rng).count() == 0)
    assert(Ann.pqTopKReranked(emptyEmbs, emptyProbes, cb, dim = 8).count() == 0)
    val cents = Ann.trainCentroids(tiny, nCenters = 2, sampleN = 4, iters = 1)
    assert(Ann.ivfPqResidualTopK(emptyEmbs, emptyProbes, cents, cb,
      dim = 8).count() == 0)
    // a corpus SMALLER than nCenters clamps the quantizer instead of
    // crashing, and with full probing still returns exact results
    val tinyProbes = tiny.where(col("vec_id") === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val clamped = Ann.ivfTopK(tiny, tinyProbes, k = 4, nCenters = 16, nProbe = 16)
    assert(clamped.count() == 3) // all non-self neighbors reachable
    // trained quantizer on an empty corpus is a caller error (no sample):
    intercept[IllegalArgumentException] {
      Ann.trainCentroids(emptyEmbs, nCenters = 4)
    }
  }

  test("corpus-construction operators on empty inputs") {
    assert(Dedup.lshVerifiedPairs(emptyDocs).count() == 0)
    val emptyClusters = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType),
        StructField("cluster_rep", LongType))))
    // empty corpus AND empty clusters; non-empty corpus with no clusters
    // passes everything through un-flagged
    assert(Corpus.dedupApply(emptyDocs, emptyClusters).count() == 0)
    import spark.implicits._
    val one = Seq((7L, "some text")).toDF("doc_id", "text")
    val passed = Corpus.dedupApply(one, emptyClusters).collect()
    assert(passed.length == 1 && !passed(0).getAs[Boolean]("is_cluster_rep"))
    val emptyStrata = emptyDocs.withColumn("lang", lit("en"))
    assert(Corpus.stratifiedSample(emptyStrata, "lang", perStratum = 5).count() == 0)
    assert(Corpus.packSequences(emptyDocs, maxTokens = 512).count() == 0)
    assert(Corpus.tokenMixture(emptyStrata, Map("en" -> 1.0), 1000L,
      strataCol = "lang").count() == 0)
    assert(Corpus.tokenMixtureTemperature(emptyStrata, 100L,
      strataCol = "lang").count() == 0)
    assert(Corpus.contamination(emptyDocs, emptyDocs).count() == 0)
    assert(Corpus.contaminationBloom(emptyDocs, emptyDocs).count() == 0)
    assert(Corpus.tokenMixtureCapped(emptyStrata, Map("en" -> 1.0), 1000L,
      strataCol = "lang").count() == 0)
    assert(Corpus.shuffleShards(emptyDocs).count() == 0)
    assert(Corpus.dsirSample(emptyStrata, lit(true)).count() == 0)
    assert(Corpus.clusterBalancedSample(emptyEmbs, perCluster = 5).count() == 0)
    assert(Corpus.qualityPercentileFilter(
      emptyDocs.withColumn("quality_score", lit(0.5)),
      idCol = "doc_id").count() == 0)
    assert(Corpus.curriculumOrder(
      emptyDocs.withColumn("quality_score", lit(0.5)),
      idCol = "doc_id").count() == 0)
    assert(TextAnalysis.tfidfKeywords(emptyDocs).count() == 0)
    assert(Corpus.curationPipeline(emptyDocs).count() == 0)
    assert(Corpus.curationDedupAgg(
      Corpus.curationStages(emptyDocs)).count() == 0)
    assert(Dedup.incrementalExact(emptyDocs, emptyDocs).count() == 0)
    assert(Dedup.incrementalExactBloom(emptyDocs, emptyDocs).count() == 0)
    assert(Dedup.incrementalNearDup(emptyDocs, emptyDocs).count() == 0)
  }

  test("curation text operators on empty inputs") {
    assert(TextAnalysis.cleaned(emptyDocs).count() == 0)
    assert(TextAnalysis.redacted(emptyDocs).count() == 0)
    assert(TextAnalysis.repetition(emptyDocs).count() == 0)
    assert(TextAnalysis.lineFilter(emptyDocs).count() == 0)
    assert(TextAnalysis.gopherRules(emptyDocs).count() == 0)
    assert(TextAnalysis.unigramScore(emptyDocs).count() == 0)
    assert(TextAnalysis.bigramScore(emptyDocs).count() == 0)
    assert(TextAnalysis.trigramScore(emptyDocs).count() == 0)
    assert(TextAnalysis.backoffScore(emptyDocs).count() == 0)
    assert(TextAnalysis.interpolatedScore(emptyDocs).count() == 0)
    assert(TextAnalysis.sourceQualityFilter(
      emptyDocs.withColumn("source", lit("s"))).count() == 0)
    // empty corpus; and a live corpus whose REFERENCE slice is empty
    // (every language unmodeled -> deterministic all-head, not a crash)
    assert(TextAnalysis.perplexityBuckets(
      emptyDocs.withColumn("lang", lit("en")).withColumn("source", lit("s")),
      refFilter = lit(false)).count() == 0)
    locally {
      import spark.implicits._
      val r = TextAnalysis.perplexityBuckets(
        Seq((1L, "a b", "en", "web")).toDF("doc_id", "text", "lang", "source"),
        refFilter = lit(false)).collect()
      assert(r.length == 1 && r(0).getString(3) == "head" && r(0).getBoolean(4))
    }
    assert(Dedup.paragraphDedup(emptyDocs).count() == 0)
    assert(Dedup.dupSpans(emptyDocs).count() == 0)
    assert(Dedup.spanDedupApply(emptyDocs).count() == 0)
  }

  test("text analysis and sessionization on empty inputs") {
    assert(TextAnalysis.languageId(emptyDocs).count() == 0)
    assert(TextAnalysis.quality(emptyDocs).count() == 0)
    assert(TextAnalysis.tokenCounts(emptyDocs).count() == 0)
    assert(TextAnalysis.fingerprints(emptyDocs).count() == 0)
    assert(Sessionize.sessions(emptyEvents).count() == 0)
    assert(Sessionize.tumblingAgg(emptyEvents).count() == 0)
    assert(Multimodal.features(Multimodal.fromDocuments(
      emptyDocs.withColumn("n_chars", lit(0L)))).count() == 0)
    // image dHash plumbing: empty image table -> empty hashes and pairs
    val emptyImages = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType),
        StructField("payload", BinaryType))))
    assert(Multimodal.imageDHashes(emptyImages).count() == 0)
    assert(Dedup.hammingPairs64(
      Multimodal.imageDHashes(emptyImages)).count() == 0)
  }

  test("batched lookup: a probe matching nothing contributes zero rows, not an error") {
    val graph = graft.sources.TpchGraph(spark, "/root/testdata/sf0.001")
    val ont = graft.model.GraftOntology.ontology
    val out = OneHop.answerBatch(spark, graph, ont, Seq(
      "miss" -> QueryGraph.oneHop(
        QNode("n0", ids = Seq("CUST:99999999")),
        QNode("n1"),
        QEdge("n0", "n1", predicates = Seq(graft.model.GraftOntology.LocatedIn))),
      "hit" -> QueryGraph.oneHop(
        QNode("n0", ids = Seq("NAT:0")),
        QNode("n1"),
        QEdge("n0", "n1", predicates = Seq(graft.model.GraftOntology.PartOf)))))
    val byTag = out.groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byTag.contains("miss"))
    assert(byTag.getOrElse("hit", 0L) > 0)
  }

  test("web/media/projection operators on empty inputs") {
    val emptyUrls = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("n_chars", LongType), StructField("url", StringType))))
    assert(UrlOps.urlDedup(emptyUrls).count() == 0)
    assert(UrlOps.domainCap(emptyUrls, k = 3).count() == 0)
    val emptyDomainDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("domain", StringType), StructField("text", StringType))))
    assert(TextAnalysis.boilerplateRemove(emptyDomainDocs, "domain").count() == 0)
    val emptyMedia = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType),
        StructField("payload", BinaryType))))
    assert(Multimodal.videoFingerprints(emptyMedia).count() == 0)
    // signProject derives its matrix from the data — an empty corpus
    // must yield an empty frame (same schema), not a head() crash
    val proj = Ann.signProject(emptyEmbs, outDim = 4)
    assert(proj.count() == 0)
    assert(proj.columns.toSeq == Seq("vec_id", "dim", "proj"))
  }

  test("r13 web/sketch/SFT operators on empty inputs") {
    import spark.implicits._
    // html/text ops: empty frames through the full chains
    val emptyPages = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("url", StringType),
        StructField("html", StringType))))
    assert(Html.linkGraph(emptyPages).count() == 0)
    assert(Html.domainSignals(
      Html.linkGraph(emptyPages)).count() == 0)
    assert(TextAnalysis.unicodeFold(emptyDocs).count() == 0)
    assert(TextAnalysis.sentences(emptyDocs).count() == 0)
    // pageRank: empty edge list -> empty ranks (no divide-by-zero on N)
    val emptyEdges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", LongType),
        StructField("dst", LongType))))
    val pr = Html.pageRank(emptyEdges, iterations = 3)
    assert(pr.count() == 0)
    assert(pr.columns.toSeq == Seq("node", "rank"))
    // robots: empty corpus and/or empty rule set
    val emptyUrlDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("url", StringType))))
    val emptyRobots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("host", StringType),
        StructField("body", StringType))))
    assert(UrlOps.robotsFilter(emptyUrlDocs, emptyRobots).count() == 0)
    val oneDoc = Seq((1L, "https://a.com/x")).toDF("doc_id", "url")
    assert(UrlOps.robotsFilter(oneDoc, emptyRobots).count() == 1)
    // sketches: empty CMS estimates read 0 for any candidate
    val emptyVals = emptyDocs.select(col("text").as("v"))
    val est = Sketches.cmsEstimate(Sketches.cmsBuild(emptyVals, "v"),
      Seq("anything").toDF("v"), "v").collect()
    assert(est.head.getLong(1) == 0L)
    // SFT: empty conversations and zero-turn conversations yield no rows
    val emptyConvs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("conv_id", LongType),
        StructField("turns", ArrayType(StructType(Seq(
          StructField("role", StringType),
          StructField("content", StringType))))))))
    assert(Corpus.sftRender(emptyConvs).count() == 0)
    val zeroTurns = Seq((1L, Seq.empty[(String, String)])).toDF("conv_id", "raw")
      .select(col("conv_id"), transform(col("raw"), t =>
        struct(t.getField("_1").as("role"), t.getField("_2").as("content")))
        .as("turns"))
    assert(Corpus.sftRender(zeroTurns).count() == 0)
  }

  test("r15 operators on empty input") {
    import spark.implicits._
    // binary readers: empty frames and empty payloads
    assert(Pdf.extractTexts(
      spark.emptyDataset[(Long, Array[Byte])].toDF("id", "payload"))
      .count() == 0)
    assert(Mp4.containerMeta(
      spark.emptyDataset[(Long, Array[Byte])].toDF("id", "payload"))
      .count() == 0)
    val emptyPayload = Seq((1L, Array.empty[Byte])).toDF("id", "payload")
    assert(Pdf.extractTexts(emptyPayload).collect()(0)
      .getAs[String]("text") == "")
    assert(Mp4.containerMeta(emptyPayload).collect()(0)
      .getAs[Long]("n_tracks") == 0L)
    // text operators: empty corpus AND empty/whitespace text rows
    assert(Corpus.fimTransform(emptyDocs).count() == 0)
    assert(TextAnalysis.codeQuality(emptyDocs).count() == 0)
    val blank = Seq((1L, "")).toDF("doc_id", "text")
    val cq = TextAnalysis.codeQuality(blank).collect()(0)
    assert(cq.getAs[Long]("n_lines") == 1L && cq.getAs[Long]("alnum_bp") == 0L)
    val fim = Corpus.fimTransform(blank, fimRate = 100).collect()(0)
    assert(fim.getAs[Long]("n_middle") == 0L) // n=0: all cuts collapse
    // web/crawl operators: empty frames and contentless bodies
    val emptySitemaps = spark.emptyDataset[(String, String)]
      .toDF("site", "body")
    assert(UrlOps.parseSitemaps(emptySitemaps).count() == 0)
    assert(UrlOps.frontierSchedule(
      UrlOps.parseSitemaps(emptySitemaps)).count() == 0)
    val emptyPages = spark.emptyDataset[(Long, String)].toDF("doc_id", "html")
    assert(Html.mainContent(emptyPages).count() == 0)
    val blankPage = Seq((1L, "")).toDF("doc_id", "html")
    val mc = Html.mainContent(blankPage).collect()(0)
    assert(mc.getAs[Long]("n_blocks") == 0L &&
      mc.getAs[String]("main_text") == "")
    // SFT packing on the empty conversation frame
    val emptyConvs2 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("conv_id", LongType),
        StructField("turns", ArrayType(StructType(Seq(
          StructField("role", StringType),
          StructField("content", StringType))))))))
    assert(Corpus.sftPack(emptyConvs2, budget = 100).count() == 0)
  }
}
