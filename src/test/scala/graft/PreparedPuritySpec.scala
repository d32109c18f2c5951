package graft

/** Pins the r21 prepared-pure contract: a pipeline key may serve from the
 * prepared-plan cache ONLY if constructing its DataFrame does no work —
 * at most the one parquet-footer schema-inference job, no training
 * collect, no export/write, no drain, no materialization. A key whose
 * construction starts doing real work (someone adds a collect or an
 * export) MUST leave `preparedPure`, or the bench would silently skip
 * declared work on repeats — this spec turns that mistake into a red
 * test instead of a gamed benchmark. */
class PreparedPuritySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every preparedPure key builds with at most the schema-read job") {
    val raw = PipelineEntry.rawQueries
    assert(PipelineEntry.preparedPure.subsetOf(raw.keySet),
      "preparedPure names a key that does not exist")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for (k <- PipelineEntry.preparedPure.toSeq.sorted) {
      val (_, run) = JobCount.during(spark)(raw(k)(spark, sfDir))
      if (run.jobs > 1) offenders += s"$k built with ${run.jobs} jobs"
    }
    assert(offenders.isEmpty,
      s"construction no longer pure (remove from preparedPure or make " +
        s"the work lazy):\n${offenders.mkString("\n")}")
  }

  test("prepared keys reuse the plan; non-prepared keys rebuild") {
    val q = PipelineEntry.queries
    val a = q("p50_curation_pipeline")(spark, sfDir)
    val b = q("p50_curation_pipeline")(spark, sfDir)
    assert(a eq b, "pure key did not serve from the prepared cache")
    // a drain key must rebuild per call (construction IS the operation)
    assert(!PipelineEntry.preparedPure.contains("p110_streaming_cdx"))
    assert(!PipelineEntry.preparedPure.contains("p117_langid_trained"))
    assert(!PipelineEntry.preparedPure.contains("p100_pagerank"))
  }
}
