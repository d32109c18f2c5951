package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.{Corpus, Dedup, OperatorCaches}
import Common._

/** curation_batch: repeated full passes over the seeded corpus — the
 * composed curation pipeline (line filter, clean, redact, Gopher, exact
 * dedup), then MinHash-LSH near-duplicate pairs over the survivors. */
object Curation {
  val MinPasses = 5
  val WarmUpS = 10.0

  def run(o: Opts, res: Result, trace: Trace): Unit = {
    val path = o.inputs.resolve("documents.parquet").toString
    val exp = readJson(o.inputs.resolve("expect.json"))
    val nDocs = exp.get("n_docs").asInt
    val groups = exp.get("dup_groups").elements().asScala.map(_.elements().asScala.map(_.asLong).toSeq).toSeq
    val pairs = exp.get("near_pairs").elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
    val bad = exp.get("bad_ids").elements().asScala.map(_.asLong).toSet
    val wantSurvivors = nDocs - bad.size - groups.map(_.size - 1).sum

    var docs: DataFrame = null
    for (_ <- 1 to o.setups) {
      if (docs != null) docs.sparkSession.stop()
      val t0 = System.nanoTime()
      val spark = session(o.work)
      trace.attach(spark)
      docs = spark.read.parquet(path).cache()
      docs.count()
      res.setupS += secs(t0)
    }
    res.cacheMb = storageMb(docs.sparkSession)

    def pass(): Unit = {
      val (survivors, kept) = trace.span("operators.curation_pipeline_ms") {
        val s = Corpus.curationPipeline(docs).persist()
        (s, s.select("id", "n_dups").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      }
      val found = trace.span("operators.minhash_ms") {
        Dedup.minhashLshPairs(survivors.select(col("id"), col("final_text")),
          textCol = "final_text", idCol = "id").select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      survivors.unpersist()
      OperatorCaches.drainMaterialized()
      trace.record("operators.kept", kept.size)
      trace.record("operators.near_dup_pairs", found.size)
      val groupsOk = groups.forall(g => g.count(kept.contains) == 1 &&
        kept.get(g.min).contains(g.size.toLong))
      res.check(kept.size == wantSurvivors && groupsOk && !kept.keySet.exists(bad) &&
        pairs.subsetOf(found),
        s"curation_batch pass: kept ${kept.size} (want $wantSurvivors), groups ok $groupsOk, " +
          s"near pairs found ${pairs.count(found)} of ${pairs.size}")
    }

    // warm-up: JIT and codegen. Pass time keeps falling over the first
    // several passes (about 1.8 s to 1.4 s on 4 cores), so the warm-up
    // runs passes for WarmUpS, and at least two.
    val w0 = System.nanoTime()
    var warm = 0
    while (secs(w0) < WarmUpS || warm < 2) { pass(); warm += 1 }
    trace.clear()
    val before = trace.mark()
    val t0 = System.nanoTime()
    val until = t0 + (o.seconds * 1e9).toLong
    val passMs = Vector.newBuilder[Double]
    var n = 0
    while (System.nanoTime() < until || n < MinPasses) {
      val p0 = System.nanoTime()
      pass()
      passMs += (System.nanoTime() - p0) / 1e6
      n += 1
    }
    res.windowS = secs(t0)
    res.opMs = passMs.result()
    res.units = n.toDouble * nDocs
    trace.windowLayers(res, before, n, Stats.median(trace.values("operators.kept")) * n)
    def med(k: String) = Stats.median(trace.values(k))
    res.layers("operators.curation_pipeline_s") = med("operators.curation_pipeline_ms") / 1000
    res.layers("operators.minhash_s") = med("operators.minhash_ms") / 1000
    res.layers("operators.kept_frac") = med("operators.kept") / nDocs
    res.layers("operators.near_dup_pairs") = med("operators.near_dup_pairs")
  }
}
