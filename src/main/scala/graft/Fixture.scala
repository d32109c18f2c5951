package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{GraftOntology => O, PropertyGraph}
import graft.operators.{ClosureIndex, GraphOps, OperatorCaches, SubclassClosure}
import graft.sources.GraphStore

/** Cached fixture state per (session, sf-dir): graph, subclass closure,
 * and the meta summary that /meta_knowledge_graph + /sri_test_triples
 * share (one shuffle, cached — the long-lived-service posture).
 *
 * All four artifacts load through GraphStore: the build pipeline runs at
 * most ONCE per corpus drop (a batch ingest job writing parquet), and
 * every session after it — including this JVM after a driver restart —
 * warms by scanning columnar data. That split is what keeps service
 * startup flat as the data grows 100x (re-deriving the edge cache was
 * 20-30 s at sf0.1 and scales with the corpus; scanning it does not).
 *
 * Lifecycle: everything built once per session and reused — these
 * artifacts, the serving session, SparkEntry's prepared plans and its
 * zipped-edge, delta and multi-graph state, TpchGraph's graph — lives in
 * ONE memo keyed on (session, corpus dir, artifact):
 *  - an entry is built once, outside the map's lock (a build may read
 *    other entries: the closure index reads the closure), and concurrent
 *    first callers wait for the one build;
 *  - a build that throws leaves no entry, so the next call retries;
 *  - `closeServing(spark)` drops every entry of `spark` and of its
 *    serving session, then drains `OperatorCaches`;
 *  - a miss drops the entries of sessions whose SparkContext is stopped.
 * Dropping an entry unpersists nothing: cached frames belong to the
 * SparkContext's CacheManager, so a rebuilt artifact re-caches the same
 * plan and finds the data already there. */
object Fixture {

  /** Runs `build` once; a throw leaves it unbuilt (lazy val semantics). */
  private final class Once(build: () => Any) { lazy val value: Any = build() }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Once]()

  /** The `artifact` of (`spark`, `dir`), built by `build` on the first
   * call. */
  private[graft] def memo[A](spark: SparkSession, dir: String, artifact: String)
                            (build: => A): A = {
    val k = (spark, dir, artifact)
    val hit = entries.get(k)
    val cell = if (hit != null) hit else {
      entries.keySet.removeIf(_._1.sparkContext.isStopped)
      entries.computeIfAbsent(k, _ => new Once(() => build))
    }
    try cell.value.asInstanceOf[A]
    catch { case e: Throwable => entries.remove(k, cell); throw e }
  }

  /** Store-backed nodes/edges, UNCACHED — the shared loader for graph()
   * and for store-side derivations (closure, meta), so populating the
   * store never touches session caches and build-vs-warm timing stays
   * honest. The lazy build plan is constructed only when a table is
   * stale. */
  private def storeFrames(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    lazy val built = graft.sources.TpchGraph.build(spark, sfDir)
    // Zone-map clustering (r12): nodes by id, edges by subject — literal
    // point probes prune to the batches/row-groups holding the probed
    // keys (see GraphStore.table's scaladoc).
    val nodes = GraphStore.table(spark, sfDir, "nodes", clusterBy = Seq("id"))(built.nodes)
    val edges = GraphStore.table(spark, sfDir, "edges", clusterBy = Seq("subject"))(built.edges)
    // the endpoint dimension persisted inside the build is dead
    // once the denormalized table is on disk
    PropertyGraph.unpersistBuildCaches()
    (nodes, edges)
  }

  /** OBJECT-clustered edge replica (reverse-direction probes, see
   * PropertyGraph.reverseEdges). Built by re-sorting the stored edge
   * table — the primary is always written first by storeFrames, so the
   * replica's build never re-runs the graph construction pipeline. */
  private def reverseStoreFrame(spark: SparkSession, sfDir: String,
                                edges: DataFrame): DataFrame =
    GraphStore.table(spark, sfDir, "edges_by_object", clusterBy = Seq("object"))(edges)

  /** Populate every store table for `sfDir` without warming this session's
   * caches (the ingest job's entry point). Returns seconds spent building
   * — 0.0 when the store was already fresh. */
  def ensureStore(spark: SparkSession, sfDir: String): Double = {
    val before = GraphStore.buildSeconds
    val (nodes, edges) = storeFrames(spark, sfDir)
    reverseStoreFrame(spark, sfDir, edges)
    val g = PropertyGraph(nodes, edges)
    GraphStore.table(spark, sfDir, "closure")(
      SubclassClosure.fromGraph(g, O.ontology))
    GraphStore.table(spark, sfDir, "meta_summary")(GraphOps.metaSummary(g))
    GraphStore.buildSeconds - before
  }

  def graph(spark: SparkSession, sfDir: String): PropertyGraph =
    memo(spark, sfDir, "graph") {
      val (nodes, edges) = storeFrames(spark, sfDir)
      PropertyGraph(nodes.cache(), edges.cache(),
        Some(reverseStoreFrame(spark, sfDir, edges).cache()))
    }

  def closure(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "closure") {
      val (nodes, edges) = storeFrames(spark, sfDir)
      val c = GraphStore.table(spark, sfDir, "closure")(
        SubclassClosure.fromGraph(PropertyGraph(nodes, edges), O.ontology)).cache()
      c.count()
      c
    }

  /** Driver-side closure index that every subclass-expanding lookup
   * resolves through (built once per session from the cached closure). */
  def closureIndex(spark: SparkSession, sfDir: String): Option[ClosureIndex] =
    memo(spark, sfDir, "closure_index")(Some(ClosureIndex.fromClosure(closure(spark, sfDir))))

  def metaSummary(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "meta_summary") {
      val (nodes, edges) = storeFrames(spark, sfDir)
      val m = GraphStore.table(spark, sfDir, "meta_summary")(
        GraphOps.metaSummary(PropertyGraph(nodes, edges))).cache()
      m.count()
      m
    }

  /** The SERVING session for interactive graph lookups: a `newSession()`
   * of the caller's (shared SparkContext + CacheManager — the cached
   * graph frames are reused, nothing is re-encoded) with its own SQLConf
   * tuned for answer-sized work: AQE off (its stage-by-stage re-planning
   * is pure latency when every post-match shuffle is answer-sized) and
   * ONE shuffle partition. That is the honest 100 TB shape too: in a
   * lookup the corpus-sized work is the SCAN, whose parallelism comes
   * from the cached table's partitioning; everything after the match is
   * bounded by the answer-size cutoff guard (G22), so distinct/groupBy/
   * sort on it wants answer-scale, not corpus-scale, partitioning.
   * Batch/pipeline operators keep the caller's session untouched. */
  def serving(spark: SparkSession): SparkSession =
    memo(spark, "", "serving") {
      val sv = spark.newSession()
      sv.conf.set("spark.sql.adaptive.enabled", "false")
      sv.conf.set("spark.sql.shuffle.partitions", "1")
      sv
    }

  /** Retire `spark` and the serving session derived from it: drops every
   * memo entry of both (a later call builds a fresh serving session and
   * fresh artifacts) and unpersists the operator-materialized frames
   * their prepared plans pinned. */
  def closeServing(spark: SparkSession): Unit = {
    val sv = Option(entries.get((spark, "", "serving")))
      .map(_.value.asInstanceOf[SparkSession])
    entries.keySet.removeIf(k => (k._1 eq spark) || sv.exists(_ eq k._1))
    OperatorCaches.drainMaterialized()
  }
}
