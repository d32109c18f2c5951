package graft.model

import org.apache.spark.sql.DataFrame

/**
 * Columnar property graph — the Spark-native replacement for the reference
 * engine's nested-dict main index (ref: /root/reference/app/app/plover.py:85-113).
 *
 * Instead of a node -> category -> predicate -> direction -> neighbor ->
 * edge-ids map materialized in RAM, we keep two columnar tables and let
 * Catalyst turn every lookup into broadcast-joined, predicate-pushed scans.
 * At 100 TB the "index" is parquet layout + statistics, not a data structure.
 *
 * Core node columns (extra property columns may follow):
 *   id          string   — node identifier (CURIE-style "PREFIX:local")
 *   name        string
 *   categories  array<string> — most-specific categories only (the builder
 *               prunes proper ancestors, ref plover.py:835-880)
 *
 * Core edge columns:
 *   edge_id                  string
 *   subject / object         string
 *   predicate                string (canonical form; builder flips inverse
 *                            edges, ref plover.py:1060-1090)
 *   qualified_predicate      string (nullable)
 *   object_direction         string (nullable)   qualifier
 *   object_aspect            string (nullable)   qualifier
 *   primary_knowledge_source string (nullable)
 *   attrs                    map<string,string>  scalar string attributes
 *   num_attrs                map<string,double>  scalar numeric attributes
 *   list_attrs               map<string,array<string>> list attributes
 *
 * Denormalized endpoint columns (GraphBuilder.denormalizeEndpoints; one
 * set per endpoint <e> = subject, object — the endpoint's node row, so
 * category filters and TRAPI replies never join the node table):
 *   <e>_categories           array<string> (null when the node has none
 *                            or is absent from the node table)
 *   <e>_name                 string (nullable, likewise)
 *   <e>_known                boolean — the endpoint is in the node table
 */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame,
                               edgesByObject: Option[DataFrame] = None) {

  /** OBJECT-clustered edge replica for reverse-direction literal probes —
   * the columnar analog of the reference keeping both forward AND
   * backward adjacency in its node index (plover.py:85-113 stores each
   * edge under both endpoints). `edges` is subject-clustered, so a
   * pinned-subject probe prunes to the batches holding those subjects; a
   * pinned-OBJECT probe against it would scan everything. The replica
   * trades 2x edge storage for zone-map pruning in both directions —
   * the same trade the reference makes in RAM. Falls back to the primary
   * table when the store has no replica (semantics identical, just
   * unpruned). */
  def reverseEdges: DataFrame = edgesByObject.getOrElse(edges)

  /** Persist all sides (used by long-lived query sessions / benchmarks). */
  def cache(): PropertyGraph = {
    nodes.cache(); edges.cache(); edgesByObject.foreach(_.cache()); this
  }

  def unpersist(): PropertyGraph = {
    nodes.unpersist(); edges.unpersist(); edgesByObject.foreach(_.unpersist()); this
  }
}

object PropertyGraph {
  val EdgeCols: Seq[String] = Seq(
    "edge_id", "subject", "object", "predicate", "qualified_predicate",
    "object_direction", "object_aspect", "primary_knowledge_source",
    "attrs", "num_attrs", "list_attrs")

  // Build-stage side caches (e.g. the endpoint dimension the
  // builder persists for its two joins). They are keyed by plan, so
  // rebuilding from the same sources reuses one entry — but a long-lived
  // session cycling DIFFERENT graphs accumulates one InMemoryRelation per
  // distinct source. Builders register here; sessions drop them when the
  // graphs built from them are no longer queried.
  private val buildCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
  private[graft] def registerBuildCache(df: DataFrame): Unit =
    buildCaches.add(df)

  /** Unpersist every registered build-stage cache (idempotent; safe while
   * no query over a registered graph is mid-flight — Spark recomputes
   * lazily if one is). A frame of a stopped SparkContext is just dropped:
   * its cache went with the context, and unpersisting it would throw. */
  def unpersistBuildCaches(): Unit = {
    var df = buildCaches.poll()
    while (df != null) {
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
      df = buildCaches.poll()
    }
  }
}
