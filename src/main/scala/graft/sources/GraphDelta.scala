package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{Ontology, PropertyGraph}
import graft.operators.SubclassClosure

/**
 * Graph-side incremental refresh (r19 — the r18 verdict's #6): apply a
 * KGX delta drop (added / removed / modified nodes and edges) to a BUILT
 * graph, re-deriving only the artifacts the delta actually touches,
 * instead of rebuilding the store wholesale on every corpus change.
 *
 * Why this exists: the corpus side already refreshes incrementally
 * (snapshot diff p87, incremental dedup p49/p51), but the GraphStore
 * rebuilt every artifact on any corpus-fingerprint change. A weekly KG
 * release at 100 TB is >99% unchanged rows; a wholesale rebuild re-pays
 * the full ingest for a delta-sized change. (The reference has no
 * incremental path at all — its build_indexes re-streams the whole KG
 * per boot, ref: /root/reference/app/app/plover.py:725.)
 *
 * Delta semantics (KGX-shaped):
 *  - `nodeUpserts` / `edgeUpserts` carry RAW KGX rows (the same columns a
 *    fresh ingest reads); an upsert REPLACES the row with its key, so
 *    "modified" and "added" are one lane. Upserts run through the exact
 *    ingest transforms of a fresh build (most-specific category pruning,
 *    canonical-predicate flip, empty-attr pruning) — a delta-applied
 *    graph is definitionally identical to a from-scratch build of the
 *    post-delta corpus (GraphDeltaSpec pins frame equality).
 *  - `nodeTombstones` (id) / `edgeTombstones` (edge_id) delete; a node
 *    tombstone CASCADES to every edge referencing it (KGX deltas that
 *    ship the edge deletes explicitly are a no-op on top).
 *
 * What re-derives, and what does not:
 *  - Node/edge merges are anti-join + union against BROADCAST delta key
 *    sets: the base tables stream through untouched except for the rows
 *    whose keys match — on the zone-map-clustered store tables a
 *    broadcast anti-join prunes to the row groups holding touched keys,
 *    so the pass is O(scan of affected partitions), never a shuffle of
 *    the corpus.
 *  - Denormalized endpoint columns refresh PARTITION-WISE: only edges
 *    whose endpoint is an upserted node (its name or categories may
 *    have changed) re-join the node dimension; every other surviving edge
 *    keeps its stored denorm columns verbatim. Upserted edges
 *    denormalize against the post-delta nodes.
 *  - The subclass CLOSURE recomputes ONLY when the delta touches a
 *    subclass edge — an upserted subclass edge, a tombstoned one, or a
 *    node cascade that kills one ([[subclassTouched]] is delta-bounded:
 *    one filtered scan of the base's subclass edges joined against the
 *    broadcast delta keys). Otherwise the base closure is returned AS
 *    IS (the same artifact — zero recompute).
 *  - The meta summary always recomputes: it is one aggregation over the
 *    post-delta edges, cheap at any scale, and almost any delta can
 *    perturb it (attribute names, qualifier sets, example edges).
 */
object GraphDelta {

  /** A KGX delta drop. Tombstone frames carry only the key column
   * (`id` / `edge_id`); upsert frames carry full raw KGX rows. */
  final case class KgxDelta(nodeUpserts: DataFrame,
                            nodeTombstones: DataFrame,
                            edgeUpserts: DataFrame,
                            edgeTombstones: DataFrame)

  /** The post-delta artifacts. `closureRebuilt` records whether the
   * closure was recomputed (delta touched subclass edges) or carried
   * over untouched. */
  final case class Applied(graph: PropertyGraph, closure: DataFrame,
                           closureRebuilt: Boolean)

  /** Does the delta change the direct subclass-pair set? Checked
   * delta-bounded: the base side is ONE scan pre-filtered to subclass
   * edges (zone maps make it cheap on the clustered store), the delta
   * side is broadcast-small. */
  def subclassTouched(base: PropertyGraph, delta: KgxDelta,
                      ont: Ontology): Boolean = {
    val sub = lit(SubclassClosure.SubclassPredicate)
    // an upserted edge that IS a subclass edge (post-canonicalization —
    // a superclass_of upsert flips into subclass_of)
    val upTouch = !GraphBuilder.canonicalizeEdges(delta.edgeUpserts, ont)
      .where(col("predicate") === sub).isEmpty
    if (upTouch) return true
    val baseSub = base.edges.where(col("predicate") === sub)
    // a tombstoned edge_id that names a subclass edge, OR an upsert that
    // REPLACES one with a non-subclass row (review-caught: the replaced
    // base row leaves the direct-pair set even though the incoming row
    // is not subclass)
    val deadIds = delta.edgeTombstones.select("edge_id")
      .unionByName(delta.edgeUpserts.select("edge_id"))
    val tombTouch = !baseSub
      .join(broadcast(deadIds), Seq("edge_id"), "left_semi").isEmpty
    if (tombTouch) return true
    // a node cascade that kills a subclass edge
    val deadNodeIds = delta.nodeTombstones.select(col("id")).distinct()
    !baseSub
      .join(broadcast(deadNodeIds.withColumnRenamed("id", "subject")),
        Seq("subject"), "left_semi")
      .unionAll(baseSub
        .join(broadcast(deadNodeIds.withColumnRenamed("id", "object")),
          Seq("object"), "left_semi"))
      .isEmpty
  }

  /** Post-delta NODE table: tombstoned and re-upserted ids leave, the
   * upserts enter through the fresh-build transform. */
  def applyNodes(base: PropertyGraph, delta: KgxDelta,
                 ont: Ontology): DataFrame = {
    val dead = delta.nodeTombstones.select("id")
      .unionByName(delta.nodeUpserts.select("id")).distinct()
    val incoming = GraphBuilder.pruneToMostSpecific(delta.nodeUpserts, ont)
    base.nodes.join(broadcast(dead), Seq("id"), "left_anti")
      .unionByName(incoming, allowMissingColumns = true)
  }

  /** Post-delta EDGE table with denormalized endpoint columns
   * refreshed partition-wise (see object doc). `newNodes` must be the
   * [[applyNodes]] result. */
  def applyEdges(base: PropertyGraph, delta: KgxDelta, ont: Ontology,
                 newNodes: DataFrame): DataFrame = {
    val deadEdges = delta.edgeTombstones.select("edge_id")
      .unionByName(delta.edgeUpserts.select("edge_id")).distinct()
    val deadNodes = delta.nodeTombstones.select(col("id")).distinct()
    val survivors = base.edges
      .join(broadcast(deadEdges), Seq("edge_id"), "left_anti")
      .join(broadcast(deadNodes.withColumnRenamed("id", "subject")),
        Seq("subject"), "left_anti")
      .join(broadcast(deadNodes.withColumnRenamed("id", "object")),
        Seq("object"), "left_anti")
      .select(base.edges.columns.map(col): _*) // restore column order
    // denorm refresh is needed only where an endpoint's name or
    // categories may have changed — i.e. the upserted node ids. TWO broadcast HASH
    // left-joins stamp per-endpoint marker columns in one pass; the
    // touched/untouched split is then a cheap filter on the markers.
    // (The first cut used one nested-loop semi/anti pair on the OR of
    // the endpoint equalities — ScaleSmoke measured it at survivors ×
    // changed-ids comparisons, 2.5x SLOWER than a fresh rebuild at
    // sf0.1, the exact wholesale cost this module exists to avoid. A
    // per-endpoint semi-join union was no option either: the dedup it
    // needs is a set operation Spark refuses on map-typed columns.)
    val changed = delta.nodeUpserts.select(col("id")).distinct()
    val marked = survivors
      .join(broadcast(changed.select(col("id").as("subject"),
        lit(true).as("__ts"))), Seq("subject"), "left")
      .join(broadcast(changed.select(col("id").as("object"),
        lit(true).as("__to"))), Seq("object"), "left")
    val touched = marked
      .where(col("__ts").isNotNull || col("__to").isNotNull)
      .drop("__ts", "__to")
    val untouched = marked
      .where(col("__ts").isNull && col("__to").isNull)
      .drop("__ts", "__to")
      .select(survivors.columns.map(col): _*)
    val plain = PropertyGraph.EdgeCols.map(col)
    val incoming = GraphBuilder.pruneEmptyAttrs(
      GraphBuilder.canonicalizeEdges(delta.edgeUpserts, ont))
    val redenorm = GraphBuilder.denormalizeEndpoints(
      touched.select(plain: _*)
        .unionByName(incoming, allowMissingColumns = true)
        .select(plain: _*),
      newNodes)
    untouched.unionByName(redenorm)
  }

  /** Cluster keys of the NODES store table (clustered by `id`) the
   * delta adds, removes, or modifies — [[GraphStore.deltaRewrite]]'s
   * pruning input. Driver-bounded: exactly the delta's own key set. */
  def touchedNodeIds(delta: KgxDelta): Seq[String] =
    delta.nodeTombstones.select(col("id"))
      .unionByName(delta.nodeUpserts.select(col("id")))
      .distinct().collect().map(_.getString(0)).toSeq

  /**
   * Cluster keys of an EDGES store table (clustered by `keyCol` —
   * `subject` for the forward table, `object` for edges_by_object)
   * whose rows the delta adds, removes, or modifies:
   *  - upserted/tombstoned edge_ids name rows wherever their BASE row
   *    sits (one broadcast semi-join lookup — an upsert may also MOVE
   *    an edge to a new key, so the canonicalized incoming rows'
   *    keys count too);
   *  - a dead or upserted node touches its edges on BOTH sides: the
   *    same-side key is the node id itself, the other side needs the
   *    base lookup (cascade deletes + the partition-wise denorm
   *    refresh both rewrite those rows).
   * Driver-bounded: the collect is the distinct key set of the rows
   * the apply itself must rewrite — delta-scale by definition.
   */
  def touchedEdgeKeys(base: PropertyGraph, delta: KgxDelta,
                      ont: Ontology, keyCol: String): Seq[String] = {
    val otherCol = if (keyCol == "subject") "object" else "subject"
    val nodeKeys = delta.nodeTombstones.select(col("id"))
      .unionByName(delta.nodeUpserts.select(col("id"))).distinct()
    val byEdgeId = delta.edgeTombstones.select(col("edge_id"))
      .unionByName(delta.edgeUpserts.select(col("edge_id"))).distinct()
    val oldRows = base.edges
      .join(broadcast(byEdgeId), Seq("edge_id"), "left_semi")
      .select(col(keyCol).as("k"))
    val viaOther = base.edges
      .join(broadcast(nodeKeys.withColumnRenamed("id", otherCol)),
        Seq(otherCol), "left_semi")
      .select(col(keyCol).as("k"))
    val newRows = GraphBuilder.canonicalizeEdges(delta.edgeUpserts, ont)
      .select(col(keyCol).as("k"))
    nodeKeys.select(col("id").as("k"))
      .unionByName(oldRows).unionByName(viaOther).unionByName(newRows)
      .distinct().collect().map(_.getString(0)).toSeq
  }

  /** Apply the whole delta: nodes, edges (denorm partition-wise),
   * closure (only when subclass edges changed), meta summary (always —
   * the caller derives it from the returned graph; it is one cheap
   * aggregation and almost any delta perturbs it). */
  def apply(base: PropertyGraph, baseClosure: DataFrame, delta: KgxDelta,
            ont: Ontology): Applied = {
    val nodes = applyNodes(base, delta, ont)
    val edges = applyEdges(base, delta, ont, nodes)
    val g = PropertyGraph(nodes, edges)
    if (subclassTouched(base, delta, ont))
      Applied(g, SubclassClosure.fromGraph(g, ont), closureRebuilt = true)
    else Applied(g, baseClosure, closureRebuilt = false)
  }
}
