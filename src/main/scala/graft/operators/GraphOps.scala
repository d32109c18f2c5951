package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashExpressions
import graft.model.{Ontology, PropertyGraph}

/**
 * Batch graph lookups and edgeless queries — Spark-native equivalents of
 * the reference endpoints beyond `/query`.
 */
object GraphOps {

  /**
   * Edgeless (single-node) query: ids + subclass descendants intersected
   * with the node set; keeps the descendant -> query-id mapping
   * (ref: /root/reference/app/app/plover.py:2778-2820).
   * Returns (node_id, query_id) — query_id null for directly-listed ids.
   * Expansion (when a closure is given) resolves driver-side through
   * `index` (see OneHop.resolver); the lookup is one probe filter over
   * the node table.
   */
  def singleNode(spark: SparkSession, graph: PropertyGraph, ids: Seq[String],
                 closure: Option[DataFrame],
                 index: Option[ClosureIndex] = None): DataFrame = {
    val (all, qids) = OneHop.resolver(closure, expandSubclasses = true, index)(ids)
    graph.nodes.where(OneHop.memberOf(all)(col("id")))
      .select(col("id").as("node_id"), OneHop.queryIdCol(qids, col("id")).as("query_id"))
  }

  /**
   * Edges between node pairs, undirected, all predicates, no subclass
   * reasoning (ref: plover.py:1934-1981 `get_edges`). The reference loops
   * per pair on the driver; here the whole batch is ONE probe-filtered
   * scan: each unordered endpoint pair maps to the `pair_key`s that asked
   * for it, and a matching edge fans out to each of them, so a repeated
   * or reversed pair yields its rows once per request entry.
   * Returns (pair_key, edge_id, subject, object, predicate).
   */
  def getEdges(spark: SparkSession, graph: PropertyGraph,
               pairs: Seq[(String, String)]): DataFrame = {
    // Driver-side unordered-pair keys -> their pair_keys in request
    // order, joined by U+0002. Neither U+0001 nor U+0002 occurs in
    // CURIEs, so keys are collision-free and the list splits cleanly
    // (the same fan-out answerBatch uses for tags). The endpoints are
    // ordered as Spark's least/greatest order them on the edge side.
    val keyMap = scala.collection.mutable.HashMap.empty[String, String]
    for ((na, nb) <- pairs) {
      val key = if (OneHop.utf8Order.lteq(na, nb)) s"$na\u0001$nb" else s"$nb\u0001$na"
      keyMap.updateWith(key)(prev => Some(prev.fold(s"$na--$nb")(_ + s"\u0002$na--$nb")))
    }
    val edgeKey = concat_ws("\u0001",
      least(col("subject"), col("object")), greatest(col("subject"), col("object")))
    // Implied endpoint conjunct: an edge matching some pair has its
    // subject among the pairs' endpoints, so `subject IN endpoints` is
    // redundant semantically but load-bearing physically — it is a
    // plain column predicate the subject-clustered cache prunes batches
    // on (the pair key is a concat expression, invisible to zone maps),
    // and it short-circuits before the key concat on surviving rows.
    // NULL tolerance: the key's concat_ws/least/greatest SKIP nulls, so
    // an edge with NULL subject and object=X carries key "X\u0001X" and
    // matches a self-pair (X,X), while `subject IN endpoints` is NULL
    // (drop) for it. Graphs built by GraphBuilder/KgxSource never emit
    // null endpoints, but the conjunct must stay a superset of the key
    // match on ANY input, so it explicitly admits null subjects (still a
    // plain column predicate — batch-stat null counts keep it zone-map
    // prunable). A key outside the map probes to null, which explodes
    // to no row, so the map probe is also the key filter.
    val endpoints = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).distinct.toVector
    graph.edges
      .where(col("subject").isNull || OneHop.memberOf(endpoints)(col("subject")))
      .withColumn("pair_key",
        explode(split(HashExpressions.mapProbe(edgeKey, keyMap), "\u0002")))
      .select("pair_key", "edge_id", "subject", "object", "predicate")
  }

  /**
   * Neighbors of each input node matching category/predicate filters, no
   * subclass reasoning (ref: plover.py:1982-2010 `get_neighbors`; the
   * reference's QG template puts the input node on the SUBJECT side).
   * One join for the whole batch. Returns distinct (input_id, neighbor_id).
   */
  def getNeighbors(spark: SparkSession, graph: PropertyGraph, ont: Ontology,
                   ids: Seq[String], categories: Seq[String],
                   predicates: Seq[String]): DataFrame = {
    val qg = QueryGraph.oneHop(
      QNode("n_in", ids = ids),
      QNode("n_out", categories = categories),
      QEdge("n_in", "n_out", predicates = predicates))
    val res = OneHop.answer(spark, graph, ont, qg, closure = None, expandSubclasses = false)
    res.matches.select(col("input_id"), col("output_id").as("neighbor_id")).distinct()
  }

  /**
   * The ONE meta aggregation both the meta knowledge graph and the SRI
   * test triples derive from (ref: plover.py:1139-1240): group the
   * category-exploded edge table once, collecting attribute names,
   * qualifier value sets AND the deterministic example edge per
   * (subject_category, predicate, object_category).
   *
   * Scale note: this is the only full shuffle these endpoints need, and
   * callers (see Fixture) cache its tiny output so /meta_knowledge_graph
   * and /sri_test_triples never re-shuffle the edge table. At 100 TB the
   * same effect comes from materializing this summary at build time —
   * the input is a narrow projection (ids + categories + qualifier
   * columns), not the full edge payload.
   */
  def metaSummary(graph: PropertyGraph): DataFrame = {
    // build-time denormalized endpoint categories: no join at all — just
    // two nested explodes of small arrays
    graph.edges
      .select(col("edge_id"), col("subject"), col("object"), col("predicate"),
        col("qualified_predicate"), col("object_direction"), col("object_aspect"),
        array_union(map_keys(col("attrs")),
          array_union(map_keys(col("num_attrs")), map_keys(col("list_attrs"))))
          .as("attr_names"),
        col("subject_categories"), col("object_categories"))
      .withColumn("subject_category", explode(col("subject_categories")))
      .withColumn("object_category", explode(col("object_categories")))
      .groupBy("subject_category", "predicate", "object_category")
      .agg(
        array_sort(array_distinct(flatten(collect_list(col("attr_names")))))
          .as("attribute_names"),
        array_sort(array_compact(collect_set(col("qualified_predicate"))))
          .as("qualified_predicates"),
        array_sort(array_compact(collect_set(col("object_direction"))))
          .as("object_directions"),
        array_sort(array_compact(collect_set(col("object_aspect"))))
          .as("object_aspects"),
        min_by(struct(col("subject"), col("object")), col("edge_id")).as("ex"),
        min(col("edge_id")).as("example_edge_id"))
  }

  /** Meta knowledge graph triples — projection of `metaSummary` (pass a
   * cached summary to share the shuffle with `testTriples`). */
  def metaTriples(summary: DataFrame): DataFrame =
    summary.select("subject_category", "predicate", "object_category",
      "attribute_names", "qualified_predicates", "object_directions",
      "object_aspects")

  def metaTriples(graph: PropertyGraph): DataFrame = metaTriples(metaSummary(graph))

  /** Meta nodes: category -> sorted distinct CURIE prefixes
   * (ref: plover.py:1219-1227). */
  def metaNodes(graph: PropertyGraph): DataFrame =
    graph.nodes
      .select(explode(col("categories")).as("category"),
        split(col("id"), ":").getItem(0).as("prefix"))
      .groupBy("category")
      .agg(array_sort(collect_set(col("prefix"))).as("prefixes"))

  /**
   * SRI test triples: one deterministic example edge per meta triple
   * (ref: plover.py:1160-1176; the reference keeps the first edge seen —
   * we keep the min edge_id for determinism). Projection of `metaSummary`.
   */
  def testTriples(summary: DataFrame): DataFrame =
    summary.select(col("subject_category"), col("predicate"), col("object_category"),
      col("ex.subject").as("subject_id"), col("ex.object").as("object_id"),
      col("example_edge_id"))

  def testTriples(graph: PropertyGraph): DataFrame = testTriples(metaSummary(graph))

  /**
   * TRAPI result-row assembly (ref: plover.py:2322-2410 `_get_trapi_results`):
   * edges grouped into results by (input, output) binding keys, where an
   * is_set qnode collapses its side to a single "*" group.
   */
  def resultBindings(res: OneHop.Result, inputIsSet: Boolean,
                     outputIsSet: Boolean): DataFrame = {
    val inKey = if (inputIsSet) lit("*") else col("input_id")
    val outKey = if (outputIsSet) lit("*") else col("output_id")
    res.matches
      .withColumn("in_key", inKey).withColumn("out_key", outKey)
      .groupBy("in_key", "out_key")
      .agg(
        array_sort(collect_set(col("edge_id"))).as("edge_ids"),
        array_sort(collect_set(col("input_id"))).as("input_ids"),
        array_sort(collect_set(col("output_id"))).as("output_ids"))
  }
}
