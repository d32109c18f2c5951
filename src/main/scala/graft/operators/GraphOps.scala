package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
   */
  def singleNode(spark: SparkSession, graph: PropertyGraph, ids: Seq[String],
                 closure: Option[DataFrame],
                 index: Option[ClosureIndex] = None): DataFrame = {
    // Literal fast path: expansion resolved driver-side (bounded, see
    // ClosureIndex), the lookup is one isin filter over the node table.
    val localOpt = index
      .filter(_ => closure.isDefined)
      .map(_.expand(ids))
      .orElse(if (closure.isEmpty) Some((ids.distinct, Map.empty[String, String])) else None)
      .filter(_._1.size <= OneHop.DefaultMaxLiteralIds)
    localOpt match {
      case Some((all, qid)) =>
        val qidCol =
          if (qid.isEmpty) lit(null).cast("string")
          else graft.functions.HashExpressions.mapProbe(col("id"), qid)
        graph.nodes.where(
          if (all.size <= 16) col("id").isin(all: _*)
          else graft.functions.HashExpressions.setProbe(col("id"), all.toSet))
          .select(col("id").as("node_id"), qidCol.as("query_id"))
      case None =>
        val expanded = OneHop.expandIds(spark, ids, closure, expand = true)
        expanded.join(graph.nodes.select(col("id").as("node_id")), Seq("node_id"),
          "left_semi")
    }
  }

  /**
   * Edges between node pairs, undirected, all predicates, no subclass
   * reasoning (ref: plover.py:1934-1981 `get_edges`). The reference loops
   * per pair on the driver; here the whole batch is ONE equi-join on the
   * unordered endpoint pair, so 10^6 pairs cost the same plan as 10.
   * Returns (pair_key, edge_id, subject, object, predicate).
   */
  def getEdges(spark: SparkSession, graph: PropertyGraph,
               pairs: Seq[(String, String)],
               maxLiteralPairs: Int = OneHop.DefaultMaxLiteralIds): DataFrame = {
    // Driver-side unordered-pair keys: a U+0001 separator never occurs
    // in CURIEs, so keys are collision-free.
    val keyed = pairs.map { case (na, nb) =>
      val (lo, hi) = if (na <= nb) (na, nb) else (nb, na)
      (s"$lo\u0001$hi", s"$na--$nb")
    }
    val keyMap = keyed.toMap
    val edgeKey = concat_ws("\u0001",
      least(col("subject"), col("object")), greatest(col("subject"), col("object")))
    if (keyed.size <= maxLiteralPairs && keyMap.size == keyed.size) {
      // Literal fast path: the whole batch is one probe scan filter plus a
      // map-literal probe for the pair key — no broadcast build job. Like
      // OneHop's literal path, membership is isin only while the set is
      // tiny; past that it's a SetProbe (one shared driver-built hash set,
      // not N Literal nodes — analysis time is what made the r12 sweep's
      // isin variant superlinear in the pair count).
      // Implied endpoint conjunct: an edge matching some pair has its
      // subject among the pairs' endpoints, so `subject IN endpoints` is
      // redundant semantically but load-bearing physically — it is a
      // plain column predicate the subject-clustered cache prunes batches
      // on (the pair key is a concat expression, invisible to zone maps),
      // and it short-circuits before the key concat on surviving rows.
      // NULL tolerance: `subject IN endpoints` evaluates to NULL (drop)
      // for a NULL subject, but the join path's concat_ws/least/greatest
      // key SKIPS nulls — an edge with NULL subject and object=X carries
      // key "XX" and matches a self-pair (X,X). Graphs built by
      // GraphBuilder/KgxSource never emit null endpoints, but this path
      // must stay value-equivalent to the join path on ANY input, so the
      // conjunct explicitly admits null subjects (still a plain column
      // predicate — batch-stat null counts keep it zone-map prunable).
      val endpoints = pairs.iterator.flatMap(p => Iterator(p._1, p._2))
        .toSeq.distinct
      val endpointHit = col("subject").isNull ||
        (if (endpoints.size <= 16) col("subject").isin(endpoints: _*)
         else
           // per-length ranges first: zone-map prunable where the
           // SetProbe is opaque to batch stats (see OneHop.rangeConjunct)
           OneHop.rangeConjunct(col("subject"), endpoints) &&
             graft.functions.HashExpressions.setProbe(col("subject"), endpoints.toSet))
      graph.edges
        .where(endpointHit && (
          if (keyMap.size <= 16) edgeKey.isin(keyMap.keys.toSeq: _*)
          else graft.functions.HashExpressions.setProbe(edgeKey, keyMap.keySet)))
        .withColumn("pair_key",
          graft.functions.HashExpressions.mapProbe(edgeKey, keyMap))
        .select("pair_key", "edge_id", "subject", "object", "predicate")
    } else {
      // Data-sized batches (or several pair_keys sharing one unordered
      // pair): ONE equi-join on the unordered endpoint pair, so 10^6
      // pairs cost the same plan as 10.
      import spark.implicits._
      val pairsDF = pairs.toDF("na", "nb")
        .withColumn("pair_key", concat_ws("--", col("na"), col("nb")))
        .withColumn("k", concat_ws("\u0001",
          least(col("na"), col("nb")), greatest(col("na"), col("nb"))))
        .select("pair_key", "k")
      graph.edges
        .withColumn("k", edgeKey)
        .join(broadcast(pairsDF), Seq("k"))
        .select("pair_key", "edge_id", "subject", "object", "predicate")
    }
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
