package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Ontology, PropertyGraph}

/**
 * Test-only reference for the literal lookup path: the distributed shape
 * the operators once kept for data-sized id sets. Subclass expansion is a
 * closure join, pinned ids are broadcast hash joins, and get_edges is an
 * equi-join on the unordered endpoint pair. Every probe here is a join,
 * so it shares none of the literal path's id-probe code. Plain one-hops
 * only: no qualifier or attribute constraints.
 */
object JoinOracle {

  /** Pinned ids plus their subclass descendants, with the descendant ->
   * query-id mapping: null for ids listed directly, min() tie-break when
   * a node descends from several query ids (ref: plover.py:1835-1867). */
  def expandIds(spark: SparkSession, ids: Seq[String],
                closure: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val idsDF = ids.toDF("node_id")
    val originals = idsDF.withColumn("query_id", lit(null).cast("string"))
    closure match {
      case Some(c) =>
        val descendants = c
          .join(broadcast(ids.toDF("ancestor")), Seq("ancestor"))
          .select(col("descendant").as("node_id"), col("ancestor").as("query_id"))
          .join(broadcast(idsDF), Seq("node_id"), "left_anti")
          .groupBy("node_id").agg(min("query_id").as("query_id"))
        originals.unionByName(descendants)
      case None => originals
    }
  }

  /** `OneHop.answer`'s matches as two broadcast joins on the input side
   * and one on a pinned output side. `closure` = None: no expansion. */
  def answer(spark: SparkSession, graph: PropertyGraph, ont: Ontology, qg: QueryGraph,
             closure: Option[DataFrame]): DataFrame = {
    val qedge = QueryGraph.forceCanonical(qg.edge.get, ont)
    require(qedge.qualifierConstraints.isEmpty && qedge.attributeConstraints.isEmpty,
      "the oracle covers plain one-hops only")
    val subjQ = qg.node(qedge.subjectKey)
    val objQ = qg.node(qedge.objectKey)
    val inputQ = qg.nodes.foldLeft(Option.empty[QNode]) { (best, qn) =>
      if (qn.ids.size > best.map(_.ids.size).getOrElse(0)) Some(qn) else best
    }.get
    val outputQ = if (inputQ.key == subjQ.key) objQ else subjQ
    val inputIsSubject = inputQ.key == qedge.subjectKey
    val (expanded, bidirPreds) = OneHop.plainPredSets(qedge, ont)
    val inputExp = expandIds(spark, inputQ.ids, closure)
      .withColumnRenamed("query_id", "input_query_id")
    def side(preds: Set[String], probe: String, other: String): DataFrame =
      graph.edges.where(col("predicate").isin(preds.toSeq: _*))
        .join(broadcast(inputExp.withColumnRenamed("node_id", probe)), Seq(probe))
        .withColumn("input_id", col(probe))
        .withColumn("output_id", col(other))
    val matched =
      side(if (inputIsSubject) expanded else bidirPreds, "subject", "object")
        .unionByName(side(if (inputIsSubject) bidirPreds else expanded, "object", "subject"))
    if (outputQ.ids.nonEmpty)
      matched.join(broadcast(expandIds(spark, outputQ.ids, closure)
        .withColumnRenamed("node_id", "output_id")
        .withColumnRenamed("query_id", "output_query_id")), Seq("output_id"))
    else {
      val withNull = matched.withColumn("output_query_id", lit(null).cast("string"))
      if (outputQ.categories.isEmpty) withNull
      else withNull.where(arrays_overlap(OneHop.endpoint("output_id", "categories"),
        lit(OneHop.expandCategories(outputQ.categories, ont).toArray)))
    }
  }

  /** `GraphOps.getEdges` as one broadcast equi-join on the unordered
   * endpoint pair: one output row per (request entry, matching edge). */
  def getEdges(spark: SparkSession, graph: PropertyGraph,
               pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    def key(a: String, b: String) =
      concat_ws("\u0001", least(col(a), col(b)), greatest(col(a), col(b)))
    val pairsDF = pairs.toDF("na", "nb")
      .select(concat_ws("--", col("na"), col("nb")).as("pair_key"), key("na", "nb").as("k"))
    graph.edges
      .withColumn("k", key("subject", "object"))
      .join(broadcast(pairsDF), Seq("k"))
      .select("pair_key", "edge_id", "subject", "object", "predicate")
  }
}
