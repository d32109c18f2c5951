package graft

import graft.model.{GraftOntology => O}
import graft.operators._
import graft.sources.TpchGraph

/** Batched lookup serving (OneHop.answerBatch): per-tag results must be
 * row-identical to running each probe through OneHop.answer — the batch
 * is an AMORTIZATION of the per-job floor, never a semantic variant. */
class BatchLookupSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val graph = TpchGraph(spark, sfDir)
  private val ont = O.ontology
  private lazy val closure = SubclassClosure.fromGraph(graph, ont).cache()
  private lazy val ix = Some(ClosureIndex.fromClosure(closure))

  private def probes: Seq[(String, QueryGraph)] = {
    val adj = graph.edges
      .where(org.apache.spark.sql.functions.col("predicate") === O.AdjacentTo)
      .select("subject", "object").head()
    val (a, b) = (adj.getString(0), adj.getString(1))
    Seq(
      // forward pinned + output category filter (g03 shape)
      "fwd" -> QueryGraph.oneHop(
        QNode("n0", ids = Seq("CUST:1", "CUST:2", "CUST:7")),
        QNode("n1", categories = Seq(O.Nation)),
        QEdge("n0", "n1", predicates = Seq(O.LocatedIn))),
      // reverse pinned + output category filter (g04 shape)
      "rev" -> QueryGraph.oneHop(
        QNode("n_out", categories = Seq(O.Customer)),
        QNode("n_in", ids = Seq("NAT:1", "NAT:3")),
        QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
      // doubly pinned (g06 shape; categories must be IGNORED here)
      "pin" -> QueryGraph.oneHop(
        QNode("n0", ids = (0 to 11).map("NAT:" + _)),
        QNode("n1", ids = Seq("REG:1", "REG:2"), categories = Seq(O.Customer)),
        QEdge("n0", "n1", predicates = Seq(O.PartOf))),
      // symmetric, both directions from a REAL adjacency (g10 shape) —
      // an edge matching both directions must contribute two rows
      "sym" -> QueryGraph.oneHop(
        QNode("n0", ids = Seq(a, b)),
        QNode("n1"),
        QEdge("n0", "n1", predicates = Seq(O.AdjacentTo))),
      // subclass-expanded pinned object with query-id mapping (g13 shape)
      "exp" -> QueryGraph.oneHop(
        QNode("n_out"),
        QNode("n_in", ids = Seq("REG:3")),
        QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
      // predicate-hierarchy expansion, open output (g09 shape)
      "hier" -> QueryGraph.oneHop(
        QNode("n0", ids = (1 to 5).map("PART:" + _)),
        QNode("n1"),
        QEdge("n0", "n1", predicates = Seq(O.Transacts))),
      // qualified conglomerate probe (g15 shape) — per-tag gated conjunct
      "qual" -> QueryGraph.oneHop(
        QNode("nOrd"),
        QNode("nPart", ids = (1 to 40).map("PART:" + _)),
        QEdge("nOrd", "nPart", qualifierConstraints = Seq(
          QualifierConstraint(qualifiedPredicate = Some(O.Ships),
            objectDirection = Some(O.Flagged))))),
      // attribute-constrained probe (g16 shape) — gated post-match filter
      "attr" -> QueryGraph.oneHop(
        QNode("nOut", categories = Seq(O.Customer)),
        QNode("nIn", ids = (0 to 9).map("NAT:" + _)),
        QEdge("nOut", "nIn", predicates = Seq(O.LocatedIn),
          attributeConstraints = Seq(
            AttributeConstraint("acctbal", ">", numValues = Seq(1000.0)),
            AttributeConstraint("mktsegment", "==",
              strValues = Seq("MACHINERY"), negated = true)))))
  }

  private val bindingCols =
    Seq("edge_id", "input_id", "input_query_id", "output_id", "output_query_id")

  test("batch == per-probe answer(), row for row, every shape") {
    val batch = OneHop.answerBatch(spark, graph, ont, probes,
      closure = Some(closure), index = ix)
      .select(("tag" +: bindingCols).map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.toSeq.drop(1).toString).sorted.toSeq }
    for ((tag, qg) <- probes) {
      val single = OneHop.answer(spark, graph, ont, qg,
        closure = Some(closure), expandSubclasses = true, index = ix)
        .matches
        .select(bindingCols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.toString).sorted.toSeq
      assert(single.nonEmpty, s"vacuous probe '$tag'")
      assert(batch.getOrElse(tag, Nil) == single, s"batch/single divergence on '$tag'")
    }
  }

  test("one job answers the whole batch") {
    val df = OneHop.answerBatch(spark, graph, ont, probes,
      closure = Some(closure), index = ix)
    val (_, run) = JobCount.during(spark)(df.count())
    assert(run.jobs <= 2, s"batch ran ${run.jobs} jobs") // count may AQE-split once
  }

  test("qualified direction folding: symmetric-free ontology drops the dead gate") {
    import org.apache.spark.sql.functions.col
    // Under an ontology with NO symmetric predicates, a qualified
    // probe's bidirectionality is driver-decidable (staticBidir =
    // Some(false)): the non-input direction can never match, so its ids
    // stay out of that direction's fan-out map and the probe costs ONE
    // plan gate instead of two — with rows still identical to answer().
    val symFree = ont.copy(symmetric = Set.empty)
    val qualProbe = probes.filter(_._1 == "qual")
    val folded = OneHop.answerBatch(spark, graph, symFree, qualProbe,
      closure = Some(closure), index = ix)
    val single = OneHop.answer(spark, graph, symFree, qualProbe.head._2,
      closure = Some(closure), expandSubclasses = true, index = ix).matches
    val fRows = folded.select(bindingCols.map(col): _*)
      .collect().map(_.toSeq.toString).sorted.toSeq
    val sRows = single.select(bindingCols.map(col): _*)
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(fRows.nonEmpty && fRows == sRows)
    // gate census: the probed tag rides the plan once per LIVE direction
    // (fan-out map + gated conjunct); folding must remove the dead one
    def tagHits(df: org.apache.spark.sql.DataFrame): Int =
      "qual".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    val both = OneHop.answerBatch(spark, graph, ont, qualProbe,
      closure = Some(closure), index = ix)
    assert(tagHits(folded) < tagHits(both),
      s"folded plan should carry fewer '${qualProbe.head._1}' gates " +
        s"(${tagHits(folded)} vs ${tagHits(both)})")
  }

  test("guards: duplicate tags; a batch past 65,536 ids answers") {
    val qg = probes.head._2
    intercept[IllegalArgumentException] {
      OneHop.answerBatch(spark, graph, ont, Seq("a" -> qg, "a" -> qg))
    }
    // no batch-total id cap: 70,000 pinned ids across two probes answer
    // in one batch, each tag row-identical to its single answer()
    def qgOf(ids: Range) = QueryGraph.oneHop(
      QNode("n0", ids = ids.map("CUST:" + _)), QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.LocatedIn)))
    val big = Seq("b1" -> qgOf(1 to 40000), "b2" -> qgOf(40001 to 70000))
    val byTag = OneHop.answerBatch(spark, graph, ont, big)
      .select("tag", "edge_id").collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getString(1)).sorted.toSeq }
    for ((tag, q) <- big) {
      val single = OneHop.answer(spark, graph, ont, q, expandSubclasses = false)
        .matches.select("edge_id").collect().map(_.getString(0)).sorted.toSeq
      assert(byTag.getOrElse(tag, Nil) == single, tag)
    }
    assert(byTag("b1").nonEmpty)
  }
}
