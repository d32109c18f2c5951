package graft

import org.apache.spark.sql.functions.col
import graft.model.{GraftOntology => O, PropertyGraph}
import graft.operators._
import graft.serving.{HostedGraph, MultiGraph}
import graft.sources.TpchGraph

/** Multi-graph serving session (ref: main.py:50-69 name->engine map,
 * :210-218 routed + bare /query, min-name default, 404 on unknown).
 * Pins: routing + default fallback, per-graph result independence,
 * per-graph prepared-plan isolation, and release isolation (retiring
 * one graph never cold-starts or corrupts a co-hosted one). */
class MultiGraphSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val ont = O.ontology

  private def freshSession(): (MultiGraph, PropertyGraph) = {
    val g = TpchGraph(spark, sfDir)
    val closure = Some(SubclassClosure.fromGraph(g, ont))
    val index = Some(ClosureIndex.fromClosure(closure.get))
    val mg = new MultiGraph(spark, ont)
    mg.register("alpha", HostedGraph(g, closure, index))
    val betaEdges = g.edges.where(col("predicate") === O.LocatedIn).cache()
    mg.register("beta", HostedGraph(
      PropertyGraph(g.nodes, betaEdges), closure, index,
      owned = Seq(betaEdges)))
    (mg, g)
  }

  private val probe = QueryGraph.oneHop(
    QNode("n0", ids = Seq("NAT:7")), QNode("n1"), QEdge("n0", "n1"))

  test("routing: default is the lexicographically smallest name; unknown 404s") {
    val (mg, _) = freshSession()
    assert(mg.names == Seq("alpha", "beta"))
    assert(mg.defaultName == "alpha")
    assert(mg.resolve(None)._1 == "alpha")
    assert(mg.resolve(Some("beta"))._1 == "beta")
    val err = intercept[NoSuchElementException](mg.resolve(Some("gamma")))
    assert(err.getMessage.contains("gamma"))
    mg.releaseAll()
  }

  test("co-hosted graphs answer the same probe independently") {
    val (mg, g) = freshSession()
    val viaDefault = mg.answer("probe", probe).collect()
    val viaBeta = mg.answer("probe", probe, Some("beta")).collect()
    // default-routed == explicit alpha == single-graph OneHop
    val closure = SubclassClosure.fromGraph(g, ont)
    val solo = OneHop.answer(spark, g, ont, probe,
      closure = Some(closure), expandSubclasses = true,
      index = Some(ClosureIndex.fromClosure(closure))).matches.collect()
    assert(viaDefault.map(_.getAs[String]("edge_id")).sorted.toSeq ==
      solo.map(_.getAs[String]("edge_id")).sorted.toSeq)
    // beta is the located_in-only slice: strictly fewer matches, and
    // every beta edge id appears in alpha's result
    val alphaIds = viaDefault.map(_.getAs[String]("edge_id")).toSet
    val betaIds = viaBeta.map(_.getAs[String]("edge_id")).toSet
    assert(betaIds.nonEmpty && betaIds.size < alphaIds.size)
    assert(betaIds.subsetOf(alphaIds))
    mg.releaseAll()
  }

  test("prepared plans are cached per (graph, key) and never alias") {
    val (mg, _) = freshSession()
    val a1 = mg.answer("k", probe, Some("alpha"))
    val a2 = mg.answer("k", probe, Some("alpha"))
    val b1 = mg.answer("k", probe, Some("beta"))
    assert(a1 eq a2, "repeat probe must reuse the prepared plan")
    assert(!(a1 eq b1), "same key on another graph must NOT alias")
    // re-registering a graph drops ONLY its prepared plans
    val g = TpchGraph(spark, sfDir)
    mg.register("beta", HostedGraph(g))
    val b2 = mg.answer("k", probe, Some("beta"))
    assert(!(b1 eq b2), "stale plan must not serve a re-registered graph")
    assert(mg.answer("k", probe, Some("alpha")) eq a1,
      "co-hosted graph's plans survive a neighbor's re-registration")
    mg.releaseAll()
  }

  test("re-registration landing MID-BUILD can't install a stale plan") {
    // deterministic replay of the race: the build resolved the OLD
    // hosted entry, the replacement (and its plan purge) lands while
    // the build is still in flight, then the build's putIfAbsent
    // completes. Version fencing keys the stale insert under the dead
    // registration, so the NEXT probe rebuilds against the new graph
    // instead of serving the stale plan forever.
    val (mg, g) = freshSession()
    val slice = g.edges.where(col("predicate") === O.LocatedIn)
    val stale = mg.preparedPlan(Some("beta"), "race") { (_, hosted) =>
      mg.register("beta", HostedGraph(PropertyGraph(g.nodes, g.edges)))
      hosted.graph.edges // plan built against the superseded slice
    }
    val fresh = mg.preparedPlan(Some("beta"), "race") { (_, hosted) =>
      hosted.graph.edges
    }
    assert(!(fresh eq stale), "stale mid-build plan must not serve")
    assert(fresh.count() == g.edges.count() &&
      stale.count() == slice.count())
    // and the fresh plan IS now cached for the new registration
    assert(mg.preparedPlan(Some("beta"), "race")((_, h) => h.graph.edges)
      eq fresh)
    mg.releaseAll()
  }

  test("answerBatch routes per graph and caches per (graph, key)") {
    val (mg, g) = freshSession()
    val probes = Seq(
      "t1" -> probe,
      "t2" -> QueryGraph.oneHop(
        QNode("n0", ids = Seq("NAT:3")), QNode("n1"),
        QEdge("n0", "n1", predicates = Seq(O.PartOf))))
    val a = mg.answerBatch("b", probes)
    val b = mg.answerBatch("b", probes, Some("beta"))
    // per-tag rows match running the same batch directly on each graph
    val direct = OneHop.answerBatch(spark, g, O.ontology, probes,
      closure = Some(SubclassClosure.fromGraph(g, O.ontology)),
      index = Some(ClosureIndex.fromClosure(
        SubclassClosure.fromGraph(g, O.ontology))))
    assert(a.select("tag", "edge_id").collect().map(_.toSeq.toString).sorted.toSeq ==
      direct.select("tag", "edge_id").collect().map(_.toSeq.toString).sorted.toSeq)
    // beta (located_in slice) answers t1's open probe but has no
    // part_of edges for t2 — the batch genuinely ran on the slice
    val byTag = b.collect().groupBy(_.getAs[String]("tag"))
    assert(byTag.contains("t1") && !byTag.contains("t2"))
    // prepared per (graph, key): repeat aliases, cross-graph never
    assert(mg.answerBatch("b", probes) eq a)
    assert(!(mg.answerBatch("b", probes, Some("beta")) eq a))
    mg.releaseAll()
  }

  test("N=6 co-hosting: per-graph isolation, drained release footprint") {
    val g = TpchGraph(spark, sfDir)
    val mg = new MultiGraph(spark, O.ontology)
    val preds = Seq(O.LocatedIn, O.PartOf, O.SuppliedBy, O.AdjacentTo)
    // six graphs: g0 = the full graph, g1..g5 = owned single-predicate
    // slices (g5 reuses preds(0) so two DIFFERENT graphs hold EQUAL
    // row sets — isolation must come from routing, not content)
    val slices = (1 to 5).map { i =>
      g.edges.where(col("predicate") === preds((i - 1) % preds.length)).cache()
    }
    mg.register("g0", HostedGraph(g))
    slices.zipWithIndex.foreach { case (e, i) =>
      mg.register(s"g${i + 1}",
        HostedGraph(PropertyGraph(g.nodes, e), owned = Seq(e)))
    }
    assert(mg.names == (0 to 5).map("g" + _) && mg.defaultName == "g0")
    // same probe key against all six: six DISTINCT prepared plans,
    // each answering from its own slice
    val plans = (0 to 5).map(i => mg.answer("k", probe, Some(s"g$i")))
    for (i <- 0 to 5; j <- 0 to 5 if i < j)
      assert(!(plans(i) eq plans(j)), s"g$i/g$j plans alias")
    val counts = plans.map(_.count())
    assert(counts(1) == counts(5), "equal-content slices must agree")
    assert(counts.head >= counts.tail.max, "full graph answers the most")
    (0 to 5).foreach(i => assert(mg.preparedCount(s"g$i") == 1))
    // release g3: its plan entries drain to zero and its owned cache
    // drops; every neighbor's plan still aliases (warm) and re-counts
    // identically
    val released = slices(2)
    val None_ = org.apache.spark.storage.StorageLevel.NONE
    assert(released.storageLevel != None_)
    mg.release("g3")
    assert(mg.preparedCount("g3") == 0, "released plans must drain")
    assert(released.storageLevel == None_, "owned cache must drop on release")
    assert(mg.names == Seq("g0", "g1", "g2", "g4", "g5"))
    Seq(0, 1, 2, 4, 5).foreach { i =>
      assert(mg.answer("k", probe, Some(s"g$i")) eq plans(i),
        s"g$i cold-started after a neighbor's release")
      assert(plans(i).count() == counts(i))
    }
    mg.releaseAll()
    assert((0 to 5).forall(i => mg.preparedCount(s"g$i") == 0))
  }

  test("release retires one graph without cold-starting its neighbor") {
    val (mg, _) = freshSession()
    val beta = mg.answer("probe", probe, Some("beta"))
    beta.count() // materialize beta's owned caches
    val alpha = mg.answer("probe", probe, Some("alpha"))
    val alphaRows = alpha.count()
    mg.release("beta")
    assert(mg.names == Seq("alpha"))
    intercept[NoSuchElementException](mg.answer("probe", probe, Some("beta")))
    // alpha keeps serving from its untouched prepared plan
    assert(mg.answer("probe", probe, Some("alpha")) eq alpha)
    assert(mg.answer("probe", probe).count() == alphaRows)
    mg.releaseAll()
  }
}
