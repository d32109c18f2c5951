package graft

import graft.model.{GraftOntology => O}
import graft.operators._
import graft.sources.TpchGraph

/** One-hop edge cases the SQL oracle can't isolate: the edge-count cutoff
 * guard (G22, ref plover.py:2011-2120) and input-side is_set binding. */
class OneHopSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val graph = TpchGraph(spark, sfDir)
  private val ont = O.ontology

  private def openQuery = QueryGraph.oneHop(
    QNode("n0", ids = Seq("NAT:7")),
    QNode("n1"),
    QEdge("n0", "n1"))

  test("maxEdges cutoff: throws above the limit, passes just under") {
    val n = OneHop.answer(spark, graph, ont, openQuery, closure = None,
      expandSubclasses = false).matches.select("edge_id").distinct().count()
    assert(n > 1)
    val e = intercept[IllegalStateException] {
      OneHop.answer(spark, graph, ont, openQuery, closure = None,
        expandSubclasses = false, maxEdges = Some(n - 1))
    }
    assert(e.getMessage.contains("cutoff"))
    // exactly at the limit: no error
    OneHop.answer(spark, graph, ont, openQuery, closure = None,
      expandSubclasses = false, maxEdges = Some(n))
  }

  test("result bindings: input-side is_set collapses the input group") {
    val res = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n_out"),
      QNode("n_in", ids = Seq("NAT:0", "NAT:1")),
      QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
      closure = None, expandSubclasses = false)

    val bothSet = GraphOps.resultBindings(res, inputIsSet = true, outputIsSet = true)
      .collect()
    assert(bothSet.length == 1) // single fully-collapsed result row

    val inSetOnly = GraphOps.resultBindings(res, inputIsSet = true, outputIsSet = false)
    // one result row per distinct output node
    val outs = res.matches.select("output_id").distinct().count()
    assert(inSetOnly.count() == outs)

    val neither = GraphOps.resultBindings(res, inputIsSet = false, outputIsSet = false)
    val pairsN = res.matches.select("input_id", "output_id").distinct().count()
    assert(neither.count() == pairsN)
  }

  test("literal fast path == broadcast-join path, row for row") {
    // The lookup path (ids as literal set probes, one pass per replica)
    // must reproduce the broadcast-join shape EXACTLY (JoinOracle, the
    // test-side reference) — including the two rows an edge contributes
    // when it matches both directions of a symmetric predicate, and the
    // subclass-expansion query_id mapping.
    val closure = SubclassClosure.fromGraph(graph, ont).cache()
    val ix = Some(ClosureIndex.fromClosure(closure))
    // Pick a real adjacency from the data so the doubly-pinned symmetric
    // shape (both endpoints in both id sets -> an edge matches BOTH
    // directions and must contribute two rows) is non-vacuous.
    val adj = graph.edges
      .where(org.apache.spark.sql.functions.col("predicate") === O.AdjacentTo)
      .select("subject", "object").head()
    val (a, b) = (adj.getString(0), adj.getString(1))
    val shapes = Seq(
      // subclass-expanded pinned object (g13 shape)
      QueryGraph.oneHop(QNode("n_out"), QNode("n_in", ids = Seq("REG:3")),
        QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
      // symmetric predicate, open output (g10 shape)
      QueryGraph.oneHop(QNode("n0", ids = Seq(a)), QNode("n1"),
        QEdge("n0", "n1", predicates = Seq(O.AdjacentTo))),
      // doubly-pinned symmetric: both endpoints in both id sets
      QueryGraph.oneHop(
        QNode("n0", ids = Seq(a, b, "NAT:99999")),
        QNode("n1", ids = Seq(a, b)),
        QEdge("n0", "n1", predicates = Seq(O.AdjacentTo))))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("edge_id", "input_id", "input_query_id", "output_id", "output_query_id")
      .collect().map(_.toString).sorted.toSeq
    for (qg <- shapes) {
      val fast = rows(OneHop.answer(spark, graph, ont, qg,
        closure = Some(closure), expandSubclasses = true, index = ix).matches)
      val join = rows(JoinOracle.answer(spark, graph, ont, qg, Some(closure)))
      assert(fast.nonEmpty, s"empty result for $qg")
      assert(fast == join, s"path divergence for $qg")
    }
  }

  test("subclass expansion without a ClosureIndex fails at construction") {
    // One resolver behind answer, answerBatch and singleNode: asking for
    // expansion (a closure and expandSubclasses) without the driver
    // index fails before any plan is built, with one message.
    val closure = Some(SubclassClosure.fromGraph(graph, ont))
    val msgs = Seq(
      intercept[IllegalArgumentException](OneHop.answer(spark, graph, ont, openQuery,
        closure = closure, expandSubclasses = true)),
      intercept[IllegalArgumentException](OneHop.answerBatch(spark, graph, ont,
        Seq("t" -> openQuery), closure = closure, expandSubclasses = true)),
      intercept[IllegalArgumentException](GraphOps.singleNode(spark, graph,
        Seq("NAT:7"), closure))).map(_.getMessage)
    assert(msgs.distinct.size == 1, msgs)
    assert(msgs.head.contains("ClosureIndex"), msgs.head)
    // without expansion no index is needed
    assert(GraphOps.singleNode(spark, graph, Seq("NAT:7"), None).count() == 1)
  }

  test("ClosureIndex past its row bound fails, naming the bound") {
    val closure = SubclassClosure.fromGraph(graph, ont)
    val n = closure.count()
    assert(n > 3)
    val e = intercept[IllegalStateException](ClosureIndex.fromClosure(closure, maxRows = 3))
    assert(e.getMessage.contains("more than 3 rows"), e.getMessage)
    assert(ClosureIndex.fromClosure(closure, maxRows = n.toInt).size == n)
  }

  test("serving session lifecycle: prepared plans survive reuse, closeServing retires") {
    val sfDir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("g03_onehop_fwd")
    val sv1 = Fixture.serving(spark)
    assert(Fixture.serving(spark) eq sv1) // stable across calls
    val df1 = q(spark, sfDir)
    assert(q(spark, sfDir) eq df1) // prepared-plan hit: same instance
    assert(df1.count() > 0)
    // a pipeline key's plan is bound to the caller's batch session
    val p = SparkEntry.queries("p50_curation_pipeline")
    val pdf1 = p(spark, sfDir)
    assert(p(spark, sfDir) eq pdf1)
    val (g1, c1) = (Fixture.graph(sv1, sfDir), Fixture.closure(sv1, sfDir))
    assert(Fixture.graph(sv1, sfDir) eq g1)
    Fixture.closeServing(spark)
    val sv2 = Fixture.serving(spark)
    assert(!(sv2 eq sv1)) // a fresh serving session after retirement
    val df2 = q(spark, sfDir)
    assert(!(df2 eq df1)) // evicted: rebuilt against the new session
    assert(df2.count() == df1.count())
    assert(!(p(spark, sfDir) eq pdf1)) // the batch session's plans go too
    // every artifact of the retired session goes, not just its plans
    assert(!(Fixture.graph(sv1, sfDir) eq g1))
    assert(!(Fixture.closure(sv1, sfDir) eq c1))
    Fixture.closeServing(sv1)
  }

  test("a memo build that throws leaves no entry; the next call rebuilds") {
    var builds = 0
    def probe(): Int = Fixture.memo(spark, "", "throwing-build") {
      builds += 1
      if (builds == 1) throw new IllegalStateException("first build fails")
      builds
    }
    assert(intercept[IllegalStateException](probe()).getMessage == "first build fails")
    assert(probe() == 2) // rebuilt, not the failed cell
    assert(probe() == 2 && builds == 2) // then built once
  }

  test("requires at least one pinned qnode") {
    val e = intercept[IllegalArgumentException] {
      OneHop.answer(spark, graph, ont,
        QueryGraph.oneHop(QNode("a"), QNode("b"), QEdge("a", "b")),
        closure = None, expandSubclasses = false)
    }
    assert(e.getMessage.contains("ids"))
  }

  test("rangeConjunct: superset of every member, bounded outside the window") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val probe = Seq("PART:1", "PART:5", "PART:30", "PART:40")
    val universe = "CUST:3" +: "REG:1" +: (1 to 9999).map("PART:" + _)
    val kept = universe.toDF("id")
      .where(OneHop.rangeConjunct(col("id"), probe))
      .collect().map(_.getString(0)).toSet
    assert(probe.forall(kept), "a member id must never be pruned")
    // coarse by design (see the negative result in the scaladoc): the
    // window is [PART:1, PART:5] in byte order — other prefixes and
    // everything past PART:5 lexicographically stay out
    assert(!kept("CUST:3") && !kept("REG:1") && !kept("PART:6") &&
      !kept("PART:9999") && kept("PART:40") && kept("PART:2222"))
  }

  test("rangeConjunct: bounds in UTF-8 byte order, also outside the BMP") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // UTF-16 puts a surrogate pair (U+1F600) BELOW U+E000; Spark's byte
    // order puts it above. Bounds taken in UTF-16 order would make an
    // empty window here and prune both members.
    val probe = Seq("\uE000x", "\uD83D\uDE00y")
    val universe = probe ++ Seq("a", "\uFFFF", "\uD83D\uDE01")
    val kept = universe.toDF("id")
      .where(OneHop.rangeConjunct(col("id"), probe))
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("\uE000x", "\uFFFF", "\uD83D\uDE00y"), kept)
  }
}
