package graft

import graft.model.{GraftOntology => O}
import graft.operators._
import graft.sources.TpchGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Semantic mirrors of the reference's qualified-predicate and mixin query
 * tests (ref: /root/reference/test/test_kg2c.py:323-343
 * `test_mixins_in_query`, :530-635 the qualified/regular predicate
 * interaction trio). Fixture casting: E-LI edges (ORD contains_item PART)
 * carry qualified_predicate graft:ships.
 */
class OneHopSemanticsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val graph = TpchGraph(spark, sfDir)
  private val ont = O.ontology

  private def run(qg: QueryGraph): Long =
    OneHop.answer(spark, graph, ont, qg, closure = None, expandSubclasses = false)
      .matches.count()

  private lazy val someOrder: String =
    graph.edges.where(col("edge_id").startsWith("E-LI:"))
      .select("subject").head().getString(0)

  test("qualified predicate overrides a wrong regular predicate") {
    // regular predicate located_in is wrong for ORD->PART edges, but the
    // qualifier constraint's qualified predicate drives matching
    val n = run(QueryGraph.oneHop(
      QNode("n0", ids = Seq(someOrder)),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.LocatedIn),
        qualifierConstraints = Seq(
          QualifierConstraint(qualifiedPredicate = Some(O.Ships))))))
    assert(n > 0)
  }

  test("qualified edge matched by its plain regular predicate") {
    val n = run(QueryGraph.oneHop(
      QNode("n0", ids = Seq(someOrder)),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.ContainsItem))))
    assert(n > 0)
  }

  test("qualified edge NOT matched by a wrong regular predicate") {
    val n = run(QueryGraph.oneHop(
      QNode("n0", ids = Seq(someOrder)),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.LocatedIn))))
    assert(n == 0)
  }

  test("mixin predicate in query expands through direct mappings") {
    // connected_to is a mixin whose direct mapping is located_in
    val n = run(QueryGraph.oneHop(
      QNode("n0", ids = Seq("CUST:1")),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.ConnectedTo))))
    assert(n > 0)
    val matched = OneHop.answer(spark, graph, ont, QueryGraph.oneHop(
      QNode("n0", ids = Seq("CUST:1")),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.ConnectedTo))),
      closure = None, expandSubclasses = false)
      .matches.select("predicate").distinct()
      .collect().map(_.getString(0)).toSet
    assert(matched == Set(O.LocatedIn))
  }

  test("mixin category in query matches nodes keeping the mixin") {
    // Tradeable is a mixin category realized by Part
    val n = run(QueryGraph.oneHop(
      QNode("nOrd", ids = Seq(someOrder)),
      QNode("nOut", categories = Seq(O.Tradeable)),
      QEdge("nOrd", "nOut", predicates = Seq(O.ContainsItem))))
    assert(n > 0)
  }

  test("multi-hop query graphs are structurally inexpressible (single-edge model)") {
    // The reference rejects multi-hop query graphs at runtime
    // (test_kg2c.py:202 test_catching_multihop_query); this engine makes
    // them unrepresentable: a QueryGraph holds at most one edge.
    val qg = QueryGraph.oneHop(QNode("a", ids = Seq("NAT:0")), QNode("b"),
      QEdge("a", "b"))
    assert(qg.edge.isDefined && qg.nodes.size == 2)
  }

  test("getEdges three paths agree: isin (small), SetProbe (mid), broadcast join (large)") {
    // >16 pairs flips the membership filter from isin to the
    // driver-built SetProbe; the broadcast equi-join (JoinOracle) is the
    // reference both must reproduce row for row.
    val pairs = (0 to 24).map(i => (s"NAT:$i", s"REG:${i % 5}")) ++
      Seq(("CUST:1", "NAT:7"), ("REG:0", "NAT:3"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val probe = rows(GraphOps.getEdges(spark, graph, pairs)) // 27 pairs -> SetProbe
    val join = rows(JoinOracle.getEdges(spark, graph, pairs))
    val isin = rows(GraphOps.getEdges(spark, graph, pairs.take(4))) // <=16 -> isin
    assert(probe.nonEmpty && probe == join)
    assert(isin.nonEmpty && isin == rows(JoinOracle.getEdges(spark, graph, pairs.take(4))))
    assert(isin.forall(probe.contains), "isin subset must appear in probe results")
  }

  test("getEdges: repeated and reversed pairs keep the join's multiplicity") {
    // (a,b), (b,a), (a,b): every entry gets its own rows, a repeat as
    // many times as it was asked for, exactly like the equi-join.
    val e = graph.edges.where(col("subject") =!= col("object"))
      .select("subject", "object").head()
    val (a, b) = (e.getString(0), e.getString(1))
    val pairs = Seq((a, b), (b, a), (a, b))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = rows(GraphOps.getEdges(spark, graph, pairs))
    assert(got == rows(JoinOracle.getEdges(spark, graph, pairs)))
    val once = GraphOps.getEdges(spark, graph, Seq((a, b))).count()
    assert(once > 0 && got.size == 3 * once)
    assert(got.count(_.startsWith(s"[$b--$a,")) == once)
  }

  test("getEdges: pairs outside the BMP match in Spark's string order") {
    // The unordered-pair key puts the smaller endpoint first. UTF-16
    // order puts U+1F600 (a surrogate pair) below U+E000, Spark's
    // least/greatest (UTF-8 bytes) above it: the driver-side key must
    // follow Spark's order or the pair never meets its edge.
    import spark.implicits._
    val (a, b) = ("X:\uE000", "X:\uD83D\uDE00")
    val edges = Seq(("e1", a, b, "graft:related_to"), ("e2", b, a, "graft:related_to"))
      .toDF("edge_id", "subject", "object", "predicate")
    val g = graft.model.PropertyGraph(graph.nodes, edges)
    val pairs = Seq((a, b), (b, a))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = rows(GraphOps.getEdges(spark, g, pairs))
    assert(got.size == 4, got)
    assert(got == rows(JoinOracle.getEdges(spark, g, pairs)))
  }
}
