package graft

import graft.model.PropertyGraph
import graft.operators.{OneHop, TrapiAttributes, TrapiResponse}
import graft.sources.GraphBuilder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TRAPI envelope assembly: qualifier rendering, sources, binding shape,
 * and the folded single-document envelope (valid JSON, reference shape).
 * Every edge and match frame goes through the builder's
 * `denormalizeEndpoints`, as store-built graphs do: the replies read each
 * node's name, categories and presence off the matched edge. */
class TrapiResponseSpec extends SparkSpec {

  import spark.implicits._

  private val nodes = Seq(
    ("ORD:1", "Order#1", Seq("graft:Order")),
    ("PART:1", "part one", Seq("graft:Part", "graft:Tradeable"))
  ).toDF("id", "name", "categories")

  private val rawEdges = Seq(
    ("E1", "ORD:1", "PART:1", "graft:contains_item",
      Option("graft:ships"), Option("graft:returned"), Option.empty[String],
      "infores:logistics"),
    ("E2", "ORD:1", "PART:1", "graft:contains_item",
      Option.empty[String], Option.empty[String], Option.empty[String],
      "infores:logistics")
  ).toDF("edge_id", "subject", "object", "predicate", "qualified_predicate",
      "object_direction", "object_aspect", "primary_knowledge_source")
    .withColumn("attrs", typedLit(Map("shipdate" -> "1994-01-01")))
    .withColumn("num_attrs", typedLit(Map.empty[String, Double]))
    .withColumn("list_attrs", typedLit(Map.empty[String, Seq[String]]))
  private lazy val edges = GraphBuilder.denormalizeEndpoints(rawEdges, nodes)

  private lazy val matches = edges
    .withColumn("input_id", col("subject"))
    .withColumn("output_id", col("object"))
    .withColumn("input_query_id", lit("ORD:0").cast("string"))
    .withColumn("output_query_id", lit(null).cast("string"))

  private lazy val res = OneHop.Result(matches, "n_in", "n_out")
  private lazy val graph = PropertyGraph(nodes, edges)

  /** `assemble`'s (key, json) rows of one part. */
  private def part(name: String, parts: DataFrame): DataFrame =
    parts.where(col("part") === name).select("key", "json")

  test("edge JSON: qualifiers only when present, sources chain, default attribute shell") {
    val parts = part("edge", TrapiResponse.assemble(res, graph, Map.empty, "infores:graft"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val e1 = parts("E1")
    assert(e1.contains(""""qualifiers":[{"qualifier_type_id":"biolink:qualified_predicate","qualifier_value":"graft:ships"},{"qualifier_type_id":"biolink:object_direction_qualifier","qualifier_value":"graft:returned"}]"""))
    assert(!e1.contains("object_aspect_qualifier")) // null aspect filtered
    assert(e1.contains(""""sources":[{"resource_id":"infores:logistics","resource_role":"primary_knowledge_source"},{"resource_id":"infores:graft","resource_role":"aggregator_knowledge_source","upstream_resource_ids":["infores:logistics"]}]"""))
    // un-mapped property falls back to attribute_type_id = property name
    assert(e1.contains(""""attributes":[{"attribute_type_id":"shipdate","value":"1994-01-01"}]"""))
    val e2 = parts("E2")
    assert(!e2.contains("qualifiers")) // fully unqualified edge: key omitted
  }

  test("per-predicate sources template overrides crafted sources, with default fallback") {
    import graft.operators.TrapiResponse.TrapiSource
    val tmpl = Map(
      "graft:contains_item" -> Seq(
        TrapiSource("infores:special", "primary_knowledge_source")),
      "default" -> Seq(
        TrapiSource("infores:fallback", "primary_knowledge_source",
          Some(Seq("infores:up")))))
    // E1 keeps contains_item (template hit); E2 gets an unmapped predicate
    // (default fallback)
    val withPred = matches.withColumn("predicate",
      when(col("edge_id") === "E1", lit("graft:contains_item"))
        .otherwise(lit("graft:other")))
    val parts = part("edge", TrapiResponse.assemble(OneHop.Result(withPred, "n_in", "n_out"),
        graph, Map.empty, "infores:graft", sourcesTemplate = tmpl))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(parts("E1").contains(
      """"sources":[{"resource_id":"infores:special","resource_role":"primary_knowledge_source"}]"""))
    assert(parts("E2").contains(
      """"sources":[{"resource_id":"infores:fallback","resource_role":"primary_knowledge_source","upstream_resource_ids":["infores:up"]}]"""))
  }

  test("result JSON: query_id on expanded bindings, is_set collapse") {
    val one = part("result", TrapiResponse.assemble(res, graph, Map.empty, "infores:graft"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(one.keySet == Set("ORD:1--PART:1"))
    assert(one("ORD:1--PART:1").contains(
      """"n_in":[{"id":"ORD:1","attributes":[],"query_id":"ORD:0"}]"""))
    assert(one("ORD:1--PART:1").contains(
      """"n_out":[{"id":"PART:1","attributes":[]}]"""))
    assert(one("ORD:1--PART:1").contains(
      """"edge_bindings":{"e1":[{"id":"E1","attributes":[]},{"id":"E2","attributes":[]}]"""))
    val collapsed = part("result", TrapiResponse.assemble(res, graph, Map.empty,
      "infores:graft", inputIsSet = true, outputIsSet = true)).collect()
    assert(collapsed.length == 1 && collapsed(0).getString(0) == "*--*")
  }

  test("slim: positional tuples with first category, query-id list, legacy edge shape") {
    val rows = TrapiResponse.slim(res, graph)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    // node tuple: name, FIRST stored category (not sorted, not all), query ids
    assert(rows(("slim_node:n_in", "ORD:1")) == """["Order#1","graft:Order",["ORD:0"]]""")
    // un-expanded node: empty query-id list; Part keeps its first category
    assert(rows(("slim_node:n_out", "PART:1")) == """["part one","graft:Part",[]]""")
    // edge tuple: 8 strings, absent qualifiers as "", literal trailing "False"
    assert(rows(("slim_edge:e1", "E1")) ==
      """["ORD:1","PART:1","graft:contains_item","infores:logistics","graft:ships","graft:returned","","False"]""")
    assert(rows(("slim_edge:e1", "E2")) ==
      """["ORD:1","PART:1","graft:contains_item","infores:logistics","","","","False"]""")
    // ids-only rows carry null json, one per distinct id
    assert(rows(("ids_node:n_in", "ORD:1")) == null)
    assert(rows(("ids_node:n_out", "PART:1")) == null)
    assert(rows(("ids_edge:e1", "E1")) == null && rows(("ids_edge:e1", "E2")) == null)
    assert(rows.size == 8)
  }

  /** Shared, symmetric, expanded, missing and empty answers: one node
   * table and one match table that `slim` and `assemble` are pinned on.
   * NAT:2 is in the node table with a null name. */
  private lazy val kgNodes = Seq(
    ("ORD:1", "Order#1", Seq("graft:Order"), Seq.empty[String]),
    ("PART:1", "part one", Seq("graft:Part", "graft:Tradeable"), Seq("SKU:9")),
    ("NAT:1", "nation one", Seq("graft:Nation", "graft:Place"), Seq("GEO:1", "ISO:N1")),
    ("NAT:2", null, Seq("graft:Nation", "graft:Place"), Seq("GEO:2"))
  ).toDF("id", "name", "categories", "equiv_ids")
  private lazy val kg = PropertyGraph(kgNodes,
    GraphBuilder.denormalizeEndpoints(rawEdges, kgNodes))
  /** Match rows (edge, subject, object, predicate, input, output, input
   * qid, output qid) with the edge columns and their endpoints'
   * denormalized columns against `kgNodes`. */
  private def matchFrame(rows: (String, String, String, String, String, String,
                                Option[String], Option[String])*): DataFrame =
    GraphBuilder.denormalizeEndpoints(rows.toDF("edge_id", "subject", "object",
        "predicate", "input_id", "output_id", "input_query_id", "output_query_id")
      .withColumn("qualified_predicate", lit(null).cast("string"))
      .withColumn("object_direction", lit(null).cast("string"))
      .withColumn("object_aspect", lit(null).cast("string"))
      .withColumn("primary_knowledge_source", lit("infores:x"))
      .withColumn("attrs", when(col("edge_id") === "E11",
        typedLit(Map("since" -> "1994"))))
      .withColumn("num_attrs", typedLit(Map("weight" -> 0.5)))
      .withColumn("list_attrs", when(col("edge_id") =!= "E12",
        typedLit(Map("via" -> Seq("a", "b"))))), kgNodes)
  private lazy val m = matchFrame(
    // S1 is symmetric and matched in both directions, so NAT:1 and
    // PART:1 are each both an input and an output node
    ("S1", "NAT:1", "PART:1", "graft:adjacent_to", "NAT:1", "PART:1",
      Option("REG:0"), Option.empty[String]),
    ("S1", "NAT:1", "PART:1", "graft:adjacent_to", "PART:1", "NAT:1",
      Option.empty[String], Option.empty[String]),
    // NAT:1 reached by subclass expansion of a second query id; ORD:1
    // reached by expansion on the output side
    ("E11", "NAT:1", "ORD:1", "graft:located_in", "NAT:1", "ORD:1",
      Option("REG:1"), Option("ORD:0")),
    // a repeated query id; GHOST:1 is absent from the node table
    ("E12", "NAT:1", "GHOST:1", "graft:located_in", "NAT:1", "GHOST:1",
      Option("REG:0"), Option.empty[String]))

  test("slim: row for row over shared, symmetric, expanded, missing and empty answers") {
    def rows(r: OneHop.Result) = TrapiResponse.slim(r, kg).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSeq.sorted
    def edge(s: String, o: String, p: String) =
      Some(s"""["$s","$o","$p","infores:x","","","","False"]""")
    assert(rows(OneHop.Result(m, "n_in", "n_out")) == Seq(
      ("ids_edge:e1", "E11", None),
      ("ids_edge:e1", "E12", None),
      ("ids_edge:e1", "S1", None),
      ("ids_node:n_in", "NAT:1", None),
      ("ids_node:n_in", "PART:1", None),
      ("ids_node:n_out", "GHOST:1", None),
      ("ids_node:n_out", "NAT:1", None),
      ("ids_node:n_out", "ORD:1", None),
      ("ids_node:n_out", "PART:1", None),
      ("slim_edge:e1", "E11", edge("NAT:1", "ORD:1", "graft:located_in")),
      ("slim_edge:e1", "E12", edge("NAT:1", "GHOST:1", "graft:located_in")),
      ("slim_edge:e1", "S1", edge("NAT:1", "PART:1", "graft:adjacent_to")),
      ("slim_node:n_in", "NAT:1", Some("""["nation one","graft:Nation",["REG:0","REG:1"]]""")),
      ("slim_node:n_in", "PART:1", Some("""["part one","graft:Part",[]]""")),
      ("slim_node:n_out", "NAT:1", Some("""["nation one","graft:Nation",[]]""")),
      ("slim_node:n_out", "ORD:1", Some("""["Order#1","graft:Order",["ORD:0"]]""")),
      ("slim_node:n_out", "PART:1", Some("""["part one","graft:Part",[]]"""))))
    // an empty answer renders no rows at all
    assert(rows(OneHop.Result(m.where(lit(false)), "n_in", "n_out")).isEmpty)
  }

  test("assemble: row for row over shared, symmetric, expanded, missing and empty answers") {
    val shells = Map("since" -> TrapiAttributes.AttributeShell("biolink:since",
      Some("xsd:string"), Some("{primary_knowledge_source}"), Some("http://x/{value}")))
    def rows(r: OneHop.Result, inSet: Boolean, outSet: Boolean) =
      TrapiResponse.assemble(r, kg, shells, "infores:graft", edgeKey = "e9",
        inputIsSet = inSet, outputIsSet = outSet,
        nodeAttrColumns = Seq("equiv_ids")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted
    val src = """"sources":[{"resource_id":"infores:x","resource_role":"primary_knowledge_source"},""" +
      """{"resource_id":"infores:graft","resource_role":"aggregator_knowledge_source","upstream_resource_ids":["infores:x"]}]"""
    val weight = """{"attribute_type_id":"weight","value":"0.5"}"""
    val via = """{"attribute_type_id":"via","value":"a,b"}"""
    def edge(s: String, o: String, p: String, attrs: String*) =
      s"""{"subject":"$s","object":"$o","predicate":"$p",$src,"attributes":[${attrs.mkString(",")}]}"""
    def bind(id: String, qid: String = null) =
      s"""{"id":"$id","attributes":[]""" + Option(qid).fold("")(q => s""","query_id":"$q"""") + "}"
    def result(in: Seq[String], out: Seq[String], edgeIds: String*) =
      s"""{"node_bindings":{"n_in":[${in.mkString(",")}],"n_out":[${out.mkString(",")}]},""" +
        s""""analyses":[{"edge_bindings":{"e9":[${edgeIds.map(bind(_)).mkString(",")}]},""" +
        """"resource_id":"infores:graft"}],"resource_id":"infores:graft"}"""
    val kgParts = Seq(
      ("edge", "E11", edge("NAT:1", "ORD:1", "graft:located_in",
        """{"attribute_type_id":"biolink:since","value":"1994","value_type_id":"xsd:string",""" +
          """"attribute_source":"infores:x","value_url":"http://x/1994"}""", via, weight)),
      ("edge", "E12", edge("NAT:1", "GHOST:1", "graft:located_in", weight)),
      ("edge", "S1", edge("NAT:1", "PART:1", "graft:adjacent_to", via, weight)),
      // sorted categories, equiv_ids as an attribute, none when empty;
      // GHOST:1 is absent from the node table and gets no node part
      ("node", "NAT:1", """{"name":"nation one","categories":["graft:Nation","graft:Place"],""" +
        """"attributes":[{"attribute_type_id":"equiv_ids","value":"GEO:1,ISO:N1"}]}"""),
      ("node", "ORD:1", """{"name":"Order#1","categories":["graft:Order"],"attributes":[]}"""),
      ("node", "PART:1", """{"name":"part one","categories":["graft:Part","graft:Tradeable"],""" +
        """"attributes":[{"attribute_type_id":"equiv_ids","value":"SKU:9"}]}"""))
    val res = OneHop.Result(m, "n_in", "n_out")
    assert(rows(res, false, false) == kgParts ++ Seq(
      ("result", "NAT:1--GHOST:1", result(Seq(bind("NAT:1", "REG:0")), Seq(bind("GHOST:1")), "E12")),
      ("result", "NAT:1--ORD:1",
        result(Seq(bind("NAT:1", "REG:1")), Seq(bind("ORD:1", "ORD:0")), "E11")),
      ("result", "NAT:1--PART:1", result(Seq(bind("NAT:1", "REG:0")), Seq(bind("PART:1")), "S1")),
      ("result", "PART:1--NAT:1", result(Seq(bind("PART:1")), Seq(bind("NAT:1")), "S1"))))
    // is_set on both sides: one "*--*" group holding every binding
    assert(rows(res, true, true) == kgParts :+ (("result", "*--*", result(
      Seq(bind("NAT:1", "REG:0"), bind("NAT:1", "REG:1"), bind("PART:1")),
      Seq(bind("GHOST:1"), bind("NAT:1"), bind("ORD:1", "ORD:0"), bind("PART:1")),
      "E11", "E12", "S1"))))
    // without nodeAttrColumns every node renders an empty attribute list
    assert(part("node", TrapiResponse.assemble(res, kg, shells, "infores:graft"))
      .select("json").as[String].collect().sorted.toSeq == Seq(
      """{"name":"Order#1","categories":["graft:Order"],"attributes":[]}""",
      """{"name":"nation one","categories":["graft:Nation","graft:Place"],"attributes":[]}""",
      """{"name":"part one","categories":["graft:Part","graft:Tradeable"],"attributes":[]}"""))
    // an empty answer renders no rows at all
    assert(rows(OneHop.Result(m.where(lit(false)), "n_in", "n_out"), false, false).isEmpty)
  }

  test("slim and assemble: a present node with a null name, and a self-loop") {
    // L1 is a self-loop on NAT:2, which is in the node table with a null
    // name; E21 reaches NAT:2 as the input on its object side
    val r = OneHop.Result(matchFrame(
      ("L1", "NAT:2", "NAT:2", "graft:adjacent_to", "NAT:2", "NAT:2",
        Option("REG:0"), Option.empty[String]),
      ("E21", "PART:1", "NAT:2", "graft:located_in", "NAT:2", "PART:1",
        Option("REG:1"), Option.empty[String])), "n_in", "n_out")
    def edge(s: String, o: String, p: String) =
      Some(s"""["$s","$o","$p","infores:x","","","","False"]""")
    // a null name nulls the node tuple, but the node still gets its row
    assert(TrapiResponse.slim(r, kg).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSeq.sorted == Seq(
      ("ids_edge:e1", "E21", None),
      ("ids_edge:e1", "L1", None),
      ("ids_node:n_in", "NAT:2", None),
      ("ids_node:n_out", "NAT:2", None),
      ("ids_node:n_out", "PART:1", None),
      ("slim_edge:e1", "E21", edge("PART:1", "NAT:2", "graft:located_in")),
      ("slim_edge:e1", "L1", edge("NAT:2", "NAT:2", "graft:adjacent_to")),
      ("slim_node:n_in", "NAT:2", None),
      ("slim_node:n_out", "NAT:2", None),
      ("slim_node:n_out", "PART:1", Some("""["part one","graft:Part",[]]"""))))
    def rows(attrs: Seq[String]) =
      TrapiResponse.assemble(r, kg, Map.empty, "infores:graft", nodeAttrColumns = attrs)
        .where(col("part") =!= "edge").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted
    def result(in: String, out: String, edgeId: String) =
      s"""{"node_bindings":{"n_in":[$in],"n_out":[$out]},""" +
        s""""analyses":[{"edge_bindings":{"e1":[{"id":"$edgeId","attributes":[]}]},""" +
        """"resource_id":"infores:graft"}],"resource_id":"infores:graft"}"""
    val results = Seq(
      ("result", "NAT:2--NAT:2", result("""{"id":"NAT:2","attributes":[],"query_id":"REG:0"}""",
        """{"id":"NAT:2","attributes":[]}""", "L1")),
      ("result", "NAT:2--PART:1", result("""{"id":"NAT:2","attributes":[],"query_id":"REG:1"}""",
        """{"id":"PART:1","attributes":[]}""", "E21")))
    // a null name drops the key from the node JSON
    assert(rows(Nil) == Seq(
      ("node", "NAT:2", """{"categories":["graft:Nation","graft:Place"],"attributes":[]}"""),
      ("node", "PART:1",
        """{"name":"part one","categories":["graft:Part","graft:Tradeable"],"attributes":[]}""")) ++
      results)
    assert(rows(Seq("equiv_ids")) == Seq(
      ("node", "NAT:2", """{"categories":["graft:Nation","graft:Place"],""" +
        """"attributes":[{"attribute_type_id":"equiv_ids","value":"GEO:2"}]}"""),
      ("node", "PART:1", """{"name":"part one","categories":["graft:Part","graft:Tradeable"],""" +
        """"attributes":[{"attribute_type_id":"equiv_ids","value":"SKU:9"}]}""")) ++
      results)
  }

  test("envelope folds parts into one valid reference-shaped document") {
    val parts = TrapiResponse.assemble(res, graph, Map.empty, "infores:graft")
    // non-empty QG: Spark's JSON schema inference drops empty-object fields
    val doc = TrapiResponse.envelope(parts,
      """{"nodes":{"n_in":{"ids":["ORD:0"]},"n_out":{}},"edges":{"e1":{"subject":"n_in","object":"n_out"}}}""")
      .collect()(0).getString(0)
    val parsed = spark.read.json(Seq(doc).toDS)
    assert(!parsed.columns.contains("_corrupt_record"))
    val msg = parsed.select("message.*").columns.toSet
    assert(msg == Set("query_graph", "knowledge_graph", "results"))
    val kgEdges = parsed.select("message.knowledge_graph.edges.*").columns.toSet
    assert(kgEdges == Set("E1", "E2"))
    assert(parsed.select(size(col("message.results"))).collect()(0).getInt(0) == 1)
  }
}
