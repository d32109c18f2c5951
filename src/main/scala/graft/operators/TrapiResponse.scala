package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.PropertyGraph
import graft.operators.TrapiAttributes.AttributeShell

/**
 * TRAPI response-envelope assembly — the Spark-native twin of the
 * reference's answer-to-TRAPI transformation
 * (ref: /root/reference/app/app/plover.py:2121-2186
 * `_create_response_from_answer_ids`, :2187-2254
 * `_convert_node/edge_to_trapi_format`, :2322-2410 `_get_trapi_results`,
 * :2408-2416 `_create_trapi_node_binding`).
 *
 * The reference assembles one nested Python dict per response on a single
 * process. At 100 TB answer scale that single-document gather is the
 * bottleneck, so assembly here is COLUMNAR: one row per envelope part —
 *   ("node",   node_id,            node JSON)
 *   ("edge",   edge_id,            edge JSON)
 *   ("result", in_key--out_key,    result JSON)
 * — each JSON built with `to_json(struct(...))` inside codegen, no driver
 * loop, in the one plan shape (`fanOut`) that `slim` shares.
 * A serving layer streams the parts straight into the HTTP response;
 * `envelope` folds them into the reference's single nested document when a
 * client genuinely needs one (a one-row aggregation — the only inherently
 * serial step, deferred to the very end).
 *
 * Faithful details: sources = primary + aggregator-with-upstream
 * (plover.py:2208-2219); qualifiers emitted only when present
 * (:2234-2253); node bindings carry `query_id` only for
 * subclass-expanded answers, with id/attributes/query_id key order
 * (:2408-2416); is_set collapses a side's binding group to "*"
 * (:2333-2355); attributes render through the same config shell map as
 * TrapiAttributes (null fields dropped by to_json, matching the
 * reference's sparse dicts).
 */
object TrapiResponse {

  /** Typed empty list for "attributes must be an empty list if none". */
  private val noAttrs = typedLit(Seq.empty[String])
  private val noStr = lit(null).cast("string")

  /** One entry of a per-predicate sources template
   * (ref: plover.py:1773-1789 `_load_edge_sources`, :2200-2207 template
   * path — field names match the TRAPI JSON keys). */
  final case class TrapiSource(resource_id: String, resource_role: String,
                               upstream_resource_ids: Option[Seq[String]] = None)

  /** Full columnar envelope: one row per part, ("part", "key", "json").
   * Rides `fanOut`: each match row becomes its node, edge and result rows,
   * and the one groupBy collects each result group's sorted binding
   * structs and edge ids; only `nodeAttrColumns` read the node table.
   * An is_set side collapses to the key "*". */
  def assemble(res: OneHop.Result, graph: PropertyGraph,
               shells: Map[String, AttributeShell], kpInforesCurie: String,
               edgeKey: String = "e1", inputIsSet: Boolean = false,
               outputIsSet: Boolean = false,
               nodeAttrColumns: Seq[String] = Seq.empty,
               sourcesTemplate: Map[String, Seq[TrapiSource]] = Map.empty): DataFrame = {
    val noBinding = lit(null).cast("struct<id:string,query_id:string>")
    val noNode = lit(null).cast("struct<name:string,categories:array<string>>")
    def row(part: String, key: Column, json: Column = noStr, in: Column = noBinding,
            out: Column = noBinding, edge: Column = noStr, node: Column = noNode): Column =
      tag(part, key, json.as("json"), in.as("in"), out.as("out"), edge.as("edge"),
        node.as("node"))
    def nodeRow(id: String) = known(id, row("node", col(id), node = struct(
      OneHop.endpoint(id, "name").as("name"),
      OneHop.endpoint(id, "categories").as("categories"))))
    def side(isSet: Boolean, id: String) = if (isSet) lit("*") else col(id)
    def binding(id: String, qid: String) = struct(col(id).as("id"), col(qid).as("query_id"))
    val parts = fanOut(res.matches, Seq(
        nodeRow("input_id"),
        nodeRow("output_id"),
        row("edge", col("edge_id"), json = edgeJson(shells, kpInforesCurie, sourcesTemplate)),
        row("result", concat_ws("--", side(inputIsSet, "input_id"), side(outputIsSet, "output_id")),
          in = binding("input_id", "input_query_id"),
          out = binding("output_id", "output_query_id"), edge = col("edge_id"))),
      Seq(max(col("json")).as("json"),
        max(col("node")).as("node"),
        array_sort(collect_set(col("in"))).as("in_nodes"),
        array_sort(collect_set(col("out"))).as("out_nodes"),
        array_sort(collect_set(col("edge"))).as("edge_ids")))
    withNodeAttrs(parts, graph, nodeAttrColumns).select(col("part"), col("key"),
      when(col("part") === "node", nodeJson(nodeAttrColumns))
        .when(col("part") === "result", resultJson(res, kpInforesCurie, edgeKey))
        .otherwise(col("json")).as("json"))
  }

  /** Knowledge-graph edge JSON of a match row: subject/object/predicate/
   * sources/attributes[/qualifiers] keys, attributes sorted by property
   * name. */
  private def edgeJson(shells: Map[String, AttributeShell], kpInforesCurie: String,
                       sourcesTemplate: Map[String, Seq[TrapiSource]]): Column = {
    // sorted by property name (then by the rendered fields), name dropped
    val attributes = transform(
      array_sort(TrapiAttributes.attributes(shells, kpInforesCurie)),
      _.dropFields("name"))

    // sources: per-predicate template when configured (with "default"
    // fallback, plover.py:2200-2207), else crafted from the edge's
    // primary knowledge source + this KP as aggregator.
    val sources =
      if (sourcesTemplate.nonEmpty)
        coalesce(element_at(typedLit(sourcesTemplate), col("predicate")),
          typedLit(sourcesTemplate.getOrElse("default", Seq.empty)))
      else array(
        struct(col("primary_knowledge_source").as("resource_id"),
          lit("primary_knowledge_source").as("resource_role"),
          lit(null).cast("array<string>").as("upstream_resource_ids")),
        struct(lit(kpInforesCurie).as("resource_id"),
          lit("aggregator_knowledge_source").as("resource_role"),
          array(col("primary_knowledge_source")).as("upstream_resource_ids")))
    val qualifiers = filter(array(Seq("qualified_predicate" -> "qualified_predicate",
        "object_direction_qualifier" -> "object_direction",
        "object_aspect_qualifier" -> "object_aspect").map { case (t, c) =>
      struct(lit(s"biolink:$t").as("qualifier_type_id"), col(c).as("qualifier_value"))
    }: _*), q => q.getField("qualifier_value").isNotNull)

    to_json(struct(
      col("subject"), col("object"), col("predicate"),
      sources.as("sources"),
      attributes.as("attributes"),
      when(size(qualifiers) > 0, qualifiers).as("qualifiers")))
  }

  /** Knowledge-graph node JSON of a node row: name/categories/
   * attributes keys. `nodeAttrColumns` names array<string> node property
   * columns rendered as default attributes (attribute_type_id = property
   * name, like the reference's un-mapped fallback plover.py:2256-2262);
   * empty arrays are skipped. */
  private def nodeJson(nodeAttrColumns: Seq[String]): Column = {
    val attrObjs: Column =
      if (nodeAttrColumns.isEmpty) noAttrs
      else filter(array(nodeAttrColumns.map(c =>
        struct(lit(c).as("attribute_type_id"),
          concat_ws(",", col(c)).as("value"),
          noStr.as("value_type_id"),
          noStr.as("attribute_source"),
          noStr.as("value_url"))): _*),
        a => length(a.getField("value")) > 0)
    to_json(struct(col("node.name").as("name"),
      array_sort(col("node.categories")).as("categories"),
      attrObjs.as("attributes")))
  }

  /** TRAPI result JSON of a binding group: node bindings sorted by id,
   * carrying query_id when the node was reached via subclass expansion. */
  private def resultJson(res: OneHop.Result, kpInforesCurie: String,
                         edgeKey: String): Column = {
    def bindings(sorted: Column): Column = transform(sorted, x =>
      struct(x.getField("id").as("id"), noAttrs.as("attributes"),
        x.getField("query_id").as("query_id")))
    to_json(struct(
      struct(bindings(col("in_nodes")).as(res.inputKey),
        bindings(col("out_nodes")).as(res.outputKey)).as("node_bindings"),
      array(struct(
        struct(transform(col("edge_ids"), e =>
          struct(e.as("id"), noAttrs.as("attributes"))).as(edgeKey))
          .as("edge_bindings"),
        lit(kpInforesCurie).as("resource_id"))).as("analyses"),
      lit(kpInforesCurie).as("resource_id")))
  }

  /**
   * Legacy Pathfinder response formats (ref: plover.py:1877-1901 —
   * `include_metadata=true` is the "slim" tuple format,
   * `include_metadata=false` the ids-only format; tuple renderers
   * `get_node_as_tuple`/`get_edge_as_tuple` :1919-1933). One row per
   * entry across BOTH formats, uniform (part, key, json) schema:
   *   ("slim_node:<qnodeKey>", node_id,
   *      '["<name>","<categories[0]>",[<query_ids>]]')
   *   ("slim_edge:<qedgeKey>", edge_id,
   *      '["<subj>","<obj>","<pred>","<src>","<qp>","<dir>","<asp>","False"]')
   *   ("ids_node:<qnodeKey>", node_id, null)
   *   ("ids_edge:<qedgeKey>", edge_id, null)
   * Tuples render positionally as JSON arrays like the reference's; the
   * empty strings for absent qualifier fields and the literal string
   * "False" mirror the legacy wire shape exactly (the reference comments
   * "silly to have these in strings, but that's the old format").
   * Rides `fanOut`: each match row becomes its six tagged rows, and the
   * one groupBy collects each slim node's sorted query-id set. No join:
   * collecting the reply runs one Spark job.
   */
  def slim(res: OneHop.Result, graph: PropertyGraph,
           edgeKey: String = "e1"): DataFrame = {
    def row(part: String, key: String, qid: Column, json: Column): Column =
      tag(part, col(key), qid.as("qid"), json.as("json"))
    // the node tuple up to its query ids, which close it after the groupBy
    def nodeRow(qnode: String, id: String, qid: String) =
      known(id, row(s"slim_node:$qnode", id, col(qid), concat(lit("[\""),
        OneHop.endpoint(id, "name"), lit("\",\""),
        element_at(OneHop.endpoint(id, "categories"), 1),
        lit("\","))))
    val edgeTuple = to_json(array(col("subject"), col("object"),
      col("predicate"), col("primary_knowledge_source"),
      coalesce(col("qualified_predicate"), lit("")),
      coalesce(col("object_direction"), lit("")),
      coalesce(col("object_aspect"), lit("")),
      lit("False")))
    fanOut(res.matches, Seq(
        nodeRow(res.inputKey, "input_id", "input_query_id"),
        nodeRow(res.outputKey, "output_id", "output_query_id"),
        row(s"slim_edge:$edgeKey", "edge_id", noStr, edgeTuple),
        row(s"ids_node:${res.inputKey}", "input_id", noStr, noStr),
        row(s"ids_node:${res.outputKey}", "output_id", noStr, noStr),
        row(s"ids_edge:$edgeKey", "edge_id", noStr, noStr)),
      Seq(array_sort(collect_set(col("qid"))).as("query_ids"),
        max(col("json")).as("json")))
      .select(col("part"), col("key"), when(col("part").startsWith("slim_node:"),
        concat(col("json"), to_json(col("query_ids")), lit("]")))
        .otherwise(col("json")).as("json"))
  }

  /** One tagged fan-out row: its part, its key, then format fields. */
  private def tag(part: String, key: Column, fields: Column*): Column =
    struct(lit(part).as("part") +: key.as("key") +: fields: _*)

  /** `row`, or null (dropped by `fanOut`) for a node not in the node table. */
  private def known(id: String, row: Column): Column =
    when(OneHop.endpoint(id, "known"), row)

  /** The one plan behind both reply formats; building it runs no Spark
   * job and persists nothing. Each match row explodes once into its
   * tagged `rows`, so the one-hop scans run once; null rows are dropped
   * and ONE groupBy(part, key) dedups every part and computes `aggs`.
   * Node rows read their node from the matched edge, so there is no
   * join, no broadcast and no node-table scan: one Spark job. */
  private def fanOut(matches: DataFrame, rows: Seq[Column], aggs: Seq[Column]): DataFrame =
    matches.select(explode(array(rows: _*)).as("t"))
      .where(col("t").isNotNull)
      .select("t.*")
      .groupBy("part", "key")
      .agg(aggs.head, aggs.tail: _*)

  /** `parts` with the node table's `attrCols` on every node row: the one
   * node join, made only for node attributes. It BUILDS (broadcasts) the
   * answer side and streams the node table, keyed (true, id) for node
   * rows and (false, "") for the rest, which a one-row sentinel with null
   * attribute columns streamed beside the nodes matches. */
  private def withNodeAttrs(parts: DataFrame, graph: PropertyGraph,
                            attrCols: Seq[String]): DataFrame =
    if (attrCols.isEmpty) parts
    else {
      val isNode = col("part") === "node"
      val answer = parts.select(col("*"), isNode.as("is_node"),
        when(isNode, col("key")).otherwise(lit("")).as("node_id"))
      val nodes = graph.nodes.select(lit(true).as("is_node") +:
          col("id").as("node_id") +: attrCols.map(col): _*)
        .unionByName(graph.nodes.sparkSession.range(0, 1, 1, 1).select(
          lit(false).as("is_node") +: lit("").as("node_id") +:
            attrCols.map(c => lit(null).cast(graph.nodes.schema(c).dataType).as(c)): _*))
      broadcast(answer).join(nodes, Seq("is_node", "node_id"))
    }

  /**
   * Fold the columnar parts into the reference's single nested document
   * (plover.py:2166-2183): {"message":{"query_graph":...,
   * "knowledge_graph":{"nodes":{...},"edges":{...}},"results":[...]}}.
   * One-row aggregation — keys sorted for determinism where the reference
   * has arbitrary dict order. Only for clients that need one document;
   * a serving layer should stream the parts instead.
   */
  def envelope(parts: DataFrame, queryGraphJson: String): DataFrame = {
    def obj(part: String) = concat(lit("{"),
      concat_ws(",", array_sort(collect_list(when(col("part") === part,
        concat(lit("\""), col("key"), lit("\":"), col("json")))))),
      lit("}"))
    def arr(part: String) = concat(lit("["),
      concat_ws(",", array_sort(collect_list(when(col("part") === part,
        col("json"))))),
      lit("]"))
    parts.groupBy().agg(
      concat(lit("""{"message":{"query_graph":"""), lit(queryGraphJson),
        lit(""","knowledge_graph":{"nodes":"""), obj("node"),
        lit(""","edges":"""), obj("edge"),
        lit("""},"results":"""), arr("result"),
        lit("}}")).as("response"))
  }
}
