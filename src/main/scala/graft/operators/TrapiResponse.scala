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
 * loop and no shuffle beyond the per-result grouping the semantics demand.
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

  /** One TRAPI attribute object as rendered into edge/node JSON. */
  final case class Attr(attribute_type_id: String, value: String,
                        value_type_id: Option[String],
                        attribute_source: Option[String],
                        value_url: Option[String])
  private val noAttrObjs = typedLit(Seq.empty[Attr])

  /** One entry of a per-predicate sources template
   * (ref: plover.py:1773-1789 `_load_edge_sources`, :2200-2207 template
   * path — field names match the TRAPI JSON keys). */
  final case class TrapiSource(resource_id: String, resource_role: String,
                               upstream_resource_ids: Option[Seq[String]] = None)

  /**
   * Knowledge-graph edge JSON per distinct answer edge:
   * (edge_id, json) with subject/object/predicate/sources/attributes
   * [/qualifiers] keys, attributes sorted by property name.
   */
  def edgeParts(matches: DataFrame, shells: Map[String, AttributeShell],
                kpInforesCurie: String,
                sourcesTemplate: Map[String, Seq[TrapiSource]] = Map.empty): DataFrame = {
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
    val qualifiers = filter(array(
      struct(lit("biolink:qualified_predicate").as("qualifier_type_id"),
        col("qualified_predicate").as("qualifier_value")),
      struct(lit("biolink:object_direction_qualifier").as("qualifier_type_id"),
        col("object_direction").as("qualifier_value")),
      struct(lit("biolink:object_aspect_qualifier").as("qualifier_type_id"),
        col("object_aspect").as("qualifier_value"))),
      q => q.getField("qualifier_value").isNotNull)

    matches.dropDuplicates("edge_id")
      .select(col("edge_id").as("key"),
        to_json(struct(
          col("subject"), col("object"), col("predicate"),
          sources.as("sources"),
          attributes.as("attributes"),
          when(size(qualifiers) > 0, qualifiers).as("qualifiers"))).as("json"))
  }

  /**
   * Knowledge-graph node JSON per answer node: (node_id, json) with
   * name/categories/attributes keys. `nodeAttrColumns` names
   * array<string> node property columns rendered as default attributes
   * (attribute_type_id = property name, like the reference's un-mapped
   * fallback plover.py:2256-2262); empty arrays are skipped.
   */
  def nodeParts(matches: DataFrame, graph: PropertyGraph,
                nodeAttrColumns: Seq[String] = Seq.empty): DataFrame = {
    val ids = matches.select(explode(array(col("input_id"), col("output_id"))).as("id"))
      .distinct()
    val attrObjs: Column =
      if (nodeAttrColumns.isEmpty) noAttrObjs
      else filter(array(nodeAttrColumns.map(c =>
        struct(lit(c).as("attribute_type_id"),
          concat_ws(",", col(c)).as("value"),
          lit(null).cast("string").as("value_type_id"),
          lit(null).cast("string").as("attribute_source"),
          lit(null).cast("string").as("value_url"))): _*),
        a => length(a.getField("value")) > 0)
    graph.nodes.join(ids, Seq("id"), "left_semi")
      .select(col("id").as("key"),
        to_json(struct(col("name"),
          array_sort(col("categories")).as("categories"),
          attrObjs.as("attributes"))).as("json"))
  }

  /**
   * TRAPI result JSON per (input, output) binding group:
   * (in_key--out_key, json). An is_set side collapses to one "*" group;
   * node bindings are sorted by id and carry query_id when the node was
   * reached via subclass expansion.
   */
  def resultParts(res: OneHop.Result, kpInforesCurie: String,
                  edgeKey: String = "e1", inputIsSet: Boolean = false,
                  outputIsSet: Boolean = false): DataFrame = {
    val inKey = if (inputIsSet) lit("*") else col("input_id")
    val outKey = if (outputIsSet) lit("*") else col("output_id")

    def bindings(sorted: Column): Column = transform(sorted, x =>
      struct(x.getField("id").as("id"), noAttrs.as("attributes"),
        x.getField("query_id").as("query_id")))

    res.matches
      .withColumn("in_key", inKey).withColumn("out_key", outKey)
      .groupBy("in_key", "out_key")
      .agg(
        array_sort(collect_set(struct(col("input_id").as("id"),
          col("input_query_id").as("query_id")))).as("in_nodes"),
        array_sort(collect_set(struct(col("output_id").as("id"),
          col("output_query_id").as("query_id")))).as("out_nodes"),
        array_sort(collect_set(col("edge_id"))).as("edge_ids"))
      .select(
        concat_ws("--", col("in_key"), col("out_key")).as("key"),
        to_json(struct(
          struct(bindings(col("in_nodes")).as(res.inputKey),
            bindings(col("out_nodes")).as(res.outputKey)).as("node_bindings"),
          array(struct(
            struct(transform(col("edge_ids"), e =>
              struct(e.as("id"), noAttrs.as("attributes"))).as(edgeKey))
              .as("edge_bindings"),
            lit(kpInforesCurie).as("resource_id"))).as("analyses"),
          lit(kpInforesCurie).as("resource_id"))).as("json"))
  }

  /** Full columnar envelope: one row per part, ("part", "key", "json").
   * One lazy plan, like `slim`: building it runs no Spark job and
   * persists nothing. Each part builder reads the matches once, so an
   * execution runs the one-hop match three times, over the cached graph. */
  def assemble(res: OneHop.Result, graph: PropertyGraph,
               shells: Map[String, AttributeShell], kpInforesCurie: String,
               edgeKey: String = "e1", inputIsSet: Boolean = false,
               outputIsSet: Boolean = false,
               nodeAttrColumns: Seq[String] = Seq.empty,
               sourcesTemplate: Map[String, Seq[TrapiSource]] = Map.empty): DataFrame = {
    def tag(part: String, df: DataFrame) =
      df.select(lit(part).as("part"), col("key"), col("json"))
    tag("node", nodeParts(res.matches, graph, nodeAttrColumns))
      .unionAll(tag("edge",
        edgeParts(res.matches, shells, kpInforesCurie, sourcesTemplate)))
      .unionAll(tag("result",
        resultParts(res, kpInforesCurie, edgeKey, inputIsSet, outputIsSet)))
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
   * Columnar like `assemble`, and one lazy plan: building it runs no
   * Spark job and persists nothing. Each match row fans out once (one
   * explode) into its six tagged (part, key, query id, edge tuple) rows,
   * so the one-hop scans run once; ONE groupBy(part, key) dedups every
   * part and collects the sorted query-id set; ONE inner join to the node
   * table fills in name and first category. That join BUILDS (broadcasts)
   * the answer-sized side and streams the node table, which grows with
   * the corpus and must never be the build side. Its key is (true, id)
   * for `slim_node:*` rows and (false, "") for every other part, matched
   * by a one-row sentinel streamed beside the nodes: node parts keep
   * inner-join semantics (an id missing from the node table gets no
   * `slim_node` row, though its `ids_node` row stays) and the other parts
   * pass through.
   */
  def slim(res: OneHop.Result, graph: PropertyGraph,
           edgeKey: String = "e1"): DataFrame = {
    val noStr = lit(null).cast("string")
    def tagged(part: String, key: String, qid: Column, json: Column): Column =
      struct(lit(part).as("part"), col(key).as("key"), qid.as("qid"),
        json.as("json"))
    val edgeTuple = to_json(array(col("subject"), col("object"),
      col("predicate"), col("primary_knowledge_source"),
      coalesce(col("qualified_predicate"), lit("")),
      coalesce(col("object_direction"), lit("")),
      coalesce(col("object_aspect"), lit("")),
      lit("False")))
    val parts = res.matches.select(explode(array(
      tagged(s"slim_node:${res.inputKey}", "input_id", col("input_query_id"), noStr),
      tagged(s"slim_node:${res.outputKey}", "output_id", col("output_query_id"), noStr),
      tagged(s"slim_edge:$edgeKey", "edge_id", noStr, edgeTuple),
      tagged(s"ids_node:${res.inputKey}", "input_id", noStr, noStr),
      tagged(s"ids_node:${res.outputKey}", "output_id", noStr, noStr),
      tagged(s"ids_edge:$edgeKey", "edge_id", noStr, noStr))).as("t"))
      .select("t.*")
      .groupBy("part", "key")
      .agg(array_sort(collect_set(col("qid"))).as("query_ids"),
        max(col("json")).as("json"))
    val isNode = col("part").startsWith("slim_node:")
    val answer = parts.select(col("*"), isNode.as("is_node"),
      when(isNode, col("key")).otherwise(lit("")).as("node_id"))
    val nodes = graph.nodes.select(lit(true).as("is_node"),
        col("id").as("node_id"), col("name"), col("categories"))
      .unionByName(graph.nodes.sparkSession.range(0, 1, 1, 1).select(
        lit(false).as("is_node"), lit("").as("node_id"),
        noStr.as("name"), lit(null).cast("array<string>").as("categories")))
    broadcast(answer).join(nodes, Seq("is_node", "node_id"))
      .select(col("part"), col("key"),
        when(col("is_node"), concat(lit("[\""), col("name"), lit("\",\""),
          element_at(col("categories"), 1), lit("\","),
          to_json(col("query_ids")), lit("]"))).otherwise(col("json")).as("json"))
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
