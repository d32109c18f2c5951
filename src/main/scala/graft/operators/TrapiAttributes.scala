package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Config-driven TRAPI attribute rendering — the Spark-native twin of the
 * reference's attribute construction
 * (ref: /root/reference/app/app/plover.py:1424-1448
 * `load_trapi_attribute_map`, :2299-2321 `_get_trapi_edge_attribute`).
 *
 * A shell map assigns each property name an attribute_type_id (default:
 * the property name itself), optional value_type_id, optional
 * attribute_source template (`{kp_infores_curie}` -> the KP's curie;
 * `{primary_knowledge_source}` -> that edge column), and optional
 * value_url template (`{value}` substituted).
 *
 * The reference renders attributes per edge in Python at response time;
 * here rendering is one per-row array of literal-map lookups (codegen'd,
 * no shuffle) that response assembly sorts in place, or one explode of
 * it into a flat (edge_id, attribute) frame.
 */
object TrapiAttributes {

  final case class AttributeShell(
      attributeTypeId: String,
      valueTypeId: Option[String] = None,
      attributeSource: Option[String] = None,
      valueUrl: Option[String] = None)

  /** Validate that no property is claimed by two shells (the reference
   * raises on duplicate property_names, plover.py:1435-1440). */
  def buildShellMap(entries: Seq[(Seq[String], AttributeShell)]): Map[String, AttributeShell] = {
    val flat = entries.flatMap { case (names, shell) => names.map(_ -> shell) }
    val dups = flat.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate property_names in attribute map: ${dups.mkString(", ")}")
    flat.toMap
  }

  /**
   * Every non-core attribute of an edge row as one array of
   * (name, attribute_type_id, value, value_type_id, attribute_source,
   * value_url) structs, attrs then num_attrs then list_attrs. Numeric
   * values render via double cast; list values join on ",".
   */
  def attributes(shells: Map[String, AttributeShell], kpInforesCurie: String): Column = {
    val typeMap = typedLit(shells.map { case (k, s) => k -> s.attributeTypeId })
    val vtMap = typedLit(shells.collect { case (k, s) if s.valueTypeId.nonEmpty =>
      k -> s.valueTypeId.get })
    val srcMap = typedLit(shells.collect { case (k, s) if s.attributeSource.nonEmpty =>
      k -> s.attributeSource.get })
    val urlMap = typedLit(shells.collect { case (k, s) if s.valueUrl.nonEmpty =>
      k -> s.valueUrl.get })

    def rendered(key: Column, value: Column): Column = {
      val srcTemplate = element_at(srcMap, key)
      struct(key.as("name"),
        coalesce(element_at(typeMap, key), key).as("attribute_type_id"),
        value.as("value"),
        element_at(vtMap, key).as("value_type_id"),
        when(srcTemplate === "{kp_infores_curie}", lit(kpInforesCurie))
          .when(srcTemplate === "{primary_knowledge_source}",
            col("primary_knowledge_source"))
          .otherwise(srcTemplate).as("attribute_source"),
        when(element_at(urlMap, key).isNotNull,
          replace(element_at(urlMap, key), lit("{value}"), value))
          .as("value_url"))
    }
    // a null map has no attributes (and must not null the whole concat)
    def entries(m: String, empty: Column)(value: Column => Column): Column =
      transform(map_entries(coalesce(col(m), empty)),
        e => rendered(e.getField("key"), value(e.getField("value"))))

    concat(
      entries("attrs", typedLit(Map.empty[String, String]))(identity),
      entries("num_attrs", typedLit(Map.empty[String, Double]))(_.cast("string")),
      entries("list_attrs", typedLit(Map.empty[String, Seq[String]]))(concat_ws(",", _)))
  }

  /** `attributes` flattened to one row per attribute: (edge_id, name,
   * attribute_type_id, value, value_type_id, attribute_source,
   * value_url). */
  def render(edges: DataFrame, shells: Map[String, AttributeShell],
             kpInforesCurie: String): DataFrame =
    edges.select(col("edge_id"), explode(attributes(shells, kpInforesCurie)).as("a"))
      .select(col("edge_id"), col("a.*"))
}
