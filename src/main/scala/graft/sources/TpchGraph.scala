package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{GraftOntology => O, PropertyGraph}

/**
 * Deterministic fixture knowledge graph derived from the driver-generated
 * TPC-H-ish parquet tables, so that every graph operator has a
 * DuckDB-expressible SQL oracle. Node/edge construction mirrors KGX-style
 * ingest (ref: /root/reference/app/app/plover.py:725-1380):
 *
 * nodes: REG:k (Region), NAT:k (Nation), CUST:k (Customer), SUPP:k
 * (Supplier), PART:k (Part + Tradeable mixin), ORD:k (Order). Raw category
 * lists intentionally include proper ancestors to exercise
 * most-specific pruning.
 *
 * edges (canonical form after build):
 *   E-NR:<n>       NAT  part_of      REG     src infores:geo
 *   E-CN:<c>       CUST located_in   NAT     src infores:crm   attrs mktsegment, acctbal, tags
 *   E-SN:<s>       SUPP located_in   NAT     src infores:crm   attrs acctbal
 *   E-OC:<o>       CUST placed       ORD     src infores:sales (ingested non-canonically as ORD placed_by CUST)
 *   E-LI:<o>:<l>   ORD  contains_item PART   src infores:logistics, qualified: ships / returnflag / linestatus
 *   E-PS:<p>:<s>   PART supplied_by  SUPP    src infores:logistics (distinct part-supplier pairs)
 *   E-ADJ:<a>:<b>  NAT  adjacent_to  NAT     src infores:geo (consecutive nationkeys within a region)
 *   E-SUBNR:<n>    NAT  subclass_of  REG     src infores:tax
 *   E-SUBCN:<c>    CUST subclass_of  NAT     src infores:tax
 */
object TpchGraph {

  /** The built graph, cached once per (session, sf-dir). */
  def apply(spark: SparkSession, sfDir: String): PropertyGraph =
    graft.Fixture.memo(spark, sfDir, "tpch_graph") {
      val g = build(spark, sfDir)
      PropertyGraph(g.nodes.cache(), g.edges.cache())
    }

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private val emptyS = typedLit(Map.empty[String, String])
  private val emptyN = typedLit(Map.empty[String, Double])
  private val emptyL = typedLit(Map.empty[String, Seq[String]])

  private def id(prefix: String, key: org.apache.spark.sql.Column) =
    concat(lit(prefix + ":"), key.cast("string"))

  def rawNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val region = t(spark, sfDir, "region").select(
      id("REG", col("r_regionkey")).as("id"),
      col("r_name").as("name"),
      array(lit(O.Region), lit(O.Place)).as("categories"),
      typedLit(Seq.empty[String]).as("equiv_ids"))
    val nation = t(spark, sfDir, "nation").select(
      id("NAT", col("n_nationkey")).as("id"),
      col("n_name").as("name"),
      array(lit(O.Nation)).as("categories"),
      typedLit(Seq.empty[String]).as("equiv_ids"))
    val customer = t(spark, sfDir, "customer").select(
      id("CUST", col("c_custkey")).as("id"),
      col("c_name").as("name"),
      array(lit(O.Customer), lit(O.Actor)).as("categories"),
      array(concat(lit("CUSTNAME:"), col("c_name"))).as("equiv_ids"))
    val supplier = t(spark, sfDir, "supplier").select(
      id("SUPP", col("s_suppkey")).as("id"),
      col("s_name").as("name"),
      array(lit(O.Supplier)).as("categories"),
      typedLit(Seq.empty[String]).as("equiv_ids"))
    val part = t(spark, sfDir, "part").select(
      id("PART", col("p_partkey")).as("id"),
      col("p_name").as("name"),
      array(lit(O.Part), lit(O.Item), lit(O.Tradeable)).as("categories"),
      typedLit(Seq.empty[String]).as("equiv_ids"))
    val orders = t(spark, sfDir, "orders").select(
      id("ORD", col("o_orderkey")).as("id"),
      concat(lit("Order#"), col("o_orderkey").cast("string")).as("name"),
      array(lit(O.Order)).as("categories"),
      typedLit(Seq.empty[String]).as("equiv_ids"))
    region.unionAll(nation).unionAll(customer).unionAll(supplier)
      .unionAll(part).unionAll(orders)
  }

  private val edgeCols = Seq(
    "edge_id", "subject", "object", "predicate", "qualified_predicate",
    "object_direction", "object_aspect", "primary_knowledge_source",
    "attrs", "num_attrs", "list_attrs")

  def rawEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val nullS = lit(null).cast("string")

    def shape(df: DataFrame): DataFrame = df.select(edgeCols.map(col): _*)

    val nation = t(spark, sfDir, "nation")
    val nr = shape(nation.select(
      id("E-NR", col("n_nationkey")).as("edge_id"),
      id("NAT", col("n_nationkey")).as("subject"),
      id("REG", col("n_regionkey")).as("object"),
      lit(O.PartOf).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"),
      lit("infores:geo").as("primary_knowledge_source"),
      emptyS.as("attrs"), emptyN.as("num_attrs"), emptyL.as("list_attrs")))

    val customer = t(spark, sfDir, "customer")
    val cn = shape(customer.select(
      id("E-CN", col("c_custkey")).as("edge_id"),
      id("CUST", col("c_custkey")).as("subject"),
      id("NAT", col("c_nationkey")).as("object"),
      lit(O.LocatedIn).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"),
      lit("infores:crm").as("primary_knowledge_source"),
      map(lit("mktsegment"), col("c_mktsegment")).as("attrs"),
      map(lit("acctbal"), col("c_acctbal")).as("num_attrs"),
      map(lit("tags"),
        array(col("c_mktsegment"),
          concat(lit("tier"), (col("c_custkey") % 3).cast("string"))))
        .as("list_attrs")))

    val supplier = t(spark, sfDir, "supplier")
    val sn = shape(supplier.select(
      id("E-SN", col("s_suppkey")).as("edge_id"),
      id("SUPP", col("s_suppkey")).as("subject"),
      id("NAT", col("s_nationkey")).as("object"),
      lit(O.LocatedIn).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"),
      lit("infores:crm").as("primary_knowledge_source"),
      emptyS.as("attrs"),
      map(lit("acctbal"), col("s_acctbal")).as("num_attrs"),
      emptyL.as("list_attrs")))

    // Ingested NON-canonically (ORD placed_by CUST); GraphBuilder flips to
    // CUST placed ORD, exercising plover.py:1060-1090 semantics.
    val orders = t(spark, sfDir, "orders")
    val oc = shape(orders.select(
      id("E-OC", col("o_orderkey")).as("edge_id"),
      id("ORD", col("o_orderkey")).as("subject"),
      id("CUST", col("o_custkey")).as("object"),
      lit(O.PlacedBy).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"),
      lit("infores:sales").as("primary_knowledge_source"),
      map(lit("status"), col("o_orderstatus"),
        lit("priority"), col("o_orderpriority")).as("attrs"),
      map(lit("totalprice"), col("o_totalprice")).as("num_attrs"),
      emptyL.as("list_attrs")))

    val lineitem = t(spark, sfDir, "lineitem")
    val li = shape(lineitem.select(
      concat(lit("E-LI:"), col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")).as("edge_id"),
      id("ORD", col("l_orderkey")).as("subject"),
      id("PART", col("l_partkey")).as("object"),
      lit(O.ContainsItem).as("predicate"),
      lit(O.Ships).as("qualified_predicate"),
      when(col("l_returnflag") === "R", lit(O.Returned))
        .when(col("l_returnflag") === "A", lit(O.Accepted))
        .otherwise(nullS).as("object_direction"),
      when(col("l_linestatus") === "O", lit(O.Open))
        .when(col("l_linestatus") === "F", lit(O.Finished))
        .otherwise(nullS).as("object_aspect"),
      lit("infores:logistics").as("primary_knowledge_source"),
      map(lit("shipdate"), date_format(col("l_shipdate"), "yyyy-MM-dd")).as("attrs"),
      map(lit("quantity"), col("l_quantity"),
        lit("extendedprice"), col("l_extendedprice"),
        lit("discount"), col("l_discount")).as("num_attrs"),
      emptyL.as("list_attrs")))

    val ps = shape(lineitem.select(col("l_partkey"), col("l_suppkey")).distinct().select(
      concat(lit("E-PS:"), col("l_partkey").cast("string"), lit(":"),
        col("l_suppkey").cast("string")).as("edge_id"),
      id("PART", col("l_partkey")).as("subject"),
      id("SUPP", col("l_suppkey")).as("object"),
      lit(O.SuppliedBy).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"),
      lit("infores:logistics").as("primary_knowledge_source"),
      emptyS.as("attrs"), emptyN.as("num_attrs"), emptyL.as("list_attrs")))

    // Consecutive nationkeys within a region are "adjacent" (symmetric
    // predicate, stored once in an arbitrary direction).
    val w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    val adj = shape(nation
      .withColumn("next_key", lead(col("n_nationkey"), 1).over(w))
      .where(col("next_key").isNotNull)
      .select(
        concat(lit("E-ADJ:"), col("n_nationkey").cast("string"), lit(":"),
          col("next_key").cast("string")).as("edge_id"),
        id("NAT", col("n_nationkey")).as("subject"),
        id("NAT", col("next_key")).as("object"),
        lit(O.AdjacentTo).as("predicate"),
        nullS.as("qualified_predicate"), nullS.as("object_direction"),
        nullS.as("object_aspect"),
        lit("infores:geo").as("primary_knowledge_source"),
        emptyS.as("attrs"), emptyN.as("num_attrs"), emptyL.as("list_attrs")))

    val subNr = shape(nation.select(
      id("E-SUBNR", col("n_nationkey")).as("edge_id"),
      id("NAT", col("n_nationkey")).as("subject"),
      id("REG", col("n_regionkey")).as("object"),
      lit(O.SubclassOf).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"),
      lit("infores:tax").as("primary_knowledge_source"),
      emptyS.as("attrs"), emptyN.as("num_attrs"), emptyL.as("list_attrs")))

    val subCn = shape(customer.select(
      id("E-SUBCN", col("c_custkey")).as("edge_id"),
      id("CUST", col("c_custkey")).as("subject"),
      id("NAT", col("c_nationkey")).as("object"),
      lit(O.SubclassOf).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"),
      lit("infores:tax").as("primary_knowledge_source"),
      emptyS.as("attrs"), emptyN.as("num_attrs"), emptyL.as("list_attrs")))

    nr.unionAll(cn).unionAll(sn).unionAll(oc).unionAll(li).unionAll(ps)
      .unionAll(adj).unionAll(subNr).unionAll(subCn)
  }

  def build(spark: SparkSession, sfDir: String): PropertyGraph =
    GraphBuilder.build(rawNodes(spark, sfDir), rawEdges(spark, sfDir), O.ontology)

  /** Fixture KGX delta for the graph-refresh keys (g39/g40, r19) —
   * every lane closed-form from the TPC-H tables so the DuckDB oracle
   * re-derives the post-delta graph:
   *  - MODIFIED nodes: customers with custkey % 10 == 3 renamed
   *    (name + " (r2)");
   *  - ADDED nodes: one HUB:<n> Place node per nation;
   *  - REMOVED nodes: orders with orderkey % 1000 == 7 (their E-OC and
   *    E-LI edges must die by cascade);
   *  - MODIFIED edges: E-CN located_in edges of custkey % 7 == 0
   *    re-sourced to infores:crm2;
   *  - ADDED edges: E-HUB:<n> HUB located_in NAT per nation (edges onto
   *    ADDED nodes — denorm must see the new node table);
   *  - REMOVED edges: E-ADJ adjacency pairs with an even first key.
   * `touchSubclass = true` additionally tombstones the E-SUBNR subclass
   * edges of nationkey % 5 == 0 — the lane whose apply must REBUILD the
   * closure (the default delta must NOT; GraphDeltaSpec pins both). */
  def fixtureDelta(spark: SparkSession, sfDir: String,
                   touchSubclass: Boolean = false): GraphDelta.KgxDelta = {
    val rawN = rawNodes(spark, sfDir)
    val rawE = rawEdges(spark, sfDir)
    val nullS = lit(null).cast("string")
    val key1 = split(col("id"), ":").getItem(1).cast("long")
    val ekey1 = split(col("edge_id"), ":").getItem(1).cast("long")
    val nation = t(spark, sfDir, "nation")
    val renamed = rawN
      .where(col("id").startsWith("CUST:") && key1 % 10 === 3)
      .withColumn("name", concat(col("name"), lit(" (r2)")))
    val hubs = nation.select(
      id("HUB", col("n_nationkey")).as("id"),
      concat(lit("Hub "), col("n_name")).as("name"),
      array(lit(O.Place)).as("categories"),
      typedLit(Seq.empty[String]).as("equiv_ids"))
    val nodeTombs = t(spark, sfDir, "orders")
      .where(col("o_orderkey") % 1000 === 7)
      .select(id("ORD", col("o_orderkey")).as("id"))
    val recn = rawE
      .where(col("edge_id").startsWith("E-CN:") && ekey1 % 7 === 0)
      .withColumn("primary_knowledge_source", lit("infores:crm2"))
    val hubEdges = nation.select(
      id("E-HUB", col("n_nationkey")).as("edge_id"),
      id("HUB", col("n_nationkey")).as("subject"),
      id("NAT", col("n_nationkey")).as("object"),
      lit(O.LocatedIn).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"),
      lit("infores:geo").as("primary_knowledge_source"),
      emptyS.as("attrs"), emptyN.as("num_attrs"), emptyL.as("list_attrs"))
    val adjTombs = rawE
      .where(col("edge_id").startsWith("E-ADJ:") && ekey1 % 2 === 0)
      .select("edge_id")
    val subTombs =
      if (!touchSubclass) adjTombs.limit(0)
      else rawE.where(col("edge_id").startsWith("E-SUBNR:") &&
        ekey1 % 5 === 0).select("edge_id")
    GraphDelta.KgxDelta(
      renamed.unionByName(hubs),
      nodeTombs,
      recn.unionByName(hubEdges.select(recn.columns.map(col): _*)),
      adjTombs.unionByName(subTombs))
  }

  /** From-scratch RAW frames of the post-delta corpus — what a fresh
   * ingest of the next KG release would read. GraphDeltaSpec builds
   * these through GraphBuilder.build and pins frame equality against
   * the delta-applied artifacts. */
  def postDeltaRawFrames(spark: SparkSession, sfDir: String,
                         touchSubclass: Boolean = false)
      : (DataFrame, DataFrame) = {
    val d = fixtureDelta(spark, sfDir, touchSubclass)
    val rawN = rawNodes(spark, sfDir)
    val rawE = rawEdges(spark, sfDir)
    val deadN = d.nodeTombstones.select("id")
      .unionByName(d.nodeUpserts.select("id")).distinct()
    val nodes = rawN.join(broadcast(deadN), Seq("id"), "left_anti")
      .unionByName(d.nodeUpserts)
    val deadE = d.edgeTombstones.select("edge_id")
      .unionByName(d.edgeUpserts.select("edge_id")).distinct()
    // two sequential HASH anti-joins, not one OR-condition join: the
    // latter plans as a BroadcastNestedLoopJoin costing |edges| x
    // |tombstones| comparisons (review-caught — it sat inside
    // ScaleSmoke's timed rebuild arm and inflated the baseline the
    // delta-apply win is measured against)
    val goneNodes = d.nodeTombstones.select(col("id")).distinct()
    val edges = rawE
      .join(broadcast(deadE), Seq("edge_id"), "left_anti")
      .join(broadcast(goneNodes.withColumnRenamed("id", "subject")),
        Seq("subject"), "left_anti")
      .join(broadcast(goneNodes.withColumnRenamed("id", "object")),
        Seq("object"), "left_anti")
      .select(rawE.columns.map(col): _*)
      .unionByName(d.edgeUpserts)
    (nodes, edges)
  }

  /**
   * Shared SQL prelude for DuckDB oracles: CTEs reproducing the canonical
   * edge/node tables above from the raw parquet tables. Each oracle query
   * appends its own SELECT to this WITH-block.
   */
  val oracleCtes: String = """
g_nodes AS (
  SELECT 'REG:' || r_regionkey AS id, r_name AS name, 'graft:Region' AS cats FROM region
  UNION ALL SELECT 'NAT:' || n_nationkey, n_name, 'graft:Nation' FROM nation
  UNION ALL SELECT 'CUST:' || c_custkey, c_name, 'graft:Customer' FROM customer
  UNION ALL SELECT 'SUPP:' || s_suppkey, s_name, 'graft:Supplier' FROM supplier
  UNION ALL SELECT 'PART:' || p_partkey, p_name, 'graft:Part|graft:Tradeable' FROM part
  UNION ALL SELECT 'ORD:' || o_orderkey, 'Order#' || o_orderkey, 'graft:Order' FROM orders
),
g_edges AS (
  SELECT 'E-NR:' || n_nationkey AS edge_id, 'NAT:' || n_nationkey AS subject,
         'REG:' || n_regionkey AS object, 'graft:part_of' AS predicate,
         CAST(NULL AS VARCHAR) AS qualified_predicate, CAST(NULL AS VARCHAR) AS object_direction,
         CAST(NULL AS VARCHAR) AS object_aspect, 'infores:geo' AS src, '' AS attr_names
  FROM nation
  UNION ALL
  SELECT 'E-CN:' || c_custkey, 'CUST:' || c_custkey, 'NAT:' || c_nationkey,
         'graft:located_in', NULL, NULL, NULL, 'infores:crm', 'acctbal|mktsegment|tags'
  FROM customer
  UNION ALL
  SELECT 'E-SN:' || s_suppkey, 'SUPP:' || s_suppkey, 'NAT:' || s_nationkey,
         'graft:located_in', NULL, NULL, NULL, 'infores:crm', 'acctbal'
  FROM supplier
  UNION ALL
  SELECT 'E-OC:' || o_orderkey, 'CUST:' || o_custkey, 'ORD:' || o_orderkey,
         'graft:placed', NULL, NULL, NULL, 'infores:sales', 'priority|status|totalprice'
  FROM orders
  UNION ALL
  SELECT 'E-LI:' || l_orderkey || ':' || l_linenumber, 'ORD:' || l_orderkey,
         'PART:' || l_partkey, 'graft:contains_item', 'graft:ships',
         CASE l_returnflag WHEN 'R' THEN 'graft:returned' WHEN 'A' THEN 'graft:accepted' END,
         CASE l_linestatus WHEN 'O' THEN 'graft:open' WHEN 'F' THEN 'graft:finished' END,
         'infores:logistics', 'discount|extendedprice|quantity|shipdate'
  FROM lineitem
  UNION ALL
  SELECT 'E-PS:' || l_partkey || ':' || l_suppkey, 'PART:' || l_partkey,
         'SUPP:' || l_suppkey, 'graft:supplied_by', NULL, NULL, NULL, 'infores:logistics', ''
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
  UNION ALL
  SELECT 'E-ADJ:' || n_nationkey || ':' || next_key, 'NAT:' || n_nationkey,
         'NAT:' || next_key, 'graft:adjacent_to', NULL, NULL, NULL, 'infores:geo', ''
  FROM (SELECT n_nationkey, n_regionkey,
               lead(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS next_key
        FROM nation)
  WHERE next_key IS NOT NULL
  UNION ALL
  SELECT 'E-SUBNR:' || n_nationkey, 'NAT:' || n_nationkey, 'REG:' || n_regionkey,
         'graft:subclass_of', NULL, NULL, NULL, 'infores:tax', ''
  FROM nation
  UNION ALL
  SELECT 'E-SUBCN:' || c_custkey, 'CUST:' || c_custkey, 'NAT:' || c_nationkey,
         'graft:subclass_of', NULL, NULL, NULL, 'infores:tax', ''
  FROM customer
),
g_closure AS (
  SELECT 'REG:' || n_regionkey AS ancestor, 'NAT:' || n_nationkey AS descendant FROM nation
  UNION ALL
  SELECT 'NAT:' || c_nationkey, 'CUST:' || c_custkey FROM customer
  UNION ALL
  SELECT 'REG:' || n_regionkey, 'CUST:' || c_custkey
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)"""

  /** Wrap an oracle SELECT with the shared CTE prelude (plus optional
   * query-specific CTEs). */
  def oracle(select: String, extraCtes: String = ""): String = {
    val ctes = if (extraCtes.isEmpty) oracleCtes else s"$oracleCtes,\n$extraCtes"
    s"WITH $ctes\n$select"
  }
}
