package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{GraftOntology => O, PropertyGraph}
import graft.operators._
import graft.sources.TpchGraph

/** Driver contract — see SURVEY.md §2 for the inventory. */
object SparkEntry {

  private val ont = O.ontology

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("g03_onehop_fwd")(spark, "/root/testdata/sf0.001")

  private def custIds(ks: Int*) = ks.map("CUST:" + _)
  private def natIds(ks: Int*) = ks.map("NAT:" + _)
  private def partIds(ks: Int*) = ks.map("PART:" + _)

  private def sortedCats = concat_ws("|", array_sort(col("categories"))).as("cats")

  /** Config-driven attribute shell map shared by g26 (flat rendering) and
   * g28 (full envelope) — the analog of the reference's kg_config
   * trapi_attribute_map (plover.py:1424-1448). */
  private val attrShells: Map[String, TrapiAttributes.AttributeShell] = {
    import graft.operators.TrapiAttributes._
    buildShellMap(Seq(
      Seq("mktsegment") -> AttributeShell("graft:market_segment",
        valueTypeId = Some("metatype:String"),
        attributeSource = Some("{kp_infores_curie}")),
      Seq("acctbal") -> AttributeShell("graft:account_balance",
        valueTypeId = Some("metatype:Decimal"),
        attributeSource = Some("{primary_knowledge_source}")),
      Seq("tags") -> AttributeShell("graft:tags",
        valueUrl = Some("https://graft.example/tag/{value}"))))
  }

  private def oneHop(spark: SparkSession, sfDir: String, qg: QueryGraph,
                     expand: Boolean = true): DataFrame = {
    val res = OneHop.answer(spark, Fixture.graph(spark, sfDir), ont, qg,
      closure = Some(Fixture.closure(spark, sfDir)), expandSubclasses = expand,
      index = Fixture.closureIndex(spark, sfDir))
    res.matches
  }

  private def bindings(df: DataFrame): DataFrame =
    df.select(col("edge_id"), col("input_id"), col("output_id"))
      .orderBy("edge_id", "input_id")

  /** Synthetic raw edges with zipped list properties + trial-phase enums
   * run through the full ingest-transform chain, MATERIALIZED once per
   * session (shared by g24 and g31). Ingest-transform output is a stored
   * table in a real pipeline; querying it through the un-materialized
   * transform would re-inline the zip expressions into every constraint
   * reference (the projection-collapse trap — see SelfJoinMaterialize). */
  private def zippedEdges(s: SparkSession, dir: String): DataFrame =
    Fixture.memo(s, dir, "zipped_edges") {
      val df = buildZippedEdges(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  private def buildZippedEdges(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraphBuilder
    val nullS = lit(null).cast("string")
    val raw = s.read.parquet(s"$dir/customer.parquet").select(
      concat(lit("E-ZIP:"), col("c_custkey").cast("string")).as("edge_id"),
      concat(lit("CUST:"), col("c_custkey").cast("string")).as("subject"),
      concat(lit("NAT:"), col("c_nationkey").cast("string")).as("object"),
      lit(O.LocatedIn).as("predicate"),
      nullS.as("qualified_predicate"), nullS.as("object_direction"),
      nullS.as("object_aspect"), lit("infores:crm").as("primary_knowledge_source"),
      map(lit("note"),
        when(col("c_custkey") % 7 === 0, lit("")).otherwise(lit("ok"))).as("attrs"),
      map(lit("phase"), (col("c_custkey") % 9).cast("double") / 2.0).as("num_attrs"),
      map(
        lit("tags"), array(col("c_mktsegment"),
          concat(lit("tier"), (col("c_custkey") % 3).cast("string"))),
        lit("tag_scores"), array(
          concat(lit("s"), (col("c_custkey") % 4).cast("string")),
          when(col("c_custkey") % 5 === 0, lit(""))
            .otherwise(concat(lit("q"), (col("c_custkey") % 2).cast("string")))),
        lit("tp"), array(((col("c_custkey") % 9).cast("double") / 2.0).cast("string"))
      ).as("list_attrs"))
    GraphBuilder.zipListAttrs(
      GraphBuilder.pruneEmptyAttrs(GraphBuilder.coerceTrialPhases(raw, Seq("phase"))),
      specs = Map("tagged" -> Seq("tags", "tag_scores"), "trial" -> Seq("tp")),
      trialPhaseProps = Set("tp"))
  }

  /** Prepared-statement cache for the point-lookup fast path: a pure
   * graph lookup's DataFrame is built ONCE per (key, serving session,
   * store) and re-EXECUTED on every call — Spark plans a DataFrame
   * lazily and keeps the analyzed/optimized/compiled plan on the
   * instance, so repeat calls skip analysis + optimization + codegen
   * lookup and pay only job scheduling + the cached-partition scan.
   * This is the serving-layer analog of the reference pre-building its
   * lookup indexes once per boot (plover.py:1790 answer_query runs
   * against prebuilt dicts); each call still runs a fresh Spark job
   * over the shared cached graph, so results always reflect the store.
   *
   * The plans live in Fixture's memo, so they share its lifecycle: built
   * once outside the map's lock, dropped by `Fixture.closeServing` (which
   * also unpersists the operator-materialized frames they pinned) and
   * when their session's SparkContext stops. The construction-pure
   * pipeline keys (`PipelineEntry.preparedPure`) are prepared the same
   * way, keyed on the caller's batch session. */
  private[graft] def prepare(key: String, session: SparkSession, dir: String)
                            (build: => DataFrame): DataFrame =
    Fixture.memo(session, dir, s"prepared:$key")(build)

  /** Keys whose CONSTRUCTION is the operation under test — a file
   * export/spool/roundtrip or an eager guard probe. Serving them from
   * the prepared cache would skip that work, so they re-build per call. */
  private val sideEffecting = Set(
    "g25_kgx_roundtrip", "g29_cutoff_guard", "g30_ontology_roundtrip",
    "g32_subclass_from_file", "g34_kgx_url_spool", "g35_equiv_map_dump")

  /** One entry per implemented operator from SURVEY.md §2. Graph lookups
   * route through the serving session (Fixture.serving — answer-scale
   * shuffle config, shared cache) and, when pure, through the prepared-
   * plan cache; pipeline operators stay on the caller's batch session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graphQueries.map { case (k, f) =>
      if (sideEffecting(k))
        k -> ((s: SparkSession, d: String) => f(Fixture.serving(s), d))
      else
        k -> ((s: SparkSession, d: String) => {
          val sv = Fixture.serving(s)
          prepare(k, sv, d)(f(sv, d))
        })
    } ++ PipelineEntry.queries

  private def graphQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G1 — graph construction
    "g01_graph_nodes" -> ((s, dir) =>
      Fixture.graph(s, dir).nodes.select(col("id"), col("name"), sortedCats)
        .orderBy("id")),
    "g02_graph_edges" -> ((s, dir) =>
      Fixture.graph(s, dir).edges.select(
        col("edge_id"), col("subject"), col("object"), col("predicate"),
        col("qualified_predicate"), col("object_direction"), col("object_aspect"),
        col("primary_knowledge_source").as("src"))
        .orderBy("edge_id")),

    // G2 — one-hop forward
    "g03_onehop_fwd" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("n0", ids = custIds(1, 2, 7, 13, 42, 99)),
      QNode("n1", categories = Seq(O.Nation)),
      QEdge("n0", "n1", predicates = Seq(O.LocatedIn)))))),

    // G3 — one-hop reverse (pinned object side)
    "g04_onehop_rev" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("n_out", categories = Seq(O.Customer)),
      QNode("n_in", ids = natIds(1, 3, 5)),
      QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn)))))),

    // G4 — unconstrained predicate + output node
    "g05_onehop_open" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("n0", ids = natIds(7)),
      QNode("n1"),
      QEdge("n0", "n1"))))),

    // G5 — doubly-pinned
    "g06_onehop_pinned" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("n0", ids = natIds(0 to 11: _*)),
      QNode("n1", ids = Seq("REG:1", "REG:2")),
      QEdge("n0", "n1", predicates = Seq(O.PartOf)))))),

    // G6 — multiple ids / predicates / categories
    "g07_onehop_multi" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("n_out", categories = Seq(O.Customer, O.Nation)),
      QNode("n_in", ids = natIds(0, 1, 2)),
      QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn, O.AdjacentTo)))))),

    // G7 — category hierarchy (Actor -> Customer+Supplier)
    "g08_category_hierarchy" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("n_out", categories = Seq(O.Actor)),
      QNode("n_in", ids = natIds(3)),
      QEdge("n_out", "n_in", predicates = Seq(O.AffiliatedWith)))))),

    // G8 — predicate hierarchy (transacts -> supplied_by etc.)
    "g09_predicate_hierarchy" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("n0", ids = partIds(1 to 10: _*)),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.Transacts)))))),

    // G9 — symmetric predicate, both directions
    "g10_symmetric" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("n0", ids = natIds(4)),
      QNode("n1"),
      QEdge("n0", "n1", predicates = Seq(O.AdjacentTo)))))),

    // G10 — canonical predicate flip (query side; ingest flip feeds g02)
    "g11_canonical_flip" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("nb"),
      QNode("na", ids = custIds(1 to 6: _*)),
      QEdge("nb", "na", predicates = Seq(O.PlacedBy)))))),

    // G11 — subclass transitive closure table
    "g12_subclass_closure" -> ((s, dir) =>
      Fixture.closure(s, dir).orderBy("ancestor", "descendant")),

    // G12 — subclass expansion with query-id mapping
    "g13_subclass_expansion" -> ((s, dir) => oneHop(s, dir, QueryGraph.oneHop(
      QNode("n_out"),
      QNode("n_in", ids = Seq("REG:3")),
      QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))))
      .select(col("edge_id"), col("input_id"),
        col("input_query_id").as("query_id"), col("output_id"))
      .orderBy("edge_id", "input_id")),

    // G13 — edgeless single-node query
    "g14_single_node" -> ((s, dir) =>
      GraphOps.singleNode(s, Fixture.graph(s, dir),
        Seq("REG:1", "NAT:20", "CUST:3"), Some(Fixture.closure(s, dir)),
        index = Fixture.closureIndex(s, dir))
        .orderBy("node_id")),

    // G14 — qualified predicates with qualifier-value hierarchy
    "g15_qualified" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("nOrd"),
      QNode("nPart", ids = partIds(1 to 40: _*)),
      QEdge("nOrd", "nPart", qualifierConstraints = Seq(
        QualifierConstraint(qualifiedPredicate = Some(O.Ships),
          objectDirection = Some(O.Flagged)))))))),

    // G15 — attribute constraints (numeric >, negated ==, source alias)
    "g16_attr_constraint" -> ((s, dir) => bindings(oneHop(s, dir, QueryGraph.oneHop(
      QNode("nOut", categories = Seq(O.Customer)),
      QNode("nIn", ids = natIds(0 to 9: _*)),
      QEdge("nOut", "nIn", predicates = Seq(O.LocatedIn),
        attributeConstraints = Seq(
          AttributeConstraint("acctbal", ">", numValues = Seq(1000.0)),
          AttributeConstraint("mktsegment", "==", strValues = Seq("MACHINERY"),
            negated = true),
          AttributeConstraint("knowledge_source", "==",
            strValues = Seq("infores:crm")))))))),

    // G16 — preferred-id normalization + edge merge
    "g17_normalize_merge" -> ((s, dir) => {
      val g = Fixture.graph(s, dir)
      normalizeMerge(g, Normalizer.preferredIdMap(g.nodes))
    }),

    // G16 twin through the AIR-GAPPED equiv-map builder: the
    // (equiv -> preferred) map is derived from a node-normalization DUMP
    // file (ref: plover.py:429 _get_equiv_id_map_from_sri — here the
    // batch-file twin), then drives the same normalize+merge as g17, so
    // the oracle is shared: the map acquisition path is what's under
    // test.
    "g35_equiv_map_dump" -> ((s, dir) => {
      val g = Fixture.graph(s, dir)
      val dump = Spool.fresh("nodenorm-dump", dir)
      g.nodes.select(col("id"), col("equiv_ids").as("equivalent_identifiers"))
        .coalesce(1).write.mode("overwrite").json(dump)
      normalizeMerge(g, Normalizer.equivMapFromDump(s, dump, "jsonl"))
    }),

    // G17 — batch pair edge lookup
    "g18_get_edges" -> ((s, dir) =>
      GraphOps.getEdges(s, Fixture.graph(s, dir), Seq(
        ("NAT:0", "REG:0"), ("NAT:1", "NAT:2"), ("CUST:1", "NAT:7"),
        ("REG:0", "NAT:3")))
        .select("pair_key", "edge_id", "subject", "object", "predicate")
        .orderBy("pair_key", "edge_id")),

    // G18 — batch neighbors
    "g19_get_neighbors" -> ((s, dir) =>
      GraphOps.getNeighbors(s, Fixture.graph(s, dir), ont,
        natIds(0 to 4: _*), Seq(O.Customer), Seq(O.RelatedTo))
        .orderBy("input_id", "neighbor_id")),

    // G19 — meta knowledge graph
    "g20_meta_kg" -> ((s, dir) =>
      GraphOps.metaTriples(Fixture.metaSummary(s, dir))
        .select(col("subject_category"), col("predicate"), col("object_category"),
          concat_ws("|", col("attribute_names")).as("attribute_names"),
          concat_ws("|", col("qualified_predicates")).as("qualified_predicates"),
          concat_ws("|", col("object_directions")).as("object_directions"),
          concat_ws("|", col("object_aspects")).as("object_aspects"))
        .orderBy("subject_category", "predicate", "object_category")),
    "g21_meta_nodes" -> ((s, dir) =>
      GraphOps.metaNodes(Fixture.graph(s, dir))
        .select(col("category"), concat_ws("|", col("prefixes")).as("prefixes"))
        .orderBy("category")),

    // G20 — SRI test triples (shares the cached meta summary with g20)
    "g22_test_triples" -> ((s, dir) =>
      GraphOps.testTriples(Fixture.metaSummary(s, dir))
        .orderBy("subject_category", "predicate", "object_category")),

    // TRAPI attribute rendering from the config-driven shell map
    // (ref: plover.py:1424-1448, :2299-2321).
    "g26_trapi_attrs" -> ((s, dir) => {
      val cn = Fixture.graph(s, dir).edges
        .where(col("edge_id").startsWith("E-CN:"))
      TrapiAttributes.render(cn, attrShells, kpInforesCurie = "infores:graft")
        .orderBy("edge_id", "name")
    }),

    // Full TRAPI response envelope (ref: plover.py:2121-2410): columnar
    // knowledge_graph nodes/edges + results assembly for a subclass-
    // expanded located_in query (REG:3 -> its nation descendants), so the
    // result bindings exercise query_id. One row per envelope part.
    "g28_trapi_response" -> ((s, dir) => {
      val g = Fixture.graph(s, dir)
      val res = OneHop.answer(s, g, ont, QueryGraph.oneHop(
        QNode("n_out"),
        QNode("n_in", ids = Seq("REG:3")),
        QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
        closure = Some(Fixture.closure(s, dir)), expandSubclasses = true,
        index = Fixture.closureIndex(s, dir))
      TrapiResponse.assemble(res, g, attrShells,
        kpInforesCurie = "infores:graft", edgeKey = "e1",
        nodeAttrColumns = Seq("equiv_ids"))
        .orderBy("part", "key")
    }),

    // Legacy Pathfinder slim + ids-only response formats
    // (ref: plover.py:1877-1901, tuple renderers :1919-1933): the same
    // subclass-expanded located_in query as g28, rendered as positional
    // node/edge tuples and bare id lists instead of the full envelope.
    "g33_slim_response" -> ((s, dir) => {
      val g = Fixture.graph(s, dir)
      val res = OneHop.answer(s, g, ont, QueryGraph.oneHop(
        QNode("n_out"),
        QNode("n_in", ids = Seq("REG:3")),
        QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
        closure = Some(Fixture.closure(s, dir)), expandSubclasses = true,
        index = Fixture.closureIndex(s, dir))
      TrapiResponse.slim(res, g, edgeKey = "e1").orderBy("part", "key")
    }),

    // G23 — ingest transforms: trial-phase enum coercion, property zip
    // into list-of-structs (with nested coercion + empty pruning), empty
    // attribute pruning (ref: plover.py:1011-1059, :1742-1747).
    "g24_ingest_transforms" -> ((s, dir) => {
      zippedEdges(s, dir).select(
        col("edge_id"),
        coalesce(element_at(col("attrs"), "phase"),
          element_at(col("num_attrs"), "phase").cast("string")).as("phase"),
        element_at(col("attrs"), "note").as("note"),
        concat_ws("|", transform(col("tagged"),
          x => concat_ws(":", x.getField("tags"), x.getField("tag_scores"))))
          .as("tagged"),
        col("trial").getItem(0).getField("tp").as("trial"),
        concat_ws("|", map_keys(col("list_attrs"))).as("remaining_list_attrs"))
        .orderBy("edge_id")
    }),

    // G11 — subclass reasoning from an EXTERNAL subclass-edge file
    // (ref: plover.py:1521-1619): unknown-endpoint rows are dropped,
    // equivalent ids remap to preferred ids, a source allowlist filters,
    // superclass_of flips, and duplicate triples collapse.
    "g32_subclass_from_file" -> ((s, dir) => {
      val out = Spool.fresh("subclass-file", dir)
      val c = s.read.parquet(s"$dir/customer.parquet")
      def row(idPfx: String, subj: Column, obj: Column, pred: String,
              src: String)(rows: DataFrame) = rows.select(
        concat(lit(idPfx), col("c_custkey").cast("string")).as("id"),
        subj.as("subject"), obj.as("object"),
        lit(pred).as("predicate"), lit(src).as("primary_knowledge_source"))
      val equivId = concat(lit("CUSTNAME:"), col("c_name"))
      val natId = concat(lit("NAT:"), col("c_nationkey").cast("string"))
      // good rows address customers by EQUIVALENT id (must remap);
      // flipped rows duplicate some pairs via superclass_of (must dedup);
      // unknown endpoints and disallowed sources must be dropped.
      val good = row("SUB-F:", equivId, natId, "graft:subclass_of", "infores:tax")(c)
      val flipped = row("SUB-R:", natId, equivId, "graft:superclass_of",
        "infores:tax")(c.where(col("c_custkey") % 10 === 0))
      val unknown = row("SUB-X:", concat(lit("XXX:"), col("c_custkey").cast("string")),
        natId, "graft:subclass_of", "infores:tax")(c.where(col("c_custkey") % 11 === 0))
      val badSource = row("SUB-W:", equivId, lit("REG:0"), "graft:subclass_of",
        "infores:wiki")(c.where(col("c_custkey") % 13 === 0))
      good.unionAll(flipped).unionAll(unknown).unionAll(badSource)
        .coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(out)
      SubclassClosure.directFromFile(s, out, "tsv",
        Fixture.graph(s, dir).nodes, allowedSources = Set("infores:tax"))
        .orderBy("ancestor", "descendant")
    }),

    // G15 — attribute constraints on ZIPPED subattributes + trial-phase
    // reverse mapping (ref: plover.py:2440-2462, :2487-2500): the leader
    // values fulfill top-level, the tag_scores constraint must hold
    // within the same zipped element, and the numeric tp constraint
    // compares enum strings as their phase numbers (unmapped "3.5"
    // never matches, like the reference's TypeError).
    "g31_attr_constraint_nested" -> ((s, dir) => {
      import graft.operators.AttributeConstraints.ZipSpec
      val zips = Seq(
        ZipSpec("tagged", "tags", Seq("tags", "tag_scores")),
        ZipSpec("trial", "tp", Seq("tp")))
      val cs = Seq(
        AttributeConstraint("tags", "==", strValues = Seq("tier1")),
        AttributeConstraint("tag_scores", "==", strValues = Seq("q1")),
        AttributeConstraint("tp", ">=", numValues = Seq(2.0)))
      zippedEdges(s, dir)
        .where(AttributeConstraints.compileAll(cs, zips))
        .select("edge_id").orderBy("edge_id")
    }),

    // KGX source round-trip: export the fixture graph as gzipped KGX TSV,
    // re-ingest through KgxSource (typed value parsing, array splitting),
    // and emit the canonical edge table + re-typed attributes.
    "g25_kgx_roundtrip" -> ((s, dir) => {
      import graft.sources.KgxSource
      val out = Spool.fresh("kgx-roundtrip", dir)
      val g = Fixture.graph(s, dir)
      KgxSource.writeTsv(g, out, attrColumns = Seq("mktsegment", "acctbal", "tags"),
        compress = true)
      val cfg = KgxSource.KgxConfig(arrayProperties = Set("category", "tags"))
      val edges = KgxSource.readEdges(s, s"$out/edges", "tsv", cfg)
      edges.select(
        col("edge_id"), col("subject"), col("object"), col("predicate"),
        col("qualified_predicate"), col("object_direction"), col("object_aspect"),
        col("primary_knowledge_source").as("src"),
        element_at(col("attrs"), "mktsegment").as("mktsegment"),
        element_at(col("num_attrs"), "acctbal").as("acctbal_num"),
        element_at(col("attrs"), "acctbal").as("acctbal_str"),
        concat_ws(",", element_at(col("list_attrs"), "tags")).as("tags"))
        .orderBy("edge_id", "subject")
    }),

    // KGX ingest through the URL adapter (ref: plover.py:368
    // _download_remote_file): the exported edge TSVs are fetched as
    // file:// URLs through fetchToSpool (atomic rename + md5 sidecar +
    // idempotent re-fetch), then re-ingested from the SPOOL — the remote-
    // drop twin of g25, sharing its oracle.
    "g34_kgx_url_spool" -> ((s, dir) => {
      import graft.sources.KgxSource
      val out = Spool.fresh("kgx-url-src", dir)
      val g = Fixture.graph(s, dir)
      KgxSource.writeTsv(g, out, attrColumns = Seq("mktsegment", "acctbal", "tags"),
        compress = true)
      // fresh spool per drop: writeTsv emits new UUID part names each run,
      // and a spool that accumulates across drops would double-read
      val spool = Spool.fresh("kgx-url-spool", dir)
      val parts = new java.io.File(s"$out/edges").listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.foreach(f => KgxSource.fetchToSpool(f.toURI.toString, spool))
      val cfg = KgxSource.KgxConfig(arrayProperties = Set("category", "tags"))
      val edges = KgxSource.readEdges(s, spool, "tsv", cfg)
      edges.select(
        col("edge_id"), col("subject"), col("object"), col("predicate"),
        col("qualified_predicate"), col("object_direction"), col("object_aspect"),
        col("primary_knowledge_source").as("src"),
        element_at(col("attrs"), "mktsegment").as("mktsegment"),
        element_at(col("num_attrs"), "acctbal").as("acctbal_num"),
        element_at(col("attrs"), "acctbal").as("acctbal_str"),
        concat_ws(",", element_at(col("list_attrs"), "tags")).as("tags"))
        .orderBy("edge_id", "subject")
    }),

    // G21 — input-side is_set: the input group collapses to one result
    // row per output (ref: plover.py:2322-2410, test_kg2c.py
    // test_is_set_handling's input side).
    "g27_bindings_input_set" -> ((s, dir) => {
      val res = OneHop.answer(s, Fixture.graph(s, dir), ont, QueryGraph.oneHop(
        QNode("n_out"),
        QNode("n_in", ids = natIds(0, 1)),
        QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
        closure = None, expandSubclasses = false)
      GraphOps.resultBindings(res, inputIsSet = true, outputIsSet = false)
        .select(col("in_key"), col("out_key"),
          concat_ws("|", col("edge_ids")).as("edge_ids"),
          concat_ws("|", col("input_ids")).as("input_ids"),
          concat_ws("|", col("output_ids")).as("output_ids"))
        .orderBy("in_key", "out_key")
    }),

    // G22 — edge-count cutoff guard, driver-visible: the same open query
    // attempted under a limit it violates (guard throws, query rejected)
    // and one it satisfies (guard passes, count returned) —
    // ref: plover.py answer-size cutoff semantics.
    "g29_cutoff_guard" -> ((s, dir) => {
      import s.implicits._
      val qg = QueryGraph.oneHop(
        QNode("n0", ids = natIds(7)), QNode("n1"), QEdge("n0", "n1"))
      def attempt(limit: Long): (String, Boolean, Long) =
        try {
          val r = OneHop.answer(s, Fixture.graph(s, dir), ont, qg,
            closure = None, expandSubclasses = false, maxEdges = Some(limit))
          // the guard already counted distinct answer edges — reuse it
          val n = r.guardCount.get
          r.matches.unpersist()
          (s"limit_$limit", true, n)
        } catch {
          case _: IllegalStateException => (s"limit_$limit", false, -1L)
        }
      Seq(attempt(10L), attempt(1000000L))
        .toDF("guard_case", "passed", "n_edges").orderBy("guard_case")
    }),

    // G26 — ontology loader round-trip, driver-visible: export the live
    // ontology as a term-table TSV, re-load it through the file loader,
    // and emit the full term table (must reproduce the original exactly;
    // the oracle is the original ontology rendered as literal VALUES).
    "g30_ontology_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val path = Spool.target("ontology-roundtrip.tsv")
      graft.sources.OntologyLoader.writeTsv(ont, path)
      val ont2 = graft.sources.OntologyLoader.fromFile(s, path, "tsv")
      ontologyTermTable(ont2).toDF(
        "term", "parents", "is_mixin", "mappings", "is_symmetric", "canonical")
        .orderBy("term")
    }),

    // G21 — TRAPI result bindings with is_set grouping
    "g23_result_bindings" -> ((s, dir) => {
      val res = OneHop.answer(s, Fixture.graph(s, dir), ont, QueryGraph.oneHop(
        QNode("n_out"),
        QNode("n_in", ids = natIds(0, 1)),
        QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
        closure = None, expandSubclasses = false)
      GraphOps.resultBindings(res, inputIsSet = false, outputIsSet = true)
        .select(col("in_key"), col("out_key"),
          concat_ws("|", col("edge_ids")).as("edge_ids"),
          concat_ws("|", col("input_ids")).as("input_ids"),
          concat_ws("|", col("output_ids")).as("output_ids"))
        .orderBy("in_key", "out_key")
    }),

    // G31 — batched lookup serving: FIVE tagged probes (forward pinned,
    // reverse + category, doubly pinned, symmetric, subclass-expanded)
    // answered by ONE Spark job — plan size constant in the batch size
    // (ref: plover.py:1934 get_edges / :1982 get_neighbors batch
    // endpoints; see OneHop.answerBatch). The per-tag results are
    // row-identical to the g03/g04/g06/g10/g13 singles (BatchLookupSpec).
    "g36_batch_lookup" -> ((s, dir) =>
      OneHop.answerBatch(s, Fixture.graph(s, dir), ont, Seq(
        "t_fwd" -> QueryGraph.oneHop(
          QNode("n0", ids = custIds(1, 2, 7, 13, 42, 99)),
          QNode("n1", categories = Seq(O.Nation)),
          QEdge("n0", "n1", predicates = Seq(O.LocatedIn))),
        "t_rev" -> QueryGraph.oneHop(
          QNode("n_out", categories = Seq(O.Customer)),
          QNode("n_in", ids = natIds(1, 3, 5)),
          QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
        "t_pin" -> QueryGraph.oneHop(
          QNode("n0", ids = natIds(0 to 11: _*)),
          QNode("n1", ids = Seq("REG:1", "REG:2")),
          QEdge("n0", "n1", predicates = Seq(O.PartOf))),
        "t_sym" -> QueryGraph.oneHop(
          QNode("n0", ids = natIds(4)),
          QNode("n1"),
          QEdge("n0", "n1", predicates = Seq(O.AdjacentTo))),
        "t_exp" -> QueryGraph.oneHop(
          QNode("n_out"),
          QNode("n_in", ids = Seq("REG:3")),
          QEdge("n_out", "n_in", predicates = Seq(O.LocatedIn))),
        "t_qual" -> QueryGraph.oneHop( // g15 shape: per-tag gated conglomerate
          QNode("nOrd"),
          QNode("nPart", ids = partIds(1 to 40: _*)),
          QEdge("nOrd", "nPart", qualifierConstraints = Seq(
            QualifierConstraint(qualifiedPredicate = Some(O.Ships),
              objectDirection = Some(O.Flagged))))),
        "t_attr" -> QueryGraph.oneHop( // g16 shape: gated attribute filter
          QNode("nOut", categories = Seq(O.Customer)),
          QNode("nIn", ids = natIds(0 to 9: _*)),
          QEdge("nOut", "nIn", predicates = Seq(O.LocatedIn),
            attributeConstraints = Seq(
              AttributeConstraint("acctbal", ">", numValues = Seq(1000.0)),
              AttributeConstraint("mktsegment", "==",
                strValues = Seq("MACHINERY"), negated = true),
              AttributeConstraint("knowledge_source", "==",
                strValues = Seq("infores:crm")))))),
        closure = Some(Fixture.closure(s, dir)),
        index = Fixture.closureIndex(s, dir))
        .select(col("tag"), col("edge_id"), col("input_id"),
          col("input_query_id").as("query_id"), col("output_id"))
        .orderBy("tag", "edge_id", "input_id")),

    // G32 — multi-graph serving session: TWO graphs co-hosted in one
    // SparkSession behind name routing with a default-graph fallback
    // (ref main.py:50-69 name->engine map, :210-218 routed + bare
    // /query, min-name default). The SAME open one-hop probe (g05
    // shape) runs twice: once default-routed (must land on "alpha",
    // the full graph) and once against "beta", a located_in-only
    // logical slice of the same store — independent result sets from
    // one warm session, each with its own closed-form oracle branch.
    "g37_multi_graph" -> ((s, dir) => {
      val mg = multiGraph(s, dir)
      val qg = QueryGraph.oneHop(
        QNode("n0", ids = natIds(7)), QNode("n1"), QEdge("n0", "n1"))
      val a = bindings(mg.answer("g37", qg)) // None routes to default
        .withColumn("graph", lit("alpha"))
      val b = bindings(mg.answer("g37", qg, Some("beta")))
        .withColumn("graph", lit("beta"))
      a.unionAll(b)
        .select(col("graph"), col("edge_id"), col("input_id"), col("output_id"))
        .orderBy("graph", "edge_id", "input_id")
    }),

    // G32+G31 — batched lookups ROUTED by graph name: the same 2-probe
    // batch (g03 + g06 shapes) answered by alpha (full graph) and by
    // beta (the located_in-only slice), each through its own per-graph
    // prepared batch plan. t_fwd returns identically on both (its
    // predicate IS the slice); t_pin exists only on alpha — the
    // divergence proves the batch genuinely ran against the routed
    // graph, not the shared store.
    "g38_multi_graph_batch" -> ((s, dir) => {
      val mg = multiGraph(s, dir)
      val probes = Seq(
        "t_fwd" -> QueryGraph.oneHop(
          QNode("n0", ids = custIds(1, 2, 7)),
          QNode("n1", categories = Seq(O.Nation)),
          QEdge("n0", "n1", predicates = Seq(O.LocatedIn))),
        "t_pin" -> QueryGraph.oneHop(
          QNode("n0", ids = natIds(0 to 11: _*)),
          QNode("n1", ids = Seq("REG:1", "REG:2")),
          QEdge("n0", "n1", predicates = Seq(O.PartOf))))
      val a = mg.answerBatch("g38", probes).withColumn("graph", lit("alpha"))
      val b = mg.answerBatch("g38", probes, Some("beta"))
        .withColumn("graph", lit("beta"))
      a.unionAll(b)
        .select(col("graph"), col("tag"), col("edge_id"),
          col("input_id"), col("output_id"))
        .orderBy("graph", "tag", "edge_id", "input_id")
    }),

    // G33 — graph-side incremental refresh (r19): a KGX delta (added /
    // removed / modified nodes AND edges, incl. node-tombstone cascade
    // and edges onto added nodes) applies to the BUILT graph through
    // GraphDelta — anti-join + union on broadcast delta keys, denorm
    // categories refreshed partition-wise, closure untouched (this
    // delta has no subclass edges; GraphDeltaSpec pins that and the
    // rebuild lane). The oracle re-derives the ENTIRE post-delta edge
    // (g39) and node (g40) tables closed-form, so a slipped tombstone,
    // a missed cascade, an un-flipped upsert, or a stale denorm row
    // diverges the hash.
    "g39_graph_delta" -> ((s, dir) =>
      deltaApplied(s, dir).graph.edges.select(
        col("edge_id"), col("subject"), col("object"), col("predicate"),
        col("qualified_predicate"), col("object_direction"),
        col("object_aspect"),
        col("primary_knowledge_source").as("src"))
        .orderBy("edge_id")),

    "g40_graph_delta_nodes" -> ((s, dir) =>
      deltaApplied(s, dir).graph.nodes
        .select(col("id"), col("name"), sortedCats).orderBy("id"))
  )

  /** Cached delta application for g39/g40 (the two keys project one
   * apply). The base graph and closure come from the shared Fixture
   * caches — applying a delta never rebuilds them. */
  private def deltaApplied(s: SparkSession, dir: String)
      : graft.sources.GraphDelta.Applied =
    Fixture.memo(s, dir, "delta_applied") {
      graft.sources.GraphDelta.apply(
        Fixture.graph(s, dir), Fixture.closure(s, dir),
        TpchGraph.fixtureDelta(s, dir), ont)
    }

  /** Two-graph registry for g37: "alpha" hosts the full store-backed
   * graph (sharing the Fixture caches with every single-graph key —
   * co-hosting costs nothing extra for it); "beta" co-hosts a
   * located_in-only logical slice of the SAME store, its cached slice
   * frames registered as `owned` so releasing beta never cold-starts
   * alpha. Both get the store's closure + driver index (same node
   * hierarchy). */
  private def multiGraph(s: SparkSession, dir: String): graft.serving.MultiGraph =
    Fixture.memo(s, dir, "multi_graph") {
      import graft.serving.{HostedGraph, MultiGraph}
      val mg = new MultiGraph(s, ont)
      val g = Fixture.graph(s, dir)
      val closure = Some(Fixture.closure(s, dir))
      val idx = Fixture.closureIndex(s, dir)
      mg.register("alpha", HostedGraph(g, closure, idx))
      val betaEdges = g.edges.where(col("predicate") === O.LocatedIn).cache()
      val betaRev = g.reverseEdges.where(col("predicate") === O.LocatedIn).cache()
      mg.register("beta", HostedGraph(
        PropertyGraph(g.nodes, betaEdges, Some(betaRev)), closure, idx,
        owned = Seq(betaEdges, betaRev)))
      mg
    }

  /** The g17/g35 normalize+merge body: duplicate CUST->NAT edges under
   * their alias id, then remap through `prefMap` and merge — shared so
   * the two keys differ ONLY in how the preferred-id map was acquired. */
  private def normalizeMerge(g: PropertyGraph,
                             prefMap: DataFrame): DataFrame = {
    val cn = g.edges.where(col("edge_id").startsWith("E-CN:"))
    val aliased = cn
      .join(g.nodes.select(col("id").as("subject"), col("equiv_ids")), Seq("subject"))
      .withColumn("subject", element_at(col("equiv_ids"), 1))
      .drop("equiv_ids")
      .withColumn("edge_id", concat(lit("ALIAS-"), col("edge_id")))
      .select(cn.columns.map(col): _*)
    Normalizer.normalize(cn.unionAll(aliased), prefMap)
      .select(col("edge_id"), col("subject"), col("object"),
        col("n_merged").cast("long").as("n_merged"),
        concat_ws("|", col("list_attrs")("tags")).as("tags"))
      .orderBy("edge_id")
  }

  private val idList: Seq[String] => String = ids => ids.map("'" + _ + "'").mkString(", ")

  /** Canonical term-table rows for an ontology (shared by the g30 query
   * and its VALUES oracle so both render identically). */
  private def ontologyTermTable(o: graft.model.Ontology)
      : Seq[(String, String, Boolean, String, Boolean, String)] = {
    val all = (o.terms ++ o.canonicalOf.keySet ++ o.mixins ++ o.symmetric).toSeq.sorted
    all.map { t =>
      (t,
        o.parents.getOrElse(t, Set.empty).toSeq.sorted.mkString("|"),
        o.mixins(t),
        o.mixinDirectMap.getOrElse(t, Set.empty).toSeq.sorted.mkString("|"),
        o.symmetric(t),
        o.canonicalOf.getOrElse(t, ""))
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    graphOracleSql ++ PipelineEntry.oracleSql

  private def graphOracleSql: Map[String, String] = {
    val m = graphOracleBase
    // Shared oracles: g34 differs from g25 (and g35 from g17) only in the
    // acquisition path (URL spool / node-norm dump), not the result.
    m + ("g34_kgx_url_spool" -> m("g25_kgx_roundtrip")) +
      ("g35_equiv_map_dump" -> m("g17_normalize_merge"))
  }

  private def graphOracleBase: Map[String, String] = Map(
    "g01_graph_nodes" -> TpchGraph.oracle(
      "SELECT id, name, cats FROM g_nodes ORDER BY id"),

    "g02_graph_edges" -> TpchGraph.oracle(
      """SELECT edge_id, subject, object, predicate, qualified_predicate,
         object_direction, object_aspect, src FROM g_edges ORDER BY edge_id"""),

    "g03_onehop_fwd" -> TpchGraph.oracle(
      s"""SELECT edge_id, subject AS input_id, object AS output_id FROM g_edges
          WHERE predicate = 'graft:located_in'
            AND subject IN (${idList(custIds(1, 2, 7, 13, 42, 99))})
          ORDER BY edge_id, input_id"""),

    "g04_onehop_rev" -> TpchGraph.oracle(
      s"""SELECT edge_id, object AS input_id, subject AS output_id FROM g_edges
          WHERE predicate = 'graft:located_in'
            AND object IN (${idList(natIds(1, 3, 5))})
            AND subject LIKE 'CUST:%'
          ORDER BY edge_id, input_id"""),

    "g05_onehop_open" -> TpchGraph.oracle(
      """SELECT e.edge_id, e.subject AS input_id, e.object AS output_id
         FROM g_edges e JOIN s ON e.subject = s.id
         UNION ALL
         SELECT e.edge_id, e.object, e.subject
         FROM g_edges e JOIN s ON e.object = s.id
         ORDER BY edge_id, input_id""",
      extraCtes = """s AS (SELECT 'NAT:7' AS id
         UNION ALL SELECT 'CUST:' || c_custkey FROM customer WHERE c_nationkey = 7)"""),

    "g06_onehop_pinned" -> TpchGraph.oracle(
      s"""SELECT edge_id, subject AS input_id, object AS output_id FROM g_edges
          WHERE predicate = 'graft:part_of'
            AND subject IN (${idList(natIds(0 to 11: _*))})
            AND object IN ('REG:1', 'REG:2')
          ORDER BY edge_id, input_id"""),

    "g07_onehop_multi" -> TpchGraph.oracle(
      """SELECT e.edge_id, e.object AS input_id, e.subject AS output_id
         FROM g_edges e JOIN s ON e.object = s.id
         WHERE e.predicate = 'graft:located_in' AND e.subject LIKE 'CUST:%'
         UNION ALL
         SELECT e.edge_id, e.subject, e.object
         FROM g_edges e JOIN s ON e.subject = s.id
         WHERE e.predicate = 'graft:adjacent_to'
         UNION ALL
         SELECT e.edge_id, e.object, e.subject
         FROM g_edges e JOIN s ON e.object = s.id
         WHERE e.predicate = 'graft:adjacent_to'
         ORDER BY edge_id, input_id""",
      extraCtes = """s AS (SELECT 'NAT:0' AS id UNION ALL SELECT 'NAT:1' UNION ALL SELECT 'NAT:2'
         UNION ALL SELECT 'CUST:' || c_custkey FROM customer WHERE c_nationkey <= 2)"""),

    "g08_category_hierarchy" -> TpchGraph.oracle(
      """SELECT edge_id, object AS input_id, subject AS output_id FROM g_edges
         WHERE predicate = 'graft:located_in' AND object = 'NAT:3'
         ORDER BY edge_id, input_id"""),

    "g09_predicate_hierarchy" -> TpchGraph.oracle(
      s"""SELECT edge_id, subject AS input_id, object AS output_id FROM g_edges
          WHERE predicate = 'graft:supplied_by'
            AND subject IN (${idList(partIds(1 to 10: _*))})
          ORDER BY edge_id, input_id"""),

    "g10_symmetric" -> TpchGraph.oracle(
      """SELECT edge_id, subject AS input_id, object AS output_id FROM g_edges
         WHERE predicate = 'graft:adjacent_to' AND subject = 'NAT:4'
         UNION ALL
         SELECT edge_id, object, subject FROM g_edges
         WHERE predicate = 'graft:adjacent_to' AND object = 'NAT:4'
         ORDER BY edge_id, input_id"""),

    "g11_canonical_flip" -> TpchGraph.oracle(
      s"""SELECT edge_id, subject AS input_id, object AS output_id FROM g_edges
          WHERE predicate = 'graft:placed'
            AND subject IN (${idList(custIds(1 to 6: _*))})
          ORDER BY edge_id, input_id"""),

    "g12_subclass_closure" -> TpchGraph.oracle(
      "SELECT ancestor, descendant FROM g_closure ORDER BY ancestor, descendant"),

    "g13_subclass_expansion" -> TpchGraph.oracle(
      """SELECT e.edge_id, e.object AS input_id, 'REG:3' AS query_id,
                e.subject AS output_id
         FROM g_edges e
         JOIN nation n ON e.object = 'NAT:' || n.n_nationkey AND n.n_regionkey = 3
         WHERE e.predicate = 'graft:located_in'
         ORDER BY edge_id, input_id"""),

    // The five tagged probes of the batch, each the SQL of its single-
    // query twin (g03/g04/g06/g10/g13) with the tag as a literal column.
    "g36_batch_lookup" -> TpchGraph.oracle(
      s"""SELECT 't_fwd' AS tag, edge_id, subject AS input_id,
                 CAST(NULL AS VARCHAR) AS query_id, object AS output_id
          FROM g_edges
          WHERE predicate = 'graft:located_in'
            AND subject IN (${idList(custIds(1, 2, 7, 13, 42, 99))})
          UNION ALL
          SELECT 't_rev', edge_id, object, CAST(NULL AS VARCHAR), subject
          FROM g_edges
          WHERE predicate = 'graft:located_in'
            AND object IN (${idList(natIds(1, 3, 5))})
            AND subject LIKE 'CUST:%'
          UNION ALL
          SELECT 't_pin', edge_id, subject, CAST(NULL AS VARCHAR), object
          FROM g_edges
          WHERE predicate = 'graft:part_of'
            AND subject IN (${idList(natIds(0 to 11: _*))})
            AND object IN ('REG:1', 'REG:2')
          UNION ALL
          SELECT 't_sym', edge_id, subject, CAST(NULL AS VARCHAR), object
          FROM g_edges
          WHERE predicate = 'graft:adjacent_to' AND subject = 'NAT:4'
          UNION ALL
          SELECT 't_sym', edge_id, object, CAST(NULL AS VARCHAR), subject
          FROM g_edges
          WHERE predicate = 'graft:adjacent_to' AND object = 'NAT:4'
          UNION ALL
          SELECT 't_exp', e.edge_id, e.object, 'REG:3', e.subject
          FROM g_edges e
          JOIN nation n ON e.object = 'NAT:' || n.n_nationkey AND n.n_regionkey = 3
          WHERE e.predicate = 'graft:located_in'
          UNION ALL
          SELECT 't_qual', edge_id, object, CAST(NULL AS VARCHAR), subject
          FROM g_edges
          WHERE qualified_predicate = 'graft:ships'
            AND object_direction IN ('graft:returned', 'graft:accepted')
            AND object IN (${idList(partIds(1 to 40: _*))})
          UNION ALL
          SELECT 't_attr', e.edge_id, e.object, CAST(NULL AS VARCHAR), e.subject
          FROM g_edges e JOIN customer c ON e.subject = 'CUST:' || c.c_custkey
          WHERE e.predicate = 'graft:located_in'
            AND e.object IN (${idList(natIds(0 to 9: _*))})
            AND c.c_acctbal > 1000 AND c.c_mktsegment <> 'MACHINERY'
          ORDER BY tag, edge_id, input_id"""),

    // Both branches run the g05 open probe over the same expanded id set
    // `s`; alpha sees every edge, beta only the located_in slice.
    "g37_multi_graph" -> TpchGraph.oracle(
      """SELECT graph, edge_id, input_id, output_id FROM (
           SELECT 'alpha' AS graph, e.edge_id, e.subject AS input_id,
                  e.object AS output_id
           FROM g_edges e JOIN s ON e.subject = s.id
           UNION ALL
           SELECT 'alpha', e.edge_id, e.object, e.subject
           FROM g_edges e JOIN s ON e.object = s.id
           UNION ALL
           SELECT 'beta', e.edge_id, e.subject, e.object
           FROM g_edges e JOIN s ON e.subject = s.id
           WHERE e.predicate = 'graft:located_in'
           UNION ALL
           SELECT 'beta', e.edge_id, e.object, e.subject
           FROM g_edges e JOIN s ON e.object = s.id
           WHERE e.predicate = 'graft:located_in')
         ORDER BY graph, edge_id, input_id""",
      extraCtes = """s AS (SELECT 'NAT:7' AS id
         UNION ALL SELECT 'CUST:' || c_custkey FROM customer WHERE c_nationkey = 7)"""),

    // Routed batch: alpha answers both probes; beta only the one whose
    // predicate survives its located_in slice.
    "g38_multi_graph_batch" -> TpchGraph.oracle(
      s"""SELECT 'alpha' AS graph, 't_fwd' AS tag, edge_id,
                 subject AS input_id, object AS output_id
          FROM g_edges
          WHERE predicate = 'graft:located_in'
            AND subject IN (${idList(custIds(1, 2, 7))})
          UNION ALL
          SELECT 'alpha', 't_pin', edge_id, subject, object
          FROM g_edges
          WHERE predicate = 'graft:part_of'
            AND subject IN (${idList(natIds(0 to 11: _*))})
            AND object IN ('REG:1', 'REG:2')
          UNION ALL
          SELECT 'beta', 't_fwd', edge_id, subject, object
          FROM g_edges
          WHERE predicate = 'graft:located_in'
            AND subject IN (${idList(custIds(1, 2, 7))})
          ORDER BY graph, tag, edge_id, input_id"""),

    // g39/g40: the ENTIRE post-delta edge/node tables re-derived
    // closed-form from the delta rules (see TpchGraph.fixtureDelta).
    "g39_graph_delta" -> TpchGraph.oracle(
      """SELECT edge_id, subject, object, predicate, qualified_predicate,
                object_direction, object_aspect, src
         FROM post_edges ORDER BY edge_id""",
      extraCtes = """dead_ord AS (
  SELECT 'ORD:' || o_orderkey AS id FROM orders WHERE o_orderkey % 1000 = 7
),
post_edges AS (
  SELECT * FROM g_edges
  WHERE NOT (edge_id LIKE 'E-ADJ:%'
             AND CAST(string_split(edge_id, ':')[2] AS BIGINT) % 2 = 0)
    AND NOT (edge_id LIKE 'E-CN:%'
             AND CAST(string_split(edge_id, ':')[2] AS BIGINT) % 7 = 0)
    AND subject NOT IN (SELECT id FROM dead_ord)
    AND object NOT IN (SELECT id FROM dead_ord)
  UNION ALL
  SELECT 'E-CN:' || c_custkey, 'CUST:' || c_custkey, 'NAT:' || c_nationkey,
         'graft:located_in', NULL, NULL, NULL, 'infores:crm2',
         'acctbal|mktsegment|tags'
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT 'E-HUB:' || n_nationkey, 'HUB:' || n_nationkey,
         'NAT:' || n_nationkey, 'graft:located_in',
         NULL, NULL, NULL, 'infores:geo', ''
  FROM nation
)"""),

    "g40_graph_delta_nodes" -> TpchGraph.oracle(
      """SELECT id, name, cats FROM post_nodes ORDER BY id""",
      extraCtes = """post_nodes AS (
  SELECT id,
    CASE WHEN id LIKE 'CUST:%'
              AND CAST(string_split(id, ':')[2] AS BIGINT) % 10 = 3
         THEN name || ' (r2)' ELSE name END AS name,
    cats FROM g_nodes
  WHERE NOT (id LIKE 'ORD:%'
             AND CAST(string_split(id, ':')[2] AS BIGINT) % 1000 = 7)
  UNION ALL
  SELECT 'HUB:' || n_nationkey, 'Hub ' || n_name, 'graft:Place' FROM nation
)"""),

    "g14_single_node" -> TpchGraph.oracle(
      """SELECT node_id, query_id FROM (
           SELECT unnest(['REG:1', 'NAT:20', 'CUST:3']) AS node_id,
                  CAST(NULL AS VARCHAR) AS query_id
           UNION ALL
           SELECT descendant, min(ancestor) FROM g_closure
           WHERE ancestor IN ('REG:1', 'NAT:20', 'CUST:3')
             AND descendant NOT IN ('REG:1', 'NAT:20', 'CUST:3')
           GROUP BY descendant)
         ORDER BY node_id"""),

    "g15_qualified" -> TpchGraph.oracle(
      s"""SELECT edge_id, object AS input_id, subject AS output_id FROM g_edges
          WHERE qualified_predicate = 'graft:ships'
            AND object_direction IN ('graft:returned', 'graft:accepted')
            AND object IN (${idList(partIds(1 to 40: _*))})
          ORDER BY edge_id, input_id"""),

    "g16_attr_constraint" -> TpchGraph.oracle(
      s"""SELECT e.edge_id, e.object AS input_id, e.subject AS output_id
          FROM g_edges e JOIN customer c ON e.subject = 'CUST:' || c.c_custkey
          WHERE e.predicate = 'graft:located_in'
            AND e.object IN (${idList(natIds(0 to 9: _*))})
            AND c.c_acctbal > 1000 AND c.c_mktsegment <> 'MACHINERY'
          ORDER BY edge_id, input_id"""),

    "g17_normalize_merge" -> TpchGraph.oracle(
      """SELECT 'CUST:' || c_custkey || '--graft:located_in--NAT:' || c_nationkey
             || '--infores:crm' AS edge_id,
           'CUST:' || c_custkey AS subject, 'NAT:' || c_nationkey AS object,
           2 AS n_merged,
           c_mktsegment || '|' || c_mktsegment || '|tier' || (c_custkey % 3)
             || '|tier' || (c_custkey % 3) AS tags
         FROM customer ORDER BY edge_id"""),

    "g18_get_edges" -> TpchGraph.oracle(
      """SELECT p.pair_key, e.edge_id, e.subject, e.object, e.predicate
         FROM g_edges e
         JOIN p ON least(e.subject, e.object) = p.lo
               AND greatest(e.subject, e.object) = p.hi
         ORDER BY pair_key, edge_id""",
      extraCtes = """p AS (
         SELECT 'NAT:0--REG:0' AS pair_key, 'NAT:0' AS lo, 'REG:0' AS hi
         UNION ALL SELECT 'NAT:1--NAT:2', 'NAT:1', 'NAT:2'
         UNION ALL SELECT 'CUST:1--NAT:7', 'CUST:1', 'NAT:7'
         UNION ALL SELECT 'REG:0--NAT:3', 'NAT:3', 'REG:0')"""),

    "g19_get_neighbors" -> TpchGraph.oracle(
      """SELECT DISTINCT 'NAT:' || c_nationkey AS input_id,
                'CUST:' || c_custkey AS neighbor_id
         FROM customer WHERE c_nationkey <= 4
         ORDER BY input_id, neighbor_id"""),

    "g20_meta_kg" -> TpchGraph.oracle(
      """SELECT subject_category, predicate, object_category,
           coalesce(string_agg(DISTINCT attr_name, '|' ORDER BY attr_name), '')
             AS attribute_names,
           coalesce(string_agg(DISTINCT qualified_predicate, '|'
             ORDER BY qualified_predicate), '') AS qualified_predicates,
           coalesce(string_agg(DISTINCT object_direction, '|'
             ORDER BY object_direction), '') AS object_directions,
           coalesce(string_agg(DISTINCT object_aspect, '|'
             ORDER BY object_aspect), '') AS object_aspects
         FROM (
           SELECT sc.cat AS subject_category, e.predicate,
                  oc.cat AS object_category, e.qualified_predicate,
                  e.object_direction, e.object_aspect,
                  unnest(CASE WHEN e.attr_names = '' THEN [NULL]
                         ELSE string_split(e.attr_names, '|') END) AS attr_name
           FROM g_edges e
           JOIN gcats sc ON sc.id = e.subject
           JOIN gcats oc ON oc.id = e.object)
         GROUP BY 1, 2, 3
         ORDER BY subject_category, predicate, object_category""",
      extraCtes = "gcats AS (SELECT id, unnest(string_split(cats, '|')) AS cat FROM g_nodes)"),

    "g21_meta_nodes" -> TpchGraph.oracle(
      """SELECT category,
           string_agg(DISTINCT prefix, '|' ORDER BY prefix) AS prefixes
         FROM (SELECT unnest(string_split(cats, '|')) AS category,
                      split_part(id, ':', 1) AS prefix
               FROM g_nodes)
         GROUP BY category ORDER BY category"""),

    "g22_test_triples" -> TpchGraph.oracle(
      """SELECT pc_s.cat AS subject_category, e.predicate,
                pc_o.cat AS object_category,
                arg_min(e.subject, e.edge_id) AS subject_id,
                arg_min(e.object, e.edge_id) AS object_id,
                min(e.edge_id) AS example_edge_id
         FROM g_edges e
         JOIN pc pc_s ON pc_s.prefix = split_part(e.subject, ':', 1)
         JOIN pc pc_o ON pc_o.prefix = split_part(e.object, ':', 1)
         GROUP BY 1, 2, 3
         ORDER BY subject_category, predicate, object_category""",
      extraCtes = """pc AS (
         SELECT * FROM (VALUES ('REG', 'graft:Region'), ('NAT', 'graft:Nation'),
           ('CUST', 'graft:Customer'), ('SUPP', 'graft:Supplier'),
           ('PART', 'graft:Part'), ('PART', 'graft:Tradeable'),
           ('ORD', 'graft:Order')) AS t(prefix, cat))"""),

    "g24_ingest_transforms" -> {
      // Enum CASE generated from the same map the builder uses; code 7
      // (= phase 3.5) is deliberately unmapped and stays numeric.
      val enumCase = (0 to 8).map { code =>
        val phase = code / 2.0
        val v = graft.sources.GraphBuilder.TrialPhasesMap
          .getOrElse(phase, phase.toString)
        s"WHEN $code THEN '$v'"
      }.mkString(" ")
      s"""SELECT 'E-ZIP:' || c_custkey AS edge_id,
           CASE (c_custkey % 9) $enumCase END AS phase,
           CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE 'ok' END AS note,
           c_mktsegment || ':s' || (c_custkey % 4) || '|tier' || (c_custkey % 3)
             || CASE WHEN c_custkey % 5 = 0 THEN ''
                     ELSE ':q' || (c_custkey % 2) END AS tagged,
           CASE (c_custkey % 9) $enumCase END AS trial,
           '' AS remaining_list_attrs
         FROM customer ORDER BY edge_id"""
    },

    "g26_trapi_attrs" ->
      """SELECT 'E-CN:' || c_custkey AS edge_id, 'acctbal' AS name,
           'graft:account_balance' AS attribute_type_id,
           c_acctbal::VARCHAR AS value, 'metatype:Decimal' AS value_type_id,
           'infores:crm' AS attribute_source, CAST(NULL AS VARCHAR) AS value_url
         FROM customer
         UNION ALL
         SELECT 'E-CN:' || c_custkey, 'mktsegment', 'graft:market_segment',
           c_mktsegment, 'metatype:String', 'infores:graft', NULL
         FROM customer
         UNION ALL
         SELECT 'E-CN:' || c_custkey, 'tags', 'graft:tags',
           c_mktsegment || ',tier' || (c_custkey % 3), NULL, NULL,
           'https://graft.example/tag/' || c_mktsegment || ',tier' || (c_custkey % 3)
         FROM customer
         ORDER BY edge_id, name""",

    "g25_kgx_roundtrip" -> TpchGraph.oracle(
      """SELECT e.edge_id, e.subject, e.object, e.predicate,
           e.qualified_predicate, e.object_direction, e.object_aspect, e.src,
           c.c_mktsegment AS mktsegment,
           CASE WHEN coalesce(c.c_acctbal, s.s_acctbal) >= 0
                THEN coalesce(c.c_acctbal, s.s_acctbal) END AS acctbal_num,
           CASE WHEN coalesce(c.c_acctbal, s.s_acctbal) < 0
                THEN coalesce(c.c_acctbal, s.s_acctbal)::VARCHAR END AS acctbal_str,
           coalesce(CASE WHEN c.c_custkey IS NOT NULL
                THEN c.c_mktsegment || ',tier' || (c.c_custkey % 3) END, '') AS tags
         FROM g_edges e
         LEFT JOIN customer c ON e.edge_id = 'E-CN:' || c.c_custkey
         LEFT JOIN supplier s ON e.edge_id = 'E-SN:' || s.s_suppkey
         ORDER BY edge_id, subject"""),

    "g32_subclass_from_file" ->
      """SELECT 'NAT:' || c_nationkey AS ancestor, 'CUST:' || c_custkey AS descendant
         FROM customer ORDER BY ancestor, descendant""",

    // tier1 => c%3=1; tag_scores q1 present => c%2=1 and c%5<>0 (empty
    // scores are pruned); tp>=2.0 via reversed enum => c%9 in {4,5,6,8}
    // (7 -> "3.5" stays unmapped and never matches).
    "g31_attr_constraint_nested" ->
      """SELECT 'E-ZIP:' || c_custkey AS edge_id FROM customer
         WHERE c_custkey % 3 = 1
           AND c_custkey % 2 = 1 AND c_custkey % 5 <> 0
           AND (c_custkey % 9) IN (4, 5, 6, 8)
         ORDER BY edge_id""",

    "g29_cutoff_guard" -> TpchGraph.oracle(
      """SELECT * FROM (
           SELECT 'limit_10' AS guard_case, false AS passed, -1::BIGINT AS n_edges
           UNION ALL
           SELECT 'limit_1000000', true, (SELECT count(DISTINCT edge_id) FROM m))
         ORDER BY guard_case""",
      extraCtes = """s AS (SELECT 'NAT:7' AS id),
m AS (SELECT e.edge_id FROM g_edges e JOIN s ON e.subject = s.id
      UNION ALL
      SELECT e.edge_id FROM g_edges e JOIN s ON e.object = s.id)"""),

    "g30_ontology_roundtrip" -> {
      val rows = ontologyTermTable(ont).map { case (t, p, mx, m, sym, c) =>
        s"('$t', '$p', $mx, '$m', $sym, '$c')"
      }.mkString(",\n  ")
      s"""SELECT * FROM (VALUES
  $rows) AS t(term, parents, is_mixin, mappings, is_symmetric, canonical)
ORDER BY term"""
    },

    "g28_trapi_response" -> TpchGraph.oracle(
      """SELECT part, key, json FROM (
           SELECT 'node' AS part, nat_id AS key,
             '{"name":"' || n_name || '","categories":["graft:Nation"],"attributes":[]}' AS json
           FROM r3 WHERE nat_id IN (SELECT nat_id FROM ce UNION SELECT nat_id FROM se)
           UNION ALL
           SELECT 'node', 'CUST:' || c_custkey,
             '{"name":"' || c_name || '","categories":["graft:Customer"],"attributes":[{"attribute_type_id":"equiv_ids","value":"CUSTNAME:' || c_name || '"}]}'
           FROM ce
           UNION ALL
           SELECT 'node', 'SUPP:' || s_suppkey,
             '{"name":"' || s_name || '","categories":["graft:Supplier"],"attributes":[]}'
           FROM se
           UNION ALL
           SELECT 'edge', 'E-CN:' || c_custkey,
             '{"subject":"CUST:' || c_custkey || '","object":"' || nat_id
             || '","predicate":"graft:located_in","sources":[{"resource_id":"infores:crm","resource_role":"primary_knowledge_source"},{"resource_id":"infores:graft","resource_role":"aggregator_knowledge_source","upstream_resource_ids":["infores:crm"]}],"attributes":[{"attribute_type_id":"graft:account_balance","value":"'
             || c_acctbal::VARCHAR || '","value_type_id":"metatype:Decimal","attribute_source":"infores:crm"},{"attribute_type_id":"graft:market_segment","value":"'
             || c_mktsegment || '","value_type_id":"metatype:String","attribute_source":"infores:graft"},{"attribute_type_id":"graft:tags","value":"'
             || c_mktsegment || ',tier' || (c_custkey % 3) || '","value_url":"https://graft.example/tag/'
             || c_mktsegment || ',tier' || (c_custkey % 3) || '"}]}'
           FROM ce
           UNION ALL
           SELECT 'edge', 'E-SN:' || s_suppkey,
             '{"subject":"SUPP:' || s_suppkey || '","object":"' || nat_id
             || '","predicate":"graft:located_in","sources":[{"resource_id":"infores:crm","resource_role":"primary_knowledge_source"},{"resource_id":"infores:graft","resource_role":"aggregator_knowledge_source","upstream_resource_ids":["infores:crm"]}],"attributes":[{"attribute_type_id":"graft:account_balance","value":"'
             || s_acctbal::VARCHAR || '","value_type_id":"metatype:Decimal","attribute_source":"infores:crm"}]}'
           FROM se
           UNION ALL
           SELECT 'result', nat_id || '--CUST:' || c_custkey,
             '{"node_bindings":{"n_in":[{"id":"' || nat_id
             || '","attributes":[],"query_id":"REG:3"}],"n_out":[{"id":"CUST:' || c_custkey
             || '","attributes":[]}]},"analyses":[{"edge_bindings":{"e1":[{"id":"E-CN:' || c_custkey
             || '","attributes":[]}]},"resource_id":"infores:graft"}],"resource_id":"infores:graft"}'
           FROM ce
           UNION ALL
           SELECT 'result', nat_id || '--SUPP:' || s_suppkey,
             '{"node_bindings":{"n_in":[{"id":"' || nat_id
             || '","attributes":[],"query_id":"REG:3"}],"n_out":[{"id":"SUPP:' || s_suppkey
             || '","attributes":[]}]},"analyses":[{"edge_bindings":{"e1":[{"id":"E-SN:' || s_suppkey
             || '","attributes":[]}]},"resource_id":"infores:graft"}],"resource_id":"infores:graft"}'
           FROM se)
         ORDER BY part, key""",
      extraCtes = """r3 AS (SELECT 'NAT:' || n_nationkey AS nat_id, n_name FROM nation WHERE n_regionkey = 3),
ce AS (SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal, r.nat_id
       FROM customer c JOIN r3 r ON 'NAT:' || c.c_nationkey = r.nat_id),
se AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, r.nat_id
       FROM supplier s JOIN r3 r ON 'NAT:' || s.s_nationkey = r.nat_id)"""),

    "g33_slim_response" -> TpchGraph.oracle(
      """SELECT part, key, json FROM (
           SELECT 'slim_node:n_in' AS part, nat_id AS key,
             '["' || n_name || '","graft:Nation",["REG:3"]]' AS json
           FROM r3 WHERE nat_id IN (SELECT nat_id FROM ce UNION SELECT nat_id FROM se)
           UNION ALL
           SELECT 'slim_node:n_out', 'CUST:' || c_custkey,
             '["' || c_name || '","graft:Customer",[]]'
           FROM ce
           UNION ALL
           SELECT 'slim_node:n_out', 'SUPP:' || s_suppkey,
             '["' || s_name || '","graft:Supplier",[]]'
           FROM se
           UNION ALL
           SELECT 'slim_edge:e1', 'E-CN:' || c_custkey,
             '["CUST:' || c_custkey || '","' || nat_id
             || '","graft:located_in","infores:crm","","","","False"]'
           FROM ce
           UNION ALL
           SELECT 'slim_edge:e1', 'E-SN:' || s_suppkey,
             '["SUPP:' || s_suppkey || '","' || nat_id
             || '","graft:located_in","infores:crm","","","","False"]'
           FROM se
           UNION ALL
           SELECT 'ids_node:n_in', nat_id, NULL
           FROM r3 WHERE nat_id IN (SELECT nat_id FROM ce UNION SELECT nat_id FROM se)
           UNION ALL
           SELECT 'ids_node:n_out', 'CUST:' || c_custkey, NULL FROM ce
           UNION ALL
           SELECT 'ids_node:n_out', 'SUPP:' || s_suppkey, NULL FROM se
           UNION ALL
           SELECT 'ids_edge:e1', 'E-CN:' || c_custkey, NULL FROM ce
           UNION ALL
           SELECT 'ids_edge:e1', 'E-SN:' || s_suppkey, NULL FROM se)
         ORDER BY part, key""",
      extraCtes = """r3 AS (SELECT 'NAT:' || n_nationkey AS nat_id, n_name FROM nation WHERE n_regionkey = 3),
ce AS (SELECT c.c_custkey, c.c_name, r.nat_id
       FROM customer c JOIN r3 r ON 'NAT:' || c.c_nationkey = r.nat_id),
se AS (SELECT s.s_suppkey, s.s_name, r.nat_id
       FROM supplier s JOIN r3 r ON 'NAT:' || s.s_nationkey = r.nat_id)"""),

    "g27_bindings_input_set" -> TpchGraph.oracle(
      """SELECT '*' AS in_key, subject AS out_key,
                string_agg(edge_id, '|' ORDER BY edge_id) AS edge_ids,
                string_agg(DISTINCT object, '|' ORDER BY object) AS input_ids,
                subject AS output_ids
         FROM g_edges
         WHERE predicate = 'graft:located_in' AND object IN ('NAT:0', 'NAT:1')
         GROUP BY subject
         ORDER BY in_key, out_key"""),

    "g23_result_bindings" -> TpchGraph.oracle(
      """SELECT object AS in_key, '*' AS out_key,
                string_agg(edge_id, '|' ORDER BY edge_id) AS edge_ids,
                object AS input_ids,
                string_agg(DISTINCT subject, '|' ORDER BY subject) AS output_ids
         FROM g_edges
         WHERE predicate = 'graft:located_in' AND object IN ('NAT:0', 'NAT:1')
         GROUP BY object
         ORDER BY in_key, out_key""")
  )

}
