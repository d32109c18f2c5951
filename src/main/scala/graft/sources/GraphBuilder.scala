package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{Ontology, PropertyGraph}

/**
 * Ingest transforms — the Spark-native analog of the reference's
 * build_indexes edge/node streaming pass
 * (ref: /root/reference/app/app/plover.py:725-1380).
 *
 * Everything is a single narrow projection over the raw frames: the
 * ontology is tiny, so ancestor/canonical lookups become literal map
 * expressions (`typedLit`) evaluated inside whole-stage codegen — no UDFs,
 * no shuffles, no driver loops. At 100 TB this pass stays embarrassingly
 * parallel.
 */
object GraphBuilder {

  /**
   * Keep only most-specific categories: drop any category that is a proper
   * non-mixin ancestor of another category on the same node
   * (ref: plover.py:835-880 — mixin ancestors are NOT dropped, because the
   * reference computes proper ancestors with include_mixins=False).
   */
  def pruneToMostSpecific(nodes: DataFrame, ont: Ontology): DataFrame = {
    val properAnc: Map[String, Seq[String]] =
      ont.terms.map(t => t -> (ont.ancestors(t, includeMixins = false) - t).toSeq.sorted).toMap
    val ancMap = typedLit(properAnc)
    nodes.withColumn(
      "categories",
      filter(col("categories"), c =>
        !exists(col("categories"), o =>
          o =!= c && coalesce(array_contains(element_at(ancMap, o), c), lit(false))))
    )
  }

  /**
   * Flip edges whose predicate is non-canonical: swap subject/object and
   * replace predicate (and qualified predicate) with the canonical form
   * (ref: plover.py:1060-1090).
   */
  def canonicalizeEdges(edges: DataFrame, ont: Ontology): DataFrame = {
    if (ont.canonicalOf.isEmpty) return edges
    val canonMap = typedLit(ont.canonicalOf)
    val canon = element_at(canonMap, col("predicate"))
    val flipped = canon.isNotNull
    val qpCanon = element_at(canonMap, col("qualified_predicate"))
    edges.withColumns(Map(
      "subject" -> when(flipped, col("object")).otherwise(col("subject")),
      "object" -> when(flipped, col("subject")).otherwise(col("object")),
      "predicate" -> when(flipped, canon).otherwise(col("predicate")),
      "qualified_predicate" ->
        when(flipped, coalesce(qpCanon, col("qualified_predicate")))
          .otherwise(col("qualified_predicate"))
    ))
  }

  /** Drop structurally-empty properties from all three attribute maps
   * (ref: plover.py:1047-1051 empty pruning with :305-315 `_is_empty`
   * recursion: None, "", [], and lists whose items are ALL empty are
   * pruned; scalar 0 is non-empty). */
  def pruneEmptyAttrs(edges: DataFrame): DataFrame =
    edges
      .withColumn("attrs",
        map_filter(col("attrs"), (_, v) => v.isNotNull && v =!= lit("")))
      .withColumn("num_attrs",
        map_filter(col("num_attrs"), (_, v) => v.isNotNull))
      .withColumn("list_attrs",
        map_filter(col("list_attrs"), (_, v) =>
          v.isNotNull && exists(v, e => e.isNotNull && e =!= lit(""))))

  /** Clinical-trial-phase code -> Biolink MaxResearchPhaseEnum value
   * (ref: plover.py:705-712 trial_phases_map). Unmapped codes (e.g. 3.5)
   * pass through unchanged, like the reference's `.get(v, v)`. */
  val TrialPhasesMap: Map[Double, String] = Map(
    0.0 -> "not_provided",
    0.5 -> "pre_clinical_research_phase",
    1.0 -> "clinical_trial_phase_1",
    1.5 -> "clinical_trial_phase_1_to_2",
    2.0 -> "clinical_trial_phase_2",
    2.5 -> "clinical_trial_phase_2_to_3",
    3.0 -> "clinical_trial_phase_3",
    4.0 -> "clinical_trial_phase_4")

  /** String-rendered twin of TrialPhasesMap for values arriving as text
   * (the reference parses them with `_load_value` first, plover.py:1742-1747).
   * Locale.ROOT formatting: a default-locale f-interpolator would render
   * "3,0" on comma-decimal locales and the coercion would silently stop
   * matching. */
  val TrialPhasesStrMap: Map[String, String] =
    TrialPhasesMap.flatMap { case (k, v) =>
      val renderings =
        if (k == k.floor)
          Seq(String.format(java.util.Locale.ROOT, "%.0f", Double.box(k)),
            String.format(java.util.Locale.ROOT, "%.1f", Double.box(k))) // "3", "3.0"
        else Seq(k.toString) // "0.5"
      renderings.map(_ -> v)
    }

  /**
   * Coerce configured numeric trial-phase properties to their Biolink enum
   * (ref: plover.py:1055-1059, :1742-1747 `_convert_trial_phase_to_enum`).
   * A mapped value moves from num_attrs to attrs as the enum string;
   * unmapped values stay numeric.
   */
  def coerceTrialPhases(edges: DataFrame, props: Seq[String]): DataFrame = {
    if (props.isEmpty) return edges
    val m = typedLit(TrialPhasesMap)
    props.foldLeft(edges) { (df, p) =>
      val enumV = element_at(m, element_at(col("num_attrs"), p))
      df.withColumn("attrs",
          when(enumV.isNotNull, map_concat(col("attrs"), map(lit(p), enumV)))
            .otherwise(col("attrs")))
        .withColumn("num_attrs",
          when(enumV.isNotNull, map_filter(col("num_attrs"), (k, _) => k =!= lit(p)))
            .otherwise(col("num_attrs")))
    }
  }

  /**
   * Zip parallel list attributes into one list-of-structs property
   * (ref: plover.py:796-810 zip-spec precompute, :1011-1045 per-edge zip).
   * Semantics preserved, re-expressed columnar:
   *  - each output element is a struct of the source properties' i-th
   *    values; empty-string values become null FIELDS (fixed-schema twin
   *    of the reference deleting dict keys);
   *  - all-null structs are dropped (reference skips empty dicts);
   *  - nested trial-phase properties are enum-coerced;
   *  - length mismatch raises (reference zips strict=True);
   *  - source properties are removed from list_attrs;
   *  - a property may belong to at most one zip spec.
   * The zipped column is appended under `zippedProp` as
   * array<struct<p1:string, ...>>.
   */
  def zipListAttrs(edges: DataFrame, specs: Map[String, Seq[String]],
                   trialPhaseProps: Set[String] = Set.empty): DataFrame = {
    val owners = specs.toSeq.flatMap { case (z, ps) => ps.map(_ -> z) }
    val dup = owners.groupBy(_._1).filter(_._2.size > 1)
    require(dup.isEmpty,
      s"zip specs reference the same property: ${dup.keys.mkString(", ")}")

    def clean(p: String, v: Column): Column = {
      val nonEmpty = when(v.isNotNull && v =!= lit(""), v)
      if (trialPhaseProps(p))
        coalesce(element_at(typedLit(TrialPhasesStrMap), nonEmpty), nonEmpty)
      else nonEmpty
    }

    specs.foldLeft(edges) { case (df, (zippedProp, props)) =>
      val arrays = props.map(p => element_at(col("list_attrs"), p))
      val sameLen = props.tail
        .map(p => size(element_at(col("list_attrs"), p)) === size(arrays.head))
        .reduceOption(_ && _).getOrElse(lit(true))
      // index-lambda transform over the first array (NOT sequence(1, size):
      // sequence(1, 0) on an empty array yields [1, 0] and element_at(_, 0)
      // throws unconditionally)
      val zipped = transform(
        arrays.head,
        (_, i) => struct(props.zip(arrays).map { case (p, arr) =>
          clean(p, element_at(arr, i + 1)).as(p)
        }: _*))
      val pruned = filter(zipped,
        x => props.map(p => x.getField(p).isNotNull).reduce(_ || _))
      df.withColumn(zippedProp,
          when(arrays.map(_.isNotNull).reduce(_ && _),
            when(sameLen, pruned).otherwise(raise_error(concat(
              lit(s"zip length mismatch for $zippedProp on edge "), col("edge_id")))))
            .otherwise(lit(null)))
        .withColumn("list_attrs",
          map_filter(col("list_attrs"), (k, _) => !k.isin(props: _*)))
    }
  }

  /**
   * Denormalize each endpoint's node onto the edge table: for <e> in
   * subject/object, `<e>_categories`, `<e>_name` and `<e>_known` (the
   * endpoint is in the node table; its categories or name may be null).
   * Build-time cost: two id-keyed joins — co-partitioned with the edge
   * layout at scale. Query-time payoff: the meta summary, category
   * filters and TRAPI replies read endpoint data off the matched edge and
   * never join the node table, so a slim lookup is one Spark job.
   *
   * The narrow (id, name, categories) dimension feeds BOTH joins, so it
   * is materialized once with stats (persist + count). Without it the
   * planner estimates the dimension from the raw node sources — the full
   * wide row, pre-pruning — and falls back to two sort-merge joins over
   * the whole edge table; that was most of the measured ~21 s sf0.1
   * graph-build warm-up. With accurate (small) stats both joins
   * broadcast at fixture scale, and a dimension that genuinely outgrows
   * the threshold at 100 TB degrades to the co-partitioned shuffle join.
   *
   * Cache lifetime: the persist is keyed by the node frame's plan, so
   * REBUILDING from the same sources reuses one entry, but each build
   * from distinct sources leaves its own InMemoryRelation behind.
   * Long-lived sessions cycling many graphs should drop it via
   * PropertyGraph.unpersistBuildCaches() when done with the graph.
   */
  def denormalizeEndpoints(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val dim = nodes.select(col("id"), col("name"), col("categories"))
    if (dim.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      dim.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.model.PropertyGraph.registerBuildCache(dim)
    }
    dim.count()
    def endpoint(e: String) = dim.select(col("id").as(e), col("name").as(s"${e}_name"),
      col("categories").as(s"${e}_categories"), lit(true).as(s"${e}_known"))
    edges
      .join(endpoint("subject"), Seq("subject"), "left")
      .join(endpoint("object"), Seq("object"), "left")
      .select(edges.columns.map(col) ++ Seq("subject", "object").flatMap(e => Seq(
        col(s"${e}_categories"), col(s"${e}_name"),
        coalesce(col(s"${e}_known"), lit(false)).as(s"${e}_known"))): _*)
  }

  /** Full build: raw frames -> canonical PropertyGraph. */
  def build(rawNodes: DataFrame, rawEdges: DataFrame, ont: Ontology): PropertyGraph = {
    val nodes = pruneToMostSpecific(rawNodes, ont)
    val edges = pruneEmptyAttrs(canonicalizeEdges(rawEdges, ont))
    PropertyGraph(nodes, denormalizeEndpoints(edges, nodes))
  }
}
