package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashExpressions
import graft.model.{Ontology, PropertyGraph}

/**
 * One-hop query answering — the Spark-native core of the reference engine
 * (ref: /root/reference/app/app/plover.py:1790-1917 `answer_query`,
 * :2011-2120 `_lookup_answers`).
 *
 * The reference walks a nested node->category->predicate->direction map per
 * input curie. Here the pinned ids resolve on the driver (subclass
 * expansion through the ClosureIndex) into literal set probes, and the
 * whole lookup is one filtered pass over each clustered edge replica plus
 * literal `isin` predicate filters (computed from the driver-side
 * ontology), so Catalyst pushes everything into the scan: no join, no
 * shuffle of the edge table, no per-curie loop.
 *
 * Semantics preserved:
 *  - canonical-predicate forcing of the qedge (flip when all predicates are
 *    non-canonical; mixed is an error);
 *  - input qnode = the pinned node with the most ids; query ids expanded to
 *    subclass descendants with a descendant->query-id mapping;
 *  - predicate expansion: descendants incl. mixins, mixin->direct mappings
 *    kept alongside, root predicate default;
 *  - per-predicate bidirectionality (`_consider_bidirectional`);
 *  - qualified queries match via conglomerate semantics with None-wildcard
 *    components and component-hierarchy expansion;
 *  - output-category filter only when no output ids were pinned; category
 *    match is against most-specific node categories;
 *  - attribute-constraint filtering;
 *  - optional result-size guard (`num_edges_per_answer_cutoff`).
 */
object OneHop {

  /** Coarse zone-map range conjunct for a literal probe set: ONE
   * [min,max] pair in UTF-8 byte order (Spark's binary string
   * comparison — Java's UTF-16 order differs outside the BMP, and a
   * range conjunct must stay a SUPERSET test for every member id).
   * Cached-batch min/max stats can't see through SetProbe, so this
   * plain range predicate over the clustering column does the batch
   * pruning. A per-length multi-range refinement (tight windows for
   * numeric-suffix CURIEs of mixed digit count, each class guarded by
   * a length conjunct) was tried in r14: A/B runs on the same machine
   * showed NO improvement on any key — g15's residue included — with
   * the Or-of-ranges adding per-row cost on every surviving row, so
   * the simpler single range was kept (negative result recorded).
   * Shared by every literal probe (through memberOf) so they can't
   * diverge. */
  private[graft] def rangeConjunct(c: Column, ids: Iterable[String]): Column =
    c >= lit(ids.min(utf8Order)) && c <= lit(ids.max(utf8Order))

  /** Spark's string order (unsigned UTF-8 bytes, i.e. code-point order),
   * for driver-side bounds and keys that must agree with Spark's
   * comparisons. UTF-16 order differs only where a surrogate meets a
   * char in U+E000..U+FFFF, so surrogates are lifted above that block;
   * no string is encoded. */
  private[operators] val utf8Order: Ordering[String] = new Ordering[String] {
    private def lift(c: Char): Int =
      if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) a.length - b.length else lift(a.charAt(i)) - lift(b.charAt(i))
    }
  }

  /** Membership test for ONE pinned id set, built once per lookup and
   * applied to every column that probes it. Small sets keep isin
   * (literal InSet: trivial plan cost, and cached-batch stats pruning
   * can use it); larger ones go through the native SetProbe, a hash set
   * that is ONE plan object however many times the condition is
   * referenced, PLUS the zone-map range conjunct: SetProbe is opaque to
   * the cached batches' min/max stats (r12's g15 scanned all 1.3M rows
   * twice for a 40-id probe), but a plain range predicate over the
   * clustering column prunes batches like isin does. Range first so the
   * cheap check short-circuits the probe. Every returned condition
   * shares one ProbeTable, so a stage that probes the set from both
   * directions ships it once and builds one hash table per task. */
  private[graft] def memberOf(ids: Seq[String]): Column => Column =
    if (ids.size <= 16) c => c.isin(ids: _*)
    else {
      val set = HashExpressions.ProbeTable.of(ids)
      c => rangeConjunct(c, ids) && HashExpressions.setProbe(c, set)
    }

  /** Matched edges with binding columns:
   * input_id/output_id (which endpoint fulfilled which qnode) and
   * input_query_id/output_query_id (non-null when the endpoint was reached
   * via subclass expansion of a pinned query id). `guardCount` carries the
   * distinct answer-edge count the maxEdges guard already computed, so a
   * caller that just passed the guard never pays a second count job. */
  final case class Result(matches: DataFrame, inputKey: String, outputKey: String,
                          guardCount: Option[Long] = None)

  /** Denormalized column `<e>_<field>` of the node in match column `id`
   * (input_id/output_id): the subject's when `id` is the subject, else the
   * object's (a self-loop's two coincide). A pure column of the matched
   * edge — no node join, nothing to broadcast, no second table. */
  private[operators] def endpoint(id: String, field: String): Column =
    when(col(id) === col("subject"), col(s"subject_$field"))
      .otherwise(col(s"object_$field"))

  /** The one pinned-id resolver of `answer`, `answerBatch` and
   * `GraphOps.singleNode`: ids -> (the ids plus any expansion, the
   * descendant -> query-id map, empty when nothing was expanded).
   * Subclass expansion applies when `expandSubclasses` is set and a
   * closure is given, and then resolves through the driver-side
   * ClosureIndex (ref: plover.py:1835-1867); asking for it without an
   * index fails here, when the lookup is built. There is no distributed
   * fallback: in the ScaleSmoke `lookup` sweep (sf0.1, 4 cores) the
   * literal probe beat the broadcast join it replaced at every size from
   * 4k to 262k ids (262k: one-hop 0.45 s vs 3.84 s, get_edges 1.00 s vs
   * 3.60 s). */
  private[operators] def resolver(closure: Option[DataFrame], expandSubclasses: Boolean,
                                  index: Option[ClosureIndex])
      : Seq[String] => (Seq[String], Map[String, String]) =
    if (!expandSubclasses || closure.isEmpty) ids => (ids.distinct, Map.empty)
    else index.getOrElse(throw new IllegalArgumentException(
      "subclass expansion resolves on the driver: pass the closure's ClosureIndex as `index`"))
      .expand

  /** Query-id column of a resolved id set: the descendant -> query-id
   * map probed at `id`, null throughout when nothing was expanded. */
  private[operators] def queryIdCol(m: Map[String, String], id: Column): Column =
    if (m.isEmpty) lit(null).cast("string") else HashExpressions.mapProbe(id, m)

  /** The canonical-forced qedge and its (input, output) qnodes, and
   * whether the input is the subject. Input qnode = first (in qnode
   * order) with strictly the most ids (plover.py:2594-2613). */
  private def sides(qg: QueryGraph, ont: Ontology, what: String)
      : (QEdge, QNode, QNode, Boolean) = {
    val qedge = QueryGraph.forceCanonical(qg.edge.get, ont)
    val subjQ = qg.node(qedge.subjectKey)
    val objQ = qg.node(qedge.objectKey)
    require(subjQ.ids.nonEmpty || objQ.ids.nonEmpty, s"$what: at least one qnode must have ids")
    val inputQ = qg.nodes.foldLeft(Option.empty[QNode]) { (best, qn) =>
      if (qn.ids.size > best.map(_.ids.size).getOrElse(0)) Some(qn) else best
    }.get
    (qedge, inputQ, if (inputQ.key == subjQ.key) objQ else subjQ,
      inputQ.key == qedge.subjectKey)
  }

  def answer(spark: SparkSession, graph: PropertyGraph, ont: Ontology, qg: QueryGraph,
             closure: Option[DataFrame] = None,
             expandSubclasses: Boolean = true,
             maxEdges: Option[Long] = None,
             index: Option[ClosureIndex] = None): Result = {
    val resolve = resolver(closure, expandSubclasses, index)
    val (qedge, inputQ, outputQ, inputIsSubject) = sides(qg, ont, "query")

    // ---- predicate + direction conditions (literal, driver-computed) ----
    // staticBidir = Some(false) folds the dead direction's condition to
    // a literal false, so Catalyst prunes that scan branch entirely
    // (the qualified twin of the plain path's literal-set folding).
    val (matchCond, bidirCond) =
      if (qedge.qualifierConstraints.nonEmpty) {
        val (m, b, _) = qualifiedConds(qedge, ont); (m, b)
      } else plainConds(qedge, ont)

    val fwdCond = matchCond && (bidirCond || lit(inputIsSubject))
    val bwdCond = matchCond && (bidirCond || lit(!inputIsSubject))

    // ---- input-side matching ----
    // Each direction is its own filtered pass over the replica CLUSTERED
    // on the column it probes — fwd probes `subject` against the
    // subject-clustered primary, bwd probes `object` against the
    // object-clustered replica — so zone-map batch pruning serves both
    // (see PropertyGraph.reverseEdges). Zero joins and zero shuffles; an
    // edge matching both directions yields both binding rows, and a
    // direction whose condition folds to false (a non-symmetric pinned-
    // side query) prunes to an empty relation at optimization time,
    // leaving ONE scan.
    // Membership probe FIRST in the conjunction: codegen evaluates And
    // left-to-right, so the O(1) id hash probe short-circuits before the
    // match condition — which for qualified queries is a conglomerate of
    // map lookups per row (the r12 g15 profile: the conglomerate ran on
    // all 1.3M rows before the 40-id probe cut them to thousands).
    val (inIds, inQids) = resolve(inputQ.ids)
    val inHit = memberOf(inIds)
    val fwd = graph.edges.where(inHit(col("subject")) && fwdCond)
      .withColumn("input_id", col("subject"))
      .withColumn("output_id", col("object"))
    val bwd = graph.reverseEdges.where(inHit(col("object")) && bwdCond)
      .withColumn("input_id", col("object"))
      .withColumn("output_id", col("subject"))
    var matched = fwd.unionByName(bwd)
      .withColumn("input_query_id", queryIdCol(inQids, col("input_id")))

    // ---- output-side filtering ----
    matched =
      if (outputQ.ids.nonEmpty) {
        // Pinned output ids (categories are ignored in this case,
        // plover.py:2045-2049)
        val (outIds, outQids) = resolve(outputQ.ids)
        matched.where(memberOf(outIds)(col("output_id")))
          .withColumn("output_query_id", queryIdCol(outQids, col("output_id")))
      } else {
        val withNull = matched.withColumn("output_query_id", lit(null).cast("string"))
        if (outputQ.categories.isEmpty) withNull
        else {
          val cats = expandCategories(outputQ.categories, ont)
          withNull.where(arrays_overlap(endpoint("output_id", "categories"),
            lit(cats.toArray)))
        }
      }

    if (qedge.attributeConstraints.nonEmpty)
      matched = matched.where(AttributeConstraints.compileAll(qedge.attributeConstraints))

    var guardCount: Option[Long] = None
    maxEdges.foreach { limit =>
      // Persist before guarding so the guard's count and the caller's
      // subsequent action share one evaluation of the matched set (an
      // unguarded query pays nothing; a guarded one scans once, not twice).
      matched = matched.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = matched.select("edge_id").distinct().count()
      if (n > limit) {
        matched.unpersist()
        throw new IllegalStateException(
          s"Query would produce $n answer edges, more than the cutoff of $limit")
      }
      guardCount = Some(n)
    }

    Result(matched, inputQ.key, outputQ.key, guardCount)
  }

  /** Query category list -> expanded literal set
   * (ref: plover.py:2614-2628 `_get_expanded_output_category_ids`). */
  def expandCategories(categories: Seq[String], ont: Ontology): Set[String] = {
    val raw = if (categories.nonEmpty) categories.toSet else Set(ont.rootCategory)
    val proper = ont.replaceMixinsWithDirectMappings(raw)
    ont.descendantsOfAll(proper, includeMixins = false)
  }

  /** Driver-side plain-predicate expansion shared by the per-query and
   * batch paths: (all matching predicates, the bidirectional subset).
   * One copy so the batch path can never drift from `answer`'s
   * semantics (ref: plover.py:2704-2743). */
  private[operators] def plainPredSets(qedge: QEdge, ont: Ontology)
      : (Set[String], Set[String]) = {
    val raw = if (qedge.predicates.nonEmpty) qedge.predicates.toSet else Set(ont.rootPredicate)
    val qgPreds = raw ++ ont.replaceMixinsWithDirectMappings(raw)
    val expanded = ont.descendantsOfAll(qgPreds, includeMixins = true)
    val bidirPreds = expanded.filter(p => ont.considerBidirectional(p, qgPreds))
    (expanded, bidirPreds)
  }

  /** Non-qualified predicate match + bidirectionality conditions
   * (ref: plover.py:2704-2743). */
  private def plainConds(qedge: QEdge, ont: Ontology): (Column, Column) = {
    val (expanded, bidirPreds) = plainPredSets(qedge, ont)
    val dirPreds = expanded.diff(bidirPreds)
    val matchCond = col("predicate").isin(expanded.toSeq: _*)
    val bidirCond =
      if (dirPreds.isEmpty) lit(true)
      else if (bidirPreds.isEmpty) lit(false)
      else col("predicate").isin(bidirPreds.toSeq: _*)
    (matchCond, bidirCond)
  }

  /**
   * Qualified-query (conglomerate) match condition
   * (ref: plover.py:1486-1520 conglomerate descendant index, :2744-2777
   * `_get_conglomerate_predicates_from_qedge`). An edge matches a
   * qualifier constraint iff it carries SOME qualifier info and each
   * non-None query component is an ancestor-or-self of the edge's
   * component; the predicate component may be fulfilled by either the
   * edge's qualified predicate or its regular predicate.
   */
  private def qualifiedConds(qedge: QEdge, ont: Ontology)
      : (Column, Column, Option[Boolean]) = {
    val isQualified = col("qualified_predicate").isNotNull ||
      col("object_direction").isNotNull || col("object_aspect").isNotNull

    val perConstraint = qedge.qualifierConstraints.map { qc =>
      val predComponents: Seq[Option[String]] =
        if (qc.qualifiedPredicate.isEmpty && qedge.predicates.nonEmpty)
          qedge.predicates.map(Some(_))
        else Seq(qc.qualifiedPredicate)
      val predConds = predComponents.map {
        case Some(p) =>
          val d = ont.descendants(p, includeMixins = true).toSeq
          col("qualified_predicate").isin(d: _*) || col("predicate").isin(d: _*)
        case None =>
          // all-None conglomerates never match (plover.py:1516 difference
          // with {"None--None--None"})
          if (qc.objectDirection.isEmpty && qc.objectAspect.isEmpty) lit(false)
          else lit(true)
      }
      val dirCond = qc.objectDirection match {
        case Some(d) =>
          col("object_direction").isin(ont.descendants(d, includeMixins = true).toSeq: _*)
        case None => lit(true)
      }
      val aspCond = qc.objectAspect match {
        case Some(a) =>
          col("object_aspect").isin(ont.descendants(a, includeMixins = true).toSeq: _*)
        case None => lit(true)
      }
      predConds.map(pc => pc && dirCond && aspCond).reduce(_ || _)
    }
    val matchCond = isQualified && perConstraint.reduce(_ || _)

    // Direct QG "used predicates" for bidirectionality (plover.py:2629-2654):
    // the qualified predicate when given, else the regular predicates.
    val direct: Set[String] = qedge.qualifierConstraints.flatMap { qc =>
      qc.qualifiedPredicate.map(Seq(_)).getOrElse(
        if (qedge.predicates.nonEmpty) qedge.predicates else Seq.empty)
    }.toSet
    val edgeUsed = coalesce(col("qualified_predicate"), col("predicate"))
    val directSym = direct.filter(ont.isSymmetric)
    // Driver-decidable bidirectionality (r13 verdict #10): Some(true)
    // when every direct predicate is symmetric (the reference's
    // all-symmetric early return, plover.py:2644); Some(false) when NO
    // row can satisfy the per-row condition — it only ever admits a
    // used predicate through `directSym` or the ontology-wide symmetric
    // set, so both empty proves the dead direction statically. (The
    // symmetric-set check cannot be narrowed to the constraint's
    // descendant cone: a row may match via `predicate` while carrying
    // an arbitrary `qualified_predicate`, which is the used predicate.)
    // None -> per-row, both directions live.
    val staticBidir: Option[Boolean] =
      if (direct.nonEmpty && direct.forall(ont.isSymmetric)) Some(true)
      else if (directSym.isEmpty && ont.symmetric.isEmpty) Some(false)
      else None
    val bidirCond = staticBidir match {
      case Some(b) => lit(b)
      case None =>
        val descOfDirectSym = ont.descendantsOfAll(directSym, includeMixins = true)
        val inDirect = if (direct.isEmpty) lit(false) else edgeUsed.isin(direct.toSeq: _*)
        val inDirectSym =
          if (directSym.isEmpty) lit(false) else edgeUsed.isin(directSym.toSeq: _*)
        val fallback = edgeUsed.isin(
          (ont.symmetric ++ descOfDirectSym).toSeq: _*)
        when(inDirect, inDirectSym).otherwise(fallback)
    }
    (matchCond, bidirCond, staticBidir)
  }

  /**
   * Batched lookup serving — ONE Spark job answering N tagged one-hop
   * probes (r12 verdict #2: amortize the per-job scheduling floor across
   * a request batch, the TRAPI-batch analog of the reference's own batch
   * endpoints — plover.py:1934 `get_edges` takes a pair LIST and
   * :1982 `get_neighbors` an id list).
   *
   * Scale shape: the batch rides the plan as DATA, not as N plan
   * branches. Each direction is ONE probe-filtered pass over the replica
   * clustered on the probed column; a row fans out to the tags whose
   * probe set contains its endpoint (map_probe -> split -> explode, all
   * codegen'd), then per-tag predicate / pinned-output / category
   * checks are O(1) hash probes on "tag<sep>value" pair keys. Plan size,
   * stage count and shuffle count are CONSTANT in the batch size — 1000
   * probes cost the same two scan stages as one — and the driver-built
   * probe tables are bounded by the request itself (sum of expanded id
   * sets), not the corpus.
   *
   * Semantics: per tag, identical to `answer`
   * (spec-pinned row-for-row in BatchLookupSpec): canonical forcing,
   * input-qnode selection, subclass expansion with query-id mapping,
   * per-predicate bidirectionality, pinned-output ids (categories
   * ignored then, plover.py:2045-2049), output-category filtering
   * against most-specific categories. Qualified (conglomerate) and
   * attribute-constrained probes are supported through per-tag GATED
   * conjuncts (`tag = t && <condition_t>` folded into the branch
   * filter): they cost plan size linear in the number of such probes —
   * where plain probes are pure data — but still run inside the same
   * single job and both scans. A qualified probe's ids enter both
   * direction maps (its bidirectionality condition is per-row, so
   * neither branch can be proven dead driver-side); the gate filters
   * the wrong-direction rows.
   *
   * Bounds, by design: every pinned side resolves driver-side through
   * the same resolver as `answer`, and the batch has no id-total cap:
   * its probe tables ride one stage's task binary, which Spark's
   * DAGScheduler broadcasts once per stage, exactly like `answer`'s
   * probe set.
   *
   * Output: `answer`'s binding projection plus the probe `tag`:
   * (tag, edge_id, subject, object, predicate, input_id, output_id,
   * input_query_id, output_query_id).
   */
  def answerBatch(spark: SparkSession, graph: PropertyGraph, ont: Ontology,
                  probes: Seq[(String, QueryGraph)],
                  closure: Option[DataFrame] = None,
                  expandSubclasses: Boolean = true,
                  index: Option[ClosureIndex] = None): DataFrame = {
    import graft.functions.{HashExpressions => HE}
    val resolve = resolver(closure, expandSubclasses, index)
    val SEP = "" // never occurs in CURIEs (same invariant as getEdges)
    val TSEP = ""
    require(probes.map(_._1).distinct.size == probes.size, "probe tags must be unique")
    require(probes.forall(p => !p._1.contains(SEP) && !p._1.contains(TSEP)),
      "probe tags must not contain \\u0001/\\u0002")

    // ---- driver-side probe compilation (bounded by the request) ----
    val fwdTags = scala.collection.mutable.Map.empty[String, List[String]]
    val bwdTags = scala.collection.mutable.Map.empty[String, List[String]]
    val fwdPredPairs = Set.newBuilder[String]
    val bwdPredPairs = Set.newBuilder[String]
    val inQid = Map.newBuilder[String, String]
    val outQid = Map.newBuilder[String, String]
    var outPinnedTags = Set.empty[String]
    val outPairs = Set.newBuilder[String]
    var catTags = Set.empty[String]
    val catPairs = Set.newBuilder[String]
    val fwdQual = Seq.newBuilder[(String, Column)]
    val bwdQual = Seq.newBuilder[(String, Column)]
    val attrGates = Seq.newBuilder[(String, Column)]

    for ((tag, qg) <- probes) {
      val (qedge, inputQ, outputQ, inputIsSubject) = sides(qg, ont, s"probe '$tag'")

      val (inIds, inQids) = resolve(inputQ.ids)
      if (qedge.qualifierConstraints.nonEmpty) {
        // qualified probe: the conglomerate match is a per-tag GATED
        // conjunct. Ids enter a direction map only when that direction
        // can match: usually bidirectionality is per-row so both are
        // live, but a driver-decidable verdict (qualifiedConds'
        // staticBidir — e.g. a symmetric-free ontology) keeps the ids
        // and the gate out of the dead direction, dropping the probe
        // from 2 plan gates to 1 (r13 verdict #10).
        val (matchCond, bidirCond, staticBidir) = qualifiedConds(qedge, ont)
        val fwdLive = staticBidir.getOrElse(true) || inputIsSubject
        val bwdLive = staticBidir.getOrElse(true) || !inputIsSubject
        if (fwdLive) {
          inIds.foreach(id => fwdTags(id) = tag :: fwdTags.getOrElse(id, Nil))
          fwdQual += tag -> (matchCond && (bidirCond || lit(inputIsSubject)))
        }
        if (bwdLive) {
          inIds.foreach(id => bwdTags(id) = tag :: bwdTags.getOrElse(id, Nil))
          bwdQual += tag -> (matchCond && (bidirCond || lit(!inputIsSubject)))
        }
      } else {
        val (expanded, bidirPreds) = plainPredSets(qedge, ont)
        val fwdPreds = if (inputIsSubject) expanded else bidirPreds
        val bwdPreds = if (!inputIsSubject) expanded else bidirPreds
        if (fwdPreds.nonEmpty) {
          inIds.foreach(id => fwdTags(id) = tag :: fwdTags.getOrElse(id, Nil))
          fwdPreds.foreach(p => fwdPredPairs += tag + SEP + p)
        }
        if (bwdPreds.nonEmpty) {
          inIds.foreach(id => bwdTags(id) = tag :: bwdTags.getOrElse(id, Nil))
          bwdPreds.foreach(p => bwdPredPairs += tag + SEP + p)
        }
      }
      if (qedge.attributeConstraints.nonEmpty)
        attrGates += tag -> AttributeConstraints.compileAll(qedge.attributeConstraints)
      inQids.foreach { case (id, q) => inQid += (tag + SEP + id) -> q }
      if (outputQ.ids.nonEmpty) {
        val (outIds, outQids) = resolve(outputQ.ids)
        outPinnedTags += tag
        outIds.foreach(id => outPairs += tag + SEP + id)
        outQids.foreach { case (id, q) => outQid += (tag + SEP + id) -> q }
      } else if (outputQ.categories.nonEmpty) {
        catTags += tag
        expandCategories(outputQ.categories, ont)
          .foreach(c => catPairs += tag + SEP + c)
      }
    }

    val fwdTagMap = fwdTags.iterator.map { case (k, v) => k -> v.mkString(TSEP) }.toMap
    val bwdTagMap = bwdTags.iterator.map { case (k, v) => k -> v.mkString(TSEP) }.toMap
    val inQidMap = inQid.result()
    val outQidMap = outQid.result()
    val fwdPairSet = fwdPredPairs.result()
    val bwdPairSet = bwdPredPairs.result()
    val outPairSet = outPairs.result()
    val catPairSet = catPairs.result()
    val fwdQualGates = fwdQual.result()
    val bwdQualGates = bwdQual.result()

    // ---- the one-job plan ----
    def branch(rel: DataFrame, probeCol: String, otherCol: String,
               tagMap: Map[String, String], predPairs: Set[String],
               qualGates: Seq[(String, Column)]): Option[DataFrame] =
      if (tagMap.isEmpty) None
      else Some {
        // predicate check: plain probes are an O(1) pair-key hash probe;
        // qualified probes are per-tag gated conjuncts OR'd behind it
        val pairHit =
          if (predPairs.isEmpty) lit(false)
          else HE.setProbe(concat_ws(SEP, col("tag"), col("predicate")), predPairs)
        val qualHit = qualGates.foldLeft(lit(false)) {
          case (acc, (t, c)) => acc || (col("tag") === t && c)
        }
        rel.where(memberOf(tagMap.keys.toSeq)(col(probeCol)))
          .withColumn("tag",
            explode(split(HE.mapProbe(col(probeCol), tagMap), TSEP)))
          .where(pairHit || qualHit)
          .withColumn("input_id", col(probeCol))
          .withColumn("output_id", col(otherCol))
      }
    val fwd = branch(graph.edges, "subject", "object", fwdTagMap, fwdPairSet,
      fwdQualGates)
    val bwd = branch(graph.reverseEdges, "object", "subject", bwdTagMap,
      bwdPairSet, bwdQualGates)
    var matched = (fwd, bwd) match {
      case (Some(f), Some(b)) => f.unionByName(b)
      case (Some(f), None) => f
      case (None, Some(b)) => b
      case _ => throw new IllegalArgumentException("empty probe batch")
    }
    matched = matched
      .withColumn("input_query_id",
        queryIdCol(inQidMap, concat_ws(SEP, col("tag"), col("input_id"))))
      .withColumn("output_query_id",
        queryIdCol(outQidMap, concat_ws(SEP, col("tag"), col("output_id"))))
    if (outPinnedTags.nonEmpty)
      matched = matched.where(!HE.setProbe(col("tag"), outPinnedTags) ||
        HE.setProbe(concat_ws(SEP, col("tag"), col("output_id")), outPairSet))
    if (catTags.nonEmpty) {
      val tagHasCats = HE.setProbe(col("tag"), catTags)
      def catHit(cats: Column): Column =
        exists(cats, c => HE.setProbe(concat_ws(SEP, col("tag"), c), catPairSet))
      matched = matched.where(!tagHasCats || catHit(endpoint("output_id", "categories")))
    }
    locally {
      val gates = attrGates.result()
      if (gates.nonEmpty) {
        // attribute constraints: per-tag gated conjuncts, same contract
        // as answer()'s post-match AttributeConstraints filter
        val inAttr = HE.setProbe(col("tag"), gates.map(_._1).toSet)
        val gate = gates.foldLeft(lit(false)) {
          case (acc, (t, c)) => acc || (col("tag") === t && c)
        }
        matched = matched.where(!inAttr || gate)
      }
    }
    matched.select(col("tag"), col("edge_id"), col("subject"), col("object"),
      col("predicate"), col("input_id"), col("output_id"),
      col("input_query_id"), col("output_query_id"))
  }
}
