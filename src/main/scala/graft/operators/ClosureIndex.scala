package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Driver-side ancestor -> descendants index over the subclass-closure
 * table, the one way a lookup expands pinned ids: a hash-map probe
 * instead of a closure join + groupBy (two Spark jobs per query on the
 * serving path).
 *
 * Scale posture: the closure is ONTOLOGY-shaped (subclass edges bounded
 * by the hub cutoff, see SubclassClosure), not corpus-shaped, and the
 * reference holds exactly this structure in process memory for every
 * request (plover.py:1521-1619, :1835-1867). `fromClosure` still bounds
 * the driver collect with a row cap, and a closure past it fails to
 * index rather than OOMing the driver.
 */
final class ClosureIndex private (private val desc: Map[String, Array[String]])
    extends Serializable {

  /** Number of (ancestor, descendant) entries indexed. */
  def size: Int = desc.valuesIterator.map(_.length).sum

  /**
   * Expand pinned query ids (ref: plover.py:1835-1867): returns the
   * full id list (originals first, then proper descendants sorted) and
   * the descendant -> query-id map (min ancestor tie-break; ids the user
   * listed directly never appear in the map — their query_id is null).
   */
  def expand(ids: Seq[String]): (Seq[String], Map[String, String]) = {
    val direct = ids.distinct
    val directSet = direct.toSet
    val qid = scala.collection.mutable.HashMap.empty[String, String]
    for (a <- direct; d <- desc.getOrElse(a, ClosureIndex.noDesc) if !directSet(d))
      if (!qid.get(d).exists(_ <= a)) qid(d) = a
    (direct ++ qid.keysIterator.toSeq.sorted, qid.toMap)
  }
}

object ClosureIndex {
  private val noDesc = Array.empty[String]

  /**
   * Collect the closure into a driver index (one bounded job on the —
   * typically cached — closure frame). A closure of more than `maxRows`
   * rows fails: the collect stays bounded, and there is no other
   * expansion path to fall back to.
   */
  def fromClosure(closure: DataFrame, maxRows: Int = 4000000): ClosureIndex = {
    val rows = closure.select("ancestor", "descendant")
      .limit(maxRows + 1).collect()
    if (rows.length > maxRows) throw new IllegalStateException(
      s"subclass closure has more than $maxRows rows, the ClosureIndex driver bound")
    new ClosureIndex(rows.iterator
      .map(r => (r.getString(0), r.getString(1)))
      .toSeq.groupBy(_._1)
      .map { case (a, ds) => a -> ds.map(_._2).toArray })
  }
}
