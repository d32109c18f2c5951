package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Build-time materialization of derived graph artifacts (the denormalized
 * edge table, the node table, the subclass closure, the meta summary) as
 * parquet, so a query session's startup is a columnar SCAN instead of a
 * re-run of the build pipeline.
 *
 * Why this exists: the reference engine rebuilds its in-memory indexes on
 * every boot (/root/reference/app/app/plover.py:725 build_indexes — minutes
 * at its data scale, re-paid per process). Re-deriving the denormalized
 * edge cache cost this engine ~20-30 s at sf0.1 — the one startup cost that
 * scales WITH the data, i.e. hours at 100 TB. The Spark-native posture is
 * the classic lakehouse split: ingest is a one-time batch job that WRITES
 * columnar tables; services READ them. At cluster scale the store path is a
 * shared filesystem/object store and the build job runs once per KG
 * release, exactly like the reference's offline KG builds.
 *
 * Freshness: each table carries a manifest recording a digest of the
 * corpus inputs (file name + size + mtime for every file in the corpus
 * dir) plus a format version; a mismatch (new corpus drop, changed build
 * semantics) rebuilds. The check costs one directory listing — no data is
 * read to validate.
 *
 * Concurrency: table writes are serialized per JVM and the manifest is
 * written after the data, so a torn build never reads as fresh (a missing
 * or mismatched manifest rebuilds). Two processes building one table at
 * once would still overwrite each other's files: the store keeps its
 * in-place layout (`<md5(path)>/<table>.parquet` plus `.manifest`)
 * because readers locate tables by it. Corpus-derived scratch spools
 * publish by one atomic rename instead (`graft.Spool.once`).
 */
object GraphStore {

  /** Bump to invalidate all stored tables when build semantics change. */
  private val FormatVersion = 3

  @volatile private var buildNanosAcc = 0L

  /** Seconds this session spent BUILDING store tables (0.0 when every
   * table was fresh) — Bench reports it beside warm_sec so the one-time
   * ingest cost and the per-session startup cost are never conflated. */
  def buildSeconds: Double = buildNanosAcc / 1e9

  /** 8 MB of parquet per cached serving-table partition. */
  private val PartBytes = 8L << 20

  private def root: Path =
    Paths.get(sys.env.getOrElse("SPARK_GRAFT_STORE", graft.Spool.target("graph-store")))

  /** Manifest text: digest of the format version plus the corpus dir's
   * `Spool.fingerprint` lines (name/size/mtime of its regular files) —
   * the parquet-level identity of the corpus drop. */
  private[graft] def fingerprint(sfDir: String): String =
    graft.Spool.md5((s"v$FormatVersion" +: graft.Spool.fingerprint(sfDir)).mkString("\n"))

  /** Read table `name` for corpus `sfDir` from the store, building and
   * writing it first when absent or stale. `build` is by-name: a fresh
   * store never constructs the build plan at all.
   *
   * `clusterBy` declares the table's ZONE-MAP key (r12): the table is
   * WRITTEN globally sorted on it, and the cached read is re-clustered on
   * it, so a literal point probe (id `IN (...)`) prunes to the few
   * batches/row-groups whose min/max straddle the probed keys instead of
   * decoding the whole table. This is the columnar analog of the
   * reference's adjacency index (plover.py:85-113 nested dicts): at
   * 100 TB the sorted layout + parquet row-group statistics ARE the
   * index — a point lookup touches O(answer) row groups, not the corpus.
   * Measured at sf0.1: a 6-id subject probe over the clustered cache runs
   * ~90 ms warm vs ~140 ms unclustered (scan work 70 -> 20 ms; the rest
   * is the job-scheduling floor). */
  def table(spark: SparkSession, sfDir: String, name: String,
            clusterBy: Seq[String] = Nil)
           (build: => DataFrame): DataFrame = synchronized {
    val dir = root.resolve(graft.Spool.md5(sfDir))
    val data = dir.resolve(s"$name.parquet")
    val manifest = dir.resolve(s"$name.manifest")
    val fp = fingerprint(sfDir)
    val fresh = Files.exists(manifest) &&
      new String(Files.readAllBytes(manifest), "UTF-8") == fp &&
      Files.exists(data.resolve("_SUCCESS"))
    if (!fresh) {
      val t0 = System.nanoTime()
      Files.createDirectories(dir)
      val out =
        if (clusterBy.isEmpty) build
        else build.sort(clusterBy.map(org.apache.spark.sql.functions.col): _*)
      out.write.mode("overwrite").parquet(data.toString)
      Files.write(manifest, fp.getBytes("UTF-8"))
      buildNanosAcc += System.nanoTime() - t0
    }
    val df = spark.read.parquet(data.toString)
    // SIZE-derived partition count for the cached serving tables. The
    // partition count must come from the data, not from shuffle config or
    // the writer's task count: r11 cached the sf0.1 edge table as ~43
    // 600 KB partitions (the store write's shuffle width), so every point
    // lookup scheduled ~50 tasks against 27 MB — the task-launch constant,
    // not the scan, was the latency floor. Target ~8 MB of parquet per
    // cached partition, capped at defaultParallelism so a
    // fixture-sized table still encodes/scans in parallel; a real
    // corpus's store (size >= cores x target) takes the no-op branch and
    // keeps the planner's file-packed partitioning — at 100 TB that is
    // thousands of full-size partitions, exactly right for cluster scans.
    // (Filters/projections still push through a round-robin repartition.)
    val par = spark.sparkContext.defaultParallelism
    val bytes =
      try {
        val s = Files.walk(data)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        } finally s.close()
      } catch { case _: Throwable => Long.MaxValue }
    if (bytes >= par.toLong * PartBytes) df
    else {
      val n =
        math.max(1L, math.min(par.toLong, (bytes + PartBytes - 1) / PartBytes)).toInt
      if (clusterBy.isEmpty) df.repartition(n)
      else {
        // A round-robin repartition would interleave the writer's sorted
        // output and erase the zone-map clustering the write just paid
        // for; range-partition + local sort preserves it through the
        // coalescing (the big-store branch above keeps file order, which
        // the sorted write already clustered). One partition needs no shuffle.
        val cols = clusterBy.map(org.apache.spark.sql.functions.col)
        (if (n == 1) df.coalesce(1) else df.repartitionByRange(n, cols: _*))
          .sortWithinPartitions(cols: _*)
      }
    }
  }

  /** What [[deltaRewrite]] did: how much of the store was carried
   * over physically untouched vs rewritten. */
  final case class DeltaWriteStats(filesTotal: Int, filesRewritten: Int,
                                   filesCarried: Int, bytesCarried: Long,
                                   bytesWritten: Long)

  /**
   * Partition-wise STORE refresh — the WRITE half of the incremental
   * claim (G33): applying a delta must not just COMPUTE delta-scale
   * work, it must also WRITE delta-scale bytes. A weekly KG drop at
   * 100 TB is >99% unchanged rows; `table()`'s overwrite path re-pays
   * the full store write for a delta-sized change (the reference
   * re-streams everything per boot — plover.py:725 — so it has no
   * write level at all to prune).
   *
   * Mechanics: the store table is written globally SORTED on its
   * cluster key, so each part file covers a key range readable from
   * its parquet FOOTER statistics (one footer read per file, no data
   * scanned — the same zone maps the point lookups prune by). A file
   * whose [min,max] contains no touched key holds only rows the delta
   * left byte-identical, and is carried over PHYSICALLY UNTOUCHED (not
   * read, not rewritten). Everything else — touched files' surviving
   * rows plus inserted rows landing in their ranges or in gaps — is
   * exactly `postDelta` minus the untouched ranges: that subset is
   * re-sorted and written to a staging dir, the touched files are
   * deleted, and the staged files move in (object-store analog:
   * conditional puts + a manifest swap).
   *
   * Correctness contract: `touchedKeys` must cover every cluster key
   * whose rows the delta adds, removes, or modifies
   * ([[GraphDelta.touchedNodeIds]] / [[GraphDelta.touchedEdgeKeys]]
   * derive them). All comparisons — the driver-side range checks here
   * and the Spark-side range filter — use unsigned UTF-8 byte order,
   * the same order parquet's BINARY statistics use. NULL cluster keys
   * are handled, not assumed away: any file whose footer reports null
   * keys is rewritten, and the staged subset explicitly includes
   * null-keyed rows — so null rows land exactly once (review-caught:
   * three-valued logic would otherwise silently DROP them from
   * `NOT(range-OR)`). A file whose footer lacks usable key statistics
   * gets its real range from ONE bounded data scan of that single
   * file — it must be rewritten anyway, and a scanned range (unlike a
   * blind "treat as touched") still participates in the
   * equal-boundary cascade below, so a boundary key it shares with an
   * untouched neighbor cannot fall through the carried/staged split
   * (review-caught row-loss scenario); an unreadable file fails the
   * rewrite LOUDLY rather than risking silent loss. Equal boundary
   * keys can span adjacent files after a sorted write, so untouched
   * files whose range overlaps a rewritten file's are cascaded into
   * the rewrite set until disjoint.
   *
   * Scale posture: O(files) footer reads + a rewrite job over the
   * touched subset; the untouched-range filter is an OR of bounded
   * range conjuncts (at very large file counts a sorted-array
   * binary-search expression would replace it — same pruning, O(log
   * files) per row). The rewritten subset is written sorted, so its
   * new files carry tight zone maps; their ranges can SPAN untouched
   * files' ranges (a probe then scans one extra file — correct,
   * mildly less pruned), which a periodic compaction re-tightens.
   *
   * `postDelta` may read the table being rewritten (the staging write
   * executes before any file is deleted), but the returned frame must
   * not be reused after the swap — re-read the table.
   */
  def deltaRewrite(spark: SparkSession, tableDir: Path, keyCol: String,
                   touchedKeys: Seq[String],
                   postDelta: DataFrame): DeltaWriteStats = synchronized {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{col, lit, max => smax,
      min => smin, not, sum, when}
    require(Files.isDirectory(tableDir), s"no store table at $tableDir")
    def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
    def cmp(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
    def partFiles(dir: Path): Seq[Path] = {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
    // Per part file: key range over the non-null rows (None = no
    // non-null rows), whether any null keys exist, whether it is
    // row-free. Footer statistics answer all three without a data
    // read; a file whose footer can't (missing chunk, unset null
    // count, corrupt) pays ONE bounded scan of itself for the same
    // facts — it will be rewritten regardless, and having its REAL
    // range keeps it in the equal-boundary cascade (a blind
    // treat-as-touched could strand a boundary key shared with a
    // carried neighbor). An unreadable file throws: loud, never lossy.
    final case class PartFile(path: Path, size: Long,
                              range: Option[(Array[Byte], Array[Byte])],
                              hasNulls: Boolean, zeroRow: Boolean)
    val hconf = spark.sparkContext.hadoopConfiguration
    val infos: Seq[PartFile] = partFiles(tableDir).map { p =>
      val fromFooter: Option[PartFile] =
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), hconf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = r.getFooter.getBlocks.asScala.toSeq
            if (blocks.isEmpty)
              Some(PartFile(p, Files.size(p), None, hasNulls = false,
                zeroRow = true))
            else {
              val perBlock = blocks.map { b =>
                b.getColumns.asScala
                  .find(_.getPath.toDotString == keyCol)
                  .flatMap { c =>
                    val st = c.getStatistics
                    if (st == null || !st.isNumNullsSet) None
                    else if (st.hasNonNullValue) Some((
                      Some((st.genericGetMin
                        .asInstanceOf[org.apache.parquet.io.api.Binary]
                        .getBytes,
                        st.genericGetMax
                          .asInstanceOf[org.apache.parquet.io.api.Binary]
                          .getBytes)), st.getNumNulls > 0))
                    else if (st.getNumNulls == b.getRowCount)
                      Some((None, true)) // legit all-null block
                    else None // no min/max yet rows non-null: gap
                  }
              }
              if (perBlock.exists(_.isEmpty)) None // footer can't answer
              else {
                val ranges = perBlock.flatten.flatMap(_._1)
                val range = ranges.reduceOption((a, b) => (
                  if (cmp(a._1, b._1) <= 0) a._1 else b._1,
                  if (cmp(a._2, b._2) >= 0) a._2 else b._2))
                Some(PartFile(p, Files.size(p), range,
                  hasNulls = perBlock.flatten.exists(_._2),
                  zeroRow = false))
              }
            }
          } finally r.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      fromFooter.getOrElse {
        // footer gap: one bounded scan of this single file (throws on
        // an unreadable file — loud beats lossy)
        val row = spark.read.parquet(p.toString)
          .agg(smin(col(keyCol)), smax(col(keyCol)),
            sum(when(col(keyCol).isNull, 1L).otherwise(0L)),
            sum(lit(1L))).head()
        val nRows = if (row.isNullAt(3)) 0L else row.getLong(3)
        val range =
          if (row.isNullAt(0)) None
          else Some((utf8(row.getString(0)), utf8(row.getString(1))))
        PartFile(p, Files.size(p), range,
          hasNulls = !row.isNullAt(2) && row.getLong(2) > 0,
          zeroRow = nRows == 0L)
      }
    }
    val sortedKeys = touchedKeys.distinct.map(utf8).sortWith(cmp(_, _) < 0)
    def rangeHasKey(min: Array[Byte], max: Array[Byte]): Boolean = {
      var lo = 0; var hi = sortedKeys.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (cmp(sortedKeys(m), min) < 0) lo = m + 1 else hi = m
      }
      lo < sortedKeys.length && cmp(sortedKeys(lo), max) <= 0
    }
    val keep = infos.filter(_.zeroRow)
    // null-holding files always rewrite: their null rows must ride the
    // staged isNull arm exactly once (an untouched file may hold NO
    // nulls, so carried rows and staged nulls never overlap)
    def initiallyTouched(f: PartFile): Boolean = !f.zeroRow &&
      (f.hasNulls || f.range.exists(r => rangeHasKey(r._1, r._2)))
    var touched = infos.filter(initiallyTouched)
    var untouched = infos.filterNot(f => f.zeroRow || initiallyTouched(f))
    // equal-boundary cascade: an untouched range overlapping a
    // rewritten file's range joins the rewrite set (sorted writes
    // split equal keys across file boundaries)
    var moved = true
    while (moved) {
      val (stay, move) = untouched.partition { u =>
        val (umn, umx) = u.range.get // untouched ⇒ non-null rows exist
        !touched.exists(_.range.exists { case (tmn, tmx) =>
          cmp(tmn, umx) <= 0 && cmp(umn, tmx) <= 0
        })
      }
      moved = move.nonEmpty
      if (moved) { touched = touched ++ move; untouched = stay }
    }
    val untouchedPred = untouched
      .map(_.range.get)
      .map(k => col(keyCol) >= lit(new String(k._1, "UTF-8")) &&
        col(keyCol) <= lit(new String(k._2, "UTF-8")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val staging = tableDir.resolveSibling(
      tableDir.getFileName.toString + ".delta-tmp")
    graft.Spool.wipe(staging)
    // null-keyed rows are NOT covered by any range: include them
    // explicitly (NOT(null-valued predicate) would silently drop them)
    postDelta.where(not(untouchedPred) || col(keyCol).isNull)
      .sort(col(keyCol))
      .write.mode("overwrite").parquet(staging.toString)
    val staged: Seq[Path] = partFiles(staging)
    val bytesWritten = staged.map(Files.size).sum
    touched.foreach(f => Files.delete(f.path))
    staged.foreach { p =>
      var dst = tableDir.resolve(p.getFileName)
      if (Files.exists(dst)) // writer UUIDs make this ~impossible
        dst = tableDir.resolve(
          s"part-${java.util.UUID.randomUUID}-${p.getFileName}")
      Files.move(p, dst)
    }
    graft.Spool.wipe(staging)
    DeltaWriteStats(
      filesTotal = infos.size,
      filesRewritten = touched.size,
      filesCarried = untouched.size + keep.size,
      bytesCarried = (untouched ++ keep).map(_.size).sum,
      bytesWritten = bytesWritten)
  }
}
