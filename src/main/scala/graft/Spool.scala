package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Every scratch dir, write-once spool and `target/` path of the library.
 *
 * A corpus is identified by its content, the way the ingest layer
 * (`GraphStore`'s manifests) has always identified it: the name, size
 * and mtime of each regular file in the corpus dir. A spool derived from
 * a corpus is named `target/<stem>-<tag>`, where the tag is a path part
 * (the corpus dir's absolute path) followed by a content part, so two
 * corpora at `.../a/sf0.01` and `.../b/sf0.01` never share a spool, and
 * regenerating a corpus in place yields a new spool that replaces the
 * one of the old content. Outputs land under `target/` of the working
 * directory (the checkout root under sbt's forked runs), so two
 * checkouts never write into each other's tree. */
object Spool {

  /** `target/<name>` under the working directory, as an absolute path. */
  def target(name: String): String =
    Paths.get("target", name).toAbsolutePath.toString

  private[graft] def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The entries of `dir`; none if it is not a directory. */
  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  /** `name|size|mtime` of each regular file in `dir`, sorted: the
   * identity of a corpus drop, read from one directory listing. */
  private[graft] def fingerprint(dir: String): Seq[String] =
    list(Paths.get(dir)).filter(Files.isRegularFile(_)).map { p =>
      s"${p.getFileName}|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}"
    }.sorted

  private val PartHex = 8 // hex digits of each of a tag's two parts

  /** Content tag of a corpus dir: a digest of its absolute path, then a
   * digest of its fingerprint. Also the suffix of memory-sink query names
   * built over the corpus. */
  def tag(corpusDir: String): String =
    md5(Paths.get(corpusDir).toAbsolutePath.normalize.toString).take(PartHex) +
      md5(fingerprint(corpusDir).mkString("\n")).take(PartHex)

  private val locks = new java.util.concurrent.ConcurrentHashMap[Path, AnyRef]()

  /** Write-once spool: a pure function of the corpus, written by `write`
   * into a temp sibling on the first call and published with one atomic
   * rename, so its existence means it is complete. Calls in this JVM
   * serialize on a per-spool lock; a process that loses the rename to
   * another drops its own copy. A `write` that throws publishes nothing
   * and the next call runs it again. The tag covers the corpus, not
   * `write`: rename `stem` when the shape `write` produces changes.
   * Returns (spool dir, tag). */
  def once(stem: String, corpusDir: String)(write: String => Unit): (String, String) = {
    val t = tag(corpusDir)
    val out = Paths.get(target(s"$stem-$t"))
    if (!Files.exists(out)) locks.computeIfAbsent(out, _ => new AnyRef).synchronized {
      if (!Files.exists(out)) {
        val tmp = out.resolveSibling(s"${out.getFileName}.tmp-${java.util.UUID.randomUUID}")
        try {
          write(tmp.toString)
          Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
          prune(stem, t)
        } catch {
          case _: java.io.IOException if Files.exists(out) => // published by another process
        } finally wipe(tmp)
      }
    }
    (out.toString, t)
  }

  /** Per-call export dir `target/<stem>-<tag>`, deleted before it is
   * returned: for keys whose export IS the operation under test. */
  def fresh(stem: String, corpusDir: String): String = {
    val t = tag(corpusDir)
    val out = target(s"$stem-$t")
    wipe(Paths.get(out))
    prune(stem, t)
    out
  }

  /** Delete the `stem` spools of the same corpus path with another
   * content part: what a regenerated corpus superseded. Temp siblings
   * (longer names) are left to the writer that owns them. */
  private def prune(stem: String, t: String): Unit = {
    val (keep, pathPart) = (s"$stem-$t", s"$stem-${t.take(PartHex)}")
    list(Paths.get(target(""))).filter { p =>
      val n = p.getFileName.toString
      n.length == keep.length && n.startsWith(pathPart) && n != keep
    }.foreach(wipe)
  }

  /** Delete a scratch file or dir tree, if present. */
  private[graft] def wipe(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}
