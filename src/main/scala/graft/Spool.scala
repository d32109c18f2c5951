package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

/** Every scratch dir, write-once spool and `target/` path of the library.
 *
 * A corpus is identified by its content, the way the ingest layer
 * (`GraphStore`'s manifests) has always identified it: the name, size
 * and mtime of each regular file in the corpus dir. A spool derived from
 * a corpus is named `target/<stem>-<tag>`, where the tag also covers the
 * corpus dir's absolute path, so regenerating a corpus in place yields
 * a new spool and two corpora at `.../a/sf0.01` and `.../b/sf0.01`
 * never share one. Outputs land under `target/` of the working
 * directory (the checkout root under sbt's forked runs), so two
 * checkouts never write into each other's tree. */
object Spool {

  /** `target/<name>` under the working directory, as an absolute path. */
  def target(name: String): String =
    Paths.get("target", name).toAbsolutePath.toString

  private[graft] def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** `name|size|mtime` of each regular file in `dir`, sorted: the
   * identity of a corpus drop, read from one directory listing. */
  private[graft] def fingerprint(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          s"${p.getFileName}|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}"
        }.toSeq.sorted
      } finally s.close()
    }
  }

  /** Content tag of a corpus dir: its absolute path plus its fingerprint.
   * Also the suffix of memory-sink query names built over the corpus. */
  def tag(corpusDir: String): String =
    md5((Paths.get(corpusDir).toAbsolutePath.normalize.toString +:
      fingerprint(corpusDir)).mkString("\n")).take(16)

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
    val out = target(s"$stem-${tag(corpusDir)}")
    wipe(Paths.get(out))
    out
  }

  /** Delete a scratch file or dir tree, if present. */
  private[graft] def wipe(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}
