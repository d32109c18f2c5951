package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Spool` without Spark: content-keyed tags, write-once publication
 * under concurrency and failure, and the GraphStore manifest it feeds. */
class SpoolSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Every spool this spec makes starts with this prefix. */
  private val prefix = s"spoolspec-${java.util.UUID.randomUUID}"
  private val corpora = Files.createTempDirectory("spoolspec")

  override def afterAll(): Unit = {
    val target = Paths.get(Spool.target(""))
    if (Files.isDirectory(target)) {
      val s = Files.list(target)
      try s.iterator.asScala.filter(_.getFileName.toString.startsWith(prefix))
        .toList.foreach(Spool.wipe)
      finally s.close()
    }
    Spool.wipe(corpora)
  }

  /** A corpus dir holding one `documents.parquet` file of `body`. */
  private def corpus(rel: String, body: String = "rows"): String = {
    val dir = Files.createDirectories(corpora.resolve(rel))
    Files.write(dir.resolve("documents.parquet"), body.getBytes("UTF-8"))
    dir.toString
  }

  /** A `write` that counts its runs and leaves three files. */
  private def writer(runs: AtomicInteger)(out: String): Unit = {
    runs.incrementAndGet()
    Files.createDirectories(Paths.get(out))
    (1 to 3).foreach { i =>
      Thread.sleep(20)
      Files.write(Paths.get(out, s"part-$i"), Array[Byte](i.toByte))
    }
  }

  private def files(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("a changed corpus file size or mtime gets a new tag and a new spool") {
    val dir = corpus("regen/sf0.01")
    val file = Paths.get(dir, "documents.parquet")
    val runs = new AtomicInteger()
    val (out1, tag1) = Spool.once(s"$prefix-a", dir)(writer(runs))
    assert(Spool.once(s"$prefix-a", dir)(writer(runs)) == ((out1, tag1)))
    assert(runs.get == 1)
    // regenerated in place: same bytes, a later mtime
    Files.setLastModifiedTime(file,
      FileTime.fromMillis(Files.getLastModifiedTime(file).toMillis + 5000))
    val (out2, tag2) = Spool.once(s"$prefix-a", dir)(writer(runs))
    assert(tag2 != tag1 && out2 != out1)
    assert(runs.get == 2)
    // same mtime, a different size
    val mtime = Files.getLastModifiedTime(file)
    Files.write(file, "more rows".getBytes("UTF-8"))
    Files.setLastModifiedTime(file, mtime)
    val (out3, tag3) = Spool.once(s"$prefix-a", dir)(writer(runs))
    assert(Set(tag1, tag2, tag3).size == 3 && out3 != out2)
    assert(runs.get == 3)
    assert(files(out3) == Seq("part-1", "part-2", "part-3"))
  }

  test("a regenerated corpus's spool replaces the old content's, not another corpus's") {
    val dir = corpus("prune/a/sf0.01")
    val other = corpus("prune/b/sf0.01")
    val runs = new AtomicInteger()
    val (old, _) = Spool.once(s"$prefix-p", dir)(writer(runs))
    val (kept, _) = Spool.once(s"$prefix-p", other)(writer(runs))
    val exported = Spool.fresh(s"$prefix-q", dir)
    writer(runs)(exported)
    // rewritten in place: a new size, so a new content tag
    Files.write(Paths.get(dir, "documents.parquet"), "new rows".getBytes("UTF-8"))
    val (now, _) = Spool.once(s"$prefix-p", dir)(writer(runs))
    val fresh = Spool.fresh(s"$prefix-q", dir)
    assert(now != old && fresh != exported)
    assert(!Files.exists(Paths.get(old)), "the old content's spool survived")
    assert(!Files.exists(Paths.get(exported)), "the old content's export survived")
    assert(files(now) == Seq("part-1", "part-2", "part-3"))
    assert(files(kept) == Seq("part-1", "part-2", "part-3"))
  }

  test("two corpora whose paths share their digits get different dirs") {
    val a = corpus("a/sf0.01")
    val b = corpus("b/sf0.01")
    val mtime = Files.getLastModifiedTime(Paths.get(a, "documents.parquet"))
    Files.setLastModifiedTime(Paths.get(b, "documents.parquet"), mtime)
    // the path-digit tag this replaces gave both the same dir
    assert(a.replaceAll("[^0-9.]", "") == b.replaceAll("[^0-9.]", ""))
    assert(Spool.fresh(s"$prefix-b", a) != Spool.fresh(s"$prefix-b", b))
    assert(Spool.tag(a) != Spool.tag(b))
  }

  test("concurrent first calls run write once and all see the complete dir") {
    val dir = corpus("race/sf0.01")
    val runs = new AtomicInteger()
    val n = 4
    val start = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val calls = (1 to n).map(_ => pool.submit(() => {
        start.await()
        val (out, _) = Spool.once(s"$prefix-c", dir)(writer(runs))
        (out, files(out))
      }))
      val results = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(runs.get == 1)
      assert(results.map(_._1).distinct.size == 1)
      results.foreach(r => assert(r._2 == Seq("part-1", "part-2", "part-3")))
    } finally pool.shutdownNow()
  }

  test("a write that throws publishes nothing and the next call writes again") {
    val dir = corpus("fail/sf0.01")
    val runs = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Spool.once(s"$prefix-d", dir) { out =>
        writer(runs)(out)
        throw new IllegalStateException("export failed")
      }
    }
    assert(e.getMessage == "export failed")
    val published = Paths.get(Spool.target(s"$prefix-d-${Spool.tag(dir)}"))
    assert(!Files.exists(published))
    val s = Files.list(published.getParent)
    val leftovers =
      try s.iterator.asScala.count(_.getFileName.toString.startsWith(s"$prefix-d"))
      finally s.close()
    assert(leftovers == 0, "a failed write left its temp dir behind")
    val (out, _) = Spool.once(s"$prefix-d", dir)(writer(runs))
    assert(runs.get == 2 && out == published.toString)
    assert(files(out) == Seq("part-1", "part-2", "part-3"))
  }

  test("GraphStore's manifest text is the same digest it always was") {
    val sfDir = "/root/testdata/sf0.001"
    // md5 over "v3" (GraphStore's format version) plus sorted
    // name|size|mtimeMillis of each regular file
    val dir: Path = Paths.get(sfDir)
    val s = Files.list(dir)
    val entries =
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        s"${p.getFileName}|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}"
      }.toSeq.sorted
      finally s.close()
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(("v3" +: entries).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(entries.nonEmpty)
    assert(graft.sources.GraphStore.fingerprint(sfDir) == expected)
  }
}
