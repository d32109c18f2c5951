package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards. `GraftSession` stays the only place a SparkSession
 * is configured: a second builder under `src/` is where deployment
 * settings start to drift (a main without the codegen cache or UTC
 * measures a different system). And no code names a fixed checkout path:
 * scratch output goes through `Spool`, so a second checkout never writes
 * into the first one's tree, and `Spool` alone names a `target/` path,
 * tags a corpus and deletes a scratch dir. Per-session state lives in
 * one map, `Fixture`'s memo, so it has one lifecycle. A byte decoder
 * meets a frame in one helper and a fixture builds its payload rows in
 * one helper, and Bench's baseline keys are `baseline_ref.json`'s. */
class GraftSessionSpec extends AnyFunSuite {

  // whitespace allowed around the dot, so a builder split across lines
  // still counts; the pattern's own source text does not match it
  private val Builder = """SparkSession\s*\.\s*builder\b""".r

  /** Source text with comment lines blanked (Scaladoc examples stay). */
  private def code(f: Path): String =
    Files.readAllLines(f).asScala.map { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) "" else l
    }.mkString("\n")

  /** Every Scala file under src/main and src/test. */
  private def sources: Seq[Path] = {
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"$r not found from ${Paths.get("").toAbsolutePath}"))
    roots.flatMap(r => Files.walk(r).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq)
  }

  test("GraftSession.scala holds the only session builder under src/") {
    val hits = sources
      .flatMap(f => Seq.fill(Builder.findAllMatchIn(code(f)).size)(f))
    assert(hits.map(_.getFileName.toString) == Seq("GraftSession.scala"),
      s"expected one builder, in GraftSession.scala; found: ${hits.mkString(", ")}")
  }

  test("no code under src/ hardcodes the checkout path") {
    // this checkout's own root, and an absolute path into any target/ dir
    // (the pattern's own source text does not match it)
    val checkout = Paths.get("").toAbsolutePath.toString
    val absTarget = """"/[^"\s]*/target/""".r
    val hits = sources.flatMap(f => code(f).linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains(checkout) || absTarget.findFirstIn(l).isDefined =>
        s"$f:${i + 1}: ${l.trim}"
    })
    if (hits.nonEmpty)
      fail(s"use Spool instead of a fixed path:\n${hits.mkString("\n")}")
  }

  test("one session-keyed map under src/main: Fixture's memo") {
    // a ConcurrentHashMap whose key type names SparkSession, alone or in a
    // tuple; `\s*` spans a declaration split across lines
    val SessionKeyed = """ConcurrentHashMap\s*\[\s*(\([^)\]]*)?\bSparkSession\b""".r
    val hits = sources.filter(_.startsWith("src/main")).flatMap { f =>
      val src = code(f)
      SessionKeyed.findAllMatchIn(src).map(m =>
        s"${f.getFileName}:${src.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(hits.size == 1 && hits.head.startsWith("Fixture.scala:"),
      s"keep per-session state in Fixture.memo; session-keyed maps:\n${hits.mkString("\n")}")
  }

  test("only Spool.scala names target/, tags a corpus or deletes a scratch dir") {
    // a relative target/ literal, a hand-rolled scratch delete, a path-digit tag
    val banned = Seq("\"target/", "deleteQuietly", "replaceAll(\"[^0-9")
    val hits = sources
      .filter(f => f.startsWith("src/main") && f.getFileName.toString != "Spool.scala")
      .flatMap(f => code(f).linesIterator.zipWithIndex.collect {
        case (l, i) if banned.exists(l.contains) => s"$f:${i + 1}: ${l.trim}"
      })
    if (hits.nonEmpty)
      fail(s"go through graft.Spool (target, tag, once, fresh):\n${hits.mkString("\n")}")
  }

  /** (file, enclosing def) of every match of `re` in src/main code. */
  private def mainHits(re: Regex): Seq[String] =
    sources.filter(_.startsWith("src/main")).flatMap { f =>
      val src = code(f)
      re.findAllMatchIn(src).map { m =>
        val owner = """\bdef\s+(\w+)""".r.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("?")
        s"${f.getFileName}:$owner"
      }
    }

  test("one decoder seam and one fixture payload builder under src/main") {
    val decoded = mainHits("""\.as\s*\[\s*\(\s*Long\s*,\s*Array\s*\[\s*Byte\s*\]\s*\)\s*\]""".r)
    assert(decoded == Seq("Multimodal.scala:decodePayloads"),
      s"decode (id, payload) rows through Multimodal.decodePayloads:\n${decoded.mkString("\n")}")
    val built = mainHits("""toDF\s*\(\s*"id"\s*,\s*"payload"\s*\)""".r)
    assert(built == Seq("PipelineEntry.scala:payloads"),
      s"build (id, payload) fixtures through PipelineEntry.payloads:\n${built.mkString("\n")}")
    // the decoders read the session from their frame
    val session = Seq("Multimodal.scala", "Mp4.scala", "Pdf.scala").flatMap { n =>
      val f = Paths.get("src/main/scala/graft/operators", n)
      if ("""\bSparkSession\b""".r.findFirstIn(code(f)).isDefined) Some(n) else None
    }
    assert(session.isEmpty, s"decoders taking a SparkSession: ${session.mkString(", ")}")
  }

  test("Bench's baseline keys are baseline_ref.json's queries") {
    val ref = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("baseline_ref.json").toFile)
    assert(Bench.baselineKeys == ref.get("queries").fieldNames().asScala.toSet)
  }
}
