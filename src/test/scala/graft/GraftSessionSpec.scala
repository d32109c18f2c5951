package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `GraftSession` the only place a SparkSession is configured: a
 * second builder under `src/` is where deployment settings start to drift
 * (a main without the codegen cache or UTC measures a different system). */
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

  test("GraftSession.scala holds the only session builder under src/") {
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val hits = roots.flatMap(r => Files.walk(r).iterator.asScala
        .filter(_.toString.endsWith(".scala")).toSeq)
      .flatMap(f => Seq.fill(Builder.findAllMatchIn(code(f)).size)(f))
    assert(hits.map(_.getFileName.toString) == Seq("GraftSession.scala"),
      s"expected one builder, in GraftSession.scala; found: ${hits.mkString(", ")}")
  }
}
