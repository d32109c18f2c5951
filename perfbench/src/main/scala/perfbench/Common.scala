package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.model.{GraftOntology => O}
import graft.operators.{AttributeConstraint, QEdge, QNode, QualifierConstraint, QueryGraph}

/** Command-line options run.py passes to the JVM. */
final case class Opts(workload: String, inputs: Path, dataDir: Option[Path], work: Path,
                      seconds: Double, trace: Boolean, setups: Int, out: Path) {
  /** The TPC-H data dir of the knowledge graph (graph workloads only). */
  def data: Path = dataDir.getOrElse(throw new IllegalArgumentException(s"$workload needs --data"))
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), Paths.get(m.getOrElse("inputs", ".")), m.get("data").map(Paths.get(_)),
      Paths.get(m("work")), m.getOrElse("seconds", "0").toDouble, m.get("trace").contains("1"),
      m.getOrElse("setups", "3").toInt, Paths.get(m.getOrElse("out", "result.json")))
  }
}

/** What a workload hands back: raw samples; run.py computes the metrics. */
final class Result {
  val setupS = Vector.newBuilder[Double]
  var cacheMb = 0.0
  var opMs: Seq[Double] = Nil
  var windowS = 0.0
  var units = 0.0
  var attempted = 0L
  var failed = 0L
  val errors = Vector.newBuilder[String]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]

  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (failed <= 5) errors += what }
  }
}

object Common {
  val ont = O.ontology
  private val mapper = new ObjectMapper()

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the same deployment settings graft.Bench runs with
      .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes held in Spark storage (memory + disk), in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def dirMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1048576.0
      finally s.close()
    }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def readLines(p: Path): Seq[JsonNode] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map(l => mapper.readTree(l))

  def readJson(p: Path): JsonNode = mapper.readTree(p.toFile)

  def strs(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Nil else n.elements().asScala.map(_.asText).toSeq

  /** Order-free digest of a string set — the generator computes the same:
   * md5 of the sorted distinct items joined by newlines. */
  def digest(items: Iterable[String]): (Int, String) = {
    val s = items.toSeq.distinct.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.mkString("\n").getBytes("UTF-8"))
    (s.size, md.map("%02x".format(_)).mkString)
  }

  def matches(items: Iterable[String], q: JsonNode): Boolean = {
    val (n, md5) = digest(items)
    n == q.get("expect_n").asInt && md5 == q.get("expect_md5").asText
  }

  /** A TRAPI one-hop query graph from its generated JSON form. */
  def queryGraph(q: JsonNode): QueryGraph = {
    val nodes = q.get("nodes").elements().asScala.map { n =>
      QNode(n.get("key").asText, ids = strs(n.get("ids")), categories = strs(n.get("cats")))
    }.toSeq
    val e = q.get("edge")
    val qual = Option(q.get("qual")).map(strs).map { case Seq(p, d) =>
      QualifierConstraint(qualifiedPredicate = Some(p), objectDirection = Some(d))
    }.toSeq
    val attrs = Option(q.get("attrs")).map(_.elements().asScala.map { a =>
      val id = a.get(0).asText; val op = a.get(1).asText; val v = a.get(2)
      val neg = op == "!="
      val op2 = if (neg) "==" else op
      if (v.isNumber) AttributeConstraint(id, op2, numValues = Seq(v.asDouble), negated = neg)
      else AttributeConstraint(id, op2, strValues = Seq(v.asText), negated = neg)
    }.toSeq).getOrElse(Nil)
    QueryGraph(nodes, Some(QEdge(e.get("subject").asText, e.get("object").asText,
      predicates = strs(e.get("preds")), qualifierConstraints = qual,
      attributeConstraints = attrs)))
  }

  /** Single-thread calibration probe (the graft.Bench `calib_sec` loop,
   * a tenth of its length): host speed recorded beside every run. */
  def calibSec(): Double = {
    var s = 0L; var i = 0L
    val t0 = System.nanoTime()
    while (i < 40000000L) { s += i * i; i += 1 }
    if (s == 42) println(s)
    secs(t0)
  }
}
