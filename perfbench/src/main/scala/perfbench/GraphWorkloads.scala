package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Fixture
import graft.model.PropertyGraph
import graft.operators.{ClosureIndex, GraphOps, OneHop, OperatorCaches, TrapiResponse}
import graft.sources.GraphStore
import Common._

/** A warmed graph session: what `setup_s` measures the time to reach. */
final case class Warm(spark: SparkSession, serving: SparkSession, graph: PropertyGraph,
                      closure: DataFrame, index: Option[ClosureIndex])

object GraphSetup {

  /** Session start -> ingest when the store is stale -> every serving
   * artifact cached and counted. Layer times land in `layers` (seconds,
   * MB), keyed by the per-layer metric names. */
  def warm(o: Opts, sfDir: String, trace: Trace,
           layers: scala.collection.mutable.Map[String, Double]): Warm = {
    val spark = session(o.work)
    val sv = Fixture.serving(spark)
    trace.attach(spark, sv)
    val built0 = GraphStore.buildSeconds
    Fixture.ensureStore(spark, sfDir)
    layers("sources.store_build_s") = GraphStore.buildSeconds - built0
    val g = Fixture.graph(sv, sfDir)
    def step(name: String)(body: => Unit): Unit = {
      val mb0 = storageMb(spark); val t0 = System.nanoTime()
      body
      layers(s"model.warm_s.$name") = secs(t0)
      layers(s"model.cache_mb.$name") = storageMb(spark) - mb0
    }
    step("nodes")(g.nodes.count())
    step("edges")(g.edges.count())
    step("reverse_edges")(g.reverseEdges.count())
    step("closure")(Fixture.closure(sv, sfDir))
    step("meta_summary")(Fixture.metaSummary(sv, sfDir))
    val t0 = System.nanoTime()
    val idx = Fixture.closureIndex(sv, sfDir)
    layers("operators.closure_index_s") = secs(t0)
    Warm(spark, sv, g, Fixture.closure(sv, sfDir), idx)
  }

  /** Repeat the set-up `o.setups` times (a fresh SparkContext each time);
   * keep the last session and the median of every layer figure. */
  def repeated(o: Opts, res: Result, trace: Trace, sfDir: String): Warm = {
    var last: Warm = null
    val perRun = (1 to o.setups).map { _ =>
      if (last != null) last.spark.stop()
      val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val t0 = System.nanoTime()
      last = warm(o, sfDir, trace, layers)
      res.setupS += secs(t0)
      layers
    }
    res.cacheMb = storageMb(last.spark)
    for (k <- perRun.head.keys)
      res.layers(k) = Stats.median(perRun.map(_.getOrElse(k, 0.0)))
    res.layers("sources.store_mb") = dirMb(storeDir(sfDir))
    last
  }

  /** Where graft's GraphStore keeps the tables of one data dir: under
   * $SPARK_GRAFT_STORE, in a sub-directory named by the dir's md5. */
  def storeDir(sfDir: String): Path = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(sfDir.getBytes("UTF-8"))
    java.nio.file.Paths.get(sys.env("SPARK_GRAFT_STORE")).resolve(md.map("%02x".format(_)).mkString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** kg_lookup: two closed-loop clients replaying the seeded TRAPI request
 * stream against the warmed store. Every request carries fresh literals,
 * so each one pays operator compile, Catalyst and the job floor. */
object Lookup {
  val WarmUpS = 32.0

  def run(o: Opts, res: Result, trace: Trace): Unit = {
    val sfDir = o.data.toString
    val w = GraphSetup.repeated(o, res, trace, sfDir)
    val queries = readLines(o.inputs.resolve("queries.jsonl")).toVector
    val next = new AtomicInteger(0)
    val clients = 2

    def one(q: JsonNode): Int = {
      val shape = q.get("shape").asText
      val got: Seq[String] = shape match {
        case "get_edges" =>
          val pairs = q.get("pairs").elements().asScala.map(p => (p.get(0).asText, p.get(1).asText)).toSeq
          val df = trace.span("operators.compile_ms")(GraphOps.getEdges(w.serving, w.graph, pairs))
          df.collect().map(r => r.getAs[String]("pair_key") + "|" + r.getAs[String]("edge_id")).toSeq
        case "get_neighbors" =>
          val df = trace.span("operators.compile_ms")(GraphOps.getNeighbors(w.serving, w.graph, ont,
            strs(q.get("ids")), strs(q.get("cats")), strs(q.get("preds"))))
          df.collect().map(r => r.getAs[String]("input_id") + "|" + r.getAs[String]("neighbor_id")).toSeq
        case "single_node" =>
          val df = trace.span("operators.compile_ms")(GraphOps.singleNode(w.serving, w.graph,
            strs(q.get("ids")), Some(w.closure), index = w.index))
          df.collect().map(_.getAs[String]("node_id")).toSeq
        case _ =>
          val r = trace.span("operators.compile_ms")(OneHop.answer(w.serving, w.graph, ont,
            queryGraph(q), closure = Some(w.closure), expandSubclasses = true, index = w.index))
          val slim = trace.span("operators.assemble_ms")(TrapiResponse.slim(r, w.graph))
          val rows = slim.collect()
          r.matches.unpersist()
          rows.filter(_.getString(0) == "ids_edge:e1").map(_.getString(1)).toSeq
      }
      res.check(matches(got, q), s"kg_lookup query ${q.get("i")} (${shape}) answer differs")
      got.size
    }

    /** Closed loop until `until`; returns (latency ms, answer rows) per request. */
    def loop(until: Long, threads: Int = clients): Seq[(Double, Int)] = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Int)]()
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() => {
          while (System.nanoTime() < until) {
            val q = queries(next.getAndIncrement() % queries.size)
            val t0 = System.nanoTime()
            try {
              val n = one(q)
              out.add(((System.nanoTime() - t0) / 1e6, n))
            } catch {
              case e: Exception => res.check(ok = false, s"kg_lookup query ${q.get("i")} threw $e")
            }
          }
        })
        t.start(); t
      }
      ts.foreach(_.join())
      out.asScala.toSeq
    }

    // warm-up: JIT, codegen and the lazily built caches, over every shape.
    // Request latency falls steeply over the first 20 s of traffic in a
    // fresh JVM (from about 1 s to 300 ms, sf0.01 on 4 cores), so a window
    // started earlier measures how far the JIT has got. The warm-up runs 4
    // clients to push more requests through in WarmUpS.
    loop(System.nanoTime() + (WarmUpS * 1e9).toLong, threads = 4)
    OperatorCaches.drainMaterialized()
    trace.clear()
    val before = trace.mark()
    val t0 = System.nanoTime()
    val done = loop(t0 + (o.seconds * 1e9).toLong)
    res.windowS = secs(t0)
    res.opMs = done.map(_._1)
    res.units = done.size
    val rows = done.map(_._2.toDouble).sum
    trace.windowLayers(res, before, done.size, rows)
    res.layers("operators.answer_rows") = rows / math.max(1, done.size)
    res.layers("operators.compile_ms") = Stats.median(trace.values("operators.compile_ms"))
    res.layers("operators.assemble_ms") = Stats.median(trace.values("operators.assemble_ms"))
    OperatorCaches.drainMaterialized()
  }
}
