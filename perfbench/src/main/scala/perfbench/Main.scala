package perfbench

import java.nio.file.{Files, Paths}

/** JVM half of the benchmark: runs one workload on generated inputs and
 * writes its raw samples as JSON. `perfbench/run.py` generates the inputs,
 * starts this main and turns the samples into the reported metrics. */
object Main {
  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    if (o.workload == "prebuild") { // ingest the lookup store, untimed
      val spark = Common.session(o.work)
      graft.Fixture.ensureStore(spark, o.data.toString)
      spark.stop()
      return
    }
    val load0 = loadAvg()
    val calib = Common.calibSec()
    val trace = new Trace(o.trace)
    val res = new Result
    o.workload match {
      case "kg_lookup" => Lookup.run(o, res, trace)
      case "curation_batch" => Curation.run(o, res, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    trace.all.toSeq.sortBy(_._1).foreach { case (k, v) => res.samples("span:" + k) = v }
    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors().toDouble,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "load_start" -> load0, "load_end" -> loadAvg(), "calib_sec" -> calib)
    Files.write(o.out, Json.result(res, host).getBytes("UTF-8"))
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** The raw result as JSON (Jackson, as for reading the inputs). */
object Json {
  import com.fasterxml.jackson.databind.JsonNode
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def arr(xs: Iterable[Double]) = {
    val a = mapper.createArrayNode(); xs.foreach(x => a.add(x)); a
  }
  private def obj(kv: Iterable[(String, Double)]) = {
    val o = mapper.createObjectNode(); kv.foreach { case (k, v) => o.put(k, v) }; o
  }

  def result(r: Result, host: Map[String, Double]): String = {
    val o = mapper.createObjectNode()
    o.set[JsonNode]("setup_s", arr(r.setupS.result()))
    o.put("cache_mb", r.cacheMb)
    o.set[JsonNode]("op_ms", arr(r.opMs))
    o.put("window_s", r.windowS)
    o.put("units", r.units)
    o.put("attempted", r.attempted)
    o.put("failed", r.failed)
    val errs = mapper.createArrayNode(); r.errors.result().foreach(e => errs.add(e))
    o.set[JsonNode]("errors", errs)
    o.set[JsonNode]("layers", obj(r.layers))
    val samples = mapper.createObjectNode()
    r.samples.foreach { case (k, v) => samples.set[JsonNode](k, arr(v)) }
    o.set[JsonNode]("samples", samples)
    o.set[JsonNode]("host", obj(host))
    mapper.writeValueAsString(o)
  }
}
