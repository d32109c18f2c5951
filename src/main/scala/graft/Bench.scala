package graft

/**
 * Benchmark main: one JSON line with total + per-query seconds.
 *
 * Methodology (VERDICT r1 fixes): the fixture graph and subclass closure
 * are built, cached and materialized BEFORE any query is timed, so no
 * query pays first-touch cache-warm cost; queries run in sorted name
 * order; a failing query is recorded in "errors" with elapsed time kept
 * separate — it never silently counts as a fast success.
 */
object Bench {
  /** 1-minute load average before our own JVM ramps up — benchmark runs on
   * a busy host (other builds, the driver's own tooling) are not comparable
   * to idle ones (r4 recorded g08 at 4.9s under load vs 0.7s idle), so the
   * JSON carries the evidence needed to tell load noise from regressions. */
  private def loadAvg(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    // Load gate: r4/r5/r6 all recorded 3-6x per-query inflation from
    // external host load during the bench window. Before starting, wait
    // (bounded) for the 1-minute load to drop below the gate so the run
    // is comparable; if the host never settles, run anyway — load_avg_*
    // in the JSON still carries the evidence. Tunables:
    //   SPARK_GRAFT_LOAD_GATE (default 1.5, <=0 disables)
    //   SPARK_GRAFT_MAX_WAIT_SEC (default 120)
    val gate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.5").toDouble
    val maxWait = sys.env.getOrElse("SPARK_GRAFT_MAX_WAIT_SEC", "120").toInt
    val tGate = System.nanoTime()
    while (gate > 0 && loadAvg() > gate &&
           (System.nanoTime() - tGate) / 1e9 < maxWait)
      Thread.sleep(5000)
    val waitSec = (System.nanoTime() - tGate) / 1e9
    val load0 = loadAvg()
    // Host-speed calibration: a fixed single-thread integer workload,
    // timed. Cross-round p50 comparisons divide by this to separate
    // "the code got slower" from "the host got slower" — the r5/r6/r10
    // bench postmortems all needed exactly this number.
    def calibOnce(): Double = {
      var s = 0L; var i = 0L
      val t0 = System.nanoTime()
      while (i < 400000000L) { s += i * i; i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      if (s == 42) println(s) // defeat dead-code elimination
      dt
    }
    val calibSec = calibOnce()
    // Parallel calibration probe: the SAME fixed workload run on every
    // core at once. On an idle host this matches calib_sec per thread; on
    // a contended host it inflates in proportion to how much multi-core
    // bandwidth the bench actually has. calib_sec alone can't arbitrate
    // contention (r10: p19/p20/p21 ran 4-8x slower in the driver window
    // than idle with IDENTICAL calib_sec) — this number can.
    val calibParSec = {
      val n = Runtime.getRuntime.availableProcessors()
      val t0 = System.nanoTime()
      val threads = (1 to n).map(_ => new Thread(() => calibOnce()))
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    val spark = GraftSession(cpus)

    // Phase 1 — ingest (one-time per corpus drop, a separate batch job in
    // a real deployment): populate the parquet graph store if stale.
    // Reported as build_sec, 0.0 on the steady-state path. The reference
    // pays its equivalent (plover.py build_indexes) on EVERY boot.
    val buildSec = Fixture.ensureStore(spark, sfDir)
    // Phase 2 — service startup (paid once per session): scan the stored
    // columnar artifacts into the session caches. This is warm_sec, and
    // it must stay flat as the data grows — it is a read, not a rebuild.
    // The four materializations are independent Spark jobs, so they run
    // concurrently (a fresh local[32] JVM is JIT/codegen-bound here, not
    // core-bound; overlapping hides most of the per-job first-touch cost).
    // The OBJECT-clustered edge replica is warmed in the BACKGROUND
    // (r12 verdict #3): it exists purely to accelerate reverse-direction
    // probes, so the service is ready to answer as soon as the PRIMARY
    // tables are hot — warm_sec is that blocking time-to-first-answer.
    // The replica cache fills concurrently (started first, so it
    // overlaps the other four materializations on the 32 cores); a
    // reverse probe arriving before it finishes simply materializes the
    // remaining partitions itself (Spark's block-level cache locking
    // computes each partition once). The tail the replica needs BEYOND
    // the primary warm is reported as replica_warm_sec — nothing is
    // off the books, it just no longer serializes startup.
    // Warmed on the serving session: the graph keys read the fixture
    // through it, so warming the batch session's entries left the first
    // key to re-cache the frames and re-run the closure and meta jobs.
    val sv = Fixture.serving(spark)
    val tWarm0 = System.nanoTime()
    val replicaWarm = locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.DurationInt
      val g = Fixture.graph(sv, sfDir)
      val replica = Future(g.reverseEdges.count())
      Await.result(Future.sequence(Seq(
        Future(g.nodes.count()), Future(g.edges.count()),
        Future(Fixture.closure(sv, sfDir).count()),
        Future(Fixture.metaSummary(sv, sfDir).count()))), 30.minutes)
      Fixture.closureIndex(sv, sfDir)
      replica
    }
    val warmSec = (System.nanoTime() - tWarm0) / 1e9
    // Drain the replica tail before the floor probe — the floor is a
    // measurement instrument and must not be timed under self-inflicted
    // cache-build contention.
    locally {
      import scala.concurrent.Await
      import scala.concurrent.duration.DurationInt
      Await.result(replicaWarm, 30.minutes)
    }
    val replicaWarmSec = (System.nanoTime() - tWarm0) / 1e9 - warmSec

    // Irreducible per-query floor: plan + schedule + scan a cached-edge
    // count that matches nothing. Every interactive query pays at least
    // this much regardless of plan quality — reported so a "g03 is 150 ms"
    // reading can be decomposed into floor + work (r10 advice #1).
    val floorSec = {
      import org.apache.spark.sql.functions.col
      val g = Fixture.graph(sv, sfDir)
      val runs = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        g.edges.where(col("subject") === "__floor__").count()
        (System.nanoTime() - t0) / 1e9
      }
      runs.sorted.apply(runs.length / 2)
    }

    // Each query runs `repeats` times, INTERLEAVED round-robin: round 1
    // runs every query once in sorted order (the COLD time — plan +
    // execute, caches empty beyond the shared fixture, comparable to
    // earlier rounds), then round 2 re-runs them all, then round 3.
    // Later runs re-hit Spark's logical-plan cache lookup, so their
    // floor is the fixed planning/AQE overhead. Interleaving spreads a
    // query's repeats across the whole run, so one sustained external
    // load window inflates ONE round of many queries instead of every
    // repeat of one adjacent block — the r5 bench's g09/g10/g11
    // "regression" (3-6x mins, zero code change) was exactly that
    // failure mode, unprovable from back-to-back repeats. p50 and min
    // across temporally-separated runs tell load noise from plan
    // regressions. A query that errors is skipped in later rounds.
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt)
    // SPARK_GRAFT_ONLY=<substring[,substring...]>: time a subset while
    // iterating on one operator (official runs leave it unset).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    val times = scala.collection.mutable.LinkedHashMap(
      named.map { case (n, _) =>
        n -> scala.collection.mutable.ArrayBuffer.empty[Double] }: _*)
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (_ <- 0 until repeats; (name, fn) <- named if !failed.contains(name)) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        times(name) += (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.toString) }
    }
    // p50 hygiene (r16 verdict #7, widened r18 per r17 verdict #7): at
    // repeats=3 a key's median IS the documented one-time warmup
    // execution (#1 cold plan+codegen, #2 HotSpot tiered compile, #3+
    // steady), so the headline baseline-comparison sum landed ~2x over
    // steady on the scheduling-floor keys — pure metric artifact. The
    // 15 published baseline keys get extra rounds up to 9 total
    // executions, putting their p50 (5th of 9) deep in the steady
    // series even when one steady execution catches a noise spike —
    // the driver bench was within 6% of steady at 5 executions but the
    // idle runs still read 19% over. Metric definition unchanged.
    // ~15 keys x 6 x sub-second = tens of seconds per run. Per-key
    // execution counts ride in the detail JSON ("queries_n_exec") so
    // consumers see the sampling asymmetry vs non-baseline keys
    // (advice-caught).
    val baselineKeys = Set(
      "g03_onehop_fwd", "g04_onehop_rev", "g05_onehop_open",
      "g06_onehop_pinned", "g07_onehop_multi", "g08_category_hierarchy",
      "g09_predicate_hierarchy", "g10_symmetric", "g11_canonical_flip",
      "g13_subclass_expansion", "g14_single_node", "g15_qualified",
      "g16_attr_constraint", "g18_get_edges", "g19_get_neighbors")
    val extraRounds =
      math.max(0, 9 - repeats) min (if (repeats >= 1) 6 else 0)
    for (_ <- 0 until extraRounds;
         (name, fn) <- named
         if baselineKeys.contains(name) && !failed.contains(name)) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        times(name) += (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable =>
        // a transient failure in a BONUS round must not retroactively
        // fail a key that already has its main-round timings — refine
        // p50 or leave it alone, never discard valid measurements
      }
    }
    val results = named.map { case (name, _) =>
      (name, times(name).toList, failed.get(name)) }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ok = results.filter(_._3.isEmpty)
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    val ok3 = (v: Double) => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qmap(f: List[Double] => Double) = ok
      .map { case (k, ts, _) => jstr(k) + ":" + ok3(f(ts)) }
      .mkString("{", ",", "}")
    val cold = (ts: List[Double]) => ts.head
    val p50 = (ts: List[Double]) => ts.sorted.apply(ts.length / 2)
    // Steady-state slice: executions >= 3. The r15 JIT instrumentation
    // showed execution #1 is cold (plan+codegen), #2 still pays the
    // one-time HotSpot tiered compile, and from #3 the series is what
    // a warm server actually serves — a repeats=3 p50 lands on the
    // WARMUP execution and overstates steady-state ~2x on the
    // scheduling-floor keys. With repeats=3 the slice is the single
    // third execution; repeats>=5 gives a true steady median. cold
    // stays reported separately.
    // With repeats < 3 there IS no steady execution — emitting a cold
    // or warmup number under the steady label would let an A/B compare
    // cold vs steady and report a phantom 2x regression, the exact
    // confusion this metric removes. The fields go null/absent instead.
    val hasSteady = repeats >= 3
    val steady = (ts: List[Double]) => {
      val s = ts.drop(2)
      p50(if (s.nonEmpty) s else ts.takeRight(1))
    }
    val errs = results.collect { case (k, _, Some(m)) =>
      jstr(k) + ":" + jstr(m.take(200))
    }.mkString("{", ",", "}")
    val total = ok.map(r => cold(r._2)).sum
    val totalP50 = ok.map(r => p50(r._2)).sum
    val totalP50Steady =
      if (hasSteady) ok3(ok.map(r => steady(r._2)).sum) else "null"
    val steadyMap =
      if (hasSteady) s""""queries_p50_steady":${qmap(steady)},""" else ""
    // Cache hygiene: drop every operator-materialized frame now that all
    // results are consumed (the long-running-service lifecycle; repeats
    // above deliberately reused them — that is the warm-service p50).
    // After the drain the only cached entries are the fixed fixture
    // working set (graph, closure, meta summary, zipped edges), a
    // constant independent of how many queries ran — the JSON carries
    // the drained count as the session-lifetime-growth evidence.
    val cachesDrained = graft.operators.OperatorCaches.drainMaterialized()
    // Two artifacts: a full-detail JSON file (all repeat stats), and ONE
    // compact JSON line on stdout. The line is printed AFTER spark.stop()
    // so no executor/shutdown logging can land after it — together with
    // StdoutOutput + showSuccess:=false in build.sbt it is the final line
    // of the run, parseable by a naive last-line JSON reader, and short
    // enough to survive a bounded tail capture.
    val load1 = loadAvg()
    val loads =
      s""""load_avg_start":$load0,"load_avg_end":$load1,"load_wait_sec":${ok3(waitSec)}"""
    val probes =
      s""""calib_sec":${ok3(calibSec)},"calib_par_sec":${ok3(calibParSec)},"floor_sec":${ok3(floorSec)}"""
    // SPARK_GRAFT_SERIES=1: carry the raw per-repeat series in the
    // detail file (convergence-curve forensics — WHICH execution pays
    // JIT/codegen warmup is invisible in cold/p50/min aggregates).
    val series = if (sys.env.contains("SPARK_GRAFT_SERIES"))
      s""""queries_series":${ok.map { case (k, ts, _) =>
        jstr(k) + ":" + ts.map(ok3).mkString("[", ",", "]")
      }.mkString("{", ",", "}")},"""
    else ""
    val nExec = ok.map { case (k, ts, _) => jstr(k) + ":" + ts.length }
      .mkString("{", ",", "}")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":${qmap(cold)},"queries_p50":${qmap(p50)},$steadyMap"queries_min":${qmap(_.min)},"queries_max":${qmap(_.max)},$series"queries_n_exec":$nExec,"repeats":$repeats,"total_p50":$totalP50,"total_p50_steady":$totalP50Steady,"errors":$errs,"n_ok":${ok.size},"n_queries":${results.size},"warm_sec":$warmSec,"replica_warm_sec":${ok3(replicaWarmSec)},$probes,"build_sec":${ok3(buildSec)},"caches_drained":$cachesDrained,$loads,"sf":${jstr(sfDir)}}"""
    // Detail file: env-overridable path, and never let an unwritable CWD
    // abort the run after all queries already completed — the stdout line
    // is the contract, the file is best-effort.
    //
    // The default path is RUN-STAMPED (cpus + wall clock to the
    // millisecond) under target/, never a fixed name: running the bench
    // twice (32 then 8 cores) would otherwise lose the first run's
    // per-query detail to the second. The stdout line carries the exact
    // path in "detail". (Embedding the 209-key p50 map in the stdout
    // line instead would overflow a 2000-char tail capture and turn the
    // WHOLE line unparseable — the ~700-char compact line already fills
    // a third of it.)
    val detailRef =
      try {
        val detailPath = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_DETAIL", {
            val ts = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss_SSS")
              .format(new java.util.Date())
            Spool.target(s"bench_detail_c${cpus}_$ts.json")
          }))
        Option(detailPath.toAbsolutePath.getParent)
          .foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(detailPath, detail.getBytes("UTF-8"))
        jstr(detailPath.toAbsolutePath.toString)
      } catch { case _: Throwable => "null" }
    // The stdout line is COMPACT (r10 advice #4): totals + errors + host
    // probes only, no per-query map — the driver's tail capture truncates
    // long lines and then records parsed:null. Per-query numbers live in
    // the detail file (path carried in "detail").
    val line = s"""{"metric":"total","value":$total,"unit":"sec","repeats":$repeats,"total_p50":$totalP50,"total_p50_steady":$totalP50Steady,"errors":$errs,"n_ok":${ok.size},"n_queries":${results.size},"warm_sec":$warmSec,"replica_warm_sec":${ok3(replicaWarmSec)},$probes,"build_sec":${ok3(buildSec)},"caches_drained":$cachesDrained,$loads,"detail":$detailRef,"sf":${jstr(sfDir)}}"""
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(line)
    System.out.flush()
  }
}
