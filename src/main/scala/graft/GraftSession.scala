package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/**
 * The one SparkSession factory. Every graft main and the test suite build
 * their session here, so the deployment settings below cannot drift
 * between the bench, the correctness dump, the profiler and the tests
 * (`GraftSessionSpec` fails if a second builder appears under `src/`).
 */
object GraftSession {

  /** Cores of a local session: `SPARK_GRAFT_CPUS` when set, else every
   * core the JVM sees. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** A `local[cores]` session with one shuffle partition per core. */
  def apply(cores: Int = defaultCores): SparkSession = {
    require(cores > 0, s"cores must be positive, got $cores")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Executors of this memory class (tens of GiB) can hash-broadcast
      // dimensions well past Spark's conservative 10 MB default; 32 MB
      // keeps the sf0.1 node-category dimension (~15 MB cached) on the
      // broadcast side of the build-time denorm joins instead of
      // shuffling the 1.3 M-row edge table twice. Operators stay
      // stats-adaptive — genuinely large sides still shuffle. The plan
      // pins in PlanAuditSpec assert the join strategies this produces.
      .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
      // Codegen class cache sized to the workload, not Spark's default
      // 100 entries: a process answering 100+ distinct prepared queries
      // compiles several generated classes per plan, so the default LRU
      // churns and every repeat re-compiles its generated code (janino,
      // 50-200 ms for a large filter) — measured as a consistent 2-3x p50
      // inflation on the expression-heavy lookups (g15 0.33 s in the full
      // 108-key bench vs 0.18 s benched alone, identical plans). Static
      // conf: it only takes effect on the first session of the JVM.
      // Memory cost is bounded: compiled classes, not data.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Timestamps render and truncate in UTC, as the DuckDB oracles do.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // saveAsTable lands in a fresh directory, never in the working tree.
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
