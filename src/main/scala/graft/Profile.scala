package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * The diagnostic main: where a key's time goes, so a movement on the
 * bench board is attributable to a layer instead of re-running the bench.
 *
 *   sbt "runMain graft.Profile <sfDir> <key-substr,...> [reps] [plansDir]"
 *
 * Prints, in order:
 *  - the store build seconds (0 when the stored graph is current) and the
 *    per-step timing of the warm-up Bench runs before its timed region;
 *  - per key matching any substring: DataFrame construction seconds and
 *    the Spark jobs construction started. A construction-pure key starts
 *    at most the one parquet-footer read — the property
 *    `PipelineEntry.preparedPure` relies on and PreparedPuritySpec pins.
 *    Then physical-planning seconds, and `reps` (default 3) executions
 *    of the planned frame, each with the jobs, stages and tasks it ran;
 *  - every streaming micro-batch's durationMs breakdown and summed state
 *    commit time, which only streaming keys produce;
 *  - with plansDir, each key's formatted physical plan, every expression
 *    list in full, as <key>.txt.
 */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Profile <sfDir> <key-substr,...> [reps] [plansDir]")
    val sfDir = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val plansDir = args.lift(3).map(Paths.get(_))
    plansDir.foreach(Files.createDirectories(_))
    val spark = GraftSession()

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val commitMs = Option(p.stateOperators).toSeq.flatten.map(_.commitTimeMs).sum
        println(s"  stream ${p.name} batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs[$phases] stateCommitMs=$commitMs")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def timed[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    /** Seconds, result, and the jobs/stages/tasks the body started. */
    def counted[A](body: => A): (Double, A, JobCount) = {
      val ((sec, r), run) = JobCount.during(spark)(timed(body))
      (sec, r, run)
    }
    def step[A](name: String)(body: => A): A = {
      val (sec, r) = timed(body)
      println(f"warm  $name%-20s $sec%8.3f s")
      r
    }

    val buildSec = Fixture.ensureStore(spark, sfDir)
    println(f"store build $buildSec%.3f s")
    // the serving session's entries: graph keys read the fixture through it
    val sv = Fixture.serving(spark)
    val (warmSec, _) = timed {
      val g = step("graph load")(Fixture.graph(sv, sfDir))
      step("nodes")(g.nodes.count())
      step("edges")(g.edges.count())
      step("reverse edges")(g.reverseEdges.count())
      step("closure")(Fixture.closure(sv, sfDir).count())
      step("meta summary")(Fixture.metaSummary(sv, sfDir).count())
      step("closure index")(Fixture.closureIndex(sv, sfDir))
    }
    println(f"warm  total                $warmSec%8.3f s")

    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if keys.exists(name.contains)) {
      try {
        println(s"== $name")
        spark.sparkContext.setJobDescription(s"profile:$name")
        val (bSec, df, bRun) = counted(fn(spark, sfDir))
        println(f"  build  $bSec%8.3f s ($bRun)")
        val (pSec, _) = timed(df.queryExecution.executedPlan)
        println(f"  plan   $pSec%8.3f s")
        for (i <- 1 to reps) {
          val (eSec, rows, eRun) = counted(df.count())
          println(f"  exec$i  $eSec%8.3f s ($eRun) rows=$rows")
        }
        // no spark.sql.debug.maxToStringFields cap: a diff sees every field
        plansDir.foreach { d =>
          val uncapped = SQLConf.get.clone()
          uncapped.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
          Files.write(d.resolve(s"$name.txt"), SQLConf.withExistingConf(uncapped)(
            df.queryExecution.explainString(FormattedMode)).getBytes("UTF-8"))
        }
      } catch { case e: Throwable =>
        println(s"  ERROR ${Option(e.getMessage).getOrElse(e.toString).take(200)}")
      }
    }
    spark.stop()
  }
}
