package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.Bridge

/** The Spark jobs, stages and tasks a block of code started. */
final case class JobCount(jobs: Int, stages: Int, tasks: Int) {
  override def toString: String = s"$jobs jobs $stages stages $tasks tasks"
}

object JobCount {

  /** Runs `body` and counts what it starts on `spark`'s SparkContext. The
   * listener bus is drained before and after (`Bridge.awaitListeners`),
   * so earlier events are not counted and the body's own are; the
   * counting listener is removed afterwards. */
  def during[A](spark: SparkSession)(body: => A): (A, JobCount) = {
    val jobs, stages, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    Bridge.awaitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Bridge.awaitListeners(spark)
      (r, JobCount(jobs.get, stages.get, tasks.get))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
