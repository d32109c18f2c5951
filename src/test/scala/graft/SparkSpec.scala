package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
 * run sequentially in the forked test JVM). Pinned at 4 cores whatever
 * the host has, so the partition counts PlanAuditSpec asserts hold. */
object SparkSpec {
  lazy val session: SparkSession = GraftSession(cores = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}
