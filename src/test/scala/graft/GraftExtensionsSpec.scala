package graft

import org.apache.spark.sql.SparkSession

/** The extensions hook must expose the native expressions to SQL. Uses
 * its own session (extensions are install-time), stopped after. */
class GraftExtensionsSpec extends SparkSpec {

  test("SQL functions registered on a live session") {
    GraftExtensions.install(spark)
    val sim = spark.sql(
      "SELECT shingle_simhash(array('a b', 'b c')) AS h").collect()(0).getLong(0)
    val simAgain = spark.sql(
      "SELECT shingle_simhash(array('b c', 'a b', 'a b')) AS h").collect()(0).getLong(0)
    assert(sim == simAgain) // order/duplicate-insensitive
    val sig = spark.sql(
      "SELECT shingle_minhash(array('a b', 'b c'), 4) AS s").collect()(0).getSeq[Long](0)
    assert(sig.length == 4)
    assert(sig.forall(v => v >= 0 && v < graft.functions.TextFunctions.HashMod))
    // SQL result equals the Column-API result
    import org.apache.spark.sql.functions._
    val viaColumn = spark.range(1).select(
      graft.functions.HashExpressions.shingleSimhash(
        typedLit(Seq("a b", "b c"))).as("h")).collect()(0).getLong(0)
    assert(sim == viaColumn)
    // native dot product from SQL
    val d = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(d == 11.0)
    // mode count and rolling window hashes from SQL
    val mm = spark.sql(
      "SELECT max_multiplicity(array('a', 'b', 'a')) AS m").collect()(0).getLong(0)
    assert(mm == 2L)
    val wh = spark.sql(
      "SELECT rolling_window_hashes(array('a', 'b', 'c'), 2) AS h")
      .collect()(0).getSeq[Long](0)
    val whColumn = spark.range(1).select(
      ComposedText.windowHashes(
        typedLit(Seq("a", "b", "c")), 2).as("h")).collect()(0).getSeq[Long](0)
    assert(wh.length == 2 && wh == whColumn)
  }
}
