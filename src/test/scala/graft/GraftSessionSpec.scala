package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the conf every harness main, the tests and perfbench run
  * under: they all build through [[GraftSession.builder]], so dropping
  * a key there would silently change Verify, Bench and perfbench. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the builder's effective session conf") {
    val sql = Seq(
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
      "spark.sql.codegen.cache.maxEntries" -> "512")
    sql.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    val core = Seq(
      "spark.ui.enabled" -> "false",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")
    core.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v, k) }
  }

  test("knob: unset takes the default, a valid value parses") {
    assert(GraftSession.knob("K", None, default = 4, min = 1) == 4)
    assert(GraftSession.knob("K", Some(" 8 "), default = 4, min = 1) == 8)
    assert(GraftSession.knob("K", Some("0"), default = 64, min = 0) == 0)
  }

  test("knob: a malformed or out-of-range value fails naming the knob") {
    Seq("abc", "", "4.5", "0", "-2").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        GraftSession.knob("SPARK_GRAFT_CPUS", Some(bad), default = 4, min = 1))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
