package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (ScalaTest runs suites in
  * one JVM; SparkSession.getOrCreate dedupes). Built by the engine's
  * own session factory, so the plan-shape suites assert the plans
  * production actually runs, under the same conf — the codegen cache
  * size ([[GraftSession.CodegenCacheEntries]]) included.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
