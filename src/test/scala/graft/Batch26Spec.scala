package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

/** Batch-26: weighted PageRank semantics on hand-built toys. */
class Batch26Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("weighted pageRank at w=1 equals the unweighted loop exactly") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val pw = GraphOps.pageRankWeighted(e.withColumn("w", lit(1L)), 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pu = GraphOps.pageRank(e, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pw == pu, "w ≡ 1 must reproduce the uniform split bit-for-bit")
  }

  test("weighted pageRank routes mass along the heavy edge") {
    // 1 splits 9:1 between 2 and 3 — after one iteration from uniform
    // ranks, 2 must hold ~9x the inflow of 3
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r = GraphOps.pageRankWeighted(e, 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) > r(3L), s"heavy edge must carry more mass: $r")
    val in2 = (r(2L) - 0.15) / 0.85
    val in3 = (r(3L) - 0.15) / 0.85
    assert(math.abs(in2 / in3 - 9.0) < 1e-6, s"9:1 split expected: $in2 vs $in3")
  }

  test("weighted pageRank rejects a zero weight and a NULL weight") {
    val good = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 4L))
    val zero = (good :+ ((1L, 3L, 0L))).toDF("src", "dst", "w")
    val nul = (good.map { case (s, d, w) => (s, d, Option(w)) } :+ ((1L, 3L, Option.empty[Long])))
      .toDF("src", "dst", "w")
    for ((what, e) <- Seq("w = 0" -> zero, "NULL w" -> nul)) {
      val err = intercept[IllegalArgumentException](GraphOps.pageRankWeighted(e, 2))
      assert(err.getMessage.contains("pageRankWeighted: edge weights must be positive non-null"),
        s"$what: ${err.getMessage}")
    }
  }
}
