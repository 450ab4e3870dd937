package graft.operators

import java.math.BigInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The superstep kernel's arithmetic must equal the SQL the oracle
  * replays bit for bit, so an edit on either side fails here and not at
  * the oracle's hashes; and the kernel's blocks belong to the scope of
  * the call.
  */
class SuperstepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Groups (g, m) summed by SQL's [[GraphOps.qsum]] and by the kernel's
    * exact sum; every group must agree bit for bit.
    */
  private def assertQsumAgrees(rows: Seq[(Int, Double)]): Unit = {
    val sql = rows.toDF("g", "m").groupBy(col("g")).agg(GraphOps.qsum(col("m")).as("q"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val kernel = rows.groupBy(_._1).map { case (g, ms) =>
      g -> GraphOps.qvalue(ms.map(m => GraphOps.qterm(m._2)).foldLeft(BigInteger.ZERO)(_ add _))
    }
    assert(sql.keySet == kernel.keySet)
    val diff = kernel.collect { case (g, q) if bits(q) != bits(sql(g)) => (g, q, sql(g)) }
    assert(diff.isEmpty, s"kernel vs SQL qsum (group, kernel, sql): ${diff.take(5)}")
  }

  test("kernel qsum equals SQL qsum on 10k seeded doubles across magnitudes") {
    val rnd = new scala.util.Random(7)
    assertQsumAgrees((0 until 10000).map { i =>
      (i % 400, (rnd.nextDouble() - 0.2) * math.pow(10, rnd.nextInt(12) - 8))
    })
  }

  test("kernel qsum equals SQL qsum at exact half-steps of both roundings") {
    // 5e-16 half-steps of the decimal(27,15) cast, and sums landing on
    // 5e-10 half-steps of the 1e-9 grid, both signs
    val casts = (0 until 200).map(k => (k, s"${k * 2 + 1}.0E-16".toDouble * (if (k % 2 == 0) 1 else -1)))
    val grid = (0 until 200).map(k => (1000 + k, s"$k.0000000005".toDouble * (if (k % 3 == 0) -1 else 1)))
    val split = (0 until 200).flatMap(k =>
      Seq((2000 + k, s"0.${"0" * 9}25".toDouble * (k + 1)), (2000 + k, 2.5e-10 * (k + 1))))
    assertQsumAgrees(casts ++ grid ++ split)
  }

  test("kernel qsum equals SQL qsum on 17-significant-digit values and hub-sized sums") {
    val rnd = new scala.util.Random(11)
    def digits(d: Double): Int =
      java.lang.Double.toString(d).takeWhile(_ != 'E').filter(_.isDigit).dropWhile(_ == '0').length
    val digits17 = Iterator.continually(rnd.nextDouble() * math.pow(10, rnd.nextInt(6) - 3))
      .filter(digits(_) == 17).take(2000).zipWithIndex.map { case (d, i) => (i % 50, d) }.toSeq
    // one receiver of 1500 messages, another of 4000 rank-sized terms
    val hubs = (0 until 1500).map(_ => (100, rnd.nextDouble() / 7)) ++
      (0 until 4000).map(_ => (101, 0.15 + 0.85 * rnd.nextDouble() / 3))
    assertQsumAgrees(digits17 ++ hubs)
  }

  test("the kernel's empty sum is SQL's sum over the zero padding alone") {
    // every receiver gets one 0.0 message, so the kernel never sums an
    // empty group; SQL over the pad alone is 0.0 too
    assertQsumAgrees(Seq((0, 0.0)))
    assert(bits(GraphOps.qvalue(BigInteger.ZERO)) == bits(0.0))
    val none = Seq.empty[(Int, Double)].toDF("g", "m").agg(GraphOps.qsum(col("m"))).head()
    assert(none.isNullAt(0), "SQL's qsum over no rows is NULL, which no kernel group reaches")
  }

  test("kernel qdiv equals SQL's grid division; division by zero reads as 0.0") {
    val rnd = new scala.util.Random(3)
    val q = (x: Double) => math.rint(x * 1e9) / 1e9
    val pairs = (0 until 5000).map(_ => (q(rnd.nextDouble() * 5), q(rnd.nextDouble() * 50))) ++
      Seq((0.0, 0.0), (1.5, 0.0), (0.0, 2.0), (1e-9, 3.0), (2.0, 1e-9))
    val sql = pairs.toDF("n", "d").select(col("n"), col("d"),
      (round(col("n") / col("d") * 1000000000L).cast("long").cast("double") / 1.0e9).as("v"))
      .collect()
    val diff = sql.filter { r =>
      val want = if (r.isNullAt(2)) 0.0 else r.getDouble(2)
      bits(GraphOps.qdiv(r.getDouble(0), r.getDouble(1))) != bits(want)
    }
    assert(diff.isEmpty, s"kernel vs SQL qdiv: ${diff.take(5).mkString(", ")}")
  }

  test("a released scope holds none of the kernel's RDDs") {
    val sc = spark.sparkContext
    val edges = ((1L to 30L).map(i => (i, i + 1)) ++ Seq((1L, 3L), (3L, 5L), (40L, 41L)))
      .toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    val scope = new CacheScope
    GraphOps.pageRankConverged(edges, tol = 1e-9, scope = scope).collect()
    GraphOps.connectedComponentsConverged(edges, scope = scope).collect()
    GraphOps.kCoreConverged(edges, k = 2, scope = scope).collect()
    GraphOps.hits(edges, 2, scope = scope).collect()
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "the kernel registered no RDD")
    scope.release()
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs still persisted after release: $left")
  }
}
