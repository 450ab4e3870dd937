package graft

import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{medianOfSuccesses, stablePlan}

class BenchSpec extends AnyFunSuite {
  private val boom: Try[Double] = Failure(new RuntimeException("boom"))

  test("median of an odd number of reps is the middle one") {
    assert(medianOfSuccesses(Seq(Success(3.0), Success(1.0), Success(2.0))) ==
      Some(2.0))
  }

  test("median of an even number of reps averages the middle two") {
    assert(medianOfSuccesses(Seq(Success(4.0), Success(1.0))) == Some(2.5))
    assert(medianOfSuccesses(
      Seq(Success(1.0), Success(9.0), Success(2.0), Success(3.0))) == Some(2.5))
  }

  test("a failed rep is not a sample") {
    // the failure's time-to-throw must not drag the median down
    assert(medianOfSuccesses(Seq(boom, Success(5.0), Success(7.0))) == Some(6.0))
    assert(medianOfSuccesses(Seq(Success(5.0), boom)) == Some(5.0))
  }

  test("no successful rep has no median") {
    assert(medianOfSuccesses(Seq(boom, boom)).isEmpty)
    assert(medianOfSuccesses(Seq.empty).isEmpty)
  }

  test("plan dumps mask expression ids, plan ids, RDD ids and call sites") {
    def dump(attr: Int, planId: Int, rdd: Int, line: Int, join: String) =
      s"""(3) $join
         |Left keys [1]: [id#$attr]
         |Right keys [1]: [id#${attr + 7}L]
         |Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=$planId]
         |Arguments: [id#$attr], MapPartitionsRDD[$rdd] at localCheckpoint at CacheScope.scala:$line, ExistingRDD
         |""".stripMargin
    val a = dump(16799, 43419, 2138, 55, "BroadcastHashJoin")
    assert(stablePlan(a) == stablePlan(dump(218, 12, 7, 57, "BroadcastHashJoin")))
    assert(stablePlan(a) != stablePlan(dump(16799, 43419, 2138, 55, "SortMergeJoin")))
    assert(stablePlan(a).contains("[id#_L]") && stablePlan(a).contains("[plan_id=_]") &&
      stablePlan(a).contains("MapPartitionsRDD[_] at localCheckpoint at CacheScope.scala:_"), stablePlan(a))
  }
}
