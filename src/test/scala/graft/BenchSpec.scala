package graft

import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.medianOfSuccesses

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
}
