package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.summarize]]: a failed query is reported by its error class and
  * enters no time and no sum.
  */
class BenchSpec extends AnyFunSuite {

  private val oracle = Set("a", "b", "stream")
  private val asymmetric = Set("stream")

  test("fastest pass per query; sums split comparable and symmetric rows") {
    val s = Bench.summarize(
      Seq(Map("a" -> Right(2.0), "b" -> Right(1.0), "stream" -> Right(4.0), "x" -> Right(0.5)),
          Map("a" -> Right(1.5), "b" -> Right(3.0), "stream" -> Right(5.0), "x" -> Right(0.7))),
      oracle, asymmetric)
    assert(s.failed.isEmpty)
    assert(s.times == Map("a" -> 1.5, "b" -> 1.0, "stream" -> 4.0, "x" -> 0.5))
    assert(s.total == 7.0 && s.comparableSec == 6.5 && s.symmetricSec == 2.5)
  }

  test("a query that throws in any pass is failed and enters no sum") {
    val s = Bench.summarize(
      Seq(Map("a" -> Right(1.0), "b" -> Left("AnalysisException"), "stream" -> Right(4.0)),
          Map("a" -> Right(2.0), "b" -> Left("SparkException"), "stream" -> Left("TimeoutException")),
          Map("stream" -> Right(3.0))), // a targeted retry pass holds a subset
      oracle, asymmetric)
    assert(s.failed == Map("b" -> "AnalysisException", "stream" -> "TimeoutException"))
    assert(s.times == Map("a" -> 1.0))
    assert(s.total == 1.0 && s.comparableSec == 1.0 && s.symmetricSec == 1.0,
      "no failed query and no -1 placeholder may reach a sum")
  }

  test("all queries failed: empty times, zero sums") {
    val s = Bench.summarize(Seq(Map("a" -> Left("OutOfMemoryError"))), oracle, asymmetric)
    assert(s.times.isEmpty && s.failed == Map("a" -> "OutOfMemoryError"))
    assert(s.total == 0.0 && s.comparableSec == 0.0 && s.symmetricSec == 0.0)
  }
}
