package fmbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail needs more than ten samples and never falls back to the max") {
    assert(Stats.tail(Seq.fill(10)(1.0)).isEmpty)
    assert(Stats.tail(Seq.empty).isEmpty)
    val t = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t.value == 1.0 && t.n == 11)
    assert(math.abs(t.percentile - 100.0 / 11) < 1e-12)
  }

  test("tail is the sample with exactly ten beyond it") {
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    assert(Stats.tail(xs).contains(Stats.Tail(90.0, 90.0, 100)))
    val t20 = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(t20.value == 10.0 && t20.percentile == 50.0)
  }

  test("a failed op counts as a sample beyond the tail") {
    val xs = (1 to 19).map(_.toDouble) :+ Double.PositiveInfinity
    assert(Stats.tail(xs).get.value == 10.0)
    val fewOk = Seq.fill(5)(1.0) ++ Seq.fill(10)(Double.PositiveInfinity)
    assert(Stats.tail(fewOk).get.value == 1.0)
    assert(Stats.tail(fewOk :+ Double.PositiveInfinity).get.value.isInfinite)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("recall and precision on a tiny fixture") {
    val truth = Set("a" -> "b", "a" -> "c", "b" -> "c")
    val found = Set("a" -> "b", "a" -> "c", "c" -> "d")
    val s = Stats.pairScore(found, truth)
    assert(s == Stats.PairScore(2.0 / 3, 2.0 / 3, missed = 1, extra = 1))
    assert(Stats.pairScore(truth, truth) == Stats.PairScore(1.0, 1.0, 0, 0))
    assert(Stats.pairScore(Set.empty[(String, String)], truth).recall == 0.0)
    assert(Stats.pairScore(Set.empty[(String, String)], Set.empty[(String, String)]).precision == 1.0)
    assert(Stats.pairScore(truth + ("x" -> "y"), truth).precision == 0.75)
  }

  test("agreement is the share of keys with an equal value") {
    assert(Stats.agreement(Map(1 -> "x", 2 -> "y"), Map(1 -> "x", 2 -> "z", 3 -> "w")) == 1.0 / 3)
    assert(Stats.agreement(Map.empty[Int, Int], Map.empty[Int, Int]) == 1.0)
  }
}
