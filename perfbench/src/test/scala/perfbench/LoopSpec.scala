package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {
  test("a throwing or wrong op is named in the failed list and left out of the timings") {
    val step = Seq(
      Op("fine", "query", () => ()),
      Op("throws", "query", () => throw new IllegalStateException("forced")),
      Op("wrong", "query", () => throw new WrongOutput("forced mismatch")))
    val r = Loop.run(0, () => step)
    assert(r.samples.map(_.name) == Seq("fine"))
    assert(r.failed.map(_._1) == Seq("throws", "wrong"))
    assert(r.failed.head._2 == "IllegalStateException: forced")
    assert(r.attempted == 3)
  }

  test("the tail is the highest percentile with ten samples beyond it, else the maximum") {
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.tail(xs) == (100 -> 19.0))
    assert(Stats.tail(xs :+ 20.0) == (50 -> 10.0))
    assert(Stats.tail((1 to 100).map(_.toDouble)) == (90 -> 90.0))
  }
}
