package perfbench

import scala.util.control.NonFatal

/** One call a user of the engine makes: ingest a file, run a reader query,
  * run a catalogue query. `run` throws on failure and on a wrong output.
  */
final case class Op(name: String, kind: String, run: () => Unit)

/** Raised by an op whose call returned but whose output is wrong. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

final case class Sample(name: String, kind: String, seconds: Double)

final case class LoopResult(
    samples: Vector[Sample], failed: Vector[(String, String)], wallSeconds: Double) {
  def attempted: Int = samples.size + failed.size
}

/** The closed loop: one client, each op sent after the previous returned.
  * Ops come in steps (a drop and its reads, a pass over a query pool). The
  * first step always runs, and a step that has started runs to its end, so
  * every run measures whole steps.
  */
object Loop {
  def run(seconds: Double, next: () => Seq[Op]): LoopResult = {
    val samples = Vector.newBuilder[Sample]
    val failed = Vector.newBuilder[(String, String)]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    do next().foreach { op =>
      val s = System.nanoTime()
      try {
        op.run()
        samples += Sample(op.name, op.kind, (System.nanoTime() - s) / 1e9)
      } catch {
        case NonFatal(e) =>
          failed += op.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
            .replaceAll("\\s+", " ").take(300)
      }
    } while (System.nanoTime() < deadline)
    LoopResult(samples.result(), failed.result(), (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it, by
    * nearest rank. Below twenty samples that percentile is under the median,
    * so the tail is the maximum (reported as percentile 100).
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    if (n < 20) 100 -> (if (xs.isEmpty) Double.NaN else xs.max)
    else {
      val p = 100 * (n - 10) / n
      p -> xs.sorted.apply(math.ceil(p * n / 100.0).toInt - 1)
    }
  }
}
