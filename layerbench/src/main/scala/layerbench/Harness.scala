package graft.layerbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One attempted op. `seconds` is its timed span; it is kept only for
  * ops that neither threw nor failed their output check, and only
  * such ops ever reach a timing metric. */
final case class OpRecord(name: String, phase: String, pass: Int,
    seconds: Double, ok: Boolean, error: String)

/** The closed loop: one op at a time. [[op]] times `timed` (the op's
  * whole span), then runs `check` on its result outside the timed span.
  * An op that throws, or whose check fails, is recorded as failed and
  * its time is dropped, so a broken op can never read as a fast one. */
final class Harness(tracer: Tracer, log: String => Unit = System.err.println) {
  private val records = mutable.ArrayBuffer.empty[OpRecord]

  /** Called when an op's check starts, so a listener can tell check
    * jobs from timed ones. */
  var onCheck: () => Unit = () => ()

  def all: Seq[OpRecord] = records.toSeq
  def attempted: Int = records.size
  def failed: Int = records.count(!_.ok)

  def op[R](name: String, phase: String, pass: Int)(timed: => R)(
      check: R => Option[String]): Boolean = {
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.span("op", "name" -> name, "phase" -> phase,
        "pass" -> pass.toString)(timed))
      catch { case NonFatal(e) => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    onCheck()
    val verdict = result.flatMap { r =>
      try check(r).toLeft(())
      catch { case NonFatal(e) => Left(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    val rec = verdict match {
      case Right(_) => OpRecord(name, phase, pass, sec, ok = true, "")
      case Left(err) =>
        log(s"[layerbench] FAILED $phase/$name (pass $pass): $err")
        OpRecord(name, phase, pass, Double.NaN, ok = false, err)
    }
    records += rec
    rec.ok
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail latency: the highest order statistic with at least ten
    * samples beyond it, but never below the 90th percentile (nearest
    * rank). Runs of fewer than a hundred ops therefore report p90. */
  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    s(math.max(math.ceil(0.9 * s.size).toInt - 1, s.size - 11))
  }
}
