package medbench

import scala.collection.mutable

/** Quantiles by linear interpolation between order statistics (the
  * numpy default, so a median of two samples is their mean). */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Named sample sets: every timing keeps all its samples so the report
  * can state how many a metric rests on. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def apply(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
  def names: Seq[String] = m.keys.toSeq
}

/** One run's outcome: op accounting, metrics with their sample counts,
  * and free-form diagnostics. Serialized as a single JSON line. */
final class Report {
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String, samples: Int): Unit = {
    require(!value.isNaN && !value.isInfinite, s"$name is not a number: $value")
    metrics(name) = (value, unit, samples)
  }

  /** Median of `xs` as `name` (0 with 0 samples when the layer was not
    * driven by this workload). */
  def median(name: String, xs: Seq[Double], unit: String): Unit =
    metric(name, if (xs.isEmpty) 0.0 else Stats.median(xs), unit, xs.size)

  def note(key: String, v: Any): Unit = info(key) = v.toString

  /** Count one op; a thrown exception or a failed check marks it failed. */
  def op[A](label: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        if (failures.size < 10) failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def json: String = {
    val ms = metrics.map { case (k, (v, u, n)) =>
      s"${str(k)}:{\"value\":${v.toString},\"unit\":${str(u)},\"samples\":$n}"
    }.mkString("{", ",", "}")
    val is = info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    val fs = failures.map(str).mkString("[", ",", "]")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms,"info":$is,"failures":$fs}"""
  }
}

/** Thrown by a verification step: the op ran but its output is wrong. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
  def that(what: String, ok: Boolean): Unit =
    if (!ok) throw new CheckFailed(what)
}
