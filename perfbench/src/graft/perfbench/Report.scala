package graft.perfbench

import scala.collection.mutable

/** Named metric samples. A metric's reported value is the median of its
  * samples; the detail line also carries the quartiles and the count, so
  * a later comparison can tell "unchanged" from "unresolved". */
final class Report {
  private val units = mutable.LinkedHashMap.empty[String, String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, unit: String, v: Double): Unit = {
    require(!v.isNaN && !v.isInfinite, s"metric $name is not a finite number: $v")
    units.getOrElseUpdate(name, unit)
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def addAll(name: String, unit: String, vs: Iterable[Double]): Unit = vs.foreach(add(name, unit, _))

  def has(name: String): Boolean = samples.contains(name)
  private def values(name: String): Seq[Double] = samples.getOrElse(name, Nil).toSeq
  def value(name: String): Double = Report.median(values(name))

  /** `{"name": {"value": median, "unit": u}}` for the given names, in order. */
  def result(names: Seq[String]): Seq[(String, Any)] = names.map { n =>
    require(samples.contains(n), s"metric $n was not measured")
    n -> Seq("value" -> value(n), "unit" -> units(n))
  }

  def detail: Seq[(String, Any)] = samples.toSeq.map { case (n, xs) =>
    val (q1, med, q3) = Report.quartiles(xs.toSeq)
    n -> Seq("median" -> med, "q1" -> q1, "q3" -> q3, "n" -> xs.size, "unit" -> units(n))
  }
}

object Report {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The quartiles as Python's `statistics.quantiles(xs, n=4)` gives them
    * (its default "exclusive" method); a single sample is its own
    * quartiles. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    if (s.size == 1) (s(0), s(0), s(0))
    else {
      val m = s.size + 1
      def q(i: Int): Double = {
        val j = math.min(math.max(i * m / 4, 1), s.size - 1)
        val delta = i * m - j * 4
        (s(j - 1) * (4 - delta) + s(j) * delta) / 4
      }
      (q(1), median(s), q(3))
    }
  }

  /** Percentile by nearest rank: the smallest sample with at least
    * `p` percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }
}

/** Minimal JSON writer for the benchmark's output: ordered objects as
  * `Seq[(String, Any)]`, arrays as other `Seq`s, and scalars. */
object Json {
  def write(v: Any): String = {
    val sb = new java.lang.StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null => sb.append("null")
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
        sb.append(d)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case kv: Seq[_] if kv.nonEmpty && kv.forall {
          case (_: String, _) => true
          case _ => false
        } =>
        sb.append('{')
        kv.zipWithIndex.foreach { case ((k: String, v), i) =>
          if (i > 0) sb.append(',')
          str(k); sb.append(':'); go(v)
        }
        sb.append('}')
      case xs: Seq[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (v, i) => if (i > 0) sb.append(','); go(v) }
        sb.append(']')
      case other => throw new IllegalArgumentException(s"not JSON-writable: $other")
    }
    go(v)
    sb.toString
  }
}
