package mktbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.commons.math3.special.Beta

/** Small helpers shared by the workloads: JSON output, percentiles,
  * span records and the load average. */
object Json {
  def apply(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => quote(s)
    case b: Boolean                 => b.toString
    case d: Double                  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                   => apply(f.toDouble)
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case o: Option[_]               => o.fold("null")(apply)
    case s: Span                    => s.json
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]             => s.map(apply).mkString("[", ",", "]")
    case other                      => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def write(path: Path, v: Any): Unit =
    Files.write(path, apply(v).getBytes(StandardCharsets.UTF_8))
}

/** One traced interval. `parent` names the span that caused it; spans of
  * one query or one streaming batch share `trace`. Times are epoch ms. */
final case class Span(name: String, trace: String, parent: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
  def json: String = Json(Map("name" -> name, "trace" -> trace, "parent" -> parent,
    "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs))
}

object Stats {
  /** Harrell-Davis estimate of the `p` quantile, `p` in (0, 1): a mean
    * of all order statistics weighted by a Beta(p(n+1), (1-p)(n+1))
    * distribution. A run yields a dozen query walls or a few batches, and
    * one order statistic of so few samples jumps between neighbours from
    * run to run; the weighted mean moves far less. 0 for no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    val n = s.length
    var prev = 0.0
    s.indices.map { i =>
      val cdf = if (i == n - 1) 1.0 else Beta.regularizedBeta((i + 1).toDouble / n, p * (n + 1), (1 - p) * (n + 1))
      val w = cdf - prev
      prev = cdf
      w * s(i)
    }.sum
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Length of the union of [start, end] intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN) { curS = s; curE = e }
        else if (s <= curE) curE = math.max(curE, e)
        else { total += curE - curS; curS = s; curE = e }
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def loadAvg1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Self time of each span name: duration minus the part of it that
    * its direct children cover, summed per name. */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(s => (s.trace, s.parent))
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse((s.trace, s.name), Nil)
        s.durMs - unionMs(kids.map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
      }.sum
    }
  }
}
