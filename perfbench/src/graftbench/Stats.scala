package graftbench

/** A latency distribution reported the benchmark's way: the median and
  * the highest percentile with at least ten samples beyond it. */
final case class Dist(samples: Seq[Double]) {
  val n: Int = samples.size
  private val sorted = samples.sorted.toIndexedSeq

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def p50: Double = quantile(0.5)

  /** 1 - 10/n leaves ten samples above it; below 20 samples no
    * percentile above the median qualifies, so the tail is the median. */
  def tailQ: Double = if (n < 20) 0.5 else 1.0 - 10.0 / n
  def tail: Double = quantile(tailQ)
  def sum: Double = samples.sum
}

object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Render nested Maps / Seqs / numbers / strings / booleans. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
}
