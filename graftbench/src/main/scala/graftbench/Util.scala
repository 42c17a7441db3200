package graftbench

/** Minimal JSON rendering for the result line, the info line and the trace
  * dump (values are numbers, strings, booleans, sequences and maps).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d cannot be reported")
      d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String = render(scala.collection.immutable.ListMap(kv: _*))
}

/** Sample statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the definition numpy and Python's
    * `statistics.quantiles(method="inclusive")` use).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail percentile: the highest of a fixed ladder that leaves at
    * least ten samples beyond it, by nearest rank. Returns (percentile,
    * value). The ladder's wide steps keep the chosen percentile the same
    * across runs whose sample counts differ by a few. Below 20 samples no
    * percentile qualifies and the maximum is reported as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    val s = xs.sorted
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => n - math.ceil(p / 100 * n) >= 10) match {
      case Some(p) => (p, s(math.ceil(p / 100 * n).toInt - 1))
      case None => (100.0, s.last)
    }
  }
}

/** Seeded splitmix64 stream: the benchmark's only source of randomness. */
final class Rng(seed: Long) {
  private var state = seed * 0x2545f4914f6cdd1dL + 0x1234567L
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var x = state
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def unit(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def below(n: Int): Int = ((nextLong() >>> 1) % n).toInt
}
