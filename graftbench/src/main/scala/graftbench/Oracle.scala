package graftbench

import java.util.stream.IntStream

/** The benchmark's own reference answers. Nothing here calls graft: every
  * check compares graft's output with a computation written from the
  * definition.
  */
object Oracle {
  /** Euclidean distance, double accumulation in element order. */
  def dist(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** Exact top-k by (distance, id), scalar scan. */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float], k: Int): Array[(Long, Double)] = {
    val bd = Array.fill(k)(Double.PositiveInfinity)
    val bi = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < ids.length) {
      val d = dist(vecs(i), q)
      val id = ids(i)
      if (d < bd(k - 1) || (d == bd(k - 1) && id < bi(k - 1))) {
        var j = k - 1
        while (j > 0 && (d < bd(j - 1) || (d == bd(j - 1) && id < bi(j - 1)))) {
          bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1
        }
        bd(j) = d; bi(j) = id
      }
      i += 1
    }
    bi.zip(bd).filter(_._1 != Long.MaxValue)
  }

  /** [[topK]] for every query, spread over the local cores. */
  def topKAll(ids: Array[Long], vecs: Array[Array[Float]], qs: Array[Array[Float]], k: Int): Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](qs.length)
    IntStream.range(0, qs.length).parallel().forEach(i => out(i) = topK(ids, vecs, qs(i), k))
    out
  }

  /** Word 3-shingles of a lowercase, single-space separated text; a text
    * shorter than three words is one shingle.
    */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ")
    if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val (s, l) = if (a.size <= b.size) (a, b) else (b, a)
    val inter = s.count(l.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}

/** Failure ledger: every failed check is counted, and the first few are
  * printed to stderr so a mismatch is never dropped silently.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 20) System.err.println(s"[graftbench] FAILED: $what")
    }
  }
}
