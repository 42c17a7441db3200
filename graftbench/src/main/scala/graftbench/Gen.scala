package graftbench

import scala.collection.mutable

/** Clustered points on a low-dimensional manifold linearly embedded in
  * `dim` dimensions: the geometry of real embedding corpora (low intrinsic
  * dimension inside a high ambient one), the same shape as BenchHnsw's
  * `synthetic-clustered` source. `shift` moves every cluster centre along
  * its own fixed direction, which is how the stream workload drifts.
  */
final class Manifold(seed: Long, val dim: Int, val clusters: Int, latent: Int) {
  private val rng = new Rng(seed)
  private val p = Array.fill(dim, latent)(((rng.unit() * 2 - 1) / math.sqrt(latent)).toFloat)
  private val centres = Array.fill(clusters, latent)(rng.unit())
  private val drift = Array.fill(clusters, latent)(rng.unit() * 2 - 1)

  def point(r: Rng, cluster: Int, shift: Double = 0.0): Array[Float] = {
    val z = Array.tabulate(latent) { l =>
      centres(cluster)(l) + shift * drift(cluster)(l) + (r.unit() - 0.5) * 0.2
    }
    Array.tabulate(dim) { d =>
      var acc = 0.0
      var l = 0
      while (l < latent) { acc += p(d)(l) * z(l); l += 1 }
      acc.toFloat
    }
  }
}

/** One planted near-duplicate corpus: `families(f)` lists the doc ids of
  * family f (its first id is the original, the rest are mutated copies).
  */
final case class Corpus(texts: Array[String], families: Array[Array[Int]], vocabulary: Int)

object Gen {
  /** Word for vocabulary rank r: distinct lowercase strings. */
  def word(r: Int): String = {
    val syl = Array("ka", "to", "mi", "re", "su", "no", "la", "pe", "zu", "vo", "ri", "an", "el", "og", "ti", "ud")
    val sb = new StringBuilder
    var x = r + 16
    while (x > 0) { sb.append(syl(x % 16)); x /= 16 }
    sb.toString
  }

  /** Docs whose family sizes are heavy-tailed (Pareto, capped), so the
    * largest families fill LSH buckets past the skew guard. The sizes are
    * Pareto quantiles at a fixed low-discrepancy sequence, the same for
    * every seed, so the number of duplicate pairs and the bucket skew do not
    * change between seeds; the seed draws the words. Words are Zipf over
    * `vocab` ranks; a copy re-draws each word with probability `mut`.
    */
  def corpus(seed: Long, nDocs: Int, vocab: Int, maxFamily: Int, mut: Double): Corpus = {
    val r = new Rng(seed)
    val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def zipf(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.unit())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
    val words = Array.tabulate(vocab)(word)
    val texts = mutable.ArrayBuffer.empty[String]
    val families = mutable.ArrayBuffer.empty[Array[Int]]
    var f = 0
    while (texts.length < nDocs) {
      f += 1
      val u = (f * 0.6180339887498949) % 1.0
      val size = math.min(math.min(maxFamily, nDocs - texts.length),
        math.floor(math.pow(1 - u, -1.0 / 1.5)).toInt)
      val base = Array.fill(60 + r.below(80))(zipf())
      val ids = Array.tabulate(size) { j =>
        val toks = if (j == 0) base else base.map(t => if (r.unit() < mut) zipf() else t)
        texts += toks.map(words).mkString(" ")
        texts.length - 1
      }
      families += ids
    }
    Corpus(texts.toArray, families.toArray, vocab)
  }
}
