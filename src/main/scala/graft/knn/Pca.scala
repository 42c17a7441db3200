package graft.knn

import graft.functions.{PcaProject, PcaReconstruct}
import graft.internal.SqlBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Distributed PCA over a vector column — the orthogonal
  * dimensionality-reduction / rotation stage ANN pipelines run before
  * quantization (the PCA preprocessing of Jégou et al. 2011 §V.B and the
  * rotation family OPQ generalizes, Ge et al. CVPR 2013). Because a
  * full-rank model is an isometry (distances are preserved exactly in real
  * arithmetic), kNN in rotated space equals kNN in the original space —
  * truncation then trades provable residual variance (the tail eigenvalue
  * sum) for dimension, the right coarse-search geometry for IVF/PQ tiers.
  *
  * Scale shape: ONE pass over the data builds the (mean, covariance)
  * sufficient statistics in per-partition primitive accumulators merged by
  * `treeReduce` — O(dim²) doubles per task and at the driver, never
  * O(rows). The eigensolve is driver-side cyclic Jacobi on the dim×dim
  * covariance (O(dim³) per sweep, quadratically convergent — milliseconds
  * up to dim ≈ 2k; past that you want a randomized sketch, which composes
  * on top of the same statistics pass). Projection is a narrow codegen'd
  * kernel expression ([[graft.functions.PcaProject]]) whose model rides as
  * a codegen reference object, so applying the model to 100 TB is a scan
  * with no shuffle and no plan-sized literals.
  *
  * Determinism: the covariance is a fixed function of the data up to
  * float-sum association (tree-reduce layout can drift last ulps); Jacobi
  * on it is deterministic, eigenpairs are sorted (eigenvalue desc, index
  * asc) and sign-fixed (largest-|coordinate| made positive), so models are
  * reproducible across layouts to numerical tolerance.
  */
object Pca {

  /** A fitted model: `components` (dOut × dim, orthonormal rows, leading
    * eigenvectors first), the FULL eigenvalue spectrum (length dim,
    * descending), and the covariance trace (= total variance) for
    * explained/residual-variance accounting.
    */
  case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
      eigenvalues: Array[Double], covTrace: Double) {
    def dim: Int = mean.length
    def dOut: Int = components.length

    /** Keep the leading `d` components (spectrum and trace unchanged). */
    def truncate(d: Int): PcaModel = {
      require(d >= 1 && d <= dOut, s"truncate($d) outside 1..$dOut")
      copy(components = components.take(d))
    }

    /** Fraction of total variance captured by the leading `d` components. */
    def explainedVariance(d: Int): Double = {
      require(d >= 1 && d <= dim, s"explainedVariance($d) outside 1..$dim")
      require(covTrace > 0, "explainedVariance undefined for zero-variance data")
      eigenvalues.take(d).sum / covTrace
    }

    /** Tail eigenvalue sum = expected squared reconstruction error per row
      * when truncating to `d` components (the PCA optimality identity).
      */
    def residualVariance(d: Int): Double = eigenvalues.drop(d).sum
  }

  /** Fit a `dOut`-component model on `df(vecCol)` (array<float>/double).
    * One distributed statistics pass + a driver eigensolve; fails loudly on
    * an empty input, a dimension mismatch mid-corpus, or `dOut` out of
    * range — a silently padded or truncated row would corrupt the model.
    */
  def fit(df: DataFrame, vecCol: String, dOut: Int): PcaModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(vecCol).cast(ArrayType(FloatType)).as("v"))
      .filter(col("v").isNotNull).as[Array[Float]]
    val head = vecs.take(1)
    require(head.nonEmpty, s"Pca.fit: no non-null vectors in '$vecCol'")
    val dim = head(0).length
    require(dOut >= 1 && dOut <= dim, s"dOut $dOut outside 1..$dim")

    // (n, Σv, Σvvᵀ upper triangle) per partition, tree-merged. The
    // accumulator is dim + dim(dim+1)/2 doubles — layout-independent in
    // everything but float-sum association.
    val nTri = dim * (dim + 1) / 2
    val (n, sums, prods) = vecs.rdd
      .mapPartitions { iter =>
        var cnt = 0L
        val s = new Array[Double](dim)
        val p = new Array[Double](nTri)
        iter.foreach { v =>
          require(v.length == dim,
            s"Pca.fit: vector dim ${v.length} != first-row dim $dim")
          cnt += 1
          var i = 0
          var t = 0
          while (i < dim) {
            val vi = v(i).toDouble
            s(i) += vi
            var j = i
            while (j < dim) { p(t) += vi * v(j); j += 1; t += 1 }
            i += 1
          }
        }
        Iterator.single((cnt, s, p))
      }
      .treeReduce { case ((n1, s1, p1), (n2, s2, p2)) =>
        var i = 0
        while (i < dim) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < nTri) { p1(i) += p2(i); i += 1 }
        (n1 + n2, s1, p1)
      }
    require(n > 0, "Pca.fit: empty input")

    val mean = Array.tabulate(dim)(i => sums(i) / n)
    val cov = Array.ofDim[Double](dim, dim)
    var i = 0
    var t = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = prods(t) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1
        t += 1
      }
      i += 1
    }
    val covTrace = (0 until dim).map(k => cov(k)(k)).sum

    val (eigVals, eigVecs) = symEig(cov)
    // sort descending (index asc on ties), then sign-fix each vector so its
    // largest-|coordinate| entry is positive — reproducible orientation
    val order = eigVals.indices.sortBy(k => (-eigVals(k), k))
    val sortedVals = order.map(eigVals).toArray
    val sortedVecs = order.map { k =>
      val v = eigVecs(k)
      var mi = 0
      var ma = 0.0
      var ii = 0
      while (ii < v.length) {
        if (math.abs(v(ii)) > ma) { ma = math.abs(v(ii)); mi = ii }
        ii += 1
      }
      if (v(mi) < 0) v.map(-_) else v
    }.toArray
    PcaModel(mean, sortedVecs.take(dOut), sortedVals, covTrace)
  }

  /** `components · (v − mean)` as a codegen'd column (array<float>, dOut). */
  def projectCol(model: PcaModel, v: Column): Column =
    SqlBridge.column(PcaProject(SqlBridge.expression(v), model.mean, model.components))

  /** `mean + componentsᵀ · y` — inverse of [[projectCol]] (exact at full
    * rank, least-squares optimal when truncated).
    */
  def reconstructCol(model: PcaModel, y: Column): Column =
    SqlBridge.column(PcaReconstruct(SqlBridge.expression(y), model.mean, model.components))

  /** `struct(proj, presidual)` in one fused kernel pass — the encode stage
    * of [[searchExact]] (see [[graft.functions.PcaProjectResidual]]).
    */
  def projectResidualCol(model: PcaModel, v: Column): Column =
    SqlBridge.column(graft.functions.PcaProjectResidual(
      SqlBridge.expression(v), model.mean, model.components))

  /** Encode a corpus for [[searchExact]]: adds `proj` (dOut floats) and
    * `presidual` (the residual norm) alongside the existing columns.
    */
  def projectWithResidual(df: DataFrame, model: PcaModel,
      vecCol: String = "vector"): DataFrame =
    df.withColumn("__pr", projectResidualCol(model, col(vecCol)))
      .withColumn("proj", col("__pr.proj"))
      .withColumn("presidual", col("__pr.presidual"))
      .drop("__pr")

  /** GUARANTEED-exact euclidean top-k through a TRUNCATED projection — the
    * PCA analog of [[Quantize.searchExact]]'s τ-proof. Writing any vector
    * as its in-subspace part plus an orthogonal residual,
    * d(q,v)² = d_proj(q,v)² + d_res(q,v)², and by the triangle inequality
    * in the residual subspace d_res ∈ [|r_q − r_v|, r_q + r_v] — so each
    * pair has a data-independent LOWER bound √(d_proj² + (r_q−r_v)²) and
    * UPPER bound √(d_proj² + (r_q+r_v)²) from the dOut-dim projections and
    * two scalars alone. With τ_q = kth-smallest upper bound, every true
    * top-k member's lower bound passes the τ_q filter (same argument as
    * the SQ8 proof: at least k vectors have true distance ≤ τ_q).
    *
    * Pass 1 computes τ_q with per-partition bounded heaps on the upper
    * bound (k rows per partition cross the wire); pass 2 re-scans and
    * keeps lower-bound survivors; only those join the full-precision
    * column for the exact rescore. Both passes read dOut floats + one
    * double per row — at dOut = dim/8 that is ~8× less scan I/O than the
    * raw vectors, the SQ8 pitch reached through geometry instead of
    * quantization (and the two compose: sq8 the projections for another
    * 4×). Float storage of `proj` and the double fold round last ulps, so
    * bound comparisons carry an absolute 1e-5 slack plus the dim·ulp(τ)
    * widening of the SQ8 path — slack only ever widens the candidate
    * superset, never the reported top-k.
    */
  def searchExact(
      spark: org.apache.spark.sql.SparkSession,
      projected: DataFrame, // projectWithResidual output: (id, vector, proj, presidual)
      model: PcaModel,
      queries: Array[(Long, Array[Float])],
      k: Int): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val slack = 1e-5
    val qSide = queries.map { case (qid, qv) =>
      require(qv.length == model.dim,
        s"query $qid dim ${qv.length} != model dim ${model.dim}")
      val centered = Array.tabulate(model.dim)(i => qv(i).toDouble - model.mean(i))
      val c2 = centered.map(c => c * c).sum
      val y = model.components.map(row =>
        row.zip(centered).map { case (a, b) => a * b }.sum)
      val rq = math.sqrt(math.max(0.0, c2 - y.map(x => x * x).sum))
      (qid, y.map(_.toFloat), rq)
    }
    val bcQ = spark.sparkContext.broadcast(qSide)
    val kernel = graft.core.Distances.distance(graft.core.Distances.Euclidean) _
    val rows = projected
      .select(col("id").cast("long"), col("proj"), col("presidual").cast("double"))
      .as[(Long, Array[Float], Double)]

    // Pass 1: per-query kth-smallest upper bound.
    val ub = rows.mapPartitions { iter =>
      val qs = bcQ.value
      val heaps = Array.fill(qs.length)(new TopK(k))
      iter.foreach { case (id, y, rv) =>
        var qi = 0
        while (qi < qs.length) {
          val dp = kernel(qs(qi)._2, y)
          val rr = qs(qi)._3 + rv
          heaps(qi).push(math.sqrt(dp * dp + rr * rr) + slack, id)
          qi += 1
        }
      }
      Knn.emitHeaps(heaps, qs(_)._1).map { case (qid, _, u) => (qid, u) }
    }.toDF("qid", "ub")
    val bcTau = spark.sparkContext.broadcast(Knn.kthUpperBound(ub, k))

    // Pass 2: lower-bound survivors — a provable superset of the top-k.
    val candidates = rows.mapPartitions { iter =>
      val qs = bcQ.value
      val taus = qs.map { q =>
        val t = bcTau.value.getOrElse(q._1, Double.NegativeInfinity)
        if (t.isInfinite) t else t + model.dim * math.ulp(t) + slack
      }
      iter.flatMap { case (id, y, rv) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var qi = 0
        while (qi < qs.length) {
          val dp = kernel(qs(qi)._2, y)
          val dr = qs(qi)._3 - rv
          if (math.sqrt(dp * dp + dr * dr) <= taus(qi)) out += ((qs(qi)._1, id))
          qi += 1
        }
        out.iterator
      }
    }.toDF("qid", "id")

    Quantize.rescoreTopK(candidates,
      projected.select(col("id"), col("vector")),
      broadcast(queries.toSeq.toDF("qid", "qvec")), k, "euclidean",
      dedupVectors = false)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-rows), unsorted. Quadratic convergence;
    * throws after `maxSweeps` rather than return a half-diagonalized
    * answer.
    */
  private[knn] def symEig(a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a.length
    val m = Array.tabulate(n, n)((i, j) => a(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var frob2 = 0.0
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) { frob2 += m(i)(j) * m(i)(j); j += 1 }
      i += 1
    }
    def offDiag2(): Double = {
      var s = 0.0
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) { s += m(p)(q) * m(p)(q); q += 1 }
        p += 1
      }
      s
    }
    val tol = 1e-24 * math.max(frob2, Double.MinPositiveValue)
    val maxSweeps = 64
    var sweep = 0
    while (offDiag2() > tol && sweep < maxSweeps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = m(p)(q)
          if (apq != 0.0) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * apq)
            val tt =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tt * tt + 1.0)
            val s = tt * c
            val app = m(p)(p)
            val aqq = m(q)(q)
            m(p)(p) = app - tt * apq
            m(q)(q) = aqq + tt * apq
            m(p)(q) = 0.0
            m(q)(p) = 0.0
            var k = 0
            while (k < n) {
              if (k != p && k != q) {
                val akp = m(k)(p)
                val akq = m(k)(q)
                m(k)(p) = c * akp - s * akq
                m(p)(k) = m(k)(p)
                m(k)(q) = s * akp + c * akq
                m(q)(k) = m(k)(q)
              }
              val vkp = v(k)(p)
              val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    require(offDiag2() <= tol,
      s"Jacobi eigensolver failed to converge in $maxSweeps sweeps (off-diagonal ${offDiag2()})")
    val vals = Array.tabulate(n)(k => m(k)(k))
    val vecs = Array.tabulate(n, n)((k, idx) => v(idx)(k))
    (vals, vecs)
  }
}
