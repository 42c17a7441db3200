package graft.knn

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Optimized Product Quantization (Ge, He, Ke, Sun 2013: "Optimized
  * Product Quantization for Approximate Nearest Neighbor Search"), the
  * PARAMETRIC solution (§4 of the paper): before splitting a vector into
  * PQ subspaces, rotate the space so the subspaces are (a) statistically
  * independent and (b) carry BALANCED variance. Under a Gaussian model
  * the distortion-minimizing rotation is the PCA basis with eigenvalues
  * allocated greedily across subspaces to equalize their variance
  * products — no iterative alternating optimization, one extra narrow
  * pass at encode time, and the rotation is an ISOMETRY (R orthonormal,
  * translation by the mean), so every distance the downstream IVF / PQ /
  * rescore machinery computes in rotated space EQUALS the original-space
  * distance. That makes OPQ a pure pre-processing stage here: rotate the
  * corpus once, then [[Ivf.train]]/[[Ivf.assign]]/[[Pq.trainResidual]]/
  * [[Pq.searchIvfPqResidual]] run verbatim in rotated coordinates.
  *
  * Why it matters at 100 TB: raw PQ slices dimensions in storage order.
  * Real embedding matrices are anisotropic — a handful of directions
  * carry most of the energy — so some subspaces see huge variance (their
  * ksub codewords quantize coarsely) while others quantize noise. The
  * rotation spreads the energy so every codebook works equally hard:
  * same m bytes/vector, strictly lower reconstruction MSE on anisotropic
  * data (gated in OpqSpec on a planted spectrum), which is recall at
  * equal cost.
  *
  * Scale shape: the fit is [[Pca.fit]]'s ONE tree-reduced (mean,
  * covariance) pass (O(dim²) accumulators, never O(rows)) + a driver
  * Jacobi eigensolve + an O(dim log dim) greedy allocation; applying the
  * rotation is the codegen'd [[graft.functions.PcaProject]] kernel at
  * full rank — a shuffle-free narrow projection. Nothing here scales
  * with row count beyond the single statistics pass.
  *
  * Reference scope note: the reference engine (anndb) stores raw float32
  * vectors (math/vector.go:25-61) and has no quantization tier; OPQ
  * extends the brief's ANN-at-scale surface past SQ8/PQ/IVFADC.
  */
object Opq {

  /** A fitted rotation: `rotation` rows are the permuted PCA components
    * (dim×dim orthonormal), `mean` the centering shift,
    * `eigenvalues(j)` the variance along rotation row j (post-permutation
    * order), `m` the subspace count the allocation balanced for.
    */
  case class OpqModel(mean: Array[Double], rotation: Array[Array[Double]],
      eigenvalues: Array[Double], m: Int) {
    def dim: Int = mean.length
    def dsub: Int = dim / m
    require(rotation.length == dim && rotation.forall(_.length == dim),
      s"rotation must be square dim×dim ($dim)")
    require(dim % m == 0, s"dim $dim must divide by m=$m subspaces")

    /** log-variance mass of subspace j — the quantity the greedy
      * allocation balances (product of eigenvalues ≈ the subspace's
      * quantization distortion exponent under the Gaussian model).
      */
    def subspaceLogVariance(j: Int): Double = {
      require(j >= 0 && j < m, s"subspace $j outside 0..${m - 1}")
      (j * dsub until (j + 1) * dsub)
        .map(i => math.log(math.max(eigenvalues(i), MinEig))).sum
    }

    private[knn] def asPca: Pca.PcaModel =
      Pca.PcaModel(mean, rotation, eigenvalues, eigenvalues.sum)
  }

  /** Eigenvalue floor for the log-product objective: a zero eigenvalue
    * (constant direction) contributes no distortion and must not send the
    * greedy objective to −∞.
    */
  private val MinEig = 1e-12

  /** Fit the parametric OPQ rotation: full-rank PCA (components arrive
    * sorted by descending eigenvalue, sign-fixed — see [[Pca.fit]]), then
    * balanced eigenvalue allocation (Ge et al. 2013 §4.2): equalize the
    * per-subspace eigenvalue PRODUCTS, i.e. the sums of log λ. Phrased
    * scale-invariantly this is LPT scheduling with capacity: items are
    * (log λᵢ − log λ_min) ≥ 0, processed largest-first, each into the
    * least-loaded non-full subspace. (The paper's "assign to the bucket
    * with the minimum current product" is this same greedy in its typical
    * λ > 1 regime; the shifted form keeps the greedy's direction correct
    * for spectra scaled below 1, where raw min-product inverts into
    * feeding the poorest bucket.) On a log-linear spectrum the schedule
    * balances exactly.
    */
  def train(df: DataFrame, m: Int, vecCol: String = "vector"): OpqModel = {
    val dim = df.select(size(col(vecCol)).as("d"))
      .filter(col("d").isNotNull).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide by m=$m subspaces")
    val dsub = dim / m
    val pca = Pca.fit(df, vecCol, dOut = dim)

    val logs = pca.eigenvalues.map(ev => math.log(math.max(ev, MinEig)))
    val logMin = logs.min
    // LPT with capacity over the DESC-sorted spectrum (logs descend too).
    // buckets(j) collects component indices; load(j) = Σ shifted logs.
    val buckets = Array.fill(m)(List.empty[Int])
    val load = new Array[Double](m)
    val counts = new Array[Int](m)
    var i = 0
    while (i < dim) {
      var best = -1
      var bestLoad = Double.MaxValue
      var j = 0
      while (j < m) {
        if (counts(j) < dsub && load(j) < bestLoad) { best = j; bestLoad = load(j) }
        j += 1
      }
      buckets(best) ::= i
      counts(best) += 1
      load(best) += logs(i) - logMin
      i += 1
    }
    // rotation row order: subspace 0's components (in spectrum order),
    // then subspace 1's, … — so the PQ slice [j*dsub, (j+1)*dsub) IS
    // subspace j. Deterministic: ties in the greedy break toward the
    // lowest subspace index, lists were prepended so reverse restores
    // spectrum order.
    val order = buckets.flatMap(_.reverse)
    val rotation = order.map(pca.components)
    val eigs = order.map(pca.eigenvalues)
    OpqModel(pca.mean, rotation, eigs, m)
  }

  /** Compose two rotations: `outer` FITTED IN `inner`'s OUTPUT SPACE
    * (y = R₁(v − μ₁), z = R₂(y − μ₂)) collapses to one original-space
    * model z = (R₂R₁)(v − (μ₁ + R₁ᵀμ₂)) — the incremental-OPQ identity:
    * when drift moves the maintained view's spectrum, re-FIT a fresh
    * rotation on the (already-rotated) view and fold it onto the frozen
    * one, so consumers keep exactly one `opq_rot` sidecar and one narrow
    * rotation pass per vector. The composed eigenvalues/m are `outer`'s
    * (the current-view spectrum — the one the allocation balanced).
    * Orthogonality is preserved (product of orthonormal matrices); the
    * O(dim³) products run driver-side like the Jacobi eigensolve.
    */
  def compose(outer: OpqModel, inner: OpqModel): OpqModel = {
    require(outer.dim == inner.dim,
      s"cannot compose rotations of dimension ${outer.dim} and ${inner.dim}")
    val d = inner.dim
    // R = R₂ · R₁
    val r = Array.tabulate(d, d) { (i, j) =>
      var acc = 0.0
      var t = 0
      while (t < d) { acc += outer.rotation(i)(t) * inner.rotation(t)(j); t += 1 }
      acc
    }
    // μ = μ₁ + R₁ᵀ μ₂
    val mean = Array.tabulate(d) { i =>
      var acc = inner.mean(i)
      var t = 0
      while (t < d) { acc += inner.rotation(t)(i) * outer.mean(t); t += 1 }
      acc
    }
    OpqModel(mean, r, outer.eigenvalues.clone(), outer.m)
  }

  /** `R · (v − mean)` as a codegen'd column — [[Pca.projectCol]] at full
    * rank with the permuted basis. An isometry: distances in the output
    * space equal distances in the input space exactly (up to float
    * rounding), which is what lets every downstream search stage run
    * unchanged on rotated coordinates.
    */
  def rotateCol(model: OpqModel, v: Column): Column =
    Pca.projectCol(model.asPca, v)

  /** Replace `vecCol` with its rotated form (one narrow codegen pass). */
  def rotate(df: DataFrame, model: OpqModel, vecCol: String = "vector"): DataFrame =
    df.withColumn(vecCol, rotateCol(model, col(vecCol)))

  /** Rotate a driver-side query batch with the same arithmetic as the
    * codegen kernel (double accumulate, float store) so query-side and
    * corpus-side coordinates agree bit-for-bit.
    */
  def rotateQueries(model: OpqModel,
      queries: Array[(Long, Array[Float])]): Array[(Long, Array[Float])] =
    queries.map { case (qid, qv) =>
      require(qv.length == model.dim,
        s"query $qid dimension ${qv.length} != rotation dimension ${model.dim}")
      val out = new Array[Float](model.dim)
      var r = 0
      while (r < model.dim) {
        val row = model.rotation(r)
        var acc = 0.0
        var i = 0
        while (i < model.dim) { acc += row(i) * (qv(i) - model.mean(i)); i += 1 }
        out(r) = acc.toFloat
        r += 1
      }
      (qid, out)
    }

  /** Persist an OPQ×IVF×PQ index: the [[Pq.save]] layout over the ROTATED
    * assignment plus an `opq_rot` parquet of (row index, mean component,
    * rotation row, eigenvalue, m). [[searchSaved]] self-configures from
    * it; a direct [[Pq.searchSavedIvfPq]] on this directory fails loudly
    * (it checks for the sidecar) instead of ranking raw-coordinate
    * queries against rotated codes.
    */
  def save(
      spark: SparkSession,
      encodedAssignedRotated: DataFrame,
      centroids: Array[Array[Float]],
      cb: Pq.PqCodebooks,
      model: OpqModel,
      dir: String,
      residual: Boolean = false): Unit = {
    Pq.save(spark, encodedAssignedRotated, centroids, cb, dir, residual)
    saveModel(spark, model, dir)
  }

  /** The `opq_rot` sidecar alone (shared by [[save]] and the streaming
    * maintenance sink).
    */
  def saveModel(spark: SparkSession, model: OpqModel, dir: String): Unit = {
    import spark.implicits._
    model.rotation.indices.map { r =>
      (r, model.mean(r), model.rotation(r).toSeq, model.eigenvalues(r), model.m)
    }.toDF("i", "mean", "row", "eigenvalue", "m")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/opq_rot")
  }

  /** Whether `dir` carries an OPQ rotation sidecar. */
  def savedRotation(spark: SparkSession, dir: String): Boolean =
    graft.io.HadoopIO.exists(s"$dir/opq_rot", spark.sparkContext.hadoopConfiguration)

  /** Load the rotation of a [[save]]d index; fails loudly on a ragged or
    * absent sidecar.
    */
  def loadModel(spark: SparkSession, dir: String): OpqModel = {
    import spark.implicits._
    val rows = graft.io.IndexTable.read(spark, dir, "opq_rot")
      .select("i", "mean", "row", "eigenvalue", "m")
      .as[(Int, Double, Seq[Double], Double, Int)].collect().sortBy(_._1)
    require(rows.nonEmpty, s"no OPQ rotation under $dir/opq_rot")
    val dim = rows.length
    require(rows.map(_._1).toSeq == (0 until dim) && rows.forall(_._3.length == dim),
      s"OPQ rotation at $dir is ragged (torn save)")
    OpqModel(rows.map(_._2), rows.map(_._3.toArray), rows.map(_._4), rows.head._5)
  }

  /** [[Pq.searchSavedIvfPq]] over an OPQ index: the rotation loads from
    * the sidecar, queries rotate driver-side (Q·dim² flops — query-batch
    * sized), and the PQ layer self-dispatches raw vs residual codes as
    * usual. Results are in ORIGINAL-space distances (the rotation is an
    * isometry, and the rescore computes distances between rotated pairs).
    */
  def searchSaved(
      spark: SparkSession,
      dir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      overscan: Int = 8): DataFrame = {
    require(savedRotation(spark, dir),
      s"no OPQ rotation sidecar under $dir — use Pq.searchSavedIvfPq for a non-rotated index")
    val model = loadModel(spark, dir)
    Pq.searchSavedIvfPq(spark, dir, rotateQueries(model, queries), k, nprobe, overscan,
      rotatedQueries = true)
  }

  /** [[searchSaved]] with a DataFrame query side — the corpus-vs-corpus
    * shape: the rotation applies to the query column as the same codegen
    * kernel the corpus was encoded with (one narrow pass, nothing
    * driver-resident), then [[Pq.searchSavedIvfPqDF]]'s per-cell cogroup
    * ADC scan runs in rotated coordinates.
    */
  def searchSavedDF(
      spark: SparkSession,
      dir: String,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nprobe: Int,
      overscan: Int = 8): DataFrame = {
    require(savedRotation(spark, dir),
      s"no OPQ rotation sidecar under $dir — use Pq.searchSavedIvfPqDF for a non-rotated index")
    val model = loadModel(spark, dir)
    val rotated = queries.select(col("qid"), rotateCol(model, col("qvec")).as("qvec"))
    Pq.searchSavedIvfPqDF(spark, dir, rotated, k, nprobe, overscan, rotatedQueries = true)
  }
}
