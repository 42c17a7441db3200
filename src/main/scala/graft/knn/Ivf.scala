package graft.knn

import graft.core.Distances
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** IVF-Flat approximate nearest neighbors: partition the vector space into
  * C Voronoi cells (centroids from Lloyd iterations), assign every vector to
  * its nearest centroid, and at query time probe only the `nprobe` nearest
  * cells. This is the scale path for similarity search: the shuffle key is
  * the (small-cardinality) cell id, queries touch nprobe/C of the data, and
  * with nprobe = C the search degrades gracefully to exact kNN.
  */
object Ivf {

  /** Deterministic centroid training: seed with the first C vectors (by id)
    * — or k-means‖ oversampling when `seeding = "kmeans||"` — then up to
    * `iterations` Lloyd steps. Each step is one distributed pass: assign
    * (mapPartitions, broadcast centroids) + per-partition (C×dim) partial
    * sums tree-reduced to the driver. Centroid count C is driver-sized
    * (C·dim doubles), never the data.
    *
    * `tol > 0` adds a convergence check: Lloyd stops early once the max
    * centroid shift (L2) drops below `tol`. Leave it 0 when byte-stable
    * output across partition layouts matters more than saved passes — the
    * stop decision reads tree-reduced double sums, whose last-ulp drift
    * across layouts could flip an iteration near the threshold.
    *
    * `sampleFraction < 1` is the mini-batch train lever for big corpora:
    * EVERY train pass (seeding and Lloyd alike) runs over a deterministic
    * md5-bucket subsample of the ids ([[graft.ops.Sampling.sample]] — a
    * pure function of (id, seed), layout- and run-independent), cached for
    * the duration of train so k passes cost k scans of the SAMPLE, not the
    * corpus. Centroid quality degrades only as the k-means estimator's
    * √(1/sample-size) noise — at 5M vectors a 10% sample still averages
    * ~2000 vectors per centroid at C=256. The final cell assignment
    * ([[assign]], a separate call) always sees the full corpus. Sampled
    * and full train produce DIFFERENT (each deterministic) centroids —
    * leave it 1.0 where an oracle depends on the exact train output.
    */
  def train(
      spark: SparkSession,
      data: DataFrame, // (id, vector)
      c: Int,
      metric: String = "euclidean",
      iterations: Int = 2,
      seeding: String = "first",
      tol: Double = 0.0,
      seed: Long = 42L,
      sampleFraction: Double = 1.0): Array[Array[Float]] = {
    if (sampleFraction < 1.0) {
      require(sampleFraction > 0, s"sampleFraction must be in (0, 1], got $sampleFraction")
      val sample = graft.ops.Sampling.sample(data, "id", sampleFraction, s"ivftrain$seed")
        .persist()
      try return train(spark, sample, c, metric, iterations, seeding, tol, seed)
      finally sample.unpersist()
    }
    import spark.implicits._
    var centroids = seeding match {
      case "kmeans||" => seedKMeansPar(spark, data, c, metric, seed)
      case _ => data.orderBy("id").limit(c)
        // cast: callers may hand double-typed vectors (e.g. normalized
        // columns) — the kmeans|| path already coerces, this path must too
        .select(col("vector").cast("array<float>")).as[Array[Float]].collect()
    }
    // fewer rows than requested cells: train with what exists (cEff cells)
    val cEff = centroids.length
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    if (cEff == 0) return centroids

    // Each Lloyd step is ONE pass: per-partition (C×dim) sum vectors +
    // counts, tree-reduced to the driver. No positional explode — the
    // explode formulation shuffles N×dim rows (dim× amplification), this
    // moves only C×dim×P doubles.
    var it = 0
    var converged = false
    while (it < iterations && !converged) {
      val (sums, counts) = assign(spark, data, centroids, metric)
        .select(col("cell"), col("vector"))
        .as[(Int, Array[Float])]
        .rdd
        .mapPartitions { iter =>
          val s = Array.ofDim[Double](cEff, dim)
          val n = new Array[Long](cEff)
          iter.foreach { case (cell, v) =>
            n(cell) += 1
            var i = 0
            while (i < dim) { s(cell)(i) += v(i); i += 1 }
          }
          Iterator.single((s, n))
        }
        .treeReduce { case ((s1, n1), (s2, n2)) =>
          var ci = 0
          while (ci < cEff) {
            var i = 0
            while (i < dim) { s1(ci)(i) += s2(ci)(i); i += 1 }
            n1(ci) += n2(ci)
            ci += 1
          }
          (s1, n1)
        }
      val next = Array.tabulate(cEff) { ci =>
        if (counts(ci) == 0) centroids(ci)
        else Array.tabulate(dim)(i => (sums(ci)(i) / counts(ci)).toFloat)
      }
      if (tol > 0) {
        var maxShift = 0.0
        var ci = 0
        while (ci < cEff) {
          maxShift = math.max(maxShift, Distances.distance(Distances.Euclidean)(centroids(ci), next(ci)))
          ci += 1
        }
        converged = maxShift < tol
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** k-means‖ seeding (Bahmani et al., VLDB 2012), deterministic: start from
    * the min-id vector, then `rounds` oversampling passes each selecting
    * every point independently with probability min(1, l·d²(x,C)/φ) — the
    * coin flip is a splitmix64 hash of (id, round), so selection is a pure
    * per-point function of the data and seed, not of partition layout or
    * task order (φ's tree-reduced double sum can drift a last ulp across
    * layouts, but a flip requires the hash to land within that ulp of the
    * threshold). The driver-sized candidate set (≈ 1 + rounds·l vectors,
    * l = 2c) is weighted by one distributed count pass, reclustered to c
    * seeds with weighted k-means++ + weighted Lloyd on the driver — the
    * standard k-means‖ recluster step, here deterministic via a seeded
    * splitmix64 stream.
    */
  def seedKMeansPar(
      spark: SparkSession,
      data: DataFrame, // (id, vector)
      c: Int,
      metric: String = "euclidean",
      seed: Long = 42L,
      rounds: Int = 3): Array[Array[Float]] = {
    import spark.implicits._
    val m = Distances.metricId(metric)
    val l = 2 * c // oversampling factor per round
    val rows = data
      .select(col("id").cast("long"), col("vector").cast("array<float>"))
      .as[(Long, Array[Float])]

    var candidates: Array[Array[Float]] = rows.orderBy("id").limit(1)
      .select("vector").collect().map(_.getSeq[Float](0).toArray)
    if (candidates.isEmpty) return candidates

    def minDistSq(v: Array[Float], cs: Array[Array[Float]]): Double = {
      val kernel = Distances.distance(m) _
      var best = Double.MaxValue
      var i = 0
      while (i < cs.length) { best = math.min(best, kernel(v, cs(i))); i += 1 }
      best * best
    }

    var r = 0
    while (r < rounds) {
      val bc = spark.sparkContext.broadcast(candidates)
      // pass 1: φ = Σ d²(x, C)
      val phi = rows.mapPartitions { iter =>
        val cs = bc.value
        var s = 0.0
        iter.foreach { case (_, v) => s += minDistSq(v, cs) }
        Iterator.single(s)
      }.reduce(_ + _)
      if (phi <= 0) { r = rounds } // all mass on candidates already: stop
      else {
        val round = r
        val selected = rows.mapPartitions { iter =>
          val cs = bc.value
          iter.filter { case (id, v) =>
            graft.core.SplitMix.unit(graft.core.SplitMix.mix(id) ^ graft.core.SplitMix.mix(seed + round)) <
              l * minDistSq(v, cs) / phi
          }
        }.collect()
        // collect() returns partition order — sort by id so the candidate
        // ARRAY order (which weightedPick walks) is layout-independent,
        // matching the docstring's determinism promise
        candidates ++= selected.sortBy(_._1).map(_._2)
        r += 1
      }
    }

    // weight candidates by the population they attract (one count pass)
    val bcCand = spark.sparkContext.broadcast(candidates)
    val nCand = candidates.length
    val weights = rows.mapPartitions { iter =>
      val cs = bcCand.value
      val kernel = Distances.distance(m) _
      val w = new Array[Long](cs.length)
      iter.foreach { case (_, v) =>
        var best = 0
        var bestDist = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val d = kernel(v, cs(i))
          if (d < bestDist) { bestDist = d; best = i }
          i += 1
        }
        w(best) += 1
      }
      Iterator.single(w)
    }.reduce { (a, b) =>
      var i = 0
      while (i < nCand) { a(i) += b(i); i += 1 }
      a
    }

    reclusterWeighted(candidates, weights, c, m, seed)
  }

  /** Weighted k-means++ + weighted Lloyd over a driver-sized candidate set —
    * the k-means‖ recluster step. Deterministic: the k-means++ draws come
    * from a seeded splitmix64 stream.
    */
  private def reclusterWeighted(
      cand: Array[Array[Float]],
      w: Array[Long],
      c: Int,
      m: Int,
      seed: Long): Array[Array[Float]] = {
    val kernel = Distances.distance(m) _
    val n = cand.length
    if (n <= c) return cand
    val dim = cand.head.length

    val rng = new graft.core.SplitMix.Stream(seed)
    def weightedPick(score: Array[Double]): Int = {
      val total = score.sum
      if (total <= 0) return 0
      var target = rng.nextUnit() * total
      var i = 0
      while (i < score.length - 1) {
        target -= score(i)
        if (target <= 0) return i
        i += 1
      }
      score.length - 1
    }

    // weighted k-means++: first seed by weight, next by w·d² to chosen
    val seeds = new Array[Array[Float]](c)
    seeds(0) = cand(weightedPick(w.map(_.toDouble)))
    val d2 = Array.tabulate(n) { i =>
      val d = kernel(cand(i), seeds(0)); d * d
    }
    var s = 1
    while (s < c) {
      seeds(s) = cand(weightedPick(Array.tabulate(n)(i => w(i) * d2(i))))
      var i = 0
      while (i < n) {
        val d = kernel(cand(i), seeds(s))
        d2(i) = math.min(d2(i), d * d)
        i += 1
      }
      s += 1
    }

    // weighted Lloyd over the candidates (driver-sized, cheap)
    var centers = seeds
    var iter = 0
    while (iter < 10) {
      val sums = Array.ofDim[Double](c, dim)
      val counts = new Array[Double](c)
      var i = 0
      while (i < n) {
        var best = 0
        var bestDist = Double.MaxValue
        var ci = 0
        while (ci < c) {
          val d = kernel(cand(i), centers(ci))
          if (d < bestDist) { bestDist = d; best = ci }
          ci += 1
        }
        counts(best) += w(i)
        var j = 0
        while (j < dim) { sums(best)(j) += w(i).toDouble * cand(i)(j); j += 1 }
        i += 1
      }
      centers = Array.tabulate(c) { ci =>
        if (counts(ci) == 0) centers(ci)
        else Array.tabulate(dim)(j => (sums(ci)(j) / counts(ci)).toFloat)
      }
      iter += 1
    }
    centers
  }

  /** Assign each vector to its `spill` nearest centroids (ties → lowest
    * cell id). Single `mapPartitions` pass, centroids broadcast.
    *
    * `spill > 1` replicates each vector into its spill nearest cells — the
    * storage-for-recall lever for unclustered regions: a query probing
    * nprobe cells can find a neighbor through ANY of the neighbor's spill
    * cells, so recall at fixed nprobe rises at the cost of spill× storage
    * (cf. multi-assignment in SPANN-style systems). Searches over a
    * spilled assignment must dedupe candidates ([[search]]'s `dedup`).
    */
  def assign(
      spark: SparkSession,
      data: DataFrame,
      centroids: Array[Array[Float]],
      metric: String = "euclidean",
      spill: Int = 1): DataFrame = {
    import spark.implicits._
    val cells = cellsOf(spark, centroids, metric, spill)
    data.select(col("id").cast("long"), col("vector").cast("array<float>"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) => cells(v).iterator.map(ci => (id, ci, v)) }
      .toDF("id", "cell", "vector")
  }

  /** [[assign]] of (id, vector, version) rows, carrying each row's
    * `version` onto its cell rows: (id, cell, vector, version). The
    * maintained-index writers assign every op as it arrived — distinct
    * versions of one id, NaN components and `-0.0` keep their own rows,
    * with no join back on (id, vector) or id.
    */
  private[graft] def assignVersioned(
      spark: SparkSession,
      data: DataFrame,
      centroids: Array[Array[Float]],
      metric: String,
      spill: Int): DataFrame = {
    import spark.implicits._
    val cells = cellsOf(spark, centroids, metric, spill)
    data.select(col("id").cast("long"), col("vector").cast("array<float>"), col("version").cast("long"))
      .as[(Long, Array[Float], Long)]
      .flatMap { case (id, v, ver) => cells(v).iterator.map(ci => (id, ci, v, ver)) }
      .toDF("id", "cell", "vector", "version")
  }

  /** The cell selection of [[assign]] as a task-side function, centroids
    * broadcast once.
    */
  private def cellsOf(
      spark: SparkSession,
      centroids: Array[Array[Float]],
      metric: String,
      spill: Int): Array[Float] => Array[Int] = {
    val m = Distances.metricId(metric)
    val bc = spark.sparkContext.broadcast(centroids)
    val s = math.max(1, spill)
    v => {
      val cs = bc.value
      nearestCells(centroidDistances(m, v, cs), math.min(s, cs.length))
    }
  }

  /** Distance from `v` to every centroid under metric id `m`. Cell
    * assignment only picks argmins, so the SIMD kernel is safe here
    * (nprobe = C exactness is unaffected by which cell a vector lands in).
    */
  private[graft] def centroidDistances(m: Int, v: Array[Float], cs: Array[Array[Float]]): Array[Double] = {
    val kernel = graft.core.DistKernel.best
    val dists = new Array[Double](cs.length)
    var i = 0
    while (i < cs.length) {
      dists(i) = m match {
        case Distances.Euclidean => kernel.euclidean(v, cs(i))
        case Distances.Manhattan => kernel.manhattan(v, cs(i))
        case _ => kernel.cosine(v, cs(i))
      }
      i += 1
    }
    dists
  }

  /** The `n` smallest of `dists` by (distance, cell id) — selection over
    * the small centroid array, no sort of anything data-sized. A row whose
    * distances are all NaN/Infinity (NaN component, zero vector under
    * cosine, float overflow) still lands in the first untaken cell rather
    * than crashing the job — matching the old argmin's cell-0 fallback.
    */
  private[graft] def nearestCells(dists: Array[Double], n: Int): Array[Int] = {
    val chosen = new Array[Int](n)
    val taken = new Array[Boolean](dists.length)
    var r = 0
    while (r < n) {
      var best = -1
      var bestDist = Double.MaxValue
      var i = 0
      while (i < dists.length) {
        if (!taken(i) && dists(i) < bestDist) { bestDist = dists(i); best = i }
        i += 1
      }
      if (best == -1) {
        i = 0
        while (best == -1 && i < dists.length) { if (!taken(i)) best = i; i += 1 }
      }
      taken(best) = true
      chosen(r) = best
      r += 1
    }
    chosen
  }

  /** Search-relevant facts a saved index carries about itself: a loader
    * must know the training metric (probe ranking must match) and whether
    * the assignment is spilled (searches must dedupe). `rows` is the
    * assignment row count at save time — the completeness check that
    * catches a cell partition lost to a torn copy (`rows = -1` on
    * pre-rows sidecars: count unknown, check skipped).
    */
  case class IvfMeta(metric: String, spill: Int, c: Int, dim: Int, rows: Long = -1L)

  /** Persist an IVF index: cell-partitioned assignment parquet (searches
    * prune to probed cells via partition pruning) + the quantizer sidecar
    * ([[saveQuantizer]]).
    *
    * `metric` is REQUIRED (it cannot be derived from the data, and a
    * defaulted wrong value would make [[searchSaved]] rank probes with
    * the wrong metric — silently). The spill level IS derived from the
    * data (max assignment rows per id, one save-time job), so the sidecar
    * cannot record a wrong value either way. Legacy signature without a
    * metric writes no meta row ([[searchSaved]] then uses the documented
    * pre-meta defaults).
    */
  def save(
      spark: SparkSession,
      assigned: DataFrame,
      centroids: Array[Array[Float]],
      dir: String,
      metric: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    val st = assigned.groupBy("id").count().agg(max("count"), sum("count")).head()
    saveQuantizer(spark, dir, centroids, Some(IvfMeta(metric, st.getLong(0).toInt,
      centroids.length, centroids.headOption.map(_.length).getOrElse(0), st.getLong(1))))
  }

  /** Sidecar-less save (back-compat): persists assignment + centroids
    * only; loaders fall back to (euclidean, unspilled).
    */
  def save(spark: SparkSession, assigned: DataFrame, centroids: Array[Array[Float]], dir: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    saveQuantizer(spark, dir, centroids, None)
  }

  /** The one writer of the quantizer sidecar shared by saved and
    * maintained IVF directories: the `centroids` parquet (cell, centroid),
    * then the [[IvfMeta]] row LAST — a reader that finds the meta row
    * finds the centroids it describes. Maintained directories record
    * `rows = -1` (their assignment lives in a delta log, not a counted
    * save).
    */
  private[graft] def saveQuantizer(
      spark: SparkSession,
      dir: String,
      centroids: Array[Array[Float]],
      meta: Option[IvfMeta]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    meta.foreach { m =>
      Seq((m.metric, m.spill, m.c, m.dim, m.rows))
        .toDF("metric", "spill", "c", "dim", "rows").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  private def loadCentroids(spark: SparkSession, dir: String): Array[Array[Float]] =
    graft.io.LocalParquet.read(spark, s"$dir/centroids")
      .map(r => (r.getInt(r.fieldIndex("cell")), r.getSeq[Float](r.fieldIndex("centroid")).toArray))
      .sortBy(_._1).map(_._2)

  /** Load a persisted IVF index: (assigned, centroids). */
  def load(spark: SparkSession, dir: String): (DataFrame, Array[Array[Float]]) =
    (spark.read.parquet(s"$dir/assigned"), loadCentroids(spark, dir))

  /** Meta sidecar of a saved index; None ONLY when the sidecar is absent
    * (pre-meta save). A present-but-unreadable sidecar (corruption, schema
    * drift) PROPAGATES — falling back to defaults there would silently
    * search a cosine/spilled index as euclidean/unspilled.
    */
  def loadMeta(spark: SparkSession, dir: String): Option[IvfMeta] =
    if (!graft.io.HadoopIO.exists(s"$dir/meta", spark.sparkContext.hadoopConfiguration)) None
    else graft.io.LocalParquet.read(spark, s"$dir/meta").headOption.map { r =>
      def int(c: String) = r.getInt(r.fieldIndex(c))
      IvfMeta(r.getString(r.fieldIndex("metric")), int("spill"), int("c"), int("dim"),
        // pre-rows sidecars lack the column: count unknown
        if (r.schema.fieldNames.contains("rows")) r.getLong(r.fieldIndex("rows")) else -1L)
    }

  /** The one reader of the quantizer sidecar: the meta row and the
    * centroids it describes, or None when the directory has no meta row.
    * A centroid count that disagrees with the meta row is a torn write and
    * is refused — serving it would rank probes over the wrong cells and
    * return wrong neighbours with no error. `kind` names the directory in
    * that message ("saved" or "maintained").
    */
  private[graft] def loadQuantizerIfAny(
      spark: SparkSession,
      dir: String,
      kind: String = "maintained"): Option[(IvfMeta, Array[Array[Float]])] =
    loadMeta(spark, dir).map { meta =>
      val centroids = loadCentroids(spark, dir)
      require(meta.c == centroids.length,
        s"$kind index at $dir is torn: sidecar says ${meta.c} centroids, loaded ${centroids.length}")
      (meta, centroids)
    }

  /** [[loadQuantizerIfAny]] for a maintained directory, which always has
    * a meta row.
    */
  private[graft] def loadQuantizer(spark: SparkSession, dir: String): (IvfMeta, Array[Array[Float]]) =
    loadQuantizerIfAny(spark, dir).getOrElse(throw new IllegalStateException(
      s"no meta sidecar under $dir — not a maintained IVF dir"))

  /** Array queries must match the index dimension. */
  private[graft] def requireQueryDim(queries: Array[(Long, Array[Float])], dim: Int): Unit =
    queries.foreach { case (qid, qv) =>
      require(qv.length == dim, s"query $qid dimension ${qv.length} != index dimension $dim")
    }

  /** (qid, qvec) with the dimension check run distributed via raise_error. */
  private[graft] def checkQueryDim(queries: DataFrame, dim: Int): DataFrame =
    queries.select(col("qid").cast("long"),
      when(size(col("qvec")) === dim, col("qvec"))
        .otherwise(raise_error(concat(
          lit(s"query dimension != index dimension $dim, got "),
          size(col("qvec")).cast("string"))))
        .as("qvec"))

  /** [[load]] + the quantizer sidecar with the documented pre-meta
    * fallback and torn-save guards: sidecar centroid count must match what
    * loaded ([[loadQuantizerIfAny]]), and the assignment row count must
    * match what the save-time job wrote — a cell partition lost to a
    * partial copy fails HERE instead of silently vanishing from every
    * search (parquet globs don't miss missing directories). The count is
    * footer-metadata-only (no row scan), one cheap job per load.
    */
  private[knn] def loadWithMeta(spark: SparkSession, dir: String): (DataFrame, Array[Array[Float]], IvfMeta) = {
    val assigned = spark.read.parquet(s"$dir/assigned")
    val (meta, centroids) = loadQuantizerIfAny(spark, dir, "saved").getOrElse {
      val cs = loadCentroids(spark, dir)
      (IvfMeta("euclidean", 1, cs.length, cs.headOption.map(_.length).getOrElse(0)), cs)
    }
    if (meta.rows >= 0) {
      val actual = assigned.count()
      require(actual == meta.rows,
        s"saved index at $dir is INCOMPLETE: sidecar says ${meta.rows} assignment rows, " +
          s"loaded $actual — refusing to serve partial results")
    }
    (assigned, centroids, meta)
  }

  /** Search a saved index, self-configured from its meta sidecar: probe
    * ranking uses the TRAINING metric, spilled assignments dedupe, and
    * query dimensions are validated against the index — the
    * silent-wrong-results traps a caller of [[load]] + [[search]] can
    * fall into. Pre-meta saves default to (euclidean, unspilled).
    */
  def searchSaved(
      spark: SparkSession,
      dir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int): DataFrame = {
    val (assigned, centroids, meta) = loadWithMeta(spark, dir)
    requireQueryDim(queries, meta.dim)
    search(spark, assigned, centroids, queries, k, nprobe, meta.metric, dedup = meta.spill > 1)
  }

  /** [[searchSaved]] with a DataFrame query side (dimension check runs
    * distributed via raise_error).
    */
  def searchSavedDF(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val (assigned, centroids, meta) = loadWithMeta(spark, dir)
    val checked = checkQueryDim(queries, meta.dim)
    searchDF(assigned, centroids, checked, k, nprobe, meta.metric, dedup = meta.spill > 1)
  }

  /** Attribute-FILTERED search on a saved index — the "vectors matching a
    * predicate" shape every production vector store serves (tenant/date/
    * label scoping). The predicate is applied PRE-search: vectors failing
    * it never enter candidate generation, so the result is the top-k of
    * the matching subset — not a post-filter of the unfiltered top-k,
    * which silently returns < k rows (or misses matches entirely) as
    * selectivity drops. With nprobe = C the probe covers every cell and
    * the result is provably the exact filtered kNN.
    *
    * At scale the filter lands on the index's parquet scan: simple
    * comparisons on stored columns push down to row-group pruning
    * (`PushedFilters` in the plan), so a selective predicate also SKIPS
    * I/O, the opposite of post-filtering's wasted work.
    */
  def searchSavedFiltered(
      spark: SparkSession,
      dir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      predicate: Column): DataFrame = {
    val (assigned, centroids, meta) = loadWithMeta(spark, dir)
    requireQueryDim(queries, meta.dim)
    search(spark, assigned.filter(predicate), centroids, queries, k, nprobe,
      meta.metric, dedup = meta.spill > 1)
  }

  /** [[searchSavedFiltered]] with a DataFrame query side — scoped search
    * for the corpus-vs-corpus shape (e.g. dedup one tenant's vectors
    * against another's). Same pre-filter semantics: the predicate prunes
    * the index scan before the per-cell cogroup ever sees a vector.
    */
  def searchSavedFilteredDF(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      predicate: Column): DataFrame = {
    val (assigned, centroids, meta) = loadWithMeta(spark, dir)
    val checked = checkQueryDim(queries, meta.dim)
    searchDF(assigned.filter(predicate), centroids, checked, k, nprobe,
      meta.metric, dedup = meta.spill > 1)
  }

  /** IVF search: per query, probe the `nprobe` nearest cells; brute-force
    * only within those cells; global top-k via the candidate window.
    * Returns (qid, id, dist, rank).
    */
  def search(
      spark: SparkSession,
      assigned: DataFrame, // output of assign()
      centroids: Array[Array[Float]],
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      metric: String = "euclidean",
      dedup: Boolean = false): DataFrame = {
    import spark.implicits._
    val m = Distances.metricId(metric)

    // (qid, cell) probe pairs — tiny, computed on the driver like the
    // reference's query-time partition fan-out (storage/dataset.go:390).
    val probes = queries.flatMap { case (qid, qv) =>
      centroids.zipWithIndex
        .map { case (cv, ci) => (Distances.distance(m)(qv, cv), ci) }
        .sortBy(identity)
        .take(nprobe)
        .map { case (_, ci) => (qid, ci) }
    }.toSeq.toDF("qid", "cell")

    val queriesDf = queries.toSeq.toDF("qid", "qvec")

    val raw = assigned
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(queriesDf), Seq("qid"))
      .select(col("qid"), col("id"),
        graft.functions.vec.dist(col("vector"), col("qvec"), metric).as("dist"))

    // a spilled assignment (assign(spill > 1)) can surface the same id
    // through several probed cells — dedupe BEFORE the top-k window so a
    // duplicate never consumes a rank slot (skip the extra shuffle for
    // spill = 1 assignments)
    val candidates = if (dedup) raw.dropDuplicates("qid", "id") else raw

    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF search with a DataFrame query side — the corpus-vs-corpus shape
    * (e.g. dedup-by-ANN of one 100 TB table against another). Nothing is
    * driver-resident and nothing is replicated: each query row computes its
    * own nprobe probe cells (centroids broadcast — C·dim floats), both sides
    * shuffle once on the small-cardinality cell id, and a per-cell cogroup
    * streams the cell's vectors once past bounded per-query heaps, emitting
    * k candidates per (query, probed cell). Task memory is the cell's probe
    * set (≈ Q·nprobe/C queries), never the data.
    *
    * With nprobe = centroids.length every cell is probed and the result is
    * exactly [[graft.knn.Knn.bruteForce]] (same kernel, same tie-break).
    */
  /** Per-query probe fan-out with a DataFrame query side: each query row
    * ranks the (broadcast) centroids and emits its `nprobe` nearest as
    * (cell, qid, qvec) — the shared front half of [[searchDF]] and
    * [[Quantize.searchIvfSq8DF]].
    */
  /** Build an HNSW graph over the CENTROIDS — the published
    * IndexIVF+HNSW coarse-quantizer shape: at 100 TB-scale cell counts
    * (C ≥ 100k) per-query probe selection by linear centroid scan costs
    * Q·C distance evaluations; an HNSW walk over the centroids makes it
    * Q·log C. The graph is C vertices (driver-sized by the same argument
    * as the centroids themselves), built deterministically (seeded
    * levels, insertion order = cell id), so probe sets are
    * layout-independent. Approximate: at nprobe < C the selected cells
    * may differ from the linear scan's (recall-gated like every
    * approximate path); at nprobe = C every cell is returned and search
    * stays provably exact.
    */
  def buildCoarseIndex(
      centroids: Array[Array[Float]],
      metric: String = "euclidean",
      config: graft.hnsw.HnswConfig = graft.hnsw.HnswConfig(efConstruction = 100)): graft.hnsw.HnswIndex = {
    val idx = new graft.hnsw.HnswIndex(Distances.metricId(metric), config)
    var i = 0
    while (i < centroids.length) {
      idx.add(i.toLong, centroids(i))
      i += 1
    }
    idx
  }

  /** Per-JVM coarse-index cache for the DataFrame probe path: the graph
    * builds ONCE per executor per broadcast (keyed by broadcast id) from
    * the broadcast centroids — C·log C work per executor lifetime, not
    * per task or per query. HnswIndex itself never crosses the wire.
    */
  private val coarseCache =
    new java.util.concurrent.ConcurrentHashMap[Long, graft.hnsw.HnswIndex]()

  private[knn] def probeCells(
      queries: DataFrame, // (qid, qvec)
      centroids: Array[Array[Float]],
      nprobe: Int,
      metric: String,
      coarse: String = "linear"): org.apache.spark.sql.Dataset[(Int, Long, Array[Float])] = {
    require(coarse == "linear" || coarse == "hnsw", s"unknown coarse quantizer '$coarse'")
    val spark = queries.sparkSession
    import spark.implicits._
    val m = Distances.metricId(metric)
    val bc = spark.sparkContext.broadcast(centroids)
    val useHnsw = coarse == "hnsw"
    queries
      .select(col("qid").cast("long"), col("qvec").cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { iter =>
        val cs = bc.value
        if (useHnsw) {
          val idx = coarseCache.computeIfAbsent(bc.id, _ => buildCoarseIndex(cs, metric))
          // ef floor at 2·nprobe: the walk must hold a candidate frontier
          // wider than what it returns or recall at small nprobe suffers
          val ef = math.max(idx.config.ef, 2 * nprobe)
          iter.flatMap { case (qid, qv) =>
            // nprobe >= C probes everything — returned directly so the
            // full-probe exactness guarantee never rests on the graph
            // being connected
            if (nprobe >= cs.length) cs.indices.iterator.map(ci => (ci, qid, qv))
            else idx.searchFiltered(qv, nprobe, _ => true, efOverride = ef)
              .iterator.map { case (ci, _) => (ci.toInt, qid, qv) }
          }
        } else {
          val kernel = Distances.distance(m) _
          iter.flatMap { case (qid, qv) =>
            cs.zipWithIndex
              .map { case (cv, ci) => (kernel(qv, cv), ci) }
              .sortBy(identity)
              .take(nprobe)
              .iterator.map { case (_, ci) => (ci, qid, qv) }
          }
        }
      }
  }

  def searchDF(
      assigned: DataFrame, // output of assign()
      centroids: Array[Array[Float]],
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nprobe: Int,
      metric: String = "euclidean",
      dedup: Boolean = false,
      coarse: String = "linear"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val m = Distances.metricId(metric)

    val probes = probeCells(queries, centroids, nprobe, metric, coarse)

    val dataByCell = assigned
      .select(col("cell").cast("int"), col("id").cast("long"), col("vector").cast("array<float>"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)

    val raw = dataByCell.cogroup(probes.groupByKey(_._1)) { case (_, dIter, qIter) =>
      val qs = qIter.toArray
      if (qs.isEmpty) Iterator.empty
      else {
        val heaps = Array.fill(qs.length)(new TopK(k))
        val kernel = Distances.distance(m) _
        TopK.scanBlocked(dIter.map { case (_, id, v) => (id, v) }, qs.map(_._3), heaps, kernel)
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.sorted.iterator.map { case (dist, id) => (qs(qi)._2, id, dist) }
        }
      }
    }.toDF("qid", "id", "dist")

    // spilled assignments surface an id through several probed cells —
    // dedupe BEFORE the top-k window (see [[search]])
    val candidates = if (dedup) raw.dropDuplicates("qid", "id") else raw

    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** PROBE AUTOTUNING: per sample query, the smallest `nprobe` at which
    * [[search]] reaches `targetRecall` on its true top-k — derived from ONE
    * exact (full-probe) search plus probe-rank analysis, never a search
    * per candidate nprobe.
    *
    * The identity that makes one pass enough: at any nprobe, a true
    * neighbor appears in the search result IFF one of its assigned cells
    * is probed (everything in the probed subset that outranks it is a
    * closer true neighbor — fewer than k of those exist, and the (dist,
    * id) tie-break is shared). So per (query, true neighbor) compute the
    * neighbor's best PROBE RANK — the position of its cell in the query's
    * centroid-distance ordering, min over spill replicas — and the minimal
    * nprobe for recall r is simply the ⌈r·k⌉-th smallest of those ranks.
    *
    * Cost shape at scale: one full-probe exact search over the assignment
    * (the ground-truth pass any recall measurement pays), one broadcast
    * join of the k·Q hit set against the assignment, and driver-side
    * probe-rank tables of Q·C — no repeated corpus scans. Run it on a
    * SAMPLE of production queries; serve with [[tuneProbeGlobal]]'s
    * quantile over the per-query requirements.
    *
    * Returns (qid, n_exact, required_nprobe).
    */
  def tuneProbe(
      spark: SparkSession,
      assigned: DataFrame,
      centroids: Array[Array[Float]],
      sampleQueries: Array[(Long, Array[Float])],
      k: Int,
      targetRecall: Double,
      metric: String = "euclidean"): DataFrame = {
    import spark.implicits._
    require(targetRecall > 0 && targetRecall <= 1, s"targetRecall in (0,1], got $targetRecall")
    val m = Distances.metricId(metric)

    val exact = search(spark, assigned, centroids, sampleQueries, k,
      nprobe = centroids.length, metric, dedup = true)

    // (qid, cell, probe_rank): the query's centroid ordering — Q·C rows,
    // computed driver-side like search's probe fan-out, then broadcast
    val probeRanks = sampleQueries.flatMap { case (qid, qv) =>
      centroids.zipWithIndex
        .map { case (cv, ci) => (Distances.distance(m)(qv, cv), ci) }
        .sortBy(identity).zipWithIndex
        .map { case ((_, ci), r) => (qid, ci, r + 1) }
    }.toSeq.toDF("qid", "cell", "probe_rank")

    // each true neighbor's best probe rank (min over spill replicas)
    val hitRanks = assigned.select(col("id"), col("cell"))
      .join(broadcast(exact.select(col("qid"), col("id"))), Seq("id"))
      .join(broadcast(probeRanks), Seq("qid", "cell"))
      .groupBy("qid", "id").agg(min("probe_rank").as("best_rank"))

    // required nprobe = the ⌈targetRecall·n_exact⌉-th smallest best rank
    // (n_exact < k when the corpus is smaller than k)
    val w = Window.partitionBy("qid").orderBy(col("best_rank"), col("id"))
    hitRanks
      .withColumn("__pos", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("qid")))
      .filter(col("__pos") <= ceil(col("__n") * targetRecall))
      .groupBy("qid")
      .agg(max("__n").as("n_exact"), max("best_rank").as("required_nprobe"))
  }

  /** Collapse [[tuneProbe]]'s per-query requirements into one serving
    * nprobe: the `quantile` of the per-query minima (1.0 = every sampled
    * query meets the target, the conservative default; 0.95 trades the
    * worst tail for probe cost). The sample is driver-sized by contract.
    */
  def tuneProbeGlobal(perQuery: DataFrame, quantile: Double = 1.0): Int = {
    require(quantile > 0 && quantile <= 1, s"quantile in (0,1], got $quantile")
    val reqs = perQuery.select(col("required_nprobe").cast("long"))
      .collect().map(_.getLong(0)).sorted
    require(reqs.nonEmpty, "tuneProbe produced no per-query requirements (empty sample?)")
    reqs(math.min(reqs.length - 1, math.ceil(quantile * reqs.length).toInt - 1)).toInt
  }
}
