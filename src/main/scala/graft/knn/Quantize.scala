package graft.knn

import graft.functions.vec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQ8 scalar quantization: `array<float>` → per-vector (binary codes,
  * scale, offset) at 4× smaller storage — the working-set lever for 100 TB
  * embedding corpora (scan/shuffle 1 byte per dimension, rescore only the
  * top candidates at full precision).
  *
  * Codes: `code_i = round((v_i - min) / (max - min) * 255)`, stored with
  * (offset = min, scale = (max-min)/255) for dequantization
  * `v̂_i = code_i * scale + offset`. Constant vectors get scale 0.
  */
object Quantize {

  /** Add (codes: array<tinyint>, q_scale: float, q_offset: float,
    * q_err: double, q_err_l1: double) per row. `q_err` is the exact L2
    * reconstruction error ‖v − v̂‖₂ and `q_err_l1` the exact L1 error
    * ‖v − v̂‖₁ (each inflated by a hair to absorb double rounding) — the
    * bounds [[searchExact]] uses to guarantee exact top-k from coarse
    * scans under the euclidean and manhattan metrics respectively.
    */
  def sq8(data: DataFrame, vectorCol: String = "vector"): DataFrame = {
    // fused one-pass kernel (graft.functions.Sq8Encode); the composed
    // higher-order-function formulation (array_min/max + transform +
    // two zip_with/aggregate error passes) is bit-identical but walks
    // the array ~8x through boxed lambdas — Sq8Spec pins the equivalence
    data
      .withColumn("__enc", graft.functions.vec.sq8Encode(col(vectorCol)))
      .withColumn("q_offset", col("__enc.q_offset"))
      .withColumn("q_scale", col("__enc.q_scale"))
      .withColumn("codes", col("__enc.codes"))
      .withColumn("q_err", col("__enc.q_err"))
      .withColumn("q_err_l1", col("__enc.q_err_l1"))
      .drop("__enc")
  }

  private[knn] def dequantizeArr(codes: Array[Short], scale: Float, offset: Float): Array[Float] = {
    val out = new Array[Float](codes.length)
    var i = 0
    while (i < codes.length) { out(i) = (codes(i) + 128).toFloat * scale + offset; i += 1 }
    out
  }

  /** Add SQ4 (4-bit) columns per row — `codes` packed two nibbles per
    * byte (8× smaller than float32, 2× smaller than [[sq8]]), plus the
    * same affine sidecar (q_scale, q_offset) and exact τ reconstruction
    * errors (q_err, q_err_l1), and `q_dim` (the packed array loses the
    * odd/even distinction of the last byte). [[searchExact]] consumes
    * this tier with `codec = "sq4"` — the exactness proof only needs the
    * reconstruction errors, so it carries unchanged; with 16 levels the
    * per-dim error is ~16× SQ8's, so τ admits more candidates (the
    * compression/candidate-volume trade this tier IS).
    */
  def sq4(data: DataFrame, vectorCol: String = "vector"): DataFrame =
    data
      .withColumn("__enc", graft.functions.vec.sq4Encode(col(vectorCol)))
      .withColumn("q_offset", col("__enc.q_offset"))
      .withColumn("q_scale", col("__enc.q_scale"))
      .withColumn("codes", col("__enc.codes"))
      .withColumn("q_err", col("__enc.q_err"))
      .withColumn("q_err_l1", col("__enc.q_err_l1"))
      .withColumn("q_dim", col("__enc.q_dim"))
      .drop("__enc")

  /** Codec-dispatched decode for the τ scans: `dim < 0` → SQ8 byte codes,
    * `dim >= 0` → SQ4 packed nibbles (two dims per byte; the stored
    * tinyint reads back signed, `& 0xff` recovers the packed unsigned
    * byte).
    */
  @inline private[knn] def decodeArr(
      codes: Array[Short], dim: Int, scale: Float, offset: Float): Array[Float] =
    if (dim < 0) dequantizeArr(codes, scale, offset)
    else {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        val u = codes(i >> 1).toInt & 0xff
        val code = if ((i & 1) == 0) u & 0xf else u >>> 4
        out(i) = code.toFloat * scale + offset
        i += 1
      }
      out
    }

  /** Reconstruct an `array<float>` from SQ8 columns. */
  def dequantize(codes: org.apache.spark.sql.Column, scale: org.apache.spark.sql.Column, offset: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(codes, c => ((c.cast("int") + 128).cast("float") * scale + offset).cast("float"))

  /** Exact full-precision rescore of a (qid, id) candidate set + final
    * top-k — the shared tail of [[search]] and [[searchIvfSq8DF]]. With
    * `dedupVectors` the vector side is deduped by id so a spilled
    * assignment (same id in several cells) cannot fan the join out into
    * duplicate rows that eat rank slots; leave it off when ids are unique
    * by contract — the dedupe is a full extra exchange over the vector
    * table at scale.
    */
  private[knn] def rescoreTopK(
      candidates: DataFrame, // (qid, id)
      vectors: DataFrame, // (id, vector), duplicate ids allowed with dedupVectors
      queries: DataFrame, // (qid, qvec)
      k: Int,
      metric: String,
      dedupVectors: Boolean): DataFrame = {
    val vside = vectors.select(col("id"), col("vector"))
    val rescored = candidates
      .join(if (dedupVectors) vside.dropDuplicates("id") else vside, Seq("id"))
      .join(queries.select(col("qid").cast("long"), col("qvec")), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Two-stage ANN: coarse top-(k·overscan) on dequantized vectors, exact
    * rescoring of those candidates at full precision. The full-precision
    * side is only touched for candidate ids (broadcast-join sized).
    */
  def search(
      spark: SparkSession,
      quantized: DataFrame, // output of sq8 (id, vector, codes, q_scale, q_offset)
      queries: Array[(Long, Array[Float])],
      k: Int,
      overscan: Int = 4,
      metric: String = "euclidean"): DataFrame = {
    import spark.implicits._
    val approxVec = dequantize(col("codes"), col("q_scale"), col("q_offset"))
    val coarseData = quantized.select(col("id"), approxVec.as("vector"))
    val coarse = Knn.partitioned(spark, coarseData, queries, k * overscan, metric)
      .select("qid", "id")
    // sq8 contract: unique ids — no dedupe exchange needed
    rescoreTopK(coarse, quantized, broadcast(queries.toSeq.toDF("qid", "qvec")), k, metric,
      dedupVectors = false)
  }

  /** IVF×SQ8: the 100 TB configuration — probe only each query's nearest
    * cells AND scan 1 byte/dim inside them. Provably equal to the
    * full-precision [[Ivf.search]] at the same nprobe: within the probed
    * subset the [[searchExact]] τ-bound guarantees the exact top-k, and the
    * probed subset is identical by construction (same centroids, same
    * probe ranking). `quantized` must carry a `cell` column (from
    * [[Ivf.assign]]) in addition to the sq8 columns.
    */
  def searchIvfSq8(
      spark: SparkSession,
      quantized: DataFrame, // sq8(assign(...)): (id, cell, vector, codes, q_scale, q_offset, q_err)
      centroids: Array[Array[Float]],
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int): DataFrame = {
    val metric = graft.core.Distances.Euclidean
    // same driver-side probe ranking as Ivf.search
    val probed: Map[Long, Array[Int]] = queries.map { case (qid, qv) =>
      qid -> centroids.zipWithIndex
        .map { case (cv, ci) => (graft.core.Distances.distance(metric)(qv, cv), ci) }
        .sortBy(identity).take(nprobe).map(_._2)
    }.toMap
    searchExact(spark, quantized, queries, k, Some(probed))
  }

  /** IVF×SQ4: [[searchIvfSq8]]'s twin on the 4-bit tier — probe only each
    * query's nearest cells AND scan half a byte per dimension inside
    * them. Provably equal to full-precision [[Ivf.search]] at the same
    * nprobe for the same reason (τ-bound exactness within the probed
    * subset, identical probe ranking); the wider SQ4 reconstruction error
    * buys the 2×-over-SQ8 scan compression with more τ candidates, never
    * with wrong results. `quantized` must carry `cell` (from
    * [[Ivf.assign]]) plus the [[sq4]] columns.
    */
  def searchIvfSq4(
      spark: SparkSession,
      quantized: DataFrame, // sq4(assign(...)): (id, cell, vector, codes, q_scale, q_offset, q_err, q_dim)
      centroids: Array[Array[Float]],
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int): DataFrame = {
    val metric = graft.core.Distances.Euclidean
    val probed: Map[Long, Array[Int]] = queries.map { case (qid, qv) =>
      qid -> centroids.zipWithIndex
        .map { case (cv, ci) => (graft.core.Distances.distance(metric)(qv, cv), ci) }
        .sortBy(identity).take(nprobe).map(_._2)
    }.toMap
    searchExact(spark, quantized, queries, k, Some(probed), codec = "sq4")
  }

  /** IVF×SQ8 with a DataFrame query side — the corpus-vs-corpus shape at
    * its cheapest scan cost: nothing driver-resident, each query row
    * computes its own nprobe probe cells (centroids broadcast), both sides
    * shuffle once on the small-cardinality cell id, and a per-cell cogroup
    * streams the cell's 1-byte/dim CODES once past bounded per-query heaps
    * of size k·overscan on dequantized distances. Only the global
    * k·overscan coarse survivors join the full-precision column for the
    * exact rescore. Recall is the overscan heuristic of [[search]] (not
    * the τ-proof of [[searchExact]], whose two-pass global bound doesn't
    * fit a single cogroup): raise `overscan` to trade candidates for
    * recall. `quantized` must carry `cell` (from [[Ivf.assign]]) plus the
    * sq8 columns; a spilled assignment is deduped before ranking.
    */
  def searchIvfSq8DF(
      quantized: DataFrame, // sq8(assign(...)): (id, cell, vector, codes, q_scale, q_offset)
      centroids: Array[Array[Float]],
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nprobe: Int,
      overscan: Int = 4,
      coarse: String = "linear"): DataFrame = {
    val spark = quantized.sparkSession
    import spark.implicits._

    val probes = Ivf.probeCells(queries, centroids, nprobe, "euclidean", coarse)

    val dataByCell = quantized
      .select(col("cell").cast("int"), col("id").cast("long"),
        col("codes").cast("array<smallint>"),
        col("q_scale").cast("float"), col("q_offset").cast("float"))
      .as[(Int, Long, Array[Short], Float, Float)]
      .groupByKey(_._1)

    val kk = k * overscan
    val coarseScan = dataByCell.cogroup(probes.groupByKey(_._1)) { case (_, dIter, qIter) =>
      val qs = qIter.toArray
      if (qs.isEmpty) Iterator.empty
      else {
        // coarse ranking only — the SIMD kernel's relaxed precision is
        // absorbed by the exact full-precision rescore (same reasoning as
        // Ivf.assign). The blocked scan (TopK.scanBlocked) keeps this
        // kernel-bound instead of memory-bound on re-streaming the query
        // set per row; rows decode once (lazy map).
        val kernel = graft.core.DistKernel.best
        val heaps = Array.fill(qs.length)(new TopK(kk))
        TopK.scanBlocked(
          dIter.map { case (_, id, codes, scale, offset) => (id, dequantizeArr(codes, scale, offset)) },
          qs.map(_._3), heaps, kernel.euclidean)
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.sorted.iterator.map { case (d, id) => (qs(qi)._2, id, d) }
        }
      }
    }.toDF("qid", "id", "approx")

    // dedupe BEFORE the coarse window: a spilled id surfacing through
    // several probed cells must not consume multiple crank slots inside
    // the k·overscan budget (duplicate rows carry equal approx values,
    // so which copy survives is immaterial)
    val wc = Window.partitionBy("qid").orderBy(col("approx"), col("id"))
    val cand = coarseScan.dropDuplicates("qid", "id")
      .withColumn("crank", row_number().over(wc)).filter(col("crank") <= kk)
      .select("qid", "id")

    // quantized may be a spilled assignment (duplicate ids across cells)
    rescoreTopK(cand, quantized, queries, k, "euclidean", dedupVectors = true)
  }

  /** [[searchIvfSq8DF]] over a PERSISTED index ([[Ivf.save]] layout whose
    * assignment was saved with the sq8 columns — `Ivf.save(spark,
    * sq8(Ivf.assign(...)), centroids, dir, "euclidean")`): centroids,
    * metric, spill, and dimension self-configure from the sidecar, the
    * torn-save/completeness guards of [[Ivf.searchSavedDF]] apply, and
    * cell-partition pruning feeds the probed cells only. Euclidean-only
    * like the in-memory path; fails loudly on a cosine-trained or
    * codes-less index instead of scanning at the wrong precision.
    */
  def searchSavedIvfSq8DF(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      overscan: Int = 4): DataFrame = {
    val (assigned, centroids, meta) = Ivf.loadWithMeta(spark, dir)
    require(meta.metric == "euclidean",
      s"saved index at $dir was trained with metric '${meta.metric}' — the SQ8 coarse path is euclidean-only")
    val missing = Seq("codes", "q_scale", "q_offset").filterNot(assigned.columns.contains)
    require(missing.isEmpty,
      s"saved assignment at $dir lacks SQ8 columns ${missing.mkString(", ")} — save sq8(assign(...)) to use this path")
    val checked = Ivf.checkQueryDim(queries, meta.dim)
    searchIvfSq8DF(assigned, centroids, checked, k, nprobe, overscan)
  }

  /** GUARANTEED-exact two-stage search over SQ8 codes, for any metric
    * whose distance obeys a triangle inequality against the
    * reconstruction: |d(q,v) − d(q,v̂)| ≤ d(v,v̂) = e_v — euclidean
    * (e_v = ‖v−v̂‖₂, the `q_err` column) and manhattan (e_v = ‖v−v̂‖₁,
    * `q_err_l1`). With τ_q = kth-smallest (d(q,v̂) + e_v) every true
    * top-k member satisfies d(q,v̂) − e_v ≤ τ_q: at least k vectors have
    * true distance ≤ τ_q (those whose upper bound is ≤ τ_q), hence any
    * true top-k member has d(q,v) ≤ τ_q and its coarse lower bound passes
    * the filter.
    *
    * Pass 1 computes τ_q with per-partition bounded heaps on the upper
    * bound (k rows per partition cross the wire); pass 2 re-scans the codes
    * and keeps lower-bound survivors. Both passes read 1 byte/dim; the
    * full-precision column is joined only for candidate ids. Unlike the
    * overscan heuristic in [[search]], exactness here is data-independent.
    * Cosine lacks such a reconstruction bound — [[searchExactCosine]]
    * reaches it through the normalize-then-L2 reduction instead.
    */
  /** GUARANTEED-exact COSINE top-k over SQ8 codes via the normalize-then-L2
    * reduction: on unit vectors ‖a−b‖₂² = 2·(1 − a·b) = 2·cos_dist(a,b), a
    * strictly increasing map, so the exact L2 top-k over the L2-normalized
    * vectors IS the exact cosine top-k over the originals — which extends
    * [[searchExact]]'s data-independent τ-proof (euclidean-only by itself:
    * cosine lacks a triangle-inequality reconstruction bound) to cosine.
    * Pipeline: normalize (one narrow pass), [[sq8]] the NORMALIZED vectors
    * (so the τ bound lives in the reduced space), run the provably-exact
    * two-pass L2 search, then report the true cosine distance computed on
    * the ORIGINAL vectors for the winning ids. Scan cost is the same
    * 1 byte/dim as the euclidean path.
    *
    * Zero vectors have no direction — their cosine distance is 0/0 — so
    * they are EXCLUDED from the corpus here (passing them through would
    * rank them at reduced-L2 distance 1.0, displacing true neighbors
    * whose cosine distance exceeds 0.5, while the exact kernel ranks
    * them NaN-last: a silent top-k divergence). A zero QUERY throws for
    * the same reason: its normalized direction is undefined, so the
    * reduced-L2 search would rank a meaningless direction and the rescore
    * would emit NaN distances — a silent-NaN result in a fail-loud API.
    */
  def searchExactCosine(
      spark: SparkSession,
      data: DataFrame, // (id, vector)
      queries: Array[(Long, Array[Float])],
      k: Int): DataFrame = {
    // normalize + encode in ONE fused kernel pass (Sq8Encode with
    // normalize=true); zero-norm corpus vectors encode to NULL and are
    // filtered — the same exclusion the column formulation expressed as
    // `norm > 0` (rationale in the scaladoc above)
    // the normalized `vector` column is only touched by searchExact's
    // candidate rescore (column pruning keeps it out of both 1-byte/dim
    // τ scans), so the normalize transform runs once, not three times
    val norm = sqrt(aggregate(col("vector").cast("array<double>"),
      lit(0d), (acc, x) => acc + x * x))
    val quantizedN = data
      .select(col("id"), col("vector"),
        graft.functions.vec.sq8Encode(col("vector"), normalize = true).as("__enc"))
      .filter(col("__enc").isNotNull)
      .select(col("id"),
        transform(col("vector"), x => (x / norm).cast("float")).as("vector"),
        col("__enc.codes").as("codes"),
        col("__enc.q_scale").as("q_scale"), col("__enc.q_offset").as("q_offset"),
        col("__enc.q_err").as("q_err"), col("__enc.q_err_l1").as("q_err_l1"))
    def normalizeQ(qid: Long, v: Array[Float]): Array[Float] = {
      var acc = 0.0
      var i = 0
      while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
      val n = math.sqrt(acc)
      require(n > 0,
        s"query $qid is a zero vector — cosine distance is undefined (0/0), mirroring the " +
          "corpus-side exclusion above; drop or re-embed the query")
      v.map(x => (x / n).toFloat)
    }
    val exactL2 = searchExact(spark, quantizedN,
      queries.map { case (qid, qv) => (qid, normalizeQ(qid, qv)) }, k)

    // the SET is exact; report/rank by the true cosine distance on the
    // original vectors (identical order — the map above is monotone)
    import spark.implicits._
    val rescored = exactL2.select(col("qid"), col("id"))
      .join(data.select(col("id"), col("vector")), Seq("id"))
      .join(broadcast(queries.toSeq.toDF("qid", "qvec")), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), "cosine").as("dist"))
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  def searchExact(
      spark: SparkSession,
      quantized: DataFrame, // output of sq8/sq4 (id, vector, codes, q_scale, q_offset, q_err[, q_err_l1])
      queries: Array[(Long, Array[Float])],
      k: Int,
      probeCells: Option[Map[Long, Array[Int]]] = None,
      metric: String = "euclidean",
      codec: String = "sq8"): DataFrame = {
    import spark.implicits._
    require(codec == "sq8" || codec == "sq4",
      s"codec must be 'sq8' or 'sq4', got '$codec'")
    val m = graft.core.Distances.metricId(metric)
    require(m == graft.core.Distances.Euclidean || m == graft.core.Distances.Manhattan,
      s"searchExact's τ-bound needs a triangle-inequality reconstruction error — " +
        s"'$metric' has none (use searchExactCosine for cosine)")
    val errCol = if (m == graft.core.Distances.Manhattan) col("q_err_l1") else col("q_err")
    // q_dim drives the codec dispatch in decodeArr: -1 marks SQ8 byte
    // codes, >= 0 the SQ4 packed-nibble layout (and the true dimension)
    val dimCol = if (codec == "sq4") col("q_dim").cast("int") else lit(-1).cast("int")
    val kernel = graft.core.Distances.distance(m) _
    val bcQ = spark.sparkContext.broadcast(queries)
    // per-query probed-cell mask (null = unrestricted full scan)
    val nCells = probeCells.map(_.valuesIterator.flatten.foldLeft(0)(math.max) + 1).getOrElse(0)
    // a query id absent from the probeCells map is UNRESTRICTED (null mask
    // = full scan) — an all-false mask would silently drop the query from
    // the output
    val bcMask: org.apache.spark.broadcast.Broadcast[Array[Array[Boolean]]] =
      spark.sparkContext.broadcast(queries.map { case (qid, _) =>
        probeCells.flatMap(_.get(qid)).map { cells =>
          val m = new Array[Boolean](nCells)
          cells.foreach(c => if (c < nCells) m(c) = true)
          m
        }.orNull
      })
    val cellCol =
      if (probeCells.isDefined) col("cell").cast("int") else lit(-1).cast("int")
    val rows = quantized
      .select(col("id").cast("long"), cellCol.as("cell"), col("codes").cast("array<smallint>"),
        col("q_scale").cast("float"), col("q_offset").cast("float"), errCol.cast("double"),
        dimCol.as("qdim"))
      .as[(Long, Int, Array[Short], Float, Float, Double, Int)]

    @inline def allowed(mask: Array[Array[Boolean]], qi: Int, cell: Int): Boolean = {
      val m = mask(qi)
      m == null || (cell >= 0 && cell < m.length && m(cell))
    }

    // Pass 1: per-query kth-smallest upper bound over per-partition heaps.
    val ubCandidates = rows.mapPartitions { iter =>
      val qs = bcQ.value
      val mask = bcMask.value
      val heaps = Array.fill(qs.length)(new TopK(k))
      iter.foreach { case (id, cell, codes, scale, offset, err, qdim) =>
        val vhat = decodeArr(codes, qdim, scale, offset)
        var qi = 0
        while (qi < qs.length) {
          if (allowed(mask, qi, cell)) heaps(qi).push(kernel(vhat, qs(qi)._2) + err, id)
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.sorted.iterator.map { case (ub, _) => (qs(qi)._1, ub) }
      }
    }.toDF("qid", "ub")
    val wUb = Window.partitionBy("qid").orderBy("ub")
    val tau: Map[Long, Double] = ubCandidates
      .withColumn("rn", row_number().over(wUb)).filter(col("rn") <= k)
      .groupBy("qid").agg(max("ub").as("tau"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // Pass 2: lower-bound filter — a provable superset of the true top-k.
    // The q_err slack absorbs reconstruction-error rounding, but the
    // distance kernel's own double rounding scales with the distance
    // magnitude (~dim·ulp(d)), which matters when e_v ≈ 0 (near-constant
    // vectors) and distances are large — widen τ by dim·ulp(τ) so a
    // boundary near-tie within kernel rounding can never evict a true
    // top-k member.
    val bcTau = spark.sparkContext.broadcast(tau)
    val candidates = rows.mapPartitions { iter =>
      val qs = bcQ.value
      val mask = bcMask.value
      val taus = qs.map { q =>
        val t = bcTau.value.getOrElse(q._1, Double.NegativeInfinity)
        if (t.isInfinite) t else t + q._2.length * math.ulp(t)
      }
      iter.flatMap { case (id, cell, codes, scale, offset, err, qdim) =>
        val vhat = decodeArr(codes, qdim, scale, offset)
        qs.indices.iterator
          .filter(qi => allowed(mask, qi, cell) && kernel(vhat, qs(qi)._2) - err <= taus(qi))
          .map(qi => (qs(qi)._1, id))
      }
    }.toDF("qid", "id")

    // Exact rescore of candidates only.
    val queriesDf = queries.toSeq.toDF("qid", "qvec")
    val rescored = candidates
      .join(quantized.select(col("id"), col("vector")), Seq("id"))
      .join(broadcast(queriesDf), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---------------------------------------------------------------- binary

  /** Per-dimension mean thresholds for 1-bit binary quantization — the
    * sign pivot that balances each bit ~50/50 (maximum sketch entropy).
    * One tree-aggregated pass: partial (sum, count) per task is O(dim),
    * the driver only ever sees O(dim) — never O(rows).
    */
  def binaryThresholds(data: DataFrame, vectorCol: String = "vector"): Array[Float] = {
    val spark = data.sparkSession
    import spark.implicits._
    val (sums, n) = data.select(col(vectorCol).cast("array<float>")).as[Array[Float]]
      .rdd
      .treeAggregate((null: Array[Double], 0L))(
        seqOp = { case ((acc, cnt), v) =>
          val a = if (acc == null) new Array[Double](v.length) else acc
          require(a.length == v.length,
            s"ragged vector column: dim ${v.length} != ${a.length}")
          var i = 0
          while (i < v.length) { a(i) += v(i); i += 1 }
          (a, cnt + 1)
        },
        combOp = {
          case ((null, _), r) => r
          case (l, (null, _)) => l
          case ((a, ca), (b, cb)) =>
            require(a.length == b.length,
              s"ragged vector column: dim ${b.length} != ${a.length}")
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            (a, ca + cb)
        })
    require(n > 0, "binaryThresholds: empty vector column")
    sums.map(s => (s / n).toFloat)
  }

  /** Add a packed 1-bit signature column (`sig: array<long>`, 64 dims per
    * word — 32× smaller than float32) via the fused
    * [[graft.functions.BinaryPack]] kernel.
    */
  def binarize(
      data: DataFrame,
      thresholds: Array[Float],
      vectorCol: String = "vector",
      sigCol: String = "sig"): DataFrame =
    data.withColumn(sigCol,
      vec.binaryPack(col(vectorCol), lit(thresholds)))

  /** Two-stage binary-sketch ANN: coarse Hamming top-(k·overscan) over the
    * packed signatures, exact full-precision rescore of the survivors.
    * The coarse pass is the 32×-compression scale lever: per-partition
    * bounded heaps scan 8 bytes per 64 dims (pop-count XOR per word), so
    * only k·overscan·P·Q candidate rows ever shuffle; the float vectors
    * are touched only for candidate ids. Unlike SQ8's τ-bound, one bit
    * per dimension carries no reconstruction-error bound — this tier is
    * recall-gated, not provably exact (overscan is the recall knob;
    * overscan·k ≥ N degenerates to exact brute force by construction).
    */
  def searchBinary(
      spark: SparkSession,
      data: DataFrame, // (id, vector)
      thresholds: Array[Float],
      queries: Array[(Long, Array[Float])],
      k: Int,
      overscan: Int = 8,
      metric: String = "euclidean",
      probeCells: Option[Map[Long, Array[Int]]] = None): DataFrame = {
    import spark.implicits._
    require(k > 0 && overscan > 0, s"k and overscan must be positive, got $k, $overscan")
    val packedQ = queries.map { case (qid, qv) =>
      (qid, graft.functions.BinaryKernels.pack(qv, thresholds))
    }
    val bcQ = spark.sparkContext.broadcast(packedQ)
    val kc = k * overscan

    // per-query probed-cell mask (IVF×binary composition — null mask =
    // unrestricted; same convention as searchExact's)
    val nCells = probeCells.map(_.valuesIterator.flatten.foldLeft(0)(math.max) + 1).getOrElse(0)
    val bcMask: org.apache.spark.broadcast.Broadcast[Array[Array[Boolean]]] =
      spark.sparkContext.broadcast(queries.map { case (qid, _) =>
        probeCells.flatMap(_.get(qid)).map { cells =>
          val m = new Array[Boolean](nCells)
          cells.foreach(c => if (c < nCells) m(c) = true)
          m
        }.orNull
      })
    val cellCol =
      if (probeCells.isDefined) col("cell").cast("int") else lit(-1).cast("int")

    val coarse = binarize(
        data.select(col("id").cast("long"), cellCol.as("cell"),
          col("vector").cast("array<float>")), thresholds)
      .select(col("id"), col("cell"), col("sig"))
      .as[(Long, Int, Array[Long])]
      .mapPartitions { iter =>
        val qs = bcQ.value
        val mask = bcMask.value
        @inline def allowed(qi: Int, cell: Int): Boolean = {
          val m = mask(qi)
          m == null || (cell >= 0 && cell < m.length && m(cell))
        }
        val heaps = Array.fill(qs.length)(new TopK(kc))
        iter.foreach { case (id, cell, sig) =>
          var qi = 0
          while (qi < qs.length) {
            if (allowed(qi, cell))
              heaps(qi).push(graft.functions.BinaryKernels.hamming(sig, qs(qi)._2).toDouble, id)
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.sorted.iterator.map { case (d, id) => (qs(qi)._1, id, d) }
        }
      }
      .toDF("qid", "id", "hd")
    val wc = Window.partitionBy("qid").orderBy(col("hd"), col("id"))
    val candidates = coarse
      .withColumn("rn", row_number().over(wc)).filter(col("rn") <= kc)
      .select("qid", "id")

    rescoreTopK(candidates, data.select(col("id").cast("long"), col("vector")),
      broadcast(queries.toSeq.toDF("qid", "qvec")), k, metric, dedupVectors = false)
  }

  /** IVF×binary: probe only each query's `nprobe` nearest cells AND scan
    * 8 bytes per 64 dims inside them — the two pruning levers compose
    * (cells cut the scanned fraction, bits cut bytes-per-row within it).
    * `assigned` must carry a `cell` column (from [[Ivf.assign]]). Same
    * probe ranking as [[Ivf.search]]; recall-gated like the flat binary
    * tier (full-probe + full-overscan degenerates to exact brute force).
    */
  def searchIvfBinary(
      spark: SparkSession,
      assigned: DataFrame, // (id, cell, vector)
      centroids: Array[Array[Float]],
      thresholds: Array[Float],
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      overscan: Int = 8): DataFrame = {
    val metric = graft.core.Distances.Euclidean
    val probed: Map[Long, Array[Int]] = queries.map { case (qid, qv) =>
      qid -> centroids.zipWithIndex
        .map { case (cv, ci) => (graft.core.Distances.distance(metric)(qv, cv), ci) }
        .sortBy(identity).take(nprobe).map(_._2)
    }.toMap
    searchBinary(spark, assigned, thresholds, queries, k, overscan, "euclidean", Some(probed))
  }
}
