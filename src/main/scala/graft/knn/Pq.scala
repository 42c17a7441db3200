package graft.knn

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Product quantization (Jégou, Douze, Schmid 2011: "Product Quantization
  * for Nearest Neighbor Search"): the vector splits into `m` subspaces of
  * dim/m dims, each sub-vector encodes as its nearest codeword in a
  * per-subspace codebook — `m` BYTES per vector at ksub ≤ 256, the 16-32×
  * compression tier past SQ8's 4×, which is what makes 100 TB embedding
  * corpora scannable from memory. Search is ADC (asymmetric distance
  * computation): per query and subspace a lookup table of
  * ‖q_sub − codeword‖² is built ONCE, an encoded vector's approximate
  * distance is m table reads + adds (no float math per dimension), and
  * only the k·overscan coarse survivors are rescored at full precision —
  * exact on the candidate set, recall controlled by overscan (PQ has no
  * τ-style exactness bound: quantization here loses direction, not just
  * magnitude, so the guarantee of [[Quantize.searchExact]] does not carry
  * over; that is the documented trade for the extra compression).
  *
  * Scale shape: training runs m distributed k-means on a deterministic
  * bounded sample; codebooks (m·ksub·dsub floats — a few MB at most)
  * broadcast; encode is one narrow pass; the ADC scan is a bounded-heap
  * `mapPartitions` pass with per-partition LUT reuse, composing with IVF
  * cell pruning exactly like the SQ8 path.
  */
object Pq {

  /** books(j)(c) = codeword c of subspace j (dsub floats each). */
  case class PqCodebooks(m: Int, dsub: Int, books: Array[Array[Array[Float]]]) {
    require(books.length == m && books.forall(_.forall(_.length == dsub)),
      s"codebook shape mismatch: expected $m x ksub x $dsub")
    def ksub: Int = books.head.length
  }

  /** Train per-subspace codebooks with the deterministic distributed
    * k-means‖ of [[Ivf.train]] over a bounded deterministic sample
    * (xxhash64 id bucketing — layout- and engine-independent). dim must
    * divide by `m`.
    */
  def train(
      spark: SparkSession,
      data: DataFrame, // (id, vector)
      m: Int,
      ksub: Int = 256,
      iterations: Int = 2,
      sampleCap: Int = 100000,
      seed: Long = 42L,
      seeding: String = "kmeans||"): PqCodebooks = {
    import spark.implicits._
    // dim + row count in ONE aggregation pass (they were two jobs)
    val statsRow = data.agg(first(size(col("vector"))), count(lit(1))).head()
    val dim = statsRow.getInt(0)
    val n = statsRow.getLong(1)
    require(dim % m == 0, s"dim $dim must divide by m=$m subspaces")
    val dsub = dim / m
    val sample =
      if (n <= sampleCap) data
      else data.filter(
        pmod(xxhash64(col("id"), lit(seed)), lit(1000000L)) < (sampleCap.toDouble / n * 1e6).toLong)
    val cached = sample.select(col("id").cast("long"),
      col("vector").cast("array<float>")).persist()
    try {
      // Seeding per subspace. The m subspace trainings are independent
      // k-means problems over the SAME sample rows, so the Lloyd steps
      // batch into one pass per iteration below — m separate Ivf.train
      // calls cost m·iterations tiny jobs of pure scheduling overhead.
      var books: Array[Array[Array[Float]]] = seeding match {
        case "kmeans||" =>
          Array.tabulate(m) { j =>
            val sub = cached.select(col("id"),
              slice(col("vector"), j * dsub + 1, dsub).as("vector"))
            Ivf.seedKMeansPar(spark, sub, ksub, seed = seed + j)
          }
        case _ =>
          // first-ksub rows by id, sliced on the driver: one job seeds all m
          val firstRows = cached.orderBy("id").limit(ksub)
            .select("vector").as[Array[Float]].collect()
          Array.tabulate(m)(j => firstRows.map(_.slice(j * dsub, (j + 1) * dsub)))
      }
      val kEff = books.map(_.length).min
      require(books.forall(_.length == kEff),
        s"subspace seed counts diverge (${books.map(_.length).mkString(",")})")

      // Joint Lloyd: ONE mapPartitions + treeReduce per iteration moves
      // m·kEff·dsub = dim·kEff doubles per partition — the m-subspace
      // batching is free relative to a single k-means of the same dim.
      // Assignment uses the same SIMD kernel + first-wins tie-break as
      // Ivf.assign, so the result matches the per-subspace formulation.
      var it = 0
      while (it < iterations) {
        val bc = spark.sparkContext.broadcast(books)
        val (sums, counts) = cached.as[(Long, Array[Float])].rdd
          .mapPartitions { iter =>
            val bks = bc.value
            val kernel = graft.core.DistKernel.best
            val s = Array.ofDim[Double](m, kEff, dsub)
            val cnt = Array.ofDim[Long](m, kEff)
            val sub = new Array[Float](dsub)
            iter.foreach { case (_, v) =>
              var j = 0
              while (j < m) {
                System.arraycopy(v, j * dsub, sub, 0, dsub)
                var best = 0
                var bestDist = Double.MaxValue
                var c = 0
                while (c < kEff) {
                  val d = kernel.euclidean(sub, bks(j)(c))
                  if (d < bestDist) { bestDist = d; best = c }
                  c += 1
                }
                cnt(j)(best) += 1
                var i = 0
                while (i < dsub) { s(j)(best)(i) += sub(i); i += 1 }
                j += 1
              }
            }
            Iterator.single((s, cnt))
          }
          .treeReduce { case ((s1, n1), (s2, n2)) =>
            var j = 0
            while (j < m) {
              var c = 0
              while (c < kEff) {
                var i = 0
                while (i < dsub) { s1(j)(c)(i) += s2(j)(c)(i); i += 1 }
                n1(j)(c) += n2(j)(c)
                c += 1
              }
              j += 1
            }
            (s1, n1)
          }
        books = Array.tabulate(m) { j =>
          Array.tabulate(kEff) { c =>
            if (counts(j)(c) == 0) books(j)(c)
            else Array.tabulate(dsub)(i => (sums(j)(c)(i) / counts(j)(c)).toFloat)
          }
        }
        bc.destroy()
        it += 1
      }
      PqCodebooks(m, dsub, books)
    } finally cached.unpersist()
  }

  /** Add `pq_codes: binary` (m bytes, one codeword index per subspace —
    * stored as unsigned bytes) to `data` through a codegen Catalyst
    * expression (codebooks ride as a codegen reference object — no UDF
    * serialization, WholeStageCodegen intact).
    */
  def encode(data: DataFrame, cb: PqCodebooks): DataFrame =
    data.withColumn("pq_codes", graft.internal.SqlBridge.column(
      graft.functions.PqEncode(
        graft.internal.SqlBridge.expression(col("vector")), cb.books, cb.dsub)))

  /** vector − centroid(cell) as a codegen column — the IVFADC residual. */
  private def residualExpr(centroids: Array[Array[Float]]) =
    graft.internal.SqlBridge.column(graft.functions.VecResidual(
      graft.internal.SqlBridge.expression(col("vector")),
      graft.internal.SqlBridge.expression(col("cell").cast("int")),
      centroids))

  /** [[train]] on IVFADC residuals (Jégou et al. 2011 §IV.A): codebooks
    * learn vector − centroid(cell) over an ASSIGNED dataset, i.e. only
    * what the coarse quantizer missed. Residual norms are a fraction of
    * vector norms, so the same m·log2(ksub) bits buy a finer grid —
    * the published recall-per-byte winner over raw-vector PQ whenever an
    * IVF assignment exists anyway.
    */
  def trainResidual(
      spark: SparkSession,
      assigned: DataFrame, // (id, cell, vector) from Ivf.assign
      centroids: Array[Array[Float]],
      m: Int,
      ksub: Int = 256,
      iterations: Int = 2,
      sampleCap: Int = 100000,
      seed: Long = 42L,
      seeding: String = "kmeans||"): PqCodebooks =
    train(spark,
      assigned.select(col("id"), residualExpr(centroids).as("vector")),
      m, ksub, iterations, sampleCap, seed, seeding)

  /** [[encode]] of the per-cell residual: `pq_codes` over
    * vector − centroid(cell). Pair with [[searchIvfPqResidual]] — raw-ADC
    * search over residual codes would rank garbage.
    */
  def encodeResidual(assigned: DataFrame, centroids: Array[Array[Float]], cb: PqCodebooks): DataFrame =
    assigned.withColumn("pq_codes", graft.internal.SqlBridge.column(
      graft.functions.PqEncode(
        graft.internal.SqlBridge.expression(residualExpr(centroids)), cb.books, cb.dsub)))

  /** luts(j*ksub + code) = ‖q_sub − codeword‖² for a (possibly residual)
    * query vector in doubles — built once per (query[, probed cell]) per
    * partition, then every scanned row costs m table reads + adds.
    */
  private def buildLut(qv: Array[Double], c: PqCodebooks): Array[Double] = {
    val ksub = c.ksub
    val lut = new Array[Double](c.m * ksub)
    var j = 0
    while (j < c.m) {
      val book = c.books(j)
      var ci = 0
      while (ci < ksub) {
        val cw = book(ci)
        var d = 0.0
        var t = 0
        while (t < c.dsub) {
          val diff = qv(j * c.dsub + t) - cw(t)
          d += diff * diff
          t += 1
        }
        lut(j * ksub + ci) = d
        ci += 1
      }
      j += 1
    }
    lut
  }

  /** ADC coarse scan + exact rescore. `encoded` = [[encode]] output
    * (id, vector, pq_codes [, cell]); `probeCells` restricts each query to
    * its probed IVF cells (null mask = full scan) exactly like
    * [[Quantize.searchExact]]'s masking.
    *
    * `residualCentroids` switches the scan to IVFADC semantics: codes are
    * [[encodeResidual]]'s (vector − centroid of its cell), so
    * ‖q − (c + r)‖² = ‖(q − c) − r‖² and each (query, probed cell) pair
    * gets its OWN lookup table built from the residual query q − c.
    * LUT memory per partition is Q·nprobe·m·ksub doubles — bounded by the
    * probe fan-out, never the data; requires `probeCells` (a full
    * residual scan would build Q·C tables, which is the signal the caller
    * wanted IVF pruning anyway).
    */
  def search(
      spark: SparkSession,
      encoded: DataFrame,
      cb: PqCodebooks,
      queries: Array[(Long, Array[Float])],
      k: Int,
      overscan: Int = 8,
      probeCells: Option[Map[Long, Array[Int]]] = None,
      dedup: Boolean = false,
      residualCentroids: Option[Array[Array[Float]]] = None,
      rescore: Boolean = true): DataFrame = {
    import spark.implicits._
    require(residualCentroids.isEmpty || probeCells.isDefined,
      "residual (IVFADC) search requires probeCells — per-cell LUTs need a bounded probe set")
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcQ = spark.sparkContext.broadcast(queries)
    val bcRes = spark.sparkContext.broadcast(residualCentroids.orNull)
    val bcMask = Ivf.probeMasks(spark, queries, probeCells)
    // ADC-only mode (rescore=false) keeps exactly k per query — overscan
    // only exists to feed the rescore a candidate superset
    val kk = if (rescore) k * overscan else k

    val coarse = encoded
      .select(col("id").cast("long"), Ivf.cellColumn(probeCells).as("cell"), col("pq_codes"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { iter =>
        val c = bcCb.value
        val qs = bcQ.value
        val mask = bcMask.value
        val res = bcRes.value
        val ksub = c.ksub
        // plain: one LUT per query (index 0). residual: one LUT per
        // (query, probed cell), indexed by cell; unprobed cells stay null
        // (the mask check keeps them out of the hot loop anyway)
        val luts: Array[Array[Array[Double]]] = Array.tabulate(qs.length) { qi =>
          val qv = qs(qi)._2
          if (res == null) Array(buildLut(qv.map(_.toDouble), c))
          else {
            val byCell = new Array[Array[Double]](res.length)
            val qm = mask(qi)
            var cell = 0
            while (qm != null && cell < qm.length) {
              if (qm(cell)) {
                val cv = res(cell)
                val rq = new Array[Double](qv.length)
                var i = 0
                while (i < qv.length) { rq(i) = qv(i).toDouble - cv(i); i += 1 }
                byCell(cell) = buildLut(rq, c)
              }
              cell += 1
            }
            byCell
          }
        }
        val heaps = Array.fill(qs.length)(new TopK(kk))
        iter.foreach { case (id, cell, codes) =>
          var qi = 0
          while (qi < qs.length) {
            if (Ivf.allowed(mask, qi, cell)) {
              val lut = if (res == null) luts(qi)(0) else luts(qi)(cell)
              var adc = 0.0
              var j = 0
              while (j < codes.length) {
                adc += lut(j * ksub + (codes(j) & 0xff))
                j += 1
              }
              heaps(qi).push(adc, id)
            }
            qi += 1
          }
        }
        Knn.emitHeaps(heaps, qs(_)._1)
      }
      .toDF("qid", "id", "approx")

    // with a SPILLED assignment (same id in several cells) a duplicate id
    // must not consume multiple rank slots or fan the rescore join out —
    // same contract as Ivf.search's dedup / searchIvfSq8DF's pre-window
    // dropDuplicates. Off by default: the dedupe is an extra exchange the
    // unique-ids-by-contract case should not pay.
    // spilled ids: under a rescore the surviving replica is immaterial
    // (exact distance recomputes), so dropDuplicates is enough — but the
    // ADC-only path REPORTS approx, and residual replicas carry different
    // codes per cell, so keep the MIN adc per (qid, id) deterministically
    val deduped =
      if (!dedup) coarse
      else if (rescore) coarse.dropDuplicates("qid", "id")
      else coarse.groupBy("qid", "id").agg(min(col("approx")).as("approx"))
    val cand = Knn.topK(deduped, kk, "approx", "crank")
    if (!rescore)
      // ADC ranking IS the result (the memory-bounded serving tier where
      // no full-precision vectors exist to rescore against — e.g. a
      // codes-only maintained index). √adc keeps the distance unit
      // consistent with the rescored path's euclidean output.
      cand.select(col("qid"), col("id"), sqrt(col("approx")).as("dist"),
        col("crank").cast("int").as("rank"))
    else
      Quantize.rescoreTopK(cand.select("qid", "id"), encoded,
        broadcast(queries.toSeq.toDF("qid", "qvec")), k, "euclidean", dedupVectors = dedup)
  }

  /** Mean squared reconstruction error of an [[encode]]d (or
    * [[encodeResidual]]-encoded, when `residualCentroids` is given)
    * corpus: E‖v − decode(codes)‖². ONE mapPartitions + treeReduce pass
    * (two doubles per partition cross the wire); the quantity OPQ's
    * rotation provably lowers on anisotropic data and the right
    * apples-to-apples lens for comparing encodings at equal byte budget
    * (lower MSE ⇒ tighter ADC estimates ⇒ recall at equal overscan).
    */
  def reconstructionMse(
      encoded: DataFrame,
      cb: PqCodebooks,
      residualCentroids: Option[Array[Array[Float]]] = None): Double = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcRes = spark.sparkContext.broadcast(residualCentroids.orNull)
    val cellCol =
      if (residualCentroids.isDefined) col("cell").cast("int") else lit(-1).cast("int")
    val (sse, n) = encoded
      .select(cellCol.as("cell"), col("vector").cast("array<float>"), col("pq_codes"))
      .as[(Int, Array[Float], Array[Byte])].rdd
      .mapPartitions { iter =>
        val c = bcCb.value
        val res = bcRes.value
        var sse = 0.0
        var cnt = 0L
        iter.foreach { case (cell, v, codes) =>
          var j = 0
          while (j < c.m) {
            val cw = c.books(j)(codes(j) & 0xff)
            var t = 0
            while (t < c.dsub) {
              val i = j * c.dsub + t
              val rec = cw(t) + (if (res == null) 0.0 else res(cell)(i).toDouble)
              val diff = v(i) - rec
              sse += diff * diff
              t += 1
            }
            j += 1
          }
          cnt += 1
        }
        Iterator.single((sse, cnt))
      }
      .treeReduce { case ((s1, n1), (s2, n2)) => (s1 + s2, n1 + n2) }
    require(n > 0, "reconstructionMse over an empty corpus")
    sse / n
  }

  /** Persist an IVF×PQ index: the [[Ivf.save]] layout (cell-partitioned
    * assignment — the `pq_codes` column rides along — centroids, meta
    * sidecar with its rows-completeness count) plus a `pq_books` parquet
    * of the per-subspace codebooks. Euclidean-only, like the ADC path.
    */
  def save(
      spark: SparkSession,
      encodedAssigned: DataFrame, // encode(assign(...))
      centroids: Array[Array[Float]],
      cb: PqCodebooks,
      dir: String,
      residual: Boolean = false): Unit = {
    import spark.implicits._
    require(encodedAssigned.columns.contains("pq_codes"),
      "assignment lacks pq_codes — pass encode(assign(...))")
    Ivf.save(spark, encodedAssigned, centroids, dir, "euclidean")
    saveCodebooks(spark, cb, dir, residual)
  }

  /** The `pq_books` sidecar alone (shared by [[save]] and the streaming
    * maintenance sink). The residual flag rides on every codebook row:
    * raw-ADC search over residual codes (or vice versa) ranks garbage, so
    * the layout must be self-describing about WHICH encoding the codes
    * carry.
    */
  def saveCodebooks(
      spark: SparkSession,
      cb: PqCodebooks,
      dir: String,
      residual: Boolean): Unit = {
    import spark.implicits._
    cb.books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq, residual) }
    }.toSeq.toDF("subspace", "code", "codeword", "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_books")
  }

  /** Whether a [[save]]d index carries residual (IVFADC) codes; pre-flag
    * saves (no `residual` column) were raw-vector encoded.
    */
  def savedResidual(spark: SparkSession, dir: String): Boolean =
    residualOf(booksTable(spark, dir))

  /** Load the codebooks of a [[save]]d index; fails loudly on a ragged or
    * absent table.
    */
  def loadCodebooks(spark: SparkSession, dir: String): PqCodebooks =
    codebooksOf(booksTable(spark, dir), dir)

  /** [[loadCodebooks]] and [[savedResidual]] from one read of the table. */
  private def loadSaved(spark: SparkSession, dir: String): (PqCodebooks, Boolean) = {
    val books = booksTable(spark, dir)
    (codebooksOf(books, dir), residualOf(books))
  }

  /** The `pq_books` table as a local relation: reading and collecting it
    * starts no Spark job.
    */
  private def booksTable(spark: SparkSession, dir: String): DataFrame =
    graft.io.IndexTable.read(spark, dir, "pq_books")

  private def residualOf(books: DataFrame): Boolean =
    books.columns.contains("residual") && books.select("residual").head().getBoolean(0)

  private def codebooksOf(table: DataFrame, dir: String): PqCodebooks = {
    import table.sparkSession.implicits._
    val rows = table
      .select("subspace", "code", "codeword")
      .as[(Int, Int, Seq[Float])].collect()
    require(rows.nonEmpty, s"no codebooks under $dir/pq_books")
    val m = rows.map(_._1).max + 1
    val books = Array.tabulate(m) { j =>
      val b = rows.filter(_._1 == j).sortBy(_._2).map(_._3.toArray)
      require(b.nonEmpty && b.indices.forall(c => rows.exists(r => r._1 == j && r._2 == c)),
        s"codebook for subspace $j at $dir is ragged (torn save)")
      b
    }
    val ksub = books.head.length
    val dsub = books.head.head.length
    require(books.forall(b => b.length == ksub && b.forall(_.length == dsub)),
      s"codebooks at $dir are ragged (torn save)")
    PqCodebooks(m, dsub, books)
  }

  /** [[searchIvfPq]] over a persisted index: centroids, codebooks, and
    * dimension self-configure from the directory, with [[Ivf.loadWithMeta]]'s
    * torn-save/completeness guards. Fails loudly on a cosine-trained or
    * codes-less index instead of scanning at the wrong precision — same
    * contract as [[Quantize.searchSavedIvfSq8DF]].
    */
  def searchSavedIvfPq(
      spark: SparkSession,
      dir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      overscan: Int = 8,
      rotatedQueries: Boolean = false): DataFrame = {
    val (assigned, centroids, meta) = Ivf.loadWithMeta(spark, dir)
    require(meta.metric == "euclidean",
      s"saved index at $dir was trained with metric '${meta.metric}' — the PQ ADC path is euclidean-only")
    require(assigned.columns.contains("pq_codes"),
      s"saved assignment at $dir lacks pq_codes — save encode(assign(...)) to use this path")
    // an OPQ index stores ROTATED coordinates: raw queries against it
    // would rank garbage silently — the exact mismatch class the residual
    // flag guards against, so guard it the same way
    require(rotatedQueries || !Opq.savedRotation(spark, dir),
      s"index at $dir carries an OPQ rotation sidecar — search it via Opq.searchSaved " +
        "(raw-coordinate queries against rotated codes rank garbage)")
    val (cb, residual) = loadSaved(spark, dir)
    require(cb.m * cb.dsub == meta.dim,
      s"index at $dir is torn: codebooks cover ${cb.m * cb.dsub} dims, sidecar says ${meta.dim}")
    Ivf.requireQueryDim(queries, meta.dim)
    // the sidecar knows whether the assignment was spilled — a spilled id
    // in several probed cells must not rank twice; the codebook table
    // knows whether codes are raw or residual and dispatches the scan
    if (residual)
      searchIvfPqResidual(spark, assigned, centroids, cb, queries, k, nprobe, overscan,
        dedup = meta.spill > 1)
    else
      searchIvfPq(spark, assigned, centroids, cb, queries, k, nprobe, overscan,
        dedup = meta.spill > 1)
  }

  /** IVF×PQ: probe each query's nearest cells and ADC-scan only inside
    * them — the same probed-subset construction as [[Quantize.searchIvfSq8]].
    * `encoded` must carry a `cell` column (from [[Ivf.assign]]).
    */
  def searchIvfPq(
      spark: SparkSession,
      encoded: DataFrame, // encode(assign(...)): (id, cell, vector, pq_codes)
      centroids: Array[Array[Float]],
      cb: PqCodebooks,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      overscan: Int = 8,
      dedup: Boolean = false): DataFrame = {
    search(spark, encoded, cb, queries, k, overscan, Some(Ivf.probeMap(queries, centroids, nprobe)),
      dedup)
  }

  /** [[searchIvfPq]] over RESIDUAL codes ([[encodeResidual]] +
    * [[trainResidual]]): the IVFADC configuration. Identical probe
    * construction; the ADC scan builds a lookup table per (query, probed
    * cell) from the residual query q − centroid, so approximate distances
    * estimate ‖q − (centroid + residual)‖² — the true geometry, on a grid
    * sized to the residuals.
    */
  def searchIvfPqResidual(
      spark: SparkSession,
      encoded: DataFrame, // encodeResidual(assign(...)): (id, cell, vector, pq_codes)
      centroids: Array[Array[Float]],
      cb: PqCodebooks,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      overscan: Int = 8,
      dedup: Boolean = false): DataFrame = {
    search(spark, encoded, cb, queries, k, overscan, Some(Ivf.probeMap(queries, centroids, nprobe)),
      dedup, residualCentroids = Some(centroids))
  }

  /** IVF×PQ with a DataFrame QUERY side — the corpus-vs-corpus shape
    * (100k+ query batches against an m-bytes-per-vector corpus) where a
    * driver-resident query array is the wrong contract. Same construction
    * as [[Quantize.searchIvfSq8DF]]: each query row computes its own
    * probe cells (centroids broadcast), both sides shuffle once on the
    * cell id, and a per-cell cogroup ADC-scans the cell's codes past
    * per-query lookup tables built inside the task — Q·nprobe/C LUTs per
    * cell, bounded by the probe fan-out, never the data. `residual`
    * selects IVFADC semantics (LUT from q − centroid of THIS cell).
    * Coarse survivors rescore at full precision like every PQ path.
    */
  def searchIvfPqDF(
      encoded: DataFrame, // encode[Residual](assign(...)): (id, cell, vector, pq_codes)
      centroids: Array[Array[Float]],
      cb: PqCodebooks,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nprobe: Int,
      overscan: Int = 8,
      residual: Boolean = false,
      coarse: String = "linear",
      rescore: Boolean = true): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcCent = spark.sparkContext.broadcast(centroids)

    val probes = Ivf.probeCells(queries, centroids, nprobe, "euclidean", coarse)
    val dataByCell = encoded
      .select(col("cell").cast("int"), col("id").cast("long"), col("pq_codes"))
      .as[(Int, Long, Array[Byte])]
      .groupByKey(_._1)

    val kk = if (rescore) k * overscan else k
    val coarseScan = dataByCell.cogroup(probes.groupByKey(_._1)) { case (cell, dIter, qIter) =>
      val qs = qIter.toArray
      if (qs.isEmpty) Iterator.empty
      else {
        val c = bcCb.value
        val ksub = c.ksub
        val luts = qs.map { case (_, _, qv) =>
          val q =
            if (residual) {
              val cv = bcCent.value(cell)
              Array.tabulate(qv.length)(i => qv(i).toDouble - cv(i))
            } else qv.map(_.toDouble)
          buildLut(q, c)
        }
        val heaps = Array.fill(qs.length)(new TopK(kk))
        dIter.foreach { case (_, id, codes) =>
          var qi = 0
          while (qi < qs.length) {
            val lut = luts(qi)
            var adc = 0.0
            var j = 0
            while (j < codes.length) {
              adc += lut(j * ksub + (codes(j) & 0xff))
              j += 1
            }
            heaps(qi).push(adc, id)
            qi += 1
          }
        }
        Knn.emitHeaps(heaps, qs(_)._2)
      }
    }.toDF("qid", "id", "approx")

    // dedupe BEFORE the coarse window (spilled ids; equal approx values,
    // survivor immaterial) — same contract as searchIvfSq8DF
    // spilled replicas: under a rescore the survivor is immaterial; the
    // ADC-only path REPORTS approx, so it keeps the deterministic MIN
    // per (qid, id) — same contract as the driver-array path
    val deduped =
      if (rescore) coarseScan.dropDuplicates("qid", "id")
      else coarseScan.groupBy("qid", "id").agg(min(col("approx")).as("approx"))
    val cand = Knn.topK(deduped, kk, "approx", "crank")
    if (!rescore)
      cand.select(col("qid"), col("id"), sqrt(col("approx")).as("dist"),
        col("crank").cast("int").as("rank"))
    else
      Quantize.rescoreTopK(cand.select("qid", "id"), encoded, queries, k, "euclidean",
        dedupVectors = true)
  }

  /** [[searchIvfPqDF]] over a persisted index: centroids, codebooks, the
    * residual flag, and dimension checks self-configure from the layout
    * with [[Ivf.loadWithMeta]]'s torn-save/completeness guards.
    */
  def searchSavedIvfPqDF(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      overscan: Int = 8,
      rotatedQueries: Boolean = false): DataFrame = {
    val (assigned, centroids, meta) = Ivf.loadWithMeta(spark, dir)
    require(meta.metric == "euclidean",
      s"saved index at $dir was trained with metric '${meta.metric}' — the PQ ADC path is euclidean-only")
    require(assigned.columns.contains("pq_codes"),
      s"saved assignment at $dir lacks pq_codes — save encode(assign(...)) to use this path")
    require(rotatedQueries || !Opq.savedRotation(spark, dir),
      s"index at $dir carries an OPQ rotation sidecar — search it via Opq.searchSavedDF " +
        "(raw-coordinate queries against rotated codes rank garbage)")
    val (cb, residual) = loadSaved(spark, dir)
    require(cb.m * cb.dsub == meta.dim,
      s"index at $dir is torn: codebooks cover ${cb.m * cb.dsub} dims, sidecar says ${meta.dim}")
    val checked = Ivf.checkQueryDim(queries, meta.dim)
    searchIvfPqDF(assigned, centroids, cb, checked, k, nprobe, overscan, residual = residual)
  }
}
