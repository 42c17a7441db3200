package graft.knn

import graft.core.Distances
import graft.functions.vec
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.reflect.ClassTag

/** Batch k-nearest-neighbor search: the Spark-native analog of the
  * reference's partitioned dataset search
  * (`/root/reference/storage/dataset.go:349-433`): each partition computes a
  * local top-k per query, the tiny candidate union (≤ k·P·Q rows) is merged
  * into a global top-k. No global sort of the data, no N×Q shuffle.
  *
  * Also the top-k toolkit every ANN tier shares: the merge window
  * ([[topK]]), the τ step of the two-pass exact scans ([[kthUpperBound]]),
  * the query fan-out onto data partitions ([[fanOut]]) and the bounded-heap
  * scan and emission ([[scanHeaps]], [[emitHeaps]]). The probe ranking and
  * the probed-cell mask live in [[Ivf]].
  */
object Knn {

  /** Guard for a caller-supplied materialized prefix/projection column:
    * the distance kernels truncate to the shorter array, so an element
    * length different from the declared coarse dimension would silently
    * compute coarse distances over the wrong number of dimensions.
    * `assert_true` keeps the column's type and fails loudly on the first
    * mismatched row instead (the when-isNull wrapper is the standard
    * pass-through idiom — assert_true returns null on success).
    */
  private[knn] def checkedCoarseCol(name: String, dim: Int, what: String): org.apache.spark.sql.Column =
    when(assert_true(size(col(name)) === dim,
      lit(s"$what column '$name' must have exactly $dim elements")).isNull,
      col(name))

  /** Exact brute-force kNN as a declarative plan: broadcast the (small) query
    * side, let Catalyst pick BroadcastNestedLoopJoin, rank per query with a
    * deterministic (dist, id) tie-break. This is the SQL-expressible oracle
    * formulation (reference oracle: `index/hnsw_test.go:21-75`).
    *
    * data: (id: long, vector: array<float>), queries: (qid: long, qvec: array<float>)
    */
  def bruteForce(data: DataFrame, queries: DataFrame, k: Int, metric: String = "euclidean"): DataFrame = {
    val d = data.crossJoin(broadcast(queries))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    topK(d, k)
  }

  /** Exact RADIUS search: every data vector within distance `r` of each
    * query — the range-query twin of top-k (dedup-by-radius, geofencing,
    * "everything closer than the duplicate threshold"). Same plan shape
    * as [[bruteForce]]: queries broadcast, the scan streams once, and the
    * radius predicate is a codegen'd filter ON the scan — no window, no
    * shuffle beyond the final ordering, and the filter's selectivity
    * (not k) bounds the output. At 100 TB the same query runs against an
    * IVF assignment by pre-filtering to cells whose centroid is within
    * r + cell radius; this is the exact reference arm.
    */
  def radius(data: DataFrame, queries: DataFrame, r: Double,
      metric: String = "euclidean"): DataFrame =
    data.crossJoin(broadcast(queries))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
      .filter(col("dist") <= r)

  /** HARD-NEGATIVE mining for contrastive embedding training: per anchor,
    * the k nearest vectors whose distance EXCEEDS `minDist` — close
    * enough to be informative negatives, far enough to exclude the
    * anchor itself and its near-duplicates (which are probable unlabeled
    * positives; mining them as negatives poisons the loss). The band
    * filter runs ON the distance scan before the top-k window, so the
    * ranking never sees excluded candidates — this is [[bruteForce]]
    * restricted to the annulus (minDist, ∞), with the same
    * per-partition `WindowGroupLimit` bounding what reaches the qid
    * exchange. At 100 TB the identical band composes with the ANN tiers
    * (e.g. [[Ivf.searchSavedFiltered]], or SQ8/PQ coarse scans with the
    * filter on the rescore) — this exact formulation is their oracle.
    */
  def hardNegatives(data: DataFrame, queries: DataFrame, k: Int, minDist: Double,
      metric: String = "cosine"): DataFrame = {
    val d = data.crossJoin(broadcast(queries))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
      .filter(col("dist") > minDist)
    topK(d, k)
  }

  /** Matryoshka (prefix-dimension) retrieval, Kusupati et al. 2022: a
    * coarse top-`coarseK` pass over only the FIRST `dPrefix` dimensions,
    * then an exact full-dimension rescore of the candidates. MRL-trained
    * embeddings front-load information into the prefix, so a d/4 prefix
    * keeps most of the ranking signal at a quarter of the flops — and,
    * unlike PCA/OPQ/PQ, needs NO training pass over the corpus (the
    * "projection" is coordinate truncation fixed at embedding-training
    * time).
    *
    * Scale shape: at 100 TB the prefix is MATERIALIZED as its own parquet
    * column offline (pass its name as `prefixCol`) and the coarse scan
    * column-prunes to it — reading dPrefix/d of the vector bytes; the
    * inline `slice` default is the self-contained form for data without
    * the sidecar column. Candidates (coarseK·Q rows) broadcast back onto
    * the full-vector scan for the rescore, so the corpus never shuffles
    * in either stage. Both stages rank with a total (dist, id) tie-break:
    * given the inputs the result is fully deterministic — a SQL oracle
    * replays it — and `coarseK` ≥ the corpus size IS exact search.
    */
  def matryoshka(data: DataFrame, queries: DataFrame, k: Int, dPrefix: Int,
      coarseK: Int, metric: String = "euclidean",
      prefixCol: Option[String] = None): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val dPre = prefixCol.map(checkedCoarseCol(_, dPrefix, "prefix"))
      .getOrElse(slice(col("vector"), 1, dPrefix))
    val qPre = slice(col("qvec"), 1, dPrefix)
    val coarse = data.select(col("id"), dPre.as("vp"))
      .crossJoin(broadcast(queries.select(col("qid"), qPre.as("qp"))))
      .select(col("qid"), col("id"), vec.dist(col("vp"), col("qp"), metric).as("cdist"))
    val cand = topK(coarse, coarseK, "cdist", "r").select("qid", "id")
    val rescored = data.join(broadcast(cand), Seq("id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    topK(rescored, k)
  }

  /** [[matryoshka]] composed with IVF cell pruning — the 100 TB serving
    * form: probe `nprobe`/C of the cells AND read only `dPrefix`/d of the
    * vector bytes inside them (both pruning levers at once, the way the
    * SQ8/PQ/binary tiers already compose with IVF), then an exact
    * full-dimension rescore of the coarse survivors.
    *
    * Same plan shape as [[Ivf.search]]: probe pairs computed on the
    * driver (Q·nprobe rows, broadcast), the assigned corpus never
    * shuffles in either stage (probes and candidates broadcast onto it),
    * the coarse window is WindowGroupLimit-bounded, and a materialized
    * `prefixCol` lets the coarse scan column-prune to dPrefix/d of the
    * bytes. `nprobe >= C` with `coarseK >=` the corpus size degenerates
    * to exact brute force — the self-verifiable exactness arm. `dedup`
    * mirrors [[Ivf.search]]: set it for spilled assignments so a
    * multi-cell id cannot consume several coarse or final rank slots.
    */
  def matryoshkaIvf(
      spark: SparkSession,
      assigned: DataFrame, // output of Ivf.assign(): (id, cell, vector)
      centroids: Array[Array[Float]],
      queries: Array[(Long, Array[Float])],
      k: Int, nprobe: Int, dPrefix: Int, coarseK: Int,
      metric: String = "euclidean",
      prefixCol: Option[String] = None,
      dedup: Boolean = false): DataFrame = {
    import spark.implicits._
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val probes = Ivf.probePairs(spark, queries, centroids, nprobe, metric)
    val queriesPre = queries.map { case (qid, qv) => (qid, qv.take(dPrefix)) }
      .toSeq.toDF("qid", "qp")
    val dPre = prefixCol.map(checkedCoarseCol(_, dPrefix, "prefix"))
      .getOrElse(slice(col("vector"), 1, dPrefix))
    val coarseRaw = assigned
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(queriesPre), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(dPre, col("qp"), metric).as("cdist"))
    val coarse = if (dedup) coarseRaw.dropDuplicates("qid", "id") else coarseRaw
    val cand = topK(coarse, coarseK, "cdist", "r").select("qid", "id")
    val queriesDf = queries.toSeq.toDF("qid", "qvec")
    val rescoredRaw = assigned.join(broadcast(cand), Seq("id"))
      .join(broadcast(queriesDf), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    val rescored = if (dedup) rescoredRaw.dropDuplicates("qid", "id") else rescoredRaw
    topK(rescored, k)
  }

  /** [[matryoshkaIvf]] with a DataFrame query side — the corpus-vs-corpus
    * shape with both pruning levers and NOTHING driver-resident: each
    * query row computes its own probe cells ([[Ivf.probeCells]] —
    * centroids broadcast, optional HNSW coarse quantizer), both sides
    * shuffle once on the small-cardinality cell id, and a per-cell
    * cogroup streams the cell's PREFIX vectors (dPrefix/d of the bytes
    * with a materialized `prefixCol`) past bounded per-query coarse
    * heaps. Survivors rescore at full dimension through candidate-keyed
    * joins (coarseK·Q rows — bounded by the serving knobs, never the
    * corpus). Row-for-row equal to [[matryoshkaIvf]] given the same
    * knobs (same kernels, same (dist, id) tie-break).
    */
  def matryoshkaIvfDF(
      assigned: DataFrame, // output of Ivf.assign(): (id, cell, vector)
      centroids: Array[Array[Float]],
      queries: DataFrame, // (qid, qvec)
      k: Int, nprobe: Int, dPrefix: Int, coarseK: Int,
      metric: String = "euclidean",
      prefixCol: Option[String] = None,
      dedup: Boolean = false,
      coarse: String = "linear"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val m = Distances.metricId(metric)
    val probes = Ivf.probeCells(queries, centroids, nprobe, metric, coarse)
      .map { case (cell, qid, qv) => (cell, qid, qv.take(dPrefix)) }
    val dPre = prefixCol.map(checkedCoarseCol(_, dPrefix, "prefix"))
      .getOrElse(slice(col("vector"), 1, dPrefix))
    val dataByCell = assigned
      .select(col("cell").cast("int"), col("id").cast("long"), dPre.cast("array<float>").as("vp"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
    val coarseCands = dataByCell.cogroup(probes.groupByKey(_._1)) { case (_, dIter, qIter) =>
      val qs = qIter.map { case (_, qid, qv) => (qid, qv) }.toArray
      if (qs.isEmpty) Iterator.empty
      else scanHeaps(qs, dIter.map { case (_, id, v) => (id, v) }, coarseK, Distances.distance(m) _)
    }.toDF("qid", "id", "cdist")
    val cdeduped = if (dedup) coarseCands.dropDuplicates("qid", "id") else coarseCands
    val cand = topK(cdeduped, coarseK, "cdist", "r").select("qid", "id")
    val rescoredRaw = assigned
      .select(col("id").cast("long"), col("vector").cast("array<float>"))
      .join(cand, Seq("id"))
      .join(queries.select(col("qid").cast("long"), col("qvec")), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    val rescored = if (dedup) rescoredRaw.dropDuplicates("qid", "id") else rescoredRaw
    topK(rescored, k)
  }

  /** [[matryoshka]] with a DataFrame query side — the standalone
    * (train-free, no IVF assignment) tier at corpus-vs-corpus query
    * cardinality, with NOTHING driver-resident and NO crossJoin: the
    * coarse pass is [[partitionedDF]] over the prefix column (the query
    * table replicated through one shuffle onto the un-moved prefix scan,
    * per-query bounded heaps via `TopK.scanBlocked`; with a materialized
    * `prefixCol` the scan column-prunes to dPrefix/d of the vector
    * bytes), and the survivors rescore at full dimension through
    * candidate-keyed joins (coarseK·Q rows — bounded by the serving
    * knobs, never the corpus). Row-for-row equal to [[matryoshka]] given
    * the same knobs: same distance kernels, same total (cdist, id) /
    * (dist, id) tie-breaks at both stages.
    */
  def matryoshkaDF(data: DataFrame, queries: DataFrame, k: Int, dPrefix: Int,
      coarseK: Int, metric: String = "euclidean",
      prefixCol: Option[String] = None,
      queryBlock: Int = 1 << 16): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val dPre = prefixCol.map(checkedCoarseCol(_, dPrefix, "prefix"))
      .getOrElse(slice(col("vector"), 1, dPrefix))
    val dataPre = data.select(col("id"), dPre.as("vector"))
    val qPre = queries.select(col("qid"), slice(col("qvec"), 1, dPrefix).as("qvec"))
    val cand = partitionedDF(dataPre, qPre, coarseK, metric, queryBlock)
      .select("qid", "id")
    val rescored = data
      .select(col("id").cast("long"), col("vector").cast("array<float>"))
      .join(cand, Seq("id"))
      .join(queries.select(col("qid").cast("long"), col("qvec")), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    topK(rescored, k)
  }

  /** Exact kNN via per-partition bounded heaps: ONE pass over the data
    * computes all query heaps per partition ([[scanner]]), emitting only
    * k candidates per (partition, query). The global merge ([[topK]]) ranks
    * the k·P·Q candidate rows — equivalent to `storage/dataset.go:349`'s
    * sort-and-truncate over per-partition results. Hash-matches
    * [[bruteForce]] by construction (same distance kernel, same tie-break).
    */
  def partitioned(
      spark: SparkSession,
      data: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int,
      metric: String = "euclidean"): DataFrame = {
    import spark.implicits._
    val candidates = data
      .select(col("id").cast("long"), col("vector").cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(scanner(spark, queries, k, metric))
      .toDF("qid", "id", "dist")
    topK(candidates, k)
  }

  /** The scan [[partitioned]] runs on each partition: one bounded heap per
    * broadcast query over the partition's (id, vector) rows, emitted as
    * (qid, id, dist). Exact double element-ordered kernel (hash-matches the
    * oracle formulation); the blocked scan keeps the query set out of the
    * per-row cache path (TopK.scanBlocked) without touching results.
    */
  private[graft] def scanner(
      spark: SparkSession,
      queries: Array[(Long, Array[Float])],
      k: Int,
      metric: String): Iterator[(Long, Array[Float])] => Iterator[(Long, Long, Double)] = {
    val m = Distances.metricId(metric)
    val bc = spark.sparkContext.broadcast(queries)
    rows => scanHeaps(bc.value, rows, k, Distances.distance(m) _)
  }

  /** The exact heap scan: one bounded heap per query `(qid, qvec)` over
    * the `(id, vector)` rows, block-major ([[TopK.scanBlocked]]), emitted
    * as (qid, id, dist). Scans whose rows are not float vectors (SQ
    * τ-passes, Hamming, PQ ADC, PCA bounds) keep their own inner loop —
    * a per-(row, query) closure there would box on the hot path — and
    * share only [[emitHeaps]]; so does the `KnnCandidatesExec` operator,
    * whose row-major loop over Catalyst rows measured faster than this
    * block-major scan (200k 64-dim rows, 64 queries, 4 cores).
    */
  private[graft] def scanHeaps(qs: Array[(Long, Array[Float])], rows: Iterator[(Long, Array[Float])],
      k: Int, kernel: (Array[Float], Array[Float]) => Double): Iterator[(Long, Long, Double)] = {
    val heaps = Array.fill(qs.length)(new TopK(k))
    TopK.scanBlocked(rows, qs.map(_._2), heaps, kernel)
    emitHeaps(heaps, qs(_)._1)
  }

  /** [[scanHeaps]] over IVF rows (id, cell, vector), returning the heaps
    * themselves: query `qvecs(qi)` scans only the cells `masks(qi)` probes
    * ([[Ivf.probeMasks]]); with `distinct` a spilled id takes one slot per
    * heap.
    */
  private[graft] def scanHeaps(qvecs: Array[Array[Float]], masks: Array[Array[Boolean]],
      rows: Iterator[(Long, Int, Array[Float])], k: Int,
      kernel: (Array[Float], Array[Float]) => Double, distinct: Boolean): Array[TopK] = {
    val heaps = Array.fill(qvecs.length)(new TopK(k))
    TopK.scanBlocked(rows, qvecs, heaps, kernel, masks, distinct)
    heaps
  }

  /** The local half of the reference's search over `rows`, in ONE Spark
    * job: every partition fills one heap per query with `scan`, and the
    * driver folds each partition's heaps into its own as that task
    * finishes ([[TopK.mergeFrom]], with `distinct` an id once per query).
    * The driver so holds at most k candidates per query, plus the heaps
    * of the partitions whose results have arrived but are not folded yet
    * (at most k per query each).
    */
  private[graft] def foldHeaps[T](rows: RDD[T], nq: Int, k: Int, distinct: Boolean)(
      scan: Iterator[T] => Array[TopK]): Array[TopK] = {
    val heaps = Array.fill(nq)(new TopK(k))
    rows.sparkContext.runJob(rows, scan, (_: Int, part: Array[TopK]) =>
      heaps.indices.foreach(qi => heaps(qi).mergeFrom(part(qi), distinct)))
    heaps
  }

  /** Every heap's contents in ascending (dist, id) order as
    * (qid, id, dist), where `qid(qi)` names heap `qi`'s query.
    */
  private[graft] def emitHeaps(heaps: Array[TopK], qid: Int => Long): Iterator[(Long, Long, Double)] =
    heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
      h.sorted.iterator.map { case (dist, id) => (qid(qi), id, dist) }
    }

  /** The merge window every tier shares: per query the k candidates
    * smallest by (`by`, id), numbered 1..k in the `rank` column. Final
    * merges rank `dist` into `rank`; coarse stages pass their own distance
    * and rank column names. The `row_number() <= k` shape is what
    * [[graft.plans.KnnRewrite]] matches and what the planner bounds with a
    * per-partition `WindowGroupLimit` before the qid exchange.
    */
  private[graft] def topK(candidates: DataFrame, k: Int, by: String = "dist",
      rank: String = "rank"): DataFrame =
    ranked(candidates, by, rank).filter(col(rank) <= k)

  /** The driver k-merge: per query, the `k` candidates smallest by
    * (dist, id), numbered 1..k in `rank` — [[topK]]'s cut, run on
    * (qid, id, dist) rows already on the driver. This is the global half
    * of the reference's local-then-global search: each partition keeps
    * its local top-k, and their union is sorted and truncated
    * (`storage/dataset.go:349-433`). With `distinct` a query keeps each id
    * once, at its smallest distance, whichever partitions sent it.
    *
    * Returns a local relation with [[topK]]'s columns and types: qid,
    * id (typed and nullable as `id`, an integral field), dist and rank,
    * in qid then rank order. Reading it starts no Spark job.
    */
  private[graft] def mergeLocal(
      spark: SparkSession,
      candidates: Array[(Long, Long, Double)],
      k: Int,
      distinct: Boolean = false,
      id: StructField = StructField("id", LongType, nullable = false)): DataFrame = {
    val typed = idOf(id)
    def before(a: (Long, Long, Double), b: (Long, Long, Double)): Boolean = {
      val c = TopK.compare(a._3, b._3)
      c < 0 || (c == 0 && a._2 < b._2)
    }
    val rows = candidates.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, cs) =>
      val ranked = cs.sortWith(before).iterator
      (if (distinct) ranked.distinctBy(_._2) else ranked).take(k).zipWithIndex.map {
        case ((_, i, d), r) => Row(qid, typed(i), d, r + 1)
      }
    }
    val schema = StructType(Seq(StructField("qid", LongType, nullable = false), id.copy(name = "id"),
      StructField("dist", DoubleType), StructField("rank", IntegerType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** A long id back in the type of the integral `id` field a search
    * scanned as long; refuses any other type before the scan, which would
    * cast a string id to null and truncate a fractional one.
    */
  private[graft] def idOf(id: StructField): Long => Any = id.dataType match {
    case LongType => identity
    case IntegerType => _.toInt
    case ShortType => _.toShort
    case ByteType => _.toByte
    case other => throw new IllegalArgumentException(s"kNN ids must be integral, got $other")
  }

  /** Array queries must carry distinct qids: a repeated qid would merge
    * two queries' candidates under one answer.
    */
  private[graft] def requireDistinctQids(queries: Array[(Long, Array[Float])]): Unit = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    queries.foreach { case (qid, _) => require(seen.add(qid), s"duplicate query id $qid") }
  }

  /** [[topK]]'s window without the cut: every candidate numbered per query
    * in (`by`, id) order.
    */
  private[graft] def ranked(candidates: DataFrame, by: String = "dist",
      rank: String = "rank"): DataFrame =
    candidates.withColumn(rank, row_number().over(Window.partitionBy("qid").orderBy(col(by), col("id"))))

  /** The τ step of the two-pass exact scans ([[Quantize.searchExact]],
    * [[Pca.searchExact]]): per query, the k-th smallest of the (qid, ub)
    * upper bounds that pass 1's per-partition heaps emitted. One row per
    * query reaches the driver.
    */
  private[knn] def kthUpperBound(ub: DataFrame, k: Int): Map[Long, Double] = {
    val w = Window.partitionBy("qid").orderBy("ub")
    ub.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .groupBy("qid").agg(max("ub").as("tau"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** The query fan-out: every partition of `data` zipped with the whole
    * query table, which is replicated once per data partition through one
    * pid-keyed shuffle. The data side never moves. A data side with no
    * partitions (an empty local table) yields an empty result.
    */
  private[graft] def fanOut[T: ClassTag, U: ClassTag](data: RDD[T], queries: DataFrame)(
      f: (Iterator[T], Iterator[(Long, Array[Float])]) => Iterator[U]): RDD[U] = {
    val p = data.getNumPartitions
    if (p == 0) return data.sparkContext.emptyRDD[U]
    val spark = queries.sparkSession
    import spark.implicits._
    val qRep = queries
      .select(col("qid").cast("long"), col("qvec").cast("array<float>"))
      .as[(Long, Array[Float])].rdd
      .flatMap(q => Iterator.range(0, p).map(pid => (pid, q)))
      .partitionBy(new HashPartitioner(p))
      .values
    data.zipPartitions(qRep)(f)
  }

  /** Exact kNN with a DataFrame query side — no driver-resident query array
    * anywhere. The query table (the small side) is replicated to every data
    * partition through one shuffle ([[fanOut]]), the data (the big side)
    * never moves, and each task emits only k candidates per query. At
    * 100 TB this is the right BNL orientation: network cost is Q·P query
    * rows, not data·chunks.
    *
    * The query batch is processed in fixed-size BLOCKS (`queryBlock` rows),
    * so task memory is bounded by max(one data partition, one query block
    * of heaps) — a 10M-query batch streams through block by block instead
    * of materializing 10M heaps at once. A batch that fits one block keeps
    * the original single-pass shape: the data partition is streamed, never
    * materialized. Multi-block batches materialize the data partition once
    * (its size is the task-memory contract everything else in Spark
    * already relies on) and re-scan it per block — compute cost is
    * identical (Q·N kernel calls), memory is what changes. For query sides
    * too large even for block replication economics, use the IVF cogroup
    * path, which replicates nothing.
    *
    * data: (id, vector), queries: (qid, qvec). Hash-matches [[bruteForce]]
    * at any block size (per-query heaps are independent of blocking).
    */
  def partitionedDF(
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String = "euclidean",
      queryBlock: Int = 1 << 16): DataFrame =
    topK(candidatesDF(data, queries, k, metric, queryBlock), k)

  /** The per-partition half of [[partitionedDF]]: (qid, id, dist) rows, at
    * most k per (partition, query) — a complete candidate set for any
    * k-merge with other candidate sources.
    */
  private[graft] def candidatesDF(
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String,
      queryBlock: Int = 1 << 16): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val m = Distances.metricId(metric)
    require(queryBlock > 0, "queryBlock must be positive")

    val dataRdd = data
      .select(col("id").cast("long"), col("vector").cast("array<float>"))
      .as[(Long, Array[Float])].rdd

    fanOut(dataRdd, queries) { (dIter, qIter) =>
      val kernel = Distances.distance(m) _
      // one grouped() pass owns qIter end to end — Iterator.take's contract
      // says the source must be discarded after use, so peeking the first
      // block via take-then-reuse is unspecified behavior
      val blocks = qIter.grouped(queryBlock).map(_.toArray)
      if (!blocks.hasNext) Iterator.empty
      else {
        val first = blocks.next()
        // hasNext buffers at most one more query block — same memory bound
        if (!blocks.hasNext) scanHeaps(first, dIter, k, kernel) // single block: stream the data
        else {
          val items = dIter.toArray // multi-block: one partition-sized buffer, re-scanned per block
          (Iterator.single(first) ++ blocks).flatMap(qs => scanHeaps(qs, items.iterator, k, kernel))
        }
      }
    }.toDF("qid", "id", "dist")
  }
}
