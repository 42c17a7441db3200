package graft.knn

import graft.functions.{vec, PcaProject}
import graft.internal.SqlBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random-projection retrieval tier: a coarse
  * top-`coarseK` pass over a `dProj`-dimensional sign projection of the
  * vectors, then an exact full-dimension rescore of the candidates.
  *
  * Why it earns a place next to PCA/OPQ/PQ at 100 TB: the projection is
  * DATA-INDEPENDENT. PCA and OPQ buy their fidelity with a full statistics
  * pass over the corpus (plus a model artifact to version, retrain on
  * drift, and keep consistent across a streaming-maintained index); the JL
  * matrix is a pure function of (dProj, d, a hash) — zero passes, zero
  * state, identical on every executor and every engine, valid for vectors
  * that haven't arrived yet. The price is JL's distortion bound
  * (ε ≈ √(8·ln n / dProj) for n points, Achlioptas 2001 for the ±1 form)
  * instead of PCA's spectrum-optimal one — which the exact rescore then
  * erases at ranking level for everything the coarse pass retrieves.
  *
  * Matrix entries are ±1/√dProj with the sign drawn from the md5 of
  * "j_e" (the same hash-to-sign convention as the feature-hash embedder),
  * so any engine — including the DuckDB oracle — reconstructs the matrix
  * bit-for-bit. The projection reuses the [[graft.functions.PcaProject]]
  * codegen kernel with a zero mean: e-ordered double accumulation, float
  * output.
  *
  * Scale shape: one narrow projection map over the corpus (no shuffle; at
  * rest, materialize `projectCol` as its own parquet column and the
  * coarse scan column-prunes to dProj floats/row), queries broadcast,
  * candidates (coarseK·Q rows) broadcast back onto the full-vector scan —
  * the corpus never shuffles in either stage. Both stages use the total
  * (dist, id) tie-break, so given the inputs the result is fully
  * deterministic and `coarseK` ≥ corpus size IS exact search.
  */
object RandomProjection {

  /** ±1/√dProj sign matrix, deterministic in (j, e): sign from bit 5 of
    * the first 15 md5 hex chars of "j_e" — replayable as
    * `(('0x' || substr(md5(j || '_' || e), 1, 15))::BIGINT >> 5) & 1` in
    * any SQL engine with md5.
    */
  def signMatrix(dProj: Int, d: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val scale = 1.0 / math.sqrt(dProj.toDouble)
    Array.tabulate(dProj, d) { (j, e) =>
      md.reset()
      val hex = md.digest(s"${j}_${e}".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      val hv = java.lang.Long.parseLong(hex, 16)
      (if (((hv >> 5) & 1L) == 0L) scale else -scale)
    }
  }

  /** The projection y = R·v as a codegen'd column (array<float>, dProj). */
  def projectCol(dProj: Int, d: Int, v: Column): Column =
    SqlBridge.column(PcaProject(SqlBridge.expression(v),
      new Array[Double](d), signMatrix(dProj, d)))

  /** Coarse-then-rescore search. data: (id, vector), queries: (qid, qvec),
    * both `array<float>` of dim `d`. `projCol`: the name of an offline-
    * materialized projection column on `data` to column-prune to, else the
    * projection is computed inline.
    */
  def search(data: DataFrame, queries: DataFrame, k: Int, d: Int, dProj: Int,
      coarseK: Int, metric: String = "euclidean",
      projCol: Option[String] = None): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val dataP = data.select(col("id"),
      projCol.map(Knn.checkedCoarseCol(_, dProj, "projection"))
        .getOrElse(projectCol(dProj, d, col("vector"))).as("vp"))
    val qP = queries.select(col("qid"), projectCol(dProj, d, col("qvec")).as("qp"))
    val coarse = dataP.crossJoin(broadcast(qP))
      .select(col("qid"), col("id"), vec.dist(col("vp"), col("qp"), metric).as("cdist"))
    val cand = Knn.topK(coarse, coarseK, "cdist", "r").select("qid", "id")
    val rescored = data.join(broadcast(cand), Seq("id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    Knn.topK(rescored, k)
  }

  /** [[search]] with a DataFrame query side — the JL tier at
    * corpus-vs-corpus query cardinality, with NOTHING driver-resident and
    * NO crossJoin: the coarse pass is [[Knn.partitionedDF]] over the
    * dProj-dimensional projection (query table replicated through one
    * shuffle onto the un-moved projection scan, per-query bounded heaps;
    * with a materialized `projCol` the scan column-prunes to dProj
    * floats/row), and the survivors rescore at full dimension through
    * candidate-keyed joins (coarseK·Q rows — bounded by the serving
    * knobs, never the corpus). Row-for-row equal to [[search]] given the
    * same knobs: same projection kernel, same distance kernels, same
    * total tie-breaks at both stages.
    */
  def searchDF(data: DataFrame, queries: DataFrame, k: Int, d: Int, dProj: Int,
      coarseK: Int, metric: String = "euclidean",
      projCol: Option[String] = None,
      queryBlock: Int = 1 << 16): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val dataP = data.select(col("id"),
      projCol.map(Knn.checkedCoarseCol(_, dProj, "projection"))
        .getOrElse(projectCol(dProj, d, col("vector"))).as("vector"))
    val qP = queries.select(col("qid"), projectCol(dProj, d, col("qvec")).as("qvec"))
    val cand = Knn.partitionedDF(dataP, qP, coarseK, metric, queryBlock)
      .select("qid", "id")
    val rescored = data
      .select(col("id").cast("long"), col("vector").cast("array<float>"))
      .join(cand, Seq("id"))
      .join(queries.select(col("qid").cast("long"), col("qvec")), Seq("qid"))
      .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), metric).as("dist"))
    Knn.topK(rescored, k)
  }
}
