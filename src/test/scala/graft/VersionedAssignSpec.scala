package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.VectorOp
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files

/** The maintained-IVF writers assign each op with its version carried
  * through. For one batch holding the corner cases (re-upserts of one id
  * at distinct versions, a remove, a NaN component, `-0.0` and `0.0`
  * versions of one id), the delta rows and every as-of view must equal a
  * model that assigns each op on its own row with the public
  * [[graft.knn.Ivf.assign]].
  */
class VersionedAssignSpec extends SparkTestBase {
  import spark.implicits._

  private val centroids = Array(
    Array(0f, 0f, 0f, 0f), Array(4f, 0f, 0f, 0f), Array(0f, 4f, 0f, 0f), Array(0f, 0f, 4f, 4f))

  private val batch: Seq[VectorOp] =
    (10L until 30L).map { i =>
      VectorOp(i, "upsert", centroids((i % 4).toInt).map(_ + i * 0.01f), 1)
    } ++
      Seq(
        VectorOp(1L, "upsert", Array(0.5f, 0f, 0f, 0f), 2),
        VectorOp(1L, "upsert", Array(3.9f, 0.1f, 0f, 0f), 3),
        VectorOp(1L, "upsert", Array(0f, 3.5f, 0.2f, 0f), 5),
        VectorOp(2L, "upsert", Array(1f, 1f, 3f, 3f), 2),
        VectorOp(2L, "remove", Array.empty, 4),
        VectorOp(3L, "upsert", Array(1f, Float.NaN, 0f, 0f), 3),
        VectorOp(4L, "upsert", Array(-0.0f, 2f, -0.0f, 0f), 2),
        VectorOp(4L, "upsert", Array(0.0f, 2f, 0.0f, 0f), 6))

  /** A delta row; `vector` as float bits (NaN-equal, `-0.0` ≠ `0.0`). */
  private case class D(id: Long, cell: Int, vector: Seq[Int], version: Long, op: String,
      codes: Seq[Byte])

  private def bits(v: scala.collection.Seq[Float]): Seq[Int] =
    Option(v).map(_.map(java.lang.Float.floatToIntBits).toSeq).orNull

  private def vectorBits(r: Row): Seq[Int] = bits(r.getAs[scala.collection.Seq[Float]]("vector"))

  /** The delta rows a writer must produce for `ops`: every upsert assigned
    * on its own row by [[graft.knn.Ivf.assign]] (then `encode`d), every
    * remove a cell-less tombstone.
    */
  private def model(ops: Seq[VectorOp], cs: Array[Array[Float]], spill: Int,
      encode: DataFrame => DataFrame = identity): Set[D] = {
    val ups = ops.filter(_.op == "upsert").toIndexedSeq
    val assigned = encode(graft.knn.Ivf.assign(spark,
      ups.zipWithIndex.map { case (o, i) => (i.toLong, o.vector) }.toDF("id", "vector"), cs,
      spill = spill))
    val hasCodes = assigned.columns.contains("pq_codes")
    assigned.collect().map { r =>
      val o = ups(r.getAs[Long]("id").toInt)
      D(o.id, r.getAs[Int]("cell"), vectorBits(r), o.version, "upsert",
        if (hasCodes) r.getAs[Array[Byte]]("pq_codes").toSeq else null)
    }.toSet ++ ops.filter(_.op == "remove").map(o => D(o.id, -1, null, o.version, "remove", null))
  }

  private def deltaRows(dir: String): Set[D] = {
    val df = spark.read.parquet(s"$dir/delta")
    val hasCodes = df.columns.contains("pq_codes")
    df.collect().map { r: Row =>
      D(r.getAs[Long]("id"), r.getAs[Int]("cell"), vectorBits(r),
        r.getAs[Long]("version"), r.getAs[String]("op"),
        if (hasCodes) Option(r.getAs[Array[Byte]]("pq_codes")).map(_.toSeq).orNull else null)
    }.toSet
  }

  /** Latest-wins over `rows` at version <= v, a remove winning a tie. */
  private def stateAsOf(rows: Set[D], v: Long): Set[(Long, Int, Seq[Int])] =
    rows.filter(_.version <= v).groupBy(_.id).values.flatMap { rs =>
      val win = rs.filter(_.version == rs.map(_.version).max)
      if (win.exists(_.op == "remove")) Nil else win.map(r => (r.id, r.cell, r.vector))
    }.toSet

  /** Each id's winning op within the batch (highest version). */
  private def winners(ops: Seq[VectorOp]): Seq[VectorOp] =
    ops.groupBy(_.id).values.map(_.maxBy(_.version)).toSeq

  private def assertMatches(dir: String, expected: Set[D]): Unit = {
    assert(deltaRows(dir) === expected)
    for (v <- 0L to batch.map(_.version).max) withClue(s"as of $v: ") {
      val view = StreamingOps.ivfMaintainedStateAsOf(spark, dir, v)
        .select("id", "cell", "vector").as[(Long, Int, Seq[Float])].collect()
        .map { case (id, cell, vec) => (id, cell, bits(vec)) }
      assert(view.length === view.toSet.size)
      assert(view.toSet === stateAsOf(expected, v))
    }
  }

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  test("the raw sink at spill 2 writes every op's own assignment and version") {
    val dir = tmp("versioned_raw")
    StreamingOps.ivfMaintenanceSink(spark, dir, centroids, spill = 2)(batch.toDS(), 0L)
    assertMatches(dir, model(batch, centroids, spill = 2))
  }

  test("the PQ sink writes each id's batch winner with its own assignment, codes and version") {
    val dir = tmp("versioned_pq")
    val cb = graft.knn.Pq.PqCodebooks(2, 2,
      Array.fill(2)(Array(Array(0f, 0f), Array(1f, 1f), Array(4f, 4f))))
    StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb, storeVectors = true)(
      batch.toDS(), 0L)
    assertMatches(dir, model(winners(batch), centroids, spill = 1,
      encode = graft.knn.Pq.encodeResidual(_, centroids, cb)))
  }

  test("a retrain re-assigns each live winner with its version and keeps the tombstone") {
    val dir = tmp("versioned_retrain") + "/idx"
    StreamingOps.ivfMaintenanceSink(spark, dir, centroids, spill = 2)(batch.toDS(), 0L)
    val retrained = StreamingOps.retrainIvfMaintained(spark, dir, iterations = 1)
    assertMatches(dir, model(winners(batch), retrained, spill = 2))
  }
}
