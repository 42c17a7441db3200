package graft

import graft.core.Distances
import graft.hnsw.HnswSpark
import graft.knn.{Ivf, TopK}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.VectorOp

import java.nio.file.Files

/** The array-query IVF search ([[Ivf.search]], which the saved and
  * maintained IVF searches call) and the maintained HNSW search: the
  * arguments they refuse rather than answer plausibly, the Spark jobs one
  * call starts, and the maintained HNSW k-merge against a driver fold.
  */
class SearchWorkSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(5)
  private val vecs = (0L until 120L).map(i => (i, Array.fill(4)(rnd.nextInt(3).toFloat)))
  private val centroids = vecs.map(_._2).distinctBy(_.toSeq).take(4).toArray
  private val queries = vecs.slice(10, 14).toArray
  private val repeated = Array(7L -> vecs(1)._2, 7L -> vecs(2)._2)

  private def upserts(rows: Seq[(Long, Array[Float])], version: Long) =
    rows.map { case (i, v) => VectorOp(i, "upsert", v, version) }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted

  private lazy val assigned = Ivf.assign(spark, vecs.toDF("id", "vector"), centroids)

  private lazy val savedDir = {
    val dir = Files.createTempDirectory("search_work_saved").toString + "/idx"
    Ivf.save(spark, assigned, centroids, dir, metric = "euclidean")
    dir
  }

  /** Two committed batches: every id, then a re-upsert wave and removes. */
  private lazy val ivfDir = {
    val dir = Files.createTempDirectory("search_work_ivf").toString
    val sink = StreamingOps.ivfMaintenanceSink(spark, dir, centroids)
    sink(upserts(vecs, 1L).toDS(), 0L)
    sink((upserts(vecs.take(10).map { case (i, v) => (i, v.reverse) }, 2L) :+
      VectorOp(50L, "remove", Array.empty, 2L)).toDS(), 1L)
    dir
  }

  /** A compacted base of every id, then an uncompacted delta wave:
    * re-upserts, fresh ids and a remove, so a search merges both halves.
    */
  private lazy val hnswDir = {
    val dir = Files.createTempDirectory("search_work_hnsw").toString
    val sink = StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2)
    sink(upserts(vecs, 1L).toDS(), 0L)
    StreamingOps.compactHnswMaintained(spark, dir)
    sink((upserts(vecs.slice(10, 20).map { case (i, v) => (i, v.reverse) }, 2L) ++
      upserts((500L until 505L).map(i => (i, vecs(i.toInt - 490)._2)), 1L) :+
      VectorOp(30L, "remove", Array.empty, 2L)).toDS(), 1L)
    dir
  }

  private def refused(call: => Any, message: String): Unit = {
    val e = intercept[IllegalArgumentException](call)
    assert(e.getMessage.contains(message), e.getMessage)
  }

  test("k or nprobe below 1 is refused with the value, not answered empty") {
    refused(Ivf.search(spark, assigned, centroids, queries, k = 0, nprobe = 2), "k must be positive, got 0")
    refused(Ivf.search(spark, assigned, centroids, queries, k = 3, nprobe = 0), "nprobe must be positive, got 0")
    refused(Ivf.searchSaved(spark, savedDir, queries, k = 3, nprobe = -1), "nprobe must be positive, got -1")
    refused(StreamingOps.searchIvfMaintained(spark, ivfDir, queries, k = -2, nprobe = 2),
      "k must be positive, got -2")
    refused(StreamingOps.searchIvfMaintained(spark, ivfDir, queries, k = 3, nprobe = 0),
      "nprobe must be positive, got 0")
    refused(StreamingOps.searchHnswMaintained(spark, hnswDir, queries, k = 0), "k must be positive, got 0")
  }

  test("a repeated qid is refused, not answered with two queries' candidates merged") {
    refused(Ivf.search(spark, assigned, centroids, repeated, k = 3, nprobe = 2), "duplicate query id 7")
    refused(Ivf.searchSaved(spark, savedDir, repeated, k = 3, nprobe = 2), "duplicate query id 7")
    refused(Ivf.searchSavedFiltered(spark, savedDir, repeated, k = 3, nprobe = 2,
      predicate = org.apache.spark.sql.functions.lit(true)), "duplicate query id 7")
    refused(StreamingOps.searchIvfMaintained(spark, ivfDir, repeated, k = 3, nprobe = 2),
      "duplicate query id 7")
    refused(StreamingOps.searchHnswMaintained(spark, hnswDir, repeated, k = 3), "duplicate query id 7")
  }

  test("an IVF search is one job over an unshuffled table, and its answer is a local relation") {
    var res: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { res = Ivf.search(spark, assigned, centroids, queries, k = 5, nprobe = 2) } === 1)
    assert(jobsOf(res.collect()) === 0)
    assert(res.schema.map(f => (f.name, f.dataType.simpleString)) ===
      Seq("qid" -> "bigint", "id" -> "bigint", "dist" -> "double", "rank" -> "int"))
    // an int id column keeps its type
    val intIds = assigned.withColumn("id", org.apache.spark.sql.functions.col("id").cast("int"))
    val typed = Ivf.search(spark, intIds, centroids, queries, k = 5, nprobe = 2)
    assert(typed.schema("id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(typed.collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2), r.getInt(3))).toSeq.sorted ===
      rows(res))
  }

  test("a non-integral id column is refused before the scan, not cast to null or truncated") {
    Seq("string", "double").foreach { t =>
      val cast = assigned.withColumn("id", org.apache.spark.sql.functions.col("id").cast(t))
      var e: IllegalArgumentException = null
      assert(jobsOf { e = intercept[IllegalArgumentException](
        Ivf.search(spark, cast, centroids, queries, k = 3, nprobe = 2)) } === 0, t)
      assert(e.getMessage.contains("kNN ids must be integral"), e.getMessage)
    }
  }

  test("a zero vector under cosine (NaN distance) first in its partition ranks last, as the window ranks it") {
    val nonzero = vecs.filter(_._2.exists(_ != 0f))
    val cells = nonzero.map(_._2).distinctBy(_.toSeq).take(3).toArray
    val qs = nonzero.slice(20, 23).toArray
    // the zero row leads the single partition, so it is every heap's first candidate
    val data = ((999L, Array.fill(4)(0f)) +: nonzero).toDF("id", "vector").coalesce(1)
    Seq(1 -> false, 2 -> true).foreach { case (spill, dedup) =>
      val assignedCos = Ivf.assign(spark, data, cells, "cosine", spill)
      Seq(1, 4).foreach { k =>
        val candidates = assignedCos.as[(Long, Int, Array[Float])].collect().toSeq.flatMap {
          case (id, _, v) => qs.map { case (qid, qv) => (qid, id, Distances.cosine(v, qv)) }
        }.distinct.toDF("qid", "id", "dist")
        val window = rows(graft.knn.Knn.topK(candidates, k))
        assert(!window.exists(_._2 == 999L))
        assert(rows(Ivf.search(spark, assignedCos, cells, qs, k, nprobe = cells.length, "cosine", dedup)) === window,
          s"spill $spill k $k")
      }
    }
  }

  test("jobs per call: maintained IVF at most 2, maintained HNSW at most 3, saved IVF at most 2 after its load") {
    val ivf = jobsOf(StreamingOps.searchIvfMaintained(spark, ivfDir, queries, k = 5, nprobe = 2).collect())
    assert(ivf <= 2, s"searchIvfMaintained ran $ivf jobs")
    val hnsw = jobsOf(StreamingOps.searchHnswMaintained(spark, hnswDir, queries, k = 5).collect())
    assert(hnsw <= 3, s"searchHnswMaintained ran $hnsw jobs")
    val load = jobsOf(Ivf.load(spark, savedDir)._1.count())
    val saved = jobsOf(Ivf.searchSaved(spark, savedDir, queries, k = 5, nprobe = 2).collect())
    assert(saved - load <= 2, s"searchSaved ran $saved jobs, its load's count $load")
    assert(load > 0, "the listener counts")
  }

  test("the maintained HNSW answer is the TopK fold of its base candidates and the delta's exact scan") {
    val k = 4
    // the delta's winners: the second wave's upserts; its ids and the
    // removed one are excluded from the base
    val delta = vecs.slice(10, 20).map { case (i, v) => (i, v.reverse) } ++
      (500L until 505L).map(i => (i, vecs(i.toInt - 490)._2))
    val overridden = delta.map(_._1).toSet + 30L
    val base = HnswSpark.searchSavedExcluding(spark, s"$hnswDir/base", queries, k, overridden)
    val want = queries.toSeq.flatMap { case (qid, qv) =>
      val h = new TopK(k)
      base.filter(_._1 == qid).foreach { case (_, id, d) => h.push(d, id) }
      delta.foreach { case (id, v) => h.push(Distances.euclidean(v, qv), id) }
      h.sorted.toSeq.zipWithIndex.map { case ((d, id), r) => (qid, id, d, r + 1) }
    }.sorted
    assert(base.nonEmpty)
    assert(rows(StreamingOps.searchHnswMaintained(spark, hnswDir, queries, k)) === want)
  }
}
