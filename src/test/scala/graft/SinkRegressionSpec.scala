package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{DocOp, VectorOp}

import java.nio.file.{Files, Paths}

/** Crash windows of the maintained-index compactions that used to lose
  * committed data silently: a sink restarted onto a torn IVF swap, and a
  * BM25 compaction that swapped a stale tmp over a newer live log.
  */
class SinkRegressionSpec extends SparkTestBase {
  import spark.implicits._

  private val centroids = Array(Array(1f, 0f), Array(0f, 1f))

  private def ivfIds(dir: String): Set[Long] =
    StreamingOps.ivfMaintainedState(spark, dir).select("id").as[Long].collect().toSet

  /** Load 20 upserts, compact, then fake a crash between the compaction's
    * delete and rename (`delta` → `delta.compact`). A restart must refuse
    * and name the resume call; after the resume one more batch must leave
    * all 21 ids, also through the next compaction.
    */
  private def tornSwapRestart(sink: String => (org.apache.spark.sql.Dataset[VectorOp], Long) => Unit): Unit = {
    val dir = Files.createTempDirectory("ivf_torn_restart").toString
    sink(dir)((0L until 20L).map(i => VectorOp(i, "upsert", Array(1f, i / 20f), 1)).toDS(), 0L)
    StreamingOps.compactIvfMaintained(spark, dir)
    Files.move(Paths.get(s"$dir/delta"), Paths.get(s"$dir/delta.compact"))

    val e = intercept[IllegalArgumentException](sink(dir))
    assert(e.getMessage.contains("compactIvfMaintained"), e.getMessage)

    StreamingOps.compactIvfMaintained(spark, dir) // resumes the swap
    sink(dir)(Seq(VectorOp(20L, "upsert", Array(0f, 1f), 1)).toDS(), 1L)
    assert(ivfIds(dir) === (0L to 20L).toSet)
    StreamingOps.compactIvfMaintained(spark, dir)
    assert(ivfIds(dir) === (0L to 20L).toSet)
  }

  test("IVF sink restarted onto a torn compaction swap refuses, then resumes with every id") {
    tornSwapRestart(dir => StreamingOps.ivfMaintenanceSink(spark, dir, centroids))
  }

  test("IVF-PQ sink restarted onto a torn compaction swap refuses, then resumes with every id") {
    val cb = graft.knn.Pq.PqCodebooks(2, 1, Array.fill(2)(Array(Array(0f), Array(1f))))
    tornSwapRestart(dir =>
      StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb, storeVectors = true))
  }

  test("BM25 compaction beside a stale manifest-complete tmp keeps a later doc") {
    val dir = Files.createTempDirectory("bm25_stale_tmp").toString
    StreamingOps.bm25MaintenanceSink(spark, dir, nBuckets = 4)(
      (0L until 10L).map(i => DocOp(i, "upsert", s"alpha beta w$i", 1L)).toDS(), 0L)
    StreamingOps.compactBm25Maintained(spark, dir)
    // a crash after an earlier compaction's tmp writes, before its deletes:
    // manifest-complete tmps beside the live logs
    for (log <- Seq("delta_docs", "delta_post")) {
      val src = Paths.get(s"$dir/$log")
      Files.walk(src).forEach { p =>
        Files.copy(p, Paths.get(s"$dir/$log.compact").resolve(src.relativize(p).toString))
      }
    }
    StreamingOps.bm25MaintenanceSink(spark, dir, nBuckets = 4)(
      Seq(DocOp(500L, "upsert", "gamma delta unique", 1L)).toDS(), 1L)
    def hits(): Seq[Long] = StreamingOps.searchBm25Maintained(spark, dir, Seq((0L, "unique")), 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(hits() === Seq(500L))
    StreamingOps.compactBm25Maintained(spark, dir)
    assert(hits() === Seq(500L), "compaction swapped a stale tmp over the live log")
  }

  /** 60 deterministic 8-d vectors in three well-separated groups. */
  private val vecs8 = (0L until 60L).map { i =>
    val base = (i % 3).toFloat * 10f
    (i, Array.tabulate(8)(d => base + ((i * 7 + d * 3) % 5) * 0.1f))
  }

  private def load(sink: (org.apache.spark.sql.Dataset[VectorOp], Long) => Unit): Unit =
    sink(vecs8.map { case (i, v) => VectorOp(i, "upsert", v, 1) }.toDS(), 0L)

  /** A PQ sink over `vecs8` (3 cells, m = 4), optionally OPQ-rotated;
    * vectors are stored so drift, quant error and retrain all apply.
    */
  private def pqSink(dir: String, rotate: Boolean) = {
    val raw = vecs8.toDF("id", "vector")
    val model = if (rotate) Some(graft.knn.Opq.train(raw, m = 4)) else None
    val df = model.fold(raw)(graft.knn.Opq.rotate(raw, _))
    val cs = graft.knn.Ivf.train(spark, df, c = 3, iterations = 2)
    val cb = graft.knn.Pq.trainResidual(spark, graft.knn.Ivf.assign(spark, df, cs), cs,
      m = 4, ksub = 8, iterations = 1, sampleCap = 1000, seeding = "first")
    StreamingOps.ivfPqMaintenanceSink(spark, dir, cs, cb, storeVectors = true, opq = model)
  }

  /** Rewrite the `centroids` parquet with its first 2 of 3 rows. */
  private def tearCentroids(dir: String): Unit = {
    val kept = spark.read.parquet(s"$dir/centroids").orderBy("cell").limit(2).collect()
    spark.createDataFrame(java.util.Arrays.asList(kept: _*),
        spark.read.parquet(s"$dir/centroids").schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  private def assertTorn(what: String)(call: => Any): Unit = withClue(s"$what: ") {
    val e = intercept[Exception](call)
    assert(e.getMessage.contains("is torn"), e.getMessage)
  }

  private val query = Array((0L, vecs8(2)._2))

  test("a torn centroids sidecar is refused on every raw maintained-IVF path") {
    val dir = Files.createTempDirectory("ivf_torn_sidecar").toString
    val cs = graft.knn.Ivf.train(spark, vecs8.toDF("id", "vector"), c = 3, iterations = 2)
    load(StreamingOps.ivfMaintenanceSink(spark, dir, cs))
    tearCentroids(dir)
    assertTorn("searchIvfMaintained")(
      StreamingOps.searchIvfMaintained(spark, dir, query, k = 3, nprobe = 3).collect())
    assertTorn("searchIvfMaintainedDF")(StreamingOps.searchIvfMaintainedDF(spark, dir,
      query.toSeq.toDF("qid", "qvec"), k = 3, nprobe = 3).collect())
    assertTorn("markIvfQuantReference")(StreamingOps.markIvfQuantReference(spark, dir))
    assertTorn("ivfMaintainedDrift")(StreamingOps.ivfMaintainedDrift(spark, dir))
    assertTorn("retrainIvfMaintained")(StreamingOps.retrainIvfMaintained(spark, dir))
    assertTorn("sink restart")(StreamingOps.ivfMaintenanceSink(spark, dir, cs))
  }

  test("a torn centroids sidecar is refused on every PQ maintained-IVF path") {
    val dir = Files.createTempDirectory("ivfpq_torn_sidecar").toString
    load(pqSink(dir, rotate = false))
    tearCentroids(dir)
    assertTorn("searchIvfPqMaintained")(
      StreamingOps.searchIvfPqMaintained(spark, dir, query, k = 3, nprobe = 3).collect())
    assertTorn("searchIvfPqMaintainedDF")(StreamingOps.searchIvfPqMaintainedDF(spark, dir,
      query.toSeq.toDF("qid", "qvec"), k = 3, nprobe = 3).collect())
    assertTorn("markIvfQuantReference")(StreamingOps.markIvfQuantReference(spark, dir))
    assertTorn("ivfMaintainedDrift")(StreamingOps.ivfMaintainedDrift(spark, dir))
    assertTorn("retrainIvfPqMaintained")(StreamingOps.retrainIvfPqMaintained(spark, dir))
  }

  /** Retrain a quant-monitored directory, then fake a crash between the
    * swap's delete and rename (`<dir>` → `<dir>.retrain`). The next
    * retrain call must resume: same centroids and search answers, the
    * listed sidecars present, and the drift gate still has its reference.
    */
  private def retrainResume(dir: String, sidecars: Seq[String])(
      retrain: () => Array[Array[Float]])(
      search: () => Seq[(Long, Long, Int)]): Unit = {
    StreamingOps.markIvfQuantReference(spark, dir)
    val cs = retrain()
    val before = search()
    assert(before.nonEmpty)
    Files.move(Paths.get(dir), Paths.get(s"$dir.retrain"))
    val resumed = retrain()
    assert(resumed.map(_.toSeq).toSeq === cs.map(_.toSeq).toSeq)
    assert(!Files.exists(Paths.get(s"$dir.retrain")))
    assert(search() === before)
    for (s <- "quant_ref" +: sidecars) assert(Files.exists(Paths.get(s"$dir/$s")), s)
    StreamingOps.retrainIfQuantDrifted(spark, dir)
  }

  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    df.select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._3))

  test("a raw retrain interrupted between delete and rename resumes with its quant reference") {
    val dir = Files.createTempDirectory("ivf_retrain_resume").toString + "/idx"
    val cs = graft.knn.Ivf.train(spark, vecs8.toDF("id", "vector"), c = 3, iterations = 2)
    load(StreamingOps.ivfMaintenanceSink(spark, dir, cs))
    retrainResume(dir, Seq("centroids", "meta"))(
      () => StreamingOps.retrainIvfMaintained(spark, dir, iterations = 1))(
      () => ranked(StreamingOps.searchIvfMaintained(spark, dir, query, k = 5, nprobe = 2)))
  }

  test("a PQ+OPQ retrain interrupted between delete and rename resumes with every sidecar") {
    val dir = Files.createTempDirectory("ivfpq_retrain_resume").toString + "/idx"
    load(pqSink(dir, rotate = true))
    retrainResume(dir, Seq("centroids", "meta", "pq_books", "pq_maintained", "opq_rot"))(
      () => StreamingOps.retrainIvfPqMaintained(spark, dir, iterations = 1))(
      () => ranked(StreamingOps.searchIvfPqMaintained(spark, dir, query, k = 5, nprobe = 2)))
  }

  test("searchIvfMaintainedDF refuses a codes-only PQ directory like the array form") {
    val dir = Files.createTempDirectory("ivfpq_codes_only").toString
    val df = vecs8.toDF("id", "vector")
    val cs = graft.knn.Ivf.train(spark, df, c = 3, iterations = 2)
    val cb = graft.knn.Pq.trainResidual(spark, graft.knn.Ivf.assign(spark, df, cs), cs,
      m = 4, ksub = 8, iterations = 1, sampleCap = 1000, seeding = "first")
    load(StreamingOps.ivfPqMaintenanceSink(spark, dir, cs, cb))
    val array = intercept[IllegalArgumentException](
      StreamingOps.searchIvfMaintained(spark, dir, query, k = 3, nprobe = 3).collect())
    val frame = intercept[IllegalArgumentException](StreamingOps.searchIvfMaintainedDF(spark, dir,
      query.toSeq.toDF("qid", "qvec"), k = 3, nprobe = 3).collect())
    assert(frame.getMessage === array.getMessage)
    assert(frame.getMessage.contains("codes-only"), frame.getMessage)
  }
}
