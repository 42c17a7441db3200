package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{DocOp, VectorOp}

import java.nio.file.{Files, Paths}

/** Crash windows of the maintained-index compactions that used to lose
  * committed data silently: a sink restarted onto a torn IVF swap, and a
  * BM25 compaction that swapped a stale tmp over a newer live log. Also
  * the maintained views' shared rules: one payload per id when an
  * (id, version) upsert arrives twice, and the time-travel horizon.
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

  test("one (id, version) upsert arriving twice with different vectors serves one vector, " +
    "the HNSW view's, and a spilled winner keeps every replica") {
    // `a` is nearest cell 0, `b` cell 1; batch 0 delivers a, batch 1 b
    val twice = Seq(VectorOp(7L, "upsert", Array(0.9f, 0.1f), 3),
      VectorOp(7L, "upsert", Array(0.1f, 0.9f), 3))
    def feed(sink: (org.apache.spark.sql.Dataset[VectorOp], Long) => Unit): Unit =
      twice.zipWithIndex.foreach { case (op, b) => sink(Seq(op).toDS(), b.toLong) }
    val q = Array(1f, 0f)
    val hnswDir = Files.createTempDirectory("hnsw_twice").toString
    feed(StreamingOps.hnswDeltaMaintenanceSink(spark, hnswDir, numPartitions = 2))
    val hnswDist = StreamingOps.searchHnswMaintained(spark, hnswDir, Array((0L, q)), k = 2)
      .collect().filter(_.getLong(1) == 7L).map(_.getDouble(2))
    assert(hnswDist.length === 1)
    for (spill <- Seq(1, 2)) withClue(s"spill $spill: ") {
      val dir = Files.createTempDirectory("ivf_twice").toString
      feed(StreamingOps.ivfMaintenanceSink(spark, dir, centroids, spill = spill))
      val rows = StreamingOps.ivfMaintainedState(spark, dir).filter($"id" === 7L)
        .select("cell", "vector").as[(Int, Seq[Float])].collect()
      assert(rows.map(_._1).distinct.length === spill, rows.toSeq)
      assert(rows.length === spill, rows.toSeq)
      val vector = rows.map(_._2).distinct
      assert(vector.length === 1, rows.toSeq)
      val dist = math.sqrt(vector.head.zip(q).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum)
      assert(math.abs(dist - hnswDist.head) < 1e-6, s"IVF keeps ${vector.head}, HNSW another vector")
    }
  }

  test("a spilled residual-PQ winner delivered twice keeps every replica, before and after " +
    "compaction, with and without stored vectors") {
    // residual codes encode vector − centroid, so each cell replica of one
    // delivery carries different codes; `a` and `b` are two deliveries of
    // one (id, version) in two batches
    val cb = graft.knn.Pq.PqCodebooks(2, 1, Array.fill(2)(Array(Array(0f), Array(1f))))
    val twice = Seq(VectorOp(7L, "upsert", Array(0.9f, 0.1f), 3),
      VectorOp(7L, "upsert", Array(0.1f, 0.9f), 3))
    for (storeVectors <- Seq(true, false)) withClue(s"storeVectors $storeVectors: ") {
      val dir = Files.createTempDirectory("ivfpq_twice").toString
      val sink = StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb, residual = true,
        storeVectors = storeVectors, spill = 2)
      twice.zipWithIndex.foreach { case (op, b) => sink(Seq(op).toDS(), b.toLong) }
      val delivered = spark.read.parquet(s"$dir/delta").filter($"id" === 7L)
        .select($"batch".cast("string"), $"cell".cast("int"), $"pq_codes").as[(String, Int, Array[Byte])]
        .collect().groupBy(_._1).values.map(_.map(r => (r._2, r._3.toSeq)).toSet).toSet
      assert(delivered.size === 2 && delivered.forall(_.size === 2), delivered)
      def winner(): Set[(Int, Seq[Byte])] = {
        val rows = StreamingOps.ivfPqMaintainedState(spark, dir).filter($"id" === 7L)
          .select("cell", "vector", "pq_codes").as[(Int, Option[Seq[Float]], Array[Byte])].collect()
        assert(rows.map(_._2).distinct.length === 1, rows.toSeq)
        rows.map(r => (r._1, r._3.toSeq)).toSet
      }
      val before = winner()
      assert(before.size === 2 && delivered.contains(before), before)
      StreamingOps.compactIvfMaintained(spark, dir)
      assert(winner() === before)
    }
  }

  /** A maintained vector index for the time-travel horizon: its sink, its
    * compaction call and the ids an as-of read serves.
    */
  private case class AsOfIndex(name: String, compaction: String,
      sink: String => (org.apache.spark.sql.Dataset[VectorOp], Long) => Unit,
      compact: String => Unit, idsAsOf: (String, Long) => Set[Long])

  Seq(
    AsOfIndex("IVF", "compactIvfMaintained",
      StreamingOps.ivfMaintenanceSink(spark, _, centroids),
      StreamingOps.compactIvfMaintained(spark, _),
      (dir, v) => StreamingOps.ivfMaintainedStateAsOf(spark, dir, v)
        .select("id").as[Long].collect().toSet),
    AsOfIndex("HNSW", "compactHnswMaintained",
      StreamingOps.hnswDeltaMaintenanceSink(spark, _, numPartitions = 2),
      StreamingOps.compactHnswMaintained(spark, _),
      (dir, v) => StreamingOps.searchHnswMaintained(spark, dir, Array((0L, Array(1f, 0f))),
        k = 10, asOf = Some(v)).select("id").as[Long].collect().toSet)
  ).foreach { ix =>
    test(s"${ix.name} as-of read below the compaction horizon is refused naming " +
      s"${ix.compaction}; a read at the horizon answers") {
      val dir = Files.createTempDirectory("asof_horizon").toString
      val sink = ix.sink(dir)
      sink(Seq(VectorOp(1L, "upsert", Array(1f, 0f), 1), VectorOp(2L, "upsert", Array(0f, 1f), 1)).toDS(), 0L)
      sink(Seq(VectorOp(2L, "remove", Array.empty[Float], 2)).toDS(), 1L)
      assert(ix.idsAsOf(dir, 1L) === Set(1L, 2L))
      ix.compact(dir)
      val e = intercept[IllegalArgumentException](ix.idsAsOf(dir, 1L))
      assert(e.getMessage.contains("compaction horizon 2") && e.getMessage.contains(ix.compaction),
        e.getMessage)
      assert(ix.idsAsOf(dir, 2L) === Set(1L))
    }
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
