package graft

import graft.io.LocalParquet
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.VectorOp
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The in-process sidecar reader returns what `spark.read.parquet` does,
  * fails on a damaged file, and lets the maintained-index sidecar loaders
  * run without a Spark job.
  */
class LocalParquetSpec extends SparkTestBase {
  import spark.implicits._

  private val vecs = (0L until 30L).map { i =>
    (i, Array.tabulate(4)(d => (i % 3).toFloat * 5f + ((i + d) % 4) * 0.25f))
  }
  private lazy val centroids = graft.knn.Ivf.train(spark, vecs.toDF("id", "vector"), c = 3)

  /** A raw maintained IVF directory with a quant reference, a PQ one, and
    * a delta-maintained HNSW one.
    */
  private lazy val (rawDir, pqDir, hnswDir) = {
    val root = Files.createTempDirectory("local_parquet").toString
    val ops = vecs.map { case (i, v) => VectorOp(i, "upsert", v, 1) }.toDS()
    StreamingOps.ivfMaintenanceSink(spark, s"$root/raw", centroids)(ops, 0L)
    StreamingOps.markIvfQuantReference(spark, s"$root/raw")
    val cb = graft.knn.Pq.PqCodebooks(2, 2, Array.fill(2)(Array(Array(0f, 0f), Array(1f, 1f))))
    StreamingOps.ivfPqMaintenanceSink(spark, s"$root/pq", centroids, cb)
    StreamingOps.hnswDeltaMaintenanceSink(spark, s"$root/hnsw", numPartitions = 2)(ops, 0L)
    (s"$root/raw", s"$root/pq", s"$root/hnsw")
  }

  private def assertSameAsSpark(dir: String): Unit = withClue(s"$dir: ") {
    val expected = spark.read.parquet(dir)
    val rows = LocalParquet.read(spark, dir)
    assert(rows.toSeq === expected.collect().toSeq)
    assert(rows.head.schema === expected.schema)
  }

  test("rows and schema equal spark.read.parquet for every maintained-index sidecar") {
    for (s <- Seq("meta", "centroids", "quant_ref")) assertSameAsSpark(s"$rawDir/$s")
    assertSameAsSpark(s"$pqDir/pq_maintained")
    assertSameAsSpark(s"$hnswDir/meta")
  }

  test("a meta sidecar written before the rows column reads as Spark reads it, rows = -1") {
    val dir = Files.createTempDirectory("meta_pre_rows").toString + "/idx"
    graft.knn.Ivf.saveQuantizer(spark, dir, centroids, None)
    Seq(("cosine", 2, 3, 4)).toDF("metric", "spill", "c", "dim")
      .coalesce(1).write.parquet(s"$dir/meta")
    assertSameAsSpark(s"$dir/meta")
    assert(graft.knn.Ivf.loadMeta(spark, dir) ===
      Some(graft.knn.Ivf.IvfMeta("cosine", 2, 3, 4, -1L)))
  }

  test("a truncated part file throws") {
    val dir = Files.createTempDirectory("truncated").toString + "/centroids"
    Files.walk(Paths.get(s"$rawDir/centroids")).forEach { p =>
      Files.copy(p, Paths.get(dir).resolve(Paths.get(s"$rawDir/centroids").relativize(p).toString))
    }
    val part = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    val bytes = Files.readAllBytes(part)
    Files.write(part, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    intercept[Exception](LocalParquet.read(spark, dir))
  }

  /** Spark jobs started by `call`, counted by a listener. */
  private def jobsOf(call: => Any): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      call
      org.apache.spark.TestBus.drain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the maintained-index sidecar loaders start no Spark job") {
    assert(jobsOf(graft.knn.Ivf.loadQuantizer(spark, rawDir)) === 0)
    assert(jobsOf(StreamingOps.loadHnswMaintainedMeta(spark, hnswDir)) === 0)
    assert(jobsOf(StreamingOps.loadIvfQuantReference(spark, rawDir)) === 0)
    assert(jobsOf(spark.read.parquet(s"$rawDir/quant_ref").collect()) > 0, "the listener counts")
  }

  test("a delta log read takes its schema from a footer and starts no job") {
    val dir = Files.createTempDirectory("log_read").toString
    val sink = StreamingOps.ivfMaintenanceSink(spark, dir, centroids)
    sink(vecs.take(10).map { case (i, v) => VectorOp(i, "upsert", v, 1) }.toDS(), 0L)
    StreamingOps.compactIvfMaintained(spark, dir)
    sink(Seq(VectorOp(3L, "remove", Array.empty, 2)).toDS(), 1L)
    val log = new graft.io.BatchLog(spark, dir, Seq("delta"), "maintained IVF", None,
      exactlyOnce = false)
    var read: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { read = log.read("delta").get } === 0)
    val inferred = spark.read.option("basePath", s"$dir/delta")
      .parquet(s"$dir/delta/batch=compacted", s"$dir/delta/batch=1")
    assert(read.schema === inferred.schema)
    assert(read.collect().toSet === inferred.collect().toSet)
  }
}
