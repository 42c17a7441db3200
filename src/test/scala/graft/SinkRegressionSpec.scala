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
}
