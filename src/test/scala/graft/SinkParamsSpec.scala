package graft

import graft.io.{BatchLog, HadoopIO}
import graft.streaming.StreamingOps
import graft.text.Bm25
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The parameter sidecar every parameter-fingerprinted sink opens through
  * ([[BatchLog.open]] / [[BatchLog.params]]), and the sidecar reads that
  * start no Spark job: the parameters, BM25 `stats`, and the folded batch
  * ids behind `committed()`.
  */
class SinkParamsSpec extends SparkTestBase {
  import spark.implicits._

  private def fresh(name: String): String = Files.createTempDirectory(name).toString

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

  private def cpLog(dir: String) = new BatchLog(spark, dir, Seq("totals"), "corpus-profile",
    Some("compactCorpusProfile"), exactlyOnce = true, meta = "cp_meta")

  private val odd = "n,chars=1"
  private val docs = Seq((1L, "s0", "en", "a b c", 5), (2L, "s1", "de", "d e", 3))
    .toDF("doc_id", "source", "lang", "text", odd)

  test("values holding ',' and '=' round-trip, and a restart with equal values opens") {
    val dir = fresh("params_cp")
    StreamingOps.corpusProfileSink(spark, dir, charsCol = odd)(docs, 0L)
    assert(cpLog(dir).params() === Map("sourceCol" -> "source", "langCol" -> "lang",
      "textCol" -> "text", "charsCol" -> odd))
    StreamingOps.corpusProfileSink(spark, dir, charsCol = odd)(docs, 1L)
    assert(StreamingOps.corpusProfileMaintained(spark, dir)
      .select("n_docs").as[Long].collect().sum === 4L)
    val e = intercept[IllegalArgumentException](StreamingOps.corpusProfileSink(spark, dir))
    assert(e.getMessage.contains(s"charsCol: stored '$odd', passed 'n_chars'"), e.getMessage)
    assert(e.getMessage.contains("incomparable totals"), e.getMessage)

    val tb = fresh("params_tb")
    val source = "a,b=c"
    val budgets = Map(source -> 10L, "plain" -> 5L)
    val sink = StreamingOps.tokenBudgetSink(spark, tb, budgets)
    sink(Seq((1L, source, "x y z")).toDF("doc_id", "source", "text"), 0L)
    val tbLog = new BatchLog(spark, tb, Seq("admitted", "totals"), "token-budget", None,
      exactlyOnce = true, meta = "tb_meta")
    assert(tbLog.params() === Map(s"budget:$source" -> "10", "budget:plain" -> "5", "seed" -> "s"))
    StreamingOps.tokenBudgetSink(spark, tb, budgets)
    val e2 = intercept[IllegalArgumentException](
      StreamingOps.tokenBudgetSink(spark, tb, Map(source -> 10L)))
    assert(e2.getMessage.contains("budget:plain: stored '5', passed <absent>"), e2.getMessage)
    assert(StreamingOps.tokenBudgetAdmitted(spark, tb).count() === 1L)
  }

  test("a sidecar in a pre-change form is refused naming its path, never re-initialised") {
    val hh = fresh("params_hh")
    Seq((3, 256, null: String)).toDF("n", "m", "group").coalesce(1).write.parquet(s"$hh/hh_meta")
    val e = intercept[IllegalArgumentException](StreamingOps.heavyHittersSink(spark, hh, 3, 256))
    assert(e.getMessage.contains(s"$hh/hh_meta"), e.getMessage)
    assert(!Files.exists(Paths.get(s"$hh/docs")), "the refused open seeded a log")
    val e2 = intercept[IllegalArgumentException](StreamingOps.heavyHittersTopK(spark, hh, k = 3))
    assert(e2.getMessage.contains(s"$hh/hh_meta"), e2.getMessage)

    val nd = fresh("params_nd")
    val conf = spark.sparkContext.hadoopConfiguration
    HadoopIO.write(s"$nd/nd_meta", conf)(_.writeUTF("numHashes=64,bands=16"))
    val e3 = intercept[IllegalArgumentException](StreamingOps.nearDupSink(spark, nd))
    assert(e3.getMessage.contains(s"$nd/nd_meta"), e3.getMessage)
    assert(HadoopIO.read(s"$nd/nd_meta", conf)(_.readUTF()) === "numHashes=64,bands=16")

    val none = fresh("params_none")
    val e4 = intercept[IllegalArgumentException](cpLog(none).params())
    assert(e4.getMessage === s"no cp_meta sidecar under $none — not a corpus-profile dir")
  }

  test("params(), Bm25.loadStats and committed() on a compacted log start no Spark job") {
    val dir = fresh("params_jobs")
    val sink = StreamingOps.corpusProfileSink(spark, dir)
    sink(docs.withColumnRenamed(odd, "n_chars"), 0L)
    sink(docs.withColumnRenamed(odd, "n_chars"), 1L)
    StreamingOps.compactCorpusProfile(spark, dir)
    val log = cpLog(dir)
    assert(jobsOf(log.params()) === 0)
    var folded = (false, false)
    assert(jobsOf { folded = (log.committed(0L), log.committed(5L)) } === 0)
    assert(folded === (true, false))

    val idx = fresh("params_bm25")
    Bm25.buildIndex(docs, idx, nBuckets = 4, withPositions = true)
    var stats: (Long, Double, Int, Boolean) = null
    assert(jobsOf { stats = Bm25.loadStats(spark, idx) } === 0)
    assert(stats === ((2L, 2.5, 4, true)))
    assert(jobsOf(spark.read.parquet(s"$idx/stats").collect()) > 0, "the listener counts")
  }

  test("an empty folded set reads as no batch; a torn folded.tmp is ignored") {
    val dir = fresh("params_folded")
    StreamingOps.dedupExactSink(spark, dir)
    Seq.empty[Long].toDF("batch_id").coalesce(1).write.parquet(s"$dir/folded")
    Files.createDirectories(Paths.get(s"$dir/folded.tmp"))
    Files.write(Paths.get(s"$dir/folded.tmp/part-00000.parquet"), Array[Byte](1, 2, 3))
    val log = new BatchLog(spark, dir, Seq("dig"), "exact-dedup", None, exactlyOnce = true,
      meta = "de_meta")
    var seen = true
    assert(jobsOf { seen = log.committed(0L) } === 0)
    assert(!seen)
  }

  test("phraseSearch over a stats marker without positions refuses as tf-only") {
    val idx = fresh("params_prepos")
    Bm25.buildIndex(docs, idx, nBuckets = 4)
    val (n, avgdl, nb, _) = Bm25.loadStats(spark, idx)
    Seq((n, avgdl, nb)).toDF("n", "avgdl", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/stats")
    assert(!Bm25.loadStats(spark, idx)._4)
    val e = intercept[IllegalArgumentException](Bm25.phraseSearch(spark, idx, Seq((0L, "a b"))))
    assert(e.getMessage.contains("WITHOUT positions"), e.getMessage)
    assert(Bm25.searchSaved(spark, idx, Seq((0L, "a")), k = 1).count() === 1L)
  }
}
