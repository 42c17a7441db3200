package graft

import graft.io.Manifest
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{DocOp, VectorOp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** One fault-injection matrix over every delta-log `foreachBatch` sink:
  *
  *  1. crash after a batch's part files are written, before any manifest
  *     merge — then the batch is redelivered;
  *  2. redelivery of a committed batch;
  *  3. redelivery after a compaction;
  *  4. a compaction swap interrupted between its delete and its rename;
  *  5. a restart with a changed fingerprint.
  *
  * Cases 3–4 run for the sinks that compact. Every case must end in the
  * no-fault converged read, or in a loud error that names the resume call
  * — never in a different answer.
  */
class SinkFaultMatrixSpec extends SparkTestBase {
  import spark.implicits._

  /** One sink under test. `open(dir)` constructs the sink (a restart when
    * the directory exists) and returns the commit of batch b ∈ {0, 1}.
    */
  private case class SinkCase(
      name: String,
      logs: Seq[String],
      open: String => Int => Unit,
      openChanged: String => Unit,
      read: String => DataFrame,
      compact: Option[(String, String => Unit, String)] = None) // (log, call, call name)

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.4f"
    case f: Float => f"$f%.4f"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => render(r.toSeq)
    case x => x.toString
  }

  private def answer(c: SinkCase, dir: String): Seq[String] =
    c.read(dir).collect().map(r => render(r.toSeq)).toSeq.sorted

  private def fresh(name: String): String = Files.createTempDirectory(s"fault_$name").toString

  private def batches[A](b0: Seq[A], b1: Seq[A])(run: (Seq[A], Long) => Unit): Int => Unit =
    b => run(if (b == 0) b0 else b1, b.toLong)

  // ---------------------------------------------------------------- inputs

  private def text(i: Long) = (0 until 30).map(t => s"w${i}x$t").mkString(" ")
  private def nearCopy(i: Long) = ((0 until 28).map(t => s"w${i}x$t") ++ Seq("ca", "cb")).mkString(" ")
  private val nearDocs0 = (0L until 10L).map(i => (i, text(i)))
  private val nearDocs1 = (0L until 4L).map(i => (i + 100L, nearCopy(i)))

  private val rnd = new scala.util.Random(7)
  private val hashes0 = (0L until 10L).map(i => (i, rnd.nextLong()))
  private val hashes1 = hashes0.take(4).map { case (i, h) => (i + 100L, h ^ (1L << 9)) }

  private val pairs0 = Seq((1L, 2L), (3L, 4L), (7L, 8L))
  private val pairs1 = Seq((2L, 3L), (5L, 6L))

  private def vec(i: Long, s: Float) = Array(1f - (i % 3) * 0.4f + s, (i % 5) * 0.25f - s)
  private val vops0 = (0L until 10L).map(i => VectorOp(i, "upsert", vec(i, 0f), 1))
  private val vops1 = (5L until 8L).map(i => VectorOp(i, "upsert", vec(i, 0.3f), 2)) ++
    Seq(VectorOp(8L, "remove", Array.empty, 2)) ++
    (10L until 12L).map(i => VectorOp(i, "upsert", vec(i, 0.1f), 2))
  private val centroids = Array(Array(1f, 0f), Array(0f, 1f))
  private val cb = graft.knn.Pq.PqCodebooks(2, 1, Array.fill(2)(Array(Array(0f), Array(0.5f), Array(1f))))

  private def doc(i: Long) = s"alpha w${i % 3} beta w${i % 4} gamma"
  private val dops0 = (0L until 6L).map(i => DocOp(i, "upsert", doc(i), 1L))
  private val dops1 = Seq(DocOp(1L, "upsert", "delta " + doc(1L), 2L), DocOp(2L, "remove", "", 2L),
    DocOp(6L, "upsert", doc(6L), 2L))

  private def corpus(from: Long, to: Long) = (from until to).map { i =>
    (i, s"s${i % 2}", s"l${i % 3}", (0L to i % 4).map(j => s"t$j").mkString(" ") + " common words here",
      (10 + i % 7).toInt)
  }.toDF("doc_id", "source", "lang", "text", "n_chars")
  private val corpus0 = corpus(0L, 20L)
  private val corpus1 = corpus(20L, 36L)
    .unionByName(corpus(0L, 3L).withColumn("doc_id", col("doc_id") + 100L)) // exact duplicates

  private val bench = Seq((900L, "t0 t1 common words here"), (901L, "nothing in the corpus"))
    .toDF("bench_id", "text")

  private def df0Or1(d0: DataFrame, d1: DataFrame): Int => DataFrame = b => if (b == 0) d0 else d1

  // ----------------------------------------------------------------- cases

  private val cases: Seq[SinkCase] = Seq(
    SinkCase("nearDupSink", Seq("docs", "bands"),
      dir => { val s = StreamingOps.nearDupSink(spark, dir, threshold = 0.7)
        batches(nearDocs0, nearDocs1)((d, id) => s(d.toDF("doc_id", "text"), id)) },
      dir => StreamingOps.nearDupSink(spark, dir, threshold = 0.7, bands = 8),
      dir => StreamingOps.nearDupSinkPairs(spark, dir)),
    SinkCase("mediaPhashSink", Seq("hashes", "bands"),
      dir => { val s = StreamingOps.mediaPhashSink(spark, dir)
        batches(hashes0, hashes1)((d, id) => s(d.toDF("id", "dhash"), id)) },
      dir => StreamingOps.mediaPhashSink(spark, dir, bands = 8),
      dir => StreamingOps.mediaPhashSinkPairs(spark, dir)),
    SinkCase("dedupGroupsSink", Seq("labels"),
      dir => { val s = StreamingOps.dedupGroupsSink(spark, dir)
        batches(pairs0, pairs1)((d, id) => s(d.toDF("doc_a", "doc_b"), id)) },
      dir => StreamingOps.dedupGroupsSink(spark, dir, aCol = "a"),
      dir => StreamingOps.dedupGroupsSinkGroups(spark, dir)),
    SinkCase("ivfMaintenanceSink", Seq("delta"),
      dir => { val s = StreamingOps.ivfMaintenanceSink(spark, dir, centroids)
        batches(vops0, vops1)((d, id) => s(d.toDS(), id)) },
      dir => StreamingOps.ivfMaintenanceSink(spark, dir, centroids.reverse),
      dir => StreamingOps.ivfMaintainedState(spark, dir),
      Some(("delta", dir => StreamingOps.compactIvfMaintained(spark, dir), "compactIvfMaintained"))),
    SinkCase("ivfPqMaintenanceSink", Seq("delta"),
      dir => { val s = StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb)
        batches(vops0, vops1)((d, id) => s(d.toDS(), id)) },
      dir => StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb, residual = false),
      dir => StreamingOps.ivfPqMaintainedState(spark, dir).select("id", "cell", "pq_codes"),
      Some(("delta", dir => StreamingOps.compactIvfMaintained(spark, dir), "compactIvfMaintained"))),
    SinkCase("hnswDeltaMaintenanceSink", Seq("delta"),
      dir => { val s = StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2)
        batches(vops0, vops1)((d, id) => s(d.toDS(), id)) },
      dir => StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 3),
      dir => StreamingOps.searchHnswMaintained(spark, dir,
        Array((0L, Array(1f, 0f)), (1L, Array(0f, 1f))), k = 3).select("qid", "id", "dist"),
      Some(("delta", dir => StreamingOps.compactHnswMaintained(spark, dir), "compactHnswMaintained"))),
    SinkCase("bm25MaintenanceSink", Seq("delta_post", "delta_docs"),
      dir => { val s = StreamingOps.bm25MaintenanceSink(spark, dir, nBuckets = 4)
        batches(dops0, dops1)((d, id) => s(d.toDS(), id)) },
      dir => StreamingOps.bm25MaintenanceSink(spark, dir, nBuckets = 8),
      dir => StreamingOps.searchBm25Maintained(spark, dir,
        Seq((0L, "alpha w1"), (1L, "delta gamma")), k = 10),
      Some(("delta_docs", dir => StreamingOps.compactBm25Maintained(spark, dir),
        "compactBm25Maintained"))),
    SinkCase("heavyHittersSink", Seq("docs", "sketch"),
      dir => { val s = StreamingOps.heavyHittersSink(spark, dir, n = 2, m = 256)
        b => s(df0Or1(corpus0, corpus1)(b).select("doc_id", "text"), b.toLong) },
      dir => StreamingOps.heavyHittersSink(spark, dir, n = 3, m = 256),
      dir => StreamingOps.heavyHittersTopK(spark, dir, k = 3),
      Some(("sketch", dir => StreamingOps.compactHeavyHitters(spark, dir), "compactHeavyHitters"))),
    SinkCase("tokenBudgetSink", Seq("admitted", "totals"),
      dir => { val s = StreamingOps.tokenBudgetSink(spark, dir, Map("s0" -> 30L, "s1" -> 1000L))
        b => s(df0Or1(corpus0, corpus1)(b), b.toLong) },
      dir => StreamingOps.tokenBudgetSink(spark, dir, Map("s0" -> 31L, "s1" -> 1000L)),
      dir => StreamingOps.tokenBudgetAdmitted(spark, dir),
      Some(("totals", dir => StreamingOps.compactTokenBudget(spark, dir), "compactTokenBudget"))),
    SinkCase("decontaminateRateSink", Seq("matched"),
      dir => { val s = StreamingOps.decontaminateRateSink(spark, dir, bench, n = 3)
        b => s(df0Or1(corpus0, corpus1)(b), b.toLong) },
      dir => StreamingOps.decontaminateRateSink(spark, dir, bench, n = 2),
      dir => StreamingOps.decontaminateRateMaintained(spark, dir)),
    SinkCase("corpusProfileSink", Seq("totals"),
      dir => { val s = StreamingOps.corpusProfileSink(spark, dir)
        b => s(df0Or1(corpus0, corpus1)(b), b.toLong) },
      dir => StreamingOps.corpusProfileSink(spark, dir, langCol = "source"),
      dir => StreamingOps.corpusProfileMaintained(spark, dir),
      Some(("totals", dir => StreamingOps.compactCorpusProfile(spark, dir), "compactCorpusProfile"))),
    SinkCase("dedupExactSink", Seq("dig"),
      dir => { val s = StreamingOps.dedupExactSink(spark, dir)
        b => s(df0Or1(corpus0, corpus1)(b), b.toLong) },
      dir => StreamingOps.dedupExactSink(spark, dir, idCol = "n_chars"),
      dir => StreamingOps.dedupExactMaintained(spark, dir),
      Some(("dig", dir => StreamingOps.compactDedupExact(spark, dir), "compactDedupExact"))),
    SinkCase("weightedSampleSink", Seq("cand"),
      dir => { val s = StreamingOps.weightedSampleSink(spark, dir, k = 8, weightCol = "n_chars")
        b => s(df0Or1(corpus0, corpus1)(b), b.toLong) },
      dir => StreamingOps.weightedSampleSink(spark, dir, k = 9, weightCol = "n_chars"),
      dir => StreamingOps.weightedSampleMaintained(spark, dir),
      Some(("cand", dir => StreamingOps.compactWeightedSample(spark, dir, maxBatches = 1),
        "compactWeightedSample")))
  )

  private val started = System.nanoTime()

  for (c <- cases) test(s"${c.name}: every fault converges to the no-fault read or fails loudly") {
    val t0 = System.nanoTime()
    val hconf = spark.sparkContext.hadoopConfiguration

    // no-fault reference
    val ref = fresh(c.name)
    val commit = c.open(ref)
    commit(0); commit(1)
    val want = answer(c, ref)
    assert(want.nonEmpty, s"${c.name}: fixture must produce a non-empty answer")

    // 2. redelivery of a committed batch
    commit(1); commit(0)
    assert(answer(c, ref) === want, "redelivery of a committed batch changed the answer")

    // 5. restart with a changed fingerprint refuses and leaves the state
    intercept[IllegalArgumentException](c.openChanged(ref))
    assert(answer(c, ref) === want, "a refused restart changed the answer")

    // 1. crash after batch 1's part files landed, before any manifest merge:
    // restore every log's pre-batch manifest over the finished batch
    val dir = fresh(c.name)
    c.open(dir)(0)
    val before = c.logs.map(l => l -> Manifest.read(s"$dir/$l", hconf).get)
    c.open(dir)(1)
    before.foreach { case (l, es) => Manifest.write(s"$dir/$l", es, hconf) }
    val restarted = c.open(dir)
    restarted(1)
    assert(answer(c, dir) === want, "a redelivered crashed batch changed the answer")

    c.compact.foreach { case (log, compact, resume) =>
      // 3. redelivery after compaction
      compact(dir)
      assert(answer(c, dir) === want, "compaction changed the answer")
      restarted(1); restarted(0)
      assert(answer(c, dir) === want, "redelivery after compaction changed the answer")

      // 4. a swap interrupted between its delete and its rename
      compact(dir)
      Files.move(Paths.get(s"$dir/$log"), Paths.get(s"$dir/$log.compact"))
      val e = intercept[IllegalArgumentException](c.open(dir))
      assert(e.getMessage.contains(resume), e.getMessage)
      scala.util.Try(answer(c, dir)).fold(
        err => assert(err.getMessage.contains(resume), err.getMessage),
        got => assert(got === want, "a torn swap served a different answer"))
      compact(dir) // resumes the swap
      assert(answer(c, dir) === want, "the resumed swap changed the answer")
      c.open(dir)
    }
    info(f"${c.name}: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"(matrix so far ${(System.nanoTime() - started) / 1e9}%.1f s)")
  }
}
