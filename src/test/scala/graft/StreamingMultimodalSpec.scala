package graft

import graft.multimodal.Multimodal
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{VectorOp, VectorState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("windowed event stats aggregate a micro-batched stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val q = StreamingOps.windowedEventStats(events, "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("win_stats").outputMode("update").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:01:00")
      val t1 = Timestamp.valueOf("2024-01-01 00:02:00")
      val t2 = Timestamp.valueOf("2024-01-01 00:07:00")
      input.addData((t0, "click", 1.0), (t1, "click", 2.0), (t2, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n, sum_value FROM win_stats")
        .as[(String, Long, Double)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming near-dup pairs equal the batch LSH operator across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // 30 base docs of 40 distinct tokens each; docs < 8 get a near-copy
    // differing in 2 tokens (jaccard ≈ 38/42 ≈ 0.9 on 3-gram shingles of
    // a token-distinct corpus the two operators shingle identically)
    def text(i: Long): String = (0 until 40).map(t => s"w${i}x$t").mkString(" ")
    def copyText(i: Long): String =
      ((0 until 38).map(t => s"w${i}x$t") ++ Seq("changedA", "changedB")).mkString(" ")
    val base = (0L until 30L).map(i => (i, text(i)))
    val copies = (0L until 8L).map(i => (i + 1000L, copyText(i)))

    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupStream(input.toDF().toDF("doc_id", "text"), threshold = 0.8)
      .writeStream.format("memory").queryName("neardup_stream").outputMode("append").start()
    try {
      input.addData(base: _*) // copies arrive in a LATER batch: state must carry
      q.processAllAvailable()
      input.addData(copies: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT DISTINCT doc_a, doc_b, round(jaccard, 9) FROM neardup_stream")
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.dedup.Dedup
      .minhashLshPairs((base ++ copies).toDF("doc_id", "text"), threshold = 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9))
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty && batch.map(p => (p._1, p._2)) ===
      (0L until 8L).map(i => (i, i + 1000L)).toSet, s"unexpected batch pairs: $batch")
    assert(streamed === batch)
  }

  test("streaming near-dup skew guard: a capped bucket emits representative star pairs") {
    implicit val sqlCtx = spark.sqlContext
    val same = (0 until 50).map(t => s"boiler$t").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupStream(input.toDF().toDF("doc_id", "text"),
        threshold = 0.8, maxBucketSize = 2)
      .writeStream.format("memory").queryName("neardup_skew").outputMode("append").start()
    try {
      input.addData((0L until 6L).map(i => (i, same)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.sql("SELECT DISTINCT doc_a, doc_b, jaccard FROM neardup_skew")
      .as[(Long, Long, Double)].collect().toSet
    // doc 0 is every bucket's representative: 5 verified star pairs, not C(6,2)
    assert(pairs === (1L until 6L).map(i => (0L, i, 1.0)).toSet)
  }

  test("disk-state near-dup sink: pairs equal the batch operator across batches; " +
    "replay absorbed; lost state file fails loudly") {
    def text(i: Long): String = (0 until 40).map(t => s"w${i}x$t").mkString(" ")
    def copyText(i: Long): String =
      ((0 until 38).map(t => s"w${i}x$t") ++ Seq("changedA", "changedB")).mkString(" ")
    val base = (0L until 30L).map(i => (i, text(i)))
    val copies = (0L until 8L).map(i => (i + 1000L, copyText(i)))

    val dir = java.nio.file.Files.createTempDirectory("neardup_sink").toString
    val sink = StreamingOps.nearDupSink(spark, dir, threshold = 0.8)
    // drive the sink directly (foreachBatch shape): copies in a LATER
    // batch — the disk tables must carry the earlier members
    sink(base.toDF("doc_id", "text"), 0L)
    sink(copies.toDF("doc_id", "text"), 1L)

    val got = StreamingOps.nearDupSinkPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9))
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.dedup.Dedup
      .minhashLshPairs((base ++ copies).toDF("doc_id", "text"), threshold = 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9))
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty && got === batch)

    // at-least-once redelivery of batch 1: the id replay guard must not
    // re-pair or self-pair; the converged pair set is unchanged
    sink(copies.toDF("doc_id", "text"), 1L)
    val afterReplay = StreamingOps.nearDupSinkPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9))
      .as[(Long, Long, Double)].collect().toSet
    assert(afterReplay === batch)

    // losing a manifested docs delta file must fail the NEXT batch loudly
    val docsDir = new java.io.File(s"$dir/docs")
    val victim = new java.io.File(s"$docsDir/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val e = intercept[Exception] {
      sink(Seq((5000L, text(99))).toDF("doc_id", "text"), 2L)
    }
    assert(e.getMessage.contains("INCOMPLETE"), s"got: ${e.getMessage}")
  }

  test("disk-state near-dup sink skew guard: oversized bucket degrades to verified star pairs") {
    val same = (0 until 50).map(t => s"boiler$t").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("neardup_sink_skew").toString
    val sink = StreamingOps.nearDupSink(spark, dir, threshold = 0.8, maxBucketSize = 2)
    sink((0L until 2L).map(i => (i, same)).toDF("doc_id", "text"), 0L)
    sink((2L until 6L).map(i => (i, same)).toDF("doc_id", "text"), 1L)
    val pairs = StreamingOps.nearDupSinkPairs(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    // batch 0's pair (0,1) was all-pairs (bucket of 2 <= cap); batch 1
    // pushes every bucket to 6 > cap, so docs 2-5 star-pair with the
    // min-id representative 0 — n-1 growth, never C(n,2)
    assert(pairs === Set((0L, 1L, 1.0)) ++ (2L until 6L).map(i => (0L, i, 1.0)))
  }

  test("watermark drops events later than the lateness bound") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.windowedEventStats(events, "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("late_stats").outputMode("append").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 01:00:00"), "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far past the first window
      input.addData((Timestamp.valueOf("2024-01-01 02:00:00"), "click", 1.0))
      q.processAllAvailable()
      // this event is > 10 min behind the watermark: must be dropped
      input.addData((Timestamp.valueOf("2024-01-01 01:00:30"), "click", 99.0))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 03:00:00"), "click", 1.0))
      q.processAllAvailable()
      val sums = spark.sql("SELECT sum(sum_value) FROM late_stats").as[Double].collect().head
      assert(sums <= 2.0, s"late event leaked into aggregation: $sums")
    } finally q.stop()
  }

  test("sliding windows land each event in overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.slidingEventStats(events, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("slide_stats").outputMode("update").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 00:07:00"), "click", 1.0))
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM slide_stats").as[Long].collect().head
      assert(n === 2, s"event should appear in 2 overlapping windows, got $n")
    } finally q.stop()
  }

  test("stream-stream join enriches events within bounded skew") {
    implicit val sqlCtx = spark.sqlContext
    val ev = MemoryStream[(Timestamp, Long, String, Double)]
    val us = MemoryStream[(Timestamp, Long, String)]
    val events = ev.toDF().toDF("ts", "user_id", "event_type", "value")
    val users = us.toDF().toDF("u_ts", "user_id", "segment")
    val q = StreamingOps.enrichedEvents(events, users, "10 minutes")
      .select("user_id", "event_type", "segment")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      us.addData((Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "gold"))
      ev.addData((Timestamp.valueOf("2024-01-01 00:05:00"), 1L, "click", 1.0))
      ev.addData((Timestamp.valueOf("2024-01-01 01:00:00"), 1L, "click", 1.0)) // outside skew
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, event_type, segment FROM enriched")
        .as[(Long, String, String)].collect()
      assert(rows.toSeq === Seq((1L, "click", "gold"))) // only the in-skew event joined
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence per digest within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingOps.dedupStream(docs, "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData((t, 1L, "same text"), (t, 2L, "same text"), (t, 3L, "other text"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_stream").as[Long].collect().sorted
      assert(ids.length === 2)
      assert(ids.contains(3L))
    } finally q.stop()
  }

  test("latest-wins vector state stream applies upserts and tombstones (dataset.go:238-348)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[VectorOp]
    val q = StreamingOps.latestVectorState(spark, input.toDS())
      .writeStream.format("memory").queryName("vec_state").outputMode("update").start()
    try {
      input.addData(
        VectorOp(1L, "upsert", Array(1f, 1f), version = 1),
        VectorOp(2L, "upsert", Array(2f, 2f), version = 1))
      q.processAllAvailable()
      input.addData(
        VectorOp(1L, "upsert", Array(9f, 9f), version = 2), // newer wins
        VectorOp(2L, "upsert", Array(0f, 0f), version = 0), // stale, ignored
        VectorOp(3L, "remove", Array.empty, version = 1))   // tombstone
      q.processAllAvailable()
      val state = spark.sql("SELECT id, vector, version, deleted FROM vec_state")
        .as[VectorState].collect()
        .groupBy(_.id).view.mapValues(_.maxBy(_.version)).toMap
      assert(state(1L).vector.toSeq === Seq(9f, 9f) && state(1L).version === 2)
      assert(state(2L).vector.toSeq === Seq(2f, 2f) && state(2L).version === 1)
      assert(state(3L).deleted)
    } finally q.stop()
  }

  test("dedup-groups sink: incremental components equal batch CC across " +
    "batch-boundary merges; stale replay absorbed; lost state fails loudly") {
    val b0 = Seq((10L, 11L), (20L, 21L), (40L, 41L))
    val b1 = Seq((11L, 12L), (30L, 31L)) // extends {10,11} across the boundary
    val b2 = Seq((12L, 20L), (31L, 40L)) // LATE edges merging clusters pairwise
    val dir = java.nio.file.Files.createTempDirectory("dgroups_sink").toString
    val sink = StreamingOps.dedupGroupsSink(spark, dir)
    sink(b0.toDF("doc_a", "doc_b"), 0L)
    sink(b1.toDF("doc_a", "doc_b"), 1L)
    sink(b2.toDF("doc_a", "doc_b"), 2L)
    def read() = StreamingOps.dedupGroupsSinkGroups(spark, dir)
      .as[(Long, Long)].collect().toSet
    val got = read()
    val batch = graft.dedup.Dedup
      .connectedComponents((b0 ++ b1 ++ b2).toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toSet
    assert(got === batch)
    assert(got === Set((10L, 10L), (11L, 10L), (12L, 10L), (20L, 10L), (21L, 10L),
      (30L, 30L), (31L, 30L), (40L, 30L), (41L, 30L)))

    // at-least-once redelivery of batch 1 AFTER later merges: the stale
    // parent appends are absorbed by min-aggregation (monotone labels)
    sink(b1.toDF("doc_a", "doc_b"), 1L)
    assert(read() === batch)

    // union-find forest invariant: parent strictly below id on every row
    val rows = spark.read.parquet(s"$dir/labels")
      .select("id", "parent").as[(Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall { case (id, p) => p < id })

    // a lost manifested labels delta file must fail the NEXT batch loudly
    val victim = new java.io.File(s"$dir/labels/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val e = intercept[Exception] {
      sink(Seq((70L, 71L)).toDF("doc_a", "doc_b"), 3L)
    }
    assert(e.getMessage.contains("INCOMPLETE"), s"got: ${e.getMessage}")
  }

  test("dedup-groups sink: a deep root chain from successive merges resolves and FLATTENS on first touch") {
    val dir = java.nio.file.Files.createTempDirectory("dgroups_chain").toString
    val sink = StreamingOps.dedupGroupsSink(spark, dir)
    // component {100, 101}; then six successive merges, each with a new
    // smaller root, grow an interior chain 100 -> 90 -> ... -> 40 that
    // node 101 never touches
    sink(Seq((100L, 101L)).toDF("doc_a", "doc_b"), 0L)
    (1 to 6).foreach { k =>
      sink(Seq((100L - 10L * k, 110L - 10L * k)).toDF("doc_a", "doc_b"), k.toLong)
    }
    // first touch of 101 walks the 7-hop chain (well within the round
    // bound) AND must compress every interior chain node it traversed
    sink(Seq((101L, 200L)).toDF("doc_a", "doc_b"), 7L)
    val got = StreamingOps.dedupGroupsSinkGroups(spark, dir)
      .as[(Long, Long)].collect().toSet
    val members = Set(40L, 50L, 60L, 70L, 80L, 90L, 100L, 101L, 200L)
    assert(got === members.map(m => (m, 40L)))
    // flattening: the walked chain nodes now carry DIRECT rows to the root
    val minPar = spark.read.parquet(s"$dir/labels")
      .groupBy("id").agg(min("parent").as("p"))
      .as[(Long, Long)].collect().toMap
    Seq(50L, 60L, 70L, 80L, 90L, 100L, 101L, 200L).foreach { n =>
      assert(minPar(n) === 40L, s"chain node $n not flattened: ${minPar(n)}")
    }
  }

  test("media phash sink: pairs equal the batch banded operator across batches; " +
    "replay absorbed; lost state fails loudly; star guard degrades oversized buckets") {
    import graft.multimodal.Multimodal
    def img(seed: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      Multimodal.encodePng(Array.fill(16 * 12 * 3)((48 + rnd.nextInt(128)).toByte), 16, 12)
    }
    // base images in batch 0; brightness copies arrive in batch 1 — the
    // accumulated tables must pair them against the earlier members
    val base = (0 until 20).map(i => (i.toLong, img(i)))
    val copies = (0 until 6).map { i =>
      val rnd = new scala.util.Random(i)
      val rgb = Array.fill(16 * 12 * 3)((48 + rnd.nextInt(128)).toByte)
        .map(b => ((b & 0xff) + 20).toByte)
      (i + 1000L, Multimodal.encodePng(rgb, 16, 12))
    }
    val dir = java.nio.file.Files.createTempDirectory("media_phash_sink").toString
    val sink = StreamingOps.mediaPhashSink(spark, dir, maxDist = 3, bands = 4)
    sink(graft.dedup.ImageDedup.dHashes(spark, base.toDF("id", "payload")), 0L)
    sink(graft.dedup.ImageDedup.dHashes(spark, copies.toDF("id", "payload")), 1L)
    def read() = StreamingOps.mediaPhashSinkPairs(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    val got = read()
    val batchPairs = graft.dedup.HammingLsh.bandedPairs(
        graft.dedup.ImageDedup.dHashes(spark, (base ++ copies).toDF("id", "payload")),
        maxDist = 3, bands = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(batchPairs.nonEmpty && got === batchPairs)
    assert(got === (0 until 6).map(i => (i.toLong, i + 1000L, 0L)).toSet)

    // at-least-once redelivery: the id replay guard absorbs it
    sink(graft.dedup.ImageDedup.dHashes(spark, copies.toDF("id", "payload")), 1L)
    assert(read() === batchPairs)

    // an oversized bucket (identical hashes) degrades to star pairs
    val flat = Multimodal.encodePng(Array.fill(16 * 12 * 3)(100.toByte), 16, 12)
    val skewDir = java.nio.file.Files.createTempDirectory("media_phash_skew").toString
    val skewSink = StreamingOps.mediaPhashSink(spark, skewDir, maxDist = 3,
      bands = 4, maxBucketSize = 3)
    skewSink(graft.dedup.ImageDedup.dHashes(spark,
      (0L until 3L).map(i => (i, flat)).toDF("id", "payload")), 0L)
    skewSink(graft.dedup.ImageDedup.dHashes(spark,
      (3L until 8L).map(i => (i, flat)).toDF("id", "payload")), 1L)
    val skewPairs = StreamingOps.mediaPhashSinkPairs(spark, skewDir)
      .as[(Long, Long, Long)].collect().toSet
    // batch 0's 3-clique was within the cap (all pairs); batch 1 pushes
    // buckets past it, so 3-7 star-pair with min-id 0 — n-1 growth
    assert(skewPairs === Set((0L, 1L, 0L), (0L, 2L, 0L), (1L, 2L, 0L)) ++
      (3L until 8L).map(i => (0L, i, 0L)))

    // a lost manifested hashes file fails the NEXT batch loudly
    val victim = new java.io.File(s"$dir/hashes/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val e = intercept[Exception] {
      sink(graft.dedup.ImageDedup.dHashes(spark,
        Seq((5000L, img(77))).toDF("id", "payload")), 2L)
    }
    assert(e.getMessage.contains("INCOMPLETE"), s"got: ${e.getMessage}")
  }

}

class StreamingIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("token-budget sink: deterministic admission, replay-safe, saturates across batches") {
    val budgets = Map("s0" -> 40L, "s1" -> 0L)
    // doc i: (i % 5) + 1 tokens, two sources, two batches by parity
    val docs = (0L until 120L).map { i =>
      (i, s"s${i % 2}", (0L to i % 5).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("tb_sink").toString
    val sink = StreamingOps.tokenBudgetSink(spark, dir, budgets)
    sink(docs.filter(col("doc_id") % 2 === 0), 0L)
    sink(docs.filter(col("doc_id") % 2 === 1), 1L)
    val got = StreamingOps.tokenBudgetAdmitted(spark, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // reference: ONE window ordered by (batch, bucket, id) per source
    val b = graft.ops.Sampling.bucket(col("doc_id"), "s")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("__batch"), b, col("doc_id"))
    val want = docs.withColumn("__batch", col("doc_id") % 2)
      .withColumn("__tok", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("__cum", sum("__tok").over(w))
      .filter(col("source") === "s0" && col("__cum") - col("__tok") < 40L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === want)
    assert(got.nonEmpty && !got.exists(_ % 2 === 1)) // s1's zero budget admits nothing
    // at-least-once redelivery of a committed batch changes nothing
    sink(docs.filter(col("doc_id") % 2 === 0), 0L)
    assert(StreamingOps.tokenBudgetAdmitted(spark, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq === got)
    // a saturated source admits nothing more in later batches: every s0
    // admission happened in batch 0 (budget 40 << batch-0 s0 tokens)
    val batch0Toks = docs.filter(col("doc_id") % 2 === 0 && col("source") === "s0")
      .select(size(split(trim(col("text")), "\\s+")).cast("long")).as[Long].collect().sum
    assert(batch0Toks > 40L, "fixture: batch 0 must saturate s0")
    assert(got.forall(_ % 2 === 0L), "saturated source admitted from a later batch")
    // restart with different budgets is refused (retroactive rewrite)
    intercept[IllegalArgumentException](
      StreamingOps.tokenBudgetSink(spark, dir, Map("s0" -> 99L)))
    // an empty admission batch still commits its replay guard
    sink(docs.filter(lit(false)), 2L)
    sink(docs.filter(lit(false)), 2L) // replay skipped, no error
    assert(StreamingOps.tokenBudgetAdmitted(spark, dir).count() === got.length.toLong)
    // the DataFrame-budgets (high-cardinality) form admits the same set
    val dir2 = java.nio.file.Files.createTempDirectory("tb_sink_df").toString
    val sinkDf = StreamingOps.tokenBudgetSinkDF(spark, dir2,
      budgets.toSeq.toDF("source", "budget"))
    sinkDf(docs.filter(col("doc_id") % 2 === 0), 0L)
    sinkDf(docs.filter(col("doc_id") % 2 === 1), 1L)
    assert(StreamingOps.tokenBudgetAdmitted(spark, dir2)
      .select("doc_id").as[Long].collect().sorted.toSeq === got)
    // and a Map-form restart over a DF-form directory validates (same meta)
    StreamingOps.tokenBudgetSink(spark, dir2, budgets)
  }

  test("sinks refuse a meta-committed dir whose manifest was lost — no orphan blessing") {
    // a committed meta sidecar promises committed manifests; if one is
    // lost (partial restore, torn compaction swap), re-seeding it from a
    // raw listing would bless orphaned batch files as committed — and for
    // the token-budget sink, silently RESET prior totals to zero and
    // re-admit past every budget. Construction must fail loudly instead.
    val docs = (0L until 20L).map(i => (i, "s0", "w1 w2 w3"))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("tb_lostman").toString
    val sink = StreamingOps.tokenBudgetSink(spark, dir, Map("s0" -> 1000L))
    sink(docs, 0L)
    assert(new java.io.File(s"$dir/totals/_manifest").delete())
    val e = intercept[IllegalArgumentException](
      StreamingOps.tokenBudgetSink(spark, dir, Map("s0" -> 1000L)))
    assert(e.getMessage.contains("committed meta but no manifest under"))
    // same contract for the contamination-rate sink
    val bench = docs.limit(2).select(col("doc_id").as("bench_id"), col("text"))
    val dir2 = java.nio.file.Files.createTempDirectory("dcr_lostman").toString
    StreamingOps.decontaminateRateSink(spark, dir2, bench, n = 3)
    assert(new java.io.File(s"$dir2/matched/_manifest").delete())
    val e2 = intercept[IllegalArgumentException](
      StreamingOps.decontaminateRateSink(spark, dir2, bench, n = 3))
    assert(e2.getMessage.contains("no manifest"))
  }

  test("contamination-rate sink: converges to the batch audit, replay-safe, bench-change refused") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id").as("bench_id"),
        concat(concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 5, 20)),
          lit(" eval item "), col("doc_id").cast("string"),
          lit(" held out suffix")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("dcr_sink").toString
    val sink = StreamingOps.decontaminateRateSink(spark, dir, bench, n = 13)
    def snap() = StreamingOps.decontaminateRateMaintained(spark, dir)
      .orderBy("bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // before any batch: denominators in place, zero matches
    val pre = snap()
    assert(pre.nonEmpty && pre.forall(t => t._2 > 0 && t._3 == 0L && t._4 == 0.0))
    sink(docs.filter(col("doc_id") % 2 === 0), 0L)
    val mid = snap()
    sink(docs.filter(col("doc_id") % 2 === 1), 1L)
    val got = snap()
    // monotone convergence: batch 1 can only add matches
    mid.zip(got).foreach { case (m, g) => assert(m._3 <= g._3 && m._1 == g._1) }
    // converged = the batch audit, row for row (same longs, same division)
    val want = graft.dedup.Dedup.contaminationRate(docs, bench, n = 13)
      .orderBy("bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === want)
    assert(got.exists(_._3 > 0L), "fixture must contain real contamination")
    // at-least-once redelivery of a committed batch changes nothing
    sink(docs.filter(col("doc_id") % 2 === 0), 0L)
    assert(snap() === got)
    // the matched log is bounded by the benchmark's own shingle count
    val benchShingles = want.map(_._2).sum
    val logged = spark.read.parquet(s"$dir/matched").filter(col("real")).count()
    assert(logged <= benchShingles)
    // restarting against a DIFFERENT benchmark (or n) is refused loudly
    intercept[IllegalArgumentException](
      StreamingOps.decontaminateRateSink(spark, dir, bench.limit(3), n = 13))
    intercept[IllegalArgumentException](
      StreamingOps.decontaminateRateSink(spark, dir, bench, n = 7))
    // the same benchmark revalidates and keeps serving
    StreamingOps.decontaminateRateSink(spark, dir, bench, n = 13)
    assert(snap() === got)
  }

  test("token-budget compaction folds totals to one batch, keeps the admitted set identical, blocks folded replays") {
    // s0 saturates mid-stream (budget 150 over 60 tokens/batch); s1 never
    // does — post-compaction admission must keep honoring BOTH states
    val budgets = Map("s0" -> 150L, "s1" -> 1000L)
    def mkBatch(b: Int) = (0 until 40).map { i =>
      ((b * 100 + i).toLong, s"s${i % 2}", "w1 w2 w3")
    }.toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("tb_compact").toString
    val sink = StreamingOps.tokenBudgetSink(spark, dir, budgets)
    (0 until 6).foreach(b => sink(mkBatch(b), b.toLong))
    def admittedNow(): Seq[(Long, String, Long)] =
      StreamingOps.tokenBudgetAdmitted(spark, dir)
        .as[(Long, String, Long)].collect().sorted.toSeq
    val before = admittedNow()
    // s0: 150/3 = 50 docs then saturated; s1: all 6 x 20 docs under budget
    assert(before.count(_._2 == "s0") === 50)
    assert(before.count(_._2 == "s1") === 120)
    assert(StreamingOps.tokenBudgetTotalsBatches(spark, dir) === 6)
    StreamingOps.compactTokenBudget(spark, dir)
    assert(StreamingOps.tokenBudgetTotalsBatches(spark, dir) === 1)
    assert(admittedNow() === before, "compaction changed the admitted set")
    // a checkpoint-recovery replay of a FOLDED batch must not re-admit
    sink(mkBatch(1), 1L)
    assert(admittedNow() === before, "a folded-batch replay double-admitted")
    // fresh post-compaction batches admit against the COMPACTED totals:
    // s0 stays saturated, s1 keeps absorbing
    sink(mkBatch(6), 6L)
    val after = admittedNow()
    assert(after.count(_._2 == "s0") === 50, "saturated source re-admitted after compaction")
    assert(after.count(_._2 == "s1") === 140)
    // re-compaction folds the fresh batch too, idempotently
    StreamingOps.compactTokenBudget(spark, dir)
    assert(StreamingOps.tokenBudgetTotalsBatches(spark, dir) === 1)
    assert(admittedNow() === after)
    // gate: measured-but-not-fired under threshold, fires over it
    sink(mkBatch(7), 7L)
    sink(mkBatch(8), 8L)
    val (n1, fired1) = StreamingOps.compactTokenBudgetIfNeeded(spark, dir, maxBatches = 8)
    assert(n1 === 3 && !fired1)
    val (n2, fired2) = StreamingOps.compactTokenBudgetIfNeeded(spark, dir, maxBatches = 2)
    assert(n2 === 3 && fired2)
    assert(StreamingOps.tokenBudgetTotalsBatches(spark, dir) === 1)
    val afterGate = admittedNow()
    assert(afterGate.count(_._2 == "s0") === 50 && afterGate.count(_._2 == "s1") === 180)
    // torn folded-sidecar swap: live gone, complete tmp survives — the
    // replay guard must hold, and the next compaction resumes the rename
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/folded"),
      java.nio.file.Paths.get(s"$dir/folded.tmp"))
    sink(mkBatch(0), 0L)
    assert(admittedNow() === afterGate, "torn sidecar swap lost the folded-batch replay guard")
    StreamingOps.compactTokenBudget(spark, dir)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/folded")))
    // torn totals swap: totals deleted after the manifest-complete tmp
    // landed — the next compaction (or the gate) completes the rename
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/totals"),
      java.nio.file.Paths.get(s"$dir/totals.compact"))
    val (n3, fired3) = StreamingOps.compactTokenBudgetIfNeeded(spark, dir, maxBatches = 64)
    assert(n3 === -1 && fired3)
    assert(admittedNow() === afterGate)
    assert(StreamingOps.tokenBudgetTotalsBatches(spark, dir) === 1)
  }

  test("streaming mutations maintain persisted HNSW partitions (online insert path)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hnsw_stream").toString
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2))
      .outputMode("append").start()
    try {
      input.addData(
        StreamingOps.VectorOp(1L, "upsert", Array(1f, 0f), 1),
        StreamingOps.VectorOp(2L, "upsert", Array(0f, 1f), 1),
        StreamingOps.VectorOp(3L, "upsert", Array(1f, 1f), 1))
      q.processAllAvailable()
      input.addData(
        StreamingOps.VectorOp(2L, "upsert", Array(0.9f, 0.9f), 2), // re-upsert moves it
        StreamingOps.VectorOp(3L, "remove", Array.empty, 2))
      q.processAllAvailable()

      // served from the delta log, then from the persisted per-partition
      // graphs the compaction folds it into
      for (stage <- Seq("delta", "compacted base")) withClue(s"$stage: ") {
        if (stage != "delta") StreamingOps.compactHnswMaintained(spark, dir)
        val res = StreamingOps.searchHnswMaintained(
          spark, dir, Array((0L, Array(1f, 1f))), k = 3).collect()
        val ids = res.map(_.getLong(1)).toSet
        assert(!ids.contains(3L), "removed id returned")
        assert(ids === Set(1L, 2L))
        // id 2's vector was replaced: nearest to (1,1) is now 2
        assert(res.minBy(_.getDouble(2)).getLong(1) === 2L)
      }
    } finally q.stop()
  }

  test("streaming mutations maintain a persisted IVF index (delta log + latest-wins view)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    val centroids = Array(Array(1f, 0f), Array(0f, 1f))
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids))
      .outputMode("append").start()
    try {
      input.addData(
        StreamingOps.VectorOp(1L, "upsert", Array(1f, 0.1f), 1),
        StreamingOps.VectorOp(2L, "upsert", Array(0.1f, 1f), 1),
        StreamingOps.VectorOp(3L, "upsert", Array(0.9f, 0.2f), 1))
      q.processAllAvailable()
      input.addData(
        StreamingOps.VectorOp(2L, "upsert", Array(0.95f, 0.1f), 2), // re-upsert moves cell 1 -> 0
        StreamingOps.VectorOp(3L, "remove", Array.empty, 2))
      q.processAllAvailable()

      val state = StreamingOps.ivfMaintainedState(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(state.toSeq === Seq((1L, 0), (2L, 0)), s"state was ${state.toSeq}")

      // searching only cell 0 (nprobe=1 around (1,0)) finds both survivors
      val res = StreamingOps.searchIvfMaintained(spark, dir, Array((0L, Array(1f, 0f))), k = 3, nprobe = 1)
        .collect().map(_.getLong(1)).toSet
      assert(res === Set(1L, 2L))

      // compaction: same state, bounded history — and the TOMBSTONE for id
      // 3 must survive it, so a post-compaction stale upsert stays dead
      StreamingOps.compactIvfMaintained(spark, dir)
      val afterCompact = StreamingOps.ivfMaintainedState(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(afterCompact.toSeq === Seq((1L, 0), (2L, 0)))
      input.addData(StreamingOps.VectorOp(3L, "upsert", Array(0.9f, 0.2f), 1)) // stale: removed @v2
      q.processAllAvailable()
      val afterStale = StreamingOps.ivfMaintainedState(spark, dir)
        .collect().map(_.getLong(0)).toSet
      assert(afterStale === Set(1L, 2L), "compaction dropped the tombstone: stale upsert resurrected id 3")
    } finally q.stop()
  }

  test("IVF delta log: a lost file fails the load; an extra (replayed) file is tolerated") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream_manifest").toString
    val centroids = Array(Array(1f, 0f), Array(0f, 1f))
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids))
      .outputMode("append").start()
    try {
      input.addData((0L until 20L).map(i =>
        StreamingOps.VectorOp(i, "upsert", Array(1f, i.toFloat / 20), 1)): _*)
      q.processAllAvailable()
      input.addData(StreamingOps.VectorOp(50L, "upsert", Array(0f, 1f), 1))
      q.processAllAvailable()
    } finally q.stop()

    // extra file (an at-least-once replay remnant): copy a part file under a new name
    val batchDir = new java.io.File(s"$dir/delta").listFiles().filter(_.getName.startsWith("batch=")).head
    val cellDir = batchDir.listFiles().filter(_.getName.startsWith("cell=")).head
    val part = cellDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val extra = new java.io.File(cellDir, "part-replayed-extra.parquet")
    java.nio.file.Files.copy(part.toPath, extra.toPath)
    StreamingOps.ivfMaintainedState(spark, dir).collect() // must not throw
    java.nio.file.Files.delete(extra.toPath)

    // lost file: delete a manifest-listed part file -> load must FAIL
    java.nio.file.Files.delete(part.toPath)
    val e = intercept[Exception](StreamingOps.ivfMaintainedState(spark, dir).collect())
    assert(e.getMessage.contains("INCOMPLETE"), s"got: ${e.getMessage}")
  }

  test("IVF maintained drift: zero after sink assignment, rises when vectors migrate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream_drift").toString
    val centroids = Array(Array(1f, 0f), Array(0f, 1f))
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids))
      .outputMode("append").start()
    try {
      input.addData((0L until 10L).map(i =>
        StreamingOps.VectorOp(i, "upsert", Array(1f, 0.01f * i), 1)): _*)
      q.processAllAvailable()
      assert(StreamingOps.ivfMaintainedDrift(spark, dir) === 0.0)
      // TRUE drift = centroids stale relative to vectors, which the sink
      // itself can't produce (it assigns against the same centroids it
      // stores) — simulate the "world moved" case by swapping the
      // persisted centroids post-hoc: every stored cell is now wrong
      import spark.implicits._
      Seq((0, Seq(0f, 1f)), (1, Seq(1f, 0f))).toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      assert(StreamingOps.ivfMaintainedDrift(spark, dir) === 1.0)
    } finally q.stop()
  }

  test("IVF maintained view equals batch assignment over survivors (pure-function equality)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream_eq").toString
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
    val data = vecs.toDF("id", "vector")
    val centroids = graft.knn.Ivf.train(spark, data, c = 4, iterations = 1)
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = StreamingOps.versionedOps(spark, input.toDS()).writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids))
      .outputMode("update").start()
    try {
      // two batches: all upserts, then removes of ids % 5 == 0 plus a
      // STALE re-upsert of id 7 that the version store must suppress
      input.addData(vecs.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 2) }: _*)
      q.processAllAvailable()
      input.addData(vecs.filter(_._1 % 5 == 0)
        .map { case (i, _) => StreamingOps.VectorOp(i, "remove", Array.empty, 3) } :+
        StreamingOps.VectorOp(7L, "upsert", Array.fill(8)(9f), 1): _*)
      q.processAllAvailable()

      val queries = vecs.take(5).toArray
      val maintained = StreamingOps.searchIvfMaintained(spark, dir, queries, k = 5, nprobe = 2)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
      val surviving = data.filter($"id" % 5 =!= 0)
      val batch = graft.knn.Ivf.search(spark,
          graft.knn.Ivf.assign(spark, surviving, centroids), centroids, queries, k = 5, nprobe = 2)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
      assert(maintained === batch)
    } finally q.stop()
  }

  test("time travel: as-of view reconstructs past state; pre-horizon reads fail loudly") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream_asof").toString
    val centroids = Array(Array(1f, 0f), Array(0f, 1f))
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids))
      .outputMode("append").start()
    try {
      input.addData(
        StreamingOps.VectorOp(1L, "upsert", Array(1f, 0.1f), 1),
        StreamingOps.VectorOp(2L, "upsert", Array(0.1f, 1f), 1),
        StreamingOps.VectorOp(3L, "upsert", Array(0.9f, 0.2f), 1))
      q.processAllAvailable()
      input.addData(
        StreamingOps.VectorOp(2L, "upsert", Array(0.95f, 0.1f), 2), // cell 1 -> 0
        StreamingOps.VectorOp(3L, "remove", Array.empty, 2))
      q.processAllAvailable()

      // as of v1: id 3 alive, id 2 still in cell 1 with its ORIGINAL vector
      val v1 = StreamingOps.ivfMaintainedStateAsOf(spark, dir, 1L)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(v1.toSeq === Seq((1L, 0), (2L, 1), (3L, 0)), s"as-of-1 state was ${v1.toSeq}")
      // as of v2 == current
      val v2 = StreamingOps.ivfMaintainedStateAsOf(spark, dir, 2L)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(v2.toSeq === Seq((1L, 0), (2L, 0)))

      // as-of search serves the later-removed id 3 from cell 0
      val hits = StreamingOps.searchIvfMaintained(spark, dir,
          Array((0L, Array(1f, 0f))), k = 3, nprobe = 1, asOf = Some(1L))
        .collect().map(_.getLong(1)).toSet
      assert(hits === Set(1L, 3L), s"as-of-1 nprobe=1 cell-0 hits were $hits")

      // compaction moves the horizon to 2: v1 is gone and must throw, v2 serves
      StreamingOps.compactIvfMaintained(spark, dir)
      val e = intercept[IllegalArgumentException](
        StreamingOps.ivfMaintainedStateAsOf(spark, dir, 1L).collect())
      assert(e.getMessage.contains("compaction horizon"))
      val v2after = StreamingOps.ivfMaintainedStateAsOf(spark, dir, 2L)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(v2after.toSeq === Seq((1L, 0), (2L, 0)))

      // post-compaction appends extend history ABOVE the horizon: v3
      // removes id 1, and both v2 and v3 remain exactly readable
      input.addData(StreamingOps.VectorOp(1L, "remove", Array.empty, 3))
      q.processAllAvailable()
      val v2late = StreamingOps.ivfMaintainedStateAsOf(spark, dir, 2L)
        .collect().map(_.getLong(0)).toSet
      assert(v2late === Set(1L, 2L))
      val v3 = StreamingOps.ivfMaintainedStateAsOf(spark, dir, 3L)
        .collect().map(_.getLong(0)).toSet
      assert(v3 === Set(2L))
    } finally q.stop()
  }

  private def dirBytes(d: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(d))
  }

  test("HNSW delta sink: per-batch bytes scale with the batch, not the index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hnsw_delta_bytes").toString
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 300L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
    val input = MemoryStream[StreamingOps.VectorOp]
    val sink = StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2)
    val q = input.toDS().writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      input.addData(vecs.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
      StreamingOps.compactHnswMaintained(spark, dir)

      val hconf = spark.sparkContext.hadoopConfiguration
      val baseBefore = graft.io.Manifest.read(s"$dir/base", hconf).get
      assert(baseBefore.nonEmpty, "compaction produced no base graphs")
      val deltaBefore = dirBytes(s"$dir/delta")

      input.addData(
        StreamingOps.VectorOp(1000L, "upsert", Array.fill(8)(0.5f), 1),
        StreamingOps.VectorOp(5L, "remove", Array.empty, 2))
      q.processAllAvailable()

      val baseAfter = graft.io.Manifest.read(s"$dir/base", hconf).get
      assert(baseAfter === baseBefore, "a micro-batch rewrote base graph artifacts")
      val growth = dirBytes(s"$dir/delta") - deltaBefore
      assert(growth > 0, "the batch wrote nothing to the delta")
      assert(growth < 50000, s"a 2-op batch grew the delta by $growth bytes — not O(batch)")
      // and the mutations are visible: removed id gone, new id present
      val found = StreamingOps.searchHnswMaintained(spark, dir,
        Array((0L, Array.fill(8)(0.5f))), k = 1).collect()
      assert(found.head.getLong(1) === 1000L)
    } finally q.stop()
  }

  test("maintained base+delta search equals a from-scratch build (exact regime)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hnsw_delta_eq").toString
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
    // ef >= partition size: per-partition HNSW search is exhaustive, so
    // both sides are exact and row-for-row equality is deterministic
    val cfg = graft.hnsw.HnswConfig(ef = 500, efConstruction = 300)
    val input = MemoryStream[StreamingOps.VectorOp]
    val sink = StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2, config = cfg)
    val q = input.toDS().writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      input.addData(vecs.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
      input.addData(vecs.filter(_._1 % 5 == 0)
        .map { case (i, _) => StreamingOps.VectorOp(i, "remove", Array.empty, 2) }: _*)
      q.processAllAvailable()
      StreamingOps.compactHnswMaintained(spark, dir)
      // post-compaction wave, left UNcompacted so the search mixes base
      // graphs with live delta rows
      val moved = Seq(3L, 8L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      val fresh = (500L until 505L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      input.addData(
        moved.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 3) } ++
        fresh.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) } :+
        StreamingOps.VectorOp(7L, "remove", Array.empty, 3): _*)
      q.processAllAvailable()

      val queries = vecs.take(5).map { case (i, v) => (i, v) }.toArray
      val maintained = StreamingOps.searchHnswMaintained(spark, dir, queries, k = 5)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))

      val survivors = (vecs.filter(x => x._1 % 5 != 0 && x._1 != 3L && x._1 != 8L && x._1 != 7L)
        ++ moved ++ fresh).toDF("id", "vector")
      val scratchDir = java.nio.file.Files.createTempDirectory("hnsw_scratch").toString
      graft.hnsw.HnswSpark.buildAndSave(spark, survivors, scratchDir,
        config = cfg, numPartitions = 2)
      val scratch = graft.hnsw.HnswSpark.searchSaved(spark, scratchDir, queries, k = 5)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
      assert(maintained === scratch)

      // the DataFrame query side over the same mixed base+delta state
      // matches the array side row-for-row
      val maintainedDf = StreamingOps.searchHnswMaintainedDF(spark, dir,
          queries.toSeq.toDF("qid", "qvec"), k = 5)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
      assert(maintainedDf === maintained)
    } finally q.stop()
  }

  test("HNSW as-of: full version history replays; compaction sets the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hnsw_asof").toString
    // ef >= corpus: both the delta exact scan and the base graphs are
    // exhaustive, so every as-of read is deterministic
    val cfg = graft.hnsw.HnswConfig(ef = 100, efConstruction = 100)
    val input = MemoryStream[StreamingOps.VectorOp]
    val sink = StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2, config = cfg)
    val q = input.toDS().writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      // v1 inserts and v2 mutations land in ONE batch: the full-history
      // sink must keep BOTH versions of id 1 (a latest-wins-per-batch sink
      // would erase the v1 position and break the as-of read)
      input.addData(
        StreamingOps.VectorOp(1L, "upsert", Array(1f, 0f), 1),
        StreamingOps.VectorOp(2L, "upsert", Array(0f, 1f), 1),
        StreamingOps.VectorOp(3L, "upsert", Array(0.5f, 0.5f), 1),
        StreamingOps.VectorOp(1L, "upsert", Array(0f, 9f), 2),
        StreamingOps.VectorOp(2L, "remove", Array.empty, 2))
      q.processAllAvailable()
      def idsAt(asOf: Option[Long]): Map[Long, Double] =
        StreamingOps.searchHnswMaintained(spark, dir, Array((0L, Array(1f, 0f))), k = 3,
            asOf = asOf)
          .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
      val v1 = idsAt(Some(1L))
      assert(v1.keySet === Set(1L, 2L, 3L))
      assert(v1(1L) < 1e-6, "as-of v1 must serve id 1's ORIGINAL position")
      val v2 = idsAt(Some(2L))
      assert(v2.keySet === Set(1L, 3L))
      assert(v2(1L) > 1.0, "as-of v2 must serve id 1's MOVED position")
      assert(idsAt(None).keySet === Set(1L, 3L))

      // compaction collapses history; its newest folded version (2) becomes
      // the time-travel horizon — reads below it fail loudly
      StreamingOps.compactHnswMaintained(spark, dir)
      val e = intercept[Exception](idsAt(Some(1L)))
      assert(e.getMessage.contains("horizon"), e.getMessage)

      // post-compaction appends extend history ABOVE the horizon: v3
      // removes id 3, and both v2 and v3 stay exactly readable — v2 ids
      // now serve from the base graphs via their guard rows
      input.addData(StreamingOps.VectorOp(3L, "remove", Array.empty, 3))
      q.processAllAvailable()
      val v2late = idsAt(Some(2L))
      assert(v2late.keySet === Set(1L, 3L))
      assert(v2late(1L) > 1.0)
      assert(idsAt(Some(3L)).keySet === Set(1L))
    } finally q.stop()
  }

  test("compaction guards: stale post-compaction versions cannot shadow or resurrect") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hnsw_delta_guard").toString
    val input = MemoryStream[StreamingOps.VectorOp]
    val sink = StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2)
    val q = input.toDS().writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      input.addData(
        StreamingOps.VectorOp(7L, "upsert", Array(0f, 1f), 2),
        StreamingOps.VectorOp(1L, "upsert", Array(1f, 0f), 1),
        StreamingOps.VectorOp(2L, "upsert", Array(0.5f, 0.5f), 1))
      q.processAllAvailable()
      StreamingOps.compactHnswMaintained(spark, dir)
      input.addData(StreamingOps.VectorOp(1L, "remove", Array.empty, 3))
      q.processAllAvailable()
      StreamingOps.compactHnswMaintained(spark, dir) // tombstone must survive this
      // stale versions after both compactions: an old position for id 7
      // (guard v2 must win) and a pre-remove re-upsert of id 1 (tombstone
      // v3 must win)
      input.addData(
        StreamingOps.VectorOp(7L, "upsert", Array(1f, 0f), 1),
        StreamingOps.VectorOp(1L, "upsert", Array(1f, 0f), 2))
      q.processAllAvailable()

      val res = StreamingOps.searchHnswMaintained(spark, dir, Array((0L, Array(0f, 1f))), k = 3)
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
      val ids = res.map(_._1).toSet
      assert(ids === Set(7L, 2L), s"got $ids")
      assert(res.find(_._1 == 7L).get._2 < 1e-6, "stale upsert shadowed the folded position of id 7")
    } finally q.stop()
  }

  test("HNSW compaction swap is crash-recoverable; torn base fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hnsw_delta_crash").toString
    val rnd = new scala.util.Random(29)
    val input = MemoryStream[StreamingOps.VectorOp]
    val sink = StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2)
    val q = input.toDS().writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      input.addData((0L until 50L).map(i =>
        StreamingOps.VectorOp(i, "upsert", Array.fill(4)(rnd.nextFloat()), 1)): _*)
      q.processAllAvailable()
      StreamingOps.compactHnswMaintained(spark, dir)
      val queries = Array((0L, Array.fill(4)(0.5f)))
      def resultIds(): Seq[Long] =
        StreamingOps.searchHnswMaintained(spark, dir, queries, k = 5)
          .collect().map(_.getLong(1)).toSeq
      val expected = resultIds()

      // crash between base delete and rename: only base.compact remains
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/base"),
        java.nio.file.Paths.get(s"$dir/base.compact"))
      StreamingOps.compactHnswMaintained(spark, dir)
      assert(resultIds() === expected, "base-swap resume changed results")

      // crash between delta delete and rename: only delta.compact remains
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/delta"),
        java.nio.file.Paths.get(s"$dir/delta.compact"))
      StreamingOps.compactHnswMaintained(spark, dir)
      assert(resultIds() === expected, "delta-swap resume changed results")

      // restart contract: a sink with a different routing must throw
      val e1 = intercept[Exception](
        StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 3))
      assert(e1.getMessage.contains("already maintained"), e1.getMessage)

      // torn base (lost artifact) must fail the search, not degrade recall
      val lost = new java.io.File(s"$dir/base").listFiles()
        .filter(_.getName.endsWith(".hnsw")).head
      java.nio.file.Files.delete(lost.toPath)
      val e2 = intercept[Exception](resultIds())
      assert(e2.getMessage.contains("INCOMPLETE"), e2.getMessage)
    } finally q.stop()
  }

  test("maintained HNSW dir with no batches yet searches empty, never throws") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_delta_empty").toString
    StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2) // construction seeds the dir
    val res = StreamingOps.searchHnswMaintained(spark, dir, Array((0L, Array(1f, 0f))), k = 3)
    assert(res.collect().isEmpty)
    // a foreign (never-constructed) dir fails loudly instead
    val foreign = java.nio.file.Files.createTempDirectory("hnsw_foreign").toString
    intercept[Exception](
      StreamingOps.searchHnswMaintained(spark, foreign, Array((0L, Array(1f, 0f))), k = 3))
  }

  test("compactIfNeeded gates on manifest byte ratios for both index types") {
    implicit val sqlCtx = spark.sqlContext
    // IVF: a never-compacted log reads Infinity and compacts; then 0/no-op
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf_gate_c").toString
    val centroids = Array(Array(1f, 0f), Array(0f, 1f))
    val in1 = MemoryStream[StreamingOps.VectorOp]
    val q1 = in1.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, ivfDir, centroids))
      .outputMode("append").start()
    try {
      in1.addData((0L until 20L).map(i =>
        StreamingOps.VectorOp(i, "upsert", Array(1f, 0.01f * i), 1)): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(StreamingOps.ivfMaintainedDeltaRatio(spark, ivfDir).isPosInfinity)
    val (r1, ran1) = StreamingOps.compactIvfIfNeeded(spark, ivfDir)
    assert(r1.isPosInfinity && ran1)
    val (r2, ran2) = StreamingOps.compactIvfIfNeeded(spark, ivfDir)
    assert(r2 === 0.0 && !ran2)
    // the gated compaction preserved the view
    val res = StreamingOps.searchIvfMaintained(spark, ivfDir,
      Array((0L, Array(1f, 0f))), k = 3, nprobe = 2)
    assert(res.count() === 3)

    // HNSW: fresh delta over an empty base compacts; a small follow-up
    // batch is below a loose threshold, above a tight one
    val hDir = java.nio.file.Files.createTempDirectory("hnsw_gate_c").toString
    val in2 = MemoryStream[StreamingOps.VectorOp]
    val sink = StreamingOps.hnswDeltaMaintenanceSink(spark, hDir, 2)
    def run(data: Seq[StreamingOps.VectorOp]): Unit = {
      val q = in2.toDS().writeStream
        .foreachBatch(sink)
        .outputMode("update").start()
      try { in2.addData(data: _*); q.processAllAvailable() } finally q.stop()
    }
    run((0L until 50L).map(i =>
      StreamingOps.VectorOp(i, "upsert", Array(0.1f * i, 1f), 1)))
    assert(StreamingOps.hnswMaintainedDeltaRatio(spark, hDir).isPosInfinity)
    val (h1, hran1) = StreamingOps.compactHnswIfNeeded(spark, hDir)
    assert(h1.isPosInfinity && hran1)
    assert(StreamingOps.hnswMaintainedDeltaRatio(spark, hDir) === 0.0)
    run(Seq(StreamingOps.VectorOp(999L, "upsert", Array(9f, 9f), 2)))
    val (h2, hran2) = StreamingOps.compactHnswIfNeeded(spark, hDir, maxDeltaRatio = 10.0)
    assert(h2 > 0.0 && !hran2, s"one small batch over full graphs must sit under a loose gate, got $h2")
    val (h3, hran3) = StreamingOps.compactHnswIfNeeded(spark, hDir, maxDeltaRatio = 1e-6)
    assert(h3 === h2 && hran3)
    val after = StreamingOps.searchHnswMaintained(spark, hDir, Array((0L, Array(9f, 9f))), k = 1)
      .select("id").collect().map(_.getLong(0))
    assert(after.toSeq === Seq(999L))

    // interrupted-swap resume: delta/ deleted with a manifest-complete
    // delta.compact in place (the crash window between delete and rename)
    // — the gate finishes the swap instead of throwing "not maintained"
    for (dir <- Seq(ivfDir, hDir)) {
      assert(new java.io.File(s"$dir/delta")
        .renameTo(new java.io.File(s"$dir/delta.compact")), s"test rename failed for $dir")
    }
    val (rIvf, ranIvf) = StreamingOps.compactIvfIfNeeded(spark, ivfDir)
    assert(rIvf.isNaN && ranIvf)
    assert(StreamingOps.ivfMaintainedDeltaRatio(spark, ivfDir) === 0.0)
    val (rH, ranH) = StreamingOps.compactHnswIfNeeded(spark, hDir)
    assert(rH.isNaN && ranH)
    assert(StreamingOps.searchHnswMaintained(spark, hDir, Array((0L, Array(9f, 9f))), k = 1)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(999L))
  }

  test("retrainIfDrifted: no-op below threshold, retrains above it") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_gate").toString
    val centroids0 = Array(Array(1f, 0f), Array(0f, 1f))
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids0))
      .outputMode("append").start()
    try {
      input.addData((0L until 40L).map { i =>
        StreamingOps.VectorOp(i, "upsert",
          if (i % 2 == 0) Array(1f, 0.01f * i) else Array(0.01f * i, 1f), 1)
      }: _*)
      q.processAllAvailable()
    } finally q.stop()
    // fresh sink: zero drift → gate must NOT touch the quantizer
    val before = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    val (d0, ran0) = StreamingOps.retrainIfDrifted(spark, dir, threshold = 0.3)
    assert(d0 === 0.0 && !ran0)
    assert(spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq === before)
    // stale quantizer installed post-hoc (see the retrain test below for
    // why the sink itself cannot produce drift) → gate retrains to zero
    Seq((0, Seq(-9f, -9f)), (1, Seq(9f, 9f))).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val (d1, ran1) = StreamingOps.retrainIfDrifted(spark, dir, threshold = 0.3)
    assert(d1 > 0.3 && ran1)
    assert(StreamingOps.ivfMaintainedDrift(spark, dir) === 0.0)
  }

  test("retrainIfQuantDrifted: organic corpus migration fires the gate; reference re-baselines") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_qdrift").toString
    val rnd = new scala.util.Random(11)
    val centroids0 = Array(Array(0f, 0f), Array(1f, 1f))
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids0))
      .outputMode("append").start()
    try {
      // world A sits on the quantizer's corners — tight fit
      input.addData((0L until 60L).map { i =>
        val base = if (i % 2 == 0) Array(0f, 0f) else Array(1f, 1f)
        StreamingOps.VectorOp(i, "upsert", base.map(_ + 0.02f * rnd.nextFloat()), 1)
      }: _*)
      q.processAllAvailable()
      val ref = StreamingOps.markIvfQuantReference(spark, dir)
      assert(ref > 0.0 && ref < 0.1)
      // no migration yet: ratio ~1, gate must not fire
      val (r0, ran0) = StreamingOps.retrainIfQuantDrifted(spark, dir, maxErrRatio = 1.5)
      assert(math.abs(r0 - 1.0) < 1e-9 && !ran0)
      // ORGANIC drift: the world migrates far from both centroids. The
      // sink still assigns correctly (cell-mismatch drift stays 0 — the
      // metric that cannot see this), but quantization error explodes
      input.addData((0L until 60L).map { i =>
        StreamingOps.VectorOp(i, "upsert",
          Array(8f + 0.3f * rnd.nextFloat(), 8f + 0.3f * rnd.nextFloat()), 2)
      }: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(StreamingOps.ivfMaintainedDrift(spark, dir) === 0.0,
      "cell-mismatch drift should be blind to organic migration")
    val (r1, ran1) = StreamingOps.retrainIfQuantDrifted(spark, dir, maxErrRatio = 1.5,
      sampleFraction = 0.5)
    assert(r1 > 10.0 && ran1, s"organic migration must fire the gate (ratio $r1)")
    // re-baselined on the rebuilt geometry: the gate is quiet again
    val (r2, ran2) = StreamingOps.retrainIfQuantDrifted(spark, dir, maxErrRatio = 1.5)
    assert(math.abs(r2 - 1.0) < 1e-9 && !ran2,
      s"reference must re-baseline after retrain (ratio $r2)")
    // a missing reference fails loudly instead of silently never retraining
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_qdrift2").toString
    val input2 = MemoryStream[StreamingOps.VectorOp]
    val q2 = input2.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir2, centroids0))
      .outputMode("append").start()
    try {
      input2.addData(StreamingOps.VectorOp(1L, "upsert", Array(0f, 0f), 1))
      q2.processAllAvailable()
    } finally q2.stop()
    intercept[IllegalStateException](
      StreamingOps.retrainIfQuantDrifted(spark, dir2))
  }

  test("retrainIvfMaintained: drift collapses to zero; search equals batch IVF on new centroids") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_retrain").toString
    val rnd = new scala.util.Random(5)
    val centroids0 = Array(Array(1f, 0f), Array(0f, 1f))
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids0))
      .outputMode("append").start()
    val worldA = (0L until 100L).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f) else Array(0f, 1f)
      (i, base.map(_ + 0.05f * rnd.nextFloat()))
    }
    // the world moves: most ids migrate to a region the old quantizer
    // never saw; some are removed
    val worldB = worldA.collect { case (i, _) if i % 10 != 0 =>
      (i, Array(5f + 0.3f * rnd.nextFloat(), 5f + 0.3f * rnd.nextFloat()))
    }
    try {
      input.addData(worldA.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
      assert(StreamingOps.ivfMaintainedDrift(spark, dir) === 0.0)
      input.addData(worldB.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 2) } ++
        worldA.collect { case (i, _) if i % 10 == 0 =>
          StreamingOps.VectorOp(i, "remove", Array.empty, 2) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the sink itself cannot produce drift (it assigns against the
    // centroids it stores — see the drift-metric test above); simulate
    // "trained long ago on a distribution the corpus has left" by
    // installing stale centroids post-hoc, as that test does
    Seq((0, Seq(-1f, -1f)), (1, Seq(6f, 6f))).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    assert(StreamingOps.ivfMaintainedDrift(spark, dir) > 0.3, "stale quantizer produced no drift")

    val newCentroids = StreamingOps.retrainIvfMaintained(spark, dir)
    assert(StreamingOps.ivfMaintainedDrift(spark, dir) === 0.0, "retrain left residual drift")

    // search over the retrained index equals batch IVF over the survivors
    // with the same (new) centroids — assignment is a pure function
    val queries = worldB.take(5).toArray
    val maintained = StreamingOps.searchIvfMaintained(spark, dir, queries, k = 5, nprobe = 2)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    val batch = graft.knn.Ivf.search(spark,
        graft.knn.Ivf.assign(spark, worldB.toDF("id", "vector"), newCentroids),
        newCentroids, queries, k = 5, nprobe = 2)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    assert(maintained === batch)

    // the sidecar guard accepts a restart with the NEW quantizer only
    intercept[Exception](StreamingOps.ivfMaintenanceSink(spark, dir, centroids0))
    val input2 = MemoryStream[StreamingOps.VectorOp]
    val q2 = input2.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, newCentroids))
      .outputMode("append").start()
    try {
      // tombstone versions survived the retrain: a stale upsert of a
      // removed id (version below its tombstone) stays dead
      input2.addData(StreamingOps.VectorOp(0L, "upsert", Array(5f, 5f), 1))
      q2.processAllAvailable()
      val ids = StreamingOps.ivfMaintainedState(spark, dir)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(0L), "retrain dropped the tombstone: stale upsert resurrected id 0")
    } finally q2.stop()
  }

  test("searchIvfMaintainedDF equals the array-side maintained search row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream_df").toString
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 150L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
    val centroids = graft.knn.Ivf.train(spark, vecs.toDF("id", "vector"), c = 4, iterations = 1)
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfMaintenanceSink(spark, dir, centroids))
      .outputMode("append").start()
    try {
      input.addData(vecs.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val queries = vecs.take(6).toArray
    val arr = StreamingOps.searchIvfMaintained(spark, dir, queries, k = 5, nprobe = 2)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    val df = StreamingOps.searchIvfMaintainedDF(spark, dir,
        queries.toSeq.toDF("qid", "qvec"), k = 5, nprobe = 2)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    assert(df === arr)
    // dimension guard fires on the DF side too
    val e = intercept[Exception](StreamingOps.searchIvfMaintainedDF(spark, dir,
      Seq((0L, Array(1f, 2f))).toDF("qid", "qvec"), k = 5, nprobe = 2).collect())
    assert(e.getMessage.contains("dimension"))
  }

  test("version store: stale version in a later batch cannot resurrect an older vector") {
    implicit val sqlCtx = spark.sqlContext
    def runPipeline(versionStore: Boolean): Double = {
      val dir = java.nio.file.Files.createTempDirectory("hnsw_stream_ver").toString
      val input = MemoryStream[StreamingOps.VectorOp]
      val src = if (versionStore) StreamingOps.versionedOps(spark, input.toDS()) else input.toDS()
      val q = src.writeStream
        .foreachBatch(StreamingOps.hnswDeltaMaintenanceSink(spark, dir, numPartitions = 2))
        .outputMode(if (versionStore) "update" else "append").start()
      try {
        // batch 1 delivers id 7 @v2 at (0,1); batch 2 delivers a STALE @v1
        input.addData(
          StreamingOps.VectorOp(1L, "upsert", Array(1f, 0f), 1),
          StreamingOps.VectorOp(7L, "upsert", Array(0f, 1f), 2))
        q.processAllAvailable()
        input.addData(StreamingOps.VectorOp(7L, "upsert", Array(1f, 0f), 1))
        q.processAllAvailable()
        val res = StreamingOps.searchHnswMaintained(
          spark, dir, Array((0L, Array(0f, 1f))), k = 2).collect()
        res.filter(_.getLong(1) == 7L).head.getDouble(2) // dist of id 7 to (0,1)
      } finally q.stop()
    }
    // with the version store, id 7 stays at its v2 position
    assert(runPipeline(versionStore = true) < 1e-6, "stale v1 resurrected id 7")
    // without it too: the delta log is versioned, so the stale v1 from the
    // later batch loses to the v2 an earlier batch committed
    assert(runPipeline(versionStore = false) < 1e-6, "stale v1 from a later batch won")
  }

  test("OPQ-maintained sink: rotated ingest + sidecar query rotation equal the batch " +
    "OPQ pipeline; retrain preserves the frozen rotation; raw restart refused") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (vecs, df, _, _) = pqFixture()
    // rotated-space artifacts: the sink contract is rotated centroids +
    // rotated-trained codebooks, the model in hand
    val model = graft.knn.Opq.train(df, m = 4)
    val rotated = graft.knn.Opq.rotate(df, model)
    val centroids = graft.knn.Ivf.train(spark, rotated, c = 2, iterations = 2)
    val assigned = graft.knn.Ivf.assign(spark, rotated, centroids)
    val cb = graft.knn.Pq.trainResidual(spark, assigned, centroids, m = 4, ksub = 8,
      iterations = 1, sampleCap = 1000, seeding = "first")

    val dir = java.nio.file.Files.createTempDirectory("ivfpq_opq_stream").toString
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb,
        residual = true, storeVectors = true, opq = Some(model)))
      .outputMode("append").start()
    try {
      input.addData(vecs.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
    } finally q.stop()

    // maintained search (RAW queries — rotation happens inside) must equal
    // the batch OPQ×IVFADC pipeline over the same artifacts
    val queries = Array((0L, vecs(1)._2), (1L, vecs(2)._2))
    val maintained = StreamingOps.searchIvfPqMaintained(spark, dir, queries, k = 5, nprobe = 2)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    val batch = graft.knn.Pq.searchIvfPqResidual(spark,
        graft.knn.Pq.encodeResidual(assigned, centroids, cb), centroids, cb,
        graft.knn.Opq.rotateQueries(model, queries), k = 5, nprobe = 2)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    assert(maintained.toSeq === batch.toSeq)

    // DF side rotates the query column the same way
    val dfRes = StreamingOps.searchIvfPqMaintainedDF(spark, dir,
        queries.toSeq.toDF("qid", "qvec"), k = 5, nprobe = 2)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    assert(dfRes.toSeq === maintained.toSeq)

    // retrain keeps the frozen rotation and the view stays searchable
    StreamingOps.retrainIvfPqMaintained(spark, dir, iterations = 1)
    assert(graft.knn.Opq.savedRotation(spark, dir), "retrain dropped the OPQ sidecar")
    val after = StreamingOps.searchIvfPqMaintained(spark, dir, queries, k = 5, nprobe = 2)
    assert(after.count() === 10)

    // a raw (model-less) sink restart against the rotated index refuses
    val e = intercept[IllegalArgumentException] {
      StreamingOps.ivfPqMaintenanceSink(spark, dir,
        spark.read.parquet(s"$dir/centroids").select("cell", "centroid")
          .as[(Int, Seq[Float])].collect().sortBy(_._1).map(_._2.toArray),
        cb, residual = true, storeVectors = true)
    }
    assert(e.getMessage.contains("OPQ rotation sidecar"))
  }

  /** Deterministic dim-8 corpus + trained PQ artifacts for the
    * PQ-maintained sink tests: two well-separated clusters so cell
    * assignment and ADC ranking are unambiguous.
    */
  private def pqFixture() = {
    import spark.implicits._
    val vecs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      (i, Array.tabulate(8)(d => base + ((i * 7 + d * 3) % 5) * 0.1f))
    }
    val df = vecs.toDF("id", "vector")
    val centroids = graft.knn.Ivf.train(spark, df, c = 2, iterations = 2)
    val assigned = graft.knn.Ivf.assign(spark, df, centroids)
    val cb = graft.knn.Pq.trainResidual(spark, assigned, centroids, m = 4, ksub = 8,
      iterations = 1, sampleCap = 1000, seeding = "first")
    (vecs, df, centroids, cb)
  }

  test("PQ-maintained sink (codes-only): m-byte delta, codes equal batch encode, ADC search; " +
    "full-precision consumers fail loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (vecs, _, centroids, cb) = pqFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_stream").toString
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb))
      .outputMode("append").start()
    try {
      input.addData(vecs.take(20).map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
      input.addData(
        (vecs.drop(20).map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) } :+
          StreamingOps.VectorOp(6L, "remove", Array.empty, 2)): _*)
      q.processAllAvailable()

      // view: survivors only, vector column null throughout, codes equal
      // the batch encode of the surviving vectors (pure function of
      // (vector, centroids, books))
      val state = StreamingOps.ivfPqMaintainedState(spark, dir)
      assert(state.filter(col("vector").isNotNull).count() === 0, "codes-only sink stored vectors")
      val got = state.select(col("id"), col("pq_codes")).as[(Long, Array[Byte])]
        .collect().map { case (i, c) => (i, c.toSeq) }.sortBy(_._1)
      val surviving = vecs.filterNot(_._1 == 6L).toDF("id", "vector")
      val expect = graft.knn.Pq.encodeResidual(
          graft.knn.Ivf.assign(spark, surviving, centroids), centroids, cb)
        .select(col("id"), col("pq_codes")).as[(Long, Array[Byte])]
        .collect().map { case (i, c) => (i, c.toSeq) }.sortBy(_._1)
      assert(got.toSeq === expect.toSeq)

      // ADC-only search: ranked ids come back (k of them, removed id absent)
      val res = StreamingOps.searchIvfPqMaintained(spark, dir,
        Array((0L, vecs.head._2)), k = 5, nprobe = 2)
      val ids = res.orderBy("rank").select("id").as[Long].collect()
      assert(ids.length === 5 && !ids.contains(6L))

      // DataFrame query side: same ADC math, same (adc, id) tie-break —
      // row-for-row equal to the array path, codes-only included
      val qDf = Seq((0L, vecs.head._2)).toDF("qid", "qvec")
      val dfRes = StreamingOps.searchIvfPqMaintainedDF(spark, dir, qDf, k = 5, nprobe = 2)
        .select("qid", "id", "rank").as[(Long, Long, Int)].collect().sortBy(_._3)
      val arrRes = res.select("qid", "id", "rank").as[(Long, Long, Int)]
        .collect().sortBy(_._3)
      assert(dfRes.toSeq === arrRes.toSeq)

      // full-precision consumers refuse the codes-only view
      val e1 = intercept[IllegalArgumentException] {
        StreamingOps.searchIvfMaintained(spark, dir, Array((0L, vecs.head._2)), k = 3, nprobe = 2)
      }
      assert(e1.getMessage.contains("codes-only"))
      val e2 = intercept[IllegalArgumentException] {
        StreamingOps.ivfMaintainedDrift(spark, dir)
      }
      assert(e2.getMessage.contains("codes-only"))
      val e3 = intercept[IllegalArgumentException] {
        StreamingOps.retrainIvfPqMaintained(spark, dir)
      }
      assert(e3.getMessage.contains("codes-only"))
    } finally q.stop()
  }

  test("PQ-maintained sink (stored vectors): search equals batch IVFADC row-for-row; " +
    "retrain re-encodes against the new centroids; compaction keeps codes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (vecs, _, centroids, cb) = pqFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_stream_v").toString
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb,
        residual = true, storeVectors = true))
      .outputMode("append").start()
    try {
      input.addData(vecs.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
      input.addData(StreamingOps.VectorOp(6L, "remove", Array.empty, 2))
      q.processAllAvailable()
    } finally q.stop()

    val queries = Array((0L, vecs(1)._2), (1L, vecs(2)._2))
    val maintained = StreamingOps.searchIvfPqMaintained(spark, dir, queries, k = 5, nprobe = 2)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    val surviving = vecs.filterNot(_._1 == 6L).toDF("id", "vector")
    val assigned = graft.knn.Ivf.assign(spark, surviving, centroids)
    val batch = graft.knn.Pq.searchIvfPqResidual(spark,
        graft.knn.Pq.encodeResidual(assigned, centroids, cb), centroids, cb,
        queries, k = 5, nprobe = 2)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    assert(maintained.toSeq === batch.toSeq)

    // DataFrame query side reproduces the array side (rescored config)
    val qDf = queries.toSeq.map { case (qid, v) => (qid, v) }.toDF("qid", "qvec")
    val dfRes = StreamingOps.searchIvfPqMaintainedDF(spark, dir, qDf, k = 5, nprobe = 2)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    assert(dfRes.toSeq === maintained.toSeq)

    // compaction preserves the codes column and the view
    StreamingOps.compactIvfMaintained(spark, dir)
    val afterCompact = StreamingOps.searchIvfPqMaintained(spark, dir, queries, k = 5, nprobe = 2)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3))
    assert(afterCompact.toSeq === batch.toSeq)

    // retrain: new centroids land, codes re-encode against them (residual
    // codes are centroid-dependent), tombstone survives
    val newCentroids = StreamingOps.retrainIvfPqMaintained(spark, dir, iterations = 1)
    val state = StreamingOps.ivfPqMaintainedState(spark, dir)
    val got = state.select(col("id"), col("pq_codes")).as[(Long, Array[Byte])]
      .collect().map { case (i, c) => (i, c.toSeq) }.sortBy(_._1)
    val expect = graft.knn.Pq.encodeResidual(
        graft.knn.Ivf.assign(spark, surviving, newCentroids), newCentroids, cb)
      .select(col("id"), col("pq_codes")).as[(Long, Array[Byte])]
      .collect().map { case (i, c) => (i, c.toSeq) }.sortBy(_._1)
    assert(got.toSeq === expect.toSeq, "retrain did not re-encode against the new centroids")
    assert(!got.map(_._1).contains(6L), "retrain resurrected a removed id")

    // restart guard: different flags or codebooks refuse the directory
    val cb2 = cb.copy(books = cb.books.map(_.map(_.map(x => x + 1f))))
    val e1 = intercept[IllegalArgumentException] {
      StreamingOps.ivfPqMaintenanceSink(spark, dir, newCentroids, cb2,
        residual = true, storeVectors = true)
    }
    assert(e1.getMessage.contains("DIFFERENT codebooks"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingOps.ivfPqMaintenanceSink(spark, dir, newCentroids, cb,
        residual = true, storeVectors = false)
    }
    assert(e2.getMessage.contains("already PQ-maintained"))

    // the gated drift loop dispatches to the code-aware retrain: install a
    // stale quantizer post-hoc (the sink itself cannot produce drift — it
    // assigns against the centroids it stores), then the gate must fire
    // AND the PQ sidecars must survive (the raw retrain path would have
    // dropped them)
    val swapped = newCentroids.reverse.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
    swapped.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val (drift, ran) = StreamingOps.retrainIfDrifted(spark, dir, threshold = 0.3)
    assert(drift > 0.3 && ran, s"swapped quantizer must trip the gate (drift=$drift)")
    assert(graft.io.HadoopIO.exists(s"$dir/pq_books", spark.sparkContext.hadoopConfiguration) &&
      graft.io.HadoopIO.exists(s"$dir/pq_maintained", spark.sparkContext.hadoopConfiguration),
      "gated retrain dropped the PQ sidecars — raw path taken for a PQ dir")
    assert(StreamingOps.ivfPqMaintainedState(spark, dir)
      .filter(col("pq_codes").isNull).count() === 0)
  }
  test("BM25 maintenance: adopted base + delta converge to the batch ranking; compaction " +
    "preserves tombstones against stale resurrection; torn delta fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps
    def text(i: Long, drift: Boolean): String = {
      val base = s"alpha w${i % 5} w${(i * 3) % 11} beta w${(i * 7) % 13} gamma"
      if (drift) s"drift $base" else base
    }
    val baseDocs = (0L until 30L).map(i => (i, text(i, drift = false))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25_maint").toString
    graft.text.Bm25.buildIndex(baseDocs, s"$dir/base", nBuckets = 8)

    // nBuckets contract: a sink under a different bucket scheme refuses
    intercept[IllegalArgumentException] {
      StreamingOps.bm25MaintenanceSink(spark, dir, nBuckets = 16)
    }
    val sink = StreamingOps.bm25MaintenanceSink(spark, dir, nBuckets = 8)

    // batch 0: new docs 100-109; batch 1: drift-modify docs 0-4 (v2),
    // remove docs 5-9 (v3)
    sink((100L until 110L).map(i => StreamingOps.DocOp(i, "upsert", text(i, false), 1L))
      .toDS(), 0L)
    sink(((0L until 5L).map(i => StreamingOps.DocOp(i, "upsert", text(i, true), 2L)) ++
      (5L until 10L).map(i => StreamingOps.DocOp(i, "remove", "", 3L))).toDS(), 1L)

    val surviving = baseDocs.filter(col("doc_id") >= 10)
      .unionByName((0L until 5L).map(i => (i, text(i, true))).toDF("doc_id", "text"))
      .unionByName((100L until 110L).map(i => (i, text(i, false))).toDF("doc_id", "text"))
    val qs = Seq((0L, "alpha w1"), (1L, "drift beta"), (2L, "gamma w2 w3"))
    def maintained() = StreamingOps.searchBm25Maintained(spark, dir, qs, 10)
      .orderBy("qid", "rank").collect().toSeq
    val batch = graft.text.Bm25.search(surviving, qs, 10)
      .orderBy("qid", "rank").collect().toSeq
    assert(maintained() === batch)

    // compaction: identical view, tombstones preserved
    StreamingOps.compactBm25Maintained(spark, dir)
    assert(maintained() === batch)
    val tomb = spark.read.parquet(s"$dir/delta_docs")
      .filter(col("op") === "remove").select("doc_id").as[Long].collect().toSet
    assert(tomb === (5L until 10L).toSet, s"compaction dropped tombstones: $tomb")

    // a post-compaction STALE upsert (v1 < remove v3) cannot resurrect
    sink(Seq(StreamingOps.DocOp(5L, "upsert", text(5L, false), 1L)).toDS(), 2L)
    assert(maintained() === batch)

    // losing a manifest-listed delta file fails the load instead of
    // silently dropping mutations
    val postFiles = new java.io.File(s"$dir/delta_post").listFiles()
      .filter(_.getName.startsWith("batch="))
      .flatMap(b => b.listFiles.flatMap(d =>
        if (d.isDirectory) d.listFiles.toSeq else Seq(d)))
      .filter(_.getName.endsWith(".parquet"))
    assert(postFiles.nonEmpty)
    postFiles.head.delete()
    val e = intercept[Exception] { maintained() }
    assert(e.getMessage.contains("missing") || e.getMessage.contains("manifest"),
      s"unexpected: ${e.getMessage}")
  }

  test("maintained positional index: phrase search equals the batch positional index; " +
    "tf-only dirs and non-positional bases refuse") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps
    def text(i: Long, drift: Boolean): String = {
      val base = s"alpha w${i % 5} w${(i * 3) % 11} beta w${(i * 7) % 13} gamma"
      if (drift) s"drift $base" else base
    }
    val baseDocs = (0L until 30L).map(i => (i, text(i, drift = false))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25_phrase_maint").toString
    graft.text.Bm25.buildIndex(baseDocs, s"$dir/base", nBuckets = 8, withPositions = true)
    val sink = StreamingOps.bm25MaintenanceSink(spark, dir, nBuckets = 8, withPositions = true)
    // the positional flag is part of the restart contract
    intercept[IllegalArgumentException] {
      StreamingOps.bm25MaintenanceSink(spark, dir, nBuckets = 8, withPositions = false)
    }
    sink((100L until 110L).map(i => StreamingOps.DocOp(i, "upsert", text(i, false), 1L))
      .toDS(), 0L)
    sink(((0L until 5L).map(i => StreamingOps.DocOp(i, "upsert", text(i, true), 2L)) ++
      (5L until 10L).map(i => StreamingOps.DocOp(i, "remove", "", 3L))).toDS(), 1L)

    val surviving = baseDocs.filter(col("doc_id") >= 10)
      .unionByName((0L until 5L).map(i => (i, text(i, true))).toDF("doc_id", "text"))
      .unionByName((100L until 110L).map(i => (i, text(i, false))).toDF("doc_id", "text"))
    // phrases exercising base-only docs, drift-modified docs, and removes:
    // "drift alpha" exists ONLY in the v2 modifications; "alpha w0" must
    // not surface removed docs
    val phrases = Seq((0L, "beta w0 gamma"), (1L, "drift alpha"), (2L, "alpha w0"))
    def maintained() = StreamingOps.phraseSearchBm25Maintained(spark, dir, phrases)
      .orderBy("qid", "doc_id").collect().toSeq
    val scratch = java.nio.file.Files.createTempDirectory("bm25_phrase_scratch").toString
    graft.text.Bm25.buildIndex(surviving, scratch, nBuckets = 8, withPositions = true)
    val batch = graft.text.Bm25.phraseSearch(spark, scratch, phrases)
      .orderBy("qid", "doc_id").collect().toSeq
    assert(maintained() === batch)
    assert(batch.nonEmpty, "phrase spot check is vacuous — no matches at all")
    // compaction preserves positions (and with them the phrase answer)
    StreamingOps.compactBm25Maintained(spark, dir)
    assert(maintained() === batch)

    // a tf-only maintained dir refuses phrase reads loudly
    val tfDir = java.nio.file.Files.createTempDirectory("bm25_tf_only").toString
    val tfSink = StreamingOps.bm25MaintenanceSink(spark, tfDir, nBuckets = 8)
    tfSink(Seq(StreamingOps.DocOp(1L, "upsert", "alpha beta gamma", 1L)).toDS(), 0L)
    val e = intercept[Exception](
      StreamingOps.phraseSearchBm25Maintained(spark, tfDir, Seq((0L, "alpha beta"))))
    assert(e.getMessage.contains("WITHOUT positions"), e.getMessage)

    // a positional sink over a non-positional adopted base refuses at
    // construction (phrase reads over base documents would be impossible)
    val npDir = java.nio.file.Files.createTempDirectory("bm25_np_base").toString
    graft.text.Bm25.buildIndex(baseDocs, s"$npDir/base", nBuckets = 8)
    val e2 = intercept[IllegalArgumentException](
      StreamingOps.bm25MaintenanceSink(spark, npDir, nBuckets = 8, withPositions = true))
    assert(e2.getMessage.contains("WITHOUT positions"), e2.getMessage)
  }

  test("incremental OPQ: drift re-fits + composes the rotation, re-balances subspaces, " +
    "search stays exact, and a stale-model restart is refused") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // wave 1 concentrates energy on dim 0 (the frozen rotation balances
    // THAT spectrum); wave 2 drifts the energy to dim 4 — the frozen
    // allocation is now unbalanced, which is exactly what a refit fixes
    def wave(idBase: Long, hot: Int, n: Int): Seq[(Long, Array[Float])] =
      (0 until n).map { i =>
        val rnd = new graft.core.SplitMix.Stream(idBase * 7919 + i * 31L + 5)
        val v = Array.tabulate(8) { d =>
          val sd = if (d == hot) 2.0 else 0.05
          ((rnd.nextUnit() - 0.5) * 2 * sd).toFloat
        }
        (idBase + i, v)
      }
    val w1 = wave(0L, hot = 0, 60)
    val w2 = wave(1000L, hot = 4, 60)

    val df1 = w1.toDF("id", "vector")
    val m1 = graft.knn.Opq.train(df1, m = 4)
    val rot1 = graft.knn.Opq.rotate(df1, m1)
    val centroids = graft.knn.Ivf.train(spark, rot1, c = 2, iterations = 2)
    val cb = graft.knn.Pq.trainResidual(spark, graft.knn.Ivf.assign(spark, rot1, centroids),
      centroids, m = 4, ksub = 8, iterations = 1, sampleCap = 1000, seeding = "first")

    val dir = java.nio.file.Files.createTempDirectory("ivfpq_opq_refit").toString
    val input = MemoryStream[StreamingOps.VectorOp]
    val q = input.toDS().writeStream
      .foreachBatch(StreamingOps.ivfPqMaintenanceSink(spark, dir, centroids, cb,
        residual = true, storeVectors = true, opq = Some(m1)))
      .outputMode("append").start()
    try {
      input.addData(w1.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
      input.addData(w2.map { case (i, v) => StreamingOps.VectorOp(i, "upsert", v, 1) }: _*)
      q.processAllAvailable()
    } finally q.stop()

    StreamingOps.retrainIvfPqMaintained(spark, dir, iterations = 1, refitRotation = true)
    val composed = graft.knn.Opq.loadModel(spark, dir)
    assert(composed.m === m1.m)
    // the rotation actually changed
    assert(composed.rotation.zip(m1.rotation).exists { case (a, b) =>
      a.zip(b).exists { case (x, y) => math.abs(x - y) > 1e-6 } })
    // and is still orthonormal
    for (i <- 0 until 8; j <- i until 8) {
      val d = (0 until 8).map(t => composed.rotation(i)(t) * composed.rotation(j)(t)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }

    // the incremental claim: the COMPOSED model balances the current view
    // exactly as well as a from-scratch rotation fitted on the original
    // coordinates would (the spectrum is rotation-invariant and the
    // allocation is a deterministic function of it) — measured as the
    // per-subspace log-variance spread over the live vectors. (Comparing
    // against the FROZEN rotation's spread would be unsound: under a
    // non-PCA rotation the coordinates are correlated, so its spread
    // understates the distortion OPQ's product model prices.)
    def subspaceSpread(model: graft.knn.Opq.OpqModel): Double = {
      val rotated = graft.knn.Opq.rotateQueries(model, (w1 ++ w2).toArray).map(_._2)
      val n = rotated.length
      val mean = Array.tabulate(8)(d => rotated.map(_(d).toDouble).sum / n)
      val vars = Array.tabulate(8)(d =>
        math.max(rotated.map(v => math.pow(v(d) - mean(d), 2)).sum / n, 1e-12))
      val logs = Array.tabulate(4)(j => (j * 2 until (j + 1) * 2).map(d => math.log(vars(d))).sum)
      logs.max - logs.min
    }
    val fromScratch = graft.knn.Opq.train((w1 ++ w2).toDF("id", "vector"), m = 4)
    assert(subspaceSpread(composed) <= subspaceSpread(fromScratch) + 0.1,
      s"composed refit (spread ${subspaceSpread(composed)}) materially worse than a " +
        s"from-scratch fit on the current view (${subspaceSpread(fromScratch)})")

    // RAW original-space queries, full probe, overscan covering the view:
    // stored vectors + exact rescore ⇒ the top-k id set equals exact
    // brute force over the live original vectors (rotation is an isometry)
    val queries = Array((0L, w2.head._2), (1L, w1(1)._2))
    val res = StreamingOps.searchIvfPqMaintained(spark, dir, queries, k = 5, nprobe = 2,
        overscan = 24)
      .select("qid", "id").as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val exact = graft.knn.Knn.bruteForce((w1 ++ w2).toDF("id", "vector"),
        queries.toSeq.toDF("qid", "qvec"), 5)
      .select("qid", "id").as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(res === exact)

    // restarting the sink with the STALE pre-refit model must refuse
    val newCentroids = spark.read.parquet(s"$dir/centroids").select("cell", "centroid")
      .as[(Int, Seq[Float])].collect().sortBy(_._1).map(_._2.toArray)
    val newCb = graft.knn.Pq.loadCodebooks(spark, dir)
    val e = intercept[IllegalArgumentException] {
      StreamingOps.ivfPqMaintenanceSink(spark, dir, newCentroids, newCb,
        residual = true, storeVectors = true, opq = Some(m1))
    }
    assert(e.getMessage.contains("DIFFERENT OPQ rotation"))
  }
}

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("feature extraction runs distributed over binary payloads") {
    val rows = (0L until 20L).map { i =>
      Multimodal.MediaRow(i, Array.tabulate(64)(j => (i + j).toByte), "image", 8, 8, 0)
    }
    val features = Multimodal.extractFeatures(spark, rows.toDS().repartition(4), maxFrames = 4)
      .collect().sortBy(_.id)
    assert(features.length === 20)
    features.foreach { f =>
      assert(f.nBytes === 64L)
      assert(f.nFrames === 4)
      assert(f.histogram.sum === 64L) // every byte lands in one bucket
    }
    // deterministic across runs
    val again = Multimodal.extractFeatures(spark, rows.toDS().repartition(4), maxFrames = 4)
      .collect().sortBy(_.id)
    assert(again.map(_.histogram.toSeq).toSeq === features.map(_.histogram.toSeq).toSeq)
  }

  test("decode stub frames partition the payload; resize decimates") {
    val payload = Array.tabulate(100)(_.toByte)
    val frames = Multimodal.DecodeStub.decodeFrames(payload, 4)
    assert(frames.length === 4)
    assert(frames.map(_.length).sum === 100)
    val r = Multimodal.resize(payload, 4)
    assert(r.length === 25)
    assert(r(1) === 4.toByte)
  }

  test("meta struct column carries typed metadata") {
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val out = Multimodal.withMeta(df, "payload", Multimodal.MediaMeta("image", 4, 4, 0))
      .select("meta.kind", "meta.width").as[(String, Int)].head()
    assert(out === ("image", 4))
  }

  test("PNG encode/decode round-trips pixels losslessly (real javax.imageio codec)") {
    val rgb = Array.tabulate(5 * 3 * 3)(i => ((i * 37 + 11) & 0xff).toByte)
    val png = Multimodal.encodePng(rgb, 5, 3)
    // a real PNG payload: magic bytes
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P'.toByte && png(2) === 'N'.toByte)
    assert(Multimodal.PngDecoder.dims(png) === ((5, 3)))
    val frames = Multimodal.PngDecoder.decodeFrames(png, 1)
    assert(frames.length === 1)
    assert(frames(0).toSeq === rgb.toSeq)
  }

  test("undecodable payloads yield zero frames, not an exception") {
    assert(Multimodal.PngDecoder.decodeFrames(Array[Byte](1, 2, 3, 4), 1).isEmpty)
    assert(Multimodal.PngDecoder.decodeFrames(Array.empty[Byte], 1).isEmpty)
    assert(Multimodal.PngDecoder.dims(Array[Byte](0, 0)) === ((-1, -1)))
  }

  test("nearest-neighbor resize samples floor-mapped source pixels") {
    // 4x2 image, downsample to 2x1: output (x,0) takes input (2x, 0)
    val rgb = Array.tabulate(4 * 2 * 3)(i => i.toByte)
    val out = Multimodal.resizeNearest(rgb, 4, 2, 2, 1)
    assert(out.length === 2 * 1 * 3)
    assert(out.slice(0, 3).toSeq === rgb.slice(0, 3).toSeq)       // (0,0)
    assert(out.slice(3, 6).toSeq === rgb.slice(6, 9).toSeq)       // (2,0)
    // upscale 2x1 -> 4x1 repeats each source pixel twice
    val up = Multimodal.resizeNearest(out, 2, 1, 4, 1)
    assert(up.slice(0, 3).toSeq === up.slice(3, 6).toSeq)
    assert(up.slice(6, 9).toSeq === up.slice(9, 12).toSeq)
  }

  test("extractFeatures over real MJPEG payloads samples and decodes frames, distributed") {
    // mid-nibble-bucket colors: JPEG tolerance (<=4) cannot cross a bucket edge
    val colors = Array(24, 88, 152, 216, 24, 88)
    val mjpeg = Multimodal.encodeMjpeg(
      colors.toIndexedSeq.map(c => Array.fill(8 * 6 * 3)(c.toByte)), 8, 6)
    val rows = (0L until 8L).map(i =>
      Multimodal.MediaRow(i, mjpeg, "video", 8, 6, 0))
    val features = Multimodal.extractFeatures(spark, rows.toDS().repartition(3),
        decoder = Multimodal.MjpegDecoder, maxFrames = 4)
      .collect().sortBy(_.id)
    assert(features.length === 8)
    features.foreach { f =>
      assert(f.nFrames === 4) // 4 of 6 frames sampled (indices 0,1,3,4)
      assert(f.histogram.sum === 4L * 8 * 6 * 3)
      // sampled indices 0,1,3,4 -> colors 24,88,216,24 -> buckets 1 (twice), 5, 13
      assert(f.histogram(1) === 2L * 8 * 6 * 3, f.histogram.toSeq)
      assert(f.histogram(5) === 8L * 6 * 3 && f.histogram(13) === 8L * 6 * 3, f.histogram.toSeq)
    }
  }

  test("MJPEG segment scan finds every frame, skips junk, drops a truncated tail") {
    val mkFrame = (v: Int) => Array.fill(8 * 6 * 3)(v.toByte)
    val mjpeg = Multimodal.encodeMjpeg((0 until 5).map(f => mkFrame(40 * f)), 8, 6)
    val segs = Multimodal.MjpegDecoder.segments(mjpeg)
    assert(segs.length === 5)
    // segments tile the payload exactly (our encoder emits no inter-frame junk)
    assert(segs.head._1 === 0 && segs.last._2 === mjpeg.length)
    assert(segs.sliding(2).forall { case Array(a, b) => a._2 === b._1 })
    // junk prefix/infix is skipped; a truncated trailing frame is dropped
    val junky = Array[Byte](1, 2, 3) ++ mjpeg ++ Array[Byte](0, 0) ++
      mjpeg.slice(segs(0)._1, segs(0)._2 - 4)
    assert(Multimodal.MjpegDecoder.segments(junky).length === 5)
    assert(Multimodal.MjpegDecoder.segments(Array[Byte](9, 9, 9)).isEmpty)
  }

  test("MJPEG frame sampling is evenly spaced and decodes within JPEG tolerance") {
    assert(Multimodal.MjpegDecoder.sampleIndices(8, 4).toSeq === Seq(0, 2, 4, 6))
    assert(Multimodal.MjpegDecoder.sampleIndices(3, 4).toSeq === Seq(0, 1, 2))
    assert(Multimodal.MjpegDecoder.sampleIndices(10, 3).toSeq === Seq(0, 3, 6))

    val colors = Array(10, 60, 110, 160, 210, 240, 90, 30)
    val mjpeg = Multimodal.encodeMjpeg(
      colors.toIndexedSeq.map(c => Array.fill(8 * 6 * 3)(c.toByte)), 8, 6)
    val frames = Multimodal.MjpegDecoder.decodeFrames(mjpeg, 4)
    assert(frames.length === 4)
    // sampled frames are segments 0,2,4,6: solid JPEG frames decode within
    // DC-quantization tolerance of their synthesized color
    frames.zip(Array(0, 2, 4, 6)).foreach { case (frame, f) =>
      assert(frame.length === 8 * 6 * 3)
      val maxOff = frame.map(b => math.abs((b & 0xff) - colors(f))).max
      assert(maxOff <= 4, s"frame $f decoded ${maxOff} off its solid color")
    }
    assert(Multimodal.MjpegDecoder.decodeFrames(Array[Byte](1, 2, 3), 4).isEmpty)
    assert(Multimodal.MjpegDecoder.decodeFrames(mjpeg, 0).isEmpty)
  }

  test("APNG encode/decode round-trips every frame byte-exactly (lossless, real chunk codec)") {
    val (w, h) = (6, 4)
    val frames = (0 until 5).map { f =>
      Array.tabulate(w * h * 3)(i => ((i * 31 + f * 97) % 251).toByte)
    }
    val apng = Multimodal.encodeApng(frames, w, h)
    // all 5 frames, sampled at budget >= count: byte equality per frame
    val got = Multimodal.ApngDecoder.decodeFrames(apng, maxFrames = 8)
    assert(got.length === 5)
    got.zip(frames).zipWithIndex.foreach { case ((g, e), i) =>
      assert(java.util.Arrays.equals(g, e), s"frame $i not byte-exact")
    }
    // sampling: 2 of 5 = indices 0 and 2 (floor(i*n/k))
    val two = Multimodal.ApngDecoder.decodeFrames(apng, maxFrames = 2)
    assert(two.length === 2)
    assert(java.util.Arrays.equals(two(0), frames(0)))
    assert(java.util.Arrays.equals(two(1), frames(2)))
  }

  test("APNG decoder: plain PNG is its single frame; region/blend-over and junk are skipped") {
    val rgb = Array.tabulate(4 * 4 * 3)(i => (i * 7 % 200).toByte)
    val png = Multimodal.encodePng(rgb, 4, 4)
    val one = Multimodal.ApngDecoder.decodeFrames(png, maxFrames = 4)
    assert(one.length === 1 && java.util.Arrays.equals(one(0), rgb))
    // region frame (fcTL width != canvas): valid APNG we do not compose —
    // zero frames, not a silently mis-composed image
    val apng = Multimodal.encodeApng(Seq(rgb, rgb), 4, 4)
    val broken = {
      // surgically shrink the width field of the SECOND fcTL chunk (the
      // decoder reads framing, not CRCs, so the edit lands)
      val needle = "fcTL".getBytes.toSeq
      val first = apng.toSeq.indexOfSlice(needle)
      val idx = apng.toSeq.indexOfSlice(needle, first + 1)
      assert(idx > 0, "expected two fcTL chunks")
      val b = apng.clone()
      b(idx + 4 + 7) = 1 // data offset 4..7 = width; low byte at data[7]
      b
    }
    assert(Multimodal.ApngDecoder.decodeFrames(broken, maxFrames = 4).isEmpty)
    assert(Multimodal.ApngDecoder.decodeFrames(Array[Byte](1, 2, 3), maxFrames = 4).isEmpty)
    assert(Multimodal.ApngDecoder.decodeFrames(Array.empty[Byte], maxFrames = 4).isEmpty)
  }

  test("WAV encode/decode round-trips 16-bit PCM samples losslessly (real javax.sound codec)") {
    val samples = Array.tabulate(480)(i => (math.sin(i * 0.1) * 12345).toShort)
    val wav = Multimodal.encodeWav(samples, 16000)
    // a real WAV payload: RIFF....WAVE magic
    assert(wav.slice(0, 4).map(_.toChar).mkString === "RIFF")
    assert(wav.slice(8, 12).map(_.toChar).mkString === "WAVE")
    val (decoded, rate, channels) = Multimodal.WavDecoder.decodePcm(wav).get
    assert(rate === 16000 && channels === 1)
    assert(decoded.toSeq === samples.toSeq)
    // boundary values survive too
    val edges = Array[Short](Short.MinValue, -1, 0, 1, Short.MaxValue)
    val decodedEdges = Multimodal.WavDecoder.decodePcm(Multimodal.encodeWav(edges, 8000)).get._1
    assert(decodedEdges.toSeq === edges.toSeq)
  }

  test("WAV decoder frames chunk the PCM stream; undecodable audio yields zero frames") {
    val samples = Array.tabulate(64)(i => i.toShort)
    val wav = Multimodal.encodeWav(samples, 16000)
    val frames = Multimodal.WavDecoder.decodeFrames(wav, 4)
    assert(frames.length === 4)
    assert(frames.map(_.length).sum === 128) // 64 samples * 2 bytes
    assert(Multimodal.WavDecoder.decodeFrames(Array[Byte](9, 9, 9, 9), 4).isEmpty)
    assert(Multimodal.WavDecoder.decodePcm(Array.empty[Byte]).isEmpty)
  }

  test("dims is header-only: reports dimensions from a payload whose raster is truncated") {
    // a valid header with a corrupt/missing raster: full decode fails,
    // header-only dims still answers — proving no raster pass happens
    val rgb = Array.tabulate(16 * 16 * 3)(i => (i & 0xff).toByte)
    val png = Multimodal.encodePng(rgb, 16, 16)
    val truncated = png.take(40) // IHDR chunk ends at byte 33; raster gone
    assert(Multimodal.PngDecoder.decodeRgb(truncated).isEmpty, "full decode must fail")
    assert(Multimodal.PngDecoder.dims(truncated) === ((16, 16)), "header-only read must succeed")
  }

  test("extractFeatures over real WAV payloads consumes decoded PCM frames, distributed") {
    val rows = (0L until 8L).map { i =>
      val samples = Array.tabulate(256)(j => ((i * 31 + j * 7) % 256 - 128).toShort)
      Multimodal.MediaRow(i, Multimodal.encodeWav(samples, 16000), "audio", 0, 0, 16000)
    }
    val features = Multimodal
      .extractFeatures(spark, rows.toDS().repartition(3), decoder = Multimodal.WavDecoder)
      .collect().sortBy(_.id)
    assert(features.length === 8)
    features.foreach { f =>
      assert(f.nFrames === 4)
      assert(f.histogram.sum === 256L * 2) // every decoded PCM byte counted
    }
  }

  test("extractFeatures over real PNG payloads uses the decoded pixels, distributed") {
    val rows = (0L until 12L).map { i =>
      val rgb = Array.tabulate(8 * 8 * 3)(j => ((i * 31 + j) & 0xff).toByte)
      Multimodal.MediaRow(i, Multimodal.encodePng(rgb, 8, 8), "image", 8, 8, 0)
    }
    val features = Multimodal
      .extractFeatures(spark, rows.toDS().repartition(3), decoder = Multimodal.PngDecoder)
      .collect().sortBy(_.id)
    assert(features.length === 12)
    features.foreach { f =>
      assert(f.nFrames === 1)
      assert(f.histogram.sum === 8L * 8 * 3) // every decoded byte counted
    }
  }
}
