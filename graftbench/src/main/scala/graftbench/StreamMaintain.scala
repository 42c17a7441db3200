package graftbench

import graft.hnsw.HnswConfig
import graft.knn.Ivf
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.VectorOp
import org.apache.spark.sql.{Dataset, Row}

import java.nio.file.Paths
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** stream-maintain: small upsert/remove micro-batches fed to the IVF and
  * HNSW maintenance sinks, each commit followed by a small query batch and
  * the gated compaction and retrain calls. Later batches come from shifted
  * clusters, so compaction and retrain fire several times per run. Per
  * batch job count and the commit protocol dominate; kernel work is small.
  */
object StreamMaintain {
  val Dim = 32
  val Clusters = 8
  val Initial = 2000
  val Cells = 8
  val NProbe = 3
  val NewPerBatch = 200
  val UpdatesPerBatch = 30
  val RemovesPerBatch = 20
  val Queries = 20
  val K = 10
  val ShiftStep = 0.6
  val MaxDeltaRatio = 0.25
  val MaxErrRatio = 1.3
  val Setups = 3
  /** Batches every run commits; every metric is taken over exactly these
    * (later batches are checked but not measured), so each run measures the
    * same work whatever its speed.
    */
  val MinBatches = 2
  val Hnsw = HnswConfig(m = 12, ef = 48, efConstruction = 48)

  /** The seeded stream: the initial load, then on demand one micro-batch
    * after another, with its queries. The clusters jump by `ShiftStep` at
    * every even batch, so the retrain gate fires at even batches whatever
    * the seed. `live` is the benchmark's own view of the current vectors.
    */
  final class Stream(seed: Long) {
    private val m = new Manifold(seed, Dim, Clusters, 8)
    private val r = new Rng(seed * 17 + 3)
    val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
    val initial: Seq[VectorOp] = (0 until Initial).map { i =>
      val v = m.point(r, i % Clusters)
      live(i.toLong) = v
      VectorOp(i.toLong, "upsert", v, 0L)
    }
    private var nextId = Initial.toLong

    /** Batch `b` (1-based): its ops, applied to `live`, and its queries. */
    def batch(b: Int): (Seq[VectorOp], Array[(Long, Array[Float])]) = {
      val shift = (b / 2) * ShiftStep
      var version = b * 1000000L
      def op(id: Long, kind: String, v: Array[Float]): VectorOp = { version += 1; VectorOp(id, kind, v, version) }
      val ids = live.keys.toArray
      val touched = mutable.HashSet.empty[Long]
      def pick(): Long = {
        var id = ids(r.below(ids.length))
        while (touched(id)) id = ids(r.below(ids.length))
        touched += id
        id
      }
      val news = (0 until NewPerBatch).map { _ => nextId += 1; op(nextId, "upsert", m.point(r, r.below(Clusters), shift)) }
      val updates = (0 until UpdatesPerBatch).map(_ => op(pick(), "upsert", m.point(r, r.below(Clusters), shift)))
      val removes = (0 until RemovesPerBatch).map(_ => op(pick(), "remove", null))
      val ops = news ++ updates ++ removes
      ops.foreach(o => if (o.op == "remove") live.remove(o.id) else live(o.id) = o.vector)
      (ops, Array.tabulate(Queries)(j => (b * 1000L + j, m.point(r, r.below(Clusters), shift))))
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val tr = ctx.tracer
    val st = new Stream(ctx.seed)
    val ivfRecall = mutable.ArrayBuffer.empty[Double]
    val hnswRecall = mutable.ArrayBuffer.empty[Double]
    var compactions = 0
    var retrains = 0
    var mutations = 0L
    var storedRatio = 0.0
    var liveAtMin = 0

    // set-up, repeated: train the quantizer, load the initial corpus through
    // both sinks and record the drift reference; the last set-up's index
    // serves the stream (its first compaction builds the base graphs). The
    // initial corpus is handed to Spark once, before the timed set-ups.
    ctx.markHeapBaseline()
    val init = st.initial.toDS().repartition(ctx.parts).persist()
    init.count()
    var ivfDir, hnswDir = ""
    var ivfSink, hnswSink: (Dataset[VectorOp], Long) => Unit = null
    (0 until Setups).foreach { i =>
      if (i > 0) Seq(ivfDir, hnswDir).foreach(d => Dirs.delete(Paths.get(d)))
      ivfDir = ctx.work.resolve(s"setup-$i/ivf").toString
      hnswDir = ctx.work.resolve(s"setup-$i/hnsw").toString
      ctx.timed("setup")(tr.group("setup") {
        val centroids = tr.call("knn.Ivf.train")(Ivf.train(spark, init.select("id", "vector"), Cells))
        tr.call("streaming.ivfMaintenanceSink") {
          ivfSink = StreamingOps.ivfMaintenanceSink(spark, ivfDir, centroids)
          ivfSink(init, 0L)
        }
        tr.call("streaming.markIvfQuantReference")(StreamingOps.markIvfQuantReference(spark, ivfDir))
        tr.call("streaming.hnswDeltaMaintenanceSink") {
          hnswSink = StreamingOps.hnswDeltaMaintenanceSink(spark, hnswDir, ctx.parts, config = Hnsw)
          hnswSink(init, 0L)
        }
      })
    }
    init.unpersist()
    val dirs = Seq(Paths.get(ivfDir), Paths.get(hnswDir))
    // one untimed query per index, so the timed loop sees warm code
    // generation and JIT, as a long-running client does
    locally {
      val q = st.live.head._2
      StreamingOps.searchIvfMaintained(spark, ivfDir, Array((-1L, q)), K, NProbe).collect()
      StreamingOps.searchHnswMaintained(spark, hnswDir, Array((-1L, q)), K).collect()
    }

    ctx.startLoop()
    while (ctx.more(MinBatches)) {
      val b = ctx.cycle + 1
      val (ops, queries) = st.batch(b)
      val counted = b <= MinBatches
      val tag = if (counted) "" else "extra."
      tr.group("cycle") {
        val ds = ops.toDS()
        val commitS = ctx.writesOf(dirs) {
          val t0 = System.nanoTime()
          tr.call("streaming.ivfMaintenanceSink")(ivfSink(ds, b.toLong))
          tr.call("streaming.hnswDeltaMaintenanceSink")(hnswSink(ds, b.toLong))
          val t1 = System.nanoTime()
          search(ctx, tag, "streaming.searchIvfMaintained", b, queries, st.live, ivfRecall, tol = 1e-9)(
            StreamingOps.searchIvfMaintained(spark, ivfDir, queries, K, NProbe))
          search(ctx, tag, "streaming.searchHnswMaintained", b, queries, st.live, hnswRecall, tol = 1e-3)(
            StreamingOps.searchHnswMaintained(spark, hnswDir, queries, K))
          val t2 = System.nanoTime()
          if (tr.call("streaming.compactIvfIfNeeded")(StreamingOps.compactIvfIfNeeded(spark, ivfDir, MaxDeltaRatio))._2 && counted)
            compactions += 1
          if (tr.call("streaming.compactHnswIfNeeded")(StreamingOps.compactHnswIfNeeded(spark, hnswDir, MaxDeltaRatio))._2 && counted)
            compactions += 1
          tr.call("streaming.retrainIfQuantDrifted") {
            if (StreamingOps.retrainIfQuantDrifted(spark, ivfDir, MaxErrRatio, seed = ctx.seed)._2) {
              if (counted) retrains += 1
              // a retrained index is served by a sink restarted on the new centroids
              val centroids = spark.read.parquet(s"$ivfDir/centroids").select("cell", "centroid")
                .as[(Int, Seq[Float])].collect().sortBy(_._1).map(_._2.toArray)
              ivfSink = StreamingOps.ivfMaintenanceSink(spark, ivfDir, centroids)
            }
          }
          (t1 - t0 + System.nanoTime() - t2) / 1e9
        }
        ctx.samples += ((tag + "commit", commitS))
        if (counted) mutations += ops.length
        if (b == MinBatches) {
          liveAtMin = st.live.size
          storedRatio = Dirs.bytes(dirs).toDouble / (liveAtMin.toLong * (8 + 4 * Dim))
        }
      }
      ctx.checkpointHeap()
    }

    val searches = ctx.times("search")
    val commits = ctx.times("commit")
    val (tailP, tail) = Stats.tail(searches)
    val (cTailP, cTail) = Stats.tail(commits)
    val ivfR = ivfRecall.sum / math.max(1, ivfRecall.size)
    val hnswR = hnswRecall.sum / math.max(1, hnswRecall.size)
    Outcome(
      endToEnd = ListMap(
        "setup_s" -> (Stats.median(ctx.times("setup")), "s"),
        "retained_heap_mb" -> (ctx.retainedHeapMb, "MB"),
        "search_qps" -> (Queries * searches.length / searches.sum, "1/s"),
        "search_p50_s" -> (Stats.median(searches), "s"),
        "recall" -> ((ivfRecall.sum + hnswRecall.sum) / math.max(1, ivfRecall.size + hnswRecall.size), "ratio"),
        "bytes_stored_per_user_byte" -> (storedRatio, "ratio"),
        "write_items_per_s" -> (mutations / commits.sum, "1/s")),
      layer = Map(
        "streaming.compactions" -> compactions.toDouble,
        "streaming.retrains" -> retrains.toDouble,
        "knn.recall_at_10" -> ivfR, "hnsw.recall_at_10" -> hnswR),
      info = ListMap(
        "input" -> ListMap("dim" -> Dim, "clusters" -> Clusters, "initial_vectors" -> Initial,
          "ops_per_batch" -> (NewPerBatch + UpdatesPerBatch + RemovesPerBatch),
          "queries_per_batch" -> Queries, "ivf_cells" -> Cells, "nprobe" -> NProbe,
          "max_delta_ratio" -> MaxDeltaRatio, "max_err_ratio" -> MaxErrRatio),
        "state" -> ListMap("live_vectors_after_min_batches" -> liveAtMin,
          "live_user_bytes_after_min_batches" -> liveAtMin.toLong * (8 + 4 * Dim)),
        "batches" -> (commits.length + ctx.times("extra.commit").length), "measured_batches" -> commits.length,
        "compactions_in_min_batches" -> compactions, "retrains_in_min_batches" -> retrains,
        "commit_p50_s" -> Stats.median(commits), "commit_tail_s" -> cTail,
        "commit_tail_percentile" -> cTailP, "commit_samples" -> commits.length,
        "ingest_ops_per_s" -> mutations / commits.sum,
        "search_samples" -> searches.length, "search_tail_s" -> tail, "search_tail_percentile" -> tailP,
        "recall_at_10.ivf" -> ivfR, "recall_at_10.hnsw" -> hnswR,
        "setup_samples" -> ctx.times("setup"), "loop_s" -> ctx.loopSeconds))
  }

  /** One maintained search, checked against the benchmark's live set: every
    * returned id must be live and carry the distance to its current vector
    * (a removed id or a stale version is a failed operation).
    */
  private def search(ctx: Ctx, tag: String, span: String, b: Int, qs: Array[(Long, Array[Float])],
      live: collection.Map[Long, Array[Float]], recall: mutable.ArrayBuffer[Double], tol: Double)(
      call: => org.apache.spark.sql.DataFrame): Unit = {
    val rows = try ctx.timed(tag + "search")(ctx.tracer.call(span) {
      val out = call.select("qid", "id", "dist", "rank").collect()
      ctx.tracer.addRows(out.length)
      out
    }) catch {
      case e: Exception => ctx.checks.op(ok = false, s"$span batch $b threw $e"); return
    }
    val ids = live.keys.toArray
    val truth = Oracle.topKAll(ids, ids.map(live), qs.map(_._2), K)
    val byQ = rows.groupBy(_.getLong(0))
    var bad = List.empty[String]
    var hits = 0
    qs.indices.foreach { j =>
      val (qid, q) = qs(j)
      val got = byQ.getOrElse(qid, Array.empty[Row]).sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
      hits += got.map(_._1).toSet.intersect(truth(j).map(_._1).toSet).size
      if (got.length != K) bad ::= s"qid $qid returned ${got.length} rows"
      got.foreach { case (id, d) =>
        live.get(id) match {
          case None => bad ::= s"qid $qid returned id $id, which is not live (removed or never inserted)"
          case Some(v) =>
            val e = Oracle.dist(v, q)
            if (math.abs(d - e) > tol * math.max(1.0, e)) bad ::= s"qid $qid id $id distance $d is stale (live $e)"
        }
      }
    }
    ctx.checks.op(bad.isEmpty, s"$span batch $b: ${bad.take(3).mkString("; ")}")
    if (tag.isEmpty) recall += hits.toDouble / (qs.length * K)
  }
}
