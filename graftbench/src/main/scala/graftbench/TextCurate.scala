package graftbench

import graft.dedup.Dedup
import graft.text.Bm25
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** text-curate: near-duplicate curation of a document corpus with planted
  * duplicate families, then BM25 serving over the survivors. Shingle and
  * MinHash kernels, shuffles and windows do the work; no vector kernel or
  * sink runs.
  */
object TextCurate {
  val Docs = 2000
  val WarmDocs = 500
  val Vocab = 20000
  val MaxFamily = 100
  val Mutation = 0.02
  val Threshold = 0.7
  val MaxBucket = 32
  val Buckets = 16
  val Queries = 80
  val K = 10
  val Setups = 5
  val MinCycles = 3

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val tr = ctx.tracer
    val corpus = Gen.corpus(ctx.seed, Docs, Vocab, MaxFamily, Mutation)
    val texts = corpus.texts
    val shingles = texts.map(Oracle.shingles)
    val score = texts.map(_.count(_ == ' ') + 1)
    // planted pairs that are true near-duplicates by the benchmark's own
    // Jaccard; dup_pair_recall asks how many end up in one group
    val truePairs = corpus.families.filter(_.length > 1).flatMap { f =>
      for (i <- f.indices; j <- i + 1 until f.length
           if Oracle.jaccard(shingles(f(i)), shingles(f(j))) >= Threshold) yield (f(i), f(j))
    }
    val rows = texts.indices.map(i => (i.toLong, texts(i)))

    var lastSurvivors: Set[Long] = null
    var queries: Seq[(Long, String)] = null
    var dupRecall = 0.0
    val storedRatio = mutable.ArrayBuffer.empty[Double]
    val survivorCounts = mutable.ArrayBuffer.empty[Int]
    val bucketStats = mutable.ArrayBuffer.empty[Int]

    ctx.markHeapBaseline()
    // set-up, repeated: load the corpus and its quality scores into Spark
    // storage; the last load serves every curation cycle
    var docs, scores: DataFrame = null
    (0 until Setups).foreach { _ =>
      if (docs != null) { docs.unpersist(); scores.unpersist() }
      ctx.timed("setup")(tr.group("setup") {
        docs = spark.sparkContext.parallelize(rows, ctx.parts).toDF("doc_id", "text").persist()
        scores = spark.sparkContext.parallelize(score.indices.map(i => (i.toLong, score(i).toDouble)), ctx.parts)
          .toDF("id", "score").persist()
        docs.count(); scores.count()
      })
    }

    /** One curation cycle over `corpusDf`, the first `n` documents, then one
      * BM25 batch against the index it built. The timed regions hold only
      * graft's calls (and the survivor anti-join the index build needs);
      * every check runs after them. The warm-up cycle is checked like the
      * others, but its times are kept apart and it is not traced as a loop
      * cycle.
      */
    def cycle(phase: String, e: Int, corpusDf: DataFrame, n: Int): Unit = {
      val warm = phase == "warmup"
      val tag = if (warm) "warmup." else ""
      val dir = ctx.work.resolve(s"bm25-$phase-$e").toString
      def io[T](body: => T): T = if (warm) body else ctx.writesOf(Seq(Paths.get(dir)))(body)
      tr.group(phase) {
        val curated = try Some(io(ctx.timed(tag + "curate") {
          val pairsDf = tr.call("dedup.minhashLshPairs") {
            val p = Dedup.minhashLshPairs(corpusDf, threshold = Threshold, maxBucketSize = MaxBucket).persist()
            p.count()
            p
          }
          val groupsDf = tr.call("dedup.connectedComponents") {
            val g = Dedup.connectedComponents(pairsDf).persist()
            g.count()
            g
          }
          val kept = tr.call("dedup.keepBestPerGroup") {
            val k = Dedup.keepBestPerGroup(groupsDf, scores).select("id", "group_id", "keep").collect()
            tr.addRows(k.length)
            k
          }
          val dropped = kept.filter(_.getLong(2) == 0L).map(_.getLong(0))
          val survivorsDf = corpusDf.join(broadcast(dropped.toSeq.toDF("doc_id")), Seq("doc_id"), "left_anti")
          tr.call("text.Bm25.buildIndex")(Bm25.buildIndex(survivorsDf, dir, nBuckets = Buckets))
          groupsDf.unpersist()
          (pairsDf, kept, dropped)
        })) catch {
          case ex: Exception => ctx.checks.op(ok = false, s"curation pipeline threw $ex"); None
        }
        curated.foreach { case (pairsDf, kept, dropped) =>
          // the pairs are read back from storage for the check, untimed
          val pairs = pairsDf.collect()
          pairsDf.unpersist()
          checkCuration(ctx, pairs, kept, shingles, score)
          val survivors = (0L until n).toSet -- dropped
          if (!warm) {
            val groupOf = kept.map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
            dupRecall = truePairs.count { case (a, b) => groupOf.get(a).exists(g => groupOf.get(b).contains(g)) }
              .toDouble / math.max(1, truePairs.length)
            bucketStats += kept.groupBy(_.getLong(1)).values.map(_.length).max
            survivorCounts += survivors.size
          }
          if (survivors != lastSurvivors) {
            queries = rareTermQueries(ctx.seed, survivors, texts)
            lastSurvivors = survivors
          }
          if (!warm) storedRatio += Dirs.bytes(Seq(Paths.get(dir))).toDouble /
            survivors.iterator.map(i => texts(i.toInt).getBytes(StandardCharsets.UTF_8).length.toLong).sum
          val res = try ctx.timed(tag + "search")(tr.call("text.Bm25.searchSaved") {
            val r = Bm25.searchSaved(spark, dir, queries, K).select("qid", "doc_id").collect()
            tr.addRows(r.length)
            r
          }) catch {
            case ex: Exception => ctx.checks.op(ok = false, s"Bm25.searchSaved threw $ex"); null
          }
          if (res != null) {
            val found = res.map(r => (r.getLong(0), r.getLong(1))).toSet
            val missed = queries.filterNot { case (qid, _) => found((qid, qid)) }
            ctx.checks.op(missed.isEmpty,
              s"BM25 self-retrieval: ${missed.length} docs not in their own top $K, e.g. ${missed.take(3).mkString("; ")}")
          }
        }
      }
      Dirs.delete(Paths.get(dir))
      ctx.checkpointHeap()
    }

    // one untimed cycle over a slice of the corpus first, so the timed cycles
    // see warm code generation and JIT, as a long-running client does
    val warmDocs = spark.sparkContext.parallelize(rows.take(WarmDocs), ctx.parts).toDF("doc_id", "text").persist()
    cycle("warmup", 0, warmDocs, WarmDocs)
    warmDocs.unpersist()
    ctx.startLoop()
    while (ctx.more(MinCycles)) cycle("cycle", ctx.cycle, docs, Docs)
    docs.unpersist(); scores.unpersist()

    val searches = ctx.times("search")
    val curates = ctx.times("curate")
    val (tailP, tail) = Stats.tail(searches)
    Outcome(
      endToEnd = ListMap(
        "setup_s" -> (Stats.median(ctx.times("setup")), "s"),
        "retained_heap_mb" -> (ctx.retainedHeapMb, "MB"),
        "search_qps" -> (Queries * searches.length / searches.sum, "1/s"),
        "search_p50_s" -> (Stats.median(searches), "s"),
        "recall" -> (dupRecall, "ratio"),
        "bytes_stored_per_user_byte" -> (Stats.median(storedRatio.toSeq), "ratio"),
        "write_items_per_s" -> (Docs / Stats.median(curates), "1/s")),
      layer = Map.empty,
      info = ListMap(
        "input" -> ListMap("docs" -> Docs, "vocabulary" -> Vocab, "families" -> corpus.families.length,
          "largest_family" -> corpus.families.map(_.length).max, "mutation" -> Mutation,
          "text_bytes" -> texts.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum,
          "jaccard_threshold" -> Threshold, "max_bucket_size" -> MaxBucket, "true_dup_pairs" -> truePairs.length),
        "state" -> ListMap("survivors" -> survivorCounts.toSeq, "largest_group" -> bucketStats.toSeq),
        "curate_docs_per_s" -> Docs / Stats.median(curates), "curate_p50_s" -> Stats.median(curates),
        "curate_samples" -> curates.length,
        "dup_pair_recall" -> dupRecall, "bm25_qps" -> Queries * searches.length / searches.sum,
        "search_samples" -> searches.length, "search_tail_s" -> tail, "search_tail_percentile" -> tailP,
        "setup_samples" -> ctx.times("setup"), "loop_s" -> ctx.loopSeconds))
  }

  /** Every reported pair must carry the Jaccard the benchmark computes from
    * the texts, at or above the threshold; every group must keep exactly
    * its best-scoring member (ties to the lowest id).
    */
  private def checkCuration(ctx: Ctx, pairs: Array[Row], kept: Array[Row],
      shingles: Array[Set[String]], score: Array[Int]): Unit = {
    val badPairs = pairs.filter { r =>
      val j = Oracle.jaccard(shingles(r.getLong(0).toInt), shingles(r.getLong(1).toInt))
      math.abs(j - r.getDouble(2)) > 1e-9 || j < Threshold
    }
    ctx.checks.op(badPairs.isEmpty,
      s"${badPairs.length} reported dup pairs disagree with recomputed Jaccard, e.g. ${badPairs.take(3).mkString("; ")}")
    val badGroups = kept.groupBy(_.getLong(1)).filter { case (_, ms) =>
      val best = ms.map(_.getLong(0)).minBy(id => (-score(id.toInt), id))
      ms.count(_.getLong(2) == 1L) != 1 || ms.find(_.getLong(2) == 1L).get.getLong(0) != best
    }
    ctx.checks.op(badGroups.isEmpty, s"${badGroups.size} groups keep a member that is not their best")
  }

  /** Queries that each name one surviving document by its three rarest
    * terms (document frequency over the survivors, ties by term); the qid
    * is the document's id.
    */
  private def rareTermQueries(seed: Long, survivors: Set[Long], texts: Array[String]): Seq[(Long, String)] = {
    val ids = survivors.toArray.sorted
    val df = mutable.HashMap.empty[String, Int]
    ids.foreach(i => texts(i.toInt).split(" ").distinct.foreach(t => df(t) = df.getOrElse(t, 0) + 1))
    val r = new Rng(seed * 13 + 5)
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < Queries) picked += ids(r.below(ids.length))
    picked.toSeq.map { id =>
      id -> texts(id.toInt).split(" ").distinct.sortBy(t => (df(t), t)).take(3).mkString(" ")
    }
  }
}
