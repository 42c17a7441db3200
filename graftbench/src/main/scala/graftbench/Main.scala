package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run shares with its workload: the session, the tracer, the
  * failure ledger and the closed-loop clock. One client thread issues each
  * operation and waits for it.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val checks: Checks,
    val seed: Long, seconds: Int, val cycles: Option[Int], val cores: Int, val work: Path) {
  /** Data and shuffle partitions: one per core, as the session is set up. */
  val parts: Int = cores

  private var loopStart = 0L
  private var done = 0

  /** (kind, seconds) for every timed operation. */
  val samples = mutable.ArrayBuffer.empty[(String, Double)]

  def timed[T](kind: String)(body: => T): T = {
    val s = System.nanoTime()
    val r = body
    samples += ((kind, (System.nanoTime() - s) / 1e9))
    r
  }

  def times(kind: String): Seq[Double] = samples.collect { case (`kind`, t) => t }.toSeq

  def startLoop(): Unit = { loopStart = System.nanoTime(); done = 0 }

  /** Closed loop: the next cycle runs while the time budget (or, for the
    * determinism check, the fixed cycle count) is not spent.
    */
  def more(minCycles: Int): Boolean = {
    val go = cycles match {
      case Some(n) => done < n
      case None => done < minCycles || (System.nanoTime() - loopStart) / 1e9 < seconds
    }
    if (go) done += 1
    go
  }

  def cycle: Int = done - 1
  def loopSeconds: Double = (System.nanoTime() - loopStart) / 1e9

  // io layer: bytes and files written per loop cycle, found by walking the
  // index directories before and after it (traced runs only)
  private var ioCycles = 0
  private var ioBytes = 0L
  private var ioFiles = 0L
  def writesOf[T](dirs: Seq[Path])(body: => T): T =
    if (!tracer.enabled) body
    else {
      val before = tracer.overhead(Dirs.snapshot(dirs))
      val r = body
      tracer.overhead {
        Dirs.snapshot(dirs).foreach { case (p, f) =>
          if (!before.get(p).contains(f)) { ioBytes += f._1; ioFiles += 1 }
        }
      }
      ioCycles += 1
      r
    }

  /** Retained heap: a full collection at a quiet point, then the heap in
    * use. Called after each loop cycle (never inside a timed operation), so
    * memory a call holds only while it runs does not show; the largest value
    * is the run's retained heap. It includes the benchmark's own inputs and
    * oracle state, whose size [[markHeapBaseline]] records before set-up.
    */
  private var liveHeapMax = 0L
  private def liveHeap(): Long = {
    def collect(): Long = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    // collect until the heap stops shrinking: each pause lets Spark's
    // cleaner release what the previous collection made unreachable
    // (broadcasts, shuffles and cached blocks)
    var prev = collect()
    var cur = prev
    var rounds = 0
    while ({ Thread.sleep(100); cur = collect(); rounds += 1; cur < prev * 0.99 && rounds < 5 }) prev = cur
    cur
  }
  def checkpointHeap(): Unit = liveHeapMax = math.max(liveHeapMax, liveHeap())
  def retainedHeapMb: Double = liveHeapMax / 1048576.0

  /** Heap held before graft runs: the session, the generated inputs and the
    * oracle's state. Reported in the info line beside the retained heap.
    */
  var heapBaselineMb = 0.0
  def markHeapBaseline(): Unit = heapBaselineMb = liveHeap() / 1048576.0

  def ioPerCycle: (Double, Double) =
    if (ioCycles == 0) (0.0, 0.0) else (ioBytes.toDouble / ioCycles, ioFiles.toDouble / ioCycles)
}

object Dirs {
  private def files(d: Path): List[Path] =
    if (!Files.exists(d)) Nil
    else scala.util.Using.resource(Files.walk(d))(_.iterator().asScala.filter(Files.isRegularFile(_)).toList)

  /** path -> (length, mtime) of every file under `dirs`. */
  def snapshot(dirs: Seq[Path]): Map[String, (Long, Long)] =
    dirs.flatMap(files).map(p => p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))).toMap

  def bytes(dirs: Seq[Path]): Long = dirs.flatMap(files).map(Files.size).sum

  /** Recursive delete that tolerates files vanishing underneath it (Spark
    * removes its own scratch files concurrently while it stops).
    */
  def delete(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val kids = try scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toList)
        catch { case _: java.nio.file.NoSuchFileException => Nil }
      kids.foreach(delete)
    }
    Files.deleteIfExists(p)
  }
}

/** A workload's measured outcome: end-to-end metrics (name -> value, unit),
  * layer extras it alone can count, and context for the info line.
  */
final case class Outcome(
    endToEnd: ListMap[String, (Double, String)],
    layer: Map[String, Double],
    info: ListMap[String, Any])

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "stream-maintain" -> StreamMaintain.run,
    "text-curate" -> TextCurate.run)

  /** Every span the per-layer metrics cover, named `<module>.<function>`. */
  val Spans: Seq[String] = Seq(
    "knn.Ivf.train",
    "streaming.ivfMaintenanceSink", "streaming.hnswDeltaMaintenanceSink",
    "streaming.searchIvfMaintained", "streaming.searchHnswMaintained",
    "streaming.compactIvfIfNeeded", "streaming.compactHnswIfNeeded",
    "streaming.retrainIfQuantDrifted",
    "dedup.minhashLshPairs", "dedup.connectedComponents", "dedup.keepBestPerGroup",
    "text.Bm25.buildIndex", "text.Bm25.searchSaved")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val cycles = opts.get("cycles").map(_.toInt)
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = Paths.get(opts.getOrElse("work", "graftbench/target/work")).toAbsolutePath
    val out = Paths.get(opts.getOrElse("out", "graftbench/target/out")).toAbsolutePath
    Dirs.delete(work)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark, trace, runId)
    val ctx = new Ctx(spark, tracer, new Checks, seed, seconds, cycles, cores, work)
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val outcome =
      try run(ctx)
      catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $workload aborted: $e")
          e.printStackTrace()
          spark.stop()
          sys.exit(1)
      }
    val gc = gcSeconds() - gc0
    tracer.finish()

    val checks = ctx.checks
    val env = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "data_partitions" -> ctx.parts, "shuffle_partitions" -> ctx.parts,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "simd" -> graft.core.DistKernel.isSimd,
      "source_sha" -> sys.env.getOrElse("GRAFTBENCH_SOURCE_SHA", "unknown"),
      "git_sha" -> sys.env.getOrElse("GRAFTBENCH_GIT_SHA", "unknown"))
    val metrics: ListMap[String, (Double, String)] =
      if (trace) layerMetrics(ctx, outcome, gc, (System.nanoTime() - t0) / 1e9) else outcome.endToEnd
    val errorRate = checks.failed.toDouble / math.max(1L, checks.attempted)
    val info = env ++ outcome.info ++ ListMap(
      "samples_s" -> ListMap(ctx.samples.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) => k -> v.map(_._2) }: _*),
      "heap_before_setup_mb" -> ctx.heapBaselineMb,
      "error_rate" -> errorRate, "attempted" -> checks.attempted, "failed" -> checks.failed,
      "end_to_end" -> outcome.endToEnd.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    Files.createDirectories(out)
    if (trace) tracer.dump(out.resolve(s"trace-$workload-s$seed.json"))
    val line = Json.obj(
      "correct" -> (checks.failed == 0 && checks.attempted > 0),
      "attempted" -> math.max(1L, checks.attempted), "failed" -> checks.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    val infoLine = Json.obj("info" -> info)
    Files.writeString(out.resolve(s"result-$workload-s$seed-t${if (trace) 1 else 0}.json"),
      infoLine + "\n" + line + "\n")
    spark.stop()
    Dirs.delete(work)
    println(infoLine)
    println(line)
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Per-layer metrics of a traced run: per call means of every span's
    * work, then the layer counters and the tracing overhead.
    */
  private def layerMetrics(ctx: Ctx, o: Outcome, gcS: Double, runS: Double): ListMap[String, (Double, String)] = {
    val tracer = ctx.tracer
    // a span's metrics describe its loop calls; spans that only run during
    // set-up (index builds) describe their set-up calls
    val calls = tracer.spans.filter(_.leaf).groupBy(_.name).map { case (k, cs) =>
      val inLoop = cs.filter(_.phase == "cycle")
      k -> (if (inLoop.nonEmpty) inLoop else cs)
    }
    val perSpan = Spans.flatMap { name =>
      val cs = calls.getOrElse(name, Seq.empty)
      val n = math.max(1, cs.length).toDouble
      val ws = cs.map(tracer.workOf)
      val idleMs = cs.zip(ws).map { case (s, w) =>
        (s.endMs - s.startMs) - Intervals.covered(w.intervals, s.startMs, s.endMs)
      }.sum
      Seq(
        s"$name.wall_s" -> (cs.map(_.wallNs).sum / 1e9 / n, "s"),
        s"$name.idle_s" -> (idleMs / 1e3 / n, "s"),
        s"$name.jobs" -> (ws.map(_.jobs).sum / n, "count"),
        s"$name.tasks" -> (ws.map(_.tasks).sum / n, "count"),
        s"$name.task_cpu_s" -> (ws.map(_.cpuNs).sum / 1e9 / n, "s"),
        s"$name.shuffle_bytes" -> (ws.map(_.shuffleBytes).sum / n, "bytes"))
    }
    def examined(names: String*): Double = {
      val cs = names.flatMap(calls.getOrElse(_, Seq.empty))
      val rows = cs.map(_.rows).sum
      val ws = cs.map(tracer.workOf)
      if (rows == 0) 0.0 else ws.map(w => w.inputRecords + w.shuffleRecords).sum.toDouble / rows
    }
    val (ioB, ioF) = ctx.ioPerCycle
    val (spill, listenerNs) = tracer.listener.synchronized(
      (tracer.listener.byGroup.values.map(_.spillBytes).sum, tracer.listener.busyNs))
    ListMap(perSpan: _*) ++ ListMap(
      "io.bytes_written" -> (ioB, "bytes"),
      "io.files_written" -> (ioF, "count"),
      "streaming.compactions" -> (o.layer.getOrElse("streaming.compactions", 0.0), "count"),
      "streaming.retrains" -> (o.layer.getOrElse("streaming.retrains", 0.0), "count"),
      "knn.rows_examined_per_result" ->
        (examined("streaming.searchIvfMaintained"), "ratio"),
      "hnsw.rows_examined_per_result" ->
        (examined("streaming.searchHnswMaintained"), "ratio"),
      "knn.recall_at_10" -> (o.layer.getOrElse("knn.recall_at_10", 0.0), "ratio"),
      "hnsw.recall_at_10" -> (o.layer.getOrElse("hnsw.recall_at_10", 0.0), "ratio"),
      "spark.spill_bytes" -> (spill.toDouble, "bytes"),
      "spark.gc_s" -> (gcS, "s"),
      // tracing work on the main thread and in the listener, as a share of
      // the run's wall time; the spread report also measures the gap between
      // traced and untraced runs directly
      "trace.overhead_ratio" -> ((tracer.ownNs + listenerNs) / 1e9 / runS, "ratio"))
  }

}
