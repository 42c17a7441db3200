package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Work attributed to one Spark job group (one span instance). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputRecords = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // task (launch, finish) ms
}

/** Benchmark-owned listener: counts jobs, tasks, task CPU, shuffle, spill
  * and task intervals per job group. Spans set the group, so every job a
  * library call starts is charged to that call; jobs outside any span land
  * in the group "".
  */
final class WorkListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val byGroup = mutable.HashMap.empty[String, Work]
  /** Time spent inside these handlers: part of the tracing overhead. */
  var busyNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
    byGroup.getOrElseUpdate(g, new Work).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val g = groupOf(e.properties)
    if (g.nonEmpty || !stageGroup.contains(e.stageInfo.stageId)) stageGroup(e.stageInfo.stageId) = g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val w = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Work)
    w.tasks += 1
    w.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.inputRecords += m.inputMetrics.recordsRead
      w.shuffleRecords += m.shuffleReadMetrics.recordsRead
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** One recorded span: a library call (leaf, owns a job group) or a
  * grouping span (phase, cycle) whose children are calls.
  */
final case class Span(id: Long, name: String, parent: Long, phase: String, leaf: Boolean,
    startMs: Long, endMs: Long, wallNs: Long, rows: Long)

/** In-memory span recorder. Spans are kept until the run ends and written
  * once by [[dump]]. A disabled tracer records nothing, sets no job group
  * and attaches no listener: untraced runs pay nothing for it.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  val listener = new WorkListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private var phase = ""
  private var nextId = 1L
  /** Main-thread time spent in tracing code (span bookkeeping, directory
    * walks, draining the listener bus).
    */
  var ownNs = 0L
  if (enabled) sc.addSparkListener(listener)

  /** Runs `body` as tracing work: its time counts as overhead. */
  def overhead[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs += System.nanoTime() - t0
  }

  /** Span around one public graft call, with its own Spark job group. */
  def call[T](name: String)(body: => T): T = record(name, leaf = true)(body)

  /** Grouping span (a phase or one loop cycle); carries no job group. */
  def group[T](name: String)(body: => T): T = record(name, leaf = false)(body)

  private val pendingRows = mutable.HashMap.empty[Long, Long]

  /** Charge `n` result rows to the innermost open call span. */
  def addRows(n: Long): Unit = if (enabled) stack.headOption.foreach { id =>
    pendingRows(id) = pendingRows.getOrElse(id, 0L) + n
  }

  private def record[T](name: String, leaf: Boolean)(body: => T): T = {
    if (!enabled) return body
    val b0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    if (stack.isEmpty) phase = name
    stack = id :: stack
    if (leaf) sc.setJobGroup(s"gb-$id", name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    ownNs += n0 - b0
    try body
    finally {
      val n1 = System.nanoTime()
      val t1 = System.currentTimeMillis()
      stack = stack.tail
      if (leaf) sc.clearJobGroup()
      spans += Span(id, name, parent, phase, leaf, t0, t1, n1 - n0, pendingRows.remove(id).getOrElse(0L))
      ownNs += System.nanoTime() - n1
    }
  }

  def workOf(s: Span): Work = listener.synchronized {
    listener.byGroup.getOrElse(s"gb-${s.id}", new Work)
  }

  def finish(): Unit = if (enabled) overhead(org.apache.spark.BenchBus.drain(sc))

  /** Trace dump: every span with its parent, run id and self time. */
  def dump(path: java.nio.file.Path): Unit = {
    val children = spans.groupBy(_.parent)
    val rows = spans.sortBy(_.id).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val self = (s.endMs - s.startMs) - Intervals.covered(kids, s.startMs, s.endMs)
      val w = if (s.leaf) workOf(s) else new Work
      Json.obj(
        "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "phase" -> s.phase,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self,
        "jobs" -> w.jobs, "tasks" -> w.tasks, "task_cpu_s" -> w.cpuNs / 1e9,
        "rows" -> s.rows)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Intervals {
  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var sum = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) sum += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) sum += curB - curA
    sum
  }
}
