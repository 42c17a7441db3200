package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints the executed plan of every selected catalog row, normalised so
  * that two revisions' dumps differ only where a plan really changed:
  * expression ids (`#123`), lambda variable numbers (`x_4`, drawn from a
  * JVM-wide counter), plan ids, lambda class names, object hashes,
  * temporary directory and view names, and adaptive stage and codegen
  * numbers are replaced by fixed tokens.
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump <sfDir> <outFile> [--executions] [--jobs] [namePrefix ...]"
  * diff parent.txt change.txt
  * }}}
  *
  * Prefixes default to the kNN/ANN rows: `knn_`, `ann_`, `hnsw_`,
  * `stream_ivf_`, `stream_hnsw_`. Rows are dumped in name order, each
  * under a `== <name>` header.
  *
  * `--executions` also prints, under `-- <action>` headers after the row's
  * final plan, every query execution the row runs while it is built, in
  * finish order: the writes and reads a `foreachBatch` sink does inside
  * the row, a setup's collects. Those plans never reach the row's final
  * reader plan, so without this mode a change to a sink's per-batch work
  * is invisible to the dump.
  *
  * `--jobs` also runs each row (`collect`) and prints, under a `-- jobs`
  * header, the Spark jobs the row started while built and run: per query
  * execution in start order (its description, then each job's call site,
  * stages and tasks), then the jobs started outside any query execution
  * (schema inference, RDD collects). Call sites keep their line numbers,
  * so this part is read, not diffed.
  */
object PlanDump {

  private val rules: Seq[(scala.util.matching.Regex, String)] = Seq(
    """#\d+""".r -> "#",
    """lambda (\w+)_\d+#""".r -> "lambda $1_#",
    """plan_id=\d+""".r -> "plan_id=",
    """\$\$Lambda[$/\w.]*(@[0-9a-f]+)?""".r -> "\\$\\$Lambda",
    """@[0-9a-f]{5,}""".r -> "@",
    """(spark|graft|temporary|blockmgr)-[0-9a-f-]{8,}""".r -> "$1-",
    """/tmp/[\w./-]+""".r -> "/tmp/…",
    // a path cut short inside "/tmp" by the plan printer's length limit
    """file:/[a-z]{0,3}\.\.\.""".r -> "file:/tmp/…",
    // a streaming query's random view name
    """_[0-9a-f]{32}\b""".r -> "_…",
    // adaptive execution numbers stages and codegen spans in the order
    // they materialise, which varies from run to run
    """QueryStage \d+""".r -> "QueryStage",
    """\*\(\d+\)""".r -> "*")

  def normalise(plan: String): String =
    rules.foldLeft(plan) { case (p, (re, to)) => re.replaceAllIn(p, to) }

  /** The executed plans of the query executions that finish on a session
    * (and on the sessions cloned from it after registration, such as a
    * streaming query's), in finish order.
    */
  private final class Executions extends QueryExecutionListener {
    private val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    private def record(header: String, qe: QueryExecution): Unit =
      synchronized { seen += s"$header\n${qe.executedPlan}" }
    def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
      record(s"-- $action", qe)
    def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
      record(s"-- $action FAILED: ${e.getClass.getName}", qe)
    /** The plans recorded since the last call. */
    def take(spark: SparkSession): Seq[String] = {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      synchronized { try seen.toList finally seen.clear() }
    }
  }

  /** The Spark jobs started on a context, with the query execution (if
    * any) each ran under and the tasks each ran.
    */
  private final class Jobs extends SparkListener {
    private final case class Job(execution: Option[Long], site: String, stages: Int) {
      var tasks = 0
    }
    private val executions = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    private val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    private val stageJob = scala.collection.mutable.Map.empty[Int, Job]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { executions(s.executionId) = s.description }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val execution = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      // the result stage carries the job's call site; adaptive execution
      // submits its stages from a pool thread, whose call site says nothing
      val site = e.stageInfos.maxBy(_.stageId).name
        .replaceAll(""".*withThreadLocalCaptured.*""", "adaptive query stage")
      val job = Job(execution.map(_.toLong), site, e.stageIds.size)
      jobs += job
      e.stageIds.foreach(stageJob(_) = job)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach(_.tasks += 1)
    }

    /** The job list since the last call, one line per execution and job. */
    def take(spark: SparkSession): Seq[String] = {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      synchronized {
        def lines(js: Seq[Job]) = js.map(j => s"   job ${j.site}: ${j.stages} stages, ${j.tasks} tasks")
        val byExecution = jobs.toSeq.groupBy(_.execution)
        val out = s"-- jobs: ${jobs.size} jobs, ${jobs.map(_.tasks).sum} tasks" +:
          ((executions.toSeq ++ byExecution.keys.flatten.filterNot(executions.contains).toSeq.sorted
            .map(_ -> "(started before this row)")).flatMap { case (id, desc) =>
            val js = byExecution.getOrElse(Some(id), Nil)
            s"-- sql execution ${desc.linesIterator.nextOption().getOrElse("")}: ${js.size} jobs" +: lines(js)
          } ++ {
            val js = byExecution.getOrElse(None, Nil)
            s"-- outside any sql execution: ${js.size} jobs" +: lines(js)
          })
        executions.clear(); jobs.clear(); stageJob.clear()
        out
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <sfDir> <outFile> [--executions] [--jobs] [namePrefix ...]")
    val Array(dir, out) = args.take(2)
    val (flags, named) = args.drop(2).toSeq.partition(_.startsWith("--"))
    flags.foreach(f => require(Set("--executions", "--jobs")(f), s"unknown flag $f"))
    val prefixes =
      if (named.nonEmpty) named
      else Seq("knn_", "ann_", "hnsw_", "stream_ivf_", "stream_hnsw_")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val executions = if (flags.contains("--executions")) Some(new Executions) else None
    executions.foreach(spark.listenerManager.register)
    val jobs = if (flags.contains("--jobs")) Some(new Jobs) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try rows.foreach { case (name, fn) =>
      w.println(s"== $name")
      val df = fn(spark, dir)
      w.println(normalise(df.queryExecution.executedPlan.toString))
      jobs.foreach(_ => df.collect())
      executions.foreach(_.take(spark).foreach(p => w.println(normalise(p))))
      jobs.foreach(_.take(spark).foreach(w.println))
    } finally w.close()
    println(s"[plandump] ${rows.size} rows -> $out")
    spark.stop()
  }
}
