package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints the executed plan of every selected catalog row, normalised so
  * that two revisions' dumps differ only where a plan really changed:
  * expression ids (`#123`), lambda variable numbers (`x_4`, drawn from a
  * JVM-wide counter), plan ids, lambda class names, object hashes,
  * temporary directory and view names, and adaptive stage and codegen
  * numbers are replaced by fixed tokens.
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump <sfDir> <outFile> [--executions] [namePrefix ...]"
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

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <sfDir> <outFile> [--executions] [namePrefix ...]")
    val Array(dir, out) = args.take(2)
    val (flags, named) = args.drop(2).toSeq.partition(_ == "--executions")
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
    val executions = if (flags.nonEmpty) Some(new Executions) else None
    executions.foreach(spark.listenerManager.register)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try rows.foreach { case (name, fn) =>
      w.println(s"== $name")
      w.println(normalise(fn(spark, dir).queryExecution.executedPlan.toString))
      executions.foreach(_.take(spark).foreach(p => w.println(normalise(p))))
    } finally w.close()
    println(s"[plandump] ${rows.size} rows -> $out")
    spark.stop()
  }
}
