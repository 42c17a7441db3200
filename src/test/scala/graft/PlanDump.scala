package graft

import org.apache.spark.sql.SparkSession

/** Prints the executed plan of every selected catalog row, normalised so
  * that two revisions' dumps differ only where a plan really changed:
  * expression ids (`#123`), lambda variable numbers (`x_4`, drawn from a
  * JVM-wide counter), plan ids, lambda class names, object hashes and
  * temporary directory names are replaced by fixed tokens.
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump <sfDir> <outFile> [namePrefix ...]"
  * diff parent.txt change.txt
  * }}}
  *
  * Prefixes default to the kNN/ANN rows: `knn_`, `ann_`, `hnsw_`,
  * `stream_ivf_`, `stream_hnsw_`. Rows are dumped in name order, each
  * under a `== <name>` header.
  */
object PlanDump {

  private val rules: Seq[(scala.util.matching.Regex, String)] = Seq(
    """#\d+""".r -> "#",
    """lambda (\w+)_\d+#""".r -> "lambda $1_#",
    """plan_id=\d+""".r -> "plan_id=",
    """\$\$Lambda[$/\w.]*(@[0-9a-f]+)?""".r -> "\\$\\$Lambda",
    """@[0-9a-f]{5,}""".r -> "@",
    """(spark|graft|temporary|blockmgr)-[0-9a-f-]{8,}""".r -> "$1-",
    """/tmp/[\w./-]+""".r -> "/tmp/…")

  def normalise(plan: String): String =
    rules.foldLeft(plan) { case (p, (re, to)) => re.replaceAllIn(p, to) }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outFile> [namePrefix ...]")
    val Array(dir, out) = args.take(2)
    val prefixes =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("knn_", "ann_", "hnsw_", "stream_ivf_", "stream_hnsw_")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try rows.foreach { case (name, fn) =>
      w.println(s"== $name")
      w.println(normalise(fn(spark, dir).queryExecution.executedPlan.toString))
    } finally w.close()
    println(s"[plandump] ${rows.size} rows -> $out")
    spark.stop()
  }
}
