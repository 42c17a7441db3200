package graft

/** Automated plan audit over the ENTIRE catalog: the scale rules PLANS.md
  * documents, enforced as a regression gate. A future edit that slips a
  * cartesian product or drops a pushed filter fails here, not at 100 TB.
  */
class PlanLintSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // stream_* entries start a streaming query on construction; their plans
  // are the (already linted) windowed aggregations, skip the side effect
  private def plans: Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("stream_"))
      .map { case (name, fn) =>
        name -> fn(spark, dir).queryExecution.executedPlan.toString
      }

  test("no catalog query plans a cartesian product (all pair generation is bucketed or broadcast)") {
    plans.foreach { case (name, plan) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
    }
  }

  test("query-side filters reach the parquet scan (predicate pushdown)") {
    // representative queries that filter the scan by vec_id / doc_id
    Seq("knn_bruteforce" -> "LessThan(vec_id,5)",
        "hnsw_search" -> "LessThan(vec_id,5)",
        "dist_euclidean" -> "EqualTo(vec_id,0)").foreach { case (name, pushed) =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains(pushed), s"$name: expected pushed filter $pushed")
    }
  }

  test("grouped top-k bounds candidates before the shuffle (WindowGroupLimit)") {
    // knn_matryoshka / knn_rp: the COARSE windows must bound the qid
    // exchange — without WindowGroupLimit the coarse stage shuffles the
    // full Q x N candidate stream, which is exactly what the tier exists
    // to avoid at 100 TB
    Seq("knn_bruteforce", "top_orders_per_segment", "knn_matryoshka", "knn_rp").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), s"$name: expected WindowGroupLimit")
    }
  }

  /** Code lines (comment lines dropped) of every main source, keyed by
    * path under `src/main/scala`.
    */
  private def mainSources: Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no ${root.toAbsolutePath}")
    val files = scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    files.map { f =>
      root.relativize(f).toString -> java.nio.file.Files.readAllLines(f).asScala.toSeq
        .filterNot(l => Seq("//", "*", "/*").exists(l.trim.startsWith))
    }.toMap
  }

  test("one exact heap-scan core and one maintained delta-log read (source check)") {
    def scansOutsideKnn(srcs: Map[String, Seq[String]]): Seq[String] =
      srcs.toSeq.filter { case (path, lines) =>
        !path.startsWith("graft/knn/") && lines.exists(_.contains("TopK.scanBlocked("))
      }.map(_._1)
    def deltaReads(srcs: Map[String, Seq[String]]): Int =
      srcs("graft/streaming/StreamingOps.scala").map("""\.read\("delta"\)""".r.findAllIn(_).size).sum
    val srcs = mainSources
    assert(scansOutsideKnn(srcs) === Nil,
      "TopK.scanBlocked called outside graft.knn: take candidates from graft.knn.Knn instead")
    assert(deltaReads(srcs) === 1,
      "StreamingOps must read a maintained vector delta log in one place (MaintainedView.open)")
    // the checks see a copy coming back
    val ops = srcs("graft/streaming/StreamingOps.scala")
    assert(scansOutsideKnn(srcs + ("graft/streaming/StreamingOps.scala" ->
      (ops :+ "TopK.scanBlocked(iter, qs, heaps, kernel)"))).nonEmpty)
    assert(deltaReads(srcs + ("graft/streaming/StreamingOps.scala" ->
      (ops :+ "hnswLog(spark, dir).read(\"delta\")"))) === 2)
  }

  test("aggregations are partial before the exchange (map-side combine)") {
    Seq("q1_agg", "dedup_exact", "events_window").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      // partial + final HashAggregate pairs around the exchange
      assert("HashAggregate".r.findAllIn(plan).size >= 2, s"$name: expected partial aggregation")
    }
  }
}
