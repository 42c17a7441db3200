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

  /** A policy's code pattern and the one file allowed to hold it. A copy
    * counts anywhere under `src/main/scala` but under `definedIn` (where
    * the pattern's own expression is defined), except for the rank window
    * (`annOnly`): it counts only in the ANN tiers' sources and in
    * ascending order, since relevance rankers (BM25, fusion, rank metrics,
    * MaxSim) keep their own descending score windows.
    */
  private final case class Policy(
      what: String, re: scala.util.matching.Regex, home: String, annOnly: Boolean = false,
      definedIn: Option[String] = None) {
    def copiedIn(path: String, lines: Seq[String]): Boolean =
      path != home && !definedIn.exists(path.startsWith) && (!annOnly || annTier(path)) &&
        lines.exists(l => re.findFirstIn(l).isDefined && !(annOnly && l.contains(".desc")))
  }

  private val topKHomes: Seq[Policy] = Seq(
    Policy("(distance, id) rank window", """\.partitionBy\("qid"\)\.orderBy\(""".r, "graft/knn/Knn.scala",
      annOnly = true),
    Policy("probe ranking", """sortBy\(identity\)""".r, "graft/knn/Ivf.scala"),
    Policy("probed-cell mask", """new Array\[Boolean\]\(nCells\)""".r, "graft/knn/Ivf.scala"),
    Policy("query fan-out", """Iterator\.range\(0, p\)\.map\(pid""".r, "graft/knn/Knn.scala"),
    Policy("heap emission", """h\.sorted\.iterator\.map""".r, "graft/knn/Knn.scala"),
    Policy("heap scan", """TopK\.scanBlocked\(""".r, "graft/knn/Knn.scala"))

  private def annTier(path: String): Boolean =
    Seq("graft/knn/", "graft/hnsw/", "graft/plans/", "graft/streaming/", "graft/Queries.scala")
      .exists(path.startsWith)

  /** The banded-LSH policies, all at home in the one LSH core. */
  private val lshHomes: Seq[Policy] = Seq(
    Policy("bucket-sizing window", "\"__min_id\"".r, "graft/dedup/Lsh.scala"),
    Policy("text band rows", """ShingleBandHashes\(""".r, "graft/dedup/Lsh.scala",
      definedIn = Some("graft/functions/")),
    Policy("Hamming slice", """shiftrightunsigned\(""".r, "graft/dedup/Lsh.scala"),
    Policy("Hamming verify", """bit_count\(col\("__h_a"\)""".r, "graft/dedup/Lsh.scala"))

  /** "<policy>: <path>" for every copy of a policy outside its home. */
  private def strayCopies(
      srcs: Map[String, Seq[String]], policies: Seq[Policy] = topKHomes): Seq[String] =
    for {
      p <- policies
      (path, lines) <- srcs.toSeq.sortBy(_._1)
      if p.copiedIn(path, lines)
    } yield s"${p.what}: $path"

  test("one exact heap-scan core and one maintained delta-log read (source check)") {
    def deltaReads(srcs: Map[String, Seq[String]]): Int =
      srcs("graft/streaming/StreamingOps.scala").map("""\.read\("delta"\)""".r.findAllIn(_).size).sum
    val srcs = mainSources
    assert(strayCopies(srcs) === Nil, "take each top-k policy from its home in graft.knn")
    topKHomes.foreach { p =>
      assert(srcs(p.home).exists(p.re.findFirstIn(_).isDefined), s"${p.home} no longer holds the ${p.what}")
    }
    assert(deltaReads(srcs) === 1,
      "StreamingOps must read a maintained vector delta log in one place (MaintainedView.open)")
    // the checks see a copy coming back
    val injected = Seq(
      "graft/hnsw/HnswSpark.scala" -> """val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))""",
      "graft/Queries.scala" -> """        .partitionBy("qid").orderBy(col("dist"), col("id"))""",
      "graft/knn/Pq.scala" -> """.sortBy(identity).take(nprobe).map(_._2)""",
      "graft/knn/Quantize.scala" -> """val m = new Array[Boolean](nCells)""",
      "graft/hnsw/HnswSpark.scala" -> """.flatMap(q => Iterator.range(0, p).map(pid => (pid, q)))""",
      "graft/knn/Pca.scala" -> """h.sorted.iterator.map { case (u, _) => (qs(qi)._1, u) }""",
      "graft/streaming/StreamingOps.scala" -> "TopK.scanBlocked(iter, qs, heaps, kernel)",
      "graft/knn/Ivf.scala" -> """TopK.scanBlocked(rows, qvecs, heaps, kernel)""",
      // outside the ANN tiers every policy but the rank window still counts
      "graft/ops/Mmr.scala" -> """TopK.scanBlocked(rows, qvecs, heaps, kernel)""",
      "graft/text/Bm25.scala" -> """.sortBy(identity).take(nprobe).map(_._2)""",
      "graft/BenchHnsw.scala" -> """.flatMap(q => Iterator.range(0, p).map(pid => (pid, q)))""")
    injected.foreach { case (path, line) =>
      assert(strayCopies(srcs + (path -> (srcs(path) :+ line))).nonEmpty, s"$line in $path")
    }
    val ops = srcs("graft/streaming/StreamingOps.scala")
    assert(deltaReads(srcs + ("graft/streaming/StreamingOps.scala" ->
      (ops :+ "hnswLog(spark, dir).read(\"delta\")"))) === 2)
  }

  test("one banded-LSH core in graft.dedup (source check)") {
    val srcs = mainSources
    assert(strayCopies(srcs, lshHomes) === Nil, "take each banded-LSH step from graft.dedup.Lsh")
    lshHomes.foreach { p =>
      assert(srcs(p.home).exists(p.re.findFirstIn(_).isDefined), s"${p.home} no longer holds the ${p.what}")
    }
    // each check sees a copy coming back in each file that held one
    val copies = Seq(
      """      .withColumn("__min_id", min("id").over(w))""",
      """        gc(graft.functions.ShingleBandHashes(ge(col("text")), 3, bands, rowsPerBand)).as("bhs"))""",
      """          shiftrightunsigned(col(hashCol), b * bandW).bitwiseAND(lit(mask))""",
      """      .withColumn("hamming", bit_count(col("__h_a").bitwiseXOR(col("__h_b"))).cast("long"))""")
    for {
      (line, p) <- copies.zip(lshHomes)
      path <- Seq("graft/dedup/Dedup.scala", "graft/dedup/HammingLsh.scala",
        "graft/streaming/StreamingOps.scala")
    } assert(strayCopies(srcs + (path -> (srcs(path) :+ line)), Seq(p)) === Seq(s"${p.what}: $path"),
      s"$line in $path")
  }

  /** The index layers, whose saved tables are read through
    * `graft.io.IndexTable` only, and the read that would bypass it.
    */
  private val indexLayers = Seq("graft/text/", "graft/knn/", "graft/streaming/")
  private val tableRead = """\.read\.(parquet|schema)\(""".r

  /** Every index-layer source that reads a parquet table itself. */
  private def strayTableReads(srcs: Map[String, Seq[String]]): Seq[String] =
    srcs.toSeq.sortBy(_._1).collect {
      case (path, lines) if indexLayers.exists(path.startsWith) &&
          lines.exists(tableRead.findFirstIn(_).isDefined) => path
    }

  test("one index-table reader in graft.io (source check)") {
    val srcs = mainSources
    assert(strayTableReads(srcs) === Nil, "read a saved index table with graft.io.IndexTable.read")
    assert(srcs("graft/io/IndexTable.scala").exists(tableRead.findFirstIn(_).isDefined),
      "graft/io/IndexTable.scala no longer holds the footer-schema read")
    // the check sees a read coming back in each file that held one
    Seq(
      "graft/text/Bm25.scala" -> """    val post = spark.read.parquet(s"$dir/postings")""",
      "graft/streaming/StreamingOps.scala" -> """        val benchH = sess.read.parquet(benchDir).select("h").distinct()""",
      "graft/knn/Pq.scala" -> """    val df = spark.read.parquet(s"$dir/pq_books")""").foreach { case (path, line) =>
      assert(strayTableReads(srcs + (path -> (srcs(path) :+ line))) === Seq(path), s"$line in $path")
    }
  }

  test("aggregations are partial before the exchange (map-side combine)") {
    Seq("q1_agg", "dedup_exact", "events_window").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      // partial + final HashAggregate pairs around the exchange
      assert("HashAggregate".r.findAllIn(plan).size >= 2, s"$name: expected partial aggregation")
    }
  }
}
