package graft

import graft.io.IndexTable
import graft.knn.{Ivf, Opq, Pq}
import graft.streaming.StreamingOps
import graft.text.Bm25
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.IntegerType

import java.nio.file.Files

/** `IndexTable.read` returns what `spark.read.parquet` returns for every
  * kind of saved index table, partition-column types included, without
  * the inference job: driver-sized tables start no job at all, the others
  * start none until their query runs.
  */
class IndexTableSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the lazy dog sleeps"),
    (3L, "a quick brown dog"),
    (4L, "foxes and dogs and the quick fox"),
    (5L, null),
    (6L, "")).toDF("doc_id", "text")

  private val vecs = (0L until 40L).map { i =>
    (i, Array.tabulate(4)(d => (i % 4).toFloat * 3f + ((i + d) % 5) * 0.5f))
  }.toDF("id", "vector")

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private lazy val (tfDir, posDir) = {
    val (tf, pos) = (tmp("bm25_tf") + "/idx", tmp("bm25_pos") + "/idx")
    Bm25.buildIndex(docs, tf, nBuckets = 4)
    Bm25.buildIndex(docs, pos, nBuckets = 4, withPositions = true)
    (tf, pos)
  }

  /** An IVF-PQ index with residual codes and an OPQ rotation beside it. */
  private lazy val pqDir = {
    val dir = tmp("ivf_pq") + "/idx"
    val centroids = Ivf.train(spark, vecs, c = 3)
    val assigned = Ivf.assign(spark, vecs, centroids)
    val cb = Pq.trainResidual(spark, assigned, centroids, m = 2, ksub = 4)
    Pq.save(spark, Pq.encodeResidual(assigned, centroids, cb), centroids, cb, dir, residual = true)
    Opq.saveModel(spark, Opq.train(vecs, m = 2), dir)
    dir
  }

  /** A near-dup sink directory after two batches (`pairs` by `batch`). */
  private lazy val nearDupDir = {
    def text(i: Long) = (0 until 30).map(t => s"w${i}x$t").mkString(" ")
    val dir = tmp("neardup")
    val sink = StreamingOps.nearDupSink(spark, dir, threshold = 0.8)
    sink((0L until 10L).map(i => (i, text(i))).toDF("doc_id", "text"), 0L)
    sink((0L until 4L).map(i => (i + 100L, text(i))).toDF("doc_id", "text"), 1L)
    dir
  }

  /** A heavy-hitter sink directory whose exact top-k is cached (`cache/rows`). */
  private lazy val hhDir = {
    val dir = tmp("hh_cache")
    val sink = StreamingOps.heavyHittersSink(spark, dir, n = 2, m = 64)
    sink(docs.na.drop(), 0L)
    StreamingOps.heavyHittersTopK(spark, dir, k = 3).collect()
    dir
  }

  /** Every table kind as (index dir, table name). */
  private def tables: Seq[(String, String)] =
    Seq("postings", "df", "doclen").flatMap(t => Seq(tfDir -> t, posDir -> t)) ++
      Seq(pqDir -> "assigned", pqDir -> "pq_books", pqDir -> "opq_rot",
        nearDupDir -> "pairs", s"$hhDir/cache" -> "rows")

  private def assertSameAsSpark(dir: String, name: String): Unit = withClue(s"$dir/$name: ") {
    val expected = spark.read.parquet(s"$dir/$name")
    val got = IndexTable.read(spark, dir, name)
    assert(got.schema === expected.schema)
    def rows(df: DataFrame) = df.toJSON.collect().sorted.toSeq
    assert(rows(got) === rows(expected))
    assert(rows(got).nonEmpty)
  }

  test("schema and rows equal spark.read.parquet for every index table kind") {
    tables.foreach { case (dir, name) => assertSameAsSpark(dir, name) }
    // partition columns keep their path-inferred int type
    Seq(tfDir -> "postings" -> "bucket", pqDir -> "assigned" -> "cell",
        nearDupDir -> "pairs" -> "batch").foreach { case ((dir, name), part) =>
      assert(IndexTable.read(spark, dir, name).schema(part).dataType === IntegerType, s"$name.$part")
    }
    assert(IndexTable.read(spark, posDir, "postings").columns.contains("positions"))
  }

  test("a codebook table written before the residual flag reads as Spark reads it") {
    val dir = tmp("pq_pre_flag")
    Seq((0, 0, Seq(0f, 1f)), (0, 1, Seq(1f, 0f)), (1, 0, Seq(2f, 2f)), (1, 1, Seq(3f, 3f)))
      .toDF("subspace", "code", "codeword").coalesce(1).write.parquet(s"$dir/pq_books")
    assertSameAsSpark(dir, "pq_books")
    assert(!Pq.savedResidual(spark, dir))
    assert(Pq.loadCodebooks(spark, dir).m === 2)
  }

  test("driver-sized tables are read and collected without a Spark job") {
    tables.foreach { case (dir, name) => IndexTable.read(spark, dir, name) } // build the fixtures
    for ((dir, name) <- Seq(pqDir -> "pq_books", pqDir -> "opq_rot", s"$hhDir/cache" -> "rows"))
      assert(jobsOf(IndexTable.read(spark, dir, name).collect()) === 0, name)
    assert(jobsOf(Pq.loadCodebooks(spark, pqDir)) === 0)
    assert(jobsOf(Pq.savedResidual(spark, pqDir)) === 0)
    assert(jobsOf(Opq.loadModel(spark, pqDir)) === 0)
    assert(jobsOf(spark.read.parquet(s"$pqDir/pq_books").collect()) > 0, "the listener counts")
  }

  test("building any other table's DataFrame starts no job; searchSaved runs in at most 5") {
    tables.foreach { case (dir, name) =>
      assert(jobsOf(IndexTable.read(spark, dir, name)) === 0, s"$dir/$name")
    }
    assert(jobsOf(spark.read.parquet(s"$tfDir/postings")) > 0, "inference is a job")
    val queries = Seq(1L -> "quick fox", 2L -> "lazy dog")
    var hits: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsOf { hits = Bm25.searchSaved(spark, tfDir, queries, k = 3).collect() }
    assert(jobs <= 5, s"searchSaved ran $jobs jobs")
    assert(hits.toSeq.sortBy(r => (r.getLong(0), r.getLong(3))) ===
      Bm25.search(docs, queries, k = 3).collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(3))))
  }

  test("a table directory without a data file is refused, naming it") {
    val dir = tmp("no_data")
    Seq.empty[(Long, Int)].toDF("doc_id", "bucket").write.partitionBy("bucket").parquet(s"$dir/postings")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/pq_books"))
    for (name <- Seq("postings", "pq_books")) {
      val e = intercept[IllegalArgumentException](IndexTable.read(spark, dir, name))
      assert(e.getMessage.contains(s"no parquet data file under $dir/$name"), e.getMessage)
    }
  }

  test("buildIndex refuses an empty or all-null-text corpus and leaves no table behind") {
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val nulls = Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text")
    for (corpus <- Seq(none, nulls)) {
      val dir = tmp("bm25_empty") + "/idx"
      val e = intercept[IllegalArgumentException](Bm25.buildIndex(corpus, dir, nBuckets = 4))
      assert(e.getMessage.contains("empty corpus"), e.getMessage)
      for (t <- Seq("postings", "df", "doclen", "stats"))
        assert(!Files.exists(java.nio.file.Paths.get(s"$dir/$t")), s"$t is left behind")
      // so the same directory still takes a build
      Bm25.buildIndex(docs, dir, nBuckets = 4)
      assert(Bm25.loadStats(spark, dir)._1 === 6L)
    }
  }
}
