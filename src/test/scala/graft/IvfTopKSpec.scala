package graft

import graft.knn.{Ivf, Knn, TopK}
import org.apache.spark.sql.functions._

class TopKSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("keeps k smallest with (dist, id) tie-break (priority_queue.go semantics)") {
    val t = new TopK(3)
    Seq((5.0, 1L), (1.0, 2L), (3.0, 3L), (2.0, 4L), (4.0, 5L)).foreach { case (d, i) => t.push(d, i) }
    assert(t.sorted.toSeq === Seq((1.0, 2L), (2.0, 4L), (3.0, 3L)))
  }

  test("tie-break prefers lower id at equal distance") {
    val t = new TopK(2)
    Seq((1.0, 9L), (1.0, 3L), (1.0, 7L), (1.0, 1L)).foreach { case (d, i) => t.push(d, i) }
    assert(t.sorted.toSeq === Seq((1.0, 1L), (1.0, 3L)))
  }

  test("a NaN distance ranks after every number, as Spark sorts doubles, and never blocks a later candidate") {
    val t = new TopK(2)
    Seq((Double.NaN, 1L), (3.0, 2L), (Double.NaN, 0L), (1.0, 3L), (-0.0, 5L), (0.0, 4L))
      .foreach { case (d, i) => t.push(d, i) }
    assert(t.sorted.toSeq === Seq((0.0, 4L), (-0.0, 5L)))
    val nan = new TopK(3)
    Seq((Double.NaN, 9L), (Double.NaN, 1L), (2.0, 4L)).foreach { case (d, i) => nan.push(d, i) }
    assert(nan.sorted.map(p => (p._1.isNaN, p._2)).toSeq === Seq((false, 4L), (true, 1L), (true, 9L)))
  }

  test("a heap grows past its first slots and travels whole through Java serialization") {
    val t = new TopK(40)
    (0 until 100).foreach(i => t.push(((i * 37) % 100).toDouble, i.toLong))
    val bytes = new java.io.ByteArrayOutputStream
    new java.io.ObjectOutputStream(bytes).writeObject(t)
    val back = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[TopK]
    assert(back.sorted.toSeq === t.sorted.toSeq)
    assert(t.sorted.map(_._1).toSeq === (0 until 40).map(_.toDouble))
  }

  test("merge of per-partition heaps equals global top-k (dataset.go:349)") {
    val rnd = new scala.util.Random(5)
    val items = Array.tabulate(1000)(i => (rnd.nextDouble(), i.toLong))
    val global = new TopK(10)
    items.foreach { case (d, i) => global.push(d, i) }
    val parts = items.grouped(100).map { chunk =>
      val h = new TopK(10)
      chunk.foreach { case (d, i) => h.push(d, i) }
      h
    }
    val merged = new TopK(10)
    parts.foreach(merged.mergeFrom)
    assert(merged.sorted.toSeq === global.sorted.toSeq)
  }
}

class IvfSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir = "/root/testdata/sf0.001"
  private lazy val data = spark.read.parquet(s"$dir/embeddings.parquet")
    .selectExpr("vec_id as id", "embedding as vector")
  private lazy val queries = spark.read.parquet(s"$dir/embeddings.parquet")
    .filter("vec_id < 10").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def resultMap(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "id", "rank").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap

  test("IVF with nprobe=C is exact (degrades to brute force)") {
    val c = 8
    val centroids = Ivf.train(spark, data, c, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    val ivf = resultMap(Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = c))
    val exact = resultMap(Knn.bruteForce(data,
      queries.toSeq.toDF("qid", "qvec"), k = 10))
    assert(ivf === exact)
  }

  test("HNSW coarse quantizer: nprobe=C bypasses the graph and stays exact; " +
    "small-nprobe probe sets reach linear-scan recall") {
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    val qDf = queries.toSeq.toDF("qid", "qvec")
    // full probe: provably exact regardless of graph connectivity (the
    // path returns every cell without consulting the graph)
    val full = resultMap(Ivf.searchDF(assigned, centroids, qDf, k = 10, nprobe = c,
      coarse = "hnsw"))
    val exact = resultMap(Knn.bruteForce(data, qDf, k = 10))
    assert(full === exact)
    // small probe: the walk's recall must match the linear scan's on
    // this corpus (16 centroids — the graph search at ef=2·nprobe finds
    // the same nearest cells here; at huge C it is the only affordable
    // selector)
    val viaHnsw = resultMap(Ivf.searchDF(assigned, centroids, qDf, k = 10, nprobe = 6,
      coarse = "hnsw"))
    val viaLinear = resultMap(Ivf.searchDF(assigned, centroids, qDf, k = 10, nprobe = 6))
    val recallH = queries.map { case (qid, _) =>
      exact(qid).toSet.intersect(viaHnsw(qid).toSet).size.toDouble / 10 }.sum / queries.length
    val recallL = queries.map { case (qid, _) =>
      exact(qid).toSet.intersect(viaLinear(qid).toSet).size.toDouble / 10 }.sum / queries.length
    assert(recallH >= recallL - 0.05, s"hnsw-coarse recall $recallH vs linear $recallL")
    // unknown coarse name fails loudly
    val e = intercept[IllegalArgumentException] {
      Ivf.searchDF(assigned, centroids, qDf, k = 10, nprobe = 4, coarse = "typo").collect()
    }
    assert(e.getMessage.contains("unknown coarse quantizer"))
  }

  test("IVF with nprobe=4/16 has recall >= 0.8") {
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 2)
    val assigned = Ivf.assign(spark, data, centroids)
    val ivf = resultMap(Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = 4))
    val exact = resultMap(Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), k = 10))
    val recalls = queries.map { case (qid, _) =>
      exact(qid).toSet.intersect(ivf(qid).toSet).size.toDouble / 10
    }
    val avg = recalls.sum / recalls.length
    assert(avg >= 0.8, s"avg recall $avg")
  }

  test("saved IVF index loads and searches identically (cell-partitioned parquet)") {
    val c = 8
    val centroids = Ivf.train(spark, data, c, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    Ivf.save(spark, assigned, centroids, dir)
    val (loadedAssigned, loadedCentroids) = Ivf.load(spark, dir)
    assert(loadedCentroids.map(_.toSeq).toSeq === centroids.map(_.toSeq).toSeq)
    val a = resultMap(Ivf.search(spark, assigned, centroids, queries, k = 5, nprobe = 3))
    val b = resultMap(Ivf.search(spark, loadedAssigned, loadedCentroids, queries, k = 5, nprobe = 3))
    assert(a === b)
  }

  test("filtered search is the exact kNN of the matching subset (pre-filter, not post-filter)") {
    val c = 8
    val centroids = Ivf.train(spark, data, c, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    val dir = java.nio.file.Files.createTempDirectory("ivf_filtered").toString
    Ivf.save(spark, assigned, centroids, dir, metric = "euclidean")
    val pred = org.apache.spark.sql.functions.col("id") % 3 === 0
    val filtered = resultMap(
      Ivf.searchSavedFiltered(spark, dir, queries, k = 10, nprobe = c, predicate = pred))
    val exactSubset = resultMap(Knn.bruteForce(data.filter(pred),
      queries.toSeq.toDF("qid", "qvec"), k = 10))
    assert(filtered === exactSubset)
    // pre-filter semantics: every returned id matches the predicate, and
    // each query still gets a full k from the subset — a post-filter of
    // the unfiltered top-10 would keep only ~1/3 of its rows
    assert(filtered.values.flatten.forall(_ % 3 == 0))
    assert(filtered.values.forall(_.size == 10))
    val post = resultMap(Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = c))
      .view.mapValues(_.filter(_ % 3 == 0)).toMap
    assert(post.values.exists(_.size < 10))

    // DataFrame query side: identical result through the cogroup path
    val qDf = queries.toSeq.toDF("qid", "qvec")
    val filteredDf = resultMap(
      Ivf.searchSavedFilteredDF(spark, dir, qDf, k = 10, nprobe = c, predicate = pred))
    assert(filteredDf === exactSubset)
  }

  test("IVF meta sidecar round-trips; absent for pre-meta saves") {
    val centroids = Ivf.train(spark, data, c = 4, iterations = 1, metric = "cosine")
    val assigned = Ivf.assign(spark, data, centroids, metric = "cosine", spill = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivf_meta").toString
    Ivf.save(spark, assigned, centroids, dir, metric = "cosine")
    // spill is DERIVED from the assignment (max rows per id), not declared;
    // rows records the save-time assignment count (completeness check)
    assert(Ivf.loadMeta(spark, dir) === Some(Ivf.IvfMeta("cosine", 2, 4, 64, assigned.count())))
    assert(Ivf.loadMeta(spark, dir + "_nope") === None)
    // legacy save writes no sidecar
    val legacyDir = java.nio.file.Files.createTempDirectory("ivf_legacy").toString
    Ivf.save(spark, assigned, centroids, legacyDir)
    assert(Ivf.loadMeta(spark, legacyDir) === None)
  }

  test("searchSaved self-configures metric and spill dedupe from the sidecar") {
    val c = 8
    val centroids = Ivf.train(spark, data, c, iterations = 1, metric = "cosine")
    val assigned = Ivf.assign(spark, data, centroids, metric = "cosine", spill = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivf_ss").toString
    Ivf.save(spark, assigned, centroids, dir, metric = "cosine")
    val saved = resultMap(Ivf.searchSaved(spark, dir, queries, k = 5, nprobe = 3))
    val direct = resultMap(
      Ivf.search(spark, assigned, centroids, queries, k = 5, nprobe = 3, "cosine", dedup = true))
    assert(saved === direct)
    // k distinct results per query despite the spilled assignment
    saved.values.foreach(ids => assert(ids.distinct.size === ids.size))
    // wrong query dimension fails fast against the sidecar
    val e = intercept[IllegalArgumentException](
      Ivf.searchSaved(spark, dir, Array((0L, Array(1f, 2f))), k = 5, nprobe = 3))
    assert(e.getMessage.contains("dimension"))
  }

  test("searchSaved refuses an assignment with a missing cell partition (rows completeness check)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val centroids = Ivf.train(spark, data, c = 8, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    val dir = Files.createTempDirectory("ivf_complete").toString
    Ivf.save(spark, assigned, centroids, dir, metric = "euclidean")
    assert(resultMap(Ivf.searchSaved(spark, dir, queries, k = 5, nprobe = 8)).nonEmpty)
    // lose one cell partition directory (a torn copy)
    val cellDir = Files.list(Paths.get(dir, "assigned")).iterator().asScala
      .find(_.getFileName.toString.startsWith("cell=")).get
    Files.walk(cellDir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val e = intercept[IllegalArgumentException](
      Ivf.searchSaved(spark, dir, queries, k = 5, nprobe = 8))
    assert(e.getMessage.contains("INCOMPLETE"))
  }

  test("training moves centroids toward cluster means deterministically") {
    val c1 = Ivf.train(spark, data, c = 4, iterations = 1)
    val c2 = Ivf.train(spark, data, c = 4, iterations = 1)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
  }

  test("k-means|| seeding is deterministic and returns c centroids") {
    val s1 = Ivf.seedKMeansPar(spark, data, c = 16)
    val s2 = Ivf.seedKMeansPar(spark, data, c = 16)
    assert(s1.length === 16)
    assert(s1.map(_.toSeq).toSeq === s2.map(_.toSeq).toSeq)
  }

  test("k-means|| seeding beats first-C seeding on within-cell inertia") {
    def inertia(centroids: Array[Array[Float]]): Double = {
      val assigned = Ivf.assign(spark, data, centroids)
      val bc = spark.sparkContext.broadcast(centroids)
      assigned.select("cell", "vector").as[(Int, Array[Float])]
        .map { case (cell, v) =>
          val d = graft.core.Distances.distance(graft.core.Distances.Euclidean)(v, bc.value(cell))
          d * d
        }.reduce(_ + _)
    }
    val firstC = Ivf.train(spark, data, c = 16, iterations = 2)
    val kmp = Ivf.train(spark, data, c = 16, iterations = 2, seeding = "kmeans||")
    val (iFirst, iKmp) = (inertia(firstC), inertia(kmp))
    assert(iKmp < iFirst, s"kmeans|| inertia $iKmp !< first-C inertia $iFirst")
  }

  test("tol early-stop lands on the same fixed point as more iterations") {
    val a = Ivf.train(spark, data, c = 8, iterations = 30, seeding = "kmeans||", tol = 1e-5)
    val b = Ivf.train(spark, data, c = 8, iterations = 60, seeding = "kmeans||", tol = 1e-5)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("nprobe=C exactness is seeding-independent (kmeans|| degrades to brute force)") {
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 2, seeding = "kmeans||")
    val assigned = Ivf.assign(spark, data, centroids)
    val ivf = resultMap(Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = c))
    val exact = resultMap(Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), k = 10))
    assert(ivf === exact)
  }

  test("ann_ivf floor: spill=3 nprobe=6/16 recall >= 8/10 per query with kmeans|| seeding") {
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 2, seeding = "kmeans||")
    val assigned = Ivf.assign(spark, data, centroids, spill = 3)
    val qs = queries.filter(_._1 < 5)
    val ivf = resultMap(Ivf.search(spark, assigned, centroids, qs, k = 10, nprobe = 6, dedup = true))
    val exact = resultMap(Knn.bruteForce(data, qs.toSeq.toDF("qid", "qvec"), k = 10))
    qs.foreach { case (qid, _) =>
      val hits = exact(qid).toSet.intersect(ivf(qid).toSet).size
      assert(hits >= 8, s"query $qid recall $hits/10 under the catalog floor")
    }
  }

  test("spill=1 assignment and search are unchanged by the spill machinery") {
    val centroids = Ivf.train(spark, data, c = 8, iterations = 1)
    val a1 = Ivf.assign(spark, data, centroids)
    assert(a1.count() === data.count())
    val withDedup = resultMap(Ivf.search(spark, a1, centroids, queries, k = 10, nprobe = 3, dedup = true))
    val without = resultMap(Ivf.search(spark, a1, centroids, queries, k = 10, nprobe = 3))
    assert(withDedup === without)
  }

  test("spilled assignment at nprobe=C still degrades to exact brute force") {
    val c = 8
    val centroids = Ivf.train(spark, data, c, iterations = 1)
    val spilled = Ivf.assign(spark, data, centroids, spill = 3)
    assert(spilled.count() === data.count() * 3)
    val ivf = resultMap(Ivf.search(spark, spilled, centroids, queries, k = 10, nprobe = c, dedup = true))
    val exact = resultMap(Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), k = 10))
    assert(ivf === exact)
  }

  test("k-means|| seeds are identical across partition layouts") {
    val s3 = Ivf.seedKMeansPar(spark, data.repartition(3), c = 8)
    val s7 = Ivf.seedKMeansPar(spark, data.repartition(7), c = 8)
    assert(s3.map(_.toSeq).toSeq === s7.map(_.toSeq).toSeq)
  }

  test("assign survives NaN components and zero vectors under cosine (no argmin crash)") {
    val weird = Seq(
      (1L, Array(1f, 2f)),
      (2L, Array(Float.NaN, 1f)), // NaN distance to every centroid
      (3L, Array(0f, 0f))         // cosine: 0/0 = NaN
    ).toDF("id", "vector")
    val centroids = Array(Array(1f, 0f), Array(0f, 1f))
    val plain = Ivf.assign(spark, weird, centroids, metric = "cosine")
    assert(plain.count() === 3)
    val spilled = Ivf.assign(spark, weird, centroids, metric = "cosine", spill = 2)
    assert(spilled.count() === 6)
    // an all-NaN row still lands in real cells (fallback: first untaken)
    val cells = spilled.filter(col("id") === 2L).select("cell").as[Int].collect().sorted
    assert(cells.toSeq === Seq(0, 1))
  }

  test("spill strictly improves recall at fixed nprobe (monotone candidate superset)") {
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 2, seeding = "kmeans||")
    val a1 = Ivf.assign(spark, data, centroids)
    val a3 = Ivf.assign(spark, data, centroids, spill = 3)
    val exact = resultMap(Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), k = 10))
    def totalHits(assigned: org.apache.spark.sql.DataFrame): Int = {
      val r = resultMap(Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = 4, dedup = true))
      queries.map { case (qid, _) => exact(qid).toSet.intersect(r(qid).toSet).size }.sum
    }
    val (h1, h3) = (totalHits(a1), totalHits(a3))
    assert(h3 >= h1, s"spill=3 hits $h3 < spill=1 hits $h1")
  }
}

class QuantizeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir = "/root/testdata/sf0.001"
  private lazy val data = spark.read.parquet(s"$dir/embeddings.parquet")
    .selectExpr("vec_id as id", "embedding as vector")

  test("SQ8 round-trip error is bounded by half a quantization step") {
    val q = graft.knn.Quantize.sq8(data)
    val maxErr = q.select(max(
        expr("aggregate(zip_with(vector, " +
          "transform(codes, c -> cast(cast(cast(c as int) + 128 as float) * q_scale + q_offset as float)), " +
          "(a, b) -> abs(a - b)), 0D, (acc, x) -> greatest(acc, x))")))
      .as[Double].head()
    val maxStep = q.select(max(col("q_scale"))).as[Float].head()
    assert(maxErr <= maxStep * 0.51 + 1e-6, s"maxErr=$maxErr step=$maxStep")
  }

  test("SQ8 coarse+rescore search recall >= 0.95 vs exact") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = graft.knn.Quantize.sq8(data)
    val approx = graft.knn.Quantize.search(spark, q, queries, k = 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = graft.knn.Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = queries.map { case (qid, _) => exact(qid).intersect(approx(qid)).size / 10.0 }
    val avg = recalls.sum / recalls.length
    assert(avg >= 0.95, s"recall $avg")
  }

  test("IVF×SQ8 equals full-precision IVF row-for-row at every nprobe") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def resultMap(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    val q8 = graft.knn.Quantize.sq8(assigned)
    Seq(2, 4, 8, c).foreach { np =>
      val sq = resultMap(graft.knn.Quantize.searchIvfSq8(spark, q8, centroids, queries, k = 10, nprobe = np))
      val ivf = resultMap(Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = np))
      assert(sq === ivf, s"nprobe=$np: SQ8-within-cells diverged from full-precision IVF")
    }
  }

  test("SQ8 bounded searchExact equals brute force exactly (recall 1.0)") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = graft.knn.Quantize.sq8(data)
    val bounded = graft.knn.Quantize.searchExact(spark, q, queries, k = 10)
      .select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(x => (x._1, x._4))
    val exact = graft.knn.Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), 10)
      .select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(x => (x._1, x._4))
    assert(bounded === exact)
  }

  test("SQ8 bounded searchExact equals brute force under manhattan (L1 τ-bound)") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = graft.knn.Quantize.sq8(data)
    val bounded = graft.knn.Quantize.searchExact(spark, q, queries, k = 10, metric = "manhattan")
      .select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(x => (x._1, x._4))
    val exact = graft.knn.Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), 10, "manhattan")
      .select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(x => (x._1, x._4))
    assert(bounded === exact)
    // cosine has no τ reconstruction bound — must refuse, not approximate
    val e = intercept[IllegalArgumentException](
      graft.knn.Quantize.searchExact(spark, q, queries, k = 10, metric = "cosine"))
    assert(e.getMessage.contains("triangle"))
  }

  test("manhattan searchExact bound holds on adversarial near-tie data") {
    // same stretched-range construction as the euclidean adversarial test:
    // quantization error on the small coordinates swamps their true
    // differences, so an overscan heuristic would miss; the L1 bound must not
    val rnd = new scala.util.Random(17)
    val dim = 8
    val rows = (0L until 400L).map { i =>
      val base = Array.fill(dim)(rnd.nextFloat() * 0.01f)
      base(0) = if (i % 2 == 0) 100f else 100.002f
      (i, base)
    }
    val df = rows.toDF("id", "vector")
    val queries = rows.take(5).map { case (id, v) => (id, v) }.toArray
    val q = graft.knn.Quantize.sq8(df)
    val bounded = graft.knn.Quantize.searchExact(spark, q, queries, k = 10, metric = "manhattan")
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.knn.Knn.bruteForce(df, queries.toSeq.toDF("qid", "qvec"), 10, "manhattan")
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded === exact)
  }

  test("PQ: m-byte codes, ADC search recall >= 0.9 vs exact, composes with IVF probes") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cb = graft.knn.Pq.train(spark, data, m = 8, ksub = 64, iterations = 2)
    val encoded = graft.knn.Pq.encode(data, cb)
    // codes are exactly m bytes per row
    val lens = encoded.select(length(col("pq_codes"))).distinct().collect().map(_.getInt(0))
    assert(lens.toSeq === Seq(8))

    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val exact = graft.knn.Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), 10)
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = approx.select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val full = graft.knn.Pq.search(spark, encoded, cb, queries, k = 10, overscan = 12)
    assert(recall(full) >= 0.9, s"full-scan ADC recall ${recall(full)}")

    val centroids = Ivf.train(spark, data, c = 8, iterations = 1)
    val ivfEncoded = graft.knn.Pq.encode(Ivf.assign(spark, data, centroids), cb)
    val ivf = graft.knn.Pq.searchIvfPq(spark, ivfEncoded, centroids, cb, queries,
      k = 10, nprobe = 4, overscan = 12)
    assert(recall(ivf) >= 0.8, s"IVF-PQ recall ${recall(ivf)}")

    // encoding is deterministic across layouts
    val enc2 = graft.knn.Pq.encode(data.repartition(7), cb)
      .select("id", "pq_codes").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val enc1 = encoded.select("id", "pq_codes").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(enc1 === enc2)

    // dimension mismatch fails loudly at encode time
    val badDim = Seq((0L, Array(1f, 2f, 3f))).toDF("id", "vector")
    intercept[Exception](graft.knn.Pq.encode(badDim, cb).collect())
  }

  test("residual (IVFADC) PQ: tighter reconstruction than raw PQ, recall holds, saved index self-dispatches") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val centroids = Ivf.train(spark, data, c = 8, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    val cbRaw = graft.knn.Pq.train(spark, data, m = 8, ksub = 32, iterations = 2)
    val cbRes = graft.knn.Pq.trainResidual(spark, assigned, centroids, m = 8, ksub = 32, iterations = 2)
    val encRaw = graft.knn.Pq.encode(assigned, cbRaw)
    val encRes = graft.knn.Pq.encodeResidual(assigned, centroids, cbRes)

    // the IVFADC claim (Jégou et al. 2011): quantizing the residual on the
    // same m x ksub budget reconstructs tighter than quantizing the raw
    // vector. Measured as corpus MSE of v vs its decode.
    def mse(enc: org.apache.spark.sql.DataFrame, cb: graft.knn.Pq.PqCodebooks, residual: Boolean): Double = {
      val rows = enc.select("cell", "vector", "pq_codes").collect()
      rows.map { r =>
        val cell = r.getInt(0)
        val v = r.getSeq[Float](1).toArray
        val codes = r.getAs[Array[Byte]](2)
        var d = 0.0
        for (j <- 0 until cb.m; t <- 0 until cb.dsub) {
          val dec = cb.books(j)(codes(j) & 0xff)(t) +
            (if (residual) centroids(cell)(j * cb.dsub + t) else 0f)
          val diff = v(j * cb.dsub + t).toDouble - dec
          d += diff * diff
        }
        d
      }.sum / rows.length
    }
    val mseRes = mse(encRes, cbRes, residual = true)
    val mseRaw = mse(encRaw, cbRaw, residual = false)
    assert(mseRes < mseRaw, s"residual MSE $mseRes should beat raw MSE $mseRaw")

    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val exact = graft.knn.Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), 10)
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = approx.select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val res = graft.knn.Pq.searchIvfPqResidual(spark, encRes, centroids, cbRes, queries,
      k = 10, nprobe = 4, overscan = 12)
    assert(recall(res) >= 0.8, s"IVFADC recall ${recall(res)}")

    // saved-index round trip: the residual flag persists and dispatches
    val rDir = java.nio.file.Files.createTempDirectory("ivf_pq_residual").toString
    graft.knn.Pq.save(spark, encRes, centroids, cbRes, rDir, residual = true)
    assert(graft.knn.Pq.savedResidual(spark, rDir))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3)).toSeq
    val saved = canon(graft.knn.Pq.searchSavedIvfPq(spark, rDir, queries,
      k = 10, nprobe = 4, overscan = 12))
    assert(saved === canon(res))

    // residual search without probe cells must refuse (unbounded LUT build)
    intercept[IllegalArgumentException](graft.knn.Pq.search(spark, encRes, cbRes, queries,
      k = 10, residualCentroids = Some(centroids)))
  }

  test("PQ DataFrame query side equals the driver-array side exactly (raw and residual)") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qDf = queries.toSeq.toDF("qid", "qvec")
    val centroids = Ivf.train(spark, data, c = 8, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3)).toSeq

    val cbRaw = graft.knn.Pq.train(spark, data, m = 8, ksub = 32, iterations = 1)
    val encRaw = graft.knn.Pq.encode(assigned, cbRaw)
    assert(canon(graft.knn.Pq.searchIvfPqDF(encRaw, centroids, cbRaw, qDf,
        k = 10, nprobe = 4, overscan = 8)) ===
      canon(graft.knn.Pq.searchIvfPq(spark, encRaw, centroids, cbRaw, queries,
        k = 10, nprobe = 4, overscan = 8)))

    val cbRes = graft.knn.Pq.trainResidual(spark, assigned, centroids, m = 8, ksub = 32, iterations = 1)
    val encRes = graft.knn.Pq.encodeResidual(assigned, centroids, cbRes)
    assert(canon(graft.knn.Pq.searchIvfPqDF(encRes, centroids, cbRes, qDf,
        k = 10, nprobe = 4, overscan = 8, residual = true)) ===
      canon(graft.knn.Pq.searchIvfPqResidual(spark, encRes, centroids, cbRes, queries,
        k = 10, nprobe = 4, overscan = 8)))

    // saved round-trip self-configures the residual flag for the DF side
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_pq_df_saved").toString
    graft.knn.Pq.save(spark, encRes, centroids, cbRes, dir2, residual = true)
    assert(canon(graft.knn.Pq.searchSavedIvfPqDF(spark, dir2, qDf, k = 10, nprobe = 4, overscan = 8)) ===
      canon(graft.knn.Pq.searchIvfPqResidual(spark, encRes, centroids, cbRes, queries,
        k = 10, nprobe = 4, overscan = 8)))
  }

  test("persisted IVF-PQ index serves identically to the in-memory path; torn saves fail loudly") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cb = graft.knn.Pq.train(spark, data, m = 8, ksub = 32, iterations = 1)
    val centroids = Ivf.train(spark, data, c = 8, iterations = 1)
    val encoded = graft.knn.Pq.encode(Ivf.assign(spark, data, centroids), cb)
    val pqDir = java.nio.file.Files.createTempDirectory("ivf_pq_saved").toString
    graft.knn.Pq.save(spark, encoded, centroids, cb, pqDir)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3)).toSeq
    val direct = canon(graft.knn.Pq.searchIvfPq(spark, encoded, centroids, cb, queries,
      k = 10, nprobe = 4, overscan = 8))
    val saved = canon(graft.knn.Pq.searchSavedIvfPq(spark, pqDir, queries,
      k = 10, nprobe = 4, overscan = 8))
    assert(saved === direct)

    // a codes-less IVF save must fail loudly, not scan at the wrong precision
    val fpDir = java.nio.file.Files.createTempDirectory("ivf_fp_for_pq").toString
    Ivf.save(spark, Ivf.assign(spark, data, centroids), centroids, fpDir, "euclidean")
    val e = intercept[IllegalArgumentException](
      graft.knn.Pq.searchSavedIvfPq(spark, fpDir, queries, k = 10, nprobe = 4))
    assert(e.getMessage.contains("pq_codes"))

    // a SPILLED saved assignment self-configures dedup: k distinct ids per
    // query, a duplicate id never ranks twice
    val spilled = graft.knn.Pq.encode(
      Ivf.assign(spark, data, centroids, spill = 2), cb)
    val spDir = java.nio.file.Files.createTempDirectory("ivf_pq_spilled").toString
    graft.knn.Pq.save(spark, spilled, centroids, cb, spDir)
    val res = graft.knn.Pq.searchSavedIvfPq(spark, spDir, queries, k = 10, nprobe = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    res.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).distinct.length === rows.length, s"duplicate ids ranked for query $qid")
      assert(rows.length === 10)
    }
  }

  test("IVF-SQ8 DataFrame query side: recall >= 0.9 vs exact, no driver query array") {
    val queriesDf = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10")
      .selectExpr("vec_id as qid", "embedding as qvec")
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 2, seeding = "kmeans||")
    val q8 = graft.knn.Quantize.sq8(Ivf.assign(spark, data, centroids))
    val approx = graft.knn.Quantize.searchIvfSq8DF(q8, centroids, queriesDf, k = 10, nprobe = c)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = graft.knn.Knn.bruteForce(data, queriesDf, 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.keys.map { qid => exact(qid).intersect(approx(qid)).size / 10.0 }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.9, s"recall $avg")
    // every query returns exactly k rows
    assert(approx.values.forall(_.size === 10))
  }

  test("searchIvfSq8DF over a SPILLED assignment returns k distinct rows per query") {
    val queriesDf = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 8")
      .selectExpr("vec_id as qid", "embedding as qvec")
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 2, seeding = "kmeans||")
    val q8 = graft.knn.Quantize.sq8(Ivf.assign(spark, data, centroids, spill = 3))
    val res = graft.knn.Quantize.searchIvfSq8DF(q8, centroids, queriesDf, k = 10, nprobe = 6)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1))).toMap
    res.foreach { case (qid, ids) =>
      assert(ids.length === 10, s"query $qid returned ${ids.length} rows")
      assert(ids.distinct.length === 10, s"query $qid returned duplicate neighbors")
    }
    assert(res.size === 8)
  }

  test("searchSavedIvfSq8DF equals the in-memory SQ8 cogroup path over a persisted index") {
    val queriesDf = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 8")
      .selectExpr("vec_id as qid", "embedding as qvec")
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 1)
    val q8 = graft.knn.Quantize.sq8(Ivf.assign(spark, data, centroids))
    val out = java.nio.file.Files.createTempDirectory("ivf_sq8_saved").toString
    Ivf.save(spark, q8, centroids, out, "euclidean")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3)).toSeq
    assert(rows(graft.knn.Quantize.searchSavedIvfSq8DF(spark, out, queriesDf, k = 10, nprobe = 4)) ===
      rows(graft.knn.Quantize.searchIvfSq8DF(q8, centroids, queriesDf, k = 10, nprobe = 4)))
    // a full-precision-only index must fail LOUDLY, not scan at the wrong precision
    val fpDir = java.nio.file.Files.createTempDirectory("ivf_fp_saved").toString
    Ivf.save(spark, Ivf.assign(spark, data, centroids), centroids, fpDir, "euclidean")
    val e = intercept[IllegalArgumentException](
      graft.knn.Quantize.searchSavedIvfSq8DF(spark, fpDir, queriesDf, k = 10, nprobe = 4))
    assert(e.getMessage.contains("SQ8 columns"))
  }

  test("searchExactCosine equals brute-force cosine exactly (recall 1.0)") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 10").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val bounded = graft.knn.Quantize.searchExactCosine(spark, data, queries, k = 10)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    val exact = graft.knn.Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), 10, "cosine")
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    assert(bounded === exact)
  }

  test("searchExactCosine bound holds on adversarial near-parallel data") {
    // tight cones of near-parallel vectors at very different magnitudes:
    // magnitude is invisible to cosine but dominates unnormalized L2 — a
    // shortcut that skipped normalization would rank these wrong, and the
    // near-ties stress the τ bound in the reduced space
    val rnd = new scala.util.Random(29)
    val dim = 8
    val rows = (0L until 300L).map { i =>
      val base = Array.tabulate(dim)(d => if (d == (i % 3).toInt) 1f else 0.001f * rnd.nextFloat())
      val scale = if (i % 2 == 0) 1e-3f else 1e3f
      (i, base.map(_ * scale))
    }
    val df = rows.toDF("id", "vector")
    val queries = rows.take(5).toArray
    val bounded = graft.knn.Quantize.searchExactCosine(spark, df, queries, k = 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.knn.Knn.bruteForce(df, queries.toSeq.toDF("qid", "qvec"), 10, "cosine")
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded === exact)
  }

  test("searchExact bound holds on adversarial near-tie data") {
    // clustered points whose dequantized ranks invert vs true ranks: an
    // overscan heuristic can miss these; the error bound must not.
    val rnd = new scala.util.Random(13)
    val dim = 8
    val rows = (0L until 400L).map { i =>
      val base = Array.fill(dim)(rnd.nextFloat() * 0.01f)
      // one huge coordinate stretches the SQ8 range so quantization error
      // on the small coordinates swamps their true differences
      base(0) = if (i % 2 == 0) 100f else 100.002f
      (i, base)
    }
    val df = rows.toDF("id", "vector")
    val queries = rows.take(5).map { case (id, v) => (id, v) }.toArray
    val q = graft.knn.Quantize.sq8(df)
    val bounded = graft.knn.Quantize.searchExact(spark, q, queries, k = 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.knn.Knn.bruteForce(df, queries.toSeq.toDF("qid", "qvec"), 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded === exact)
  }
}

/** DataFrame-native query sides: the driver never holds a query array. */
class KnnDataFrameQuerySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir = "/root/testdata/sf0.001"
  private lazy val data = spark.read.parquet(s"$dir/embeddings.parquet")
    .selectExpr("vec_id as id", "embedding as vector")
  private lazy val queriesDf = spark.read.parquet(s"$dir/embeddings.parquet")
    .filter("vec_id % 10 = 3") // 50 queries, never collected
    .selectExpr("vec_id as qid", "embedding as qvec")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(x => (x._1, x._4)).toSeq

  test("partitionedDF equals bruteForce row-for-row (no driver query array)") {
    assert(rows(Knn.partitionedDF(data, queriesDf, k = 10)) ===
      rows(Knn.bruteForce(data, queriesDf, k = 10)))
  }

  test("partitionedDF chunked query blocks are invisible to results") {
    // queryBlock=7 forces every task through the multi-block (materialize
    // data, re-scan per block) path; results must be byte-identical to the
    // single-pass shape and to bruteForce
    assert(rows(Knn.partitionedDF(data, queriesDf, k = 10, queryBlock = 7)) ===
      rows(Knn.bruteForce(data, queriesDf, k = 10)))
    assert(rows(Knn.partitionedDF(data, queriesDf, k = 5, metric = "cosine", queryBlock = 3)) ===
      rows(Knn.partitionedDF(data, queriesDf, k = 5, metric = "cosine")))
  }

  test("partitionedDF honors non-default metrics") {
    assert(rows(Knn.partitionedDF(data, queriesDf, k = 5, metric = "cosine")) ===
      rows(Knn.bruteForce(data, queriesDf, k = 5, metric = "cosine")))
  }

  test("VectorDataset.searchDF equals bruteForce and dimension-checks distributed") {
    val ds = graft.ops.VectorDataset(spark, data, dimension = 64)
    assert(rows(ds.searchDF(queriesDf, k = 10)) ===
      rows(Knn.bruteForce(data, queriesDf, k = 10)))
    val badQ = Seq((0L, Array(1f, 2f))).toDF("qid", "qvec")
    val e = intercept[Exception](ds.searchDF(badQ, k = 5).collect())
    assert(e.getMessage.contains("dimension mismatch") ||
      String.valueOf(e.getCause).contains("dimension mismatch"))
  }

  test("Ivf.searchDF with nprobe=C equals bruteForce (cogroup path is exact)") {
    val c = 8
    val centroids = Ivf.train(spark, data, c, iterations = 1)
    val assigned = Ivf.assign(spark, data, centroids)
    assert(rows(Ivf.searchDF(assigned, centroids, queriesDf, k = 10, nprobe = c)) ===
      rows(Knn.bruteForce(data, queriesDf, k = 10)))
  }

  test("Ivf.searchDF equals driver-array Ivf.search at partial nprobe") {
    val c = 16
    val centroids = Ivf.train(spark, data, c, iterations = 2)
    val assigned = Ivf.assign(spark, data, centroids)
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id % 10 = 3").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(rows(Ivf.searchDF(assigned, centroids, queriesDf, k = 10, nprobe = 4)) ===
      rows(Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = 4)))
  }

  test("HnswSpark.searchDF equals driver-array search (same graphs, same order)") {
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id % 10 = 3").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val dfSide = rows(graft.hnsw.HnswSpark.searchDF(
      spark, data, queriesDf, k = 10, numPartitions = 4))
    val arrSide = rows(graft.hnsw.HnswSpark.search(
      spark, data, queries, k = 10, numPartitions = 4))
    assert(dfSide === arrSide)
  }

  test("HnswSpark.searchSavedDF equals searchSaved over the same artifacts") {
    val out = java.nio.file.Files.createTempDirectory("hnsw_dfq").toString
    graft.hnsw.HnswSpark.buildAndSave(spark, data, out, numPartitions = 4)
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id % 10 = 3").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(rows(graft.hnsw.HnswSpark.searchSavedDF(spark, out, queriesDf, k = 10)) ===
      rows(graft.hnsw.HnswSpark.searchSaved(spark, out, queries, k = 10)))
  }
}

class KnnCustomPlanSpec extends SparkTestBase {
  import spark.implicits._

  test("custom Catalyst operator matches window-formulation kNN exactly") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val data = e.selectExpr("vec_id as id", "embedding as vector")
    val queries = e.filter("vec_id < 7").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

    val custom = graft.plans.KnnCandidates.knn(spark, data, queries, 10)
      .select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(x => (x._1, x._4))
    val window = graft.knn.Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), 10)
      .select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(x => (x._1, x._4))
    assert(custom.toSeq === window.toSeq)
  }

  test("custom operator appears in the physical plan via the injected strategy") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val data = e.selectExpr("vec_id as id", "embedding as vector")
    val queries = Array((0L, e.collect().head.getSeq[Float](1).toArray))
    val plan = graft.plans.KnnCandidates.knn(spark, data, queries, 5)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("KnnCandidates"), s"operator missing from plan:\n$plan")
  }
}

class MutationsSpec extends SparkTestBase {
  import spark.implicits._

  test("upsert is latest-version-wins per key") {
    val base = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "v", "version")
    val updates = Seq((2L, "b2", 2), (3L, "c", 2)).toDF("id", "v", "version")
    val out = graft.ops.Mutations.upsert(base, updates, "id", "version")
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("remove drops exactly the removal keys") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val rem = Seq(Tuple1(2L)).toDF("id")
    val out = graft.ops.Mutations.remove(base, rem, "id")
      .select("id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 3L))
  }
}
