package graft

import graft.core.Distances
import graft.hnsw.HnswSpark
import graft.knn.{Ivf, Knn, Pca, Quantize, RandomProjection, TopK}
import graft.plans.{KnnCandidates, KnnRewrite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Every exact kNN path equals one driver-side [[TopK]] fold over all rows,
  * ties broken by id, compared on (qid, id, dist, rank). The inputs are
  * built to be tie-heavy: integer-grid vectors drawn from a small pool, so
  * one vector recurs under several distinct ids, spread over several
  * partitions. This also states "pruning never drops a true top-k member"
  * for the SQ and PCA τ-bound paths.
  */
object KnnEquivalenceProps extends Properties("KnnEquivalence") {

  // each case runs ~20 Spark searches: a few cases keep the suite quick
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  private lazy val spark = SparkTestBase.session

  private val dim = 4

  final case class Case(
      rows: Seq[(Long, Array[Float])],
      queries: Seq[(Long, Array[Float])],
      k: Int,
      parts: Int) {
    override def toString: String =
      s"Case(k=$k, parts=$parts, rows=${rows.map { case (i, v) => s"$i:${v.mkString(",")}" }}, " +
        s"queries=${queries.map { case (i, v) => s"$i:${v.mkString(",")}" }})"
  }

  private def gridVec(lo: Int, hi: Int): Gen[Array[Float]] =
    Gen.listOfN(dim, Gen.choose(lo, hi)).map(_.map(_.toFloat).toArray)

  /** `n` rows whose vectors come from `pool`, under distinct ids. */
  private def rowsFrom(pool: Seq[Array[Float]]): Gen[Seq[(Long, Array[Float])]] = for {
    n <- Gen.choose(12, 30)
    picks <- Gen.listOfN(n, Gen.oneOf(pool))
    ids <- Gen.pick(n, 0L until 200L)
  } yield ids.toSeq.zip(picks)

  private def caseOf(pool: Gen[Seq[Array[Float]]], query: Gen[Array[Float]]): Gen[Case] = for {
    p <- pool
    rows <- rowsFrom(p)
    nq <- Gen.choose(1, 4)
    qs <- Gen.listOfN(nq, Gen.oneOf(query, Gen.oneOf(p)))
    k <- Gen.choose(1, 6)
    parts <- Gen.choose(2, 4)
  } yield Case(rows, qs.zipWithIndex.map { case (q, i) => (i.toLong * 7 + 3, q) }, k, parts)

  private val cases: Gen[Case] = caseOf(Gen.listOfN(6, gridVec(-2, 2)), gridVec(-2, 2))

  // cosine leaves zero vectors out of the corpus and refuses a zero query
  // (direction undefined), so its cases draw nonzero grid vectors only
  private val nonzero: Gen[Array[Float]] = gridVec(-2, 2).retryUntil(_.exists(_ != 0f))
  private val cosineCases: Gen[Case] = caseOf(Gen.listOfN(6, nonzero), nonzero)

  type Row = (Long, Long, Double, Int)

  /** The reference answer: one bounded heap per query over every row. */
  private def fold(c: Case, metric: String): Seq[Row] = {
    val m = Distances.metricId(metric)
    c.queries.flatMap { case (qid, qv) =>
      val h = new TopK(c.k)
      c.rows.foreach { case (id, v) => h.push(Distances.distance(m)(v, qv), id) }
      h.sorted.toSeq.zipWithIndex.map { case ((d, id), r) => (qid, id, d, r + 1) }
    }.sorted
  }

  private def rowsOf(df: DataFrame): Seq[Row] =
    df.select(col("qid").cast("long"), col("id").cast("long"), col("dist").cast("double"),
      col("rank").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted

  private def data(c: Case): DataFrame = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize(c.rows, c.parts).toDF("id", "vector")
  }

  private def queryDf(c: Case): DataFrame = {
    val s = spark
    import s.implicits._
    c.queries.toDF("qid", "qvec")
  }

  /** Each named path's rows against the fold, labelled on mismatch. */
  private def agree(c: Case, metric: String, paths: Seq[(String, () => DataFrame)]): Prop =
    agreeWith(fold(c, metric), metric, paths)

  private def agreeWith(want: Seq[Row], metric: String, paths: Seq[(String, () => DataFrame)]): Prop =
    paths.map { case (name, run) =>
      val got = rowsOf(run())
      Prop(same(got, want)) :| s"$name ($metric): got $got, want $want"
    }.reduce(_ && _)

  /** Row equality that takes a NaN distance (cosine to a zero vector) as
    * equal to itself.
    */
  private def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && x._2 == y._2 && x._4 == y._4 && (x._3 == y._3 || x._3.isNaN && y._3.isNaN)
    }

  /** The IVF candidates at partial probe: per query, the distinct ids of
    * the `assigned` (id, cell) rows whose cell is among the first `nprobe`
    * of [[Ivf.probeOrder]] under `metric`, as (qid, id, dist).
    */
  private def probed(rows: Seq[(Long, Array[Float])], queries: Seq[(Long, Array[Float])],
      assigned: Seq[(Long, Int)], centroids: Array[Array[Float]], nprobe: Int,
      metric: String): Seq[(Long, Long, Double)] = {
    val m = Distances.metricId(metric)
    val vector = rows.toMap
    queries.flatMap { case (qid, qv) =>
      val cells = Ivf.probeOrder(qv, centroids, m).take(nprobe).toSet
      assigned.collect { case (id, cell) if cells(cell) => id }.distinct
        .map(id => (qid, id, Distances.distance(m)(vector(id), qv)))
    }
  }

  /** One bounded heap per query over `candidates`. */
  private def heapFold(candidates: Seq[(Long, Long, Double)], k: Int): Seq[Row] =
    candidates.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val h = new TopK(k)
      cs.foreach { case (_, id, d) => h.push(d, id) }
      h.sorted.toSeq.zipWithIndex.map { case ((d, id), r) => (qid, id, d, r + 1) }
    }.sorted

  /** [[Ivf.search]] at `nprobe` < C over a spill-1 and a spill-2
    * assignment against the TopK fold of the probed cells' distinct ids,
    * and that fold against the `row_number()` window over the same
    * candidates ([[Knn.topK]], which orders NaN last as Spark sorts
    * doubles). C is up to 4 distinct row vectors. With `zeroLed` every
    * partition starts with a zero vector, under cosine a NaN distance that
    * is each heap's first candidate when its cell is probed.
    */
  private def ivfProbed(c: Case, metric: String, np: Int, zeroLed: Boolean = false): Prop = {
    val s = spark
    import s.implicits._
    val zero = Array.fill(dim)(0f)
    val d = if (!zeroLed) data(c) else s.sparkContext.parallelize(c.rows, c.parts)
      .mapPartitionsWithIndex((i, it) => Iterator((1000L + i, zero)) ++ it).toDF("id", "vector")
    val rows = c.rows ++ (0 until c.parts).map(i => (1000L + i, zero))
    val qs = c.queries.toArray
    val centroids = c.rows.map(_._2).distinctBy(_.toSeq).take(4).toArray
    val nprobe = math.max(1, math.min(np, centroids.length - 1))
    Seq(1, 2).map { spill =>
      val assigned = Ivf.assign(spark, d, centroids, metric, spill)
      val cells = assigned.select(col("id"), col("cell")).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val candidates = probed(rows, c.queries, cells, centroids, nprobe, metric)
      val want = heapFold(candidates, c.k)
      val window = rowsOf(Knn.topK(candidates.toDF("qid", "id", "dist"), c.k))
      (Prop(same(want, window)) :| s"TopK fold $want, window $window ($metric)") &&
        agreeWith(want, metric, Seq(
          s"Ivf.search spill $spill nprobe $nprobe of ${centroids.length}" -> (() =>
            Ivf.search(spark, assigned, centroids, qs, c.k, nprobe, metric, dedup = spill > 1))))
    }.reduce(_ && _)
  }

  /** The SQL top-k idiom, which `KnnRewrite` plans as `KnnCandidates`. */
  private def rewrittenSql(c: Case): DataFrame = {
    val s = spark
    import s.implicits._
    graft.functions.GraftFunctionRegistry.register(s)
    KnnRewrite.install(s)
    data(c).createOrReplaceTempView("knneq_data")
    c.queries.toDF("qid", "qv").createOrReplaceTempView("knneq_q")
    val df = s.sql(
      s"""SELECT qid, id, dist, rnk AS rank FROM (
         |  SELECT q.qid AS qid, d.id AS id, dist_euclidean(d.vector, q.qv) AS dist,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY dist_euclidean(d.vector, q.qv), d.id) AS rnk
         |  FROM knneq_data d CROSS JOIN knneq_q q)
         |WHERE rnk <= ${c.k}""".stripMargin)
    require(KnnRewrite.fired(df), "the SQL top-k idiom did not reach KnnCandidates")
    df
  }

  property("every exact euclidean path equals the TopK fold (ties by id)") = forAll(cases) { c =>
    val d = data(c)
    val q = queryDf(c)
    val qs = c.queries.toArray
    val n = c.rows.size
    // nprobe = C: every cell probed, so IVF is exact
    val centroids = c.rows.map(_._2).distinctBy(_.toSeq).take(3).toArray
    def assigned(spill: Int) = Ivf.assign(spark, d, centroids, "euclidean", spill)
    val pca = Pca.fit(d, "vector", 2)
    agree(c, "euclidean", Seq(
      "bruteForce" -> (() => Knn.bruteForce(d, q, c.k)),
      "partitioned" -> (() => Knn.partitioned(spark, d, qs, c.k)),
      "partitionedDF(queryBlock=1)" -> (() => Knn.partitionedDF(d, q, c.k, queryBlock = 1)),
      "partitionedDF" -> (() => Knn.partitionedDF(d, q, c.k)),
      "KnnCandidates.knn" -> (() => KnnCandidates.knn(spark, d, qs, c.k)),
      "KnnRewrite SQL" -> (() => rewrittenSql(c)),
      "Ivf.search spill 1" -> (() =>
        Ivf.search(spark, assigned(1), centroids, qs, c.k, centroids.length)),
      "Ivf.search spill 2" -> (() =>
        Ivf.search(spark, assigned(2), centroids, qs, c.k, centroids.length, dedup = true)),
      "Ivf.searchDF spill 1" -> (() =>
        Ivf.searchDF(assigned(1), centroids, q, c.k, centroids.length)),
      "Ivf.searchDF spill 2" -> (() =>
        Ivf.searchDF(assigned(2), centroids, q, c.k, centroids.length, dedup = true)),
      "Quantize.searchExact sq8" -> (() => Quantize.searchExact(spark, Quantize.sq8(d), qs, c.k)),
      "Quantize.searchExact sq4" -> (() =>
        Quantize.searchExact(spark, Quantize.sq4(d), qs, c.k, codec = "sq4")),
      "Pca.searchExact" -> (() =>
        Pca.searchExact(spark, Pca.projectWithResidual(d, pca), pca, qs, c.k)),
      "matryoshka" -> (() => Knn.matryoshka(d, q, c.k, dPrefix = 2, coarseK = n)),
      "matryoshkaDF" -> (() => Knn.matryoshkaDF(d, q, c.k, dPrefix = 2, coarseK = n))))
  }

  property("SQ tau-bound paths equal the TopK fold under manhattan") = forAll(cases) { c =>
    val d = data(c)
    val qs = c.queries.toArray
    agree(c, "manhattan", Seq(
      "Quantize.searchExact sq8" -> (() =>
        Quantize.searchExact(spark, Quantize.sq8(d), qs, c.k, metric = "manhattan")),
      "Quantize.searchExact sq4" -> (() =>
        Quantize.searchExact(spark, Quantize.sq4(d), qs, c.k, metric = "manhattan", codec = "sq4"))))
  }

  property("IVF at partial probe equals the TopK fold over the probed cells' distinct ids") =
    forAll(cases, cosineCases, Gen.choose(1, 3)) { (c, cc, np) =>
      ivfProbed(c, "euclidean", np) && ivfProbed(c, "manhattan", np) && ivfProbed(cc, "cosine", np) &&
        ivfProbed(cc, "cosine", np, zeroLed = true)
    }

  /** Per query, up to k candidates from each of several graph partitions
    * and delta partitions (a query may get none), on a coarse distance
    * grid so ties are common; base and delta ids are disjoint, as the
    * override set makes them.
    */
  private val mergeInputs: Gen[(Int, Seq[(Long, Long, Double)], Seq[(Long, Long, Double)])] = {
    def part(k: Int, ids: Seq[Long]): Gen[Seq[(Long, Long, Double)]] =
      Seq(3L, 10L, 17L).foldLeft(Gen.const(Seq.empty[(Long, Long, Double)])) { (acc, qid) =>
        for {
          rows <- acc
          n <- Gen.choose(0, k)
          picked <- Gen.pick(n, ids)
          ds <- Gen.listOfN(n, Gen.choose(0, 4).map(_ * 0.5))
        } yield rows ++ picked.toSeq.zip(ds).map { case (id, d) => (qid, id, d) }
      }
    for {
      k <- Gen.choose(1, 5)
      nb <- Gen.choose(0, 3)
      nd <- Gen.choose(0, 3)
      base <- Gen.listOfN(nb, part(k, (0L until 40L).toSeq))
      delta <- Gen.listOfN(nd, part(k, (40L until 60L).toSeq))
    } yield (k, base.flatten, delta.flatten)
  }

  property("the maintained-HNSW k-merge equals the TopK fold of base and delta candidates") =
    forAll(mergeInputs) { case (k, base, delta) =>
      val all = base ++ delta
      val want = all.map(_._1).distinct.flatMap { qid =>
        val h = new TopK(k)
        all.filter(_._1 == qid).foreach { case (_, id, d) => h.push(d, id) }
        h.sorted.toSeq.zipWithIndex.map { case ((d, id), r) => (qid, id, d, r + 1) }
      }.sorted
      val got = rowsOf(Knn.mergeLocal(spark, all.toArray, k))
      Prop(got == want) :| s"got $got, want $want"
    }

  // one search per case: eight cases per run, so a tie broken by rounding
  // rather than by id has many chances to show
  property("searchExactCosine equals the cosine TopK fold") =
    forAll(Gen.listOfN(8, cosineCases)) { cs =>
      cs.map(c => agree(c, "cosine", Seq(
        "Quantize.searchExactCosine" -> (() =>
          Quantize.searchExactCosine(spark, data(c), c.queries.toArray, c.k))))).reduce(_ && _)
    }
}

/** The DataFrame-query paths over a data side with no partitions at all
  * answer with no rows, as [[Knn.bruteForce]] does.
  */
class KnnEmptyDataSpec extends SparkTestBase {

  test("empty data: DataFrame-query kNN paths return no rows") {
    val s = spark
    import s.implicits._
    val queries = Seq((0L, Array(1f, 2f, 3f, 4f))).toDF("qid", "qvec")
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vector")
    val filtered = Seq((1L, Array(0f, 0f, 0f, 0f))).toDF("id", "vector").filter(col("id") < 0)
    Seq("empty" -> empty, "filtered to empty" -> filtered).foreach { case (what, data) =>
      assert(Knn.bruteForce(data, queries, 3).count() === 0L, what)
      assert(Knn.partitionedDF(data, queries, 3).count() === 0L, s"partitionedDF, $what")
      assert(Knn.matryoshkaDF(data, queries, 3, dPrefix = 2, coarseK = 3).count() === 0L,
        s"matryoshkaDF, $what")
      assert(RandomProjection.searchDF(data, queries, 3, d = 4, dProj = 2, coarseK = 3).count() === 0L,
        s"RandomProjection.searchDF, $what")
      assert(HnswSpark.searchDF(spark, data, queries, 3).count() === 0L, s"HnswSpark.searchDF, $what")
    }
  }
}

/** Exact cosine ties at the k-th place break by id, as in
  * [[Knn.bruteForce]], not by the float rounding of the normalized vectors.
  */
class KnnCosineTieSpec extends SparkTestBase {

  test("searchExactCosine keeps the lowest ids among vectors tied at the k-th place") {
    val s = spark
    import s.implicits._
    // four directions orthogonal to query 2 (cosine distance exactly 1.0),
    // each under several ids; their normalized coordinates round differently
    val pool = Map(
      'a' -> Array(-2f, 2f, -1f, -2f), 'b' -> Array(1f, 1f, -1f, -1f), 'c' -> Array(1f, -1f, 1f, 2f),
      'd' -> Array(-1f, 2f, -2f, 0f), 'e' -> Array(-2f, -2f, 0f, 1f), 'f' -> Array(1f, 2f, 0f, 0f))
    val ids = Seq(8680L -> 'a', 18161L -> 'a', 10862L -> 'b', 3103L -> 'c', 18864L -> 'a',
      16485L -> 'c', 4906L -> 'a', 14747L -> 'c', 19928L -> 'c', 13089L -> 'd', 3030L -> 'e',
      15711L -> 'd', 16972L -> 'a', 4073L -> 'd', 16034L -> 'f', 2075L -> 'e', 536L -> 'b',
      14737L -> 'a', 13598L -> 'a', 4079L -> 'f')
    val data = ids.map { case (id, p) => (id, pool(p)) }.toDF("id", "vector")
    val queries = Array(0L -> Array(-1f, 2f, -1f, -1f), 1L -> Array(1f, 1f, 2f, -2f),
      2L -> Array(1f, -2f, 1f, -2f))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "dist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted
    val want = rows(Knn.bruteForce(data, queries.toSeq.toDF("qid", "qvec"), 4, "cosine"))
    assert(want.filter(_._1 == 2L).map(_._2) === Seq(536L, 2075L, 3030L, 3103L))
    assert(rows(Quantize.searchExactCosine(spark, data, queries, 4)) === want)
  }
}
