package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 ranked document retrieval (Robertson et al., TREC-3 1994;
  * the idf form is the standard "+1" variant that keeps weights positive:
  * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))). This is the lexical half
  * of the hybrid (keyword + vector) search surface every production
  * vector store ships; [[graft.ops.Fusion]] fuses it with the kNN arm.
  *
  * Scale shape (100 TB corpus, query batch of Q queries with ≤T distinct
  * terms total):
  *   - The corpus streams ONCE: tokenize → explode → `token IN terms`
  *     filter immediately after the generate, so only postings matching
  *     some query term survive the scan — T is query-sized, so the
  *     surviving set is the true posting lists, not the corpus.
  *   - Per-document length and the (N, avgdl) corpus statistics come from
  *     the same tokenize pass shapes (one narrow aggregate; no extra wide
  *     shuffle).
  *   - The document-frequency table is ≤T rows (aggregated map-side from
  *     the postings), and the (qid, term) query table is ≤Q·T rows — both
  *     broadcast; the posting side never shuffles for either join.
  *   - The only wide exchanges are the (doc, token) tf aggregation and the
  *     per-qid top-k window, whose rank predicate pushes a
  *     WindowGroupLimit bound into every shuffle-map task, so k·P rows
  *     cross per query, not the posting-list length.
  *
  * Determinism: ranking orders by the 4-decimal-ROUNDED score before the
  * doc-id tie-break, so engines (or layouts) differing in floating-point
  * summation order by ulps cannot flip ranks — distinct real-score docs
  * stay ordered, exact-tie docs order by id both sides.
  */
object Bm25 {

  /** Tokenize a query string with the corpus tokenizer, distinct terms. */
  private[graft] def queryTerms(text: String): Seq[String] =
    text.trim.toLowerCase.split("\\s+").toSeq.distinct.filter(_.nonEmpty)

  /** Driver-side twin of the `pmod(xxhash64(token), nBuckets)` bucket the
    * index layout partitions by — bit-identical to the written column.
    */
  private[graft] def tokenBucket(token: String, nBuckets: Int): Long =
    math.floorMod(org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(token),
      org.apache.spark.sql.types.StringType, 42L), nBuckets.toLong)

  /** Shared scoring tail: `post` is (qid-joinable) posting rows
    * (doc_id, dl, token, tf, df), `qTable` the broadcastable (qid, token)
    * pairs; scores, rounds, ranks (rounded score desc, doc_id asc), cuts
    * at `k`. Every public search surface funnels through this so the
    * arithmetic (and thus the oracle hash) cannot drift between them.
    */
  private def scoreTopK(
      post: DataFrame,
      qTable: DataFrame,
      n: Double,
      avgdl: Double,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    val idf = log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    val scored = post
      .join(broadcast(qTable), Seq("token"))
      .select(col("qid"), col("doc_id"), (idf * tfNorm).as("contrib"))
      .groupBy("qid", "doc_id")
      .agg(round(sum("contrib"), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("score"), col("rank").cast("long").as("rank"))
  }

  /** (doc_id, token, tf, dl) posting rows restricted to `terms` — the
    * exploded-and-filtered single corpus pass described above.
    */
  def postings(
      docs: DataFrame,
      terms: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))
  }

  /** [[search]] with a DataFrame query side — the corpus-vs-corpus shape
    * (lexical near-dup mining, batch retrieval for RAG ingestion): no
    * driver-resident term list anywhere. `queries` is (qid, qtext); its
    * distinct-term table replaces both the driver `isin` posting filter
    * (a broadcast LEFT SEMI join inside the same single corpus scan) and
    * the literal query table. Plan shape is otherwise [[search]]'s: one
    * corpus scan, window df over the surviving postings, per-qid
    * WindowGroupLimit top-k. The query side broadcasts while it is the
    * small side; at a truly corpus-sized query batch Spark switches the
    * semi and scoring joins to shuffles on `token` without plan changes.
    */
  def searchDF(
      docs: DataFrame,
      queries: DataFrame, // (qid, qtext)
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val statsRow = docs
      .agg(count(lit(1)).as("n"),
        avg(size(TextAnalysis.tokens(col(textCol)))).as("avgdl"))
      .head()
    val n = statsRow.getLong(0).toDouble
    val avgdl = statsRow.getDouble(1)
    require(n > 0, "empty corpus")

    val qTable = queries
      .select(col("qid").cast("long").as("qid"),
        explode(array_distinct(TextAnalysis.tokens(col("qtext")))).as("token"))
      .filter(col("token") =!= "")
    val terms = qTable.select("token").distinct()

    val post = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("token"))
      .join(broadcast(terms), Seq("token"), "left_semi")
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))
    val withDf = post.withColumn("df",
      count(lit(1)).over(Window.partitionBy("token")))
    scoreTopK(withDf, qTable, n, avgdl, k, k1, b)
  }

  /** Materialize an inverted index: the serving path. [[search]] re-scans
    * and re-tokenizes the corpus per query batch — right for one-off
    * analytics, wrong for a 100 TB corpus served repeatedly. The saved
    * layout holds the FULL postings (every (doc, token, tf, dl) row —
    * corpus-token-sized, the classic inverted-index trade) partitioned by
    * `bucket = pmod(xxhash64(token), nBuckets)`, so a query batch reads
    * only the buckets its terms hash to (partition pruning) and inside
    * them only matching `token` row groups (predicate pushdown); the
    * document-frequency table (vocab-sized) and the (N, avgdl) stats ride
    * alongside, so serving needs NO window over postings at all. `stats`
    * is written LAST as the completion marker — a torn build fails loudly
    * at load instead of serving partial postings.
    *
    * File-count note: `partitionBy` writes one file per (upstream task ×
    * bucket it contains), so many small upstream partitions produce many
    * small posting files — repartition the docs (or pick nBuckets) to
    * taste; the layout and every reader are partition-count-agnostic.
    */
  def buildIndex(
      docs: DataFrame,
      dir: String,
      nBuckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text",
      withPositions: Boolean = false): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    // positions make the index POSITIONAL (phrase/adjacency queries via
    // [[phraseSearch]]) at the cost of one int per corpus token — the
    // classic positional-postings trade, off by default
    val exploded = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        posexplode(col("__toks")).as(Seq("pos", "token")))
    val grouped = exploded.groupBy("doc_id", "dl", "token")
    val post = (if (withPositions)
        grouped.agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      else grouped.agg(count(lit(1)).as("tf")))
      .withColumn("bucket", pmod(xxhash64(col("token")), lit(nBuckets.toLong)))
    post.write.partitionBy("bucket").parquet(s"$dir/postings")
    // a corpus without one non-null text writes no posting file, so the
    // read-backs below would have no footer to take their schema from:
    // refused here, its empty postings removed, so a rebuild into `dir`
    // still works (an up-front check would scan the text column, which
    // `count()` never reads)
    if (graft.io.LocalParquet.dataFiles(spark, s"$dir/postings", nested = true).isEmpty) {
      graft.io.HadoopIO.delete(s"$dir/postings", spark.sparkContext.hadoopConfiguration)
      throw new IllegalArgumentException(s"empty corpus: no document with a non-null $textCol to index")
    }
    // the read-backs below take their schema from a footer the write
    // just left (graft.io.IndexTable): none starts an inference job.
    // df from the just-written postings (one read of the compact layout,
    // not a second corpus tokenize)
    val written = graft.io.IndexTable.read(spark, dir, "postings")
    written.groupBy("token").agg(count(lit(1)).as("df"))
      .write.parquet(s"$dir/df")
    // per-document lengths (the maintained-serving path needs them to
    // re-derive (n, avgdl) under mutations) — from the compact layout
    written.select("doc_id", "dl").dropDuplicates("doc_id")
      .write.parquet(s"$dir/doclen")
    // avgdl from the just-written doclen table: every tokenized doc has
    // >= 1 posting row (split yields >= 1 token even for ""), null-text
    // docs are absent here exactly as `avg` skipped their null size, and
    // dl sums are integers (< 2^53 — exact in doubles, order-free), so
    // this is the same mean the corpus re-tokenize computed, one full
    // tokenize pass cheaper. n stays a count over `docs` itself (a narrow
    // count, no tokenize) so a null-text row still counts toward n exactly
    // as before. Corpora with duplicate doc_ids are outside the index
    // contract (postings/doclen collapse them); their avgdl weighting
    // differs from the live search's row-weighted mean.
    val n = docs.count()
    val avgdl = graft.io.IndexTable.read(spark, dir, "doclen")
      .agg(avg(col("dl")).as("avgdl")).head().getDouble(0)
    Seq((n, avgdl, nBuckets, withPositions))
      .toDF("n", "avgdl", "n_buckets", "positions")
      .coalesce(1).write.parquet(s"$dir/stats")
  }

  /** Exact PHRASE search over a POSITIONAL [[buildIndex]] directory
    * (`withPositions = true`; a positions-less index fails loudly):
    * documents containing the phrase's tokens CONTIGUOUSLY, with the
    * occurrence count. The classic positional-postings evaluation:
    * per phrase, the m term posting lists (bucket-pruned + token-pushed
    * reads, exactly like scoring) join by doc_id and the occurrence
    * starts are the intersection of the m position sets shifted by their
    * phrase offsets — `array_intersect` chains, all codegen, no UDF, no
    * corpus scan. A repeated term in the phrase works unchanged (its one
    * posting list participates at each of its offsets).
    *
    * Returns (qid, doc_id, n_occurrences), only matching docs. Phrase
    * terms tokenize with the corpus tokenizer IN ORDER (no dedupe).
    */
  def phraseSearch(
      spark: SparkSession,
      dir: String,
      phrases: Seq[(Long, String)]): DataFrame = {
    require(phrases.nonEmpty, "empty phrase batch")
    val (_, _, nBuckets, positional) = loadStats(spark, dir)
    require(positional,
      s"index at $dir was built WITHOUT positions (buildIndex(withPositions = true)) — " +
        "phrase adjacency cannot be evaluated from tf-only postings")

    val parsed = phrases.map { case (qid, text) =>
      val terms = text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
      require(terms.nonEmpty, s"phrase for qid $qid has no tokens")
      (qid, terms)
    }
    // each per-term branch is its own bucket-pruned + token-pushed read —
    // no persist (the reads are posting-list-sized), no driver
    // materialization (a common phrase can hit corpus-many documents)
    def termPostings(t: String) = graft.io.IndexTable.read(spark, dir, "postings")
      .filter(col("bucket") === lit(tokenBucket(t, nBuckets)) && col("token") === lit(t))
      .select(col("doc_id"), col("positions"))
    val perPhrase = parsed.map { case (qid, terms) =>
      // fold the phrase left to right: starts = ∩_i (positions(t_i) − i)
      var acc = termPostings(terms.head)
        .select(col("doc_id"), col("positions").as("starts"))
      terms.zipWithIndex.tail.foreach { case (t, i) =>
        acc = acc.join(
          termPostings(t)
            .select(col("doc_id"),
              transform(col("positions"), p => p - i).as(s"__p$i")),
          Seq("doc_id"))
          .select(col("doc_id"),
            array_intersect(col("starts"), col(s"__p$i")).as("starts"))
      }
      acc.filter(size(col("starts")) > 0)
        .select(lit(qid).as("qid"), col("doc_id"),
          size(col("starts")).cast("long").as("n_occurrences"))
    }
    perPhrase.reduce(_ unionByName _)
  }

  /** [[search]] over a [[buildIndex]] directory: reads only the term
    * buckets + matching row groups, joins the (tiny, term-filtered) df
    * table broadcast, scores and top-ks — no corpus scan, no tokenize, no
    * posting-wide shuffle beyond the per-qid top-k window.
    */
  def searchSaved(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Long, String)],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val (n, avgdl, nBuckets, _) = loadStats(spark, dir)

    val qTerms = queries.flatMap { case (qid, text) => queryTerms(text).map(qid -> _) }
    require(qTerms.nonEmpty, "no query terms after tokenization")
    val terms = qTerms.map(_._2).distinct
    val buckets = terms.map(tokenBucket(_, nBuckets)).distinct

    val post = graft.io.IndexTable.read(spark, dir, "postings")
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
    val dfTable = graft.io.IndexTable.read(spark, dir, "df").filter(col("token").isin(terms: _*))
    val qTable = qTerms.toDF("qid", "token")
    scoreTopK(post.join(broadcast(dfTable), Seq("token")), qTable, n.toDouble, avgdl, k, k1, b)
  }

  /** (n, avgdl, nBuckets, positions) of a [[buildIndex]] directory, read
    * in-process from its `stats` marker (no Spark job); a marker written
    * before positional indexes has no `positions` column and reads false.
    */
  def loadStats(spark: SparkSession, dir: String): (Long, Double, Int, Boolean) = {
    require(graft.io.HadoopIO.exists(s"$dir/stats", spark.sparkContext.hadoopConfiguration),
      s"no stats under $dir — not a (complete) bm25 index directory (stats is written last; " +
        "a missing one means the build was torn)")
    val r = graft.io.LocalParquet.read(spark, s"$dir/stats").head
    (r.getAs[Long]("n"), r.getAs[Double]("avgdl"), r.getAs[Int]("n_buckets"),
      r.schema.fieldNames.contains("positions") && r.getAs[Boolean]("positions"))
  }

  /** BM25 top-`k` documents per query. `queries` = (qid, query text,
    * tokenized with the corpus tokenizer); duplicate terms within one
    * query count once (standard when query term frequency is ignored).
    * Returns (qid, doc_id, score, rank), rank 1-based by descending
    * rounded score then ascending doc_id; documents sharing no term with
    * the query never appear (their score is 0 by definition).
    */
  def search(
      docs: DataFrame,
      queries: Seq[(Long, String)],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(queries.nonEmpty, "empty query batch")
    val spark = docs.sparkSession
    import spark.implicits._

    val qTerms: Seq[(Long, String)] = queries.flatMap { case (qid, text) =>
      queryTerms(text).map(qid -> _)
    }
    require(qTerms.nonEmpty, "no query terms after tokenization")
    val terms = qTerms.map(_._2).distinct

    // one aggregate-only pass for the corpus statistics; the tokenizer
    // runs inside the scan so no materialized token column exists
    val statsRow = docs
      .agg(count(lit(1)).as("n"),
        avg(size(TextAnalysis.tokens(col(textCol)))).as("avgdl"))
      .head()
    val n = statsRow.getLong(0).toDouble
    val avgdl = statsRow.getDouble(1)
    require(n > 0, "empty corpus")

    val post = postings(docs, terms, idCol, textCol)

    // df via a window over the postings (one row per doc-token, so the
    // per-token row count IS the document frequency): a groupBy-then-join
    // formulation would re-derive the posting pipeline — a SECOND full
    // corpus scan — while the window costs one extra shuffle of the
    // (query-term-filtered, corpus-scan-sized-smaller) postings only
    val qTable = qTerms.toDF("qid", "token")
    val withDf = post.withColumn("df",
      count(lit(1)).over(Window.partitionBy("token")))
    scoreTopK(withDf, qTable, n, avgdl, k, k1, b)
  }

  /** Snippet extraction for retrieval results: for each (qid, doc) hit,
    * the ±`window`-token context around the FIRST occurrence of any of
    * that query's terms (the standard result-highlighting step). Entirely
    * NARROW after the (hit-sized) doc-text join: tokenize → indexed
    * `transform` marks term positions → `array_min` finds the anchor →
    * slice + rejoin — all codegen HOFs, no UDF, no shuffle beyond the
    * join; hits are top-k-bounded, so the joined text is k·Q documents
    * regardless of corpus size. A hit whose document contains none of the
    * query's terms (possible when the ranking came from the vector arm of
    * a hybrid) anchors at token 0 — the head of the document is the
    * honest fallback context.
    *
    * `hits` = (qid, doc_id); `queries` = (qid, query text). Returns
    * (qid, doc_id, anchor, snippet).
    */
  def snippets(
      docs: DataFrame,
      hits: DataFrame,
      queries: Seq[(Long, String)],
      window: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(window >= 0, s"window must be non-negative, got $window")
    val spark = docs.sparkSession
    import spark.implicits._
    val qTable = queries.map { case (qid, text) => (qid, queryTerms(text)) }
      .toDF("qid", "terms")
    val w = lit(window.toLong)
    hits
      .select(col("qid").cast("long"), col(idCol).cast("long").as("doc_id"))
      .join(docs.select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks")), Seq("doc_id"))
      .join(broadcast(qTable), Seq("qid"))
      .select(col("qid"), col("doc_id"), col("__toks"),
        // first term position: indexed transform emits the index where the
        // token is a query term (null elsewhere); array_min skips nulls
        coalesce(
          array_min(transform(col("__toks"),
            (t, i) => when(array_contains(col("terms"), t), i.cast("long")))),
          lit(0L)).as("anchor"))
      .select(col("qid"), col("doc_id"), col("anchor"),
        array_join(
          slice(col("__toks"),
            (greatest(col("anchor") - w, lit(0L)) + lit(1L)).cast("int"),
            (least(col("anchor") + w, size(col("__toks")).cast("long") - lit(1L))
              - greatest(col("anchor") - w, lit(0L)) + lit(1L)).cast("int")),
          " ").as("snippet"))
  }

  /** Maintained-view scoring entry for the streaming sink
    * ([[graft.streaming.StreamingOps.bm25MaintenanceSink]]): the caller
    * reconstructs the surviving term-filtered postings and (n, avgdl);
    * df comes from the same window-over-postings the scan path uses.
    */
  private[graft] def scoreMaintained(
      post: DataFrame, // (doc_id, dl, token, tf) — term-filtered survivors
      qTerms: Seq[(Long, String)],
      n: Double,
      avgdl: Double,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    val spark = post.sparkSession
    import spark.implicits._
    val withDf = post.withColumn("df",
      count(lit(1)).over(Window.partitionBy("token")))
    scoreTopK(withDf, qTerms.toDF("qid", "token"), n, avgdl, k, k1, b)
  }
}
