package graft

import graft.dedup.Dedup
import graft.functions.vec
import graft.hnsw.{HnswConfig, HnswSpark}
import graft.knn.{Ivf, Knn, RandomProjection}
import graft.ops.Mutations
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The operator catalog: every SURVEY.md §2 component exposed as a
  * (SparkSession, sfDir) => DataFrame query, with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible.
  *
  * Conventions for oracle hash-stability:
  *  - identical column names + ORDER BY on both sides,
  *  - floats computed in double precision in identical element order and
  *    rounded (4 decimals; money aggregates 2),
  *  - integer outputs cast to BIGINT on both sides.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Planted perceptual-image fixture shared by dedup_image_phash and
    * stream_image_phash: 200 deterministic 16×12 PNGs from embedding
    * float bits (pixel range [48, 175]), ids 0-24 with a
    * +20-brightness-shifted copy (id+10000), ids 25-49 with a
    * decode→re-encode copy (id+20000) — both hash-invariant classes (see
    * the dedup_image_phash row comment for the invariance argument).
    */
  private def imagePhashFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "embeddings").filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, emb) =>
          val rgb = Array.tabulate(16 * 12 * 3) { i =>
            val bits = java.lang.Float.floatToIntBits(emb(i % emb.length))
            val v = (bits >>> (8 * ((i / emb.length) % 4))) & 0xff
            (48 + (v & 0x7f)).toByte // [48, 175]: +20 shift headroom
          }
          val png = graft.multimodal.Multimodal.encodePng(rgb, 16, 12)
          if (id < 25) {
            val shifted = rgb.map(b => ((b & 0xff) + 20).toByte)
            Seq((id, png),
              (id + 10000, graft.multimodal.Multimodal.encodePng(shifted, 16, 12)))
          } else if (id < 50) {
            val re = graft.multimodal.Multimodal.PngDecoder.decodeRgb(png).get._1
            Seq((id, png),
              (id + 20000, graft.multimodal.Multimodal.encodePng(re, 16, 12)))
          } else Seq((id, png))
        }
      }.toDF("id", "payload")
  }

  /** One planted charset_decode case: the envelope's Content-Type value,
    * body bytes in the WIRE charset, and the expected cascade outcome.
    * The QUERY frames these through the WARC source and the ORACLE
    * derives its VALUES rows from the same list (md5s and char counts
    * computed here), so both sides share one source of truth.
    */
  private[graft] final case class CharsetCase(
      id: Long, ctHeader: String, body: Array[Byte],
      expCharset: String, expSource: String, expText: String)

  /** One planted http_encodings case: extra envelope headers, the wire
    * body bytes, and the expected unwrap outcome (`expText` null for an
    * unsupported coding whose body must NOT surface). Same one-source-
    * of-truth discipline as [[CharsetCase]]: the query frames these, the
    * oracle derives VALUES from the identical list.
    */
  private[graft] final case class EncodingCase(
      id: Long, headers: Seq[String], body: Array[Byte],
      expEncoding: String, expText: String, expCharset: String)

  private[graft] val encodingCases: Seq[EncodingCase] = {
    import java.nio.charset.StandardCharsets.UTF_8
    def gz(b: Array[Byte]): Array[Byte] = graft.sources.WarcFormat.gzipMember(b)
    def zl(b: Array[Byte], raw: Boolean): Array[Byte] = WireFixtures.deflate(b, raw)
    def ch(b: Array[Byte], sizes: Seq[Int], eol: String = "\r\n",
        ext: String = "", trailers: String = ""): Array[Byte] =
      WireFixtures.chunk(b, sizes, eol, ext, trailers)
    val sjis = java.nio.charset.Charset.forName("Shift_JIS")
    val txt = "chunk me twice, compress me once \u2014 caf\u00e9" // non-ASCII survives
    val jp = "\u3053\u3093\u306b\u3061\u306f\u4e16\u754c" // konnichiwa sekai
    val tb = txt.getBytes(UTF_8)
    Seq(
      EncodingCase(930001L, Seq("Transfer-Encoding: chunked"),
        ch(tb, Seq(7, tb.length - 7)), "chunked", txt, "utf-8"),
      EncodingCase(930002L, Seq("Transfer-Encoding: chunked"),
        ch(tb, Seq(tb.length), eol = "\n", ext = ";x=1", trailers = "X-T: v\n"),
        "chunked", txt, "utf-8"),
      EncodingCase(930003L, Seq("Content-Encoding: gzip"), gz(tb), "gzip", txt, "utf-8"),
      EncodingCase(930004L, Seq("Content-Encoding: x-gzip"), gz(tb), "x-gzip", txt, "utf-8"),
      EncodingCase(930005L, Seq("Content-Encoding: gzip"),
        gz(tb.take(10)) ++ gz(tb.drop(10)), "gzip", txt, "utf-8"), // multi-member
      EncodingCase(930006L, Seq("Content-Encoding: deflate"),
        zl(tb, raw = false), "deflate", txt, "utf-8"),
      EncodingCase(930007L, Seq("Content-Encoding: deflate"),
        zl(tb, raw = true), "deflate", txt, "utf-8"), // the broken-server raw form
      EncodingCase(930008L, Seq("Transfer-Encoding: chunked", "Content-Encoding: gzip"),
        ch(gz(tb), Seq(gz(tb).length)), "chunked,gzip", txt, "utf-8"),
      // the full real-crawl stack: chunked + gzip + a non-UTF-8 charset
      EncodingCase(930009L,
        Seq("Transfer-Encoding: chunked", "Content-Encoding: gzip",
          "Content-Type: text/html; charset=Shift_JIS"),
        ch(gz(jp.getBytes(sjis)), Seq(11, gz(jp.getBytes(sjis)).length - 11)),
        "chunked,gzip", jp, "shift_jis"),
      // truncation mid-second-chunk: exactly the first chunk + 5 bytes survive
      EncodingCase(930010L, Seq("Transfer-Encoding: chunked"), {
        val full = ch(tb, Seq(7, tb.length - 7))
        // layout: "7\r\n" + 7 bytes + "\r\n" + "<hex>\r\n" + data...; keep
        // the size line of chunk 2 plus 5 data bytes
        val keep = 3 + 7 + 2 + ((tb.length - 7).toHexString.length + 2) + 5
        full.take(keep)
      }, "chunked(truncated)", new String(tb.take(12), UTF_8), "utf-8"),
      EncodingCase(930011L, Seq("Content-Encoding: gzip"), tb,
        "gzip(skipped)", txt, "utf-8"), // header lies: bytes are plain text
      EncodingCase(930012L, Seq("Transfer-Encoding: chunked"),
        "zz\r\nraw stays".getBytes(UTF_8),
        "chunked(malformed)", "zz\r\nraw stays", "utf-8"),
      EncodingCase(930013L, Seq("Content-Encoding: br", "Content-Type: text/html"),
        Array[Byte](1, 2, 3), "br(unsupported)", null, null),
      // cut exactly at a chunk boundary (before the next size line):
      // truncation of a well-formed stream, NOT malformed framing
      EncodingCase(930014L, Seq("Transfer-Encoding: chunked"), {
        val full = ch(tb, Seq(20, tb.length - 20))
        full.take((20.toHexString.length + 2) + 20 + 2)
      }, "chunked(truncated)", new String(tb.take(20), UTF_8), "utf-8"))
  }

  private[graft] val charsetCases: Seq[CharsetCase] = {
    import java.nio.charset.Charset
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_16LE, UTF_8}
    val sjis = Charset.forName("Shift_JIS")
    val w1252 = Charset.forName("windows-1252")
    // explicit escapes, not literal chars: the expected strings must be
    // byte-exact regardless of source-file encoding
    val dk = "K\u00f8benhavn \u00e6\u00f8\u00e5 caf\u00e9"
    val jp = "\u3053\u3093\u306b\u3061\u306f\u4e16\u754c" // konnichiwa sekai
    val win = "caf\u00e9 \u2013 \u201csmart\u201d" // 0x96/0x93/0x94: 1252-only bytes
    val bomTxt = "BOM d\u00e9j\u00e0 vu"
    val wide = "wide \u4e16\u754c"
    val metaHtml = "<html><head><meta charset=\"shift_jis\"></head>" +
      "<body>\u30c6\u30b9\u30c8 ok</body></html>" // katakana "tesuto"
    val fb = "fallback caf\u00e9" // trailing 0xE9: invalid UTF-8 tail
    val u8 = "d\u00e9j\u00e0 \u4e16\u754c"
    Seq(
      // 2. transport declaration (no BOM present); ISO-8859-1 label
      // promotes to 1252 per WHATWG
      CharsetCase(900001L, "text/html; charset=ISO-8859-1",
        dk.getBytes(ISO_8859_1), "windows-1252", "header", dk),
      CharsetCase(900002L, "text/html; charset=Shift_JIS",
        jp.getBytes(sjis), "shift_jis", "header", jp),
      CharsetCase(900003L, "text/html; charset=windows-1252",
        win.getBytes(w1252), "windows-1252", "header", win),
      // 1. BOM: UTF-8 and UTF-16LE, BOM stripped after decode
      CharsetCase(900004L, "text/html",
        Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ bomTxt.getBytes(UTF_8),
        "utf-8", "bom", bomTxt),
      CharsetCase(900005L, "text/html",
        Array(0xff.toByte, 0xfe.toByte) ++ wide.getBytes(UTF_16LE),
        "utf-16le", "bom", wide),
      // 3. in-document <meta charset> (ASCII-visible inside SJIS bytes)
      CharsetCase(900006L, "text/html", metaHtml.getBytes(sjis),
        "shift_jis", "meta", metaHtml),
      // 5. undeclared + invalid UTF-8: windows-1252 fallback
      CharsetCase(900007L, "text/html", fb.getBytes(ISO_8859_1),
        "windows-1252", "fallback", fb),
      // 4. undeclared + strictly valid multi-byte UTF-8
      CharsetCase(900008L, "text/html", u8.getBytes(UTF_8), "utf-8", "utf8", u8),
      // unknown label falls THROUGH the cascade, not over the document
      CharsetCase(900009L, "text/html; charset=x-klingon",
        u8.getBytes(UTF_8), "utf-8", "utf8", u8),
      // BOM OUTRANKS a stale transport declaration (WHATWG decode step
      // 1 — the common misconfigured-server case browsers get right)
      CharsetCase(900010L, "text/html; charset=ISO-8859-1",
        Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ bomTxt.getBytes(UTF_8),
        "utf-8", "bom", bomTxt))
  }

  /** Planted ARPA trigram model shared by arpa_parse and lm_score_arpa:
    * its vocabulary overlaps the synthetic corpus's word list, so real
    * document rows exercise in-vocab unigram/bigram paths and the
    * planted docs pin every Katz branch deterministically. One source of
    * truth: the query parses these lines through [[graft.text.ArpaLm]];
    * the oracle derives its model VALUES from the same list via
    * [[arpaFixtureRows]] (preserving the DECIMAL LITERALS, so both
    * engines parse bit-identical doubles and no rounding is needed on
    * the parse row).
    */
  private[graft] val arpaModelLines: Seq[String] = Seq(
    "\\data\\",
    "ngram 1=12",
    "ngram 2=10",
    "ngram 3=6",
    "",
    "\\1-grams:",
    "-99\t<s>\t-0.30103",
    "-1.2\t</s>",
    "-2.5\t<unk>",
    "-0.9\tthe\t-0.22",
    "-1.0\ta\t-0.18",
    "-1.1\ttable\t-0.25",
    "-1.15\trow\t-0.2",
    "-1.25\tdata\t-0.3",
    "-1.3\tfast\t-0.12",
    "-1.35\tvalue\t-0.28",
    "-1.4\tscan\t-0.15",
    "-1.45\tquery\t-0.1",
    "",
    "\\2-grams:",
    "-0.45\t<s> the\t-0.3",
    "-0.5\tthe table\t-0.25",
    "-0.55\ta row\t-0.2",
    "-0.6\tdata value\t-0.15",
    "-0.65\tfast scan\t-0.1",
    "-0.7\ttable row\t-0.35",
    "-0.75\tquery value\t-0.05",
    "-0.8\tthe a\t-0.4",
    "-0.85\tvalue </s>",
    "-0.95\trow </s>",
    "",
    "\\3-grams:",
    "-0.3\t<s> the table",
    "-0.35\tthe table row",
    "-0.4\ta row </s>",
    "-0.42\tdata value </s>",
    "-0.5\tfast scan query",
    "-0.55\ttable row </s>",
    "\\end\\")

  /** The fixture's parsed form with probability/backoff kept as the
    * ORIGINAL decimal literal strings (for bit-identical VALUES on the
    * oracle side). (order, context, word, log10p, backoff). */
  private[graft] val arpaFixtureRows: Seq[(Int, String, String, String, String)] =
    arpaModelLines.filter(_.contains("\t")).map { line =>
      val f = line.split("\t")
      val ws = f(1).split(" ")
      (ws.length, ws.init.mkString(" "), ws.last, f(0),
        if (f.length == 3) f(2) else "0.0")
    }

  /** Planted docs pinning every Katz branch of lm_score_arpa: trigram
    * chains, bigram + context-backoff, unigram backoff chains, pure OOV,
    * and mixed in-/out-of-vocabulary. */
  private[graft] val arpaScoreDocs: Seq[(Long, String)] = Seq(
    (900101L, "the table row"),
    (900102L, "a row"),
    (900103L, "fast scan query value"),
    (900104L, "zebra unicorn"),
    (900105L, "the table zebra row"))

  /** Planted TRAINING docs for the Kneser–Ney rows: the synthetic
    * corpus's closed ~32-word vocabulary can yield ZERO singleton
    * continuation counts (every word follows many predecessors), which
    * leaves the Chen-Goodman discount n1/(n1+2·n2) undefined — a real
    * corpus always has hapax legomena. These rows plant them
    * deterministically at every SF. Disjoint from [[arpaScoreDocs]]'s
    * vocabulary so the scoring fixtures keep their OOV roles. */
  private[graft] val knTrainDocs: Seq[(Long, String)] = Seq(
    (910001L, "one lone hapax gleam"),
    (910002L, "gleam fades"))

  /** Planted mixed-script docs for segment_cjk: unspaced Chinese, kanji
    * among kana, supplementary-plane ideographs (ext B/C), and scripts
    * that must NOT be char-split (hangul, Thai). Ids in the 9000xx
    * planted range; the oracle reconstructs the same texts from chr()
    * calls and replays the identical segmentation chain.
    */
  private[graft] val cjkCases: Seq[(Long, String)] = Seq(
    (900001L, "Transformers\u6539\u53d8\u4e86 the nlp \u683c\u5c40 in 2017"),
    (900002L, "\u6df1\u5ea6\u5b66\u4e60\u6a21\u578b\u8bad\u7ec3"),
    (900003L, "\u6771\u4eac\u306b\u884c\u304d\u307e\u3059"),
    (900004L, "\ud840\udc00x\ud869\udfff"),
    (900005L, "plain ascii text stays identical"),
    (900006L, "\ud55c\uae00 hangul \u0e44\u0e17\u0e22 thai stay joined"))

  /** The charset-exercising suffixes pipeline_ingest_charset appends
    * before encoding each document's twins: (_1) windows-1252-encodable
    * (e-acute, en dash, i-diaeresis), (_2) Shift_JIS-encodable (CJK +
    * katakana). Shared so the oracle reconstructs the same strings.
    */
  private[graft] val CsPipeSuffixes: (String, String) =
    ("caf\u00e9 \u2013 na\u00efve", "\u4e16\u754c \u30c6\u30b9\u30c8")

  /** The events table with `ts` normalized to epoch NANOS (long). The
    * testdata generator has emitted both parquet TIMESTAMP(NANOS) — which
    * Spark can only surface as a raw nanos long (legacy flag) — and
    * TIMESTAMP(MICROS), which arrives as an ntz timestamp. Both encode the
    * same as-if-UTC instant, so the downstream bucket/gap integer-nanos
    * arithmetic is exact either way, and the oracle's epoch()/epoch_ns()
    * read the same instants directly from the file.
    */
  private def eventsNanos(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = t(spark, dir, "events")
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => e
      case _ =>
        // ntz wall time == as-if-UTC instant: pin the session zone so the
        // ntz→instant cast is the identity on the internal micros value
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        e.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  /** Streaming twin of [[eventsNanos]]: the events file-stream with `ts`
    * as a proper µs event-time timestamp whichever way it was encoded.
    * nanos → micros truncation (< 1 µs) cannot cross any window or join
    * boundary used downstream.
    */
  private def eventsStreamMicros(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val s = streamTable(spark, dir, "events")
    s.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        s.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        s.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private def dEmb(c: String) = s"$c::DOUBLE[]"

  /** DuckDB: element-ordered double fold equivalents of graft's kernels. */
  private def duckEuclid(a: String, b: String) =
    s"sqrt(list_sum(list_transform(list_zip($a, $b), x -> (x[1]-x[2])*(x[1]-x[2]))))"
  private def duckManhattan(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> abs(x[1]-x[2])))"
  private def duckDot(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1]*x[2]))"
  private def duckNormSq(a: String) =
    s"list_sum(list_transform($a, x -> x*x))"
  private def duckCosine(a: String, b: String) =
    s"abs(1.0 - ${duckDot(a, b)} / (sqrt(${duckNormSq(a)}) * sqrt(${duckNormSq(b)})))"

  /** Spark side: single query vector = embedding of vec_id 0, broadcast. */
  private def withQueryVec(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(q))
  }

  private def distQuery(metric: String): (SparkSession, String) => DataFrame =
    (spark, dir) =>
      withQueryVec(spark, dir)
        .select(col("vec_id"), round(vec.dist(col("embedding"), col("qv"), metric), 4).as("dist"))
        .orderBy("vec_id")

  private def distOracle(duckExpr: (String, String) => String): String =
    s"""WITH q AS (SELECT ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, round(${duckExpr(dEmb("e.embedding"), "q.qv")}, 4) AS dist
       |FROM embeddings e CROSS JOIN q ORDER BY e.vec_id""".stripMargin

  /** kNN queries/data prep shared by the kNN entries. */
  private def knnInputs(spark: SparkSession, dir: String, nQueries: Int): (DataFrame, DataFrame) = {
    val e = t(spark, dir, "embeddings")
    val data = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    (data, queries)
  }

  private def knnFinish(df: DataFrame): DataFrame =
    df.select(col("qid"), col("id"), round(col("dist"), 4).as("dist"), col("rank").cast("long").as("rank"))
      .orderBy("qid", "rank")

  /** The DF-side vs broadcast-side equality row shape. The DF side runs
    * the FULL query batch (its correctness is the SQL replay oracle's
    * job); the broadcast side — the small-Q serving form, whose
    * crossJoin cost grows with Q by design — re-runs only the qids below
    * `arrQ`, and the anti-join equality compare restricts the DF side to
    * the same qids (per-query results are independent, so the filtered
    * DF rows ARE what a subset run would produce). The DF result
    * PERSISTS so the compare and the output read one materialization,
    * then the k·Q-bounded rows collect into a LocalRelation and the
    * cache releases — nothing leaks into the session.
    */
  private def knnDfEqualityRow(spark: SparkSession, dfSide: DataFrame,
      arrSide: DataFrame, arrQ: Int): DataFrame = {
    import spark.implicits._
    val dfP = dfSide.persist()
    val arrP = arrSide.persist() // evaluated once, read by BOTH anti-join directions
    try {
      val keys = Seq("qid", "id", "dist", "rank")
      val dfSub = dfP.filter(col("qid") < arrQ)
      val nDiff = dfSub.join(arrP, keys, "left_anti").count() +
        arrP.join(dfSub, keys, "left_anti").count()
      val rows = dfP.as[(Long, Long, Double, Long)].collect().toSeq
        .map { case (qid, id, dist, rank) =>
          (qid, id, dist, rank, if (nDiff == 0) 1L else 0L) }
      rows.toDF("qid", "id", "dist", "rank", "arr_path_equal")
        .orderBy("qid", "rank")
    } finally {
      dfP.unpersist()
      arrP.unpersist()
    }
  }

  /** Multi-vector (late-interaction) inputs derived deterministically from
    * the embeddings table: document `vec_id DIV 4` owns tokens
    * {4·id .. 4·id+3} ordered by vec_id (array_sort on (vec_id, embedding)
    * structs pins the order Spark-side; `list(.. ORDER BY vec_id)` pins it
    * oracle-side). Queries are documents 0–2's own token lists.
    */
  private def maxSimInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = t(spark, dir, "embeddings")
    val docs = e.groupBy(expr("vec_id DIV 4").as("id"))
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding")))).as("ts"))
      .select(col("id"), expr("transform(ts, x -> x.embedding)").as("vectors"))
    val queries = docs.filter(col("id") < 3).select(col("id").as("qid"), col("vectors").as("qvecs"))
    (docs, queries)
  }

  private def maxSimFinish(df: DataFrame): DataFrame =
    df.select(col("qid"), col("id"), round(col("score"), 4).as("score"),
      col("rank").cast("long").as("rank"))
      .orderBy("qid", "rank")

  private def knnOracle(duckExpr: (String, String) => String, nQueries: Int, k: Int, where: String = "TRUE"): String =
    s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id < $nQueries),
       |d AS (SELECT q.qid, e.vec_id AS id, ${duckExpr(dEmb("e.embedding"), "q.qv")} AS dist
       |      FROM embeddings e CROSS JOIN q WHERE $where),
       |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |SELECT qid, id, round(dist, 4) AS dist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** [[knnOracle]] with the FULL embeddings table as the query batch. */
  private def knnOracleAll(duckExpr: (String, String) => String, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings),
       |d AS (SELECT q.qid, e.vec_id AS id, ${duckExpr(dEmb("e.embedding"), "q.qv")} AS dist
       |      FROM embeddings e CROSS JOIN q),
       |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |SELECT qid, id, round(dist, 4) AS dist, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Self-verifying summary for approximate-ANN queries (same methodology as
    * the reference's own correctness gate, `index/hnsw_test.go:21-75`: search
    * results scored against brute force). The approximate result joins the
    * in-repo exact kNN (itself oracle-proven) and collapses to flat,
    * closed-form-predictable scalars: every query must return exactly k rows
    * and recall ≥ minHits/k, so the DuckDB oracle is a constant table.
    */
  private def recallSummary(approx: DataFrame, exact: DataFrame, k: Int, minHits: Int): DataFrame =
    approx.select(col("qid"), col("id"))
      .join(exact.select(col("qid"), col("id")).withColumn("hit", lit(1L)), Seq("qid", "id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_results"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("qid"), lit(k.toLong).as("k"), col("n_results"),
        when(col("n_hits") >= minHits, lit(1L)).otherwise(lit(0L)).as("recall_ok"))
      .orderBy("qid")

  /** Closed-form oracle for [[recallSummary]] outputs. */
  private def recallOracle(nQueries: Int, k: Int): String =
    s"SELECT vec_id AS qid, CAST($k AS BIGINT) AS k, CAST($k AS BIGINT) AS n_results, " +
      s"CAST(1 AS BIGINT) AS recall_ok FROM embeddings WHERE vec_id < $nQueries ORDER BY qid"

  /** File-stream source over one testdata table: the source wants a
    * directory, so the single parquet file is exposed through a temp-dir
    * symlink (testdata itself is read-only; the target is absolutized so a
    * relative sfDir doesn't leave the symlink dangling).
    */
  private def streamTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val target = java.nio.file.Paths.get(s"$dir/$table.parquet").toAbsolutePath
    val schema = spark.read.parquet(target.toString).schema
    val streamDir = java.nio.file.Files.createTempDirectory(s"stream_src_$table")
    val link = java.nio.file.Files.createSymbolicLink(streamDir.resolve(s"$table.parquet"), target)
    // JVM-exit cleanup — a long-lived session running the catalog
    // repeatedly must not leak temp dirs. deleteOnExit deletes in REVERSE
    // registration order: dir registered first so the link goes first and
    // the then-empty dir second
    streamDir.toFile.deleteOnExit()
    link.toFile.deleteOnExit()
    spark.readStream.schema(schema).parquet(streamDir.toString)
  }

  /** State-store partition count for the streaming rows. A stateful query
    * pays per-partition store open/commit every micro-batch, which
    * DOMINATES replay time at test volumes (stream_join measured 5.6 s at
    * 32 partitions vs 3.1 s at 8 vs ~2.4 s at 4 — same result bytes,
    * proven by the CPU/partition invariance runs). Sized small here; a
    * real deployment raises it to its key-cardinality via
    * SPARK_GRAFT_STREAM_PARTITIONS.
    */
  private val streamStateParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "4")

  /** Set shuffle partitions (captured by a streaming query at START into
    * its checkpoint) for the duration of `body`, then restore. The swap
    * mutates SESSION-global conf, so it is serialized under a lock:
    * overlapping swaps could interleave set/restore and strand the
    * session at the streaming value. (The catalog contract is sequential
    * execution; a concurrent BATCH query on the same session would still
    * plan at the streaming partition count while `body` runs — callers
    * running queries in parallel should use separate sessions.)
    */
  private val streamPartsLock = new Object
  private def withStreamParts[A](spark: SparkSession)(body: => A): A =
    streamPartsLock.synchronized {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", streamStateParts)
      try body
      finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }

  /** Run `stream` into the sink `to` configures (a `foreachBatch` sink, or
    * the memory sink of [[runStream]]) to completion: AvailableNow trigger,
    * at the streaming partition count ([[withStreamParts]]), blocking until
    * every available batch is committed. The checkpoint is a fresh temp dir
    * named after `prefix` unless `ckpt` names one — a second run on the
    * same checkpoint resumes after the last committed offset.
    */
  private def runToCompletion[T](
      spark: SparkSession,
      stream: org.apache.spark.sql.Dataset[T],
      prefix: String,
      mode: String = "append",
      ckpt: Option[String] = None)(
      to: org.apache.spark.sql.streaming.DataStreamWriter[T] =>
        org.apache.spark.sql.streaming.DataStreamWriter[T]): Unit = {
    val dir = ckpt.getOrElse(java.nio.file.Files.createTempDirectory(s"${prefix}ckpt").toString)
    withStreamParts(spark) {
      to(stream.writeStream.outputMode(mode))
        .option("checkpointLocation", dir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
  }

  /** Run a streaming DataFrame to completion into a memory sink and return
    * the converged result. Only the result table lands on the driver; all
    * operator state is distributed.
    */
  private def runStream(spark: SparkSession, df: DataFrame, mode: String, prefix: String): DataFrame = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    runToCompletion(spark, df, prefix, mode)(_.format("memory").queryName(name))
    spark.table(name)
  }

  /** The synthesized mutation stream shared by the stateful streaming rows:
    * an upsert@v1 for every id, plus a remove@v2 for ids ≡ 0 (mod 7) —
    * closed-form predictable final state whatever the batch boundaries.
    */
  private def mutationOps(spark: SparkSession, dir: String) = {
    import spark.implicits._
    streamTable(spark, dir, "embeddings")
      .select(explode(when(col("vec_id") % 7 === 0,
          array(
            struct(col("vec_id").as("id"), lit("upsert").as("op"),
              col("embedding").cast("array<float>").as("vector"), lit(1L).as("version")),
            struct(col("vec_id").as("id"), lit("remove").as("op"),
              array().cast("array<float>").as("vector"), lit(2L).as("version"))))
        .otherwise(array(
          struct(col("vec_id").as("id"), lit("upsert").as("op"),
            col("embedding").cast("array<float>").as("vector"), lit(1L).as("version")))))
        .as("o"))
      .select(col("o.id"), col("o.op"), col("o.vector"), col("o.version"))
      .as[graft.streaming.StreamingOps.VectorOp]
  }

  /** Replay the events table through a file-stream source into a windowed
    * streaming aggregation, returning the converged result keyed by
    * 300-second buckets of each window's start.
    */
  private def streamEventsReplay(spark: SparkSession, dir: String)(
      agg: DataFrame => DataFrame): DataFrame = {
    val stream = eventsStreamMicros(spark, dir)
    runStream(spark, agg(stream), "complete", "stream_ev_")
      .select(col("event_type"),
        (unix_timestamp(col("window.start")) / 300).cast("long").as("bucket"),
        col("n"), round(col("sum_value"), 4).as("sum_value"))
      .orderBy("event_type", "bucket")
  }

  // ---------------------------------------------------------------- queries

  /** Hybrid-search query batch: terms drawn from the synthetic corpus
    * vocabulary; qids align with the embeddings used by the vector arm.
    */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    (0L, "vector hash join"),
    (1L, "slow query scan"),
    (2L, "spark merge batch window"))

  /** Phrase-search batch: contiguous sequences present in the synthetic
    * corpus, plus a repeated-term phrase exercising the offset-shifted
    * reuse of a single posting list.
    */
  private val bm25Phrases: Seq[(Long, String)] = Seq(
    (0L, "table hash"),
    (1L, "customer join"),
    (2L, "slow hash batch"),
    (3L, "a a"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1-3 distance expressions
    "dist_euclidean" -> distQuery("euclidean"),
    "dist_manhattan" -> distQuery("manhattan"),
    "dist_cosine" -> distQuery("cosine"),

    // §2.1-3 SIMD expression path (Panama Vector API with scalar fallback),
    // self-verifying: the relaxed-precision SIMD distance must agree with
    // the exact element-ordered fold within O(dim·ulp) relative tolerance
    // for every row and metric, so the oracle is a constant table. The
    // oracle-checked dist_* queries stay on the exact kernel.
    "dist_simd_check" -> ((spark, dir) => {
      val df = withQueryVec(spark, dir)
      // cosine needs an ABSOLUTE tolerance term sized to float accumulation
      // (error ~1e-7 relative to the norms product, i.e. to 1 — NOT to the
      // possibly-tiny cosine distance); the magnitude-scaled metrics keep
      // the relative term as the lead
      def ok(metric: String) = {
        val s = vec.distSimd(col("embedding"), col("qv"), metric)
        val x = vec.dist(col("embedding"), col("qv"), metric)
        val absTol = if (metric == "cosine") 1e-5 else 1e-9
        when(abs(s - x) <= lit(1e-4) * abs(x) + lit(absTol), lit(1L)).otherwise(lit(0L))
      }
      df.select(col("vec_id"),
          ok("euclidean").as("ok_euclidean"),
          ok("manhattan").as("ok_manhattan"),
          ok("cosine").as("ok_cosine"))
        .orderBy("vec_id")
    }),

    // §2.4 vector algebra
    "vec_algebra" -> ((spark, dir) => {
      val df = withQueryVec(spark, dir)
      val a = col("embedding").cast("array<double>")
      val b = col("qv").cast("array<double>")
      df.select(
          col("vec_id"),
          round(vec.dot(a, b), 4).as("dot_q"),
          round(vec.norm(a), 4).as("norm"),
          round(vec.elemSum(vec.add(a, b)), 4).as("sum_add"),
          round(vec.elemSum(vec.sub(a, b)), 4).as("sum_sub"),
          round(vec.elemSum(vec.mul(a, b)), 4).as("sum_mul"),
          round(vec.elemSum(vec.scalarMul(a, lit(2.5))), 4).as("sum_smul"))
        .orderBy("vec_id")
    }),

    // §2.1-4 as pure SQL TEXT: the same codegen kernels driven entirely
    // through spark.sql() — graft expressions resolve as named functions
    // (GraftFunctionRegistry.register here; spark.sql.extensions=
    // graft.functions.GraftExtensions injects the identical builders at
    // session build, exercised in VectorFunctionsSpec), so pure-SQL users
    // get the engine without the Scala facade.
    "sql_vector_ops" -> ((spark, dir) => {
      graft.functions.GraftFunctionRegistry.register(spark)
      t(spark, dir, "embeddings").createOrReplaceTempView("embeddings_sqlv")
      spark.sql(
        """SELECT /*+ BROADCAST(q) */ e.vec_id,
          |  round(dist_euclidean(e.embedding, q.qv), 4) AS dist_l2,
          |  round(dist_cosine(e.embedding, q.qv), 4) AS dist_cos,
          |  round(vec_dot(CAST(e.embedding AS ARRAY<DOUBLE>), CAST(q.qv AS ARRAY<DOUBLE>)), 4) AS dot_q,
          |  round(vec_norm(CAST(e.embedding AS ARRAY<DOUBLE>)), 4) AS norm
          |FROM embeddings_sqlv e
          |CROSS JOIN (SELECT embedding AS qv FROM embeddings_sqlv WHERE vec_id = 0) q
          |ORDER BY e.vec_id""".stripMargin)
    }),

    // §2.5 big-endian float32 codec — self-verifying roundtrip
    "vec_codec_roundtrip" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val decoded = vec.fromBytes(vec.toBytes(col("embedding")))
      e.select(
          col("vec_id"),
          aggregate(
            zip_with(col("embedding"), decoded, (x, y) => when(x === y, 0L).otherwise(1L)),
            lit(0L), (acc, v) => acc + v).as("n_mismatch"),
          length(vec.toBytes(col("embedding"))).cast("long").as("n_bytes"))
        .orderBy("vec_id")
    }),

    // §2.6 brute-force exact kNN (flagship)
    "knn_bruteforce" -> ((spark, dir) => {
      val (data, queries) = knnInputs(spark, dir, 5)
      knnFinish(Knn.bruteForce(data, queries, 10, "euclidean"))
    }),

    // Retrieval evaluation metrics (recall@k / MRR@k / nDCG@k): exact
    // top-10 results scored against a synthetic graded relevance set
    // (rel = 4 − |id − qid| within ±3 — id-adjacency, mostly NOT
    // distance-adjacency, so recall is realistically partial). Oracle
    // replays the kNN and every metric formula in SQL.
    "rank_metrics" -> ((spark, dir) => {
      val (data, queries) = knnInputs(spark, dir, 20)
      val results = Knn.bruteForce(data, queries, k = 10)
      val ids = data.select("id")
      val relevance = queries.select(col("qid"))
        .select(col("qid"), explode(sequence(col("qid") - 3, col("qid") + 3)).as("id"))
        .join(ids, Seq("id"), "left_semi")
        .withColumn("rel", lit(4) - abs(col("id") - col("qid")))
      graft.ops.RankMetrics.evaluate(results, relevance, k = 10)
        .select(col("qid"), col("n_relevant"), col("n_hits"),
          round(col("recall_at_k"), 4).as("recall_at_k"),
          round(col("mrr_at_k"), 4).as("mrr_at_k"),
          round(col("ndcg_at_k"), 4).as("ndcg_at_k"),
          round(col("ap_at_k"), 4).as("ap_at_k"))
        .orderBy("qid")
    }),
    "knn_cosine" -> ((spark, dir) => {
      val (data, queries) = knnInputs(spark, dir, 3)
      knnFinish(Knn.bruteForce(data, queries, 5, "cosine"))
    }),
    "knn_manhattan" -> ((spark, dir) => {
      val (data, queries) = knnInputs(spark, dir, 3)
      knnFinish(Knn.bruteForce(data, queries, 5, "manhattan"))
    }),

    // §2.18 Matryoshka prefix-dim retrieval (Kusupati et al. 2022): coarse
    // top-50 on the first 16 of 64 dims, exact rescore at full dim. Both
    // stages deterministic (total tie-breaks), so the oracle replays the
    // full two-stage computation — no recall gate needed.
    "knn_matryoshka" -> ((spark, dir) => {
      val (data, queries) = knnInputs(spark, dir, 5)
      knnFinish(Knn.matryoshka(data, queries, k = 10, dPrefix = 16, coarseK = 50))
    }),

    // §2.18 Johnson–Lindenstrauss tier: DATA-INDEPENDENT 64→16 ±1/√16
    // sign projection (no training pass over the corpus — the matrix is a
    // pure hash function), coarse top-50, exact rescore. The oracle
    // rebuilds the md5 sign matrix and replays both stages bit-for-bit.
    "knn_rp" -> ((spark, dir) => {
      val (data, queries) = knnInputs(spark, dir, 5)
      knnFinish(RandomProjection.search(data, queries, k = 10, d = 64, dProj = 16,
        coarseK = 50))
    }),

    // §2.31 standalone Matryoshka tier with a DataFrame query side at
    // corpus-vs-corpus cardinality (the FULL embeddings table is both
    // corpus and query batch): coarse pass = partitionedDF over the
    // 16-dim prefix (query table replicated through one shuffle, bounded
    // per-query heaps, no crossJoin anywhere), exact full-dim rescore
    // through candidate-keyed joins. Deterministic at both stages, so the
    // oracle replays the two-stage computation for the full batch; the
    // arr_path_equal column additionally asserts (fail-loud,
    // oracle-checked) row-for-row equality with the broadcast array-path
    // formulation on the same inputs.
    "knn_matryoshka_df" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val data = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
      val queries = e.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      knnDfEqualityRow(spark,
        knnFinish(Knn.matryoshkaDF(data, queries, k = 10, dPrefix = 16, coarseK = 50)),
        knnFinish(Knn.matryoshka(data, queries.filter(col("qid") < 200), k = 10,
          dPrefix = 16, coarseK = 50)), arrQ = 200)
    }),

    // §2.31 standalone JL tier with a DataFrame query side — same shape
    // as knn_matryoshka_df (scan-blocked coarse pass over the 16-dim
    // sign projection, candidate-keyed rescore, full query batch), same
    // two proofs: full two-stage SQL replay + explicit row-for-row
    // equality with the array-path formulation.
    "knn_rp_df" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val data = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
      val queries = e.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      knnDfEqualityRow(spark,
        knnFinish(RandomProjection.searchDF(data, queries, k = 10, d = 64,
          dProj = 16, coarseK = 50)),
        knnFinish(RandomProjection.search(data, queries.filter(col("qid") < 200),
          k = 10, d = 64, dProj = 16, coarseK = 50)), arrQ = 200)
    }),

    // §2.7+14 per-partition top-k + global merge (dataset.go:349-433)
    "knn_partitioned" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      knnFinish(Knn.partitioned(spark, data, queries, 10, "euclidean"))
    }),

    // §2.14 search results carry item metadata (reference SearchResultItem
    // .Metadata, storage/dataset.go:520): join labels onto the k-merge output
    "knn_with_meta" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val (data, queries) = knnInputs(spark, dir, 3)
      val nn = Knn.bruteForce(data, queries, 5, "euclidean")
      nn.join(broadcast(e.select(col("vec_id").as("id"), col("label"))), Seq("id"))
        .select(col("qid"), col("id"), round(col("dist"), 4).as("dist"),
          col("rank").cast("long").as("rank"), col("label"))
        .orderBy("qid", "rank")
    }),

    // §2.7+14 again, as a (c)-level Catalyst extension: custom LogicalPlan +
    // SparkStrategy + SparkPlan (graft.plans.KnnCandidates) — hash-matches
    // the window formulation's oracle
    "knn_custom_plan" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      knnFinish(graft.plans.KnnCandidates.knn(spark, data, queries, 10, "euclidean"))
    }),

    // §2.14 declarative-SQL dispatch: the user writes the plain
    // cross-join + row_number window idiom; the KnnSqlRewrite optimizer
    // rule proves the pattern and swaps in KnnCandidatesNode — one
    // bounded-heap pass, no Q·N join rows, no cartesian in the physical
    // plan. The `rewritten` column asserts (fail-loud, oracle-checked)
    // that the custom operator actually fired.
    "sql_knn_rewrite" -> ((spark, dir) => {
      graft.functions.GraftFunctionRegistry.register(spark)
      graft.plans.KnnRewrite.install(spark)
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      data.createOrReplaceTempView("knn_sqlr_data")
      // literal query batch -> LocalRelation, the bounded shape the rule accepts
      val qRows = queriesDf.collect().toSeq
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(qRows.asJava, queriesDf.schema)
        .createOrReplaceTempView("knn_sqlr_q")
      val df = spark.sql(
        """SELECT qid, id, round(dist, 4) AS dist, CAST(rnk AS BIGINT) AS rank FROM (
          |  SELECT q.qid AS qid, d.id AS id,
          |         dist_euclidean(d.vector, q.qvec) AS dist,
          |         row_number() OVER (PARTITION BY q.qid
          |                            ORDER BY dist_euclidean(d.vector, q.qvec), d.id) AS rnk
          |  FROM knn_sqlr_data d CROSS JOIN knn_sqlr_q q)
          |WHERE rnk <= 10""".stripMargin)
      val fired = graft.plans.KnnRewrite.fired(df)
      df.withColumn("rewritten", lit(if (fired) 1L else 0L)).orderBy("qid", "rank")
    }),

    // §2.7+14 DataFrame-native query side (no driver query array anywhere):
    // the FULL embeddings table is both corpus and query batch — the
    // corpus-vs-corpus LLM-pipeline shape (e.g. dedup-by-ANN). The query
    // table is replicated to data partitions through one shuffle
    // (zipPartitions); the data is scanned once. Exact by construction, so
    // it hash-matches the brute-force oracle.
    "knn_partitioned_df" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val data = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
      val queries = e.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      knnFinish(Knn.partitionedDF(data, queries, 10, "euclidean"))
    }),

    // §2.18 IVF with a DataFrame query side via the per-cell cogroup (both
    // sides shuffle once on cell id, nothing replicated, nothing on the
    // driver). At nprobe=C every cell is probed, so the result provably
    // equals brute force — same exact oracle, full query table.
    "ann_ivf_df" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val data = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
      val queries = e.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids)
      knnFinish(Ivf.searchDF(assigned, centroids, queries, k = 5, nprobe = 16))
    }),

    // §2.20 BPE TRAINING (Sennrich et al. 2016 §3.2 — the algorithm that
    // produced every merges.txt the counting kernel consumes): one
    // distributed pretoken-frequency aggregation (corpus streams once,
    // result is vocabulary-sized), then the published merge loop runs
    // driver-side over the word-frequency dict — the shape production
    // tokenizer trainers use. The planted corpus is the paper's
    // low/lower/newest/widest example at frequencies 5/2/6/3; the merge
    // sequence is hand-derivable (ties break lexicographically), so the
    // oracle is a constant table: es, es+t, l+o, lo+w.
    "bpe_train" -> ((spark, dir) => {
      import spark.implicits._
      val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val merges = graft.text.Bpe.train(docs, numMerges = 4)
      merges.filterNot(_.startsWith("#")).zipWithIndex
        .map { case (l, r) => val Array(a, b) = l.split(" "); (r.toLong, a, b) }
        .toDF("rank", "mleft", "mright").orderBy("rank")
    }),

    // BYTE-LEVEL BPE TRAINING (trainBytes — the GPT-2-convention trainer
    // whose output the byteLevel kernel mode consumes): planted corpus
    // where multi-byte UTF-8 drives the trajectory — "café"'s é enters as
    // TWO byte symbols (Ã ©) that the loop must merge through, and the
    // GPT-2 pretokenizer's space-prefix convention splits " latte" from
    // "latte". Merge sequence hand-stepped (counts 8,8,8,8,7,7 with lex
    // tie-breaks) and cross-checked against an independent Python replay
    // of the published algorithm; constant-table oracle.
    "bpe_train_bytes" -> ((spark, dir) => {
      import spark.implicits._
      val docs = (Seq.fill(5)("café latte") ++ Seq.fill(3)("café") ++
        Seq.fill(2)("latte art"))
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val merges = graft.text.Bpe.trainBytes(docs, numMerges = 6)
      merges.filterNot(_.startsWith("#")).zipWithIndex
        .map { case (l, r) => val Array(a, b) = l.split(" "); (r.toLong, a, b) }
        .toDF("rank", "mleft", "mright").orderBy("rank")
    }),

    // §2.20 UNIGRAM-LM TOKENIZER TRAINING (Kudo 2018, the SentencePiece
    // unigram algorithm — the other production tokenizer family next to
    // bpe_train): distributed E-step over the capped word table (forward-
    // backward per pretoken, contributions reduced in sorted word order so
    // the float sum is layout-independent), driver M-step over the
    // vocab-bounded table, deterministic pruning. The planted corpus is
    // "aab"×4 with maxPieceLen 3 — every stage is hand-derivable:
    //   seed counts a:8 b:4 aa:4 ab:4 aab:4 (total 24) → init probs
    //   (1/3, 1/6, 1/6, 1/6, 1/6); EM₁ posteriors over the four
    //   segmentations [aab] 1/6, [aa,b] 1/36, [a,ab] 1/18, [a,a,b] 1/54
    //   (Z = 29/108) give probs a 5/21, b 5/42, aa 1/14, ab 1/7,
    //   aab 3/7; the prune step (vocabSize 4) drops the lowest-prob
    //   multi-char piece aa and renormalizes by 39/42 →
    //   (10/39, 5/39, 6/39, 18/39); the final EM pass over the reduced
    //   lattice yields the four constants below (verified against an
    //   independent Python replay of the same double arithmetic).
    "unigram_train" -> ((spark, dir) => {
      import spark.implicits._
      val docs = Seq.fill(4)("aab").zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      graft.text.UnigramLm.train(docs, vocabSize = 4, maxPieceLen = 3,
          seedSize = 100, emIters = 1, pruneRate = 0.25)
        .toDF("piece", "lp")
        .select(col("piece"), round(col("lp"), 4).as("log_prob"))
        .orderBy("piece")
    }),

    // §2.20 unigram-LM TOKEN COUNTING with the pieces unigram_train just
    // learned — the train→apply round trip in one row: Viterbi
    // max-probability segmentation (deterministic tie-breaks: fewer
    // pieces, then longest last piece; unknown chars are single pieces at
    // the unk floor) over planted docs covering multi-word text, the
    // ▁-marked space convention, unknown characters, multi-space runs,
    // and empty text. Counts are hand-derivable from the trained probs
    // (e.g. "abab" → [ab, ab] since lp(ab) > lp(a)+lp(b);
    // "aabaabaab" → [aab]×3), so the oracle is the constant table.
    "token_count_unigram" -> ((spark, dir) => {
      import spark.implicits._
      val corpus = Seq.fill(4)("aab").zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val vocab = graft.text.UnigramLm.train(corpus, vocabSize = 4,
        maxPieceLen = 3, seedSize = 100, emIters = 1, pruneRate = 0.25)
      val planted = Seq(
        (1L, "aab"), (2L, "aab aab"), (3L, "ba"), (4L, "abab"), (5L, ""),
        (6L, "xyz"), (7L, "aabaabaab"), (8L, "b"), (9L, "ab  aab"),
        (10L, "aa bb")).toDF("doc_id", "text")
      graft.text.UnigramLm.countTokens(planted, vocab, maxPieceLen = 3)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // §2.20 full UNIGRAM TOKENIZATION over REAL corpus text —
    // bpe_encode's twin for the unigram family: pieces train on a
    // deterministic corpus slice, every document Viterbi-segments with
    // the trained vocab (unknown chars as single unk pieces), and two
    // in-query gates collapse to a closed-form oracle: the pretokenizer
    // partitions the text and each segmentation partitions its pretoken,
    // so joining pieces (▁→space) must reconstruct the document
    // byte-for-byte, and the piece count must equal the independent
    // count-only Viterbi path.
    "unigram_encode" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents")
      val vocab = graft.text.UnigramLm.train(docs.filter(col("doc_id") < 200),
        vocabSize = 500, maxPieceLen = 6, seedSize = 800, emIters = 1)
      val bc = spark.sparkContext.broadcast(vocab.toMap)
      val pat = TextAnalysis.BpeTokenPattern
      docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { iter =>
          val m = java.util.regex.Pattern.compile(pat)
          iter.map { case (id, text) =>
            val t = if (text == null) "" else text
            val mm = m.matcher(t)
            val sb = new StringBuilder
            var nPieces = 0L
            var nCounted = 0L
            while (mm.find()) {
              val w = mm.group().replace(' ', graft.text.UnigramLm.SpaceMark)
              val pieces = graft.text.UnigramLm.viterbiPieces(w, bc.value, maxPieceLen = 6)
              nPieces += pieces.length
              nCounted += graft.text.UnigramLm.viterbiCount(w, bc.value, maxPieceLen = 6)
              pieces.foreach(sb.append)
            }
            // compare in MARKED space (reference mapped forward): a doc
            // that already contains a literal ▁ round-trips exactly too,
            // where back-mapping pieces would conflate it with a space
            (id,
              (if (sb.result() == t.replace(' ', graft.text.UnigramLm.SpaceMark)) 1L else 0L),
              (if (nPieces == nCounted) 1L else 0L))
          }
        }
        .toDF("doc_id", "round_trip_ok", "count_consistent")
        .orderBy("doc_id")
    }),

    // §2.22 MIXTURE EPOCH PLANNING — the LLaMA-Table-1 accounting table:
    // per-source available tokens (one partial-agg pass), INTEGER mixture
    // weights (parts — normalization is an exact integer ratio, immune to
    // float-sum order), exact BIGINT floor-division for drawn tokens, and
    // the epochs-elapsed over-sampling diagnostic. Every column is exact
    // arithmetic the oracle replays verbatim.
    "mix_epochs" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents")
      val weights = Seq(("src0", 7L), ("src1", 2L), ("src3", 1L)).toDF("source", "weight")
      graft.ops.Sampling.mixEpochs(docs, weights, budget = 1000000L)
        .orderBy("source")
    }),

    // §2.20 BLOCKLIST page filter (C4 §2.2's badword gate): one codegen
    // case-insensitive word-boundary alternation pass; planted docs carry
    // mixed-case hits at both ends, the unplanted corpus must pass clean,
    // and a superstring (\b fails inside a word) must NOT match.
    "blocklist_filter" -> ((spark, dir) => {
      val words = Seq("contraband", "verboten", "blacksite")
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 8)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(lit("prefix Contraband contrabands text "), col("text"),
            lit(" and VERBOTEN end")).as("text"))
      docs.unionByName(planted)
        .select(col("doc_id"),
          TextAnalysis.blocklistHits(col("text"), words).as("n_flagged"))
        .withColumn("keep", (col("n_flagged") === 0).cast("long"))
        .orderBy("doc_id")
    }),

    // BLOCKLIST AT PRODUCTION LIST SIZE: the Aho–Corasick kernel over a
    // planted 4004-entry list (the C4 badwords order of magnitude) —
    // one O(text) scan per doc regardless of list size, where the regex
    // alternation's compiled NFA degrades. The 4000 generated entries
    // badword0000–badword3999 collapse to a compact character-class
    // regex for the oracle (identical language; entries are mutually
    // prefix-free so alternation order cannot matter). Planted rows
    // exercise mixed case, phrase + hyphen entries, superstring and
    // not-an-entry negatives, and hyphen-boundary hits.
    "blocklist_filter_large" -> ((spark, dir) => {
      import spark.implicits._
      val words = (0 until 4000).map(i => f"badword$i%04d") ++
        Seq("contraband", "verboten", "big bad phrase", "e-mail")
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val planted = Seq(
        (800001L, "Prefix Badword0042 then badword3999x and badword99 end"),
        (800002L, "A big bad phrase and an e-mail; E-MAIL too"),
        (800003L, "badword0000, badword0001, badword0002!"),
        (800004L, "pre-badword0100-post hyphens are boundaries"),
        (800005L, "badword4000 is out of range; big bad phrases is a superstring"))
        .toDF("doc_id", "text")
      docs.unionByName(planted)
        .select(col("doc_id"),
          TextAnalysis.blocklistHitsAho(col("text"), words).as("n_flagged"))
        .withColumn("keep", (col("n_flagged") === 0).cast("long"))
        .orderBy("doc_id")
    }),

    // §2.20 TEXT NORMALIZATION — the pre-tokenizer pass every pipeline
    // runs before anything byte-sensitive: Unicode NFC (kernel; DuckDB's
    // nfc_normalize implements the same UAX #15 composition), CRLF→LF, C0
    // control strip (tab/newline kept), horizontal-whitespace collapse,
    // trim. Planted rows exercise every rule (decomposed é composes, CR
    // forms fold, controls vanish, runs collapse); the untouched ASCII
    // corpus must pass through byte-identical.
    "normalize_text" -> ((spark, dir) => {
      import spark.implicits._
      val planted = Seq(
        (1000001L, "café du monde"),
        (1000002L, "line1\r\nline2\rline3"),
        (1000003L, "abc\td"),
        (1000004L, "  too   many\t\tspaces  ")).toDF("doc_id", "text")
      t(spark, dir, "documents").select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm"))
        .withColumn("n_chars_norm", length(col("norm")).cast("long"))
        .orderBy("doc_id")
    }),

    // §2.20 WORDPIECE TOKENIZER TRAINING (Schuster & Nakajima 2012 — the
    // BERT vocabulary algorithm, the THIRD production tokenizer family
    // next to bpe_train and unigram_train): BPE-shaped merge loop scoring
    // pairs by likelihood gain count(ab)/(count(a)·count(b)). The planted
    // corpus (ab×4, abc×2, cd×1) is hand-derivable (WordPieceSpec pins the
    // same trajectory): the rare-but-EXCLUSIVE pair (c,##d) scores 1.0 and
    // merges FIRST — the defining WordPiece-vs-BPE behavior (BPE would
    // merge the frequent (a,##b)); then two exact-1/6 ties break
    // lexicographically, then (a,##bc) at 0.5. Scores are exact integer
    // ratios — the constant-table oracle replays them.
    "wordpiece_train" -> ((spark, dir) => {
      import spark.implicits._
      val corpus = (Seq.fill(4)("ab") ++ Seq.fill(2)("abc") ++ Seq.fill(1)("cd"))
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val m = graft.text.WordPiece.train(corpus, numMerges = 4, minPairCount = 1L)
      m.merges.zipWithIndex
        .map { case ((l, r, s), i) => (i.toLong, l, r, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toDF("rank", "mleft", "mright", "score").orderBy("rank")
    }),

    // §2.20 full WORDPIECE TOKENIZATION over REAL corpus text —
    // bpe_encode/unigram_encode's twin for the greedy longest-match
    // family: vocab trains on a deterministic corpus slice, every document
    // MaxMatch-segments, and two in-query gates collapse to a closed-form
    // oracle: the pretokenizer partitions the text and each pretoken's
    // pieces either reconstruct it exactly (## stripped) or are the single
    // whole-word [UNK] (replaced by its source pretoken for the
    // reconstruction gate), and the piece count must equal the independent
    // count-only walk.
    "wordpiece_encode" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents")
      val model = graft.text.WordPiece.train(
        docs.filter(col("doc_id") < 200), numMerges = 300, minPairCount = 2L)
      val bc = spark.sparkContext.broadcast(model.pieceSet)
      val pat = TextAnalysis.BpeTokenPattern
      docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { iter =>
          val m = java.util.regex.Pattern.compile(pat)
          iter.map { case (id, text) =>
            val txt = if (text == null) "" else text
            val mm = m.matcher(txt)
            val sb = new StringBuilder
            var nPieces = 0L
            var nCounted = 0L
            while (mm.find()) {
              val w = mm.group()
              val pieces = graft.text.WordPiece.encodePieces(w, bc.value)
              nPieces += pieces.length
              nCounted += graft.text.WordPiece.countPieces(w, bc.value)
              if (pieces.length == 1 && pieces(0) == graft.text.WordPiece.Unk) sb.append(w)
              else pieces.foreach(p => sb.append(p.stripPrefix("##")))
            }
            (id,
              (if (sb.result() == txt) 1L else 0L),
              (if (nPieces == nCounted) 1L else 0L))
          }
        }
        .toDF("doc_id", "round_trip_ok", "count_consistent")
        .orderBy("doc_id")
    }),

    // §2.20 WordPiece counting under the hand-derived planted vocab —
    // every count below follows from the wordpiece_train trajectory +
    // the documented greedy/[UNK] conventions (WordPieceSpec re-derives
    // them): "abcd"→[abc,##d], "cdcd"→[cd,##c,##d], "ba"→[UNK],
    // "ab abc" pretokenizes to ["ab"," abc"] and the space-led pretoken
    // is outside the training alphabet → [UNK], "accd"→[a,##c,##c,##d].
    "token_count_wordpiece" -> ((spark, dir) => {
      import spark.implicits._
      val corpus = (Seq.fill(4)("ab") ++ Seq.fill(2)("abc") ++ Seq.fill(1)("cd"))
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val model = graft.text.WordPiece.train(corpus, numMerges = 4, minPairCount = 1L)
      val planted = Seq((1L, "ab"), (2L, "abcd"), (3L, "ba"), (4L, "cdcd"),
        (5L, ""), (6L, "ab abc"), (7L, "cd"), (8L, "accd")).toDF("doc_id", "text")
      graft.text.WordPiece.countTokens(planted, model)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // §2.18+22 SSL-PROTOTYPE data pruning (Sorscher et al. 2022): k-means
    // prototypes over the embeddings, per-cluster prune of the EASIEST
    // 30% (closest to prototype = most redundant). kmeans is not SQL-
    // replayable, so the row carries the ann_ivf-style self-verifying
    // gates, each computed by an INDEPENDENT aggregate path over the
    // result (not by the rank window that produced it): frac_ok — the
    // cluster pruned exactly floor(0.3·n) members; boundary_ok — the
    // lexicographic (dist, id) max of the pruned set sits strictly below
    // the min of the kept set. rows_match pins one row per vector.
    "prune_prototypes" -> ((spark, dir) => {
      val data = t(spark, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vector")).cache()
      val res = graft.ops.Prototypes.prunePrototypes(
        spark, data, c = 16, pruneFraction = 0.3).cache()
      val stats = res.groupBy("cluster").agg(
        count(lit(1)).as("__n"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("__np"),
        max(when(!col("keep"), struct(col("dist"), col("id")))).as("__pmax"),
        min(when(col("keep"), struct(col("dist"), col("id")))).as("__kmin"))
      res.join(broadcast(stats), Seq("cluster"))
        .select(col("id").as("vec_id"),
          (col("__np") === floor(lit(0.3) * col("__n"))).cast("long").as("frac_ok"),
          (when(col("__np") === 0, lit(true))
            .otherwise(col("__pmax") < col("__kmin"))).cast("long").as("boundary_ok"))
        .orderBy("vec_id")
    }),

    // The OTHER pruning regime (same paper): prune the HARDEST fraction —
    // prototype-distant outliers, the label-noise/junk tail — with the
    // boundary gate inverted (pruned max is now the lexicographic TOP of
    // the cluster: every kept (dist, id) sits strictly below every pruned
    // one).
    "prune_outliers" -> ((spark, dir) => {
      val data = t(spark, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vector")).cache()
      val res = graft.ops.Prototypes.prunePrototypes(
        spark, data, c = 16, pruneFraction = 0.2, pruneHardest = true).cache()
      val stats = res.groupBy("cluster").agg(
        count(lit(1)).as("__n"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("__np"),
        min(when(!col("keep"), struct(col("dist"), col("id")))).as("__pmin"),
        max(when(col("keep"), struct(col("dist"), col("id")))).as("__kmax"))
      res.join(broadcast(stats), Seq("cluster"))
        .select(col("id").as("vec_id"),
          (col("__np") === floor(lit(0.2) * col("__n"))).cast("long").as("frac_ok"),
          (when(col("__np") === 0, lit(true))
            .otherwise(col("__kmax") < col("__pmin"))).cast("long").as("boundary_ok"))
        .orderBy("vec_id")
    }),

    // §2.6+18 exact RADIUS search — the range-query twin of top-k
    // ("everything within the duplicate threshold"): queries broadcast,
    // one codegen'd distance+filter pass over the scan, output bounded by
    // the predicate's selectivity, not k. Hash-matched against the same
    // DuckDB cross-join formulation with the filter inlined.
    "knn_radius" -> ((spark, dir) => {
      val (data, queriesDf0) = knnInputs(spark, dir, 3)
      val res = Knn.radius(data, queriesDf0, r = 1.3)
      res.select(col("qid"), col("id"), round(col("dist"), 4).as("dist"))
        .orderBy("qid", "id")
    }),

    // Contrastive hard-negative mining: per anchor, the 10 nearest
    // vectors OUTSIDE the near-duplicate band (cosine dist > 0.3) — the
    // annulus filter runs on the distance scan before the top-k window,
    // so self-matches and probable unlabeled positives never reach the
    // ranking. Exact-SQL-expressible, so fully oracled.
    "mine_hard_negatives" -> ((spark, dir) => {
      val (data, queries) = knnInputs(spark, dir, 5)
      knnFinish(Knn.hardNegatives(data, queries, k = 10, minDist = 0.3, metric = "cosine"))
    }),

    // §2.18 IVF with the HNSW COARSE QUANTIZER (the published
    // IndexIVF+HNSW shape): probe selection walks an HNSW graph built
    // over the centroids — Q·log C instead of Q·C distance evaluations,
    // which is what keeps probe selection off the critical path at
    // 100 TB-scale cell counts (C >= 100k). Approximate probe sets, so
    // the row is recall-gated against the oracle-proven exact kNN like
    // every approximate entry; at nprobe = C the path bypasses the graph
    // and stays provably exact (gated in IvfTopKSpec).
    "ann_ivf_hnsw_coarse" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids)
      val approx = Ivf.searchDF(assigned, centroids,
        queriesDf, k = 10, nprobe = 6, coarse = "hnsw")
      val exact = Knn.bruteForce(data, queriesDf, 10, "euclidean")
      recallSummary(approx, exact, 10, minHits = 8)
    }),

    // SQ8 quantized two-stage search: coarse scans on 1-byte codes with a
    // per-vector reconstruction-error bound (Quantize.searchExact), exact
    // full-precision rescore of the provably complete candidate set —
    // hash-matches the exact oracle on ANY data, not just tuned SFs
    "knn_quantized" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val q = graft.knn.Quantize.sq8(data)
      knnFinish(graft.knn.Quantize.searchExact(spark, q, queries, k = 10))
    }),

    // PCA-bounded provably-exact kNN: truncate to 8 of 64 dims, scan the
    // projections + residual norms with pairwise lower/upper bounds
    // (d² = d_proj² + d_res², d_res ∈ [|r_q−r_v|, r_q+r_v]), rescore the
    // τ-filtered superset at full precision — the geometric counterpart of
    // knn_quantized's SQ8 τ-proof; the oracle is the exact kNN itself.
    "knn_pca_exact" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val model = graft.knn.Pca.fit(data, "vector", 8)
      val projected = graft.knn.Pca.projectWithResidual(data, model)
      knnFinish(graft.knn.Pca.searchExact(spark, projected, model, queries, k = 10))
    }),

    // §2.24 SQ4 quantized two-stage search — the 2×-over-SQ8 compression
    // tier (half a byte per dimension): same τ two-pass scheme over
    // packed-nibble codes, exact full-precision rescore of the provably
    // complete candidate set — hash-matches the exact oracle on ANY data
    // (the 16-level reconstruction error widens τ, admitting more
    // candidates, never wrong results)
    "knn_quantized_sq4" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val q = graft.knn.Quantize.sq4(data)
      knnFinish(graft.knn.Quantize.searchExact(spark, q, queries, k = 10, codec = "sq4"))
    }),

    // SQ8 exact COSINE search: the τ-proof extended to cosine by the
    // normalize-then-L2 reduction (unit vectors: L2² = 2·cos_dist) —
    // hash-matches the exact cosine oracle on ANY data
    "knn_quantized_cosine" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 3)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      knnFinish(graft.knn.Quantize.searchExactCosine(spark, data, queries, k = 5))
    }),

    // SQ8 exact MANHATTAN search: the τ-proof with the L1 reconstruction
    // error ‖v−v̂‖₁ (|d₁(q,v) − d₁(q,v̂)| ≤ ‖v−v̂‖₁ by the triangle
    // inequality) — hash-matches the exact manhattan oracle on ANY data
    "knn_quantized_manhattan" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 3)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val q = graft.knn.Quantize.sq8(data)
      knnFinish(graft.knn.Quantize.searchExact(spark, q, queries, k = 5, metric = "manhattan"))
    }),

    // §2.24×25 OPQ∘SQ8 composition: the τ-bound exactness proof is
    // isometry-invariant, so the exact two-pass SQ8 search runs UNCHANGED
    // over OPQ-rotated coordinates (where the rotation balances the
    // per-dimension ranges the affine byte quantizer spans) and still
    // hash-matches the raw-space exact-kNN oracle. The τ scans rank in
    // rotated space; the displayed distances re-derive in ORIGINAL space
    // (one candidate-sized join) so the oracle comparison never sees
    // rotation float-rounding.
    "knn_quantized_opq" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val model = graft.knn.Opq.train(data, m = 8)
      val q = graft.knn.Quantize.sq8(graft.knn.Opq.rotate(data, model))
      val cand = graft.knn.Quantize
        .searchExact(spark, q, graft.knn.Opq.rotateQueries(model, queries), k = 10)
        .select("qid", "id")
      val rescored = cand
        .join(data, Seq("id"))
        .join(broadcast(queriesDf), Seq("qid"))
        .select(col("qid"), col("id"), vec.dist(col("vector"), col("qvec"), "euclidean").as("dist"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("dist"), col("id"))
      knnFinish(rescored.withColumn("rank", row_number().over(w)))
    }),

    // §2.24+ 1-bit binary quantization: 32× compression, pop-count Hamming
    // coarse scan + exact full-precision rescore. One bit per dimension
    // carries no τ reconstruction bound, so the row self-verifies both
    // regimes: overscan·k ≥ N must EQUAL brute force row-for-row (the
    // rescore-correctness arm), modest overscan is recall-gated against
    // the same exact result (0.86 measured at overscan 8, 0.94+ at 12, on the UNIFORM
    // sf embeddings — the adversarial geometry for sign sketches; the
    // clustered floor is 0.9+, gated in BinarySpec).
    "knn_binary" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val k = 10
      val thr = graft.knn.Quantize.binaryThresholds(data)
      val n = data.count().toInt
      val exact = Knn.bruteForce(data, queriesDf, k).select("qid", "id", "rank")
      val full = graft.knn.Quantize.searchBinary(spark, data, thr, queries, k,
        overscan = (n + k - 1) / k)
      val approx = graft.knn.Quantize.searchBinary(spark, data, thr, queries, k,
        overscan = 12)
      val sameFull = exact.join(full.select("qid", "id", "rank"), Seq("qid", "id", "rank"))
        .groupBy("qid").agg(count(lit(1)).as("n_same_exact"))
      approx.groupBy("qid").agg(count(lit(1)).as("n_results"),
          sum(when(col("rank") <= k, 1L).otherwise(0L)).as("__na"))
        .join(exact.join(approx.select("qid", "id"), Seq("qid", "id"))
          .groupBy("qid").agg(count(lit(1)).as("__overlap")), Seq("qid"))
        .join(sameFull, Seq("qid"))
        .select(col("qid"), lit(k.toLong).as("k"), col("n_results"),
          col("n_same_exact"),
          when(col("__overlap") >= k * 0.7, 1L).otherwise(0L).as("recall_ok"))
        .orderBy("qid")
    }),

    // §2.18+24 IVF×binary composition: probe nprobe/C of the cells AND
    // scan 8 bytes per 64 dims inside them — both pruning levers at once.
    // Same two-arm self-verification as knn_binary: full probe + full
    // overscan must EQUAL brute force row-for-row, the probed arm is
    // recall-gated (0.88 measured at nprobe=4/16, overscan=12 on the
    // uniform embeddings, per-query min 0.8; clustered floor 0.85+ in
    // BinarySpec).
    "ann_ivf_binary" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val k = 10
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids)
      val thr = graft.knn.Quantize.binaryThresholds(data)
      val n = data.count().toInt
      val exact = Knn.bruteForce(data, queriesDf, k).select("qid", "id", "rank")
      val full = graft.knn.Quantize.searchIvfBinary(spark, assigned, centroids, thr,
        queries, k, nprobe = 16, overscan = (n + k - 1) / k)
      val approx = graft.knn.Quantize.searchIvfBinary(spark, assigned, centroids, thr,
        queries, k, nprobe = 4, overscan = 12)
      val sameFull = exact.join(full.select("qid", "id", "rank"), Seq("qid", "id", "rank"))
        .groupBy("qid").agg(count(lit(1)).as("n_same_exact"))
      approx.groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(exact.join(approx.select("qid", "id"), Seq("qid", "id"))
          .groupBy("qid").agg(count(lit(1)).as("__overlap")), Seq("qid"))
        .join(sameFull, Seq("qid"))
        .select(col("qid"), lit(k.toLong).as("k"), col("n_results"),
          col("n_same_exact"),
          when(col("__overlap") >= k * 0.7, 1L).otherwise(0L).as("recall_ok"))
        .orderBy("qid")
    }),

    // §2.18+31 IVF×Matryoshka composition: probe nprobe/C of the cells
    // AND read only dPrefix/d of the vector bytes inside them (with a
    // materialized prefix column the coarse scan column-prunes to it) —
    // the two pruning levers compose the way SQ8/PQ/binary already do.
    // Two-arm self-verification: nprobe = C with coarseK >= N must EQUAL
    // brute force row-for-row (the saturation-exactness arm — both
    // "approximations" degenerate by construction), the probed arm is
    // recall-gated (uniform sf embeddings; clustered floor in
    // MatryoshkaSpec).
    "ann_ivf_matryoshka" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val k = 10
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids)
      val n = data.count().toInt
      val exact = Knn.bruteForce(data, queriesDf, k).select("qid", "id", "rank")
      val full = Knn.matryoshkaIvf(spark, assigned, centroids, queries, k,
        nprobe = 16, dPrefix = 16, coarseK = n)
      val approx = Knn.matryoshkaIvf(spark, assigned, centroids, queries, k,
        nprobe = 4, dPrefix = 16, coarseK = 150)
      // the DataFrame query side (per-cell cogroup on the prefix vectors,
      // nothing driver-resident) must match the array path row-for-row —
      // same kernels, same (dist, id) tie-break
      val approxDf = Knn.matryoshkaIvfDF(assigned, centroids, queriesDf, k,
        nprobe = 4, dPrefix = 16, coarseK = 150)
      val sameDf = approx.select(col("qid"), col("id"), col("rank"))
        .join(approxDf.select(col("qid"), col("id"), col("rank")),
          Seq("qid", "id", "rank"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_df"))
      val sameFull = exact.join(full.select("qid", "id", "rank"), Seq("qid", "id", "rank"))
        .groupBy("qid").agg(count(lit(1)).as("n_same_exact"))
      approx.groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(exact.join(approx.select("qid", "id"), Seq("qid", "id"))
          .groupBy("qid").agg(count(lit(1)).as("__overlap")), Seq("qid"))
        .join(sameFull, Seq("qid"))
        .join(sameDf, Seq("qid"))
        .select(col("qid"), lit(k.toLong).as("k"), col("n_results"),
          col("n_same_exact"), col("n_same_df"),
          when(col("__overlap") >= k * 0.7, 1L).otherwise(0L).as("recall_ok"))
        .orderBy("qid")
    }),

    // §2.13 tombstone handling: search skips deleted ids
    "knn_with_deletes" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val tombstones = e.filter(col("label") % 7 === 0).select(col("vec_id").as("id"))
      val data = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
        .join(broadcast(tombstones), Seq("id"), "left_anti")
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      knnFinish(Knn.bruteForce(data, queries, 5, "euclidean"))
    }),

    // §2.15 batch update/remove with partition routing
    "batch_upsert" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val base = e.select(col("vec_id"), col("label"), lit(1).as("version"))
      val updates = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), (col("label") + 1000).as("label"), lit(2).as("version"))
      Mutations.upsert(base, updates, "vec_id", "version")
        .select(col("vec_id"), col("label")).orderBy("vec_id")
    }),
    "batch_remove" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val removals = e.filter(col("vec_id") % 7 === 0).select("vec_id")
      Mutations.remove(e, removals, "vec_id")
        .select(col("vec_id"), col("label")).orderBy("vec_id")
    }),

    // §2.16 exact dedup (planted duplicate copies of doc_id < 50)
    "dedup_exact" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      docs.unionByName(copies)
        .groupBy(md5(col("text")).as("digest"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy("keep_id")
    }),

    // §2.19 multimodal: opaque binary payload + typed metadata, real
    // encode→decode plumbing (decode of actual media is stubbed — the
    // payload here is the vector codec output standing in for image bytes).
    "multimodal_meta" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val payload = vec.toBytes(col("embedding"))
      e.select(
          col("vec_id"),
          length(payload).cast("long").as("payload_len"),
          size(vec.fromBytes(payload)).cast("long").as("dim"),
          lit("embedding").as("kind"))
        .orderBy("vec_id")
    }),

    // §2.20 text analysis (single-pass TextStats kernel)
    "text_stats" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val s = graft.internal.SqlBridge.column(
        graft.functions.TextStats(graft.internal.SqlBridge.expression(col("text"))))
      docs.select(col("doc_id"), s.as("s"))
        .select(
          col("doc_id"),
          col("s.n_tokens").as("n_tokens"),
          col("s.n_chars").as("n_chars_calc"),
          round(col("s.punct_cnt").cast("double") / col("s.n_chars"), 4).as("punct_ratio"),
          round(col("s.stop_cnt").cast("double") / col("s.n_tokens"), 4).as("stopword_ratio"),
          round(col("s.tok_len_sum").cast("double") / col("s.n_tokens"), 4).as("avg_token_len"))
        .orderBy("doc_id")
    }),
    "fingerprint" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      docs.select(col("doc_id"), md5(lower(trim(col("text")))).as("fp")).orderBy("doc_id")
    }),

    // §2.8-12 HNSW: per-partition build + search + global merge, self-scored
    // in-query against the exact (oracle-proven) brute-force kNN — emits a
    // flat recall summary with a closed-form oracle, so the approximate
    // operator still carries a hard hash-checked CORRECTNESS row
    "hnsw_search" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val approx = HnswSpark.search(spark, data, queries, 10, "euclidean",
        HnswConfig(ef = 100), numPartitions = 4)
      recallSummary(approx, Knn.bruteForce(data, queriesDf, 10, "euclidean"), 10, minHits = 9)
    }),

    // §2.9 heuristic neighbor selection + candidate extension
    // (hnsw.go:369-417), recall-scored like hnsw_search — the non-default
    // selection path gets its own hash-checked row
    "hnsw_heuristic" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val approx = HnswSpark.search(spark, data, queries, 10, "euclidean",
        HnswConfig(ef = 100, heuristic = true, extendCandidates = true), numPartitions = 4)
      recallSummary(approx, Knn.bruteForce(data, queriesDf, 10, "euclidean"), 10, minHits = 9)
    }),

    // §2.3+8 HNSW under the cosine metric (space.go:64 through the graph
    // path), recall-scored against the exact cosine kNN
    "hnsw_cosine" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val approx = HnswSpark.search(spark, data, queries, 10, "cosine",
        HnswConfig(ef = 100), numPartitions = 4)
      recallSummary(approx, Knn.bruteForce(data, queriesDf, 10, "cosine"), 10, minHits = 9)
    }),

    // §2.8-13 filtered ANN: per-partition HNSW search constrained to ids
    // passing an arbitrary predicate (tombstone mechanics generalized;
    // filtered-out vertices stay as through-nodes), scored against the
    // exact kNN over the filtered data — closed-form oracle
    "hnsw_filtered" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val approx = HnswSpark.searchFiltered(spark, data, queries, 10, _ % 7 != 0,
        "euclidean", HnswConfig(ef = 100), numPartitions = 4, efOverride = 150)
      val exact = Knn.bruteForce(data.filter(col("id") % 7 =!= 0), queriesDf, 10, "euclidean")
      recallSummary(approx, exact, 10, minHits = 9)
    }),

    // §2.12+14 persisted-artifact search: build per-partition graphs, save
    // the binary artifacts (v2 format), search the SAVED graphs — the
    // reference's build-once/serve-many path (`hnsw_persistence.go` +
    // `dataset.go:390`), recall-scored with a closed-form oracle
    "hnsw_persisted" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("hnsw_persisted_q").toString
      HnswSpark.buildAndSave(spark, data, out, config = HnswConfig(ef = 100), numPartitions = 4)
      val approx = HnswSpark.searchSaved(spark, out, queries, 10)
      recallSummary(approx, Knn.bruteForce(data, queriesDf, 10, "euclidean"), 10, minHits = 9)
    }),

    // §2.8-14 HNSW with per-vertex metadata riding inside the graph
    // (reference Insert carries metadata, hnsw.go:80; results return it,
    // hnsw.go:242): metadata = UTF-8 label bytes, verified in-query against
    // the labels joined from the source table, plus the recall gate —
    // n_meta_mismatch must be 0 and the oracle is closed-form
    "hnsw_with_meta" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val data = e.select(col("vec_id").as("id"), col("embedding").as("vector"),
        encode(col("label").cast("string"), "UTF-8").as("metadata"))
      val queriesDf = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val res = HnswSpark.searchWithMeta(spark, data, queries, 10, "euclidean",
        HnswConfig(ef = 100), numPartitions = 4)
      val labels = e.select(col("vec_id").as("id"), col("label"))
      val exact = Knn.bruteForce(data.select("id", "vector"), queriesDf, 10, "euclidean")
        .select("qid", "id")
      res.join(broadcast(labels), Seq("id"))
        .withColumn("meta_bad",
          when(decode(col("metadata"), "UTF-8") === col("label").cast("string"), lit(0L))
            .otherwise(lit(1L)))
        .join(exact.withColumn("hit", lit(1L)), Seq("qid", "id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_results"), sum("meta_bad").as("n_meta_mismatch"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"), col("n_meta_mismatch"),
          when(col("n_hits") >= 9, lit(1L)).otherwise(lit(0L)).as("recall_ok"))
        .orderBy("qid")
    }),

    // DataSource V2: persisted HNSW partition graphs read back as a
    // TABLE (spark.read.format("hnsw")) — the relational escape hatch
    // for index artifacts (audits, migrations, re-embeds) with manifest
    // validation at planning and column pruning into the reader. The
    // oracle proves the binary format round-trips vectors byte-exactly:
    // norms computed from the re-read artifacts must equal norms DuckDB
    // computes from the original parquet.
    "hnsw_source" -> ((spark, dir) => {
      val (data, _) = knnInputs(spark, dir, 1)
      val out = java.nio.file.Files.createTempDirectory("hnsw_src_q").toString
      HnswSpark.buildAndSave(spark, data, out, config = HnswConfig(), numPartitions = 4)
      spark.read.format("hnsw").load(out)
        .select(col("id").as("vec_id"), size(col("vector")).cast("long").as("dim"),
          round(vec.norm(col("vector").cast("array<double>")), 4).as("norm"))
        .orderBy("vec_id")
    }),

    // DataSource V2 WRITE path: a declarative distributed index build —
    // df.write.format("hnsw") with RequiresDistributionAndOrdering (the
    // planner supplies the id-clustered, id-sorted layout; the manifest
    // commits LAST from task (name,len,crc) messages). Read back through
    // the DSv2 read path; the oracle proves the full write→read loop
    // round-trips vectors byte-exactly (HnswSparkSpec additionally pins
    // artifact-level CRC equality with the programmatic buildAndSave).
    "hnsw_write" -> ((spark, dir) => {
      val (data, _) = knnInputs(spark, dir, 1)
      val out = java.nio.file.Files.createTempDirectory("hnsw_wr_q").toString
      data.write.format("hnsw").option("partitions", 4).mode("overwrite").save(out)
      spark.read.format("hnsw").load(out)
        .select(col("id").as("vec_id"), size(col("vector")).cast("long").as("dim"),
          round(vec.norm(col("vector").cast("array<double>")), 4).as("norm"))
        .orderBy("vec_id")
    }),

    // §2.18 IVF-Flat ANN, self-scored two ways in one query:
    //  (a) full_probe_exact — at nprobe=C the probe covers every cell, so
    //      IVF provably degrades to exact kNN (same kernel, same (dist,id)
    //      tie-break): the nprobe=16 result must equal the brute-force
    //      top-k EXACTLY, on any data. Hard, data-independent.
    //  (b) recall_ok — the approximate nprobe=6 path must keep per-query
    //      recall ≥ 8/10 (raised from 6; measured minimum 9/10 at sf0.001/
    //      0.01/0.1, floor 1 below to absorb centroid-sum ulp drift across
    //      partition layouts). Training is honest now: k-means‖ seeding +
    //      2 Lloyd steps yields BALANCED cells (the old first-C seeds
    //      degenerated into a few giant cells, so nprobe=4 was secretly a
    //      near-full scan — high recall for the wrong reason). On this
    //      synthetic uniform corpus balanced cells spread true neighbors
    //      across cells, so the recall comes from spill=3 multi-assignment
    //      (each vector findable through its 3 nearest cells — the
    //      storage-for-recall lever; on real clustered corpora the same
    //      machinery needs spill=1-2 and a smaller probe fraction).
    "ann_ivf" -> ((spark, dir) => {
      val (data0, queriesDf) = knnInputs(spark, dir, 5)
      // cache: k-means|| seeding + Lloyd make ~10 passes over the vectors
      val data = data0.cache()
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 2, seeding = "kmeans||")
      // cache: searched three times (approx + full probe + candidate scans)
      val assigned = Ivf.assign(spark, data, centroids, spill = 3).cache()
      // the vector cache only serves the training passes — release it once
      // the assignment is materialized so it doesn't pin storage memory
      // for the rest of a multi-query session
      assigned.count()
      data.unpersist()
      val approx = Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = 6, dedup = true)
      val full = Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = 16, dedup = true)
      val exact = Knn.bruteForce(data, queriesDf, 10, "euclidean").select("qid", "id")
      val fullHits = full.select(col("qid"), col("id"))
        .join(exact, Seq("qid", "id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("full_probe_exact"))
      approx.select(col("qid"), col("id"))
        .join(exact.withColumn("hit", lit(1L)), Seq("qid", "id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_results"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .join(fullHits, Seq("qid"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"), col("full_probe_exact"),
          when(col("n_hits") >= 8, lit(1L)).otherwise(lit(0L)).as("recall_ok"))
        .orderBy("qid")
    }),

    // §2.18 RECALL-vs-NPROBE CURVE — the tuning diagnostic an IVF
    // deployment reads before picking its operating point: one train +
    // one cached assignment, then the SAME index searched at nprobe ∈
    // {1,2,4,8,16}. Three falsifiable gates per point, constant-table
    // oracle: every query returns k rows at every nprobe; recall is
    // NONDECREASING in nprobe (candidates at nprobe n+1 are a superset —
    // a violation means the probe ranking or the top-k merge is broken);
    // nprobe = C is exact (recall 1.0 vs the oracle-proven brute force).
    "ann_recall_curve" -> ((spark, dir) => {
      import spark.implicits._
      val (data0, queriesDf) = knnInputs(spark, dir, 5)
      val data = data0.cache()
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 2, seeding = "kmeans||")
      val assigned = Ivf.assign(spark, data, centroids, spill = 1).cache()
      assigned.count()
      data.unpersist()
      val exact = Knn.bruteForce(data0, queriesDf, 10, "euclidean")
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val nQ = queries.length
      val curve = Seq(1, 2, 4, 8, 16).map { nprobe =>
        val res = Ivf.search(spark, assigned, centroids, queries,
            k = 10, nprobe = nprobe, dedup = true)
          .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
        val hits = res.count(exact.contains)
        (nprobe.toLong, res.length, hits)
      }
      val rows = curve.zip((0L, 0, -1) +: curve).map { case ((np, n, h), (_, _, ph)) =>
        (np,
          (if (n == nQ * 10) 1L else 0L),
          (if (h >= ph) 1L else 0L),
          (if (np < 16 || h == nQ * 10) 1L else 0L))
      }
      rows.toDF("nprobe", "results_ok", "mono_ok", "full_exact_ok")
        .orderBy("nprobe")
    }),

    // §2.18+24 IVF×SQ8 — the 100 TB configuration: probe nprobe/C of the
    // data AND scan 1 byte/dim inside the probed cells. Self-verifying with
    // a provable arm: the SQ8 τ-bound guarantees exactness WITHIN the probed
    // subset, so the result must equal full-precision IVF at the same
    // nprobe row-for-row (same centroids, same probe ranking, same
    // tie-break) — n_same_as_ivf is 10 on any data, and the oracle is a
    // constant table.
    "ann_ivf_sq8" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids).cache()
      val q8 = graft.knn.Quantize.sq8(assigned)
      val sq = graft.knn.Quantize.searchIvfSq8(spark, q8, centroids, queries, k = 10, nprobe = 4)
      val ivf = Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = 4)
      val same = sq.select(col("qid"), col("id"))
        .join(ivf.select(col("qid"), col("id")), Seq("qid", "id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_as_ivf"))
      sq.select(col("qid"), col("id"))
        .groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(same, Seq("qid"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"), col("n_same_as_ivf"))
        .orderBy("qid")
    }),

    // §2.18+24 IVF×SQ4 — the composition arm of the 4-bit tier: probe
    // nprobe/C of the data AND scan half a byte per dim inside the probed
    // cells. Self-verifying like ann_ivf_sq8: the τ-bound guarantees
    // exactness WITHIN the probed subset, so the result must equal
    // full-precision IVF at the same nprobe row-for-row — n_same_as_ivf
    // is 10 on any data, and the oracle is a constant table.
    "ann_ivf_sq4" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids).cache()
      val q4 = graft.knn.Quantize.sq4(assigned)
      val sq = graft.knn.Quantize.searchIvfSq4(spark, q4, centroids, queries, k = 10, nprobe = 4)
      val ivf = Ivf.search(spark, assigned, centroids, queries, k = 10, nprobe = 4)
      val same = sq.select(col("qid"), col("id"))
        .join(ivf.select(col("qid"), col("id")), Seq("qid", "id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_as_ivf"))
      sq.select(col("qid"), col("id"))
        .groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(same, Seq("qid"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"), col("n_same_as_ivf"))
        .orderBy("qid")
    }),

    // §2.18+24 IVF×PQ — the 16-32× compression tier past SQ8 (Jégou et al.
    // 2011): m=8 bytes per dim-64 vector, per-subspace codebooks, ADC
    // lookup-table scans inside the probed cells, exact rescore of the
    // k·overscan coarse survivors. PQ has no τ-exactness bound (direction
    // is lost, not just magnitude), so the row is recall-gated against the
    // oracle-proven exact kNN like the other approximate entries.
    "ann_ivf_pq" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      // first-C seeding + capped sample: 8 sub-trainings of the k-means||
      // seeding passes over the full data would dominate the row's cost;
      // Lloyd from first-C seeds on a deterministic 2k-row sample reaches
      // the recall gate at a fraction of it (the Scala API defaults to
      // kmeans|| + 100k sample for production training)
      val cb = graft.knn.Pq.train(spark, data, m = 8, ksub = 64, iterations = 2,
        sampleCap = 2000, seeding = "first")
      val encoded = graft.knn.Pq.encode(Ivf.assign(spark, data, centroids), cb)
      val approx = graft.knn.Pq.searchIvfPq(spark, encoded, centroids, cb, queries,
        k = 10, nprobe = 8, overscan = 12)
      val exact = Knn.bruteForce(data, queriesDf, 10, "euclidean")
      // DataFrame query-side arm (per-cell cogroup, no driver query
      // array): identical LUT math and tie-break, so it must reproduce
      // the driver-array result ROW-FOR-ROW — n_same_df is k on any data
      val dfArm = graft.knn.Pq.searchIvfPqDF(encoded, centroids, cb, queriesDf,
        k = 10, nprobe = 8, overscan = 12)
      val sameDf = dfArm.select(col("qid"), col("id"), col("rank"))
        .join(approx.select(col("qid"), col("id"), col("rank")), Seq("qid", "id", "rank"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_df"))
      recallSummary(approx, exact, 10, minHits = 8)
        .join(sameDf, Seq("qid"))
        .select(col("qid"), col("k"), col("n_results"), col("recall_ok"), col("n_same_df"))
        .orderBy("qid")
    }),

    // §2.18+24 IVFADC — PQ over RESIDUALS (Jégou et al. 2011 §IV.A): the
    // codebooks quantize vector − centroid(cell), buying a finer grid
    // from the same 8 bytes/vector, with a per-(query, probed cell)
    // lookup table at scan time. The persisted layout records the
    // encoding and searchSavedIvfPq self-dispatches (a raw-ADC scan over
    // residual codes would rank garbage) — that save/dispatch round-trip
    // is equality-gated in QuantizeSpec; this row prices the scan.
    "ann_ivf_pq_residual" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids)
      // ksub=32 / 1 Lloyd step / 2k-row training sample: residuals are
      // small and centered, so a coarser codebook than the raw-PQ row's
      // 64 still clears the recall gate with margin — training on a
      // deterministic sample IS the documented corpus-scale path (the
      // sampleCap default, just sized to this row)
      val cb = graft.knn.Pq.trainResidual(spark, assigned, centroids, m = 8, ksub = 32,
        iterations = 1, sampleCap = 2000, seeding = "first")
      val encoded = graft.knn.Pq.encodeResidual(assigned, centroids, cb)
      val approx = graft.knn.Pq.searchIvfPqResidual(spark, encoded, centroids, cb, queries,
        k = 10, nprobe = 8, overscan = 12)
      val exact = Knn.bruteForce(data, queriesDf, 10, "euclidean")
      recallSummary(approx, exact, 10, minHits = 8)
    }),

    // §2.18+24 OPQ×IVFADC (Ge et al. 2013, parametric): the PCA-derived
    // rotation with balanced eigenvalue allocation runs BEFORE the IVF+PQ
    // stack, spreading the corpus's variance evenly across the m codebook
    // subspaces — same bytes/vector, lower quantization error (gated in
    // OpqSpec on a planted anisotropic spectrum). The rotation is an
    // isometry, so the row carries a PROVABLE arm alongside the recall
    // gate: exact kNN in rotated coordinates must equal exact kNN in
    // original coordinates ROW-FOR-ROW (n_same_rot = k on any data), and
    // the oracle stays a constant table.
    "ann_ivf_opq" -> ((spark, dir) => {
      val (data0, queriesDf) = knnInputs(spark, dir, 5)
      val data = data0.cache()
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val model = graft.knn.Opq.train(data, m = 8)
      val rotated = graft.knn.Opq.rotate(data, model).cache()
      val rq = graft.knn.Opq.rotateQueries(model, queries)
      val centroids = Ivf.train(spark, rotated, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, rotated, centroids)
      val cb = graft.knn.Pq.trainResidual(spark, assigned, centroids, m = 8, ksub = 32,
        iterations = 1, sampleCap = 2000, seeding = "first")
      val encoded = graft.knn.Pq.encodeResidual(assigned, centroids, cb)
      val approx = graft.knn.Pq.searchIvfPqResidual(spark, encoded, centroids, cb, rq,
        k = 10, nprobe = 8, overscan = 12)
      val exact = Knn.bruteForce(data, queriesDf, 10, "euclidean")
      // isometry arm: brute force over rotated corpus with rotated queries
      val rqDf = queriesDf.select(col("qid"),
        graft.knn.Opq.rotateCol(model, col("qvec")).as("qvec"))
      val exactRot = Knn.bruteForce(rotated, rqDf, 10, "euclidean")
      val sameRot = exactRot.select(col("qid"), col("id"), col("rank"))
        .join(exact.select(col("qid"), col("id"), col("rank")),
          Seq("qid", "id", "rank"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_rot"))
      recallSummary(approx, exact, 10, minHits = 8)
        .join(sameRot, Seq("qid"))
        .select(col("qid"), col("k"), col("n_results"), col("recall_ok"), col("n_same_rot"))
        .orderBy("qid")
    }),

    // §2.18 attribute-FILTERED search on a SAVED index (tenant/date/label
    // scoping — every production vector store's bread and butter). The
    // predicate applies PRE-search: non-matching vectors never enter
    // candidate generation, so the result is the top-k of the matching
    // subset, not a (<k-row) post-filter of the unfiltered top-k. At
    // nprobe=C the probe covers every cell, making the row provably the
    // exact filtered kNN — the oracle is the brute-force WHERE query.
    "ann_ivf_filtered" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids)
      val out = java.nio.file.Files.createTempDirectory("ivf_filtered_q").toString + "/idx"
      Ivf.save(spark, assigned, centroids, out, metric = "euclidean")
      val res = Ivf.searchSavedFiltered(spark, out, queries, k = 10, nprobe = 16,
        predicate = col("id") % 3 === 0)
      knnFinish(res)
    }),

    // §2.17 MinHash+LSH near-dedup with exact-Jaccard verify (planted
    // near-duplicate copies; LSH banding recall is exact on them, so the
    // all-pairs oracle matches). The default skew cap (4096) cannot bite
    // here at any SF: planted dup classes are 40 docs and unrelated docs
    // share a band hash only by 64-bit collision — the oracle's all-pairs
    // semantics hold. In a corpus with >cap boilerplate buckets the guard
    // intentionally trades those buckets' pair completeness for bounded
    // C(n,2) growth (star pairs remain Jaccard-verified, so no false
    // pairs, only possible misses there).
    "dedup_minhash_lsh" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
      Dedup.minhashLshPairs(docs.unionByName(copies), threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // §2.17 INCREMENTAL near-dup — the monthly-recrawl shape: the arriving
    // batch (40 prefix near-copies + 20 byte-identical re-ingests under new
    // ids) dedups against the EXISTING corpus through the bipartite band
    // join; within-batch and within-corpus pairs are never generated. The
    // oracle is the closed-form new x corpus cross join at the same
    // threshold.
    "dedup_incremental" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val newBatch = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      Dedup.minhashLshPairsAgainst(newBatch, docs, threshold = 0.8)
        .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("new_id", "corpus_id")
    }),

    // §2.17 EDIT-DISTANCE-VERIFIED near-dup (the CodeParrot/AlphaCode-style
    // two-stage fuzzy dedup): MinHash-LSH candidates at the 0.8 Jaccard
    // floor, then an EXACT Levenshtein-similarity gate at 0.9 computed only
    // on the bounded candidate set. The planted prefix copies gate
    // DIFFERENTIALLY (a 20-char prefix on a short doc fails 0.9; on a long
    // doc passes), so the oracle proves the edit gate does real work on top
    // of the Jaccard stage. 1 - lev/maxlen is the same integer-ratio double
    // on both engines (ASCII corpus: Spark codepoint DP == DuckDB byte DP).
    "dedup_edit" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
      Dedup.editVerifiedPairs(docs.unionByName(copies),
          jaccardFloor = 0.8, minEditSim = 0.9)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 4).as("jaccard"),
          round(col("edit_sim"), 4).as("edit_sim"))
        .orderBy("doc_a", "doc_b")
    }),

    // §2.17+21 DISK-STATE streaming near-dup: the same planted corpus
    // replayed through nearDupSink's foreachBatch — each doc's shingle set
    // held ONCE in a manifested delta table (vs the state-store form's
    // bands× executor-memory footprint), candidates from a bucket-key
    // join against the accumulated tables, O(batch) appends. The
    // converged pair set must equal the batch operator's, so the row
    // shares dedup_minhash_lsh's all-pairs DuckDB oracle verbatim.
    "stream_neardup_sink" -> ((spark, dir) => {
      // 2000-doc slice: the row prices the disk-state PROTOCOL (manifested
      // accumulation, bucket-key join, batch-set convergence); the batch
      // row prices the kernels at full size and BenchScale at 100k docs
      val docs = t(spark, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 2000)
      val copies = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
      val sinkDir = java.nio.file.Files.createTempDirectory("stream_nds_idx").toString
      val sink = graft.streaming.StreamingOps.nearDupSink(spark, sinkDir, threshold = 0.8)
      val copiesStream = streamTable(spark, dir, "documents")
        .filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
      // originals land as a direct batch (the sink is foreachBatch-shaped
      // either way); the copies replay through a real file stream so the
      // accumulated disk tables must carry the earlier members
      withStreamParts(spark)(sink(docs.toDF(), 0L))
      runToCompletion(spark, copiesStream, "stream_nds_")(
        _.foreachBatch((b: DataFrame, id: Long) => sink(b, id + 1L)))
      graft.streaming.StreamingOps.nearDupSinkPairs(spark, sinkDir)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // §2.21+30 STREAMING heavy hitters: the mergeable Misra–Gries summary
    // maintained across micro-batches (one m-counter sketch + O(batch)
    // corpus append per batch, no state store), read back with the same
    // exact-recount-and-prove contract. Half the corpus lands as a direct
    // batch, the other half replays through a real file stream — the
    // folded sketch + accumulated corpus must converge to the BATCH
    // operator's answer, so the oracle is the identical exact top-k SQL.
    "stream_heavy_hitters" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val sinkDir = java.nio.file.Files.createTempDirectory("stream_hh_idx").toString
      val sink = graft.streaming.StreamingOps.heavyHittersSink(spark, sinkDir, n = 3, m = 16384)
      val tail = streamTable(spark, dir, "documents")
        .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
      withStreamParts(spark)(sink(docs.filter(col("doc_id") % 2 === 0), 0L))
      runToCompletion(spark, tail, "stream_hh_")(
        _.foreachBatch((b: DataFrame, id: Long) => sink(b, id + 1L)))
      graft.streaming.StreamingOps.heavyHittersTopK(spark, sinkDir, k = 10)
        .select(col("gram"), col("n_count"), col("rank").cast("long").as("rank"))
        .orderBy("rank")
    }),

    // §2.21+30 the GROUPED streaming form — per-(batch, group) mergeable
    // sketches (groups × m counters), keyed fold at read, per-group
    // exact-or-throw recount: the C4/Gopher per-source corpus report
    // maintained online. Converges to the batch grouped operator, so the
    // oracle is the identical per-group exact top-k SQL.
    "stream_heavy_hitters_grouped" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "source", "text")
      val sinkDir = java.nio.file.Files.createTempDirectory("stream_hhg_idx").toString
      val sink = graft.streaming.StreamingOps.heavyHittersSinkByGroup(
        spark, sinkDir, n = 3, m = 16384, groupCol = "source")
      val tail = streamTable(spark, dir, "documents")
        .filter(col("doc_id") % 2 === 1).select("doc_id", "source", "text")
      withStreamParts(spark)(sink(docs.filter(col("doc_id") % 2 === 0), 0L))
      runToCompletion(spark, tail, "stream_hhg_")(
        _.foreachBatch((b: DataFrame, id: Long) => sink(b, id + 1L)))
      graft.streaming.StreamingOps.heavyHittersTopKByGroup(spark, sinkDir, k = 5)
        .select(col("grp").as("source"), col("gram"), col("n_count"),
          col("rank").cast("long").as("rank"))
        .orderBy("source", "rank")
    }),

    // §2.17+21 STREAMING cluster resolution: the verified pair set lands
    // as the first sink batch, then two LATE BRIDGE edges arrive through
    // a real file stream — (0,1) and (2,3) merge four already-resolved
    // copy components pairwise ACROSS the batch boundary (the exact
    // cross-batch-merge case batch re-resolution exists to avoid; the
    // spec additionally replays 3-batch splits with chained merges). The
    // union-find-by-min forest sink appends O(batch) parent rows per
    // batch — merging two clusters writes ONE root edge, never a table
    // rewrite — and the read-side resolution must equal batch
    // connectedComponents over the full pair set, so the oracle is
    // dedup_groups' recursive-CTE closure with the bridge edges unioned
    // in.
    "stream_dedup_groups" -> ((spark, dir) => {
      import spark.implicits._
      // 2000-doc slice like stream_neardup_sink: the row prices the
      // incremental-resolution PROTOCOL; dedup_groups prices the batch
      // operator at full size
      val docs = t(spark, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 2000)
      val copies = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
      val pairs = Dedup.minhashLshPairs(docs.unionByName(copies), threshold = 0.8)
        .select("doc_a", "doc_b").persist()
      val sinkDir = java.nio.file.Files.createTempDirectory("stream_dg_idx").toString
      val sink = graft.streaming.StreamingOps.dedupGroupsSink(spark, sinkDir)
      // the direct batch also runs at the stream partition count — the
      // sink's per-batch shuffles are frontier-sized, not corpus-sized
      withStreamParts(spark) {
        sink(pairs.toDF(), 0L)
      }
      pairs.unpersist()
      val bridgeDir = java.nio.file.Files.createTempDirectory("stream_dg_bridge").toString
      val bridges = Seq((0L, 1L), (2L, 3L)).toDF("doc_a", "doc_b")
      bridges.coalesce(1).write.mode("overwrite").parquet(bridgeDir)
      val bridgeStream = spark.readStream.schema(bridges.schema).parquet(bridgeDir)
      runToCompletion(spark, bridgeStream, "stream_dg_")(
        _.foreachBatch((b: DataFrame, id: Long) => sink(b, id + 1L)))
      graft.streaming.StreamingOps.dedupGroupsSinkGroups(spark, sinkDir)
        .select(col("id").as("doc_id"), col("group_id"))
        .orderBy("doc_id")
    }),

    // §2.17 dedup GROUP resolution: the same planted LSH pair set resolved
    // to clusters via distributed connected components (min-label
    // propagation) — pairs are evidence, clusters are what a curation
    // pipeline deletes by. Oracle: DuckDB recursive-CTE transitive closure
    // over the identical all-pairs-verified pair set.
    "dedup_groups" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
      val pairs = Dedup.minhashLshPairs(docs.unionByName(copies), threshold = 0.8)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("group_id"))
        .orderBy("doc_id")
    }),

    // Quality-aware representative selection: same near-dup groups, but
    // the keeper is the highest-scoring member (here: token count — the
    // planted copies carry a 3-token prefix, so the COPY outranks its
    // source and wins the keep flag, unlike min-id resolution). Oracle:
    // the dedup_groups recursive-CTE closure + row_number argmax.
    "dedup_groups_best" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
      val all = docs.unionByName(copies)
      val pairs = Dedup.minhashLshPairs(all, threshold = 0.8)
      val groups = Dedup.connectedComponents(pairs)
      val scores = all.select(col("doc_id").as("id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("score"))
      Dedup.keepBestPerGroup(groups, scores)
        .select(col("id").as("doc_id"), col("group_id"),
          col("score").as("n_tok"), col("keep"))
        .orderBy("doc_id")
    }),

    // §2.17 n-gram Jaccard pairs within a bounded bucket (same source).
    // Adaptive dispatch: a count-only stats pass picks the grouped
    // per-bucket pass here (20 modest source buckets — measured faster
    // than the self-join's per-pair row copies) and the join formulation
    // for few/huge buckets — identical output either way.
    "ngram_jaccard" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      Dedup.ngramJaccardPairsAdaptive(docs, bucketCol = "source")
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // §2.17-adjacent benchmark DECONTAMINATION: training docs sharing >= 8
    // distinct 3-gram shingles with any benchmark doc (every 200th doc
    // plays the benchmark, plus planted part-quotes of 5 bench docs).
    // Benchmark side broadcasts; the corpus never shuffles.
    "decontaminate" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      // planted contamination: docs quoting the first ~60 tokens of a
      // benchmark item inside otherwise-unique framing text
      val quotes = bench.filter(col("bench_id") < 1000)
        .select((col("bench_id") + 300000).as("doc_id"),
          concat(lit("assistant said "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 60)),
            lit(" and that was the quote")).as("text"))
      Dedup.contaminationPairs(docs.unionByName(quotes), bench, minShared = 8)
        .select(col("doc_id"), col("bench_id"), col("n_shared"))
        .orderBy("doc_id", "bench_id")
    }),

    // Contiguous 13-GRAM decontamination — the standard exact-quote
    // criterion (one shared 13-token contiguous run = one shared 13-token
    // shingle): planted docs quote a 20-token contiguous span of a
    // benchmark item inside unique framing (8 shared 13-grams each); the
    // diffuse-3-gram criterion above would need far more overlap to fire.
    // Same broadcast shape: the corpus never shuffles.
    "decontaminate_13gram" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      val quotes = bench.filter(col("bench_id") < 1000)
        .select((col("bench_id") + 400000).as("doc_id"),
          concat(lit("as the eval put it "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 10, 20)),
            lit(" end of citation")).as("text"))
      Dedup.contaminationPairs(docs.unionByName(quotes), bench, minShared = 1, n = 13)
        .select(col("doc_id"), col("bench_id"), col("n_shared"))
        .orderBy("doc_id", "bench_id")
    }),

    // Contamination RATE report — the audit number (GPT-3 appendix-C
    // shape): per EVAL document, the fraction of its distinct 13-gram
    // shingles found anywhere in the training corpus. Eval items are a
    // 20-token contiguous quote of a corpus doc plus a held-out suffix,
    // so fully-interior shingles match and suffix-crossing ones don't —
    // rates land strictly between 0 and 1. Corpus streams once through
    // the broadcast bench-shingle gate; nothing corpus-sized shuffles.
    "decontaminate_rate" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 23 === 0)
        .select(col("doc_id").as("bench_id"),
          concat(concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 5, 20)),
            lit(" eval item "), col("doc_id").cast("string"),
            lit(" held out suffix")).as("text"))
      Dedup.contaminationRate(docs, bench, n = 13)
        .select(col("bench_id"), col("n_shingles").cast("long").as("n_shingles"),
          col("n_matched").cast("long").as("n_matched"),
          round(col("rate"), 4).as("rate"))
        .orderBy("bench_id")
    }),

    // 13-gram decontamination through the BLOOM pre-gate — the large-
    // benchmark-suite configuration: the corpus side probes a ~10-bit/
    // element Bloom filter first and only survivors reach the exact
    // benchmark join, which removes the false positives. Output must be
    // IDENTICAL to the exact formulation (same planted quotes, +500000
    // ids), so the oracle is the same transitive criterion.
    "decontaminate_bloom" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      val quotes = bench.filter(col("bench_id") < 1000)
        .select((col("bench_id") + 500000).as("doc_id"),
          concat(lit("as the eval put it "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 10, 20)),
            lit(" end of citation")).as("text"))
      Dedup.contaminationPairsBloom(docs.unionByName(quotes), bench, minShared = 1, n = 13)
        .select(col("doc_id"), col("bench_id"), col("n_shared"))
        .orderBy("doc_id", "bench_id")
    }),

    // STREAMING decontamination — the ingestion-time form: arriving docs
    // are flagged against the broadcast benchmark BEFORE landing in the
    // corpus. Stateless stream-static join (sorted-set intersect kernel,
    // no state store, no watermark); the planted quoting docs (+700000)
    // arrive on the stream and the converged output must equal the batch
    // operator's — same transitive criterion as decontaminate_13gram.
    "stream_decontaminate" -> ((spark, dir) => {
      val src = streamTable(spark, dir, "documents")
      val bench = t(spark, dir, "documents")
        .filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      val docs = src.select(explode(when(col("doc_id") % 200 === 0 && col("doc_id") < 1000,
            array(struct(col("doc_id"), col("text")),
              struct((col("doc_id") + 700000).as("doc_id"),
                concat(lit("as the eval put it "),
                  concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 10, 20)),
                  lit(" end of citation")).as("text"))))
          .otherwise(array(struct(col("doc_id"), col("text"))))).as("d"))
        .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
      val flagged = graft.streaming.StreamingOps.contaminationStream(
        docs, bench, minShared = 1, n = 13)
      runStream(spark, flagged, "append", "stream_dc_")
        .select(col("doc_id"), col("bench_id"), col("n_shared").cast("long").as("n_shared"))
        .orderBy("doc_id", "bench_id")
    }),

    // Span-level EXACT substring dedup (Lee et al. 2022 ExactSubstr at
    // n=50): flag token spans occurring verbatim more than once in the
    // corpus — curation cuts the SPAN, not the document. Planted twins
    // (+800000) quote a 60-token run of their original inside unique
    // framing, so the 11 shared 50-grams (and nothing else) must flag in
    // BOTH docs at the right positions.
    "span_dedup" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val quotes = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(lit("verbatim quote follows "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 60)),
            lit(" end quote marker")).as("text"))
      Dedup.duplicateSpans(docs.unionByName(quotes), n = 50)
        .orderBy("doc_id", "pos")
    }),

    // span_dedup anchors merged into MAXIMAL duplicated regions
    // (variable-length ExactSubstr reporting): the planted 60-token
    // quotes must surface as single [start, start+60) regions — in the
    // twin offset by its 3-token preamble — not as 11 overlapping
    // 50-gram anchors. Oracle: the span_dedup SQL plus the identical
    // gaps-and-islands merge and token-count end cap.
    "span_dedup_maximal" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val quotes = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(lit("verbatim quote follows "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 60)),
            lit(" end quote marker")).as("text"))
      Dedup.maximalDuplicateSpans(docs.unionByName(quotes), n = 50)
        .orderBy("doc_id", "span_start")
    }),

    // span_dedup APPLIED: rebuild documents with every duplicated-span
    // token removed (the Lee et al. remediation — cut the span, keep the
    // doc). Planted twins (+900000) quote a 60-token run; both the twin
    // AND the original lose exactly the covered tokens, everything else
    // survives verbatim (normalized token stream).
    "span_dedup_clean" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val quotes = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(lit("verbatim quote follows "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 60)),
            lit(" end quote marker")).as("text"))
      Dedup.removeDuplicateSpans(docs.unionByName(quotes), n = 50)
        .orderBy("doc_id")
    }),

    // Lee et al. KEEP-ONE remediation: for every duplicated 50-gram the
    // lexicographically-first occurrence survives as the canonical copy.
    // Same fixture as span_dedup_clean, so the source docs (lowest
    // doc_ids) keep their text untouched while the planted quote twins
    // (+900000) lose exactly the quoted middle — the corpus retains each
    // duplicated passage once. Oracle: string 50-grams, canonical chosen
    // by row_number() over (doc_id, pos), mask-cut of rn > 1 occurrences.
    "span_dedup_keep_one" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val quotes = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(lit("verbatim quote follows "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 60)),
            lit(" end quote marker")).as("text"))
      Dedup.removeDuplicateSpansKeepFirst(docs.unionByName(quotes), n = 50)
        .orderBy("doc_id")
    }),

    // CROSS-DOCUMENT maximal-span reporting (the two-stage anchor-extend
    // ExactSubstr form): planted twins (+850000) carry a 3-token preamble
    // then up to 60 tokens quoted from source positions [5, 65) — the
    // shared run STRADDLES the n-gram grid differently in each doc
    // (source offset 5, twin offset 3), and stride=4 means the detected
    // anchors start up to 3 tokens inside the true run, so the
    // token-by-token extension stage must recover the exact bounds. The
    // oracle derives the maximal shared runs independently from raw text
    // (string 20-grams at EVERY position, merged per (pair, diagonal) by
    // gaps-and-islands), filtered to the guaranteed-detection length
    // n + stride - 1 = 23 on both sides.
    "span_dedup_crossdoc" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val quotes = docs.filter(col("doc_id") < 15)
        .select((col("doc_id") + 850000).as("doc_id"),
          concat(lit("q0x q1x q2x "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 6, 60)),
            lit(" zq9x zq8x")).as("text"))
      Dedup.crossDocMaximalSpans(docs.unionByName(quotes), n = 20, stride = 4,
          maxExtend = 100)
        .orderBy("doc_a", "doc_b", "a_start", "b_start")
    }),

    // DECONTAMINATION FORENSICS: contaminationSpans = crossDocMaximalSpans
    // across two tables — WHERE the benchmark text sits inside each
    // corpus doc (exact positions both sides), not just which docs
    // overlap. Planted quotes (+750000) carry bench positions [9, 45)
    // at quote offset 3 (grid straddle); bench docs also live in the
    // corpus, so their full-length self-overlap rows appear by design.
    // Oracle: independent raw-text derivation (string 13-grams, islands
    // per (pair, diagonal)), both sides filtered to n + stride - 1 = 15.
    "decontaminate_spans" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      val quotes = bench
        .select((col("bench_id") + 750000).as("doc_id"),
          concat(lit("leading quote intro "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 10, 36)),
            lit(" closing mark")).as("text"))
      Dedup.contaminationSpans(docs.unionByName(quotes), bench, n = 13, stride = 3,
          maxExtend = 100)
        .orderBy("doc_id", "bench_id", "d_start", "b_start")
    }),

    // DECONTAMINATION APPLIED: removeContaminationSpans cuts every corpus
    // token covered by a reported benchmark-overlap span and reassembles
    // the doc — same fixture as decontaminate_spans, so the planted
    // quotes lose exactly their quoted middles and the bench docs
    // present in the corpus lose themselves (full self-overlap IS
    // contamination). The oracle re-derives the guaranteed-detection
    // regions from raw text and applies the identical mask-cut in SQL.
    "decontaminate_spans_clean" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      val quotes = bench
        .select((col("bench_id") + 750000).as("doc_id"),
          concat(lit("leading quote intro "),
            concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 10, 36)),
            lit(" closing mark")).as("text"))
      Dedup.removeContaminationSpans(docs.unionByName(quotes), bench, n = 13,
          stride = 3, maxExtend = 100)
        .orderBy("doc_id")
    }),

    // §2.17 SimHash fingerprints (md5-derived token hashes, 60 bits)
    "dedup_simhash" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      docs.select(col("doc_id"), TextAnalysis.simhash(col("text")).as("simhash"))
        .orderBy("doc_id")
    }),

    // §2.17 PERCEPTUAL IMAGE near-dedup (dHash + Hamming-banded LSH): per
    // row a deterministic 16×12 RGB image synthesizes from the
    // embedding's float bits (pixel range [48,175] so a +20 brightness
    // shift can't clip), REAL PNG payloads encode in executor tasks, and
    // two planted near-duplicate classes must be recovered by the banded
    // pipeline: ids 0-24 get a +20-brightness-shifted copy (id+10000 —
    // the BT.601 luma weights sum to 256, so every gradient bit is
    // invariant: hamming 0), ids 25-49 a decode→re-encode copy (id+20000
    // — PNG is lossless: hamming 0). Both classes also pass the
    // mean-centered pixel verify at tolerance 0 (the shift cancels
    // against the mean). Unplanted base images are float-bit noise —
    // P(two 64-bit gradient fields within hamming 3) ≈ 2e-15, so the
    // pair set is EXACTLY the 50 planted pairs and the oracle is the
    // closed-form constant table.
    "dedup_image_phash" -> ((spark, dir) => {
      graft.dedup.ImageDedup.imageNearDupPairs(spark, imagePhashFixture(spark, dir),
          maxDist = 3, bands = 4, pixTol = 0)
        .orderBy("id_a", "id_b")
    }),

    // §2.17+21 STREAMING media near-dedup: the SAME planted image
    // fixture replayed through mediaPhashSink — originals land as a
    // direct batch, the planted copies' PAYLOADS arrive through a real
    // file stream and hash inside foreachBatch (the ingestion shape: the
    // decode scan runs per micro-batch; only (id, 8-byte hash) rows land
    // in sink state). The accumulated banded tables must pair the late
    // copies against members from the earlier batch, so the converged
    // pair set is exactly dedup_image_phash's pairs modulo its extra
    // pixel-verify stage — for the planted fixture both gates pass, and
    // the oracle is the identical 50-pair constant table.
    "stream_image_phash" -> ((spark, dir) => {
      import spark.implicits._
      val fixture = imagePhashFixture(spark, dir).persist()
      val sinkDir = java.nio.file.Files.createTempDirectory("stream_ip_idx").toString
      val payloadDir = java.nio.file.Files.createTempDirectory("stream_ip_src").toString
      val sink = graft.streaming.StreamingOps.mediaPhashSink(spark, sinkDir,
        maxDist = 3, bands = 4)
      val copies = fixture.filter(col("id") >= 10000)
      copies.coalesce(1).write.mode("overwrite").parquet(payloadDir)
      withStreamParts(spark)(
        sink(graft.dedup.ImageDedup.dHashes(spark, fixture.filter(col("id") < 10000)), 0L))
      runToCompletion(spark, spark.readStream.schema(copies.schema).parquet(payloadDir),
          "stream_ip_")(
        _.foreachBatch((b: DataFrame, id: Long) =>
          sink(graft.dedup.ImageDedup.dHashes(spark, b), id + 1L)))
      fixture.unpersist()
      graft.streaming.StreamingOps.mediaPhashSinkPairs(spark, sinkDir)
        .orderBy("id_a", "id_b")
    }),

    // §2.17 PERCEPTUAL VIDEO near-dedup (temporal-mean dHash + the
    // shared Hamming-banded core): per row a REAL 4-frame 16×12 APNG
    // encodes in executor tasks (frames from the embedding's float
    // bits, pixel range [48,175]); planted classes: ids 0-24 a copy with
    // +20 brightness on EVERY frame (id+10000 — the per-pixel frame
    // average shifts exactly by 20 since floor((sum+4·20)/4) =
    // floor(sum/4)+20, so every gradient bit is invariant: hamming 0),
    // ids 25-49 a decode→re-encode copy (id+20000 — APNG is lossless:
    // hamming 0). Pair set = exactly the 50 planted pairs (closed-form
    // constant oracle) — the clip tier completing the image/audio
    // family.
    "dedup_video_phash" -> ((spark, dir) => {
      import spark.implicits._
      val e = t(spark, dir, "embeddings")
      val clips = e.filter(col("vec_id") < 150)
        .select(col("vec_id"), col("embedding").cast("array<float>"))
        .as[(Long, Array[Float])]
        .mapPartitions { rows =>
          rows.flatMap { case (id, emb) =>
            val mm = graft.multimodal.Multimodal
            val frames = (0 until 4).map { f =>
              Array.tabulate(16 * 12 * 3) { i =>
                val bits = java.lang.Float.floatToIntBits(emb((i + f * 7) % emb.length))
                val v = (bits >>> (8 * ((i / emb.length + f) % 4))) & 0xff
                (48 + (v & 0x7f)).toByte // [48, 175]: +20 shift headroom
              }
            }
            val apng = mm.encodeApng(frames, 16, 12)
            if (id < 25) {
              val shifted = frames.map(_.map(b => ((b & 0xff) + 20).toByte))
              Seq((id, apng), (id + 10000, mm.encodeApng(shifted, 16, 12)))
            } else if (id < 50) {
              val re = mm.ApngDecoder.decodeFrames(apng, 4)
              Seq((id, apng), (id + 20000, mm.encodeApng(re.toSeq, 16, 12)))
            } else Seq((id, apng))
          }
        }.toDF("id", "payload")
      graft.dedup.VideoDedup.videoNearDupPairs(spark, clips,
          maxFrames = 4, maxDist = 3, bands = 4)
        .orderBy("id_a", "id_b")
    }),

    // §2.17 PERCEPTUAL AUDIO near-dedup (energy-envelope sign hash +
    // the same Hamming-banded LSH core as the image tier): per row a
    // REAL 16-bit WAV synthesizes in executor tasks — 65 windows × 32
    // samples of an alternating ±A square wave, window amplitudes drawn
    // from the embedding's float bits at 12 well-separated EVEN levels —
    // and two planted near-duplicate classes must be recovered: ids 0-24
    // a gain-HALVED copy (id+10000 — even amplitudes halve exactly, so
    // every window energy scales by exactly 1/4 and every gradient sign
    // is preserved: hamming 0), ids 25-49 a decode→re-encode copy
    // (id+20000 — 16-bit PCM WAV is lossless: hamming 0). Unplanted
    // clips are float-bit noise (envelope-collision odds ~1e-14), so the
    // pair set is EXACTLY the 50 planted pairs — closed-form constant
    // oracle, the image row's audio twin.
    "dedup_audio_phash" -> ((spark, dir) => {
      import spark.implicits._
      val e = t(spark, dir, "embeddings")
      val clips = e.filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding").cast("array<float>"))
        .as[(Long, Array[Float])]
        .mapPartitions { rows =>
          rows.flatMap { case (id, emb) =>
            val samples = new Array[Short](65 * 32)
            var w = 0
            while (w < 65) {
              val bits = java.lang.Float.floatToIntBits(emb(w % emb.length))
              val lvl = ((bits >>> ((w / emb.length) * 4)) & 0xf) % 12
              val amp = (100 + 50 * lvl).toShort // even, levels 50 apart
              var j = 0
              while (j < 32) {
                samples(w * 32 + j) = if (j % 2 == 0) amp else (-amp).toShort
                j += 1
              }
              w += 1
            }
            val mm = graft.multimodal.Multimodal
            val wav = mm.encodeWav(samples, 16000)
            if (id < 25) {
              val halved = samples.map(s => (s / 2).toShort)
              Seq((id, wav), (id + 10000, mm.encodeWav(halved, 16000)))
            } else if (id < 50) {
              val re = mm.WavDecoder.decodePcm(wav).get._1
              Seq((id, wav), (id + 20000, mm.encodeWav(re, 16000)))
            } else Seq((id, wav))
          }
        }.toDF("id", "payload")
      graft.dedup.AudioDedup.audioNearDupPairs(spark, clips, maxDist = 3, bands = 4)
        .orderBy("id_a", "id_b")
    }),

    // §2.17 embedding-cosine near-dup via hyperplane LSH buckets + verify.
    // multiProbe=true: candidate recall covers pairs that straddle one
    // hyperplane (hamming-1 buckets), not just parallel vectors — see the
    // planted straddling-pair test in DedupSpec.
    "neardup_embedding" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val base = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
      val copies = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 100000).as("id"), col("embedding").as("vector"))
      val planes = Dedup.randomPlanes(nbits = 16, dim = 64, seed = 7)
      Dedup.embeddingNearDupPairs(base.unionByName(copies), planes, threshold = 0.1,
          multiProbe = true)
        .select(col("id_a"), col("id_b"), round(col("cos_dist"), 4).as("cos_dist"))
        .orderBy("id_a", "id_b")
    }),

    // §2.17 embedding near-dup with Lv et al. 2007 PROBE SEQUENCES: the
    // left side probes the T=8 buckets ranked by summed flipped margins
    // (|dot| per hyperplane) instead of hamming-1's uniform 17-probe ring
    // — fewer probe rows AND coverage of multi-plane straddles whose
    // margins are small (the planted 2-plane case is in DedupSpec).
    // Planted verbatim copies share the exact bucket at any budget, so
    // the same all-pairs oracle's recall is guaranteed.
    "neardup_embedding_probeseq" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val base = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
      val copies = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 100000).as("id"), col("embedding").as("vector"))
      val planes = Dedup.randomPlanes(nbits = 16, dim = 64, seed = 7)
      Dedup.embeddingNearDupPairs(base.unionByName(copies), planes, threshold = 0.1,
          probes = 8)
        .select(col("id_a"), col("id_b"), round(col("cos_dist"), 4).as("cos_dist"))
        .orderBy("id_a", "id_b")
    }),

    // §2.17 SemDeDup-style SEMANTIC near-dedup (Abbas et al. 2023):
    // k-means cells over unit-normalized embeddings as density-following
    // buckets, intra-cell cosine verify — the cluster replaces the random
    // hyperplane bucket of neardup_embedding. Planted verbatim copies
    // normalize to identical unit vectors, rank cells identically, and
    // are ALWAYS co-bucketed regardless of where k-means puts the
    // boundaries, so the all-pairs oracle's recall is guaranteed; spill=2
    // multi-assignment covers boundary straddle for non-identical
    // near-dups (none below threshold in this corpus, same as the LSH row).
    "dedup_semantic" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val base = e.select(col("vec_id").as("id"), col("embedding").as("vector"))
      val copies = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 100000).as("id"), col("embedding").as("vector"))
      // first-C seeding: verbatim copies co-bucket under ANY cell layout,
      // so the row's recall guarantee doesn't pay kmeans||'s extra passes
      // (production at corpus scale seeds kmeans|| for the balance bound)
      Dedup.semanticNearDupPairs(base.unionByName(copies), c = 16, threshold = 0.1,
          seeding = "first")
        .select(col("id_a"), col("id_b"), round(col("cos_dist"), 4).as("cos_dist"))
        .orderBy("id_a", "id_b")
    }),

    // §2.20 language id (stopword-count heuristic, fixed tie order)
    "lang_id" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val counts = TextAnalysis.langCounts(col("text"))
      val countCols = counts.map { case (lang, c) => c.as(s"cnt_$lang") }
      docs.select(col("doc_id") +: countCols :+ TextAnalysis.langId(col("text")).as("pred_lang"): _*)
        .orderBy("doc_id")
    }),

    // §2.20 language id, RANK-PROFILE form (Cavnar–Trenkle): per-language
    // character-trigram profiles trained on the planted LABELED slice
    // (the curated training set of the published method), every corpus
    // doc + five short planted probes classified by out-of-place
    // distance. Pure integer arithmetic over deterministic orderings —
    // the oracle replays profile build, rank windows and the distance
    // sum verbatim. The short probes are exactly the inputs the stopword
    // heuristic cannot call (no function words).
    "lang_id_ngram" -> ((spark, dir) => {
      import spark.implicits._
      val train = langTrainFixture.toDF("doc_id", "lang", "text")
      val probes = langProbeFixture.toDF("doc_id", "text")
      val corpus = t(spark, dir, "documents").select("doc_id", "text")
        .unionByName(probes)
      val prof = graft.text.LangIdNgram.profiles(train, profileSize = 80)
      graft.text.LangIdNgram.classify(corpus, prof, profileSize = 80)
        .orderBy("doc_id")
    }),

    // §2.19 multimodal feature extraction: payload → frames → byte-nibble
    // histogram (decode stubbed, plumbing real). Output is FLAT scalars
    // (arrays would break the driver's pandas value-sort) and self-verifying:
    // the kernel histogram is recomputed from the raw payload by an
    // INDEPENDENT one-pass codegen expression (NibbleHistogram — no code
    // shared with the decode path) and n_mismatch must be 0, so the DuckDB
    // oracle is closed-form. (The earlier hex()/substr formulation
    // re-evaluated the hex pipeline per array element inside the HOF
    // lambda and was 8× slower.)
    "multimodal_features" -> ((spark, dir) => {
      import spark.implicits._
      val e = t(spark, dir, "embeddings")
      val media = e.select(col("vec_id").as("id"), vec.toBytes(col("embedding")).as("payload"))
        .as[(Long, Array[Byte])]
        .map { case (id, p) => graft.multimodal.Multimodal.MediaRow(id, p, "embedding", 8, 8, 0) }
      val feats = graft.multimodal.Multimodal.extractFeatures(spark, media).toDF()

      val nb = length(col("payload"))
      val fs = greatest(expr("length(payload) div 4"), lit(1)) // stub frame size, maxFrames=4
      val covered = least(nb, fs * lit(4)) // bytes inside the 4 kept frames
      val checkHist = graft.internal.SqlBridge.column(graft.functions.NibbleHistogram(
        graft.internal.SqlBridge.expression(col("payload")),
        graft.internal.SqlBridge.expression(covered.cast("int"))))
      val sqlSide = e.select(col("vec_id").as("id"), vec.toBytes(col("embedding")).as("payload"))
        .select(col("id"), checkHist.as("check_hist"))

      feats.join(sqlSide, Seq("id"))
        .select(
          col("id"),
          col("nBytes").as("n_bytes"),
          col("nFrames").cast("long").as("n_frames"),
          aggregate(col("histogram"), lit(0L), (a, x) => a + x).as("hist_total"),
          when(col("histogram") === col("check_hist"), lit(0L)).otherwise(lit(1L)).as("n_mismatch"))
        .orderBy("id")
    }),

    // §2.19 REAL image codec end-to-end, distributed: per row an 8×8 RGB
    // image is synthesized from the embedding's float bits, ENCODED to an
    // actual PNG (javax.imageio, in executor tasks), DECODED back through
    // the Decoder boundary (PngDecoder), and nearest-neighbor-resized to
    // 4×4. Self-verifying: PNG is lossless so decoded pixels must equal
    // the synthesized pixels byte-for-byte (n_px_mismatch = 0), and each
    // resized pixel must equal the source pixel at (2x, 2y) by direct
    // indexing (n_resize_mismatch = 0) — closed-form constant oracle.
    "multimodal_decode" -> ((spark, dir) => {
      import spark.implicits._
      val e = t(spark, dir, "embeddings")
      e.select(col("vec_id"), col("embedding").cast("array<float>"))
        .filter(col("vec_id") < 500)
        .as[(Long, Array[Float])]
        .mapPartitions { rows =>
          rows.map { case (id, emb) =>
            // 8×8×3 = 192 deterministic bytes from the 64 floats' bits
            val rgb = Array.tabulate(192) { i =>
              ((java.lang.Float.floatToIntBits(emb(i % emb.length)) >>> (8 * ((i / emb.length) % 4))) & 0xff).toByte
            }
            val payload = graft.multimodal.Multimodal.encodePng(rgb, 8, 8)
            // one ImageIO pass yields frame AND dims; a failed/short
            // decode must REPORT (all-mismatch counts), not crash in
            // resizeNearest's length require
            graft.multimodal.Multimodal.PngDecoder.decodeRgb(payload) match {
              case Some((frame, w, h)) if frame.length == rgb.length =>
                val pxMismatch = rgb.indices.count(i => rgb(i) != frame(i)).toLong
                val resized = graft.multimodal.Multimodal.resizeNearest(frame, 8, 8, 4, 4)
                var resizeMismatch = 0L
                for (y <- 0 until 4; x <- 0 until 4; c <- 0 until 3)
                  if (resized((y * 4 + x) * 3 + c) != frame(((2 * y) * 8 + 2 * x) * 3 + c)) resizeMismatch += 1
                (id, w.toLong, h.toLong, pxMismatch, resizeMismatch, resized.length.toLong)
              case Some((_, w, h)) => (id, w.toLong, h.toLong, rgb.length.toLong, 48L, 0L)
              case None => (id, -1L, -1L, rgb.length.toLong, 48L, 0L)
            }
          }
        }
        .toDF("vec_id", "width", "height", "n_px_mismatch", "n_resize_mismatch", "resized_bytes")
        .orderBy("vec_id")
    }),

    // §2.19 REAL video codec end-to-end, distributed: per row 8 solid-gray
    // 8×6 frames (values derived from vec_id) are MJPEG-encoded
    // (javax.imageio in executor tasks), the stream is segment-scanned and
    // 4 frames SAMPLED evenly (indices 0,2,4,6), each decoded via ImageIO.
    // Verified in-query: sampled frames equal the direct decode of their
    // segments byte-for-byte (sampling positions exact), and every decoded
    // pixel is within JPEG-quantization tolerance (<= 4) of the synthesized
    // solid color (uniform frames are DC-only, so lossy error is tiny) —
    // closed-form constant oracle.
    "multimodal_video" -> ((spark, dir) => {
      import spark.implicits._
      val e = t(spark, dir, "embeddings")
      // cap the row count: the row proves the distributed encode→segment→
      // sample→decode pipeline, not ImageIO throughput (8 JPEG encodes per
      // row dominate its bench cost — 150 rows is still 1.2k encodes +
      // 2.4k decodes spread across every partition)
      e.select(col("vec_id")).filter(col("vec_id") < 150).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val (w, h, nF, kS) = (8, 6, 8, 4)
            def color(f: Int): Int = ((id * 31 + f * 17) % 256).toInt
            val frames = Array.tabulate(nF)(f => Array.fill(w * h * 3)(color(f).toByte))
            val mjpeg = graft.multimodal.Multimodal.encodeMjpeg(frames.toSeq, w, h)
            val segs = graft.multimodal.Multimodal.MjpegDecoder.segments(mjpeg)
            val sampled = graft.multimodal.Multimodal.MjpegDecoder.decodeFrames(mjpeg, kS)
            val idx = graft.multimodal.Multimodal.MjpegDecoder.sampleIndices(segs.length, kS)
            val direct = idx.flatMap { si =>
              val (s, en) = segs(si)
              graft.multimodal.Multimodal.PngDecoder
                .decodeRgb(java.util.Arrays.copyOfRange(mjpeg, s, en))
            }
            val sampleMismatch =
              if (sampled.length != direct.length) kS.toLong
              else sampled.zip(direct.map(_._1))
                .count { case (a, b) => !java.util.Arrays.equals(a, b) }.toLong
            val colorOff = sampled.zip(idx).count { case (frame, f) =>
              frame.length != w * h * 3 ||
                frame.exists(b => math.abs((b & 0xff) - color(f)) > 4)
            }.toLong
            val (fw, fh) = direct.headOption.map(d => (d._2.toLong, d._3.toLong)).getOrElse((-1L, -1L))
            (id, segs.length.toLong, sampled.length.toLong, fw, fh, sampleMismatch, colorOff)
          }
        }
        .toDF("vec_id", "n_segments", "n_sampled", "frame_w", "frame_h",
          "n_sample_mismatch", "n_color_off")
        .orderBy("vec_id")
    }),

    // §2.19 REAL animated-PNG video, distributed: per row 6 deterministic
    // frames are APNG-encoded (acTL/fcTL/fdAT chunk stream, JDK PNG
    // compressor), the Decoder samples 3 evenly, and — PNG being lossless
    // — every sampled frame must equal its source BYTE-EXACTLY
    // (n_mismatch = 0), a strictly stronger gate than MJPEG's DC
    // tolerance. Capped rows like multimodal_video: the row prices the
    // chunk codec and sampling, not PNG deflate throughput.
    "multimodal_video_apng" -> ((spark, dir) => {
      import spark.implicits._
      val e = t(spark, dir, "embeddings")
      e.select(col("vec_id")).filter(col("vec_id") < 150).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val (w, h, nF, kS) = (8, 6, 6, 3)
            val frames = Array.tabulate(nF)(f =>
              Array.tabulate(w * h * 3)(i => ((id * 31 + f * 17 + i * 7) % 251).toByte))
            val apng = graft.multimodal.Multimodal.encodeApng(frames.toSeq, w, h)
            val sampled = graft.multimodal.Multimodal.ApngDecoder.decodeFrames(apng, kS)
            val idx = graft.multimodal.Multimodal.MjpegDecoder.sampleIndices(nF, kS)
            val mismatch =
              if (sampled.length != idx.length) kS.toLong
              else sampled.zip(idx).count { case (g, f) =>
                !java.util.Arrays.equals(g, frames(f))
              }.toLong
            (id, nF.toLong, sampled.length.toLong, apng.length.toLong > 0, mismatch)
          }
        }
        .toDF("vec_id", "n_frames", "n_sampled", "encoded_nonempty", "n_mismatch")
        .select(col("vec_id"), col("n_frames"), col("n_sampled"),
          col("encoded_nonempty").cast("long").as("encoded_nonempty"), col("n_mismatch"))
        .orderBy("vec_id")
    }),

    // §2.19 REAL audio codec end-to-end, distributed: per row 64 16-bit
    // PCM samples are synthesized from the embedding's float bits, ENCODED
    // to an actual WAV payload (javax.sound.sampled, in executor tasks),
    // DECODED back through the Decoder boundary (WavDecoder), and compared
    // sample-for-sample. PCM WAV is lossless, so n_mismatch = 0 and the
    // format metadata round-trips — closed-form constant oracle.
    "multimodal_audio" -> ((spark, dir) => {
      import spark.implicits._
      val e = t(spark, dir, "embeddings")
      e.select(col("vec_id"), col("embedding").cast("array<float>"))
        .as[(Long, Array[Float])]
        .mapPartitions { rows =>
          rows.map { case (id, emb) =>
            val samples = Array.tabulate(emb.length) { i =>
              (java.lang.Float.floatToIntBits(emb(i)) >>> 16).toShort
            }
            val payload = graft.multimodal.Multimodal.encodeWav(samples, 16000)
            graft.multimodal.Multimodal.WavDecoder.decodePcm(payload) match {
              case Some((decoded, rate, channels)) if decoded.length == samples.length =>
                val mismatch = samples.indices.count(i => samples(i) != decoded(i)).toLong
                (id, rate.toLong, channels.toLong, decoded.length.toLong, mismatch)
              case Some((decoded, rate, channels)) =>
                (id, rate.toLong, channels.toLong, decoded.length.toLong, samples.length.toLong)
              case None => (id, -1L, -1L, 0L, samples.length.toLong)
            }
          }
        }
        .toDF("vec_id", "sample_rate", "channels", "n_samples", "n_mismatch")
        .orderBy("vec_id")
    }),

    // §2.20 Gopher/C4-style quality FILTERS: token-3-gram repetition ratio
    // (template spam scores high long before LSH would pair it) +
    // ASCII character-class ratios + the remaining cheap Gopher signals
    // (mean word length, symbol-to-word ratio, bullet/ellipsis line
    // fractions) — the cheap first filters of a curation cascade (single
    // narrow pass, no shuffle). Planted offenders exercise each signal's
    // high end: loop-docs (repetition), a bullet list, ellipsis-truncated
    // lines, and hash-symbol markup; natural docs the low end.
    "quality_filters" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val loops = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" "), col("text"), lit(" "), col("text")).as("text"))
      val planted = Seq(
        (300001L, "- buy gold\n- buy silver\n- buy bronze\nnormal closing line"),
        (300002L, "the story continues...\nand then it ends...\nfinally done"),
        (300003L, "### header\nuse #tags and #more #tags here"))
        .toDF("doc_id", "text")
      // all 8 signals from ONE fused kernel pass (tokenize + char scan +
      // line scan once per doc); two-step select keeps the non-cheap
      // kernel in its own projection so CollapseProject can't duplicate
      // it per extracted field
      val sigNames = Seq("rep3_ratio", "upper_ratio", "digit_ratio", "alpha_ratio",
        "mean_word_len", "symbol_word_ratio", "bullet_line_frac", "ellipsis_line_frac")
      docs.unionByName(loops).unionByName(planted)
        .select(col("doc_id"), TextAnalysis.qualitySignals(col("text")).as("s"))
        .select(col("doc_id") +: sigNames.map(n => round(col(s"s.$n"), 4).as(n)): _*)
        .orderBy("doc_id")
    }),

    // §2.20 FILTER-IMPACT REPORT — the per-source pass-rate table a
    // curation run publishes before committing thresholds (what fraction
    // of each source survives each published gate, and all gates
    // together): gates evaluated on the 4dp-ROUNDED signals (the rounding
    // both engines already hash-match in quality_filters, so threshold
    // comparisons cannot diverge on last-bit noise), pass rates as exact
    // 0/1 averages. Planted offenders (tripled text → repetition,
    // ellipsis-truncated lines, hash-markup spam) drop specific sources'
    // rates so the report is differential, not vacuous.
    "filter_report" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select("doc_id", "source", "text")
      val base = docs.filter(col("doc_id") < 60)
      val planted =
        base.filter(col("doc_id") % 3 === 0)
          .select(col("source"), concat(col("text"), lit(" "), col("text"),
            lit(" "), col("text")).as("text"))
        .unionByName(base.filter(col("doc_id") % 3 === 1)
          .select(col("source"), concat(
            lit("truncated line one...\ntruncated line two...\nclosing line "),
            substring(col("text"), 1, 40)).as("text")))
        .unionByName(base.filter(col("doc_id") % 3 === 2)
          .select(col("source"), concat(lit("# " * 20), col("text")).as("text")))
      val sigs = docs.select(col("source"), col("text")).unionByName(planted)
        .select(col("source"), TextAnalysis.qualitySignals(col("text")).as("s"))
        .select(col("source"),
          round(col("s.rep3_ratio"), 4).as("rep3"),
          round(col("s.alpha_ratio"), 4).as("alpha"),
          round(col("s.mean_word_len"), 4).as("mwl"),
          round(col("s.symbol_word_ratio"), 4).as("swr"),
          round(col("s.ellipsis_line_frac"), 4).as("elf"))
      val p = sigs.select(col("source"),
        (col("rep3") <= 0.2).cast("int").as("p_rep"),
        (col("alpha") >= 0.6).cast("int").as("p_alpha"),
        (col("mwl") >= 3 && col("mwl") <= 10).cast("int").as("p_mwl"),
        (col("swr") <= 0.1).cast("int").as("p_swr"),
        (col("elf") <= 0.3).cast("int").as("p_elf"))
      p.withColumn("p_all",
          (col("p_rep") + col("p_alpha") + col("p_mwl") + col("p_swr") + col("p_elf") === 5)
            .cast("int"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          round(avg("p_rep"), 4).as("pass_rep3"),
          round(avg("p_alpha"), 4).as("pass_alpha"),
          round(avg("p_mwl"), 4).as("pass_word_len"),
          round(avg("p_swr"), 4).as("pass_symbol"),
          round(avg("p_elf"), 4).as("pass_ellipsis"),
          round(avg("p_all"), 4).as("pass_all"))
        .orderBy("source")
    }),

    // Gopher REPETITION-REMOVAL signals (Rae et al. 2021 Table A1): all
    // 13 within-document repetition inputs — duplicate line/paragraph
    // fractions (count and character), top-{2,3,4}-gram character share,
    // duplicated-{5..10}-gram character COVERAGE (overlaps counted once)
    // — from ONE fused kernel pass. Planted offenders pin each family:
    // repeated nav lines, repeated paragraphs, an n-gram loop; a clean
    // doc and the unplanted corpus prove pass-through.
    "gopher_repetition" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val planted = gopherRepetitionFixture.toDF("doc_id", "text")
      val sigNames = Seq("dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac") ++
        (2 to 4).map(n => s"top${n}gram_char_frac") ++
        (5 to 10).map(n => s"dup${n}gram_char_frac")
      // repartition ahead of the heaviest text kernel in the catalog: the
      // single-file local fixture otherwise runs every eval in one task
      // (at corpus scale file splits provide this parallelism for free)
      docs.unionByName(planted).repartition(col("doc_id"))
        .select(col("doc_id"), TextAnalysis.repetitionSignals(col("text")).as("s"))
        .select(col("doc_id") +: sigNames.map(nm => round(col(s"s.$nm"), 4).as(nm)): _*)
        .orderBy("doc_id")
    }),

    // Per-document n-gram NOVELTY (inverse boilerplate): fraction of each
    // doc's distinct 3-gram shingles appearing in no other document —
    // string shingles (exact, no hash bet), the duplicateSpans shuffle
    // shape (rows ≈ tokens, no pair join).
    "doc_novelty" -> ((spark, dir) => {
      TextAnalysis.docNovelty(t(spark, dir, "documents"), n = 3)
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          round(col("novelty"), 4).as("novelty"))
        .orderBy("doc_id")
    }),

    // Per-source corpus-statistics diagnostics: token/type counts, TTR,
    // Zipf slope (OLS of log freq on log rank over the top-100 tokens,
    // deterministic ties) — the distribution health check a mixing
    // pipeline runs per domain. WindowGroupLimit bounds the rank
    // exchange to topK rows per source per map partition.
    "corpus_zipf" -> ((spark, dir) => {
      TextAnalysis.corpusZipf(t(spark, dir, "documents"), topK = 100)
        .select(col("source"), col("n_tokens"), col("n_types"),
          round(col("ttr"), 4).as("ttr"),
          round(col("zipf_slope"), 4).as("zipf_slope"))
        .orderBy("source")
    }),

    // LEARNED quality-classifier stage (fastText-style linear model):
    // logistic regression over the eight fused quality signals
    // (mean_word_len scaled /10 into the ratios' range), trained by
    // deterministic full-batch GD (15 iters, lr 2.0, zero init) on a
    // PLANTED labeled slice — originals positive, tripled-text+symbol-
    // spam corruptions negative — then every labeled row scored by the
    // fitted sigmoid. Weights round to 6dp so the oracle's recursive-CTE
    // GD replay scores from bit-identical weights.
    "quality_classifier" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val corrupted = docs.filter(col("doc_id") < 250)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(col("text"), lit(" "), col("text"), lit(" "), col("text"),
            lit(" ### ### 12345 67890 ###")).as("text"))
      val labeled = docs.withColumn("label", lit(1.0))
        .unionByName(corrupted.withColumn("label", lit(0.0)))
      val sigNames = Seq("rep3_ratio", "upper_ratio", "digit_ratio", "alpha_ratio",
        "mean_word_len", "symbol_word_ratio", "bullet_line_frac", "ellipsis_line_frac")
      val feats = labeled
        .select(col("doc_id"), col("label"), TextAnalysis.qualitySignals(col("text")).as("s"))
        .select(col("doc_id") +: col("label") +: sigNames.map { nm =>
          val c = col(s"s.$nm")
          (if (nm == "mean_word_len") c / 10.0 else c).as(nm)
        }: _*)
      val w = graft.text.QualityClassifier.train(feats, "label", sigNames,
        iters = 15, lr = 2.0)
      feats.select(col("doc_id"),
          round(graft.text.QualityClassifier.scoreCol(sigNames.map(col), w), 4).as("score"))
        .orderBy("doc_id")
    }),

    // §2.17 CCNet/RefinedWeb LINE-level boilerplate dedup, APPLIED:
    // lines shared by ≥2 distinct docs (planted nav/footer chrome around
    // copies of the first 30 docs — including each copied doc's own body
    // line, so full-removal docs exercise the empty-clean path) are cut
    // from every document; unique lines survive verbatim in order.
    // C4 boilerplate line cleaning (Raffel et al. 2020 §2.2): planted
    // multi-line pages exercise each rule — a good line survives, a
    // truncated line (no terminal punctuation) drops, a 2-word line drops,
    // a javascript line drops, and every 7th page is discarded outright by
    // the "{" rule. One narrow codegen pass; DuckDB replays the identical
    // predicates via list_filter.
    "c4_clean" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
        .filter(col("doc_id") < 300).select(col("doc_id"), col("text"))
      val planted = docs.select(col("doc_id"),
        concat(
          lit("This is a good line with punctuation.\n"),
          substring(col("text"), 1, 40), lit("\n"),
          lit("Short line.\n"),
          lit("Enable javascript to view comments today.\n"),
          col("text"), lit("."),
          when(pmod(col("doc_id"), lit(7)) === 0, lit("\ncurly { brace"))
            .otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"), graft.text.TextAnalysis.c4CleanLines(col("text")).as("c"))
        .select(col("doc_id"), col("c.page_dropped").as("page_dropped"),
          col("c.n_kept").as("n_kept"), col("c.n_dropped").as("n_dropped"),
          col("c.clean_text").as("clean_text"))
        .orderBy("doc_id")
    }),

    // §2.20 markup-to-text extraction (WET-style ingest): planted docs are
    // wrapped in full HTML (script with internal < > operators, style,
    // comments, block tags, the predefined entities); the unplanted corpus
    // must pass through with only whitespace normalization. One narrow
    // codegen regexp/replace chain — DuckDB replays the identical
    // RE2-compatible patterns.
    "html_extract" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 25)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(
            lit("<html><head><style type=\"text/css\">p { margin: 0; }</style>" +
              "<script>if (a < b && c > 1) { emit(\"x\"); }</script></head>" +
              "<body><!-- boilerplate --><h1>Title &amp; more</h1><p>"),
            col("text"),
            lit("</p><ul><li>first item</li><li>second</li></ul><br/>" +
              "Tom &amp; Jerry &lt;3 &quot;quoted&quot;&nbsp;end</body></html>"))
            .as("text"))
      docs.unionByName(planted)
        .select(col("doc_id"),
          graft.text.TextAnalysis.extractMarkup(col("text")).as("clean_text"))
        .orderBy("doc_id")
    }),

    // §2.20 link/domain census: URLs + distinct domains per document — the
    // stats domain-mixing and blocklist curation consume. Planted docs
    // carry anchor-tag and bare URLs (one with trailing sentence
    // punctuation); the unplanted corpus must report zero links.
    // URL canonicalization → URL-level dedup (the cheapest dedup tier a
    // web pipeline runs — no content read): planted surface variants
    // (case, default port, www, tracking params, fragment, trailing
    // punctuation) must collapse to one canonical key. The oracle replays
    // the identical RE2-safe regexp chain step by step.
    "url_canonical" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("read https://Example.com:443/Article/"), col("doc_id").cast("string"),
            lit("?utm_source=feed&id=7&utm_medium=rss#frag also " +
              "https://www.example.com/Article/"), col("doc_id").cast("string"),
            lit("?id=7 and http://example.com:80/other?gclid=xyz. tail")).as("text"))
      docs.unionByName(planted)
        .select(col("doc_id"),
          explode(graft.text.TextAnalysis.links(col("text"))).as("url"))
        .select(col("doc_id"),
          graft.text.TextAnalysis.canonicalUrl(col("url")).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_urls"))
        .filter(col("n_urls") >= 2)
        .orderBy("canonical_url")
    }),

    "link_stats" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(lit("See <a href=\"https://example.org/a\">one</a> and " +
            "<a href=\"http://docs.example.org/b?q=1\">two</a> and " +
            "<a href=\"https://Example.org/c#frag\">three</a> " +
            "plus bare https://mirror.example.net/path. "),
            col("text")).as("text"))
      docs.unionByName(planted)
        .select(col("doc_id"),
          graft.text.TextAnalysis.links(col("text")).as("links"))
        .select(col("doc_id"),
          size(col("links")).cast("long").as("n_links"),
          graft.text.TextAnalysis.linkDomains(col("links")).as("doms"))
        .select(col("doc_id"), col("n_links"),
          size(col("doms")).cast("long").as("n_domains"),
          array_join(array_sort(col("doms")), ",").as("domains"))
        .orderBy("doc_id")
    }),

    // §2.22+ fixed-length token chunking with overlap — the RAG/embedding-
    // ingestion twin of pack_sequences. Entirely narrow (tokenize →
    // integer chunk arithmetic → explode → slice), no shuffle at any
    // corpus size; DuckDB replays the identical integer window math.
    "chunk_docs" -> ((spark, dir) => {
      graft.ops.Packing.chunkTokens(t(spark, dir, "documents"), chunkLen = 40, overlap = 8)
        .orderBy("doc_id", "chunk")
    }),

    // §2.20+ BM25 lexical retrieval (Robertson et al., TREC-3 1994) — the
    // keyword arm of hybrid search. Query-term postings drop out of the
    // tokenize scan immediately (term set is query-sized); df + query
    // tables broadcast; per-qid WindowGroupLimit bounds the top-k
    // shuffle. Ranks order by the ROUNDED score, so ulp-level fp
    // summation differences between engines cannot flip them.
    "bm25_topk" -> ((spark, dir) => {
      graft.text.Bm25.search(t(spark, dir, "documents"), bm25Queries, 10)
        .orderBy("qid", "rank")
    }),

    // §2.26 snippet extraction — result highlighting: ±4-token context
    // around the first query-term occurrence in each hit. Narrow codegen
    // HOFs over the (top-k-bounded) hit set only; DuckDB replays the
    // identical index arithmetic and list slice.
    "bm25_snippets" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val hits = graft.text.Bm25.search(docs, bm25Queries, 10)
        .select("qid", "doc_id")
      graft.text.Bm25.snippets(docs, hits, bm25Queries, window = 4)
        .orderBy("qid", "doc_id")
    }),

    // BM25 over a MATERIALIZED inverted index — the serving path: the
    // corpus tokenizes once at build; a query batch then reads only the
    // term-hash buckets (partition pruning) + matching token row groups,
    // with the prebuilt df table broadcast. Hash-matches the same replay
    // oracle as the scan-side row — the index is a pure layout change.
    "bm25_saved" -> ((spark, dir) => {
      val ixDir = java.nio.file.Files.createTempDirectory("bm25_ix").toString
      graft.text.Bm25.buildIndex(t(spark, dir, "documents"), ixDir, nBuckets = 16)
      graft.text.Bm25.searchSaved(spark, ixDir, bm25Queries, 10).orderBy("qid", "rank")
    }),

    // §2.21+26 continuous BM25 maintenance — the delta-log design applied
    // to the lexical index: per-batch O(batch) appends (doc rows + bucket-
    // partitioned posting rows, both manifest-guarded), latest-wins view
    // with tombstones, serving scores the surviving postings with the
    // IDENTICAL arithmetic as the batch search — so the converged replay
    // (upsert all docs; drift-modify doc_id%7; remove doc_id%10, removes
    // outranking) must hash-match the DuckDB replay over the surviving
    // mutated corpus.
    "stream_bm25_maintenance" -> ((spark, dir) => {
      import spark.implicits._
      val idxDir = java.nio.file.Files.createTempDirectory("stream_bm25_idx").toString
      val sink = graft.streaming.StreamingOps.bm25MaintenanceSink(spark, idxDir, nBuckets = 16)
      val up1 = struct(col("doc_id").as("id"), lit("upsert").as("op"),
        col("text").as("text"), lit(1L).as("version"))
      val drift2 = struct(col("doc_id").as("id"), lit("upsert").as("op"),
        concat(lit("drift "), col("text")).as("text"), lit(2L).as("version"))
      val rm3 = struct(col("doc_id").as("id"), lit("remove").as("op"),
        lit("").as("text"), lit(3L).as("version"))
      val ops = streamTable(spark, dir, "documents")
        .select(explode(
          when(col("doc_id") % 70 === 0, array(up1, drift2, rm3))
            .when(col("doc_id") % 10 === 0, array(up1, rm3))
            .when(col("doc_id") % 7 === 0, array(up1, drift2))
            .otherwise(array(up1))).as("o"))
        .select("o.*").as[graft.streaming.StreamingOps.DocOp]
      runToCompletion(spark, ops, "stream_bm25_")(_.foreachBatch(sink))
      graft.streaming.StreamingOps
        .searchBm25Maintained(spark, idxDir, bm25Queries, 10)
        .orderBy("qid", "rank")
    }),

    // §2.26 exact PHRASE search over the POSITIONAL index: occurrence
    // starts = ∩ᵢ (positions(tᵢ) − i) per phrase, array_intersect chains
    // over bucket-pruned posting reads — no corpus scan at query time.
    // The oracle derives the counts INDEPENDENTLY from the raw text
    // (contiguous window equality), so the whole positional layout is
    // checked end-to-end.
    "bm25_phrase" -> ((spark, dir) => {
      val ixDir = java.nio.file.Files.createTempDirectory("bm25_pos_ix").toString
      graft.text.Bm25.buildIndex(t(spark, dir, "documents"), ixDir, nBuckets = 16,
        withPositions = true)
      graft.text.Bm25.phraseSearch(spark, ixDir, bm25Phrases)
        .orderBy("qid", "doc_id")
    }),

    // BM25 with a DataFrame query side — the corpus-vs-corpus shape: the
    // query batch never lands on the driver (its distinct-term table is a
    // broadcast semi-join inside the same single corpus scan). Queries
    // here are full documents retrieving their lexical near-neighbors;
    // hash-matched against the identical DuckDB replay.
    "bm25_topk_df" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val queries = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      graft.text.Bm25.searchDF(docs, queries, 10).orderBy("qid", "rank")
    }),

    // Hybrid search: reciprocal-rank fusion (Cormack et al., SIGIR 2009)
    // of the BM25 lexical arm and the exact-kNN vector arm over the SAME
    // query ids (doc_id ≡ vec_id in the testdata). Both arms are already
    // top-k-bounded, so fusion runs on query-sized data at any corpus
    // scale; integer ranks make the fused score bit-deterministic.
    "hybrid_rrf" -> ((spark, dir) => {
      val bm = graft.text.Bm25.search(t(spark, dir, "documents"), bm25Queries, 10)
        .select(col("qid"), col("doc_id").as("id"), col("rank"))
      val (data, queriesDf) = knnInputs(spark, dir, 3)
      val nn = Knn.bruteForce(data, queriesDf, 10, "euclidean")
        .select(col("qid"), col("id"), col("rank"))
      graft.ops.Fusion.rrf(Seq(bm, nn), 10).orderBy("qid", "rank")
    }),

    // §2.26 weighted-sum hybrid — the score-gap-aware merge: per-query
    // min-max normalization puts the BM25 mass and the euclidean distance
    // (inverted) on [0,1], rank by 0.6·lex + 0.4·vec. Distances and BM25
    // scores fold element-ordered in both engines, so even the UNROUNDED
    // normalized arithmetic replays bit-for-bit.
    "hybrid_weighted" -> ((spark, dir) => {
      val bm = graft.text.Bm25.search(t(spark, dir, "documents"), bm25Queries, 10)
        .select(col("qid"), col("doc_id").as("id"), col("score"))
      val (data, queriesDf) = knnInputs(spark, dir, 3)
      val nn = Knn.bruteForce(data, queriesDf, 10, "euclidean")
        .select(col("qid"), col("id"), col("dist").as("score"))
      graft.ops.Fusion.weighted(Seq((bm, 0.6, true), (nn, 0.4, false)), 10)
        .orderBy("qid", "rank")
    }),

    // §2.26 MMR diversification (Carbonell & Goldstein 1998) — the tail of
    // the hybrid stack: RRF candidates re-ordered greedily by
    // λ·rel − (1−λ)·max-sim-to-selected over the embedding column.
    // Candidates are top-k-bounded, so the greedy runs per-qid in
    // mapGroups over ≤10 rows; the DuckDB oracle replays the loop
    // unrolled with identical IEEE arithmetic and id tie-breaks.
    "hybrid_mmr" -> ((spark, dir) => {
      val bm = graft.text.Bm25.search(t(spark, dir, "documents"), bm25Queries, 10)
        .select(col("qid"), col("doc_id").as("id"), col("rank"))
      val (data, queriesDf) = knnInputs(spark, dir, 3)
      val nn = Knn.bruteForce(data, queriesDf, 10, "euclidean")
        .select(col("qid"), col("id"), col("rank"))
      val cand = graft.ops.Fusion.rrf(Seq(bm, nn), 10)
        .select(col("qid"), col("id"), col("rrf_score").as("rel"))
      graft.ops.Mmr.rerank(cand, data.select(col("id"), col("vector")), k = 5)
        .select(col("qid"), col("id"), col("mmr_rank"),
          round(col("rel"), 6).as("rel"), round(col("max_sim"), 6).as("max_sim"))
        .orderBy("qid", "mmr_rank")
    }),

    // §2.26 late-interaction (ColBERT MaxSim) retrieval, exact form: docs
    // and queries are token-vector LISTS; relevance is Σ_q max_d dot(q,d),
    // computed by one codegen kernel per (query, doc) pair. The oracle
    // replays the kernel with max(list_inner_product) per query token and
    // an ORDER-BY-pinned sum, so the unrounded scores match bit-for-bit.
    "maxsim_exact" -> ((spark, dir) => {
      val (docs, queries) = maxSimInputs(spark, dir)
      maxSimFinish(graft.knn.MaxSim.search(docs, queries, 10))
    }),

    // §2.26 two-stage MaxSim — ColBERT's serving architecture: stage 1
    // retrieves the top-8 document TOKENS per query token (token-level kNN
    // over the exploded token table, (dot DESC, tok_id) tie-break), the
    // owning documents become candidates, stage 2 rescores them with the
    // exact kernel. Every stage is deterministic, so the DuckDB oracle
    // replays the full two-stage computation — no recall gate needed.
    "maxsim_twostage" -> ((spark, dir) => {
      val (docs, queries) = maxSimInputs(spark, dir)
      val docTokens = t(spark, dir, "embeddings")
        .select(expr("vec_id DIV 4").as("doc_id"), col("vec_id").as("tok_id"),
          col("embedding").as("vector"))
      maxSimFinish(graft.knn.MaxSim.searchTwoStage(docs, docTokens, queries, k = 10, tokenK = 8))
    }),

    "line_dedup_clean" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val wrapped = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(lit("share this article\n"), col("text"),
            lit("\nall rights reserved\nsubscribe to our newsletter")).as("text"))
      Dedup.removeDuplicateLines(docs.unionByName(wrapped), minDocs = 2)
        .orderBy("doc_id")
    }),

    // §2.20 DSIR importance weights (Xie et al. 2023): smoothed unigram
    // log-likelihood ratio of each doc under the target (en docs) vs the
    // corpus distribution — the data-selection score you resample by.
    "dsir_weights" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      TextAnalysis.dsirWeights(docs, docs.filter(col("lang") === "en"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("dsir_weight"), 4).as("dsir_weight"))
        .orderBy("doc_id")
    }),

    // DSIR END-TO-END (Xie et al. 2023): the recipe's second half —
    // importance RESAMPLING proportional to exp(importance weight) via
    // the same A-Res machinery as sample_weighted, composed onto
    // dsir_weights' token-level estimate. The weight is rounded to 4
    // decimals before exp on BOTH engines (the dsir_weights row's
    // cross-engine determinism bet); the selection is then a pure
    // function of ids.
    "sample_dsir" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val w = TextAnalysis.dsirWeights(docs, docs.filter(col("lang") === "en"))
        .select(col("doc_id"), exp(round(col("dsir_weight"), 4)).as("w"))
      graft.ops.Sampling.sampleWeighted(w, "doc_id", "w", k = 120)
        .select(col("doc_id"), col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("sample_rank")
    }),

    // §2.20 corpus profiling: per-source doc counts, char totals, and
    // EXACT p50/p95 length percentiles (Spark `percentile` and DuckDB
    // `quantile_cont` share the linear-interpolation definition) — the
    // summary a mixing/quota decision reads before setting rates.
    "corpus_profile" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum("n_chars").as("total_chars"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
          round(expr("percentile(n_chars, 0.95)"), 4).as("p95_chars"))
        .orderBy("source")
    }),

    // §2.20 PII redaction (RefinedWeb/FineWeb hygiene): emails and
    // phone-shaped digit runs replaced by fixed placeholders, counted per
    // doc; RE2-safe patterns so both engines match identically. Planted
    // docs carry one of each; the corpus itself must come through intact.
    "pii_redact" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(lit("contact user"), col("doc_id"), lit("@mail.example.org or +1 (555) 123-4567 today "),
            col("text")).as("text"))
      val countCols = TextAnalysis.piiCounts(col("text"))
        .map { case (name, c) => c.cast("long").as(name) }
      docs.unionByName(planted)
        .select(col("doc_id") +: countCols :+
          TextAnalysis.redactPii(col("text")).as("redacted"): _*)
        .orderBy("doc_id")
    }),

    // §2.20 composite quality score (length + stopword components)
    "quality_score" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // §2.4 vector aggregation: per-label centroids via positional explode +
    // partial-aggregated mean (the distributed "average vector" primitive
    // IVF training uses). Flat (label, pos, mean) output keeps the oracle
    // compare scalar.
    "vec_centroids" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      e.select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(round(avg("v"), 4).as("mean"))
        .select(col("label"), col("pos").cast("long").as("pos"), col("mean"))
        .orderBy("label", "pos")
    }),

    // Distributed PCA (graft.knn.Pca): one tree-reduced statistics pass +
    // driver Jacobi eigensolve + codegen'd projection kernel. Every column
    // is a closed-form check: orthonormality and descending order of the
    // fitted spectrum, trace conservation (Σλ = trace(cov)), full-rank
    // ISOMETRY (pairwise L2 preserved under rotation ⇒ kNN equality),
    // the truncation identity (mean squared reconstruction error = tail
    // eigenvalue sum), and recovery of a planted rank-3 subspace.
    "vec_pca" -> ((spark, dir) => {
      import spark.implicits._
      val emb = t(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("vector"))
      val model = graft.knn.Pca.fit(emb, "vector", 64)
      val p = model.components
      var orthoBad = 0L
      for (i <- p.indices; j <- i until p.length) {
        val d = p(i).zip(p(j)).map { case (x, y) => x * y }.sum
        if (math.abs(d - (if (i == j) 1.0 else 0.0)) > 1e-8) orthoBad += 1
      }
      val orderBad = model.eigenvalues.sliding(2)
        .count(w => w(0) < w(1) - 1e-12).toLong
      val traceOk =
        if (math.abs(model.eigenvalues.sum - model.covTrace) <
          1e-8 * math.max(1.0, model.covTrace)) 1L else 0L

      val sample = emb.filter(col("vec_id") < 100)
        .withColumn("rot", graft.knn.Pca.projectCol(model, col("vector")))
      val isoBad = sample.as("a")
        .join(broadcast(sample.as("b")), $"a.vec_id" < $"b.vec_id")
        .filter(abs(
          graft.functions.vec.distEuclidean($"a.vector", $"b.vector") -
            graft.functions.vec.distEuclidean($"a.rot", $"b.rot")) > 1e-3)
        .count()

      val m8 = model.truncate(8)
      val mse = emb
        .withColumn("back", graft.knn.Pca.reconstructCol(m8,
          graft.knn.Pca.projectCol(m8, col("vector"))))
        .select(avg(aggregate(zip_with(col("vector"), col("back"),
          (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, d) => acc + d)).as("mse"))
        .head().getDouble(0)
      val residual = model.residualVariance(8)
      val reconOk =
        if (math.abs(mse - residual) < 1e-3 * math.max(1.0, residual)) 1L else 0L

      // planted rank-3 subspace (Walsh directions, splitmix coefficients):
      // top-3 must explain >99.9% of variance, top-2 must NOT
      val planted = spark.range(600).map { id =>
        val c1 = (graft.core.SplitMix.unit(id * 3) - 0.5) * 6.0
        val c2 = (graft.core.SplitMix.unit(id * 3 + 1) - 0.5) * 4.0
        val c3 = (graft.core.SplitMix.unit(id * 3 + 2) - 0.5) * 2.0
        Array.tabulate(16) { i =>
          val d2 = if (i % 2 == 0) 0.25 else -0.25
          val d3 = if ((i / 2) % 2 == 0) 0.25 else -0.25
          val noise = (graft.core.SplitMix.unit(id * 100 + i) - 0.5) * 2e-3
          (c1 * 0.25 + c2 * d2 + c3 * d3 + noise).toFloat
        }
      }.toDF("vector")
      val pm = graft.knn.Pca.fit(planted, "vector", 3)
      val plantedOk =
        if (pm.explainedVariance(3) > 0.999 && pm.explainedVariance(2) < 0.999) 1L
        else 0L

      Seq((model.dim.toLong, orthoBad, orderBad, traceOk, isoBad, reconOk, plantedOk))
        .toDF("n_components", "n_ortho_bad", "n_order_bad", "trace_ok",
          "n_iso_bad", "recon_ok", "planted_ok")
    }),

    // Grouped top-k (WindowGroupLimit: per-partition top-k before shuffle)
    "top_orders_per_segment" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
      val c = t(spark, dir, "customer")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("c_mktsegment"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("rank").cast("long").as("rank"))
        .orderBy("c_mktsegment", "rank")
    }),

    // §2.20 token counting: whitespace tokens + BPE-style pretokens (the
    // LLM-pipeline budget metric; identical RE2-safe regex on both engines)
    "token_count" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      docs.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // §2.20 REAL BPE token counts: the published merge loop (standard
    // merges.txt rank table, graft.text.Bpe) applied per pretoken in one
    // kernel pass. DuckDB cannot run BPE, so the oracle is hand-derived:
    // each planted doc's count was stepped through the merge rules by hand
    // (contractions, greedy rank order, Ġ space marker, CJK fallback to
    // characters, digit runs, empty text). The corpus-scale bounds
    // invariant (pretokens <= bpe <= characters) is pinned in ScalaTest.
    "token_count_bpe" -> ((spark, dir) => {
      import spark.implicits._
      val planted = Seq(
        (1L, "the cat"),
        (2L, "the and is of"),
        (3L, "I don't think so"),
        (4L, ""),
        (5L, "ing thing"),
        (6L, "abc123 def45"),
        (7L, "我有一个"),
        (8L, "the the the"),
        (9L, "hello, world..."),
        (10L, "  double  spaced"))
        .toDF("doc_id", "text")
      planted.select(col("doc_id"),
          TextAnalysis.bpeTokenCountReal(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // BYTE-LEVEL BPE (the production GPT-2/tiktoken convention): the
    // published split regex with Unicode \s, UTF-8 byte fallback through
    // the bytes→unicode table, merges on byte symbols. Planted docs
    // exercise every divergence from the codepoint mode: 2/3/4-byte
    // UTF-8 (Latin-1 accents, CJK, emoji), NBSP as Unicode whitespace,
    // contraction branches, tab/newline byte spellings, and the
    // trailing-whitespace lookahead. Expected counts hand-derived by
    // stepping the published algorithm (bytes_to_unicode + lowest-rank
    // merge) over DemoMerges; oracle is the VALUES literal.
    "token_count_bpe_bytes" -> ((spark, dir) => {
      import spark.implicits._
      val planted = Seq(
        (1L, "the cat"),
        (2L, "naïve café"),
        (3L, "我有一个"),
        (4L, "🦙 llama"),
        (5L, ""),
        (6L, "don't stop"),
        (7L, "a\u00a0b"), // NBSP: Unicode whitespace, 2-byte UTF-8
        (8L, "I'll they've we're"),
        (9L, "tab\tnew\nend  "),
        (10L, "abc123 ¾½"))
        .toDF("doc_id", "text")
      planted.select(col("doc_id"),
          TextAnalysis.bpeTokenCountBytes(col("text")).as("n_byte_tokens"))
        .orderBy("doc_id")
    }),

    // Full BPE TOKENIZATION (pieces, not just counts): over REAL corpus
    // text, n_pieces must equal the independently-computed codegen count
    // kernel, and un-mapping Ġ→space over the joined pieces must
    // reconstruct the document byte-for-byte (the GPT-2 pretokenizer
    // partitions the text, so the encode is lossless). Flags collapse to
    // a closed-form oracle on (doc_id, whitespace-token count).
    "bpe_encode" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val pieces = TextAnalysis.bpeTokensReal(col("text"))
      docs.select(col("doc_id"),
          (size(pieces).cast("long") === TextAnalysis.bpeTokenCountReal(col("text")))
            .cast("long").as("count_consistent"),
          (array_join(transform(pieces, p => translate(p, "Ġ", " ")), "") === col("text"))
            .cast("long").as("round_trip_ok"))
        .orderBy("doc_id")
    }),

    // BYTE-LEVEL tokenization over the REAL corpus (token_count_bpe_bytes
    // pins planted hand-derived counts; this row exercises every document):
    // n_pieces must equal the count kernel, and decoding each piece char
    // through the bytes→unicode table must reconstruct the document's
    // UTF-8 bytes exactly — expressed as translate(joined pieces,
    // mapped-alphabet → raw bytes) == decode(encode(text,'UTF-8'),
    // 'ISO-8859-1') (the latin-1 string whose chars ARE the utf-8 bytes).
    // Flags collapse to a closed-form all-ones oracle.
    "bpe_encode_bytes" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val pieces = TextAnalysis.bpeTokensBytes(col("text"))
      val mapped = new String(graft.text.Bpe.ByteEncoder)
      val raw = new String(Array.tabulate(256)(_.toChar))
      docs.select(col("doc_id"),
          (size(pieces).cast("long") === TextAnalysis.bpeTokenCountBytes(col("text")))
            .cast("long").as("count_consistent"),
          (translate(array_join(pieces, ""), mapped, raw)
            === decode(encode(col("text"), "UTF-8"), "ISO-8859-1"))
            .cast("long").as("round_trip_ok"))
        .orderBy("doc_id")
    }),

    // §2.20 corpus statistics: token document frequency + IDF rarity score
    "token_df" -> ((spark, dir) => {
      TextAnalysis.tokenDocumentFrequency(t(spark, dir, "documents"))
        .filter(col("df") >= 5)
        .orderBy("token")
    }),

    // §2.20 provably-exact top-10 3-grams via Misra–Gries candidates +
    // exact recount — the n-gram key space is what's too big to
    // full-shuffle at 100 TB (distinct 5-grams grow toward corpus size).
    // The runtime proof check (k-th count > accounted error bound) makes
    // "exact or loud error" the contract, so the oracle is simply the
    // exact top-k.
    "ngram_heavy_hitters" -> ((spark, dir) => {
      graft.text.HeavyHitters.ngramTopK(t(spark, dir, "documents"), n = 3, k = 10, m = 16384)
        .select(col("gram"), col("n_count"), col("rank").cast("long").as("rank"))
        .orderBy("rank")
    }),

    // §2.20 the corpus-report shape (C4/Gopher-style audits: top n-grams
    // per source, top domains per language): the same MG sketch-then-
    // recount pipeline keyed by group — driver/executor state bounded at
    // groups × m counters, the gram space (which is what grows toward
    // corpus size) still never shuffles unfiltered, and the exact-or-throw
    // proof applies per group.
    "ngram_heavy_hitters_grouped" -> ((spark, dir) => {
      graft.text.HeavyHitters.ngramTopKByGroup(t(spark, dir, "documents"),
          n = 3, k = 5, m = 16384, groupCol = "source")
        .select(col("source"), col("gram"), col("n_count"),
          col("rank").cast("long").as("rank"))
        .orderBy("source", "rank")
    }),
    "doc_rarity" -> ((spark, dir) => {
      TextAnalysis.docRarity(t(spark, dir, "documents"))
        .select(col("doc_id"), round(col("rarity"), 4).as("rarity"))
        .orderBy("doc_id")
    }),

    // §2.20 CCNet-style LM quality signal: per-document cross-entropy
    // under the corpus's own unigram LM (running-text frequencies — the
    // burstiness-sensitive complement of doc_rarity's IDF). Vocab-sized
    // count table broadcasts; the corpus streams twice (count build,
    // scoring join).
    "lm_perplexity" -> ((spark, dir) => {
      TextAnalysis.lmCrossEntropy(t(spark, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          round(col("cross_entropy"), 4).as("cross_entropy"))
        .orderBy("doc_id")
    }),

    // Bigram stupid-backoff cross-entropy (Brants et al. 2007): LM trained
    // on the even-id half, every doc scored — odd docs genuinely exercise
    // the backoff branch (their bigrams/tokens can be unseen in training).
    // The bigram count table joins on the (w₋₁, w) key — never broadcast
    // (vocab², unlike the unigram table) — which is the operator's point
    // at 100 TB.
    "lm_perplexity_bigram" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      TextAnalysis.lmCrossEntropyBigram(docs, docs.filter(col("doc_id") % 2 === 0))
        .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"),
          round(col("cross_entropy"), 4).as("cross_entropy"))
        .orderBy("doc_id")
    }),

    // ARPA n-gram model IMPORT (SRILM/KenLM interchange format): every
    // data line is self-describing under tab-splitting, so the parse is
    // fully distributed and stateless — no section state across partition
    // boundaries. strict=true validates parsed per-order counts against
    // the \data\ declarations (the torn-file check). Probabilities stay
    // UNROUNDED: both engines parse the same decimal literals into
    // bit-identical doubles.
    "arpa_parse" -> ((spark, dir) => {
      import spark.implicits._
      graft.text.ArpaLm.parse(arpaModelLines.toDF("line"))
        .select(col("order").cast("long").as("ngram_order"), col("context"),
          col("word"), col("log10p"), col("backoff"))
        .orderBy("ngram_order", "context", "word")
    }),

    // Interpolated Kneser–Ney bigram TRAINING (Chen & Goodman 1999, the
    // smoothing family KenLM implements — CCNet's filter models are such
    // artifacts), emitted in the ARPA model shape: continuation counts
    // (not raw frequency), per-order Chen-Goodman discounts from
    // count-of-counts, probabilities stored in SRILM's interpolated-
    // backoff form (KnTrainSpec machine-checks sum-to-1 per context),
    // <unk> carrying the principled uniform-leftover mass. Every table
    // after the one bigram-position pass is bounded by TYPE cardinality,
    // never corpus size; all quantities derive from exact integer
    // counts, so the model is layout-independent by construction.
    "kn_train_bigram" -> ((spark, dir) => {
      import spark.implicits._
      val train = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 25)
        .unionByName(knTrainDocs.toDF("doc_id", "text"))
      graft.text.ArpaLm.trainKneserNeyBigram(train)
        .select(col("order").cast("long").as("ngram_order"), col("context"), col("word"),
          round(col("log10p"), 6).as("log10p"), round(col("backoff"), 6).as("backoff"))
        .orderBy("ngram_order", "context", "word")
    }),

    // The GENERAL-ORDER form at order 3 (CCNet ships 5-gram artifacts
    // of this family): the middle level switches to CONTINUATION counts
    // built by suffix-grouping the trigram type table — except
    // <s>-initial bigrams, which keep actual counts (they cannot be
    // left-extended; SRILM's convention) — with its own Chen-Goodman
    // discount, and probabilities interpolate downward through the
    // shortened context. KnTrainSpec machine-checks that the FULL
    // cascade's probability mass sums to 1 for every context.
    "kn_train_trigram" -> ((spark, dir) => {
      import spark.implicits._
      val train = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 25)
        .unionByName(knTrainDocs.toDF("doc_id", "text"))
      graft.text.ArpaLm.trainKneserNey(train, order = 3)
        .select(col("order").cast("long").as("ngram_order"), col("context"), col("word"),
          round(col("log10p"), 6).as("log10p"), round(col("backoff"), 6).as("backoff"))
        .orderBy("ngram_order", "context", "word")
    }),

    // The full KenLM interop loop IN ONE QUERY: train the KN model,
    // EXPORT it to ARPA text (format), re-IMPORT it (parse), and score
    // the corpus under the re-imported artifact — export fidelity is
    // load-bearing, not decorative (format writes exact decimal
    // expansions, so the reparsed doubles are bit-identical). The model
    // trains on the CURATED slice (docs < 25 + the hapax fixture — the
    // CCNet arrangement: train on a reference set, score the crawl);
    // scored docs exercise seen-bigram + backoff arms, planted docs pin
    // the OOV path (zebra/unicorn stay out of the training vocabulary).
    "lm_score_kn" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val model = graft.text.ArpaLm.trainKneserNeyBigram(
        docs.filter(col("doc_id") < 25).unionByName(knTrainDocs.toDF("doc_id", "text")))
      val reparsed = graft.text.ArpaLm.parse(
        graft.text.ArpaLm.format(model).toDF("line"))
      graft.text.ArpaLm.score(
        docs.unionByName(arpaScoreDocs.toDF("doc_id", "text")), reparsed, order = 2)
        .select(col("doc_id"), col("n_scored").cast("long").as("n_scored"),
          round(col("log10p_sum"), 4).as("log10p_sum"),
          round(-col("log10p_sum") / col("n_scored"), 4).as("log10_ppl"))
        .orderBy("doc_id")
    }),

    // Katz back-off scoring under the IMPORTED model (the CCNet shape:
    // score crawl docs with a PRETRAINED KenLM artifact, not a
    // corpus-self-trained LM). Model levels join the corpus's position
    // table on (context, word) — hash joins, never broadcast (a real
    // KenLM artifact is GBs; AQE upgrades the tiny fixture on its own).
    // Real rows exercise in-vocab unigram/bigram paths (the fixture
    // vocabulary overlaps the corpus word list); planted docs pin every
    // branch: trigram chain, bigram + context backoff, unigram chain,
    // pure OOV -> <unk>. log10_ppl (= −sum/n) replaces raw ppl in the
    // projection: an all-OOV doc's 10^(99·…) would be hash-unstable at
    // ulp level, the mean log is bounded and round(4)-safe.
    "lm_score_arpa" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(arpaScoreDocs.toDF("doc_id", "text"))
      val model = graft.text.ArpaLm.parse(arpaModelLines.toDF("line"))
      graft.text.ArpaLm.score(docs, model, order = 3)
        .select(col("doc_id"), col("n_scored").cast("long").as("n_scored"),
          round(col("log10p_sum"), 4).as("log10p_sum"),
          round(-col("log10p_sum") / col("n_scored"), 4).as("log10_ppl"))
        .orderBy("doc_id")
    }),

    // §2.20 CCNet head/middle/tail bucketing (Wenzek et al. 2020): per-lang
    // empirical terciles of the rounded LM score, cutoffs broadcast back
    // for one comparison pass (no per-lang global sort — the largest
    // language would serialize on one partition chain at 100 TB).
    "ccnet_buckets" -> ((spark, dir) => {
      TextAnalysis.ccnetBuckets(t(spark, dir, "documents"))
        .orderBy("doc_id")
    }),

    // §2.20 deterministic hash embeddings (feature hashing over md5 token
    // hashes — model-free embedding generation; flat (doc, pos) output)
    "doc_embed" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val dim = 16
      docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .withColumn("hv", conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
        .select(col("doc_id"), pmod(col("hv"), lit(dim)).cast("long").as("pos"),
          when(expr("(shiftright(hv, 5) & 1)") === 0, lit(1.0)).otherwise(lit(-1.0)).as("sign"))
        .groupBy("doc_id", "pos")
        .agg(sum("sign").as("value"))
        .select(col("doc_id"), col("pos"), round(col("value"), 4).as("value"))
        .orderBy("doc_id", "pos")
    }),

    // §2.22+23+6 RAG-ingestion capstone: chunk (overlap windows) →
    // feature-hash embed each chunk → exact top-k retrieval over the
    // chunk vectors — the documents-to-searchable-chunks path end to
    // end, every stage replayed in the oracle (chunk arithmetic, md5
    // hash embedding, dense assembly, euclidean kNN). Embedding values
    // are small exact integers in double, so even distance TIES agree
    // bit-for-bit and resolve by id identically in both engines.
    "pipeline_rag" -> ((spark, dir) => {
      val dim = 16
      val chunks = graft.ops.Packing
        .chunkTokens(t(spark, dir, "documents"), chunkLen = 40, overlap = 8)
        .select((col("doc_id") * 1000 + col("chunk")).as("chunk_id"), col("chunk_text"))
      val dense = chunks
        .select(col("chunk_id"), explode(TextAnalysis.tokens(col("chunk_text"))).as("token"))
        .withColumn("hv", conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
        .select(col("chunk_id"), pmod(col("hv"), lit(dim)).cast("long").as("pos"),
          when(expr("(shiftright(hv, 5) & 1)") === 0, lit(1.0)).otherwise(lit(-1.0)).as("sign"))
        .groupBy("chunk_id", "pos")
        .agg(sum("sign").as("value"))
        .groupBy("chunk_id")
        .agg(map_from_entries(collect_list(struct(col("pos"), col("value")))).as("m"))
        .select(col("chunk_id").as("id"),
          transform(sequence(lit(0), lit(dim - 1)),
            p => coalesce(element_at(col("m"), p.cast("long")), lit(0.0))).as("vector"))
      val queries = dense.filter(col("id").isin(0L, 1000L, 2000L))
        .select(col("id").as("qid"), col("vector").as("qvec"))
      knnFinish(Knn.bruteForce(dense, queries, 5, "euclidean"))
    }),

    // Statistical quality: per-type z-score outliers over event values
    "events_anomalies" -> ((spark, dir) => {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val e = t(spark, dir, "events")
      val stats = e.groupBy("event_type")
        .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
      e.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .filter(abs(col("z")) > 3)
        .select(col("event_type"), col("event_id"), round(col("z"), 4).as("z"))
        .orderBy("event_type", "event_id")
    }),

    // TPC-H Q5-style five-way join: dims broadcast, facts shuffle on keys
    "q5_join" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem")
      val o = t(spark, dir, "orders")
      val c = t(spark, dir, "customer")
      val s = t(spark, dir, "supplier")
      val n = t(spark, dir, "nation")
      val r = t(spark, dir, "region")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    }),

    // Deterministic stratified sampling (corpus mixing ratios — membership
    // is a pure function of doc_id, identical across engines and runs)
    "sample_stratified" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      graft.ops.Sampling.sampleStratified(docs, "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.1))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis keys
    // from deterministic md5 uniforms): 100 docs ∝ n_chars — the DSIR
    // resampling executor. The oracle replays the identical ln(u)/w key
    // arithmetic; the selection and its rank order must match exactly.
    "sample_weighted" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      graft.ops.Sampling.sampleWeighted(docs, "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("sample_rank")
    }),

    // The LARGE-k regime of the same operator: prefilterAbove = 1 forces
    // the approxQuantile key-threshold pre-filter (the path a 10⁷-row
    // selection takes at corpus scale), and the DuckDB oracle is the
    // identical A-Res closed form — proving the pre-filter changes
    // NOTHING about which rows are selected or their order.
    "sample_weighted_large" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      graft.ops.Sampling.sampleWeighted(docs, "doc_id", "n_chars", k = 200,
          prefilterAbove = 1)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("sample_rank")
    }),

    // Per-source quota cap (C4-style domain quotas): ≤ 150 docs per source,
    // survivors chosen deterministically by (md5 bucket, doc_id) — which
    // rows survive is a pure function of ids, identical across engines
    "sample_quota" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      graft.ops.Sampling.sampleQuota(docs, "doc_id", "source", quota = 150)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // TEMPERATURE sampling (p_i ∝ n_i^alpha — the multilingual mixing
    // rule): alpha=0.5 flattens the source distribution toward uniform,
    // upsampling tail sources relative to their natural share; rates from
    // exact counts, membership by the same md5 bucket as sample_stratified
    "sample_temperature" -> ((spark, dir) => {
      graft.ops.Sampling.sampleTemperature(t(spark, dir, "documents"),
          "doc_id", "source", alpha = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // INGESTION-TIME token-budget admission: the sink admits arriving
    // docs per source (same (md5-bucket, id) order within each batch,
    // first-committed-first-served across batches) until the budget
    // fills; commit-marker protocol makes redelivery idempotent. Two
    // deterministic batches (doc_id parity), so the oracle replays the
    // admitted set with ONE window ordered by (batch, bucket, id).
    "stream_token_budget" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "source", "text")
      val idxDir = java.nio.file.Files.createTempDirectory("stream_tb_idx").toString
      val sink = graft.streaming.StreamingOps.tokenBudgetSink(spark, idxDir,
        Map("src0" -> 800L, "src1" -> 1200L, "src3" -> 0L, "src5" -> 1000000L))
      withStreamParts(spark) {
        sink(docs.filter(col("doc_id") % 2 === 0), 0L)
        sink(docs.filter(col("doc_id") % 2 === 1), 1L)
      }
      graft.streaming.StreamingOps.tokenBudgetAdmitted(spark, idxDir)
        .orderBy("doc_id")
    }),

    // INGESTION-TIME corpus profiling: per-(source, lang) INTEGER totals
    // maintained across micro-batches — exact under any batch split
    // because every partial is an integer sum; ratios derive at read time
    // from the exact sums. The replay goes through compaction and then
    // REDELIVERS a folded batch (totals are not idempotent — the
    // folded-ids sidecar must catch it or the row double-counts), and the
    // converged profile must equal the batch GROUP BY row-for-row.
    // UNBOUNDED cross-batch exact dedup (dedupExactSink — the digest twin
    // of nearDupSink): stream_dedup's dropDuplicatesWithinWatermark state
    // is watermark-bounded, so a late duplicate silently re-admits; this
    // sink's manifested digest table has no horizon. The replay is
    // adversarial on purpose: every duplicate pair STRADDLES batches
    // (copies arrive in batch 0, originals only later — beyond any
    // watermark), the SMALLER id arrives LAST (a first-wins left-anti
    // design would keep the copy; the mergeable min-fold must keep the
    // original), compaction folds mid-stream, and a folded batch is
    // REDELIVERED (must skip via the folded-ids sidecar, not double-count
    // n_dups). Converged groups must equal batch dedup_exact row-for-row.
    "stream_dedup_exact" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val idxDir = java.nio.file.Files.createTempDirectory("stream_de_idx").toString
      val sink = graft.streaming.StreamingOps.dedupExactSink(spark, idxDir)
      withStreamParts(spark) {
        sink(copies, 0L)
        sink(docs.filter(col("doc_id") % 2 === 0), 1L)
        graft.streaming.StreamingOps.compactDedupExact(spark, idxDir)
        sink(copies, 0L) // folded-id replay: must skip, not double-count
        sink(docs.filter(col("doc_id") % 2 === 1), 2L)
      }
      graft.streaming.StreamingOps.dedupExactMaintained(spark, idxDir)
        .select(col("digest"), col("keep_id").cast("long").as("keep_id"),
          col("n_dups").cast("long").as("n_dups"))
        .orderBy("keep_id")
    }),

    "stream_corpus_profile" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
        .select("doc_id", "source", "lang", "text", "n_chars")
      val idxDir = java.nio.file.Files.createTempDirectory("stream_cp_idx").toString
      val sink = graft.streaming.StreamingOps.corpusProfileSink(spark, idxDir)
      withStreamParts(spark) {
        sink(docs.filter(col("doc_id") % 3 === 0), 0L)
        sink(docs.filter(col("doc_id") % 3 === 1), 1L)
        graft.streaming.StreamingOps.compactCorpusProfile(spark, idxDir)
        sink(docs.filter(col("doc_id") % 3 === 0), 0L) // folded-id replay guard
        sink(docs.filter(col("doc_id") % 3 === 2), 2L)
      }
      graft.streaming.StreamingOps.corpusProfileMaintained(spark, idxDir)
        .select(col("source"), col("n_docs").cast("long").as("n_docs"),
          col("n_langs").cast("long").as("n_langs"),
          col("total_chars").cast("long").as("total_chars"),
          col("total_tokens").cast("long").as("total_tokens"),
          col("avg_chars"))
        .orderBy("source")
    }),

    // INGESTION-TIME weighted sampling: the A-Res key is a pure function
    // of (seed, id, weight), so the maintained reservoir is a monotone
    // IDEMPOTENT top-k merge — the replay proves it the hard way: two
    // batches commit, compaction folds the candidate log to one k-row
    // segment, batch 0 is REDELIVERED after its segment was folded away
    // (re-appending k candidate rows the fold already dominates), a third
    // batch commits, and the converged sample still equals the batch
    // operator row-for-row — sample_weighted's A-Res closed-form oracle,
    // verbatim.
    "stream_sample_weighted" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "n_chars")
      val idxDir = java.nio.file.Files.createTempDirectory("stream_ws_idx").toString
      val sink = graft.streaming.StreamingOps.weightedSampleSink(
        spark, idxDir, k = 100, weightCol = "n_chars")
      withStreamParts(spark) {
        sink(docs.filter(col("doc_id") % 3 === 0), 0L)
        sink(docs.filter(col("doc_id") % 3 === 1), 1L)
        val (_, did) = graft.streaming.StreamingOps.compactWeightedSample(
          spark, idxDir, maxBatches = 1)
        require(did, "compaction gate should have fired at 2 segments")
        sink(docs.filter(col("doc_id") % 3 === 0), 0L) // replay post-fold
        sink(docs.filter(col("doc_id") % 3 === 2), 2L)
      }
      graft.streaming.StreamingOps.weightedSampleMaintained(spark, idxDir)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("sample_rank")
    }),

    // INGESTION-TIME contamination-rate audit: the decontaminate_rate
    // benchmark's shingles persist once, each micro-batch appends only
    // its NEWLY-matched bench hashes (log bounded by the benchmark, not
    // the stream), manifest merge = commit marker. After both batches
    // the converged rates equal the batch audit row-for-row — the oracle
    // is decontaminate_rate's, verbatim.
    "stream_decontaminate_rate" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 23 === 0)
        .select(col("doc_id").as("bench_id"),
          concat(concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 5, 20)),
            lit(" eval item "), col("doc_id").cast("string"),
            lit(" held out suffix")).as("text"))
      val idxDir = java.nio.file.Files.createTempDirectory("stream_dcr_idx").toString
      val sink = graft.streaming.StreamingOps.decontaminateRateSink(
        spark, idxDir, bench, n = 13)
      withStreamParts(spark) {
        sink(docs.filter(col("doc_id") % 2 === 0), 0L)
        sink(docs.filter(col("doc_id") % 2 === 1), 1L)
      }
      graft.streaming.StreamingOps.decontaminateRateMaintained(spark, idxDir)
        .select(col("bench_id"), col("n_shingles").cast("long").as("n_shingles"),
          col("n_matched").cast("long").as("n_matched"),
          round(col("rate"), 4).as("rate"))
        .orderBy("bench_id")
    }),

    // The budgets-as-DataFrame sink form at HIGH source cardinality:
    // EVERY source gets a budget DERIVED FROM THE DATA (45% of the
    // source's own token mass, floored) — the "keep X% of each domain"
    // admission knob, a budgets table too large / too dynamic to
    // hand-list as a Map. Same two-batch parity protocol; the oracle
    // computes the same budgets in a subquery and replays the one-window
    // cumulative form (admission-prefix equivalence proven general:
    // once a source's cumulative crosses its budget every later row is
    // rejected on both sides, so admitted-only prior totals and the
    // global window agree on every corpus).
    "stream_token_budget_df" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "source", "text")
      val budgets = docs
        .withColumn("n_tok", size(split(trim(col("text")), "\\s+")).cast("long"))
        .groupBy("source")
        .agg(floor(sum("n_tok").cast("double") * 0.45).cast("long").as("budget"))
      val idxDir = java.nio.file.Files.createTempDirectory("stream_tbdf_idx").toString
      val sink = graft.streaming.StreamingOps.tokenBudgetSinkDF(spark, idxDir, budgets)
      withStreamParts(spark) {
        sink(docs.filter(col("doc_id") % 2 === 0), 0L)
        sink(docs.filter(col("doc_id") % 2 === 1), 1L)
      }
      graft.streaming.StreamingOps.tokenBudgetAdmitted(spark, idxDir)
        .orderBy("doc_id")
    }),

    // TOKEN-BUDGET mixing: per source keep the maximal (md5-bucket, id)-
    // ranked prefix whose cumulative whitespace-token count stays under
    // the source's budget — the "N tokens of source X" mixing knob.
    // src3's zero budget keeps nothing, src5's huge budget keeps the
    // whole source, unlisted sources drop. Oracle: the single-window
    // cumulative-sum formulation (the operator's bucket-phased plan is
    // proven equivalent in EdgeCasesSpec).
    "sample_token_budget" -> ((spark, dir) => {
      graft.ops.Sampling.sampleTokenBudget(t(spark, dir, "documents"),
          "doc_id", "source", "text",
          Map("src0" -> 800L, "src1" -> 1200L, "src3" -> 0L, "src5" -> 1000000L))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // the DataFrame-budgets (high-source-cardinality) form: plain
    // per-source window + broadcast budget join — same kept set as the
    // Map form (identical rank and rule), so the oracle is the identical
    // single-window SQL
    "sample_token_budget_df" -> ((spark, dir) => {
      import spark.implicits._
      val budgets = Seq(("src0", 800L), ("src1", 1200L), ("src3", 0L),
        ("src5", 1000000L)).toDF("source", "budget")
      graft.ops.Sampling.sampleTokenBudgetDF(t(spark, dir, "documents"), budgets,
          "doc_id", "source", "text")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Sequence packing (GPT-style concat-and-chunk): documents ordered by
    // id within (source, shard) streams, token offsets from ONE prefix-sum
    // window, each doc exploded onto the 512-token blocks it overlaps.
    // The shard key bounds every window group at any corpus size — no
    // corpus-wide ordered window.
    "pack_sequences" -> ((spark, dir) => {
      graft.ops.Packing.packBlocks(t(spark, dir, "documents"), blockLen = 512, nShards = 4)
        .orderBy("source", "shard", "block", "doc_id")
    }),

    // PACKING EFFICIENCY report: per-block doc count / token count / fill
    // ratio over the same packing — the padding-waste number a training
    // run monitors (tail blocks fill < 1.0; interior blocks must be
    // exactly full by construction). Pure aggregation of pack_sequences'
    // proven output; the oracle extends the same window arithmetic.
    "pack_summary" -> ((spark, dir) => {
      val packed = graft.ops.Packing.packBlocks(t(spark, dir, "documents"),
        blockLen = 512, nShards = 4)
      graft.ops.Packing.packSummary(packed, blockLen = 512)
        .select(col("source"), col("shard"), col("block"), col("n_docs"),
          col("n_tokens"), round(col("fill_ratio"), 4).as("fill_ratio"))
        .orderBy("source", "shard", "block")
    }),

    // NON-SPLITTING best-fit packing (first-fit-decreasing): every doc in
    // exactly ONE 512-token bin — no cross-document attention
    // contamination from split docs, padding bounded by the FFD
    // guarantee. Deterministic per (source, shard): docs ordered by
    // (n_tokens DESC, doc_id), placed first-fit; the oracle replays the
    // identical placement with a recursive CTE carrying each group's
    // bin-remainder list.
    "pack_bestfit" -> ((spark, dir) => {
      graft.ops.Packing.packBestFit(t(spark, dir, "documents"),
          blockLen = 512, nShards = 4)
        .orderBy("source", "shard", "bin", "doc_id")
    }),

    // the packing-efficiency report over the same FFD layout: per-bin doc
    // count / token total / fill ratio — the padding-waste number that
    // decides between this layout and pack_sequences' concat-and-chunk
    "pack_bestfit_summary" -> ((spark, dir) => {
      val packed = graft.ops.Packing.packBestFit(t(spark, dir, "documents"),
        blockLen = 512, nShards = 4)
      graft.ops.Packing.packBestFitSummary(packed, blockLen = 512)
        .select(col("source"), col("shard"), col("bin"), col("n_docs"),
          col("n_tokens"), round(col("fill_ratio"), 4).as("fill_ratio"))
        .orderBy("source", "shard", "bin")
    }),

    // Composed curation pipeline: dedup → quality/lang → filter → embed join
    "pipeline_curate" -> ((spark, dir) => {
      graft.pipeline.Curation.curate(
          t(spark, dir, "documents"), t(spark, dir, "embeddings"))
        .orderBy("doc_id")
    }),

    // WARC INGESTION (ISO 28500 DataSource V2): synthesize archives
    // in-query from the documents table — two uncompressed shards (read
    // with 8 KB maxPartitionBytes, forcing record-boundary splits + sync)
    // and one gzip member-per-record shard (the CommonCrawl layout) —
    // then read back through spark.read.format("warc") with the
    // record_type predicate PUSHED (every doc also emits a metadata
    // record the scan must skip without materializing payload). Output
    // hash-matches the known records: the oracle rebuilds each payload
    // from the same documents rows and md5s it.
    "warc_ingest" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 240).as[(Long, String)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("warc_q").toString
      def payload(tx: String): Array[Byte] =
        s"<doc>$tx</doc>".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      def rec(id: Long, rtype: String, pl: Array[Byte]): Array[Byte] =
        graft.sources.WarcFormat.buildRecord(rtype, s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z", "text/plain", pl)
      val shards = docs.groupBy { case (id, _) => (id % 3).toInt }
      (0 to 1).foreach { s =>
        val bytes = shards.getOrElse(s, Array.empty[(Long, String)]).flatMap {
          case (id, tx) => rec(id, "response", payload(tx)) ++
            rec(id, "metadata", "meta".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(out, s"shard$s.warc"), bytes)
      }
      val gz = shards.getOrElse(2, Array.empty[(Long, String)]).flatMap {
        case (id, tx) =>
          graft.sources.WarcFormat.gzipMember(rec(id, "response", payload(tx))) ++
            graft.sources.WarcFormat.gzipMember(
              rec(id, "metadata", "meta".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "shard2.warc.gz"), gz)
      spark.read.format("warc").option("maxPartitionBytes", "8192").load(out)
        .filter(col("record_type") === "response")
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("content_length").as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // HTTP RESPONSE-ENVELOPE parsing — what a WARC `response` payload
    // actually holds (application/http;msgtype=response): status line +
    // headers + CRLFCRLF + entity body, which every CommonCrawl-style
    // pipeline must strip BEFORE extractMarkup sees HTML. Real plumbing:
    // envelopes are framed into WARC records and read back through the
    // source, then parsed — status code, media type (parameters dropped),
    // body. Planted malformed payloads: no blank line (body must be NULL,
    // not leaked headers), a non-HTTP status line (status NULL, headers
    // still scanned), and a 404 with no Content-Type.
    "http_parse" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 150).as[(Long, String)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("http_q").toString
      def rec(id: Long, payload: String): Array[Byte] =
        graft.sources.WarcFormat.buildRecord("response", s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z",
          "application/http;msgtype=response",
          payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      def envelope(tx: String): String =
        "HTTP/1.1 200 OK\r\nServer: test/1.0\r\n" +
          s"Content-Type: text/html; charset=UTF-8\r\n\r\n<html><body><p>$tx</p></body></html>"
      val bytes = docs.flatMap { case (id, tx) => rec(id, envelope(tx)) } ++
        rec(900001L, "no envelope terminator here") ++
        rec(900002L, "NOTHTTP 200\r\nContent-Type: x\r\n\r\nbody") ++
        rec(900003L, "HTTP/1.1 404 Not Found\r\n\r\nmissing") ++
        rec(900004L, "HTTP/1.1 200 OK\nContent-Type: text/plain\n\nlenient\r\n\r\nbody")
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "r.warc"), bytes)
      spark.read.format("warc").load(out)
        .filter(col("record_type") === "response")
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
          TextAnalysis.httpResponse(col("payload").cast("string")).as("h"))
        .select(col("doc_id"), col("h.status").as("status"),
          col("h.content_type").as("content_type"),
          md5(col("h.body")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // CDX(J) CRAWL-INDEX parsing (the metadata sidecar next to every
    // public crawl's WARC segments — the table a pipeline queries to
    // select archive subsets BEFORE fetching payload bytes): build a
    // CDXJ line per document in-query (SURT key, 14-digit ts, JSON
    // meta), parse it back with parseCdxj, and emit the extracted
    // fields — parse(build(x)) must equal x, which the oracle derives
    // directly from the documents rows. Two planted malformed lines
    // (non-JSON third field; missing third field) must surface as
    // parsed_ok = 0 with null meta, not as dropped rows or crashes.
    "cdx_parse" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select("doc_id", "source", "n_chars")
      val url = concat(lit("http://"), col("source"), lit(".example.com/doc/"), col("doc_id"))
      val json = to_json(struct(url.as("url"), lit("text/html").as("mime"),
        lit("200").as("status"),
        concat(lit("sha1:"), md5(col("doc_id").cast("string"))).as("digest"),
        col("n_chars").cast("string").as("length"),
        lit("shard0.warc.gz").as("filename")))
      val line = concat_ws(" ",
        concat(col("source"), lit(",example)/doc/"), col("doc_id")),
        lit("20240101000000"), json)
      val built = docs.select(col("doc_id"), line.as("line"))
      val planted = Seq(
        (900001L, "com,bad)/x 20240101000000 {not json}"),
        (900002L, "com,bad2)/y 20240101000000"))
        .toDF("doc_id", "line")
      built.unionByName(planted)
        .select(col("doc_id"), TextAnalysis.parseCdxj(col("line")).as("c"))
        .select(col("doc_id"),
          col("c.meta.url").isNotNull.cast("long").as("parsed_ok"),
          col("c.surt_key").as("surt_key"), col("c.cdx_ts").as("cdx_ts"),
          col("c.meta.url").as("url"), col("c.meta.status").as("status"),
          col("c.meta.length").as("length"))
        .orderBy("doc_id")
    }),

    // CHARSET-CORRECT INGEST COMPOSED END-TO-END: every document is
    // framed TWICE — a UTF-8 record and a windows-1252 or Shift_JIS
    // twin (by id parity, with a charset-exercising non-ASCII suffix
    // each encoding can represent) — then byte-level decode →
    // extractMarkup → exact dedup. A UTF-8-assuming reader mojibakes
    // the non-UTF-8 twin and the pair does NOT fold; the charset-correct
    // chain folds every pair (the honest GROUP BY oracle counts 2 per
    // text, 4 when two same-parity docs share a text).
    "pipeline_ingest_charset" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 100).as[(Long, String)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("warc_cs_pipe").toString
      val w1252 = java.nio.charset.Charset.forName("windows-1252")
      val sjis = java.nio.charset.Charset.forName("Shift_JIS")
      def env(ct: String, body: Array[Byte]): Array[Byte] =
        s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n"
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ body
      def rec(id: Long, payload: Array[Byte]): Array[Byte] =
        graft.sources.WarcFormat.buildRecord("response", s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z",
          "application/http;msgtype=response", payload)
      val bytes = docs.flatMap { case (id, tx) =>
        val (cs, csName, suffix) =
          if (id % 2 == 0) (w1252, "windows-1252", CsPipeSuffixes._1)
          else (sjis, "Shift_JIS", CsPipeSuffixes._2)
        val h = s"<html><body><p>$tx $suffix</p></body></html>"
        rec(id, env("text/html; charset=utf-8",
          h.getBytes(java.nio.charset.StandardCharsets.UTF_8))) ++
          rec(id + 500000, env(s"text/html; charset=$csName", h.getBytes(cs)))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "m.warc"), bytes)
      val recs = spark.read.format("warc").load(out)
        .filter(col("record_type") === "response")
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("rec_id"),
          TextAnalysis.httpResponseDecoded(col("payload")).as("h"))
        .select(col("rec_id"), TextAnalysis.extractMarkup(col("h.body")).as("clean"))
      val keeps = graft.dedup.Dedup.exactGroups(recs, idCol = "rec_id", textCol = "clean")
      recs.join(keeps, recs("rec_id") === keeps("keep_id"))
        .select(col("rec_id").as("doc_id"), col("n_dups").cast("long").as("n_dups"),
          md5(encode(col("clean"), "UTF-8")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // POLITENESS-AWARE FETCH SCHEDULING (the step after the robots gate
    // in a crawl frontier): disallowed URLs drop, each host's survivors
    // serialize crawl_delay seconds apart in deterministic path order
    // (hosts proceed in parallel). Same corpus robots fixture as
    // robots_parse — graftbot's delay is 0.5 s and ids ending in 0 are
    // disallowed — so the oracle replays the whole schedule with one
    // window over the id-derived allow rule.
    "fetch_schedule" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "source")
      val corpusRobots =
        "User-agent: *\nDisallow: /doc/\nAllow: /doc/1\nCrawl-delay: 2\n\n" +
          "User-agent: graftbot\nAllow: /doc/\nDisallow: /doc/*0$\nCrawl-delay: 0.5\n"
      val robotsDf = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          lit(corpusRobots).as("robots"))
      val census = docs.select(
        concat(col("source"), lit(".example.com")).as("host"),
        concat(lit("/doc/"), col("doc_id")).as("path"))
      TextAnalysis.fetchSchedule(census, robotsDf, "graftbot")
        .orderBy("host", "path")
    }),

    // PER-LANGUAGE SEGMENTATION ahead of the tokenizer families: CJK
    // ideographs isolated with spaces (the BERT BasicTokenizer rule) so
    // whitespace pretokenization stops yielding whole-sentence "tokens"
    // on unspaced Chinese/Japanese; kana/hangul/Thai runs deliberately
    // stay joined (alphabets, not logographs). Planted mixed-script docs
    // exercise BMP + supplementary-plane ranges; the ASCII corpus arm
    // proves pass-through. The oracle REPLAYS the identical regexp chain
    // in DuckDB (explicit \x{...} ranges are the one class syntax both
    // engines parse identically) over planted texts reconstructed from
    // chr() calls — no precomputed constants.
    "segment_cjk" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val planted = cjkCases.toDF("doc_id", "text")
      val seg = TextAnalysis.segmentCjk(col("text"))
      docs.unionByName(planted)
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens_ws"),
          size(TextAnalysis.tokens(seg)).cast("long").as("n_tokens_seg"),
          md5(encode(seg, "UTF-8")).as("seg_md5"))
        .orderBy("doc_id")
    }),

    // ROBOTS.TXT (RFC 9309) + politeness join: the per-host robots table
    // broadcasts against the URL census and every census row gets
    // (allowed, winning rule, crawl_delay) for TWO agents — a named bot
    // (merged graftbot groups; longest-pattern precedence with the $/*
    // pattern forms) and an unmatched bot that must fall to the `*`
    // group. Planted probes pin the precedence corners: longest-match
    // beats shorter, allow wins exact ties, $ anchors, * wildcards,
    // same-agent groups merge across the file, agent matching is
    // case-insensitive, and a partial group member (newsbot) must NOT
    // inherit the sibling group's rules.
    "robots_parse" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select("doc_id", "source")
      val corpusRobots =
        "# corpus politeness rules\n" +
          "User-agent: *\nDisallow: /doc/\nAllow: /doc/1\nCrawl-delay: 2\n\n" +
          "User-agent: graftbot\nAllow: /doc/\nDisallow: /doc/*0$\nCrawl-delay: 0.5\n"
      val robotsDf = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          lit(corpusRobots).as("robots"))
      val census = docs.select(col("doc_id"),
        concat(col("source"), lit(".example.com")).as("host"),
        concat(lit("/doc/"), col("doc_id")).as("path"),
        lit("graftbot").as("agent"))
      val corpusOut = census.join(broadcast(robotsDf), "host")
      val fixture =
        "# precedence fixture\n" +
          "User-agent: graftbot\nUser-agent: newsbot\n" +
          "Disallow: /a/\nAllow: /a/b\nAllow: /t/\nCrawl-delay: 1.5\n\n" +
          "user-agent: graftbot\nDisallow: /c$\nDisallow: /t/\nDisallow: /w*z\n\n" +
          "User-agent: *\nDisallow: /\n"
      val probes = Seq(
        (900001L, "graftbot", "/a/b/c"), // allow /a/b (4) beats disallow /a/ (3)
        (900002L, "graftbot", "/a/x"), // disallow /a/
        (900003L, "graftbot", "/c"), // $-anchored disallow from the MERGED group
        (900004L, "graftbot", "/cc"), // /c$ must not match /cc: no rule -> allowed
        (900005L, "GraftBot", "/t/x"), // exact-length tie -> allow; case-insensitive agent
        (900006L, "graftbot", "/wxyz"), // * wildcard disallow
        (900007L, "newsbot", "/c")) // group-1 member only: no /c$ rule applies
        .toDF("doc_id", "agent", "path")
        .withColumn("robots", lit(fixture))
      corpusOut.select(col("doc_id"), col("robots"), col("agent"), col("path"))
        .unionByName(probes.select("doc_id", "robots", "agent", "path"))
        .select(col("doc_id"),
          TextAnalysis.robotsCheck(col("robots"), col("agent"), col("path")).as("b"),
          TextAnalysis.robotsCheck(col("robots"), lit("randombot"), col("path")).as("a"))
        .select(col("doc_id"),
          col("b.allowed").cast("long").as("bot_allowed"),
          col("b.rule").as("bot_rule"),
          col("b.crawl_delay").as("bot_delay"),
          col("a.allowed").cast("long").as("any_allowed"),
          col("a.rule").as("any_rule"),
          col("a.crawl_delay").as("any_delay"))
        .orderBy("doc_id")
    }),

    // WAT METADATA records (the JSON-envelope sidecar the public crawls
    // ship next to WARC segments — link graph + headers without payload
    // bytes): build one WAT envelope per document in-query, frame them
    // through the WARC source as metadata records, parse back with
    // parseWat, and extract page URL, title, outlink count, first link,
    // and the Container offset (the WarcFetch join key). parse(build(x))
    // must equal x, which the oracle derives from the documents rows;
    // planted rows: malformed JSON (parsed_ok = 0, not a crash) and a
    // non-HTML response whose HTML-Metadata is absent (null title,
    // 0 links, envelope still trusted).
    "wat_parse" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
        .as[(Long, String, Long)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("wat_q").toString
      def rec(id: Long, json: String): Array[Byte] =
        graft.sources.WarcFormat.buildRecord("metadata", s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z", "application/json",
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      def wat(id: Long, source: String, nChars: Long): String =
        s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":""" +
          s""""http://$source.example.com/doc/$id","WARC-Type":"response",""" +
          s""""WARC-Date":"2024-01-01T00:00:00Z"},"Payload-Metadata":""" +
          s"""{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"Doc $id"},""" +
          s""""Links":[{"path":"A@/href","url":"http://link.example.com/${2 * id}"},""" +
          s"""{"path":"IMG@/src","url":"http://img.example.com/$id.png"}]},""" +
          s""""Headers":{"Content-Type":"text/html"}}}},""" +
          s""""Container":{"Filename":"shard0.warc.gz","Offset":"$nChars"}}"""
      val noHtml =
        """{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":""" +
          """"http://x.example.com/nohtml","WARC-Type":"response",""" +
          """"WARC-Date":"2024-01-01T00:00:00Z"},"Payload-Metadata":""" +
          """{"HTTP-Response-Metadata":{"Headers":{"Content-Type":"application/pdf"}}}},""" +
          """"Container":{"Filename":"f","Offset":"7"}}"""
      val bytes = docs.flatMap { case (id, src, n) => rec(id, wat(id, src, n)) } ++
        rec(900001L, "{not json") ++
        rec(900002L, noHtml)
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "m.wat.warc"), bytes)
      val html = "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`"
      spark.read.format("warc").load(out)
        .filter(col("record_type") === "metadata")
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
          TextAnalysis.parseWat(col("payload").cast("string")).as("w"))
        .select(col("doc_id"),
          col("w.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`")
            .isNotNull.cast("long").as("parsed_ok"),
          col("w.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`").as("page_url"),
          col(s"$html.Head.Title").as("title"),
          coalesce(size(col(s"$html.Links")), lit(0)).cast("long").as("n_links"),
          get(col(s"$html.Links"), lit(0)).getField("url").as("first_link"),
          col("w.Container.Offset").cast("long").as("container_offset"))
        .orderBy("doc_id")
    }),

    // CDX-DRIVEN SELECTIVE FETCH: build archives + their CDX index
    // in-query (REAL offsets recorded at build time — plain shards use
    // raw byte offsets, the gz shard compressed member starts, the
    // CommonCrawl convention), select the status=200 subset from the
    // parsed index, and fetch ONLY those records through ranged reads
    // (WarcFetch seeks each offset and parses exactly one record —
    // bytes touched are proportional to the selection, not the corpus).
    // Interleaved metadata noise records push every response offset
    // mid-file, so a scan-from-zero implementation cannot pass. The
    // fetched subset must hash-match the full-scan subset, which the
    // oracle rebuilds from the same documents rows.
    "warc_fetch_cdx" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 400).as[(Long, String)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("warc_cdx_q").toString
      def payload(tx: String): Array[Byte] =
        s"<doc>$tx</doc>".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      def rec(id: Long, rtype: String, pl: Array[Byte]): Array[Byte] =
        graft.sources.WarcFormat.buildRecord(rtype, s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z", "text/plain", pl)
      val cdx = scala.collection.mutable.ArrayBuffer.empty[String]
      def cdxLine(id: Long, fname: String, off: Long, len: Long): String = {
        val status = if (id % 5 == 0) "404" else "200"
        s"""com,example)/p/$id 20240101000000 {"url": "http://example.com/p/$id",""" +
          s""" "mime": "text/plain", "status": "$status", "digest": "sha1:x",""" +
          s""" "length": "$len", "offset": "$off", "filename": "$fname"}"""
      }
      val shards = docs.groupBy { case (id, _) => (id % 3).toInt }
      (0 to 1).foreach { s =>
        val fname = s"shard$s.warc"
        val bos = new java.io.ByteArrayOutputStream()
        shards.getOrElse(s, Array.empty[(Long, String)]).foreach { case (id, tx) =>
          bos.write(rec(id + 700000, "metadata",
            "noise".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          val r = rec(id, "response", payload(tx))
          cdx += cdxLine(id, fname, bos.size().toLong, r.length.toLong)
          bos.write(r)
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(out, fname), bos.toByteArray)
      }
      locally {
        val fname = "shard2.warc.gz"
        val bos = new java.io.ByteArrayOutputStream()
        shards.getOrElse(2, Array.empty[(Long, String)]).foreach { case (id, tx) =>
          bos.write(graft.sources.WarcFormat.gzipMember(rec(id + 800000, "metadata",
            "noise".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
          val m = graft.sources.WarcFormat.gzipMember(rec(id, "response", payload(tx)))
          cdx += cdxLine(id, fname, bos.size().toLong, m.length.toLong)
          bos.write(m)
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(out, fname), bos.toByteArray)
      }
      val selected = cdx.toSeq.toDF("line")
        .select(TextAnalysis.parseCdxj(col("line")).as("c"))
        .filter(col("c.meta.status") === "200")
        .select(concat(lit(out + "/"), col("c.meta.filename")).as("path"),
          col("c.meta.offset").cast("long").as("offset"))
      graft.sources.WarcFetch.fetch(selected)
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("record_type"), col("content_length").as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // CHARSET SNIFF + DECODE over the raw ingest chain: bodies in
    // ISO-8859-1 / Shift_JIS / windows-1252 / UTF-16LE / BOM'd UTF-8 are
    // framed as HTTP responses inside WARC records and decoded via the
    // byte-level http_decode kernel (BOM, then header charset= param,
    // then the <meta> prescan, then UTF-8 validity, then windows-1252
    // fallback). Each planted body must recover the EXACT reference
    // string (oracle VALUES rows derive from the same shared fixture
    // list), and the pass-through arm proves UTF-8 corpus bytes come
    // back untouched.
    "charset_decode" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 150).as[(Long, String)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("charset_q").toString
      def rec(id: Long, envelope: Array[Byte]): Array[Byte] =
        graft.sources.WarcFormat.buildRecord("response", s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z",
          "application/http;msgtype=response", envelope)
      def env(ct: String, body: Array[Byte]): Array[Byte] =
        s"HTTP/1.1 200 OK\r\nServer: test/1.0\r\nContent-Type: $ct\r\n\r\n"
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ body
      val bytes = docs.flatMap { case (id, tx) =>
        rec(id, env("text/html", tx.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      } ++ charsetCases.flatMap(c => rec(c.id, env(c.ctHeader, c.body)))
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "r.warc"), bytes)
      spark.read.format("warc").load(out)
        .filter(col("record_type") === "response")
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
          TextAnalysis.httpResponseDecoded(col("payload")).as("h"))
        .select(col("doc_id"), col("h.status").as("status"),
          col("h.content_type").as("content_type"),
          col("h.charset").as("charset"),
          col("h.charset_source").as("charset_source"),
          length(col("h.body")).cast("long").as("n_chars"),
          md5(encode(col("h.body"), "UTF-8")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // STREAMING WARC ingest (readStream.format("warc")): offsets are
    // file-set snapshots, so each micro-batch processes exactly the files
    // that appeared since the last committed offset — no name-monotonic
    // or mtime assumption. The row runs TWO AvailableNow passes against
    // one checkpoint with the corpus split across them (wave 1: plain
    // shard of even ids; wave 2: gzip member-per-record shard of odd ids
    // + metadata noise the pushed filter drops); the union must equal the
    // batch read-back — warc_ingest's oracle shape over doc_id < 120.
    "stream_warc_ingest" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 120).as[(Long, String)].collect().sortBy(_._1)
      val wdir = java.nio.file.Files.createTempDirectory("warc_stream_q").toString
      val ckpt = java.nio.file.Files.createTempDirectory("warc_stream_ck").toString
      def payload(tx: String): Array[Byte] =
        s"<doc>$tx</doc>".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      def rec(id: Long, rtype: String, pl: Array[Byte]): Array[Byte] =
        graft.sources.WarcFormat.buildRecord(rtype, s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z", "text/plain", pl)
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      def runOnce(): Unit = runToCompletion(spark, spark.readStream.format("warc").load(wdir)
          .filter(col("record_type") === "response")
          .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
            col("content_length").as("n_bytes"), md5(col("payload")).as("payload_md5")),
          "warc_stream_", ckpt = Some(ckpt))(
        _.foreachBatch { (b: DataFrame, _: Long) =>
          rows.synchronized { rows ++= b.as[(Long, Long, String)].collect() }; ()
        })
      java.nio.file.Files.write(java.nio.file.Paths.get(wdir, "wave0.warc"),
        docs.filter(_._1 % 2 == 0).flatMap { case (id, tx) => rec(id, "response", payload(tx)) })
      runOnce()
      java.nio.file.Files.write(java.nio.file.Paths.get(wdir, "wave1.warc.gz"),
        docs.filter(_._1 % 2 == 1).flatMap { case (id, tx) =>
          graft.sources.WarcFormat.gzipMember(rec(id, "response", payload(tx))) ++
            graft.sources.WarcFormat.gzipMember(rec(id + 900000, "metadata",
              "meta".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        })
      runOnce()
      rows.toSeq.toDF("doc_id", "n_bytes", "payload_md5").orderBy("doc_id")
    }),

    // CONTINUOUS INGEST + UNBOUNDED DEDUP composed end-to-end: the
    // streaming WARC source feeds dedupExactSink inside one foreachBatch
    // — the shape a 100 TB crawl pipeline actually runs. Copies land in
    // wave 0, their originals (smaller ids!) only in wave 1 via a second
    // AvailableNow pass on the same checkpoint — past any watermark,
    // across a source restart — and the converged digest groups must
    // still equal the batch operator over the union.
    "stream_ingest_dedup" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 120).as[(Long, String)].collect().sortBy(_._1)
      val wdir = java.nio.file.Files.createTempDirectory("warc_sid_q").toString
      val ckpt = java.nio.file.Files.createTempDirectory("warc_sid_ck").toString
      val idxDir = java.nio.file.Files.createTempDirectory("warc_sid_idx").toString
      def rec(id: Long, tx: String): Array[Byte] =
        graft.sources.WarcFormat.buildRecord("conversion", s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z", "text/plain",
          tx.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val sink = graft.streaming.StreamingOps.dedupExactSink(spark, idxDir)
      def runOnce(): Unit = runToCompletion(spark, spark.readStream.format("warc").load(wdir)
          .filter(col("record_type") === "conversion")
          .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
            col("payload").cast("string").as("text")),
          "warc_sid_", ckpt = Some(ckpt))(
        _.foreachBatch((b: DataFrame, bid: Long) => sink(b, bid)))
      java.nio.file.Files.write(java.nio.file.Paths.get(wdir, "wave0.warc"),
        docs.filter(_._1 < 15).flatMap { case (id, tx) => rec(id + 100000, tx) })
      runOnce()
      java.nio.file.Files.write(java.nio.file.Paths.get(wdir, "wave1.warc"),
        docs.flatMap { case (id, tx) => rec(id, tx) })
      runOnce()
      graft.streaming.StreamingOps.dedupExactMaintained(spark, idxDir)
        .select(col("digest"), col("keep_id").cast("long").as("keep_id"),
          col("n_dups").cast("long").as("n_dups"))
        .orderBy("keep_id")
    }),

    // WARC WRITE path (the export half: curated corpus → archival
    // interchange format): write documents as WET-style conversion
    // records through df.write.format("warc") — gzip member-per-record,
    // 4 partition files — read back through the DSv2 read path, and
    // hash-match payloads + defaulted headers against the source rows.
    "warc_write" -> ((spark, dir) => {
      val out = java.nio.file.Files.createTempDirectory("warc_wr_q").toString
      t(spark, dir, "documents").filter(col("doc_id") < 300)
        .select(lit("conversion").as("record_type"),
          concat(lit("http://example.com/p/"), col("doc_id")).as("target_uri"),
          encode(col("text"), "UTF-8").as("payload"))
        .repartition(4)
        .write.format("warc").option("gzip", true).mode("overwrite").save(out)
      spark.read.format("warc").load(out)
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("record_type"), col("content_type"),
          col("content_length").as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // FULL INGEST PIPELINE: warc → extractMarkup → c4CleanLines → exact
    // dedup — the chain a raw-crawl corpus actually runs. Fixtures wrap
    // each document in real HTML (style block whose braces would
    // page-flag c4 if extraction didn't strip it FIRST — stage order is
    // load-bearing); doc_id < 15 also ships an exact-duplicate record
    // under a different URI (dedup must fold it, n_dups = 2) and
    // doc_id < 10 a request-type record (pushed filter must drop it).
    "pipeline_ingest" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 120).as[(Long, String)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("warc_pipe_q").toString
      val pre = "<html><head><title>Doc</title><style>p { margin: 0; }</style>" +
        "</head><body><p>This is a good line with punctuation.</p><p>"
      val post = ".</p><p>Tom &amp; Jerry win.</p></body></html>"
      def rec(id: Long, rtype: String, pl: Array[Byte]): Array[Byte] =
        graft.sources.WarcFormat.buildRecord(rtype, s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z", "application/http", pl)
      def payload(tx: String): Array[Byte] =
        (pre + tx + post).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (0 to 1).foreach { s =>
        val bytes = docs.filter(_._1 % 2 == s).flatMap {
          case (id, tx) => rec(id, "response", payload(tx))
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(out, s"f$s.warc"), bytes)
      }
      val gz = docs.filter(_._1 < 15).flatMap { case (id, tx) =>
        graft.sources.WarcFormat.gzipMember(rec(id + 500000, "response", payload(tx)))
      } ++ docs.filter(_._1 < 10).flatMap { case (id, _) =>
        graft.sources.WarcFormat.gzipMember(rec(id + 900000, "request",
          "GET /".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "f2.warc.gz"), gz)
      val recs = spark.read.format("warc").option("maxPartitionBytes", "8192").load(out)
        .filter(col("record_type") === "response")
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("rec_id"),
          col("payload").cast("string").as("html"))
      val c4 = recs
        .withColumn("c4", TextAnalysis.c4CleanLines(TextAnalysis.extractMarkup(col("html"))))
        .select(col("rec_id"), col("c4.clean_text").as("clean_text"),
          col("c4.n_kept").as("n_kept"), col("c4.page_dropped").as("page_dropped"))
        .filter(col("page_dropped") === 0)
      val keeps = graft.dedup.Dedup.exactGroups(c4, idCol = "rec_id", textCol = "clean_text")
      c4.join(keeps, c4("rec_id") === keeps("keep_id"))
        .select(col("rec_id").as("doc_id"), col("n_kept"), col("n_dups"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Curation with QUALITY-SCORED keepers (keepBestPerGroup composed
    // into the pipeline): planted near-dup copies carry a 3-token prefix,
    // so under token-count scoring the COPY wins each cluster and the
    // ORIGINAL is dropped — copied originals vanish from the output
    // (copies themselves lack embeddings and exit at the final join),
    // the exact inverse of pipeline_curate's min-id rule. Oracle: the
    // same recursive-CTE closure with the neardrop CTE switched to the
    // row_number argmax.
    "pipeline_curate_best" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate copy "), col("text")).as("text"))
      val all = docs.unionByName(copies)
      val scores = all.select(col("doc_id").as("id"),
        size(split(trim(col("text")), "\\s+")).cast("double").as("score"))
      graft.pipeline.Curation.curate(all, t(spark, dir, "embeddings"),
          keeperScores = Some(scores))
        .orderBy("doc_id")
    }),

    // Curation pipeline, embedding + LM stages: exact dedup → SEMANTIC
    // dedup (SemDeDup) → CCNet perplexity band → quality/lang filter →
    // embed join. The LSH near-dup stage is priced (and oracled) in
    // pipeline_curate above; this row prices the two stages no text
    // shingle can express. Planted "twins" have brand-new surface text
    // (textually unique — no dedup-by-text catches them) but carry their
    // original's exact embedding, so ONLY the semantic stage can drop
    // them; the CE band [0, 3.6] additionally cuts the high-perplexity
    // tail (the LM trains on the raw input corpus, so the oracle replays
    // it without any dedup fixpoint).
    "pipeline_curate_semantic" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      val e = t(spark, dir, "embeddings").select("vec_id", "embedding")
      val twins = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("paraphrase variant "), col("doc_id").cast("string"),
            lit(" with an entirely different surface form")).as("text"))
      val twinEmb = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 600000).as("vec_id"), col("embedding"))
      graft.pipeline.Curation.curate(
          docs.unionByName(twins), e.unionByName(twinEmb),
          nearDupThreshold = None,
          semanticThreshold = Some(0.1), semanticCells = 16,
          semanticSeeding = "first",
          ceBand = Some((0.0, 3.6)))
        .orderBy("doc_id")
    }),

    // Relational bench headliners
    "q1_agg" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem")
      l.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q3_join" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem")
      val o = t(spark, dir, "orders")
      val c = t(spark, dir, "customer")
      val n = t(spark, dir, "nation")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // BUCKETED CO-LOCATED JOIN — the technique for fact⋈fact joins a
    // pipeline repeats: both sides written once bucketed+sorted on the
    // join key (repartition(n, key) first — same murmur3 partitioning
    // as the bucket id — so each task owns exactly one bucket and each
    // bucket is one file), after which the sort-merge join needs ZERO
    // exchanges: the one-time layout cost amortizes across every later
    // key-join at 100 TB where a lineitem-sized shuffle is the
    // bottleneck. (Spark >= 3.1 re-sorts WITHIN partitions — it no
    // longer trusts write-time sortedness by default — but no data
    // moves.) The merge hint pins SMJ so the demonstration doesn't
    // silently degrade to a broadcast at small SF (BucketedJoinSpec
    // asserts the exchange-free plan; the oracle checks the numbers).
    "bucketed_join" -> ((spark, dir) => {
      // one FIXED per-process directory, wiped before each build: the
      // tables are external, so DROP TABLE alone would strand the
      // previous invocation's full bucketed fact copies in /tmp
      val base = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_bucketed_join")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
      if (java.nio.file.Files.exists(base)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(base)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
        finally walk.close()
      }
      val tmp = java.nio.file.Files.createDirectories(base).toString
      t(spark, dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
        .repartition(8, col("l_orderkey"))
        .write.option("path", s"$tmp/bl")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_bucketed_lineitem")
      t(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.option("path", s"$tmp/bo")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_bucketed_orders")
      spark.table("graft_bucketed_lineitem").hint("merge")
        .join(spark.table("graft_bucketed_orders").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),
    // Gap-based sessionization (30-min inactivity): lag window + cumulative
    // flag sum — the standard scalable sessionizer (shuffle on user_id only)
    "events_sessionize" -> ((spark, dir) => {
      val e = eventsNanos(spark, dir)
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val flagged = e.withColumn("prev_ts",
          lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull, 0L)
            .otherwise((col("ts") - col("prev_ts") > 1800000000000L).cast("long")))
      flagged.groupBy("user_id")
        .agg((sum("new_session") + 1).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Distinct aggregation (two-phase: partial distinct within partitions)
    "events_distinct_users" -> ((spark, dir) => {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val e = t(spark, dir, "events")
      e.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }),

    // §2.21 streaming ingestion, oracled: the SAME events land via a file
    // stream source → watermarked window aggregation → AvailableNow
    // trigger, and the converged result must hash-match the batch oracle.
    // Only the aggregated output (bounded by windows × event types) reaches
    // the driver via the memory sink; the aggregation state is distributed.
    "stream_events_window" -> ((spark, dir) =>
      streamEventsReplay(spark, dir)(
        graft.streaming.StreamingOps.windowedEventStats(_, "5 minutes", "10 minutes"))),

    // §2.21 sliding windows: 10-minute windows sliding every 5 — each event
    // lands in exactly two windows; the batch oracle unnests both buckets
    "stream_events_sliding" -> ((spark, dir) =>
      streamEventsReplay(spark, dir)(
        graft.streaming.StreamingOps.slidingEventStats(_, "10 minutes", "5 minutes", "10 minutes"))),

    // §2.21 STREAMING sessionization: Spark-native session_window state
    // merging over the replayed event stream must converge to the batch
    // gaps-and-islands answer (same `> gap` split rule — verified in
    // EdgeCasesSpec — with window end = last event + gap); µs time
    // arithmetic mirrors the oracle exactly
    "stream_sessionize" -> ((spark, dir) => {
      val stream = eventsStreamMicros(spark, dir)
      runStream(spark,
        graft.streaming.StreamingOps.sessionizedEventStats(stream, "30 minutes", "10 minutes"),
        "complete", "stream_sess_")
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("user_id", "start_us")
    }),

    // §2.21 watermarked stream-stream inner join: the event stream enriched
    // against itself as a bounded-skew attribute stream — every (event,
    // prior-event-of-same-user-within-10min) pair emits exactly once, so
    // the per-user pair count equals the batch range-join answer (both
    // engines compare µs-truncated times)
    "stream_join" -> ((spark, dir) => {
      // user subset: the per-user pair count is quadratic in window
      // occupancy — a bounded slice keeps the replay representative at any
      // SF (the oracle applies the same slice)
      val src = eventsStreamMicros(spark, dir)
        .filter(col("user_id") % 10 === 0)
      val events = src.select(col("ts"), col("user_id"), col("event_type"), col("value"))
      val users = src.select(col("ts").as("u_ts"), col("user_id"),
        (col("user_id") % 5).as("segment"))
      val joined = graft.streaming.StreamingOps.enrichedEvents(events, users, "10 minutes")
      runStream(spark, joined, "append", "stream_sj_")
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // §2.16+21 streaming exact dedup: documents (plus planted copies of
    // doc_id < 50) replay as a stream; dropDuplicatesWithinWatermark keeps
    // one row per content digest, so the emitted digest SET equals the
    // batch distinct-digest answer no matter which copy won the race
    "stream_dedup" -> ((spark, dir) => {
      val src = streamTable(spark, dir, "documents")
      val docs = src.select(explode(when(col("doc_id") < 50,
            array(struct(col("doc_id").as("doc_id"), col("text").as("text")),
              struct((col("doc_id") + 100000).as("doc_id"), col("text").as("text"))))
          .otherwise(array(struct(col("doc_id").as("doc_id"), col("text").as("text")))))
          .as("d"))
        .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
        // constant event time ABOVE the initial watermark (epoch 0): an
        // event at exactly the watermark is dropped as late, never emitted
        .withColumn("ts", timestamp_micros(lit(1700000000000000L)))
      val deduped = graft.streaming.StreamingOps.dedupStream(docs, "10 minutes")
      runStream(spark, deduped, "append", "stream_dd_")
        .select(col("digest")).distinct().orderBy("digest")
    }),

    // §2.21 continuous index maintenance end-to-end: the synthesized
    // mutation stream (upsert@v1 all ids, remove@v2 for ids ≡ 0 mod 7)
    // drives hnswMaintenanceSink via foreachBatch — composed through the
    // versionedOps cross-batch version store, so a stale version in a
    // later micro-batch can never resurrect an older vector (the
    // production shape; negative control in StreamingIndexSpec) — graphs
    // are created/updated/tombstoned on disk, then the SAVED graphs are
    // searched and recall-scored against the exact kNN over the surviving
    // ids. Closed-form oracle.
    // §2.21 continuous HNSW maintenance through the DELTA-LOG sink: each
    // micro-batch appends O(batch) versioned rows (no graph rewrite — the
    // in-place hnswMaintenanceSink form rewrites every touched partition
    // graph per batch, O(index) write amplification); an explicit
    // compaction folds the log into the per-partition base graphs with a
    // crash-recoverable double swap, leaving payload-less guard/tombstone
    // version memory. The post-compaction search serves from the base
    // graphs and is recall-gated against the exact oracle.
    "stream_hnsw_maintenance" -> ((spark, dir) => {
      val ops = graft.streaming.StreamingOps.versionedOps(spark, mutationOps(spark, dir))
      val idxDir = java.nio.file.Files.createTempDirectory("stream_hm_idx").toString
      val sink = graft.streaming.StreamingOps.hnswDeltaMaintenanceSink(
        spark, idxDir, 4, config = HnswConfig(ef = 100))
      runToCompletion(spark, ops, "stream_hm_", "update")(_.foreachBatch(sink))
      graft.streaming.StreamingOps.compactHnswMaintained(spark, idxDir)
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val approx = graft.streaming.StreamingOps.searchHnswMaintained(spark, idxDir, queries, 10)
      val exact = Knn.bruteForce(data.filter(col("id") % 7 =!= 0), queriesDf, 10, "euclidean")
      recallSummary(approx, exact, 10, minHits = 9)
    }),

    // §2.18+21 continuous IVF maintenance: the same mutation stream drives
    // ivfMaintenanceSink (assign-to-fixed-centroids, versioned cell-
    // partitioned deltas, cell-less tombstones) via foreachBatch; the
    // converged maintained view is searched and compared ROW-FOR-ROW
    // against the batch IVF answer over the surviving vectors with the
    // same centroids — assignment is a pure function of (vector,
    // centroids), so equality is exact, and the oracle is closed-form.
    "stream_ivf_maintenance" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val idxDir = java.nio.file.Files.createTempDirectory("stream_im_idx").toString
      val sink = graft.streaming.StreamingOps.ivfMaintenanceSink(spark, idxDir, centroids)
      // the raw sink (no versionedOps stage): the delta log is itself
      // versioned, so ivfMaintainedState's latest-wins view absorbs
      // within-stream reordering — the cross-batch version-store
      // composition is proven by the HNSW row and StreamingIndexSpec
      runToCompletion(spark, mutationOps(spark, dir), "stream_im_")(_.foreachBatch(sink))
      val maintained = graft.streaming.StreamingOps
        .searchIvfMaintained(spark, idxDir, queries, k = 10, nprobe = 4)
      val surviving = data.filter(col("id") % 7 =!= 0)
      val batch = Ivf.search(spark, Ivf.assign(spark, surviving, centroids), centroids,
        queries, k = 10, nprobe = 4)
      val same = maintained.select(col("qid"), col("id"), col("rank"))
        .join(batch.select(col("qid"), col("id"), col("rank")), Seq("qid", "id", "rank"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_as_batch"))
      maintained.select(col("qid"), col("id"))
        .groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(same, Seq("qid"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"), col("n_same_as_batch"))
        .orderBy("qid")
    }),

    // §2.21 TIME-TRAVEL read of a maintained IVF index: the delta log is a
    // versioned append-only history, so `asOf = v` reconstructs the exact
    // assignment the index served at mutation version v — here v=1, BEFORE
    // the v2 tombstones, so the as-of search must equal batch IVF over the
    // FULL corpus (including every later-removed id) row-for-row, while
    // the current view serves only survivors. Closed-form oracle:
    // n_same_as_full = k per query on any data.
    "stream_ivf_asof" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 16, iterations = 1)
      val idxDir = java.nio.file.Files.createTempDirectory("stream_asof_idx").toString
      val sink = graft.streaming.StreamingOps.ivfMaintenanceSink(spark, idxDir, centroids)
      runToCompletion(spark, mutationOps(spark, dir), "stream_asof_")(_.foreachBatch(sink))
      val asOf = graft.streaming.StreamingOps
        .searchIvfMaintained(spark, idxDir, queries, k = 10, nprobe = 4, asOf = Some(1L))
      val batchFull = Ivf.search(spark, Ivf.assign(spark, data, centroids), centroids,
        queries, k = 10, nprobe = 4)
      val same = asOf.select(col("qid"), col("id"), col("rank"))
        .join(batchFull.select(col("qid"), col("id"), col("rank")),
          Seq("qid", "id", "rank"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_as_full"))
      asOf.select(col("qid"), col("id"))
        .groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(same, Seq("qid"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"), col("n_same_as_full"))
        .orderBy("qid")
    }),

    // §2.21 ORGANIC DRIFT LOOP: the corpus migrates (every vector
    // re-upserted +8 per dim), the sink keeps assigning correctly so
    // cell-mismatch drift stays blind, but the quantization error
    // explodes past the recorded reference — retrainIfQuantDrifted fires
    // (mini-batch sampled train), re-baselines, and the rebuilt index's
    // search must equal batch IVF with the retrained centroids
    // row-for-row (assignment purity). gate_proven folds the whole
    // protocol: quiet before migration (ratio ~1, no retrain), fired
    // after (ratio > 2, retrain ran), positive reference.
    "stream_ivf_retrain" -> ((spark, dir) => {
      import spark.implicits._
      val so = graft.streaming.StreamingOps
      // protocol row: the gate/retrain/equality proof is corpus-size-free,
      // so bound the fixture (the full-corpus throughput cost of retrain
      // is priced in BenchScale's 5M sweep, not here). The EAGER protocol
      // phases (train, quant scans, gated retrain) run under the
      // streaming partition count — a dozen 800-row jobs at 32 shuffle
      // partitions would pay pure task-scheduling overhead; layout
      // invariance of every operator is a swept property, so the result
      // is unchanged.
      withStreamParts(spark) {
      val (dataAll, _) = knnInputs(spark, dir, 5)
      val data = dataAll.filter(col("id") < 800).persist()
      val c0 = Ivf.train(spark, data, c = 8, iterations = 1)
      val idxDir = java.nio.file.Files.createTempDirectory("stream_ir_idx").toString
      val sink = so.ivfMaintenanceSink(spark, idxDir, c0)
      def ops(df: DataFrame, version: Long) = df
        .select(col("id"), lit("upsert").as("op"),
          col("vector").cast("array<float>").as("vector"), lit(version).as("version"))
        .as[graft.streaming.StreamingOps.VectorOp]
      sink(ops(data, 1L), 0L)
      val refErr = so.markIvfQuantReference(spark, idxDir)
      val (r0, ran0) = so.retrainIfQuantDrifted(spark, idxDir, maxErrRatio = 2.0)
      val shifted = data.select(col("id"),
        transform(col("vector"), x => x + lit(8.0f)).as("vector")).persist()
      data.unpersist()
      sink(ops(shifted, 2L), 1L)
      // one k-means pass over a half subsample: the proof needs A retrain
      // to run and re-baseline, not a converged quantizer
      val (r1, ran1) = so.retrainIfQuantDrifted(spark, idxDir, maxErrRatio = 2.0,
        iterations = 1, sampleFraction = 0.5)
      val (_, newCentroids) = Ivf.loadQuantizer(spark, idxDir)
      val queries = shifted.filter(col("id") < 5)
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      // the equality arms also run (and MATERIALIZE, via the persist +
      // count below) inside the low-partition block: the joins are
      // 5-query-sized, so evaluating them lazily at the session's 32
      // shuffle partitions would pay pure task-scheduling overhead
      val maintained = so.searchIvfMaintained(spark, idxDir, queries, k = 10, nprobe = 4)
      val batch = Ivf.search(spark, Ivf.assign(spark, shifted, newCentroids),
        newCentroids, queries, k = 10, nprobe = 4)
      val same = maintained.select(col("qid"), col("id"), col("rank"))
        .join(batch.select(col("qid"), col("id"), col("rank")),
          Seq("qid", "id", "rank"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_as_batch"))
      val gate = lit(if (!ran0 && math.abs(r0 - 1.0) < 1e-9 && ran1 && r1 > 2.0 &&
        refErr > 0.0) 1L else 0L)
      val out = maintained.select(col("qid"), col("id"))
        .groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(same, Seq("qid"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"),
          col("n_same_as_batch"), gate.as("gate_proven"))
        .orderBy("qid")
        .persist()
      out.count()
      shifted.unpersist()
      out
        }
    }),

    // §2.21 TIME-TRAVEL read of a delta-maintained HNSW index — the IVF
    // as-of row's twin: the delta sink keeps a FULL (id, version) history,
    // so `asOf = 1` reconstructs the pre-tombstone state. Before any
    // compaction the base graphs are empty and the whole as-of view is
    // served by the delta's EXACT scan, so the search must equal exact
    // brute-force kNN over the FULL corpus (including every later-removed
    // id) ROW-FOR-ROW — n_same_as_full = k, closed-form oracle. (Horizon
    // refusal + post-compaction as-of serving are gated in
    // StreamingIndexSpec.)
    "stream_hnsw_asof" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 5)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val idxDir = java.nio.file.Files.createTempDirectory("stream_hasof_idx").toString
      val sink = graft.streaming.StreamingOps.hnswDeltaMaintenanceSink(
        spark, idxDir, 4, config = HnswConfig(ef = 100))
      runToCompletion(spark, mutationOps(spark, dir), "stream_hasof_", "update")(
        _.foreachBatch(sink))
      val asOf = graft.streaming.StreamingOps
        .searchHnswMaintained(spark, idxDir, queries, 10, asOf = Some(1L))
      val exactFull = Knn.bruteForce(data, queriesDf, 10, "euclidean")
      val same = asOf.select(col("qid"), col("id"), col("rank"))
        .join(exactFull.select(col("qid"), col("id"), col("rank")),
          Seq("qid", "id", "rank"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_as_full"))
      asOf.select(col("qid"), col("id"))
        .groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(same, Seq("qid"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"), col("n_same_as_full"))
        .orderBy("qid")
    }),

    // §2.18+21+24 continuous IVF×PQ maintenance — the delta log at the
    // m-bytes-per-vector tier: each micro-batch's upserts assign against
    // the frozen centroids AND PQ-encode against the frozen codebooks
    // (here with stored vectors, the rescore-capable 4·dim+m layout; the
    // codes-only m-byte configuration is gated in StreamingIndexSpec).
    // Codes are a pure function of (vector, centroids, books), so the
    // converged maintained ADC search must equal the batch IVFADC answer
    // over the surviving vectors ROW-FOR-ROW — n_same_as_batch = k on any
    // data, closed-form oracle.
    "stream_ivf_pq_maintenance" -> ((spark, dir) => {
      val (data, queriesDf) = knnInputs(spark, dir, 3)
      val queries = queriesDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val centroids = Ivf.train(spark, data, c = 8, iterations = 1)
      val assigned = Ivf.assign(spark, data, centroids)
      val cb = graft.knn.Pq.trainResidual(spark, assigned, centroids, m = 8, ksub = 16,
        iterations = 1, sampleCap = 2000, seeding = "first")
      val idxDir = java.nio.file.Files.createTempDirectory("stream_ipm_idx").toString
      val sink = graft.streaming.StreamingOps.ivfPqMaintenanceSink(spark, idxDir, centroids, cb,
        residual = true, storeVectors = true)
      runToCompletion(spark, mutationOps(spark, dir), "stream_ipm_")(_.foreachBatch(sink))
      val maintained = graft.streaming.StreamingOps
        .searchIvfPqMaintained(spark, idxDir, queries, k = 10, nprobe = 4)
      val surviving = data.filter(col("id") % 7 =!= 0)
      val batch = graft.knn.Pq.searchIvfPqResidual(spark,
        graft.knn.Pq.encodeResidual(Ivf.assign(spark, surviving, centroids), centroids, cb),
        centroids, cb, queries, k = 10, nprobe = 4)
      val same = maintained.select(col("qid"), col("id"), col("rank"))
        .join(batch.select(col("qid"), col("id"), col("rank")), Seq("qid", "id", "rank"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_same_as_batch"))
      maintained.select(col("qid"), col("id"))
        .groupBy("qid").agg(count(lit(1)).as("n_results"))
        .join(same, Seq("qid"))
        .select(col("qid"), lit(10L).as("k"), col("n_results"), col("n_same_as_batch"))
        .orderBy("qid")
    }),

    // §2.15+21 stateful streaming upserts (mapGroupsWithState): the
    // embeddings table replays as a mutation stream — an upsert@v1 for
    // every id, plus a remove@v2 for ids ≡ 0 (mod 7) — through
    // latestVectorState; the final state per id (highest version wins,
    // tombstone on remove) is closed-form predictable from the source
    // table, so the oracle is exact regardless of micro-batch boundaries.
    "stream_vector_state" -> ((spark, dir) => {
      val state = graft.streaming.StreamingOps.latestVectorState(spark, mutationOps(spark, dir)).toDF()
      // update mode may emit an id once per micro-batch touching it; the
      // final state is the highest-version row per id (deterministic
      // whatever the batch boundaries were)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("version").desc)
      runStream(spark, state, "update", "stream_vs_")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("id"), col("version"),
          col("deleted").cast("long").as("deleted"),
          size(col("vector")).cast("long").as("dim"))
        .orderBy("id")
    }),

    "events_window" -> ((spark, dir) => {
      // bucket with exact integer division on epoch nanos (ts div 3e11 ==
      // floor(epoch_seconds/300) for positive ts), whichever way the
      // parquet encoded the timestamp
      val e = eventsNanos(spark, dir)
      e.groupBy(
          col("event_type"),
          expr("ts div 300000000000").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type", "bucket")
    }),

    // Deterministic manifest-guarded training-shard export: write → full
    // content verification (file completeness + per-shard digest
    // recompute) → per-shard counts. Shard membership is the same
    // engine-portable md5 rule as the sampling rows, so the oracle
    // recomputes the exact per-shard counts; the digest/tamper machinery
    // is gated in ShardsSpec.
    "export_shards" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val out = java.nio.file.Files.createTempDirectory("graft_shards").toString + "/exp"
      graft.ops.Shards.write(docs, out, "doc_id", nShards = 8)
      graft.ops.Shards.validate(spark, out)
        .select(col("shard").cast("long").as("shard"), col("n_rows"))
        .orderBy("shard")
    }),

    // Z-order (Morton) clustering key over (user_id, ts) — the layout
    // lever that lets parquet min/max stats prune range predicates on
    // EITHER column after a re-layout. The key arithmetic (exact min/max
    // aggregate → 8-bit min–max ranks → bit interleave) is pure
    // integer/double math, replayed exactly by the oracle; the layout
    // operator itself (repartitionByRange + sortWithinPartitions on this
    // key) is gated in LayoutSpec on measured per-partition span
    // shrinkage.
    "zorder_key" -> ((spark, dir) => {
      val e = eventsNanos(spark, dir)
      val r = e.agg(
        min(col("user_id").cast("double")), max(col("user_id").cast("double")),
        min(col("ts").cast("double")), max(col("ts").cast("double"))).head()
      e.select(col("event_id"),
          graft.ops.Layout.zvalue(Seq(col("user_id"), col("ts")),
            Seq(r.getDouble(0), r.getDouble(2)), Seq(r.getDouble(1), r.getDouble(3)),
            bits = 8).as("zvalue"))
        .orderBy("event_id")
    }),

    // AS-OF join (one key-partitioned window pass, no inequality join):
    // each purchase enriched with the same user's most recent view at or
    // before it, voided past a 1-hour tolerance — the temporal-enrichment
    // operator Spark lacks natively. The oracle replays the identical
    // union+running-last formulation in DuckDB window SQL.
    "asof_join" -> ((spark, dir) => {
      val e = eventsNanos(spark, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"), col("value"))
      graft.ops.Temporal.asofJoin(purchases, views, "user_id", "ts", "view_id",
          payload = Seq("view_id", "value"), tolerance = Some(3600000000000L))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_view_id").as("view_id"),
          round(col("asof_value"), 4).as("view_value"),
          (col("ts") - col("asof_ts")).as("lag_ns"))
        .orderBy("event_id")
    }),

    // Bucketed point-in-interval join: sessions materialized from the
    // full event stream (gap 30 min), error events joined INTO the
    // session that contains them by (user, time-bucket) EQUI-join +
    // containment filter — never the nested-loop range join. Deriving
    // sessions from ALL events keeps the row non-vacuous at every scale
    // factor (every error is inside its own session by construction; the
    // interesting part is that the bucketed join finds exactly the
    // containing ones). The oracle derives the same sessions with
    // gaps-and-islands SQL and a plain BETWEEN join (exact at test scale).
    "interval_join" -> ((spark, dir) => {
      val e = eventsNanos(spark, dir)
      val sessions = graft.ops.Temporal.sessionize(
        e, "user_id", "ts", "event_id", gap = 1800000000000L)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.Temporal.intervalJoin(errors, sessions, "user_id", "ts",
          "start_ts", "end_ts", bucket = 3600000000000L,
          payload = Seq("session", "n_events"), maxBucketsPerInterval = 1 << 20)
        .select(col("user_id"), col("ivl_session").as("session"),
          col("event_id"), col("ivl_n_events").as("n_sess_events"))
        .orderBy("user_id", "session", "event_id")
    }),

    // REGISTERED DOMAIN (eTLD+1) over the URL census — the key every
    // per-domain policy (caps, priors, politeness grouping) hangs off.
    // Planted URLs pin each branch of the PSL longest-match cascade:
    // a 2-label ccTLD registry (bbc.co.uk), a private registry one level
    // down (github.io), a 3-label private suffix (s3.amazonaws.com, and
    // blogspot.co.uk), a BARE suffix host and a single label and an IPv4
    // literal (all NULL — no registrant exists), the PSL default `*`
    // rule (unknowntld), ports, trailing dots, and deep subdomain chains
    // collapsing to the same eTLD+1.
    "registered_domain" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val planted = Seq(
        (910001L, "see https://news.BBC.co.uk/stories and https://a.b.github.io/page"),
        (910002L, "bare suffix http://co.uk/ and single http://localhost/x"),
        (910003L, "ip http://192.168.0.1/p port https://www.Example.co.uk:8080/q"),
        (910004L, "unknown tld https://foo.bar.unknowntld/z bucket http://media.s3.amazonaws.com/k"),
        (910005L, "deep https://a.b.c.d.example.com/w three http://x.blogspot.co.uk/t and dot https://example.com./r"))
        .toDF("doc_id", "text")
      docs.unionByName(planted)
        .select(explode(TextAnalysis.links(col("text"))).as("url"))
        .select(lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1)).as("host"))
        .groupBy("host").agg(count(lit(1)).as("n_urls"))
        .select(col("host"),
          TextAnalysis.registeredDomain(col("host")).as("registered_domain"),
          col("n_urls"))
        .orderBy("host")
    }),

    // PER-DOMAIN CAP (the RefinedWeb curation rule: no registered domain
    // may dominate the corpus) — the URL census keyed by eTLD+1, at most
    // `quota` URLs kept per domain, membership by the same deterministic
    // md5 order every sampler here uses (WindowGroupLimit bounds the
    // per-group shuffle; a hot domain sheds its overflow in the partial
    // rank, not on one executor). Planted: 40 URLs across subdomains of
    // ONE registered domain (hot.co.uk — all collapse to one key and only
    // 8 survive) next to an under-quota domain that passes through whole.
    "domain_cap" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val hot = (0 until 40).map(i =>
        (920000L + i, s"crawl https://a$i.hot.co.uk/page/$i now"))
      val cool = (0 until 5).map(i =>
        (921000L + i, s"keep https://s$i.example.org/doc/$i too"))
      val planted = (hot ++ cool).toDF("doc_id", "text")
      val census = docs.unionByName(planted)
        .select(explode(TextAnalysis.links(col("text"))).as("url"))
        .select(col("url"),
          lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1)).as("host"))
        .distinct()
        .withColumn("domain", TextAnalysis.registeredDomain(col("host")))
        .filter(col("domain").isNotNull)
      graft.ops.Sampling.sampleQuota(census, "url", "domain", quota = 8)
        .select(col("domain"), col("url"))
        .orderBy("domain", "url")
    }),

    // HOST-LEVEL PAGERANK (Page et al. 1999) — the crawl-graph quality
    // prior, by power iteration with a FIXED 10 rounds so the oracle
    // unrolls the identical arithmetic (one CTE per round). The host
    // graph derives deterministically from the corpus (each doc links
    // its residue-class host to two arithmetic neighbors — dense enough
    // that rank differentiates), plus a planted pure SINK host with no
    // out-edges: the dangling-mass redistribution arm is load-bearing,
    // not decorative (drop it and total rank leaks, every value shifts).
    // Ranks round at 6dp only at the END — both engines run the same
    // per-edge rank/deg divisions and differ only by summation order.
    "pagerank_hosts" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
      val src = concat(lit("h"), (col("doc_id") % 53).cast("string"))
      val e1 = docs.select(src.as("src"),
        concat(lit("h"), ((col("doc_id") * 7 + 3) % 53).cast("string")).as("dst"))
      val e2 = docs.select(src.as("src"),
        concat(lit("h"), ((col("doc_id") + col("n_chars")) % 53).cast("string")).as("dst"))
      val e3 = docs.filter(col("doc_id") < 5)
        .select(src.as("src"), lit("sink.example.com").as("dst"))
      graft.ops.Graph.pagerank(e1.unionByName(e2).unionByName(e3),
          iterations = 10, damping = 0.85)
        .select(col("node").as("host"), round(col("rank"), 6).as("rank"))
        .orderBy("host")
    }),

    // HOST-GRAPH CONNECTED COMPONENTS — the crawl-frontier partitioner
    // (mirror detection, per-component politeness domains), REUSING the
    // near-dup pointer-doubling CC on hosts mapped through the standard
    // 60-bit md5 id (the oracle maps with the SAME hash, so even a
    // collision — ~2^-40 at this cardinality — cannot diverge the two
    // engines). Edges stay inside each decade of the residue space by
    // construction (>= 10 components, not one giant blob), plus a planted
    // isolated pair that must come back as its own component.
    "host_components" -> ((spark, dir) => {
      import spark.implicits._
      val a = col("doc_id") % 100
      val edges = t(spark, dir, "documents")
        .select(concat(lit("h"), a.cast("string")).as("src"),
          concat(lit("h"), (a - (a % 10) + (a * 7) % 10).cast("string")).as("dst"))
        .unionByName(Seq(("lonely1.example.com", "lonely2.example.com")).toDF("src", "dst"))
      val hid = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val hosts = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host"))).distinct()
        .withColumn("hid_", hid(col("host")))
      val comp = graft.dedup.Dedup.connectedComponents(
        edges.select(hid(col("src")).as("doc_a"), hid(col("dst")).as("doc_b")))
      comp.join(hosts, comp("id") === hosts("hid_"))
        .select(col("host"), col("group_id"))
        .join(hosts.select(col("host").as("root_host"), col("hid_").as("gid_")),
          col("group_id") === col("gid_"))
        .select(col("host"), col("root_host"))
        .orderBy("host")
    }),

    // HTTP WIRE ENCODINGS over the raw ingest chain: crawlers capture
    // responses AS TRANSMITTED, so real WARC payloads arrive chunked
    // and/or gzip/deflate-compressed — skipping the unwrap feeds
    // chunk-size lines and compressed bytes into every digest and
    // tokenizer downstream. Planted cases pin every decode path (CRLF +
    // bare-LF chunking with extensions and trailers, gzip/x-gzip/
    // multi-member, zlib AND raw deflate, the chunked∘gzip stack, the
    // full chunked∘gzip∘Shift_JIS composition) AND every documented
    // tolerance (mid-chunk truncation keeps the exact byte prefix, a
    // lying Content-Encoding is skipped, malformed framing keeps raw
    // bytes, brotli nulls the body rather than leak compressed bytes as
    // text) — the `encoding` column makes each one hash-visible. The
    // corpus arm proves unencoded bodies pass through as 'identity'.
    "http_encodings" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 150).as[(Long, String)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("enc_q").toString
      def rec(id: Long, envelope: Array[Byte]): Array[Byte] =
        graft.sources.WarcFormat.buildRecord("response", s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z",
          "application/http;msgtype=response", envelope)
      def env(headers: Seq[String], body: Array[Byte]): Array[Byte] =
        ("HTTP/1.1 200 OK" +: "Server: test/1.0" +: headers)
          .mkString("", "\r\n", "\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ body
      val bytes = docs.flatMap { case (id, tx) =>
        rec(id, env(Seq("Content-Type: text/plain"),
          tx.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      } ++ encodingCases.flatMap(c => rec(c.id, env(c.headers, c.body)))
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "e.warc"), bytes)
      spark.read.format("warc").load(out)
        .filter(col("record_type") === "response")
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("doc_id"),
          TextAnalysis.httpResponseDecoded(col("payload")).as("h"))
        .select(col("doc_id"), col("h.status").as("status"),
          col("h.encoding").as("encoding"),
          col("h.charset").as("charset"),
          length(col("h.body")).cast("long").as("n_chars"),
          md5(encode(col("h.body"), "UTF-8")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // WARC REVISIT RESOLUTION — the crawl-level dedup convention: a
    // recrawl whose payload digest matches an earlier capture is stored
    // as a payload-LESS `revisit` record carrying WARC-Payload-Digest +
    // WARC-Refers-To (the CommonCrawl identical-payload-digest profile),
    // and downstream consumers must JOIN it back to a concrete capture
    // to recover the content. Exercises the source's new `headers` map
    // column (extension headers the fixed schema doesn't carry).
    // Resolution is by DIGEST, to the EARLIEST capture (min doc id) —
    // deterministic when one payload was captured twice (planted: ids
    // 0-9 have a duplicate capture at id+400000, so n_candidates = 2 and
    // the revisit must pick the original, not the recapture). A planted
    // dangling revisit (digest matching nothing) must surface with a
    // null resolution, not vanish. refers_ok cross-checks the resolved
    // record id against WARC-Refers-To where present.
    "warc_revisit" -> ((spark, dir) => {
      import spark.implicits._
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 80).as[(Long, String)].collect().sortBy(_._1)
      val out = java.nio.file.Files.createTempDirectory("revisit_q").toString
      def md5hex(b: Array[Byte]): String = java.security.MessageDigest.getInstance("MD5")
        .digest(b).map(x => f"$x%02x").mkString
      def payload(tx: String): Array[Byte] =
        s"<doc>$tx</doc>".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      def resp(id: Long, pl: Array[Byte]): Array[Byte] =
        graft.sources.WarcFormat.buildRecord("response", s"<urn:uuid:$id>",
          s"http://example.com/p/$id", "2024-01-01T00:00:00Z", "text/plain", pl,
          extraHeaders = Seq("WARC-Payload-Digest" -> s"md5:${md5hex(pl)}"))
      def revisit(id: Long, digest: String, refersTo: String): Array[Byte] =
        graft.sources.WarcFormat.buildRecord("revisit", s"<urn:uuid:$id>",
          s"http://example.com/r/$id", "2024-02-01T00:00:00Z", "text/plain",
          Array.empty[Byte],
          extraHeaders = Seq(
            "WARC-Payload-Digest" -> digest,
            "WARC-Profile" -> "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest") ++
            (if (refersTo != null) Seq("WARC-Refers-To" -> refersTo) else Nil))
      val bytes = docs.flatMap { case (id, tx) => resp(id, payload(tx)) } ++
        docs.filter(_._1 < 10).flatMap { case (id, tx) => // duplicate captures
          resp(id + 400000, payload(tx))
        } ++
        docs.filter(_._1 < 20).flatMap { case (id, tx) => // revisits
          revisit(id + 500000, s"md5:${md5hex(payload(tx))}", s"<urn:uuid:$id>")
        } ++
        revisit(599999L, "md5:" + "0" * 32, null) // dangling: resolves to nothing
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "v.warc"), bytes)
      val all = spark.read.format("warc").load(out)
      val captures = all.filter(col("record_type") === "response")
        .select(regexp_extract(col("target_uri"), "p/([0-9]+)$", 1).cast("long").as("cap_id"),
          col("record_id").as("cap_record_id"),
          col("headers").getItem("warc-payload-digest").as("digest"),
          md5(col("payload")).as("payload_md5"))
        // earliest capture per digest + candidate count: digest-keyed
        // partial agg, digest-cardinality result
        .groupBy("digest")
        .agg(min(struct(col("cap_id"), col("cap_record_id"), col("payload_md5"))).as("c"),
          count(lit(1)).as("n_candidates"))
        .select(col("digest"), col("c.cap_id").as("orig_id"),
          col("c.cap_record_id").as("orig_record_id"),
          col("c.payload_md5").as("payload_md5"), col("n_candidates"))
      all.filter(col("record_type") === "revisit")
        .select(regexp_extract(col("target_uri"), "r/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("headers").getItem("warc-payload-digest").as("digest"),
          col("headers").getItem("warc-refers-to").as("refers_to"))
        .join(captures, Seq("digest"), "left")
        .select(col("doc_id"), col("orig_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("payload_md5"),
          when(col("refers_to").isNull, lit(-1L))
            .otherwise((col("refers_to") === col("orig_record_id")).cast("long"))
            .as("refers_ok"))
        .orderBy("doc_id")
    }),

    // CDX SNAPSHOT DIFF — the incremental-crawl planner's core question:
    // between two crawl indexes, which URLs are NEW (fetch), GONE
    // (tombstone), CHANGED (digest moved — refetch), UNCHANGED (skip)?
    // Both snapshots are real CDXJ lines built in-query and parsed back
    // through parseCdxj (the production path), then ONE full-outer join
    // on the SURT key classifies every URL. Snapshot A covers ids 0-399,
    // B covers 50-499 with every id%7==0 digest rotated — all four
    // classes non-empty by construction.
    "cdx_diff" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      def cdxLines(df: DataFrame, ts: String, digest: Column): DataFrame =
        df.select(concat(
          lit("com,example)/p/"), col("doc_id").cast("string"),
          lit(s" $ts "),
          lit("{\"url\": \"http://example.com/p/"), col("doc_id").cast("string"),
          lit("\", \"digest\": \"md5:"), digest,
          lit("\", \"status\": \"200\"}")).as("line"))
      def parsed(df: DataFrame, as: String): DataFrame =
        df.select(TextAnalysis.parseCdxj(col("line")).as("c"))
          .select(col("c.surt_key").as("surt"), col("c.meta.digest").as(as))
      val a = cdxLines(docs.filter(col("doc_id") < 400), "20240101000000",
        md5(encode(col("text"), "UTF-8")))
      val b = cdxLines(docs.filter(col("doc_id") >= 50), "20240201000000",
        when(col("doc_id") % 7 === 0,
          md5(encode(concat(col("text"), lit("v2")), "UTF-8")))
          .otherwise(md5(encode(col("text"), "UTF-8"))))
      parsed(a, "digest_a").join(parsed(b, "digest_b"), Seq("surt"), "full_outer")
        .select(col("surt"),
          when(col("digest_a").isNull, "added")
            .when(col("digest_b").isNull, "gone")
            .when(col("digest_a") === col("digest_b"), "unchanged")
            .otherwise("changed").as("status"),
          col("digest_a"), col("digest_b"))
        .orderBy("surt")
    }),

    // SITEMAP PARSING (sitemaps.org) — the discovery half of the
    // politeness surface: robots.txt names sitemaps, sitemaps seed the
    // frontier. One per-source urlset is BUILT from the corpus (entries
    // concatenated in doc_id order on both engines), plus planted files
    // pinning the corners: a sitemapindex (is_index=1, nested <sitemap>
    // entries), whitespace-padded <loc>, XML entities in loc (&amp;
    // decoded LAST), absent lastmod/changefreq/priority (null, not
    // empty-string, and NO silent 0.5 default). The oracle replays the
    // IDENTICAL RE2-safe extraction chain.
    "sitemap_parse" -> ((spark, dir) => {
      import spark.implicits._
      val entries = t(spark, dir, "documents").select(
        col("source"), col("doc_id"),
        concat(lit("<url><loc>https://crawl.example.com/d/"),
          col("doc_id").cast("string"),
          lit("</loc><lastmod>2024-01-"),
          lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
          lit("</lastmod><priority>0."),
          (col("doc_id") % 10).cast("string"),
          lit("</priority></url>")).as("e"))
      val corpusXml = entries.groupBy("source")
        .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
          array_join(transform(array_sort(collect_list(struct(col("doc_id"), col("e")))),
            x => x.getField("e")), ""),
          lit("</urlset>")).as("xml"))
      val planted = Seq(
        ("planted_ws", "<urlset><url><loc>  https://ws.example.com/a \n</loc>" +
          "<changefreq>daily</changefreq></url>" +
          "<url><loc>https://ws.example.com/b&amp;c=1&lt;2</loc></url></urlset>"),
        ("planted_index", "<sitemapindex><sitemap>" +
          "<loc>https://example.com/sitemap1.xml.gz</loc>" +
          "<lastmod>2024-02-03</lastmod></sitemap>" +
          "<sitemap><loc>https://example.com/sitemap2.xml.gz</loc></sitemap>" +
          "</sitemapindex>"))
        .toDF("source", "xml")
      corpusXml.unionByName(planted)
        .select(col("source"), TextAnalysis.parseSitemap(col("xml")).as("s"))
        .select(col("source"), col("s.is_index").cast("long").as("is_index"),
          explode(col("s.entries")).as("u"))
        .select(col("source"), col("is_index"), col("u.loc").as("loc"),
          col("u.lastmod").as("lastmod"), col("u.changefreq").as("changefreq"),
          col("u.priority").as("priority"))
        .orderBy("loc")
    }),

    // FRONTIER SEEDING — the crawl-planning composition: sitemap
    // DISCOVERY (parseSitemap over per-source urlsets) minus the
    // ALREADY-CRAWLED set (parseCdxj over the crawl index, anti-join)
    // gated by ROBOTS (the `*` group's prefix rule) = the URLs the next
    // crawl wave actually fetches. Every tier runs its real parser; the
    // oracle replays the SEMANTICS (membership arithmetic) — each
    // parser's own fidelity is pinned by its dedicated row.
    "frontier_seed" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").select(col("source"), col("doc_id"))
      val entries = docs.select(col("source"), col("doc_id"),
        concat(lit("<url><loc>https://crawl.example.com/d/"),
          col("doc_id").cast("string"), lit("</loc></url>")).as("e"))
      // no intra-urlset ordering needed: the parse output is distinct()-ed
      // and orderBy(url)-ed downstream, so entry order is unobservable
      val seeds = entries.groupBy("source")
        .agg(concat(lit("<urlset>"), array_join(collect_list(col("e")), ""),
          lit("</urlset>")).as("xml"))
        .select(TextAnalysis.parseSitemap(col("xml")).as("s"))
        .select(explode(col("s.entries")).as("u"))
        .select(col("u.loc").as("url")).distinct()
      val known = docs.filter(col("doc_id") % 3 === 0)
        .select(concat(lit("com,example,crawl)/d/"), col("doc_id").cast("string"),
          lit(" 20240101000000 {\"url\": \"https://crawl.example.com/d/"),
          col("doc_id").cast("string"), lit("\"}")).as("line"))
        .select(TextAnalysis.parseCdxj(col("line")).as("c"))
        .select(col("c.meta.url").as("url"))
      val robots = "User-agent: *\nDisallow: /d/1\n"
      seeds.join(known, Seq("url"), "left_anti")
        .select(col("url"), TextAnalysis.robotsCheck(lit(robots), lit("graftbot"),
          regexp_replace(col("url"), "^https?://[^/]+", "")).getField("allowed").as("ok"))
        .filter(col("ok")).select(col("url"))
        .orderBy("url")
    }),
  )

  // ---------------------------------------------------------------- oracles

  /** DuckDB mirror of [[Dedup.shingles]] (distinct token n-grams; same
    * degenerate whole-text shingle under n tokens as ShingleKernel).
    */
  private val duckToks = "regexp_split_to_array(trim(lower(text)), '\\s+')"

  /** A Scala string as a DuckDB expression: ASCII runs as quoted
    * literals, non-ASCII code points as chr(n) — unicode never travels
    * as raw bytes inside oracle SQL text.
    */
  private def duckChrStr(str: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    val it = str.codePoints().iterator()
    while (it.hasNext) {
      val cp = it.next()
      if (cp < 128) sb.appendAll(Character.toChars(cp))
      else {
        if (sb.nonEmpty) { parts += "'" + sb.toString.replace("'", "''") + "'"; sb.clear() }
        parts += s"chr($cp)"
      }
    }
    if (sb.nonEmpty) parts += "'" + sb.toString.replace("'", "''") + "'"
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  /** ONE copy of the DSIR weight arithmetic (TextAnalysis.dsirWeights'
    * SQL mirror) — CTE chain ending in `dw(doc_id, n_tokens, dwt)`;
    * `dsir_weights` and `sample_dsir` both consume it, so a formula
    * change cannot silently drift one oracle away from the other.
    */
  private def duckDsirCte(): String =
    s"""tokc AS (SELECT doc_id, unnest($duckToks) AS token FROM documents),
       |tokt AS (SELECT unnest($duckToks) AS token FROM documents WHERE lang = 'en'),
       |cs AS (SELECT token, count(*) AS cs FROM tokc GROUP BY token),
       |ctt AS (SELECT token, count(*) AS ct FROM tokt GROUP BY token),
       |cnt AS (SELECT cs.token, cs.cs, coalesce(ctt.ct, 0) AS ct
       |        FROM cs LEFT JOIN ctt USING (token)),
       |tot AS (SELECT sum(cs)::DOUBLE AS ns, sum(ct)::DOUBLE AS nt, count(*)::DOUBLE AS v FROM cnt),
       |dw AS (SELECT tokc.doc_id, count(*) AS n_tokens,
       |    round(avg(ln((cnt.ct + 1) / (tot.nt + tot.v)) - ln((cnt.cs + 1) / (tot.ns + tot.v))), 4) + 0 AS dwt
       |  FROM tokc JOIN cnt USING (token) CROSS JOIN tot GROUP BY tokc.doc_id)""".stripMargin

  /** ONE copy of the packing arithmetic (Packing.packBlocks' SQL mirror)
    * — CTE chain ending in `nb(source, shard, block, doc_id, n_tokens,
    * tok_start, tok_end, n_in_block)`; `pack_sequences` and
    * `pack_summary` both consume it.
    */
  private def duckPackCte(): String =
    """t AS (
      |  SELECT source, doc_id % 4 AS shard, doc_id,
      |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) + 1 AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      |  FROM t),
      |e AS (SELECT *, tok_start + n_tokens AS tok_end FROM c),
      |x AS (SELECT *, unnest(generate_series(CAST(floor(tok_start / 512) AS BIGINT),
      |                                       CAST(floor((tok_end - 1) / 512) AS BIGINT))) AS block FROM e),
      |nb AS (SELECT source, shard, block, doc_id, n_tokens, tok_start, tok_end,
      |         CAST(least(tok_end, (block + 1) * 512) - greatest(tok_start, block * 512) AS BIGINT) AS n_in_block
      |       FROM x)""".stripMargin

  /** Recursive-CTE chain ending in `ffd(source, shard, rn, doc_id,
    * n_tokens, bin, rem)` — first-fit-decreasing bin packing replayed
    * item by item: each (source, shard) group's docs ordered by
    * (n_tokens DESC, doc_id), the working row carrying the group's
    * bin-remainder list; `list_position(list_transform(rem, x -> x >= n),
    * true)` finds the first bin with capacity (0/NULL = none → open bin
    * len(rem)). Both `pack_bestfit` rows replay [[graft.ops.Packing
    * .packBestFit]] through it. Requires WITH RECURSIVE at the caller.
    */
  private def duckFfdCte(): String =
    """t AS (
      |  SELECT source, doc_id % 4 AS shard, doc_id,
      |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) + 1 AS BIGINT) AS n_tokens
      |  FROM documents),
      |s AS (
      |  SELECT *, row_number() OVER (PARTITION BY source, shard ORDER BY n_tokens DESC, doc_id) AS rn
      |  FROM t),
      |ffd AS (
      |  SELECT source, shard, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS doc_id,
      |         CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS bin,
      |         CAST([] AS BIGINT[]) AS rem
      |  FROM (SELECT DISTINCT source, shard FROM s)
      |  UNION ALL
      |  SELECT s.source, s.shard, s.rn, s.doc_id, s.n_tokens,
      |         CASE WHEN coalesce(list_position(list_transform(f.rem, x -> x >= s.n_tokens), true), 0) = 0
      |              THEN len(f.rem)
      |              ELSE list_position(list_transform(f.rem, x -> x >= s.n_tokens), true) - 1 END AS bin,
      |         CASE WHEN coalesce(list_position(list_transform(f.rem, x -> x >= s.n_tokens), true), 0) = 0
      |              THEN list_append(f.rem, 512 - s.n_tokens)
      |              ELSE list_transform(f.rem, (x, i) ->
      |                CASE WHEN i = list_position(list_transform(f.rem, x2 -> x2 >= s.n_tokens), true)
      |                     THEN x - s.n_tokens ELSE x END) END AS rem
      |  FROM ffd f
      |  JOIN s ON s.source = f.source AND s.shard = f.shard AND s.rn = f.rn + 1)""".stripMargin

  /** CTE chain ending in `fr(qid, id, s, rank)` — the fused hybrid
    * (BM25 + exact-kNN RRF) ranking both hybrid rows replay.
    */
  private def duckHybridCte(): String =
    s"""${duckBm25Cte()},
       |q2 AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id < 3),
       |d2 AS (SELECT q2.qid, e.vec_id AS id, ${duckEuclid(dEmb("e.embedding"), "q2.qv")} AS dist
       |       FROM embeddings e CROSS JOIN q2),
       |nr AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d2),
       |lists AS (SELECT qid, doc_id AS id, rank FROM bmr WHERE rank <= 10
       |          UNION ALL SELECT qid, id, rank FROM nr WHERE rank <= 10),
       |fused AS (SELECT qid, id, sum(1.0/(60 + rank)) AS s FROM lists GROUP BY qid, id),
       |fr AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rank FROM fused)""".stripMargin

  /** [[graft.ops.Mmr.rerank]] replayed with the greedy selection UNROLLED
    * (k stages, each = redundancy max over the selected-so-far + one
    * QUALIFY argmax with the same λ arithmetic and id tie-break). rel is
    * the 6-decimal-rounded RRF score — exactly the Spark side's input.
    */
  private def duckMmrSql(k: Int, lambda: Double): String = {
    val oml = 1.0 - lambda
    val sim = (a: String, b: String) =>
      s"list_inner_product($a, $b)/(sqrt(list_inner_product($a, $a))*sqrt(list_inner_product($b, $b)))"
    val stages = (2 to k).map { i =>
      val prev = s"selu${i - 1}"
      s"""ms$i AS (
         |  SELECT r.qid, r.id, r.rel, max(${sim("r.v", "cs.v")}) AS ms
         |  FROM cand r
         |  JOIN (SELECT s.qid, s.id, c2.v FROM $prev s JOIN cand c2 ON s.qid = c2.qid AND s.id = c2.id) cs
         |    ON r.qid = cs.qid
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev s2 WHERE s2.qid = r.qid AND s2.id = r.id)
         |  GROUP BY r.qid, r.id, r.rel),
         |sel$i AS (SELECT qid, id, rel, CAST($i AS BIGINT) AS mmr_rank, ms FROM ms$i
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY ($lambda*rel - $oml*ms) DESC, id) = 1),
         |selu$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${duckHybridCte()},
       |cand AS (SELECT fr.qid, fr.id, round(fr.s, 6) AS rel, ${dEmb("e.embedding")} AS v
       |         FROM fr JOIN embeddings e ON fr.id = e.vec_id WHERE fr.rank <= 10),
       |selu1 AS (SELECT qid, id, rel, CAST(1 AS BIGINT) AS mmr_rank, 0.0 AS ms FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) = 1),
       |$stages
       |SELECT qid, id, mmr_rank, round(rel, 6) AS rel, round(ms, 6) + 0 AS max_sim
       |FROM selu$k ORDER BY qid, mmr_rank""".stripMargin
  }

  /** DuckDB replay of [[graft.text.Bm25.search]] over [[bm25Queries]]:
    * CTE chain ending in `bmr(qid, doc_id, score, rank)`. Arithmetic is
    * parenthesized exactly like the Spark side so both engines execute
    * the same IEEE operation sequence (only ln may differ by an ulp,
    * absorbed by the 4-decimal round that also drives the rank order).
    */
  private def duckBm25QVals: String =
    bm25Queries.zipWithIndex.map { case ((qid, text), i) =>
      if (i == 0) s"(CAST($qid AS BIGINT), '$text')" else s"($qid, '$text')"
    }.mkString(", ")

  private def duckBm25Cte(k1: Double = 1.2, b: Double = 0.75,
      qtOverride: Option[String] = None, docsRel: String = "documents"): String = {
    val qVals = duckBm25QVals
    val qtSql = qtOverride.getOrElse(
      s"""SELECT qid, unnest(list_distinct(regexp_split_to_array(trim(lower(qtext)), '\\s+'))) AS token
         |       FROM (VALUES $qVals) AS q(qid, qtext)""".stripMargin)
    s"""qt AS ($qtSql),
       |stats AS (SELECT count(*)::DOUBLE AS n, avg(len($duckToks))::DOUBLE AS avgdl FROM $docsRel),
       |post AS (SELECT doc_id, dl, token, count(*)::DOUBLE AS tf FROM (
       |           SELECT doc_id, CAST(len($duckToks) AS DOUBLE) AS dl, unnest($duckToks) AS token FROM $docsRel)
       |         WHERE token IN (SELECT DISTINCT token FROM qt)
       |         GROUP BY doc_id, dl, token),
       |dftab AS (SELECT token, count(*)::DOUBLE AS df FROM post GROUP BY token),
       |contrib AS (SELECT qt.qid, post.doc_id,
       |              (ln(1.0 + (stats.n - dftab.df + 0.5)/(dftab.df + 0.5)) *
       |               ((post.tf * ${k1 + 1.0}) / (post.tf + $k1 * (${1.0 - b} + ($b * post.dl)/stats.avgdl)))) AS c
       |            FROM post JOIN dftab USING (token) JOIN qt USING (token) CROSS JOIN stats),
       |scored AS (SELECT qid, doc_id, round(sum(c), 4) AS score FROM contrib GROUP BY qid, doc_id),
       |bmr AS (SELECT qid, doc_id, score,
       |          row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank FROM scored)""".stripMargin
  }
  private def duckShinglesN(toks: String, n: Int): String = {
    val gram = (0 until n).map {
      case 0 => s"$toks[i]"
      case j => s"$toks[i+$j]"
    }.mkString(" || ' ' || ")
    s"""list_distinct(CASE WHEN len($toks) < $n THEN [array_to_string($toks, ' ')]
       | ELSE list_transform(range(1, len($toks) - ${n - 2}), i -> $gram) END)""".stripMargin
  }
  private def duckShingles(toks: String): String = duckShinglesN(toks, 3)
  private def duckJaccard(a: String, b: String): String =
    s"len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))"

  /** DuckDB mirror of [[TextAnalysis.simhash]]: 60-bit simhash over
    * md5-derived token hashes (generated bit-term sum).
    */
  private def simhashOracle: String = {
    val hs = s"list_transform($duckToks, tk -> CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT))"
    val bits = (0 until 60).map { b =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"WITH t AS (SELECT doc_id, $hs AS hs FROM documents) SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM t ORDER BY doc_id"
  }

  /** DuckDB mirror of [[TextAnalysis.langId]] + counts. */
  /** The labeled training slice for `lang_id_ngram` — one source of truth
    * for the Spark fixture and the oracle VALUES (texts carry no single
    * quotes by construction, so they inline into SQL verbatim).
    */
  private val langTrainFixture: Seq[(Long, String, String)] = Seq(
    (900001L, "en", "the quick brown fox jumps over the lazy dog and the children watch while they run through the green fields in the morning light"),
    (900002L, "en", "she said that they would come home early because the weather was getting worse and nobody wanted to stay outside"),
    (900003L, "en", "a simple question with a simple answer is often the thing that people want most when they are searching for help"),
    (900011L, "de", "der schnelle braune fuchs springt über den faulen hund während die kinder durch die grünen felder laufen und das wetter schön bleibt"),
    (900012L, "de", "sie sagte dass sie früh nach hause kommen würden weil das wetter schlechter wurde und niemand draußen bleiben wollte"),
    (900013L, "de", "eine einfache frage mit einer einfachen antwort ist oft das was die menschen am meisten wollen wenn sie hilfe suchen"),
    (900021L, "es", "el rápido zorro marrón salta sobre el perro perezoso mientras los niños corren por los campos verdes en la mañana"),
    (900022L, "es", "ella dijo que volverían temprano a casa porque el tiempo empeoraba y nadie quería quedarse fuera en la noche"),
    (900023L, "es", "una pregunta sencilla con una respuesta sencilla es a menudo lo que la gente más quiere cuando busca ayuda"),
    (900031L, "fr", "le renard brun rapide saute par dessus le chien paresseux pendant que les enfants courent dans les champs verts le matin"),
    (900032L, "fr", "elle a dit que ils rentreraient tôt à la maison parce que le temps devenait mauvais et personne ne voulait rester dehors"),
    (900033L, "fr", "une question simple avec une réponse simple est souvent ce que les gens veulent le plus quand ils cherchent de aide"),
    (900041L, "zh", "敏捷的棕色狐狸跳过懒惰的狗孩子们在绿色的田野里奔跑早晨的阳光很温暖天气很好"),
    (900042L, "zh", "她说他们会早点回家因为天气越来越糟糕没有人想留在外面晚上很冷大家都回去了"),
    (900043L, "zh", "一个简单的问题和一个简单的答案往往是人们寻求帮助时最想要的东西我们应该互相帮助"))

  /** Short unlabeled probes the stopword heuristic cannot call. */
  private val langProbeFixture: Seq[(Long, String)] = Seq(
    (910001L, "running quickly home through fields"),
    (910002L, "über den grünen wäldern fliegen"),
    (910003L, "la mañana es muy bonita"),
    (910004L, "les enfants jouent dans le jardin"),
    (910005L, "他们会早点回家因为天气很好"))

  /** Cavnar–Trenkle rank-profile classification replayed in SQL: profile
    * build over the planted labeled slice, per-doc trigram rank windows,
    * out-of-place distance with the profileSize penalty, argmin pick.
    */
  private def langIdNgramOracle: String = {
    val n = 80
    val trainVals = langTrainFixture
      .map { case (id, l, t) => s"($id, '$l', '$t')" }.mkString(",")
    val probeVals = langProbeFixture
      .map { case (id, t) => s"($id, '$t')" }.mkString(",")
    s"""WITH train(doc_id, lang, text) AS (VALUES $trainVals),
       |probes(doc_id, text) AS (VALUES $probeVals),
       |corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM probes),
       |tn AS (SELECT lang, ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS t FROM train),
       |ti AS (SELECT lang, t, unnest(generate_series(1, len(t) - 2)) AS i FROM tn),
       |tg AS (SELECT lang, substr(t, CAST(i AS INT), 3) AS gram FROM ti),
       |pc AS (SELECT lang, gram, count(*) AS cnt FROM tg GROUP BY lang, gram),
       |prof AS (SELECT lang, gram, lrank FROM (
       |  SELECT lang, gram, CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS BIGINT) AS lrank FROM pc) WHERE lrank <= $n),
       |dn AS (SELECT doc_id, ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS t FROM corpus),
       |di AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM dn),
       |dg AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram FROM di),
       |dc AS (SELECT doc_id, gram, count(*) AS cnt FROM dg GROUP BY doc_id, gram),
       |dr AS (SELECT doc_id, gram, drank FROM (
       |  SELECT doc_id, gram, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS BIGINT) AS drank FROM dc) WHERE drank <= $n),
       |langs AS (SELECT DISTINCT lang FROM prof),
       |dist AS (SELECT dr.doc_id, l.lang, CAST(sum(coalesce(abs(dr.drank - p.lrank), $n)) AS BIGINT) AS dist
       |         FROM dr CROSS JOIN langs l LEFT JOIN prof p ON p.lang = l.lang AND p.gram = dr.gram
       |         GROUP BY dr.doc_id, l.lang),
       |best AS (SELECT doc_id, lang AS pred_lang, dist,
       |                row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS r FROM dist)
       |SELECT doc_id, pred_lang, dist FROM best WHERE r = 1 ORDER BY doc_id""".stripMargin
  }

  /** ONE copy of the contamination-rate audit SQL — `decontaminate_rate`
    * (batch) and `stream_decontaminate_rate` (the converged maintained
    * view) share it, since the streaming sink's matched-hash union over
    * committed batches is exactly the batch corpus match set.
    */
  private def decontaminateRateOracle: String =
    s"""WITH bench AS (SELECT doc_id AS bench_id,
       |  array_to_string(regexp_split_to_array(trim(text), '\\s+')[5:24], ' ')
       |    || ' eval item ' || CAST(doc_id AS VARCHAR) || ' held out suffix' AS text
       |  FROM documents WHERE doc_id % 23 = 0),
       |sb AS (SELECT bench_id, ${duckShinglesN(duckToks, 13)} AS sh FROM bench),
       |eb AS (SELECT bench_id, unnest(sh) AS g FROM sb),
       |corpus AS (SELECT DISTINCT unnest(${duckShinglesN(duckToks, 13)}) AS g FROM documents),
       |perq AS (SELECT eb.bench_id, count(*) AS n_shingles,
       |    sum(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
       |  FROM eb LEFT JOIN corpus c ON eb.g = c.g GROUP BY eb.bench_id)
       |SELECT s.bench_id, CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       |  CAST(coalesce(p.n_matched, 0) AS BIGINT) AS n_matched,
       |  round(CASE WHEN coalesce(p.n_shingles, 0) = 0 THEN 0.0
       |    ELSE p.n_matched::DOUBLE / p.n_shingles END, 4) AS rate
       |FROM sb s LEFT JOIN perq p USING (bench_id) ORDER BY s.bench_id""".stripMargin

  /** Planted repetition offenders for `gopher_repetition` — one source of
    * truth for the Spark fixture and the oracle VALUES (no single quotes;
    * newlines become `chr(10)` concatenations in SQL).
    */
  private val gopherRepetitionFixture: Seq[(Long, String)] = Seq(
    (310001L, "nav bar\nnav bar\nnav bar\nreal content here stays"),
    (310002L, "para one shared text\n\npara one shared text\n\nunique closing paragraph here"),
    (310003L, ("buy gold now " * 12).trim),
    (310004L, "clean first line\nsecond line differs\n\nand a closing paragraph"))

  /** gopher_repetition replayed in SQL: duplicate line/paragraph stats
    * from split+count CTEs, per-n top-gram and duplicated-gram-coverage
    * CTEs over the token array (gram chars = len(gram) − (n−1): tokens
    * carry no whitespace), every fraction over length(text).
    */
  private def gopherRepetitionOracle: String = {
    val vals = gopherRepetitionFixture.map { case (id, t) =>
      s"($id, '${t.replace("\n", "' || chr(10) || '")}')"
    }.mkString(",")
    def gram(n: Int) =
      (0 until n).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")
    val topCtes = (2 to 4).map { n =>
      s"""g$n AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${n - 1})) AS i FROM base),
         |gg$n AS (SELECT doc_id, ${gram(n)} AS g FROM g$n),
         |t$n AS (SELECT doc_id, g, count(*) AS c FROM gg$n GROUP BY doc_id, g),
         |b$n AS (SELECT doc_id, c * (len(g) - ${n - 1}) AS chars,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS r FROM t$n),
         |w$n AS (SELECT doc_id, chars FROM b$n WHERE r = 1)""".stripMargin
    }
    val covCtes = (5 to 10).map { n =>
      s"""h$n AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${n - 1})) AS i FROM base),
         |hh$n AS (SELECT doc_id, i, ${gram(n)} AS g FROM h$n),
         |d$n AS (SELECT doc_id, g FROM hh$n GROUP BY doc_id, g HAVING count(*) >= 2),
         |s$n AS (SELECT hh$n.doc_id, hh$n.i FROM hh$n JOIN d$n USING (doc_id, g)),
         |p$n AS (SELECT DISTINCT doc_id, pos FROM (SELECT doc_id, unnest(generate_series(i, i + ${n - 1})) AS pos FROM s$n)),
         |v$n AS (SELECT p$n.doc_id, sum(len(b.toks[pos])) AS chars FROM p$n JOIN base b USING (doc_id) GROUP BY p$n.doc_id)""".stripMargin
    }
    val topSel = (2 to 4).map(n =>
      s"round(coalesce(w$n.chars, 0)::DOUBLE / greatest(base.t, 1), 4) AS top${n}gram_char_frac")
    val covSel = (5 to 10).map(n =>
      s"round(coalesce(v$n.chars, 0)::DOUBLE / greatest(base.t, 1), 4) AS dup${n}gram_char_frac")
    s"""WITH all_docs AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT * FROM (VALUES $vals) v(doc_id, text)),
       |base AS (SELECT doc_id, text, length(text) AS t, $duckToks AS toks,
       |         string_split(text, chr(10)) AS lns, string_split(text, chr(10) || chr(10)) AS paras FROM all_docs),
       |lc AS (SELECT doc_id, l, count(*) AS c FROM (SELECT doc_id, unnest(lns) AS l FROM base) GROUP BY doc_id, l),
       |la AS (SELECT doc_id, coalesce(sum(c - 1) FILTER (WHERE c >= 2), 0) AS dup,
       |       coalesce(sum((c - 1) * length(l)) FILTER (WHERE c >= 2), 0) AS dupch, sum(c) AS tot FROM lc GROUP BY doc_id),
       |pc AS (SELECT doc_id, p, count(*) AS c FROM (SELECT doc_id, unnest(paras) AS p FROM base) GROUP BY doc_id, p),
       |pa AS (SELECT doc_id, coalesce(sum(c - 1) FILTER (WHERE c >= 2), 0) AS dup,
       |       coalesce(sum((c - 1) * length(p)) FILTER (WHERE c >= 2), 0) AS dupch, sum(c) AS tot FROM pc GROUP BY doc_id),
       |${topCtes.mkString(",\n")},
       |${covCtes.mkString(",\n")}
       |SELECT base.doc_id,
       |  round(la.dup::DOUBLE / la.tot, 4) AS dup_line_frac,
       |  round(la.dupch::DOUBLE / greatest(base.t, 1), 4) AS dup_line_char_frac,
       |  round(pa.dup::DOUBLE / pa.tot, 4) AS dup_para_frac,
       |  round(pa.dupch::DOUBLE / greatest(base.t, 1), 4) AS dup_para_char_frac,
       |  ${topSel.mkString(",\n  ")},
       |  ${covSel.mkString(",\n  ")}
       |FROM base JOIN la USING (doc_id) JOIN pa USING (doc_id)
       |${(2 to 4).map(n => s"LEFT JOIN w$n USING (doc_id)").mkString(" ")}
       |${(5 to 10).map(n => s"LEFT JOIN v$n USING (doc_id)").mkString(" ")}
       |ORDER BY base.doc_id""".stripMargin
  }

  /** quality_classifier replayed in SQL: the same eight signals (the
    * quality_filters formulas, mean_word_len/10), the identical
    * deterministic full-batch GD as a recursive CTE over (it, w0..w8) —
    * each step ONE aggregation of avg((p−y)·xᵢ) over the labeled slice —
    * weights rounded to 6dp exactly as the Scala trainer rounds, scores
    * from the fitted sigmoid.
    */
  private def qualityClassifierOracle: String = {
    val iters = 15
    val lr = "2.0"
    // z(w, f) with x0..x7 — shared by the GD step and the scoring pass
    def z(w: String, f: String) =
      s"($w.w0 + " + (0 until 8).map(i => s"$w.w${i + 1}*$f.x$i").mkString(" + ") + ")"
    val wCols = (0 to 8).map(i => s"w$i")
    s"""WITH RECURSIVE all_docs AS (
       |  SELECT doc_id, 1.0::DOUBLE AS y, text FROM documents
       |  UNION ALL SELECT doc_id + 400000, 0.0::DOUBLE,
       |    text || ' ' || text || ' ' || text || ' ### ### 12345 67890 ###'
       |  FROM documents WHERE doc_id < 250),
       |t AS (SELECT doc_id, y, text, $duckToks AS toks, string_split(text, chr(10)) AS lns FROM all_docs),
       |g AS (SELECT doc_id, y, text, toks, lns,
       |        CASE WHEN len(toks) < 3 THEN 1 ELSE len(toks) - 2 END AS total3,
       |        len(${duckShingles("toks")}) AS distinct3 FROM t),
       |f AS (SELECT doc_id, y,
       |  (1.0 - distinct3::DOUBLE / total3) AS x0,
       |  (CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / length(text) END) AS x1,
       |  (CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text) END) AS x2,
       |  (CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) END) AS x3,
       |  (list_sum(list_transform(toks, tk -> length(tk)))::DOUBLE / len(toks) / 10.0) AS x4,
       |  (((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE / len(toks)) AS x5,
       |  (len(list_filter(lns, l -> starts_with(ltrim(l, ' '), '- ') OR starts_with(ltrim(l, ' '), '* ') OR starts_with(ltrim(l, ' '), '• ')))::DOUBLE / len(lns)) AS x6,
       |  (len(list_filter(lns, l -> ends_with(rtrim(l, ' '), '...')))::DOUBLE / len(lns)) AS x7
       |  FROM g),
       |gd AS (
       |  SELECT 0 AS it, ${wCols.map(w => s"0.0::DOUBLE AS $w").mkString(", ")}
       |  UNION ALL
       |  SELECT it + 1, w0 - $lr * avg(d),
       |    ${(0 until 8).map(i => s"w${i + 1} - $lr * avg(d * x$i)").mkString(", ")}
       |  FROM (
       |    SELECT gg.it, ${wCols.map(w => s"gg.$w").mkString(", ")},
       |           ${(0 until 8).map(i => s"f.x$i").mkString(", ")},
       |           1.0/(1.0 + exp(-${z("gg", "f")})) - f.y AS d
       |    FROM gd gg CROSS JOIN f WHERE gg.it < $iters)
       |  GROUP BY it, ${wCols.mkString(", ")}),
       |wf AS (SELECT ${wCols.map(w => s"round($w, 6) AS $w").mkString(", ")}
       |       FROM gd WHERE it = $iters)
       |SELECT f.doc_id, round(1.0/(1.0 + exp(-${z("w", "f")})), 4) AS score
       |FROM f CROSS JOIN wf w ORDER BY f.doc_id""".stripMargin
  }

  private def langIdOracle: String = {
    def cnt(words: Seq[String]) =
      s"CAST(len(list_filter($duckToks, t -> t IN (${words.map(w => s"'$w'").mkString(",")}))) AS BIGINT)"
    val counts = TextAnalysis.StopWords.map { case (lang, words) => lang -> cnt(words) }
    val cols = counts.map { case (lang, c) => s"$c AS cnt_$lang" }.mkString(", ")
    val mx = s"greatest(${counts.map(l => s"cnt_${l._1}").mkString(", ")})"
    val whens = counts.map { case (lang, _) => s"WHEN cnt_$lang = __mx THEN '$lang'" }.mkString(" ")
    s"""WITH c AS (SELECT doc_id, $cols FROM documents),
       |m AS (SELECT *, $mx AS __mx FROM c)
       |SELECT doc_id, cnt_en, cnt_de, cnt_es, cnt_fr, cnt_zh,
       |  CASE WHEN __mx = 0 THEN 'und' $whens ELSE 'und' END AS pred_lang
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** The registered-domain CASE cascade over pre-split label lists —
    * interpolates the SAME PSL subset `val`s the Spark kernel matches
    * against (one source of truth). Expects columns `h0` (cleaned host)
    * and `parts` (its '.'-split list) in scope.
    */
  private def duckRegDomain: String = {
    val in2 = TextAnalysis.PslTwoLabel.map(s => s"'$s'").mkString(", ")
    val in3 = TextAnalysis.PslThreeLabel.map(s => s"'$s'").mkString(", ")
    s"""CASE WHEN regexp_matches(h0, '^([0-9]{1,3}\\.){3}[0-9]{1,3}$$') THEN NULL
       |     WHEN len(parts) >= 4 AND array_to_string(parts[-3:], '.') IN ($in3) THEN array_to_string(parts[-4:], '.')
       |     WHEN len(parts) = 3 AND array_to_string(parts[-3:], '.') IN ($in3) THEN NULL
       |     WHEN len(parts) >= 3 AND array_to_string(parts[-2:], '.') IN ($in2) THEN array_to_string(parts[-3:], '.')
       |     WHEN len(parts) = 2 AND array_to_string(parts[-2:], '.') IN ($in2) THEN NULL
       |     WHEN len(parts) >= 2 THEN array_to_string(parts[-2:], '.')
       |     ELSE NULL END""".stripMargin
  }

  /** Host cleanup matching [[TextAnalysis.registeredDomain]]'s first step
    * (port strip, one trailing dot, case fold) as DuckDB SQL. */
  private def duckHostClean(host: String): String =
    s"lower(regexp_replace(regexp_replace($host, ':[0-9]+$$', ''), '\\.$$', ''))"

  /** Power iteration unrolled one CTE per round — fixed iterations make
    * PageRank a pure function of the edge set, so the oracle replays the
    * exact per-round arithmetic (contributions sum rank/deg; dangling
    * mass redistributes uniformly) instead of approximating convergence.
    */
  private def pagerankOracle: String = {
    // every CTE MATERIALIZED: each round references its predecessor twice
    // (contributions + dangling mass) — inlined CTEs would re-evaluate the
    // whole chain per reference, exponential in the iteration count
    def step(i: Int): String =
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node, (1.0 - 0.85) / nn.n + 0.85 * (coalesce(c.s, 0) + dg.dm / nn.n) AS rank
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / o.deg) AS s
         |             FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |             JOIN outdeg o ON r.node = o.node GROUP BY e.dst) c ON n.node = c.node
         |  CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS dm
         |              FROM r${i - 1} r LEFT JOIN outdeg o ON r.node = o.node
         |              WHERE o.node IS NULL) dg)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT 'h' || (doc_id % 53) AS src, 'h' || ((doc_id * 7 + 3) % 53) AS dst FROM documents
       |    UNION ALL SELECT 'h' || (doc_id % 53), 'h' || ((doc_id + n_chars) % 53) FROM documents
       |    UNION ALL SELECT 'h' || (doc_id % 53), 'sink.example.com' FROM documents WHERE doc_id < 5)),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |outdeg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
       |r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
       |${(1 to 10).map(step).mkString(",\n")}
       |SELECT node AS host, round(rank, 6) AS rank FROM r10 ORDER BY host""".stripMargin
  }

  /** Shared CTE block replaying [[graft.text.ArpaLm.trainKneserNeyBigram]]
    * over the documents table — every arithmetic expression mirrors the
    * Spark side's association order, so engine differences are ulp-level
    * and absorbed by the consuming oracles' rounding. `knm` is the model
    * in parse shape (ngram_order, context, word, log10p, backoff),
    * unrounded. MATERIALIZED where referenced repeatedly (the
    * re-evaluation gotcha).
    */
  /** The training corpus + framed-token CTE prefix shared by every
    * Kneser–Ney oracle (bigram and trigram): one source of truth for
    * the doc_id cutoff, the planted hapax docs, and the empty-token
    * filter — editing the fixture in one place keeps every replay's
    * corpus identical to the Spark side's. */
  private def knTrainCtes: String = {
    val planted = knTrainDocs.map { case (id, tx) =>
      s"  (CAST($id AS BIGINT), '$tx')"
    }.mkString(",\n")
    s"""ktrain AS (SELECT doc_id, text FROM documents WHERE doc_id < 25
       |           UNION ALL SELECT * FROM (VALUES
       |$planted) kt(doc_id, text)),
       |tokm AS (SELECT doc_id, list_concat(list_concat(['<s>'],
       |           list_filter($duckToks, x -> x != '')), ['</s>']) AS t FROM ktrain)""".stripMargin
  }

  private def knModelCtes: String = {
    s"""$knTrainCtes,
       |bgk AS (SELECT b.v AS v, b.w AS w FROM
       |  (SELECT unnest(list_transform(range(1, len(t)), i -> {'v': t[i], 'w': t[i+1]})) AS b FROM tokm)),
       |c2k AS MATERIALIZED (SELECT v, w, count(*) AS c FROM bgk GROUP BY v, w),
       |d2k AS (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE /
       |          (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) + 2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)) AS d
       |        FROM c2k),
       |contk AS MATERIALIZED (SELECT w, count(*) AS c FROM c2k GROUP BY w),
       |d1k AS (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE /
       |          (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) + 2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)) AS d
       |        FROM contk),
       |totk AS (SELECT sum(c)::DOUBLE AS t, count(*)::DOUBLE AS ct FROM contk),
       |ctxk AS MATERIALIZED (SELECT v, sum(c) AS cv, count(*) AS n1v FROM c2k GROUP BY v),
       |p1k AS MATERIALIZED (SELECT w,
       |        (greatest(c::DOUBLE - d1k.d, 0.0) + d1k.d * totk.ct * (1.0 / (totk.ct + 1.0))) / totk.t AS p1d
       |      FROM contk, d1k, totk),
       |bowsk AS (SELECT v, log10(d2k.d) + log10(n1v::DOUBLE) - log10(cv::DOUBLE) AS bow FROM ctxk, d2k),
       |unik AS (SELECT '' AS context, w AS word, log10(p1d) AS log10p FROM p1k
       |         UNION ALL SELECT '', '<s>', -99.0
       |         UNION ALL SELECT '', '<unk>',
       |           (SELECT log10(d1k.d * totk.ct * (1.0 / (totk.ct + 1.0)) / totk.t) FROM d1k, totk)),
       |uni2k AS (SELECT 1 AS ngram_order, u.context, u.word, u.log10p,
       |            COALESCE(b.bow, 0.0) AS backoff
       |          FROM unik u LEFT JOIN bowsk b ON u.word = b.v),
       |bigk AS (SELECT 2 AS ngram_order, c2k.v AS context, c2k.w AS word,
       |           log10((greatest(c2k.c::DOUBLE - d2k.d, 0.0) + d2k.d * ctxk.n1v * p1k.p1d) / ctxk.cv) AS log10p,
       |           0.0 AS backoff
       |         FROM c2k JOIN ctxk ON c2k.v = ctxk.v JOIN p1k ON c2k.w = p1k.w, d2k),
       |knm AS MATERIALIZED (SELECT * FROM uni2k UNION ALL SELECT * FROM bigk)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dedup_minhash_lsh" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, 'near duplicate copy ' || text FROM documents WHERE doc_id < 40),
         |s AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM all_docs),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ${duckJaccard("a.sh", "b.sh")} AS jacc
         |      FROM s a CROSS JOIN s b WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, round(jacc, 4) AS jaccard FROM p WHERE jacc >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    // closed form: every (new, corpus) pair at the threshold — the
    // bipartite candidate stage must lose nothing the cross join finds
    "dedup_incremental" ->
      s"""WITH new_batch AS (
         |  SELECT doc_id + 100000 AS doc_id, 'near duplicate copy ' || text AS text FROM documents WHERE doc_id < 40
         |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id >= 40 AND doc_id < 60),
         |sn AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM new_batch),
         |sc AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM documents),
         |p AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, ${duckJaccard("a.sh", "b.sh")} AS jacc
         |      FROM sn a CROSS JOIN sc b)
         |SELECT new_id, corpus_id, round(jacc, 4) AS jaccard FROM p
         |WHERE jacc >= 0.8 ORDER BY new_id, corpus_id""".stripMargin,
    // closed form: ALL pairs passing both gates (Jaccard floor + exact
    // Levenshtein similarity); lev/len are byte-based here vs codepoint in
    // Spark — identical on this ASCII corpus (documented at the operator)
    "dedup_edit" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, 'near duplicate copy ' || text FROM documents WHERE doc_id < 40),
         |s AS (SELECT doc_id, text, ${duckShingles(duckToks)} AS sh FROM all_docs),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ${duckJaccard("a.sh", "b.sh")} AS jacc,
         |        1.0 - levenshtein(a.text, b.text) / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS es
         |      FROM s a CROSS JOIN s b WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, round(jacc, 4) AS jaccard, round(es, 4) AS edit_sim
         |FROM p WHERE jacc >= 0.8 AND es >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    "stream_neardup_sink" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
         |  UNION ALL SELECT doc_id + 100000, 'near duplicate copy ' || text FROM documents WHERE doc_id < 40),
         |s AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM all_docs),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ${duckJaccard("a.sh", "b.sh")} AS jacc
         |      FROM s a CROSS JOIN s b WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, round(jacc, 4) AS jaccard FROM p WHERE jacc >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    // dedup_groups' closure over the 2000-doc slice's pair set with the
    // two late bridge edges unioned in — the converged sink must equal it
    "stream_dedup_groups" ->
      s"""WITH RECURSIVE all_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
         |  UNION ALL SELECT doc_id + 100000, 'near duplicate copy ' || text FROM documents WHERE doc_id < 40),
         |s AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM all_docs),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM s a CROSS JOIN s b
         |      WHERE a.doc_id < b.doc_id AND ${duckJaccard("a.sh", "b.sh")} >= 0.8
         |      UNION ALL SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT)
         |      UNION ALL SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, min(label) AS group_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // transitive closure of the SAME pair set via a recursive CTE; group_id
    // = min id reachable from each member
    "dedup_groups" ->
      s"""WITH RECURSIVE all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, 'near duplicate copy ' || text FROM documents WHERE doc_id < 40),
         |s AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM all_docs),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM s a CROSS JOIN s b
         |      WHERE a.doc_id < b.doc_id AND ${duckJaccard("a.sh", "b.sh")} >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, min(label) AS group_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "dedup_groups_best" ->
      s"""WITH RECURSIVE all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, 'near duplicate copy ' || text FROM documents WHERE doc_id < 40),
         |s AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM all_docs),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM s a CROSS JOIN s b
         |      WHERE a.doc_id < b.doc_id AND ${duckJaccard("a.sh", "b.sh")} >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
         |g AS (SELECT id AS doc_id, min(label) AS group_id FROM reach GROUP BY id),
         |sc AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok FROM all_docs),
         |j AS (SELECT g.doc_id, g.group_id, sc.n_tok,
         |        CASE WHEN row_number() OVER (PARTITION BY g.group_id ORDER BY sc.n_tok DESC, g.doc_id) = 1
         |          THEN 1 ELSE 0 END AS keep
         |      FROM g JOIN sc USING (doc_id))
         |SELECT doc_id, group_id, n_tok, CAST(keep AS BIGINT) AS keep FROM j ORDER BY doc_id""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH s AS (SELECT source, doc_id, ${duckShingles(duckToks)} AS sh FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(${duckJaccard("a.sh", "b.sh")}, 4) AS jaccard
         |FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_simhash" -> simhashOracle,
    // the streaming sink converges to the same 50 planted pairs
    "stream_image_phash" ->
      """SELECT CAST(i AS BIGINT) AS id_a,
        |  CAST(i + CASE WHEN i < 25 THEN 10000 ELSE 20000 END AS BIGINT) AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM range(50) t(i) ORDER BY id_a, id_b""".stripMargin,
    // closed-form: the 50 planted copy pairs, hamming 0 (see the query's
    // invariance argument — brightness shift preserves every gradient
    // bit, lossless re-encode preserves every pixel)
    "dedup_image_phash" ->
      """SELECT CAST(i AS BIGINT) AS id_a,
        |  CAST(i + CASE WHEN i < 25 THEN 10000 ELSE 20000 END AS BIGINT) AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM range(50) t(i) ORDER BY id_a, id_b""".stripMargin,
    // closed-form: the 50 planted copy pairs, hamming 0 (all-frame
    // brightness shift moves the temporal mean exactly; APNG re-encode
    // is lossless — see the query's invariance argument)
    "dedup_video_phash" ->
      """SELECT CAST(i AS BIGINT) AS id_a,
        |  CAST(i + CASE WHEN i < 25 THEN 10000 ELSE 20000 END AS BIGINT) AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM range(50) t(i) ORDER BY id_a, id_b""".stripMargin,
    // closed-form: the 50 planted copy pairs, hamming 0 (gain-halving of
    // even amplitudes scales window energies by exactly 1/4; 16-bit PCM
    // re-encode is lossless — see the query's invariance argument)
    "dedup_audio_phash" ->
      """SELECT CAST(i AS BIGINT) AS id_a,
        |  CAST(i + CASE WHEN i < 25 THEN 10000 ELSE 20000 END AS BIGINT) AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM range(50) t(i) ORDER BY id_a, id_b""".stripMargin,
    "decontaminate" ->
      s"""WITH bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 200 = 0),
         |quotes AS (SELECT bench_id + 300000 AS doc_id,
         |  'assistant said ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:60], ' ') || ' and that was the quote' AS text
         |  FROM bench WHERE bench_id < 1000),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |sd AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM all_docs),
         |sb AS (SELECT bench_id, ${duckShingles(duckToks)} AS sh FROM bench),
         |p AS (SELECT d.doc_id, b.bench_id, len(list_intersect(d.sh, b.sh)) AS n_shared
         |      FROM sd d CROSS JOIN sb b)
         |SELECT doc_id, bench_id, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared >= 8 ORDER BY doc_id, bench_id""".stripMargin,
    "decontaminate_13gram" ->
      s"""WITH bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 200 = 0),
         |quotes AS (SELECT bench_id + 400000 AS doc_id,
         |  'as the eval put it ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[10:29], ' ') || ' end of citation' AS text
         |  FROM bench WHERE bench_id < 1000),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |sd AS (SELECT doc_id, ${duckShinglesN(duckToks, 13)} AS sh FROM all_docs),
         |sb AS (SELECT bench_id, ${duckShinglesN(duckToks, 13)} AS sh FROM bench),
         |p AS (SELECT d.doc_id, b.bench_id, len(list_intersect(d.sh, b.sh)) AS n_shared
         |      FROM sd d CROSS JOIN sb b)
         |SELECT doc_id, bench_id, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared >= 1 ORDER BY doc_id, bench_id""".stripMargin,
    // string n-grams stand in for the 64-bit shingle hashes (identical
    // membership absent collisions — the bet every hashed-dedup row takes)
    "decontaminate_rate" -> decontaminateRateOracle,
    // the streaming sink converges to the batch audit exactly (the
    // matched-hash union over committed batches IS the corpus match set)
    "stream_decontaminate_rate" -> decontaminateRateOracle,
    "decontaminate_bloom" ->
      s"""WITH bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 200 = 0),
         |quotes AS (SELECT bench_id + 500000 AS doc_id,
         |  'as the eval put it ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[10:29], ' ') || ' end of citation' AS text
         |  FROM bench WHERE bench_id < 1000),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |sd AS (SELECT doc_id, ${duckShinglesN(duckToks, 13)} AS sh FROM all_docs),
         |sb AS (SELECT bench_id, ${duckShinglesN(duckToks, 13)} AS sh FROM bench),
         |p AS (SELECT d.doc_id, b.bench_id, len(list_intersect(d.sh, b.sh)) AS n_shared
         |      FROM sd d CROSS JOIN sb b)
         |SELECT doc_id, bench_id, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared >= 1 ORDER BY doc_id, bench_id""".stripMargin,
    "span_dedup" -> {
      val gram50 = (0 until 50).map {
        case 0 => "t[i]"
        case j => s"t[i+$j]"
      }.mkString(" || ' ' || ")
      s"""WITH quotes AS (SELECT doc_id + 800000 AS doc_id,
         |  'verbatim quote follows ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:60], ' ') || ' end quote marker' AS text
         |  FROM documents WHERE doc_id < 20),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |tok AS (SELECT doc_id, $duckToks AS t FROM all_docs),
         |sp AS (SELECT doc_id, CASE WHEN len(t) < 50 THEN [{'pos': 0, 'gram': array_to_string(t, ' ')}]
         |       ELSE list_transform(range(1, len(t) - 48), i -> {'pos': i - 1, 'gram': $gram50}) END AS spans FROM tok),
         |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
         |      FROM (SELECT doc_id, unnest(spans) AS u FROM sp)),
         |d AS (SELECT gram, count(*) AS n_occurrences FROM g GROUP BY gram HAVING count(*) >= 2)
         |SELECT g.doc_id, CAST(g.pos AS BIGINT) AS pos, d.n_occurrences
         |FROM g JOIN d USING (gram) ORDER BY doc_id, pos""".stripMargin
    },
    "span_dedup_maximal" -> {
      val gram50 = (0 until 50).map {
        case 0 => "t[i]"
        case j => s"t[i+$j]"
      }.mkString(" || ' ' || ")
      s"""WITH quotes AS (SELECT doc_id + 800000 AS doc_id,
         |  'verbatim quote follows ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:60], ' ') || ' end quote marker' AS text
         |  FROM documents WHERE doc_id < 20),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |tok AS (SELECT doc_id, $duckToks AS t FROM all_docs),
         |sp AS (SELECT doc_id, CASE WHEN len(t) < 50 THEN [{'pos': 0, 'gram': array_to_string(t, ' ')}]
         |       ELSE list_transform(range(1, len(t) - 48), i -> {'pos': i - 1, 'gram': $gram50}) END AS spans FROM tok),
         |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
         |      FROM (SELECT doc_id, unnest(spans) AS u FROM sp)),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         |gd AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
         |i AS (SELECT doc_id, pos,
         |        CASE WHEN lag(pos) OVER w IS NULL THEN 0
         |             WHEN pos > lag(pos) OVER w + 50 THEN 1 ELSE 0 END AS brk
         |      FROM gd WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |i2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM i),
         |reg AS (SELECT doc_id, island, min(pos) AS span_start, max(pos) + 50 AS nominal_end,
         |          count(*) AS n_anchors FROM i2 GROUP BY 1, 2),
         |lens AS (SELECT doc_id, len(t) AS l FROM tok)
         |SELECT reg.doc_id, CAST(span_start AS BIGINT) AS span_start,
         |  CAST(least(nominal_end, l) AS BIGINT) AS span_end, n_anchors
         |FROM reg JOIN lens USING (doc_id) ORDER BY doc_id, span_start""".stripMargin
    },
    "span_dedup_crossdoc" -> {
      val gram20 = (0 until 20).map {
        case 0 => "t[i]"
        case j => s"t[i+$j]"
      }.mkString(" || ' ' || ")
      s"""WITH quotes AS (SELECT doc_id + 850000 AS doc_id,
         |  'q0x q1x q2x ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[6:65], ' ') || ' zq9x zq8x' AS text
         |  FROM documents WHERE doc_id < 15),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |tok AS (SELECT doc_id, $duckToks AS t FROM all_docs),
         |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |      SELECT doc_id, unnest(list_transform(range(1, len(t) - 18), i -> {'pos': i - 1, 'gram': $gram20})) AS u FROM tok)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, a.pos - b.pos AS diag
         |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |i AS (SELECT doc_a, doc_b, diag, pa,
         |        CASE WHEN lag(pa) OVER w IS NULL THEN 1 WHEN pa > lag(pa) OVER w + 1 THEN 1 ELSE 0 END AS brk
         |      FROM p WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pa)),
         |i2 AS (SELECT doc_a, doc_b, diag, pa, sum(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM i),
         |reg AS (SELECT doc_a, doc_b, diag, island, min(pa) AS a_start, max(pa) + 20 AS a_end
         |        FROM i2 GROUP BY doc_a, doc_b, diag, island)
         |SELECT doc_a, doc_b, CAST(a_start AS BIGINT) AS a_start, CAST(a_end AS BIGINT) AS a_end,
         |  CAST(a_start - diag AS BIGINT) AS b_start, CAST(a_end - diag AS BIGINT) AS b_end,
         |  CAST(a_end - a_start AS BIGINT) AS span_len
         |FROM reg WHERE a_end - a_start >= 23
         |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin
    },
    "decontaminate_spans" -> {
      val gram13 = (0 until 13).map {
        case 0 => "t[i]"
        case j => s"t[i+$j]"
      }.mkString(" || ' ' || ")
      s"""WITH bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 200 = 0),
         |quotes AS (SELECT bench_id + 750000 AS doc_id,
         |  'leading quote intro ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[10:45], ' ') || ' closing mark' AS text
         |  FROM bench),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |tokd AS (SELECT doc_id, $duckToks AS t FROM all_docs),
         |tokb AS (SELECT bench_id, $duckToks AS t FROM bench),
         |gd AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |      SELECT doc_id, unnest(list_transform(range(1, len(t) - 11), i -> {'pos': i - 1, 'gram': $gram13})) AS u FROM tokd)),
         |gb AS (SELECT bench_id, u.pos AS pos, u.gram AS gram FROM (
         |      SELECT bench_id, unnest(list_transform(range(1, len(t) - 11), i -> {'pos': i - 1, 'gram': $gram13})) AS u FROM tokb)),
         |p AS (SELECT d.doc_id, b.bench_id, d.pos AS pa, d.pos - b.pos AS diag
         |      FROM gd d JOIN gb b ON d.gram = b.gram),
         |i AS (SELECT doc_id, bench_id, diag, pa,
         |        CASE WHEN lag(pa) OVER w IS NULL THEN 1 WHEN pa > lag(pa) OVER w + 1 THEN 1 ELSE 0 END AS brk
         |      FROM p WINDOW w AS (PARTITION BY doc_id, bench_id, diag ORDER BY pa)),
         |i2 AS (SELECT doc_id, bench_id, diag, pa, sum(brk) OVER (PARTITION BY doc_id, bench_id, diag ORDER BY pa
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM i),
         |reg AS (SELECT doc_id, bench_id, diag, island, min(pa) AS d_start, max(pa) + 13 AS d_end
         |        FROM i2 GROUP BY doc_id, bench_id, diag, island)
         |SELECT doc_id, bench_id, CAST(d_start AS BIGINT) AS d_start, CAST(d_end AS BIGINT) AS d_end,
         |  CAST(d_start - diag AS BIGINT) AS b_start, CAST(d_end - diag AS BIGINT) AS b_end,
         |  CAST(d_end - d_start AS BIGINT) AS span_len
         |FROM reg WHERE d_end - d_start >= 15
         |ORDER BY doc_id, bench_id, d_start, b_start""".stripMargin
    },
    "decontaminate_spans_clean" -> {
      val gram13 = (0 until 13).map {
        case 0 => "t[i]"
        case j => s"t[i+$j]"
      }.mkString(" || ' ' || ")
      s"""WITH bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 200 = 0),
         |quotes AS (SELECT bench_id + 750000 AS doc_id,
         |  'leading quote intro ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[10:45], ' ') || ' closing mark' AS text
         |  FROM bench),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |tokd AS (SELECT doc_id, $duckToks AS t FROM all_docs),
         |tokb AS (SELECT bench_id, $duckToks AS t FROM bench),
         |gd AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |      SELECT doc_id, unnest(list_transform(range(1, len(t) - 11), i -> {'pos': i - 1, 'gram': $gram13})) AS u FROM tokd)),
         |gb AS (SELECT bench_id, u.pos AS pos, u.gram AS gram FROM (
         |      SELECT bench_id, unnest(list_transform(range(1, len(t) - 11), i -> {'pos': i - 1, 'gram': $gram13})) AS u FROM tokb)),
         |p AS (SELECT d.doc_id, b.bench_id, d.pos AS pa, d.pos - b.pos AS diag
         |      FROM gd d JOIN gb b ON d.gram = b.gram),
         |i AS (SELECT doc_id, bench_id, diag, pa,
         |        CASE WHEN lag(pa) OVER w IS NULL THEN 1 WHEN pa > lag(pa) OVER w + 1 THEN 1 ELSE 0 END AS brk
         |      FROM p WINDOW w AS (PARTITION BY doc_id, bench_id, diag ORDER BY pa)),
         |i2 AS (SELECT doc_id, bench_id, diag, pa, sum(brk) OVER (PARTITION BY doc_id, bench_id, diag ORDER BY pa
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM i),
         |reg AS (SELECT doc_id, bench_id, diag, island, min(pa) AS d_start, max(pa) + 13 AS d_end
         |        FROM i2 GROUP BY doc_id, bench_id, diag, island),
         |regf AS (SELECT doc_id, d_start, d_end FROM reg WHERE d_end - d_start >= 15),
         |mask AS (SELECT doc_id, flatten(list(range(d_start, d_end))) AS cov FROM regf GROUP BY doc_id)
         |SELECT tokd.doc_id,
         |  CASE WHEN m.cov IS NULL THEN array_to_string(t, ' ')
         |       ELSE coalesce(array_to_string(list_transform(list_filter(range(len(t)), i -> NOT list_contains(m.cov, i)), i -> t[i+1]), ' '), '')
         |  END AS clean_text
         |FROM tokd LEFT JOIN mask m ON tokd.doc_id = m.doc_id
         |ORDER BY tokd.doc_id""".stripMargin
    },
    "span_dedup_clean" -> {
      val gram50 = (0 until 50).map {
        case 0 => "t[i]"
        case j => s"t[i+$j]"
      }.mkString(" || ' ' || ")
      s"""WITH quotes AS (SELECT doc_id + 900000 AS doc_id,
         |  'verbatim quote follows ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:60], ' ') || ' end quote marker' AS text
         |  FROM documents WHERE doc_id < 20),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |tok AS (SELECT doc_id, $duckToks AS t FROM all_docs),
         |sp AS (SELECT doc_id, CASE WHEN len(t) < 50 THEN [{'pos': 0, 'gram': array_to_string(t, ' ')}]
         |       ELSE list_transform(range(1, len(t) - 48), i -> {'pos': i - 1, 'gram': $gram50}) END AS spans FROM tok),
         |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
         |      FROM (SELECT doc_id, unnest(spans) AS u FROM sp)),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         |mask AS (SELECT doc_id, flatten(list_transform(list(pos), p -> range(p, p + 50))) AS cov
         |         FROM g JOIN d USING (gram) GROUP BY doc_id)
         |SELECT tok.doc_id,
         |  CASE WHEN m.cov IS NULL THEN array_to_string(t, ' ')
         |       ELSE coalesce(array_to_string(list_transform(list_filter(range(len(t)), i -> NOT list_contains(m.cov, i)), i -> t[i+1]), ' '), '')
         |  END AS clean_text
         |FROM tok LEFT JOIN mask m ON tok.doc_id = m.doc_id
         |ORDER BY tok.doc_id""".stripMargin
    },
    "span_dedup_keep_one" -> {
      val gram50 = (0 until 50).map {
        case 0 => "t[i]"
        case j => s"t[i+$j]"
      }.mkString(" || ' ' || ")
      s"""WITH quotes AS (SELECT doc_id + 900000 AS doc_id,
         |  'verbatim quote follows ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:60], ' ') || ' end quote marker' AS text
         |  FROM documents WHERE doc_id < 20),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |tok AS (SELECT doc_id, $duckToks AS t FROM all_docs),
         |sp AS (SELECT doc_id, CASE WHEN len(t) < 50 THEN [{'pos': 0, 'gram': array_to_string(t, ' ')}]
         |       ELSE list_transform(range(1, len(t) - 48), i -> {'pos': i - 1, 'gram': $gram50}) END AS spans FROM tok),
         |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
         |      FROM (SELECT doc_id, unnest(spans) AS u FROM sp)),
         |r AS (SELECT doc_id, pos,
         |        count(*) OVER (PARTITION BY gram) AS n_occ,
         |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |      FROM g),
         |cut AS (SELECT doc_id, pos FROM r WHERE n_occ >= 2 AND rn > 1),
         |mask AS (SELECT doc_id, flatten(list_transform(list(pos), p -> range(p, p + 50))) AS cov
         |         FROM cut GROUP BY doc_id)
         |SELECT tok.doc_id,
         |  CASE WHEN m.cov IS NULL THEN array_to_string(t, ' ')
         |       ELSE coalesce(array_to_string(list_transform(list_filter(range(len(t)), i -> NOT list_contains(m.cov, i)), i -> t[i+1]), ' '), '')
         |  END AS clean_text
         |FROM tok LEFT JOIN mask m ON tok.doc_id = m.doc_id
         |ORDER BY tok.doc_id""".stripMargin
    },
    "stream_decontaminate" ->
      s"""WITH bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 200 = 0),
         |quotes AS (SELECT bench_id + 700000 AS doc_id,
         |  'as the eval put it ' || array_to_string(regexp_split_to_array(trim(text), '\\s+')[10:29], ' ') || ' end of citation' AS text
         |  FROM bench WHERE bench_id < 1000),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM quotes),
         |sd AS (SELECT doc_id, ${duckShinglesN(duckToks, 13)} AS sh FROM all_docs),
         |sb AS (SELECT bench_id, ${duckShinglesN(duckToks, 13)} AS sh FROM bench),
         |p AS (SELECT d.doc_id, b.bench_id, len(list_intersect(d.sh, b.sh)) AS n_shared
         |      FROM sd d CROSS JOIN sb b)
         |SELECT doc_id, bench_id, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared >= 1 ORDER BY doc_id, bench_id""".stripMargin,
    "neardup_embedding" ->
      s"""WITH all_v AS (
         |  SELECT vec_id, ${dEmb("embedding")} AS v FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, ${dEmb("embedding")} FROM embeddings WHERE vec_id < 100),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCosine("a.v", "b.v")} AS cd
         |      FROM all_v a CROSS JOIN all_v b WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cd, 4) AS cos_dist FROM p WHERE cd <= 0.1 ORDER BY id_a, id_b""".stripMargin,
    "neardup_embedding_probeseq" ->
      s"""WITH all_v AS (
         |  SELECT vec_id, ${dEmb("embedding")} AS v FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, ${dEmb("embedding")} FROM embeddings WHERE vec_id < 100),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCosine("a.v", "b.v")} AS cd
         |      FROM all_v a CROSS JOIN all_v b WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cd, 4) AS cos_dist FROM p WHERE cd <= 0.1 ORDER BY id_a, id_b""".stripMargin,
    "dedup_semantic" ->
      s"""WITH all_v AS (
         |  SELECT vec_id, ${dEmb("embedding")} AS v FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, ${dEmb("embedding")} FROM embeddings WHERE vec_id < 100),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCosine("a.v", "b.v")} AS cd
         |      FROM all_v a CROSS JOIN all_v b WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cd, 4) AS cos_dist FROM p WHERE cd <= 0.1 ORDER BY id_a, id_b""".stripMargin,
    "lang_id" -> langIdOracle,
    "lang_id_ngram" -> langIdNgramOracle,
    "quality_classifier" -> qualityClassifierOracle,
    "gopher_repetition" -> gopherRepetitionOracle,
    "doc_novelty" ->
      s"""WITH sd AS (SELECT doc_id, ${duckShinglesN(duckToks, 3)} AS sh FROM documents),
         |g AS (SELECT doc_id, unnest(sh) AS g FROM sd),
         |dfreq AS (SELECT g, count(*) AS docs_with FROM g GROUP BY g),
         |per AS (SELECT doc_id, count(*) AS n_shingles,
         |    sum(CASE WHEN docs_with = 1 THEN 1 ELSE 0 END) AS n_unique
         |  FROM g JOIN dfreq USING (g) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
         |  CAST(n_unique AS BIGINT) AS n_unique,
         |  round(n_unique::DOUBLE / n_shingles, 4) AS novelty
         |FROM per ORDER BY doc_id""".stripMargin,
    "corpus_zipf" ->
      s"""WITH tk AS (SELECT source, unnest($duckToks) AS token FROM documents),
         |tf AS (SELECT source, token, count(*) AS freq FROM tk GROUP BY source, token),
         |tot AS (SELECT source, CAST(sum(freq) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types FROM tf GROUP BY source),
         |r AS (SELECT source, token, freq,
         |    row_number() OVER (PARTITION BY source ORDER BY freq DESC, token) AS rank FROM tf),
         |f AS (SELECT source, count(*)::DOUBLE AS k, sum(ln(rank)) AS sx, sum(ln(freq)) AS sy,
         |    sum(ln(rank)*ln(freq)) AS sxy, sum(ln(rank)*ln(rank)) AS sxx
         |  FROM r WHERE rank <= 100 GROUP BY source)
         |SELECT t.source, t.n_tokens, t.n_types,
         |  round(t.n_types::DOUBLE / t.n_tokens, 4) AS ttr,
         |  round(CASE WHEN k*sxx - sx*sx = 0 THEN 0.0
         |    ELSE (k*sxy - sx*sy)/(k*sxx - sx*sx) END, 4) AS zipf_slope
         |FROM tot t JOIN f USING (source) ORDER BY t.source""".stripMargin,
    "quality_filters" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 200000, text || ' ' || text || ' ' || text FROM documents WHERE doc_id < 20
         |  UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM (VALUES
         |    (300001, '- buy gold' || chr(10) || '- buy silver' || chr(10) || '- buy bronze' || chr(10) || 'normal closing line'),
         |    (300002, 'the story continues...' || chr(10) || 'and then it ends...' || chr(10) || 'finally done'),
         |    (300003, '### header' || chr(10) || 'use #tags and #more #tags here')) v(doc_id, text)),
         |t AS (SELECT doc_id, text, $duckToks AS toks, string_split(text, chr(10)) AS lns FROM all_docs),
         |g AS (SELECT doc_id, text, toks, lns,
         |        CASE WHEN len(toks) < 3 THEN 1 ELSE len(toks) - 2 END AS total3,
         |        len(${duckShingles("toks")}) AS distinct3 FROM t)
         |SELECT doc_id,
         |  round(1.0 - distinct3::DOUBLE / total3, 4) AS rep3_ratio,
         |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / length(text) END, 4) AS upper_ratio,
         |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text) END, 4) AS digit_ratio,
         |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) END, 4) AS alpha_ratio,
         |  round(list_sum(list_transform(toks, tk -> length(tk)))::DOUBLE / len(toks), 4) AS mean_word_len,
         |  round(((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE / len(toks), 4) AS symbol_word_ratio,
         |  round(len(list_filter(lns, l -> starts_with(ltrim(l, ' '), '- ') OR starts_with(ltrim(l, ' '), '* ') OR starts_with(ltrim(l, ' '), '• ')))::DOUBLE / len(lns), 4) AS bullet_line_frac,
         |  round(len(list_filter(lns, l -> ends_with(rtrim(l, ' '), '...')))::DOUBLE / len(lns), 4) AS ellipsis_line_frac
         |FROM g ORDER BY doc_id""".stripMargin,
    // per-source pass rates of the same rounded signals quality_filters
    // hash-matches; thresholds compared on the 4dp values both engines
    // agree on, rates are exact 0/1 averages
    "filter_report" ->
      s"""WITH planted AS (
         |  SELECT source, text || ' ' || text || ' ' || text AS text FROM documents WHERE doc_id < 60 AND doc_id % 3 = 0
         |  UNION ALL SELECT source, 'truncated line one...' || chr(10) || 'truncated line two...' || chr(10) || 'closing line ' || substr(text, 1, 40) FROM documents WHERE doc_id < 60 AND doc_id % 3 = 1
         |  UNION ALL SELECT source, repeat('# ', 20) || text FROM documents WHERE doc_id < 60 AND doc_id % 3 = 2),
         |all_docs AS (SELECT source, text FROM documents UNION ALL SELECT source, text FROM planted),
         |t AS (SELECT source, text, $duckToks AS toks, string_split(text, chr(10)) AS lns FROM all_docs),
         |g AS (SELECT source, text, toks, lns,
         |        CASE WHEN len(toks) < 3 THEN 1 ELSE len(toks) - 2 END AS total3,
         |        len(${duckShingles("toks")}) AS distinct3 FROM t),
         |s AS (SELECT source,
         |  round(1.0 - distinct3::DOUBLE / total3, 4) AS rep3,
         |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) END, 4) AS alpha,
         |  round(list_sum(list_transform(toks, tk -> length(tk)))::DOUBLE / len(toks), 4) AS mwl,
         |  round(((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE / len(toks), 4) AS swr,
         |  round(len(list_filter(lns, l -> ends_with(rtrim(l, ' '), '...')))::DOUBLE / len(lns), 4) AS elf
         |  FROM g),
         |p AS (SELECT source,
         |  CASE WHEN rep3 <= 0.2 THEN 1 ELSE 0 END AS p_rep,
         |  CASE WHEN alpha >= 0.6 THEN 1 ELSE 0 END AS p_alpha,
         |  CASE WHEN mwl BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS p_mwl,
         |  CASE WHEN swr <= 0.1 THEN 1 ELSE 0 END AS p_swr,
         |  CASE WHEN elf <= 0.3 THEN 1 ELSE 0 END AS p_elf
         |  FROM s)
         |SELECT source, count(*) AS n_docs,
         |  round(avg(p_rep), 4) AS pass_rep3,
         |  round(avg(p_alpha), 4) AS pass_alpha,
         |  round(avg(p_mwl), 4) AS pass_word_len,
         |  round(avg(p_swr), 4) AS pass_symbol,
         |  round(avg(p_elf), 4) AS pass_ellipsis,
         |  round(avg(CASE WHEN p_rep + p_alpha + p_mwl + p_swr + p_elf = 5 THEN 1 ELSE 0 END), 4) AS pass_all
         |FROM p GROUP BY source ORDER BY source""".stripMargin,
    "c4_clean" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'This is a good line with punctuation.' || chr(10) ||
        |    substr(text, 1, 40) || chr(10) ||
        |    'Short line.' || chr(10) ||
        |    'Enable javascript to view comments today.' || chr(10) ||
        |    text || '.' ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'curly { brace' ELSE '' END AS text
        |  FROM documents WHERE doc_id < 300),
        |s AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines,
        |    (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) AS flag
        |  FROM p),
        |f AS (
        |  SELECT doc_id, flag, lines,
        |    list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$')
        |      AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
        |      AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM s)
        |SELECT doc_id,
        |  CAST(CASE WHEN flag THEN 1 ELSE 0 END AS BIGINT) AS page_dropped,
        |  CAST(CASE WHEN flag THEN 0 ELSE len(kept) END AS BIGINT) AS n_kept,
        |  CAST(CASE WHEN flag THEN len(lines) ELSE len(lines) - len(kept) END AS BIGINT) AS n_dropped,
        |  CASE WHEN flag THEN '' ELSE array_to_string(kept, chr(10)) END AS clean_text
        |FROM f ORDER BY doc_id""".stripMargin,
    // the identical RE2-compatible regexp/replace chain, stage by stage;
    // replacements use chr(10) (SQL literals do not process escapes),
    // patterns use \n (RE2 processes escapes in the PATTERN)
    "html_extract" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id,
        |    '<html><head><style type="text/css">p { margin: 0; }</style><script>if (a < b && c > 1) { emit("x"); }</script></head><body><!-- boilerplate --><h1>Title &amp; more</h1><p>'
        |    || text ||
        |    '</p><ul><li>first item</li><li>second</li></ul><br/>Tom &amp; Jerry &lt;3 &quot;quoted&quot;&nbsp;end</body></html>' AS text
        |  FROM documents WHERE doc_id < 25),
        |s1 AS (SELECT doc_id, regexp_replace(text, '(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>|<!--.*?-->', ' ', 'g') AS t FROM all_docs),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?i)</p[ \t]*>|</h[1-6]>|</li>|</div>|</tr>|<br[^>]*>', chr(10), 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(replace(t,
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
        |s6 AS (SELECT doc_id, regexp_replace(t, '( ?\n ?)+', chr(10), 'g') AS t FROM s5)
        |SELECT doc_id, regexp_replace(t, '^[ \n]+|[ \n]+$', '', 'g') AS clean_text
        |FROM s6 ORDER BY doc_id""".stripMargin,
    // identical URL + domain patterns (explicit whitespace class — RE2 and
    // chunking replay: identical integer arithmetic (ceil via // on
    // BIGINTs), 1-based inclusive list slice == Spark's slice(start, len)
    "chunk_docs" ->
      s"""WITH tok AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         |        greatest(CAST(1 AS BIGINT), (CAST(len(toks) AS BIGINT) - 8 + 31) // 32) AS nc FROM tok),
         |e AS (SELECT doc_id, toks, n, unnest(range(nc)) AS chunk FROM c),
         |s AS (SELECT doc_id, CAST(chunk AS BIGINT) AS chunk, chunk*32 AS tok_start,
         |        least(chunk*32 + 40, n) AS tok_end, toks FROM e)
         |SELECT doc_id, chunk, tok_start, tok_end, tok_end - tok_start AS n_chunk_tokens,
         |  array_to_string(toks[tok_start+1 : tok_end], ' ') AS chunk_text
         |FROM s ORDER BY doc_id, chunk""".stripMargin,
    // BM25 replay (k1=1.2, b=0.75): same tokenizer, same arithmetic
    // parenthesization as the Spark side, rank by the ROUNDED score then
    // doc_id — so engine-level fp ulps cannot flip ranks
    "bm25_topk" ->
      s"""WITH ${duckBm25Cte()}
         |SELECT qid, doc_id, score, CAST(rank AS BIGINT) AS rank
         |FROM bmr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // phrase replay: counts derived INDEPENDENTLY from the raw text —
    // contiguous window equality at every start position
    "bm25_phrase" -> {
      val arms = bm25Phrases.map { case (qid, phrase) =>
        val terms = phrase.split(" ")
        val conds = terms.zipWithIndex
          .map { case (t, j) => s"toks[i+${j + 1}] = '$t'" }.mkString(" AND ")
        s"""SELECT CAST($qid AS BIGINT) AS qid, doc_id,
           |  CAST(len(list_filter(range(len(toks) - ${terms.length - 1}), i -> $conds)) AS BIGINT) AS n_occurrences
           |FROM tok""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tok AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |m AS ($arms)
         |SELECT qid, doc_id, n_occurrences FROM m
         |WHERE n_occurrences > 0 ORDER BY qid, doc_id""".stripMargin
    },
    // RAG capstone replay: chunk arithmetic + md5 hash embedding + dense
    // assembly + exact kNN, each stage the same formulation its
    // standalone row uses
    "pipeline_rag" -> {
      val dimSums = (0 until 16)
        .map(p => s"sum(CASE WHEN pos = $p THEN value ELSE 0.0 END)").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         |        greatest(CAST(1 AS BIGINT), (CAST(len(toks) AS BIGINT) - 8 + 31) // 32) AS nc FROM tok),
         |e AS (SELECT doc_id, toks, n, unnest(range(nc)) AS chunk FROM c),
         |s AS (SELECT doc_id*1000 + chunk AS chunk_id,
         |        toks[chunk*32 + 1 : least(chunk*32 + 40, n)] AS ctoks FROM e),
         |t2 AS (SELECT chunk_id, unnest(ctoks) AS token FROM s),
         |h AS (SELECT chunk_id, CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS hv FROM t2),
         |sp AS (SELECT chunk_id, hv % 16 AS pos,
         |         CASE WHEN ((hv >> 5) & 1) = 0 THEN 1.0 ELSE -1.0 END AS value FROM h),
         |spg AS (SELECT chunk_id, pos, sum(value) AS value FROM sp GROUP BY chunk_id, pos),
         |dense AS (SELECT chunk_id, [$dimSums] AS v FROM spg GROUP BY chunk_id),
         |q AS (SELECT chunk_id AS qid, v AS qv FROM dense WHERE chunk_id IN (0, 1000, 2000)),
         |d AS (SELECT q.qid, dense.chunk_id AS id, ${duckEuclid("dense.v", "q.qv")} AS dist
         |      FROM dense CROSS JOIN q),
         |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
         |SELECT qid, id, round(dist, 4) AS dist, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },
    // maintained BM25 replay: the same formula CTE over the SURVIVING
    // mutated corpus (drift-modified doc_id%7, removed doc_id%10)
    "stream_bm25_maintenance" ->
      s"""WITH corpus AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN 'drift ' || text ELSE text END AS text
         |  FROM documents WHERE doc_id % 10 <> 0),
         |${duckBm25Cte(docsRel = "corpus")}
         |SELECT qid, doc_id, score, CAST(rank AS BIGINT) AS rank
         |FROM bmr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // snippet replay: same hit set (bmr ≤ 10), same 0-based anchor (min
    // index of a query term, head fallback), same inclusive list slice
    "bm25_snippets" ->
      s"""WITH ${duckBm25Cte()},
         |hits AS (SELECT qid, doc_id FROM bmr WHERE rank <= 10),
         |qt2 AS (SELECT qid, list_distinct(regexp_split_to_array(trim(lower(qtext)), '\\s+')) AS terms
         |        FROM (VALUES $duckBm25QVals) AS q(qid, qtext)),
         |tok AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |a AS (SELECT h.qid, h.doc_id, t.toks,
         |        coalesce(list_min(list_transform(range(len(t.toks)),
         |          i -> CASE WHEN list_contains(q.terms, t.toks[i+1]) THEN i END)), 0) AS anchor
         |      FROM hits h JOIN tok t USING (doc_id) JOIN qt2 q USING (qid)),
         |sn AS (SELECT qid, doc_id, CAST(anchor AS BIGINT) AS anchor,
         |         greatest(anchor - 4, 0) AS s0,
         |         least(anchor + 4, len(toks) - 1) AS e0, toks FROM a)
         |SELECT qid, doc_id, anchor,
         |  array_to_string(toks[s0+1 : e0+1], ' ') AS snippet
         |FROM sn ORDER BY qid, doc_id""".stripMargin,
    "bm25_saved" ->
      s"""WITH ${duckBm25Cte()}
         |SELECT qid, doc_id, score, CAST(rank AS BIGINT) AS rank
         |FROM bmr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // DataFrame-query-side BM25: same replay, query terms drawn from the
    // first three documents themselves
    "bm25_topk_df" ->
      s"""WITH ${duckBm25Cte(qtOverride = Some(
             "SELECT doc_id AS qid, unnest(list_distinct(" + duckToks + ")) AS token " +
             "FROM documents WHERE doc_id < 3"))}
         |SELECT qid, doc_id, score, CAST(rank AS BIGINT) AS rank
         |FROM bmr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // hybrid RRF: BM25 arm + exact-kNN vector arm, fused by
    // sum(1/(60+rank)) over integer ranks — bit-deterministic, so the
    // fused ordering uses the FULL score like the Spark side
    "hybrid_rrf" ->
      s"""WITH ${duckHybridCte()}
         |SELECT qid, id, round(s, 6) AS rrf_score, CAST(rank AS BIGINT) AS rank
         |FROM fr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // MMR diversification replay: the greedy loop unrolled stage by stage
    // with the IDENTICAL IEEE arithmetic and id tie-breaks
    "hybrid_mmr" -> duckMmrSql(5, 0.7),

    // MaxSim replay: per (query, query-token) the max inner product over
    // each doc's tokens, summed in query-token order (ORDER BY pins the
    // fold, matching the kernel's loop order bit-for-bit)
    "maxsim_exact" ->
      s"""WITH tok AS (SELECT vec_id // 4 AS id, vec_id AS tid, ${dEmb("embedding")} AS v FROM embeddings),
         |qt AS (SELECT id AS qid, tid, v AS qv FROM tok WHERE id < 3),
         |m AS (SELECT qt.qid, tok.id, qt.tid, max(list_inner_product(tok.v, qt.qv)) AS mx
         |      FROM tok CROSS JOIN qt GROUP BY qt.qid, tok.id, qt.tid),
         |sc AS (SELECT qid, id, sum(mx ORDER BY tid) AS score FROM m GROUP BY qid, id),
         |r AS (SELECT qid, id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank FROM sc)
         |SELECT qid, id, round(score, 4) + 0 AS score, rank FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // two-stage replay: stage-1 token top-8 with the (dot DESC, tid)
    // tie-break, distinct owning docs, exact rescore over candidates only
    "maxsim_twostage" ->
      s"""WITH tok AS (SELECT vec_id // 4 AS doc_id, vec_id AS tid, ${dEmb("embedding")} AS v FROM embeddings),
         |qt AS (SELECT doc_id AS qid, tid AS qtid, v AS qv FROM tok WHERE doc_id < 3),
         |s AS (SELECT qt.qid, qt.qtid, tok.doc_id, tok.tid, list_inner_product(tok.v, qt.qv) AS s
         |      FROM tok CROSS JOIN qt),
         |c AS (SELECT DISTINCT qid, doc_id FROM (
         |        SELECT qid, qtid, doc_id, tid,
         |               row_number() OVER (PARTITION BY qid, qtid ORDER BY s DESC, tid) AS r FROM s) sr
         |      WHERE r <= 8),
         |m AS (SELECT qt.qid, c.doc_id AS id, qt.qtid, max(list_inner_product(tok.v, qt.qv)) AS mx
         |      FROM c JOIN qt ON qt.qid = c.qid JOIN tok ON tok.doc_id = c.doc_id
         |      GROUP BY qt.qid, c.doc_id, qt.qtid),
         |sc AS (SELECT qid, id, sum(mx ORDER BY qtid) AS score FROM m GROUP BY qid, id),
         |r AS (SELECT qid, id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank FROM sc)
         |SELECT qid, id, round(score, 4) + 0 AS score, rank FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // weighted-sum hybrid replay: same per-query min-max windows, same
    // inverted normalization on the distance arm, same 0.6/0.4 weights
    "hybrid_weighted" ->
      s"""WITH ${duckBm25Cte()},
         |bmt AS (SELECT qid, doc_id AS id, score FROM bmr WHERE rank <= 10),
         |q2 AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id < 3),
         |d2 AS (SELECT q2.qid, e.vec_id AS id, ${duckEuclid(dEmb("e.embedding"), "q2.qv")} AS dist
         |       FROM embeddings e CROSS JOIN q2),
         |nrt AS (SELECT qid, id, dist FROM (
         |          SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
         |          FROM d2) WHERE rank <= 10),
         |n1 AS (SELECT qid, id, 0 AS li,
         |         (CASE WHEN mx = mn THEN 1.0 ELSE (score - mn)/(mx - mn) END) * 0.6 AS contrib
         |       FROM (SELECT qid, id, score,
         |               min(score) OVER (PARTITION BY qid) AS mn,
         |               max(score) OVER (PARTITION BY qid) AS mx FROM bmt)),
         |n2 AS (SELECT qid, id, 1 AS li,
         |         (CASE WHEN mx = mn THEN 1.0 ELSE (mx - dist)/(mx - mn) END) * 0.4 AS contrib
         |       FROM (SELECT qid, id, dist,
         |               min(dist) OVER (PARTITION BY qid) AS mn,
         |               max(dist) OVER (PARTITION BY qid) AS mx FROM nrt)),
         |f AS (SELECT qid, id, sum(contrib) AS s FROM (SELECT * FROM n1 UNION ALL SELECT * FROM n2)
         |      GROUP BY qid, id),
         |r AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rank FROM f)
         |SELECT qid, id, round(s, 6) AS fused_score, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // Java \s diverge on \x0B); both sides sort domains before joining
    // the same canonicalization chain, one CTE per step; DuckDB
    // regexp_replace needs the explicit 'g' flag where Spark's is global
    "url_canonical" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id,
        |    'read https://Example.com:443/Article/' || CAST(doc_id AS VARCHAR) || '?utm_source=feed&id=7&utm_medium=rss#frag also https://www.example.com/Article/' || CAST(doc_id AS VARCHAR) || '?id=7 and http://example.com:80/other?gclid=xyz. tail' AS text
        |  FROM documents WHERE doc_id < 10),
        |l AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?i)\bhttps?://[^ \t\n\r"''<>)]+', 0)) AS url FROM all_docs),
        |c0 AS (SELECT doc_id, regexp_replace(regexp_replace(url, '[.,;:!?]+$', ''), '#.*$', '') AS u FROM l),
        |c1 AS (SELECT doc_id, lower(regexp_extract(u, '^([a-zA-Z]+://[^/?#]+)', 1)) || regexp_replace(u, '^[a-zA-Z]+://[^/?#]+', '') AS u FROM c0),
        |c2 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '^(https?://[^/?#:]+):(80|443)(/|\?|$)', '\1\3'), '^(https?://)www\.', '\1') AS u FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(u, '([?&])(utm_[a-zA-Z]+|gclid|fbclid)=[^&#]*', '\1', 'g') AS u FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '\?&+', '?'), '&&+', '&', 'g') AS u FROM c3),
        |c5 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '[?&]+$', ''), '/+$', '') AS u FROM c4)
        |SELECT u AS canonical_url, count(DISTINCT doc_id) AS n_docs, count(*) AS n_urls
        |FROM c5 GROUP BY 1 HAVING count(*) >= 2 ORDER BY canonical_url""".stripMargin,
    "link_stats" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000 AS doc_id,
        |    'See <a href="https://example.org/a">one</a> and <a href="http://docs.example.org/b?q=1">two</a> and <a href="https://Example.org/c#frag">three</a> plus bare https://mirror.example.net/path. ' || text AS text
        |  FROM documents WHERE doc_id < 20),
        |l AS (SELECT doc_id, regexp_extract_all(text, '(?i)\bhttps?://[^ \t\n\r"''<>)]+', 0) AS links FROM all_docs),
        |d AS (SELECT doc_id, len(links) AS n_links,
        |       list_distinct(list_transform(links, u ->
        |         lower(regexp_extract(regexp_replace(u, '[.,;:!?]+$', ''), '^[a-zA-Z]+://([^/?#]+)', 1)))) AS doms
        |     FROM l)
        |SELECT doc_id, CAST(n_links AS BIGINT) AS n_links, CAST(len(doms) AS BIGINT) AS n_domains,
        |  -- DuckDB's array_to_string is NULL on an empty list; Spark's array_join is ''
        |  coalesce(array_to_string(list_sort(doms), ','), '') AS domains
        |FROM d ORDER BY doc_id""".stripMargin,
    "line_dedup_clean" ->
      s"""WITH wrapped AS (SELECT doc_id + 400000 AS doc_id,
         |  'share this article' || chr(10) || text || chr(10) || 'all rights reserved' || chr(10) || 'subscribe to our newsletter' AS text
         |  FROM documents WHERE doc_id < 30),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM wrapped),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lns FROM all_docs),
         |l AS (SELECT doc_id, u.pos AS pos, u.line AS line
         |      FROM (SELECT doc_id, unnest(list_transform(range(1, len(lns) + 1),
         |              i -> {'pos': i - 1, 'line': lns[i]})) AS u FROM ls)),
         |d AS (SELECT trim(line) AS lkey FROM l WHERE trim(line) <> ''
         |      GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         |kept AS (SELECT l.doc_id, l.pos, l.line FROM l LEFT JOIN d ON trim(l.line) = d.lkey
         |         WHERE d.lkey IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(line, chr(10) ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY doc_id)
         |SELECT ls.doc_id, CAST(len(ls.lns) AS BIGINT) AS n_lines,
         |  CAST(len(ls.lns) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM ls LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    // `round(x, d) + 0` on SIGNED columns: DuckDB's round keeps the sign
    // of a tiny negative (-1e-9 → -0.0) while Spark's HALF_UP BigDecimal
    // round yields +0.0 — byte-level hashes distinguish the two zeros
    // even though they compare equal. Adding +0 normalizes -0.0 → +0.0
    // (IEEE 754: -0.0 + 0.0 = +0.0) and is the identity elsewhere. Only
    // columns whose values can be negative need it; distances, ratios,
    // counts, and BM25/RRF scores are non-negative by construction.
    "dsir_weights" ->
      s"""WITH ${duckDsirCte()}
         |SELECT doc_id, n_tokens, dwt AS dsir_weight
         |FROM dw ORDER BY doc_id""".stripMargin,
    // the same weight CTE feeding the A-Res closed form (sample_weighted's
    // oracle shape, weight = exp(rounded dsir weight))
    "sample_dsir" ->
      s"""WITH ${duckDsirCte()},
         |k AS (SELECT doc_id,
         |    ln((CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 0.5)
         |       / 1152921504606846976.0) / exp(dwt) AS skey
         |  FROM dw)
         |SELECT doc_id, row_number() OVER (ORDER BY skey DESC, doc_id) AS sample_rank
         |FROM k ORDER BY skey DESC, doc_id LIMIT 120""".stripMargin,
    "corpus_profile" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.95), 4) AS p95_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+?[0-9][0-9() .-]{6,}[0-9]"
      s"""WITH planted AS (SELECT doc_id + 500000 AS doc_id,
         |  'contact user' || doc_id || '@mail.example.org or +1 (555) 123-4567 today ' || text AS text
         |  FROM documents WHERE doc_id < 10),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM planted)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$phone')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS redacted
         |FROM all_docs ORDER BY doc_id""".stripMargin
    },
    "quality_score" -> {
      val en = TextAnalysis.StopWords.head._2.map(w => s"'$w'").mkString(",")
      s"""SELECT doc_id,
         |  round(least(length($duckToks) / 100.0, 1.0) * 0.5 +
         |    (len(list_filter($duckToks, t -> t IN ($en)))::DOUBLE / length($duckToks)) * 0.5, 4) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "dist_simd_check" ->
      """SELECT vec_id, CAST(1 AS BIGINT) AS ok_euclidean, CAST(1 AS BIGINT) AS ok_manhattan,
        |  CAST(1 AS BIGINT) AS ok_cosine FROM embeddings ORDER BY vec_id""".stripMargin,
    "dist_euclidean" -> distOracle(duckEuclid),
    "dist_manhattan" -> distOracle(duckManhattan),
    "dist_cosine" -> distOracle(duckCosine),
    "vec_algebra" ->
      s"""WITH q AS (SELECT ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(${duckDot(dEmb("e.embedding"), "q.qv")}, 4) + 0 AS dot_q,
         |  round(sqrt(${duckNormSq(dEmb("e.embedding"))}), 4) AS norm,
         |  round(list_sum(list_transform(list_zip(${dEmb("e.embedding")}, q.qv), x -> x[1]+x[2])), 4) + 0 AS sum_add,
         |  round(list_sum(list_transform(list_zip(${dEmb("e.embedding")}, q.qv), x -> x[1]-x[2])), 4) + 0 AS sum_sub,
         |  round(list_sum(list_transform(list_zip(${dEmb("e.embedding")}, q.qv), x -> x[1]*x[2])), 4) + 0 AS sum_mul,
         |  round(list_sum(list_transform(${dEmb("e.embedding")}, x -> x*2.5)), 4) + 0 AS sum_smul
         |FROM embeddings e CROSS JOIN q ORDER BY e.vec_id""".stripMargin,
    "vec_codec_roundtrip" ->
      "SELECT vec_id, CAST(0 AS BIGINT) AS n_mismatch, CAST(4*len(embedding) AS BIGINT) AS n_bytes FROM embeddings ORDER BY vec_id",
    "sql_vector_ops" ->
      s"""WITH q AS (SELECT ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(${duckEuclid(dEmb("e.embedding"), "q.qv")}, 4) AS dist_l2,
         |  round(${duckCosine(dEmb("e.embedding"), "q.qv")}, 4) AS dist_cos,
         |  round(${duckDot(dEmb("e.embedding"), "q.qv")}, 4) + 0 AS dot_q,
         |  round(sqrt(${duckNormSq(dEmb("e.embedding"))}), 4) AS norm
         |FROM embeddings e CROSS JOIN q ORDER BY e.vec_id""".stripMargin,
    "hnsw_search" -> recallOracle(5, 10),
    "hnsw_heuristic" -> recallOracle(5, 10),
    "hnsw_cosine" -> recallOracle(5, 10),
    "hnsw_filtered" -> recallOracle(5, 10),
    "hnsw_persisted" -> recallOracle(5, 10),
    "stream_hnsw_maintenance" -> recallOracle(5, 10),
    "stream_ivf_pq_maintenance" ->
      ("SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results, " +
        "CAST(10 AS BIGINT) AS n_same_as_batch " +
        "FROM embeddings WHERE vec_id < 3 ORDER BY qid"),
    "stream_ivf_maintenance" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_as_batch
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // the retrained index serves batch-IVF-equal results and the gate
    // protocol holds end-to-end — closed-form constant table
    "stream_ivf_retrain" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_as_batch, CAST(1 AS BIGINT) AS gate_proven
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // as-of v1 reconstructs the pre-tombstone state exactly: equality with
    // batch IVF over the full corpus is row-for-row, so the oracle is the
    // same closed-form constant table
    "stream_ivf_asof" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_as_full
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // pre-compaction the as-of view is the delta's exact scan, so equality
    // with exact brute-force kNN over the full corpus is row-for-row
    "stream_hnsw_asof" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_as_full
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    "hnsw_with_meta" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(0 AS BIGINT) AS n_meta_mismatch, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 3 ORDER BY qid""".stripMargin,
    "ann_ivf" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS full_probe_exact, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    "ann_ivf_sq8" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_as_ivf
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // three gates per curve point (k rows returned, recall nondecreasing,
    // full probe exact) — falsifiable invariants, constant-table oracle
    "ann_recall_curve" ->
      ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)), " +
        "(2, 1, 1, 1), (4, 1, 1, 1), (8, 1, 1, 1), (16, 1, 1, 1)) " +
        "AS t(nprobe, results_ok, mono_ok, full_exact_ok) ORDER BY nprobe"),
    "ann_ivf_sq4" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_as_ivf
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    "hnsw_source" ->
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
         |round(sqrt(${duckNormSq(dEmb("embedding"))}), 4) AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "hnsw_write" ->
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
         |round(sqrt(${duckNormSq(dEmb("embedding"))}), 4) AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "ann_ivf_pq" ->
      ("SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results, " +
        "CAST(1 AS BIGINT) AS recall_ok, CAST(10 AS BIGINT) AS n_same_df " +
        "FROM embeddings WHERE vec_id < 5 ORDER BY qid"),
    "ann_ivf_pq_residual" -> recallOracle(5, 10),
    "ann_ivf_hnsw_coarse" -> recallOracle(5, 10),
    "bpe_train" ->
      ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'e', 's'), (1, 'es', 't'), " +
        "(2, 'l', 'o'), (3, 'lo', 'w')) AS t(rank, mleft, mright) ORDER BY rank"),
    // hand-stepped byte-level trajectory (see the query comment): café's
    // two-byte é merges through Ã/© before the whole word folds
    "bpe_train_bytes" ->
      ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'a', 'f'), (1, 'af', 'Ã'), " +
        "(2, 'afÃ', '©'), (3, 'c', 'afÃ©'), (4, 'a', 't'), (5, 'at', 't')) " +
        "AS t(rank, mleft, mright) ORDER BY rank"),
    // hand-derived EM trajectory (see the query comment); constants
    // verified against an independent Python forward-backward replay
    "unigram_train" ->
      ("SELECT * FROM (VALUES ('a', CAST(-2.3073 AS DOUBLE)), ('aab', -0.2035), " +
        "('ab', -2.6631), ('b', -4.2064)) AS t(piece, log_prob) ORDER BY piece"),
    // the two in-query gates (pretokenizer partitions text, segmentation
    // partitions pretokens; pieces path == count path) make the oracle
    // closed-form on any corpus
    "unigram_encode" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS round_trip_ok,
        |  CAST(1 AS BIGINT) AS count_consistent
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Viterbi counts under the trained pieces: hand-derivable from the
    // trained probs + the documented tie-breaks and unk convention
    "token_count_unigram" ->
      ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (2, 3), " +
        "(3, 2), (4, 2), (5, 0), (6, 3), (7, 3), (8, 1), (9, 4), (10, 5)) " +
        "AS t(doc_id, n_tokens) ORDER BY doc_id"),
    // exact arithmetic replay: integer-ratio normalization, BIGINT //
    // floor-division, double division of exact integers then round(4)
    "mix_epochs" ->
      """WITH avail AS (
        |  SELECT source, CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE source IN ('src0', 'src1', 'src3') GROUP BY source),
        |w(source, weight) AS (VALUES ('src0', CAST(7 AS BIGINT)), ('src1', 2), ('src3', 1))
        |SELECT a.source, a.n_tokens, w.weight,
        |  round(CAST(w.weight AS DOUBLE) / 10.0, 6) AS weight_norm,
        |  (w.weight * 1000000) // 10 AS tokens_drawn,
        |  round(CAST((w.weight * 1000000) // 10 AS DOUBLE) / a.n_tokens, 4) AS epochs
        |FROM avail a JOIN w USING (source) ORDER BY source""".stripMargin,
    // identical RE2 pattern both engines; the superstring in the planted
    // prefix ("contrabands") must not match through \b
    "blocklist_filter" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 700000,
        |    'prefix Contraband contrabands text ' || text || ' and VERBOTEN end'
        |  FROM documents WHERE doc_id < 8),
        |f AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '(?i)\b(blacksite|contraband|verboten)\b', 0)) AS BIGINT) AS n_flagged
        |  FROM all_docs)
        |SELECT doc_id, n_flagged,
        |  CAST(CASE WHEN n_flagged = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    // the 4000 generated entries ARE the compact character class (same
    // language; entries mutually prefix-free, so alternation order is
    // irrelevant and RE2 replays the Aho–Corasick counts exactly)
    "blocklist_filter_large" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT CAST(v.doc_id AS BIGINT), v.text FROM (VALUES
        |    (800001, 'Prefix Badword0042 then badword3999x and badword99 end'),
        |    (800002, 'A big bad phrase and an e-mail; E-MAIL too'),
        |    (800003, 'badword0000, badword0001, badword0002!'),
        |    (800004, 'pre-badword0100-post hyphens are boundaries'),
        |    (800005, 'badword4000 is out of range; big bad phrases is a superstring')
        |  ) v(doc_id, text)),
        |f AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '(?i)\b(badword[0-3][0-9][0-9][0-9]|big bad phrase|contraband|e-mail|verboten)\b', 0)) AS BIGINT) AS n_flagged
        |  FROM all_docs)
        |SELECT doc_id, n_flagged,
        |  CAST(CASE WHEN n_flagged = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    // the identical NFC + RE2 chain replayed verbatim (nfc_normalize is
    // the same UAX #15 composition as the JDK kernel)
    "normalize_text" ->
      """WITH planted(doc_id, text) AS (VALUES
        |  (1000001, 'cafe' || chr(769) || ' du monde'),
        |  (1000002, 'line1' || chr(13) || chr(10) || 'line2' || chr(13) || 'line3'),
        |  (1000003, 'a' || chr(1) || 'b' || chr(7) || 'c' || chr(9) || 'd'),
        |  (1000004, '  too   many' || chr(9) || chr(9) || 'spaces  ')),
        |all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM planted),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '\r\n|\r', chr(10), 'g'),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS norm
        |  FROM all_docs)
        |SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    // hand-derived likelihood-merge trajectory (see the query comment);
    // WordPieceSpec re-derives the same constants
    "wordpiece_train" ->
      ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'c', '##d', CAST(1.0 AS DOUBLE)), " +
        "(1, '##b', '##c', 0.1667), (2, 'a', '##b', 0.1667), (3, 'a', '##bc', 0.5)) " +
        "AS t(rank, mleft, mright, score) ORDER BY rank"),
    // the two in-query gates (pretokenizer partitions text; pieces
    // reconstruct or [UNK]-fallback; pieces path == count path) make the
    // oracle closed-form on any corpus
    "wordpiece_encode" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS round_trip_ok,
        |  CAST(1 AS BIGINT) AS count_consistent
        |FROM documents ORDER BY doc_id""".stripMargin,
    // greedy MaxMatch counts under the hand-derived vocab (see the query
    // comment for the per-doc segmentations)
    "token_count_wordpiece" ->
      ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (2, 2), " +
        "(3, 1), (4, 3), (5, 0), (6, 2), (7, 1), (8, 4)) " +
        "AS t(doc_id, n_tokens) ORDER BY doc_id"),
    // the two independently-aggregated gates (exact per-cluster prune
    // fraction + strict pruned/kept boundary) make the oracle closed-form;
    // rows_match pins the one-row-per-vector partition
    "prune_prototypes" ->
      """SELECT vec_id, CAST(1 AS BIGINT) AS frac_ok, CAST(1 AS BIGINT) AS boundary_ok
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "prune_outliers" ->
      """SELECT vec_id, CAST(1 AS BIGINT) AS frac_ok, CAST(1 AS BIGINT) AS boundary_ok
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "knn_radius" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id < 3),
         |d AS (SELECT q.qid, e.vec_id AS id, ${duckEuclid(dEmb("e.embedding"), "q.qv")} AS dist
         |      FROM embeddings e CROSS JOIN q)
         |SELECT qid, id, round(dist, 4) AS dist FROM d WHERE dist <= 1.3 ORDER BY qid, id""".stripMargin,
    // top-k over the annulus dist > 0.3: same exact cosine fold, band
    // filter before the ranking window on both sides
    "mine_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.qid, e.vec_id AS id, ${duckCosine(dEmb("e.embedding"), "q.qv")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |f AS (SELECT * FROM d WHERE dist > 0.3),
         |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM f)
         |SELECT qid, id, round(dist, 4) AS dist, rank FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "ann_ivf_opq" ->
      ("SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results, " +
        "CAST(1 AS BIGINT) AS recall_ok, CAST(10 AS BIGINT) AS n_same_rot " +
        "FROM embeddings WHERE vec_id < 5 ORDER BY qid"),
    "ann_ivf_filtered" -> knnOracle(duckEuclid, 5, 10, where = "e.vec_id % 3 = 0"),
    "rank_metrics" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id < 20),
         |d AS (SELECT q.qid, e.vec_id AS id, ${duckEuclid(dEmb("e.embedding"), "q.qv")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d),
         |res AS (SELECT qid, id, rank FROM r WHERE rank <= 10),
         |rel AS (SELECT q.qid, e.vec_id AS id, 4 - abs(e.vec_id - q.qid) AS rel
         |        FROM embeddings e JOIN q ON abs(e.vec_id - q.qid) <= 3),
         |ideal AS (SELECT qid, count(*) AS n_relevant,
         |            sum(CASE WHEN rn <= 10 THEN (pow(2, rel) - 1) / log2(rn + 1) ELSE 0 END) AS idcg
         |          FROM (SELECT qid, id, rel, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) AS rn FROM rel)
         |          GROUP BY qid),
         |cum AS (SELECT res.qid, res.rank, rel.rel,
         |          sum(CASE WHEN rel.rel IS NOT NULL THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY res.qid ORDER BY res.rank) AS cumh
         |        FROM res LEFT JOIN rel ON res.qid = rel.qid AND res.id = rel.id),
         |perq AS (SELECT qid,
         |           sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END) AS n_hits,
         |           min(CASE WHEN rel IS NOT NULL THEN rank END) AS first_hit,
         |           sum(CASE WHEN rel IS NOT NULL THEN (pow(2, rel) - 1) / log2(rank + 1) ELSE 0 END) AS dcg,
         |           sum(CASE WHEN rel IS NOT NULL THEN cumh::DOUBLE / rank END) AS apsum
         |         FROM cum GROUP BY qid)
         |SELECT p.qid, CAST(i.n_relevant AS BIGINT) AS n_relevant, CAST(p.n_hits AS BIGINT) AS n_hits,
         |  round(p.n_hits::DOUBLE / i.n_relevant, 4) AS recall_at_k,
         |  round(coalesce(1.0 / p.first_hit, 0.0), 4) AS mrr_at_k,
         |  round(CASE WHEN i.idcg = 0 THEN 0.0 ELSE p.dcg / i.idcg END, 4) AS ndcg_at_k,
         |  round(coalesce(p.apsum, 0.0) / least(i.n_relevant, 10), 4) AS ap_at_k
         |FROM perq p JOIN ideal i USING (qid) ORDER BY qid""".stripMargin,
    "knn_bruteforce" -> knnOracle(duckEuclid, 5, 10),
    "knn_cosine" -> knnOracle(duckCosine, 3, 5),
    "knn_manhattan" -> knnOracle(duckManhattan, 3, 5),
    // two-stage Matryoshka replay: coarse rank on the 16-dim prefix with
    // the (cdist, id) tie-break, exact rescore of the top-50 candidates
    "knn_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv,
         |             ${dEmb("embedding[1:16]")} AS qp FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT q.qid, e.vec_id AS id,
         |        ${duckEuclid(dEmb("e.embedding[1:16]"), "q.qp")} AS cdist
         |      FROM embeddings e CROSS JOIN q),
         |cand AS (SELECT qid, id FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cdist, id) AS r FROM c)
         |  WHERE r <= 50),
         |d AS (SELECT cand.qid, cand.id, ${duckEuclid(dEmb("e.embedding"), "q.qv")} AS dist
         |      FROM cand JOIN embeddings e ON cand.id = e.vec_id JOIN q ON cand.qid = q.qid),
         |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
         |SELECT qid, id, round(dist, 4) AS dist, rank FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "knn_partitioned" -> knnOracle(duckEuclid, 5, 10),
    "knn_partitioned_df" -> knnOracleAll(duckEuclid, 10),
    // full-batch two-stage Matryoshka replay (same shape as knn_matryoshka
    // with q = the whole table) + the constant equality-arm column
    "knn_matryoshka_df" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv,
         |             ${dEmb("embedding[1:16]")} AS qp FROM embeddings),
         |c AS (SELECT q.qid, e.vec_id AS id,
         |        ${duckEuclid(dEmb("e.embedding[1:16]"), "q.qp")} AS cdist
         |      FROM embeddings e CROSS JOIN q),
         |cand AS (SELECT qid, id FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cdist, id) AS r FROM c)
         |  WHERE r <= 50),
         |d AS (SELECT cand.qid, cand.id, ${duckEuclid(dEmb("e.embedding"), "q.qv")} AS dist
         |      FROM cand JOIN embeddings e ON cand.id = e.vec_id JOIN q ON cand.qid = q.qid),
         |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
         |SELECT qid, id, round(dist, 4) AS dist, rank, CAST(1 AS BIGINT) AS arr_path_equal
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // full-batch two-stage JL replay (knn_rp's md5 sign matrix and
    // e-ordered projection, q = the whole table) + the equality arm
    "knn_rp_df" ->
      s"""WITH mat AS (
         |  SELECT j, e, CASE WHEN ((CAST(concat('0x', substr(md5(j || '_' || e), 1, 15)) AS BIGINT) >> 5) & 1) = 0
         |                    THEN 0.25 ELSE -0.25 END AS s
         |  FROM (SELECT unnest(range(16)) AS j) CROSS JOIN (SELECT unnest(range(64)) AS e)),
         |ex AS (SELECT vec_id, r.pos - 1 AS e, embedding[r.pos]::DOUBLE AS x
         |       FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) r),
         |proj AS (SELECT vec_id, j, CAST(sum(mat.s * ex.x ORDER BY ex.e) AS REAL) AS y
         |         FROM ex JOIN mat ON ex.e = mat.e GROUP BY vec_id, j),
         |cd AS (SELECT qp.vec_id AS qid, dp.vec_id AS id,
         |         sqrt(sum((dp.y::DOUBLE - qp.y::DOUBLE) * (dp.y::DOUBLE - qp.y::DOUBLE) ORDER BY dp.j)) AS cdist
         |       FROM proj dp JOIN proj qp ON dp.j = qp.j
         |       GROUP BY qp.vec_id, dp.vec_id),
         |cand AS (SELECT qid, id FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cdist, id) AS r FROM cd)
         |  WHERE r <= 50),
         |d AS (SELECT cand.qid, cand.id, ${duckEuclid(dEmb("e.embedding"), dEmb("q.embedding"))} AS dist
         |      FROM cand JOIN embeddings e ON cand.id = e.vec_id JOIN embeddings q ON cand.qid = q.vec_id),
         |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
         |SELECT qid, id, round(dist, 4) AS dist, rank, CAST(1 AS BIGINT) AS arr_path_equal
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "ann_ivf_df" -> knnOracleAll(duckEuclid, 5),
    "knn_custom_plan" -> knnOracle(duckEuclid, 5, 10),
    "sql_knn_rewrite" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.qid, e.vec_id AS id, ${duckEuclid(dEmb("e.embedding"), "q.qv")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
         |SELECT qid, id, round(dist, 4) AS dist, rank, CAST(1 AS BIGINT) AS rewritten
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "knn_quantized" -> knnOracle(duckEuclid, 5, 10),
    "knn_quantized_sq4" -> knnOracle(duckEuclid, 5, 10),
    "knn_quantized_opq" -> knnOracle(duckEuclid, 5, 10),
    "ann_ivf_binary" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_exact, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    "ann_ivf_matryoshka" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_exact, CAST(10 AS BIGINT) AS n_same_df,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    "knn_binary" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_same_exact, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // JL replay: the ±0.25 sign matrix from md5("j_e") (same hash-to-sign
    // convention as doc_embed), e-ordered projection sums cast to REAL
    // (the kernel's float output), j-ordered coarse distance sums — every
    // stage bit-identical to the Spark kernels, so the candidate set and
    // final ranking replay exactly
    "knn_rp" ->
      s"""WITH mat AS (
         |  SELECT j, e, CASE WHEN ((CAST(concat('0x', substr(md5(j || '_' || e), 1, 15)) AS BIGINT) >> 5) & 1) = 0
         |                    THEN 0.25 ELSE -0.25 END AS s
         |  FROM (SELECT unnest(range(16)) AS j) CROSS JOIN (SELECT unnest(range(64)) AS e)),
         |ex AS (SELECT vec_id, r.pos - 1 AS e, embedding[r.pos]::DOUBLE AS x
         |       FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) r),
         |proj AS (SELECT vec_id, j, CAST(sum(mat.s * ex.x ORDER BY ex.e) AS REAL) AS y
         |         FROM ex JOIN mat ON ex.e = mat.e GROUP BY vec_id, j),
         |cd AS (SELECT qp.vec_id AS qid, dp.vec_id AS id,
         |         sqrt(sum((dp.y::DOUBLE - qp.y::DOUBLE) * (dp.y::DOUBLE - qp.y::DOUBLE) ORDER BY dp.j)) AS cdist
         |       FROM proj dp JOIN proj qp ON dp.j = qp.j AND qp.vec_id < 5
         |       GROUP BY qp.vec_id, dp.vec_id),
         |cand AS (SELECT qid, id FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cdist, id) AS r FROM cd)
         |  WHERE r <= 50),
         |d AS (SELECT cand.qid, cand.id, ${duckEuclid(dEmb("e.embedding"), dEmb("q.embedding"))} AS dist
         |      FROM cand JOIN embeddings e ON cand.id = e.vec_id JOIN embeddings q ON cand.qid = q.vec_id),
         |r AS (SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
         |SELECT qid, id, round(dist, 4) AS dist, rank FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "knn_pca_exact" -> knnOracle(duckEuclid, 5, 10),
    "knn_quantized_cosine" -> knnOracle(duckCosine, 3, 5),
    "knn_quantized_manhattan" -> knnOracle(duckManhattan, 3, 5),
    "knn_with_deletes" -> knnOracle(duckEuclid, 3, 5, where = "e.label % 7 <> 0"),
    "knn_with_meta" ->
      s"""WITH q AS (SELECT vec_id AS qid, ${dEmb("embedding")} AS qv FROM embeddings WHERE vec_id < 3),
         |d AS (SELECT q.qid, e.vec_id AS id, e.label, ${duckEuclid(dEmb("e.embedding"), "q.qv")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT qid, id, label, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
         |SELECT qid, id, round(dist, 4) AS dist, rank, label FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "batch_upsert" ->
      "SELECT vec_id, CASE WHEN vec_id % 10 = 0 THEN label + 1000 ELSE label END AS label FROM embeddings ORDER BY vec_id",
    "batch_remove" ->
      "SELECT vec_id, label FROM embeddings WHERE vec_id % 7 <> 0 ORDER BY vec_id",
    "dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
        |SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM all_docs GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    // the maintained digest log converges to the batch operator exactly,
    // so the oracle is dedup_exact's, verbatim (same planted union)
    "stream_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
        |SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM all_docs GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "multimodal_meta" ->
      "SELECT vec_id, CAST(4*len(embedding) AS BIGINT) AS payload_len, CAST(len(embedding) AS BIGINT) AS dim, 'embedding' AS kind FROM embeddings ORDER BY vec_id",
    // mirrors DecodeStub: frameSize = max(nBytes//4, 1), 4 frames kept,
    // histogram covers min(nBytes, 4*frameSize) bytes; n_mismatch asserts
    // the kernel and declarative histograms agree (computed Spark-side)
    "multimodal_features" ->
      """SELECT vec_id AS id,
        |  CAST(4*len(embedding) AS BIGINT) AS n_bytes,
        |  CAST(least(4, CASE WHEN len(embedding) = 0 THEN 0
        |    ELSE ceil(4.0*len(embedding) / greatest((4*len(embedding))//4, 1)) END) AS BIGINT) AS n_frames,
        |  CAST(least(4*len(embedding), 4*greatest((4*len(embedding))//4, 1)) AS BIGINT) AS hist_total,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings ORDER BY id""".stripMargin,
    // PNG encode→decode→resize is exercised Spark-side; losslessness and
    // the direct-indexing resize check make every column closed-form
    "multimodal_decode" ->
      """SELECT vec_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |  CAST(0 AS BIGINT) AS n_px_mismatch, CAST(0 AS BIGINT) AS n_resize_mismatch,
        |  CAST(48 AS BIGINT) AS resized_bytes
        |FROM embeddings WHERE vec_id < 500 ORDER BY vec_id""".stripMargin,
    // MJPEG encode→segment-scan→sample→decode is exercised Spark-side;
    // the in-query byte-equality and solid-color-tolerance checks make
    // every column closed-form
    "multimodal_video" ->
      """SELECT vec_id, CAST(8 AS BIGINT) AS n_segments, CAST(4 AS BIGINT) AS n_sampled,
        |  CAST(8 AS BIGINT) AS frame_w, CAST(6 AS BIGINT) AS frame_h,
        |  CAST(0 AS BIGINT) AS n_sample_mismatch, CAST(0 AS BIGINT) AS n_color_off
        |FROM embeddings WHERE vec_id < 150 ORDER BY vec_id""".stripMargin,
    "multimodal_video_apng" ->
      """SELECT vec_id, CAST(6 AS BIGINT) AS n_frames, CAST(3 AS BIGINT) AS n_sampled,
        |  CAST(1 AS BIGINT) AS encoded_nonempty, CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings WHERE vec_id < 150 ORDER BY vec_id""".stripMargin,
    // WAV encode→decode is exercised Spark-side; 16-bit PCM losslessness
    // makes every column closed-form
    "multimodal_audio" ->
      """SELECT vec_id, CAST(16000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |  CAST(len(embedding) AS BIGINT) AS n_samples, CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  round(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))::DOUBLE / length(text), 4) AS punct_ratio,
        |  round(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
        |    / length(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
        |  round(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), t -> length(t)))::DOUBLE
        |    / length(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents ORDER BY doc_id",
    "token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeTokenPattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    // hand-derived expected counts: each planted doc stepped through the
    // DemoMerges rank table by hand (see the query comment)
    "token_count_bpe" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_bpe_tokens FROM (VALUES
        |  (1, 3), (2, 4), (3, 12), (4, 0), (5, 4), (6, 12), (7, 4), (8, 3), (9, 13), (10, 14))
        |v(doc_id, n) ORDER BY doc_id""".stripMargin,
    // hand-derived: the published GPT-2 byte-level algorithm stepped over
    // DemoMerges (see the query comment; e.g. doc 2 "naïve café" → 11:
    // [n a Ã ¯ v e][Ġc a f Ã ©], doc 9's trailing "  " → one ĠĠ pretoken
    // of two unmerged symbols)
    "token_count_bpe_bytes" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_byte_tokens FROM (VALUES
        |  (1, 3), (2, 11), (3, 12), (4, 10), (5, 0), (6, 8), (7, 4), (8, 13), (9, 13), (10, 11))
        |v(doc_id, n) ORDER BY doc_id""".stripMargin,
    "bpe_encode" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS count_consistent, CAST(1 AS BIGINT) AS round_trip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "bpe_encode_bytes" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS count_consistent, CAST(1 AS BIGINT) AS round_trip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_df" ->
      s"""SELECT t.token, count(*) AS df
         |FROM (SELECT unnest(list_distinct($duckToks)) AS token FROM documents) t
         |GROUP BY t.token HAVING count(*) >= 5 ORDER BY t.token""".stripMargin,
    // the sketch-then-recount pipeline is exact by its runtime proof, so
    // the oracle is the plain exact 3-gram top-10 with the same
    // (count DESC, gram) tie-break
    "ngram_heavy_hitters" ->
      s"""WITH tok AS (SELECT $duckToks AS t FROM documents),
         |g AS (SELECT unnest(list_transform(range(1, len(t) - 1),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram FROM tok),
         |c AS (SELECT gram, count(*) AS n_count FROM g GROUP BY gram),
         |r AS (SELECT gram, n_count, row_number() OVER (ORDER BY n_count DESC, gram) AS rank FROM c)
         |SELECT gram, n_count, rank FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // the streaming-maintained sketch converges to the batch operator, so
    // the oracle is the identical exact top-k replay
    "stream_heavy_hitters" ->
      s"""WITH tok AS (SELECT $duckToks AS t FROM documents),
         |g AS (SELECT unnest(list_transform(range(1, len(t) - 1),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram FROM tok),
         |c AS (SELECT gram, count(*) AS n_count FROM g GROUP BY gram),
         |r AS (SELECT gram, n_count, row_number() OVER (ORDER BY n_count DESC, gram) AS rank FROM c)
         |SELECT gram, n_count, rank FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // the grouped streaming fold converges to the batch grouped operator
    "stream_heavy_hitters_grouped" ->
      s"""WITH tok AS (SELECT source, $duckToks AS t FROM documents),
         |g AS (SELECT source, unnest(list_transform(range(1, len(t) - 1),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram FROM tok),
         |c AS (SELECT source, gram, count(*) AS n_count FROM g GROUP BY source, gram),
         |r AS (SELECT source, gram, n_count,
         |        row_number() OVER (PARTITION BY source ORDER BY n_count DESC, gram) AS rank FROM c)
         |SELECT source, gram, n_count, rank FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // same exactness argument per group: the per-group proof makes the
    // oracle the plain per-group exact top-k with the same tie-break
    "ngram_heavy_hitters_grouped" ->
      s"""WITH tok AS (SELECT source, $duckToks AS t FROM documents),
         |g AS (SELECT source, unnest(list_transform(range(1, len(t) - 1),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram FROM tok),
         |c AS (SELECT source, gram, count(*) AS n_count FROM g GROUP BY source, gram),
         |r AS (SELECT source, gram, n_count,
         |        row_number() OVER (PARTITION BY source ORDER BY n_count DESC, gram) AS rank FROM c)
         |SELECT source, gram, n_count, rank FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    "lm_perplexity" ->
      s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS token FROM documents),
         |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
         |tot AS (SELECT sum(c)::DOUBLE AS s FROM cnt)
         |SELECT tok.doc_id, count(*) AS n_tokens,
         |       round(-avg(ln(cnt.c / tot.s)), 4) AS cross_entropy
         |FROM tok JOIN cnt USING (token) CROSS JOIN tot
         |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,
    // identical stupid-backoff arithmetic: MLE conditional on a trained
    // bigram, 0.4 · add-1 unigram otherwise
    "lm_perplexity_bigram" ->
      s"""WITH tok AS (SELECT doc_id, $duckToks AS t FROM documents),
         |trn AS (SELECT doc_id, t FROM tok WHERE doc_id % 2 = 0),
         |c1 AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM trn) GROUP BY w),
         |tot AS (SELECT sum(c1)::DOUBLE AS t_, count(*)::DOUBLE AS v FROM c1),
         |c2 AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c2
         |       FROM (SELECT unnest(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]})) AS b FROM trn)
         |       GROUP BY 1, 2),
         |cb AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2
         |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]})) AS b FROM tok)),
         |s AS (SELECT cb.doc_id,
         |        CASE WHEN c2.c2 IS NOT NULL THEN c2.c2 / p.c1
         |             ELSE 0.4 * (coalesce(cu.c1, 0) + 1) / (tot.t_ + tot.v) END AS sc
         |      FROM cb LEFT JOIN c2 ON cb.w1 = c2.w1 AND cb.w2 = c2.w2
         |      LEFT JOIN c1 p ON cb.w1 = p.w
         |      LEFT JOIN c1 cu ON cb.w2 = cu.w
         |      CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_bigrams, round(-avg(ln(sc)), 4) AS cross_entropy
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the oracle's model VALUES derive from the same fixture list the
    // query parses — the decimal literals are preserved verbatim, so
    // both engines hold bit-identical doubles and no rounding is needed
    "arpa_parse" -> {
      val vals = arpaFixtureRows.map { case (o, c, w, lp, bo) =>
        s"  (CAST($o AS BIGINT), '$c', '$w', CAST($lp AS DOUBLE), CAST($bo AS DOUBLE))"
      }.mkString(",\n")
      s"""SELECT * FROM (VALUES
         |$vals) v(ngram_order, context, word, log10p, backoff)
         |ORDER BY ngram_order, context, word""".stripMargin
    },
    // the order-3 Kneser–Ney replay: actual trigram counts on top, the
    // middle level suffix-grouped continuation counts (plus <s>-initial
    // actuals), per-level discounts, downward interpolation through the
    // shortened context — every expression mirrors the Spark
    // association order
    "kn_train_trigram" ->
      s"""WITH $knTrainCtes,
         |c3 AS MATERIALIZED (SELECT g.ctx AS ctx, g.w AS w, count(*) AS c FROM
         |  (SELECT unnest(list_transform(range(3, len(t) + 1),
         |     i -> {'ctx': t[i-2] || ' ' || t[i-1], 'w': t[i]})) AS g FROM tokm)
         |  GROUP BY 1, 2),
         |a2 AS (SELECT g.ctx AS ctx, g.w AS w, count(*) AS c FROM
         |  (SELECT unnest(list_transform(range(2, len(t) + 1),
         |     i -> {'ctx': t[i-1], 'w': t[i]})) AS g FROM tokm)
         |  GROUP BY 1, 2),
         |t2 AS MATERIALIZED (
         |  SELECT string_split(ctx, ' ')[2] AS ctx, w, count(*) AS c FROM c3 GROUP BY 1, 2
         |  UNION ALL SELECT ctx, w, c FROM a2 WHERE ctx = '<s>'),
         |d3k AS (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE /
         |          (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) + 2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)) AS d
         |        FROM c3),
         |d2k AS (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE /
         |          (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) + 2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)) AS d
         |        FROM t2),
         |contk AS MATERIALIZED (SELECT w, count(*) AS c FROM t2 GROUP BY w),
         |d1k AS (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE /
         |          (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) + 2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)) AS d
         |        FROM contk),
         |totk AS (SELECT sum(c)::DOUBLE AS t, count(*)::DOUBLE AS ct FROM contk),
         |p1k AS MATERIALIZED (SELECT w,
         |        (greatest(c::DOUBLE - d1k.d, 0.0) + d1k.d * totk.ct * (1.0 / (totk.ct + 1.0))) / totk.t AS pd
         |      FROM contk, d1k, totk),
         |cx2 AS MATERIALIZED (SELECT ctx, sum(c) AS cv, count(*) AS n1v FROM t2 GROUP BY ctx),
         |cx3 AS MATERIALIZED (SELECT ctx, sum(c) AS cv, count(*) AS n1v FROM c3 GROUP BY ctx),
         |p2k AS MATERIALIZED (SELECT t2.ctx AS ctx, t2.w AS w,
         |        (greatest(t2.c::DOUBLE - d2k.d, 0.0) + d2k.d * cx2.n1v * p1k.pd) / cx2.cv AS pd
         |      FROM t2 JOIN cx2 ON t2.ctx = cx2.ctx JOIN p1k ON t2.w = p1k.w, d2k),
         |p3k AS (SELECT c3.ctx AS ctx, c3.w AS w,
         |        (greatest(c3.c::DOUBLE - d3k.d, 0.0) + d3k.d * cx3.n1v * p2k.pd) / cx3.cv AS pd
         |      FROM c3 JOIN cx3 ON c3.ctx = cx3.ctx
         |      JOIN p2k ON p2k.ctx = string_split(c3.ctx, ' ')[2] AND p2k.w = c3.w, d3k),
         |bow2 AS (SELECT ctx, log10(d2k.d) + log10(n1v::DOUBLE) - log10(cv::DOUBLE) AS bow FROM cx2, d2k),
         |bow3 AS (SELECT ctx, log10(d3k.d) + log10(n1v::DOUBLE) - log10(cv::DOUBLE) AS bow FROM cx3, d3k),
         |unik AS (SELECT '' AS context, w AS word, log10(pd) AS log10p FROM p1k
         |         UNION ALL SELECT '', '<s>', -99.0
         |         UNION ALL SELECT '', '<unk>',
         |           (SELECT log10(d1k.d * totk.ct * (1.0 / (totk.ct + 1.0)) / totk.t) FROM d1k, totk)),
         |knm AS (
         |  SELECT 1 AS ngram_order, u.context, u.word, u.log10p, COALESCE(b.bow, 0.0) AS backoff
         |  FROM unik u LEFT JOIN bow2 b ON u.word = b.ctx
         |  UNION ALL
         |  SELECT 2, p2k.ctx, p2k.w, log10(p2k.pd), COALESCE(b.bow, 0.0)
         |  FROM p2k LEFT JOIN bow3 b ON p2k.ctx || ' ' || p2k.w = b.ctx
         |  UNION ALL
         |  SELECT 3, ctx, w, log10(pd), 0.0 FROM p3k)
         |SELECT CAST(ngram_order AS BIGINT) AS ngram_order, context, word,
         |       round(log10p, 6) AS log10p, round(backoff, 6) AS backoff
         |FROM knm ORDER BY ngram_order, context, word""".stripMargin,
    // the full Kneser–Ney training replay: continuation counts,
    // Chen-Goodman discounts from count-of-counts, interpolated-backoff
    // emission — every expression mirrors the Spark association order
    "kn_train_bigram" ->
      s"""WITH $knModelCtes
         |SELECT CAST(ngram_order AS BIGINT) AS ngram_order, context, word,
         |       round(log10p, 6) AS log10p, round(backoff, 6) AS backoff
         |FROM knm ORDER BY ngram_order, context, word""".stripMargin,
    // the trained model (replayed via the shared CTEs) driven through
    // the order-2 Katz scoring replay over documents + planted OOV docs
    "lm_score_kn" -> {
      val planted = arpaScoreDocs.map { case (id, tx) =>
        s"  (CAST($id AS BIGINT), '$tx')"
      }.mkString(",\n")
      s"""WITH $knModelCtes,
         |mseq AS (SELECT *, CASE WHEN context = '' THEN word
         |                        ELSE context || ' ' || word END AS ngram FROM knm),
         |unks AS (SELECT log10p AS ulp FROM knm WHERE ngram_order = 1 AND word = '<unk>'),
         |sdocs AS (SELECT doc_id, text FROM documents
         |          UNION ALL SELECT * FROM (VALUES
         |$planted) p(doc_id, text)),
         |tok2 AS (SELECT doc_id, list_concat(list_concat(['<s>'], $duckToks), ['</s>']) AS t FROM sdocs),
         |q AS (SELECT doc_id, p.w AS w, p.c1 AS c1
         |      FROM (SELECT doc_id, unnest(list_transform(range(2, len(t) + 1),
         |              i -> {'w': t[i], 'c1': t[i-1]})) AS p FROM tok2)),
         |s AS (SELECT q.doc_id,
         |        COALESCE(j2.log10p,
         |          COALESCE(b1.backoff, 0.0) + COALESCE(j1.log10p, unks.ulp)) AS sc
         |      FROM q
         |      LEFT JOIN mseq j2 ON j2.ngram_order = 2 AND j2.context = q.c1 AND j2.word = q.w
         |      LEFT JOIN mseq b1 ON b1.ngram_order = 1 AND b1.ngram = q.c1
         |      LEFT JOIN mseq j1 ON j1.ngram_order = 1 AND j1.word = q.w
         |      CROSS JOIN unks)
         |SELECT doc_id, count(*) AS n_scored, round(sum(sc), 4) AS log10p_sum,
         |       round(-sum(sc) / count(*), 4) AS log10_ppl
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // full Katz replay: positions with up-to-(order−1)-word contexts,
    // the level joins, the backoff cascade, the same planted model and
    // planted branch docs
    "lm_score_arpa" -> {
      val vals = arpaFixtureRows.map { case (o, c, w, lp, bo) =>
        s"  ($o, '$c', '$w', CAST($lp AS DOUBLE), CAST($bo AS DOUBLE))"
      }.mkString(",\n")
      val planted = arpaScoreDocs.map { case (id, tx) =>
        s"  (CAST($id AS BIGINT), '$tx')"
      }.mkString(",\n")
      s"""WITH model(ngram_order, context, word, log10p, backoff) AS (VALUES
         |$vals),
         |m AS (SELECT *, CASE WHEN context = '' THEN word
         |                     ELSE context || ' ' || word END AS ngram FROM model),
         |unk AS (SELECT log10p AS ulp FROM m WHERE ngram_order = 1 AND word = '<unk>'),
         |docs AS (SELECT doc_id, text FROM documents
         |         UNION ALL SELECT * FROM (VALUES
         |$planted) p(doc_id, text)),
         |tok AS (SELECT doc_id, list_concat(list_concat(['<s>'], $duckToks), ['</s>']) AS t FROM docs),
         |q AS (SELECT doc_id, p.w AS w, p.c1 AS c1, p.c2 AS c2
         |      FROM (SELECT doc_id, unnest(list_transform(range(2, len(t) + 1), i -> {
         |              'w': t[i], 'c1': t[i-1],
         |              'c2': array_to_string(t[greatest(i-2, 1):i-1], ' ')})) AS p
         |            FROM tok)),
         |s AS (SELECT q.doc_id,
         |        COALESCE(j3.log10p,
         |          COALESCE(b2.backoff, 0) + COALESCE(j2.log10p,
         |            COALESCE(b1.backoff, 0) + COALESCE(j1.log10p, unk.ulp))) AS sc
         |      FROM q
         |      LEFT JOIN m j3 ON j3.ngram_order = 3 AND j3.context = q.c2 AND j3.word = q.w
         |      LEFT JOIN m j2 ON j2.ngram_order = 2 AND j2.context = q.c1 AND j2.word = q.w
         |      LEFT JOIN m b2 ON b2.ngram_order = 2 AND b2.ngram = q.c2
         |      LEFT JOIN m b1 ON b1.ngram_order = 1 AND b1.ngram = q.c1
         |      LEFT JOIN m j1 ON j1.ngram_order = 1 AND j1.word = q.w
         |      CROSS JOIN unk)
         |SELECT doc_id, count(*) AS n_scored, round(sum(sc), 4) AS log10p_sum,
         |       round(-sum(sc) / count(*), 4) AS log10_ppl
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // CCNet tercile replay: same rounded score, same linear-interpolation
    // quantiles (any doc that could TIE a cutoff means the quantile
    // position landed on a sample, so the cutoff is that sample exactly
    // in both engines — ulp differences in interpolation can't flip a
    // bucket)
    "ccnet_buckets" ->
      s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS token FROM documents),
         |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
         |tot AS (SELECT sum(c)::DOUBLE AS s FROM cnt),
         |ce AS (SELECT tok.doc_id, round(-avg(ln(cnt.c / tot.s)), 4) AS cross_entropy
         |       FROM tok JOIN cnt USING (token) CROSS JOIN tot GROUP BY tok.doc_id),
         |sc AS (SELECT d.doc_id, d.lang, ce.cross_entropy FROM documents d JOIN ce USING (doc_id)),
         |cut AS (SELECT lang, quantile_cont(cross_entropy, 0.3333333333333333) AS c1,
         |               quantile_cont(cross_entropy, 0.6666666666666666) AS c2
         |        FROM sc GROUP BY lang)
         |SELECT sc.doc_id, sc.lang, sc.cross_entropy,
         |  CASE WHEN cross_entropy <= c1 THEN 'head'
         |       WHEN cross_entropy <= c2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM sc JOIN cut USING (lang) ORDER BY sc.doc_id""".stripMargin,
    "doc_rarity" ->
      s"""WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |df AS (SELECT token, count(*) AS df
         |       FROM (SELECT unnest(list_distinct($duckToks)) AS token FROM documents) GROUP BY token),
         |tok AS (SELECT doc_id, unnest($duckToks) AS token FROM documents)
         |SELECT tok.doc_id, round(avg(ln(n.n / df.df)), 4) AS rarity
         |FROM tok JOIN df USING (token) CROSS JOIN n
         |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,
    "doc_embed" ->
      s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS token FROM documents),
         |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS hv FROM tok),
         |e AS (SELECT doc_id, hv % 16 AS pos,
         |        CASE WHEN ((hv >> 5) & 1) = 0 THEN 1.0 ELSE -1.0 END AS sign FROM h)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, round(sum(sign), 4) AS value
         |FROM e GROUP BY doc_id, pos ORDER BY doc_id, pos""".stripMargin,
    "events_anomalies" ->
      """WITH stats AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, e.event_id, round((e.value - s.mu) / s.sigma, 4) AS z
        |FROM events e JOIN stats s USING (event_type)
        |WHERE abs((e.value - s.mu) / s.sigma) > 3
        |ORDER BY e.event_type, e.event_id""".stripMargin,
    "q5_join" ->
      """SELECT r_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    // identical Efraimidis–Spirakis key: u = (md5-60-bit + 0.5)/2^60,
    // key = ln(u)/w, top-100 by (key desc, id)
    "sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    ln((CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 0.5)
        |       / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS skey
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  row_number() OVER (ORDER BY skey DESC, doc_id) AS sample_rank
        |FROM k ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,
    // closed form: the batch GROUP BY the folded integer totals must equal
    // for any batch split, compaction, and post-fold redelivery
    "stream_corpus_profile" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // identical closed form to sample_weighted — the streamed, compacted,
    // replayed reservoir must converge to the batch A-Res selection
    "stream_sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    ln((CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 0.5)
        |       / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS skey
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  row_number() OVER (ORDER BY skey DESC, doc_id) AS sample_rank
        |FROM k ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,
    // identical closed form — the pre-filter path must select the same
    // rows in the same order as the direct path
    "sample_weighted_large" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    ln((CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 0.5)
        |       / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS skey
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  row_number() OVER (ORDER BY skey DESC, doc_id) AS sample_rank
        |FROM k ORDER BY skey DESC, doc_id LIMIT 200""".stripMargin,
    "sample_stratified" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
        |  WHEN 'es' THEN 2500 WHEN 'fr' THEN 2500 WHEN 'zh' THEN 1000 ELSE -1 END
        |ORDER BY doc_id""".stripMargin,
    "pack_sequences" ->
      s"""WITH ${duckPackCte()}
         |SELECT source, shard, block, doc_id, n_tokens, tok_start, tok_end, n_in_block
         |FROM nb ORDER BY source, shard, block, doc_id""".stripMargin,
    // FFD replayed item-by-item through the recursive bin-remainder CTE
    "pack_bestfit" ->
      s"""WITH RECURSIVE ${duckFfdCte()}
         |SELECT source, shard, bin, doc_id, n_tokens
         |FROM ffd WHERE rn > 0 ORDER BY source, shard, bin, doc_id""".stripMargin,
    "pack_bestfit_summary" ->
      s"""WITH RECURSIVE ${duckFfdCte()}
         |SELECT source, shard, bin, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(sum(n_tokens)::DOUBLE / 512, 4) AS fill_ratio
         |FROM ffd WHERE rn > 0 GROUP BY source, shard, bin
         |ORDER BY source, shard, bin""".stripMargin,
    // the same window arithmetic aggregated per block
    "pack_summary" ->
      s"""WITH ${duckPackCte()}
         |SELECT source, shard, block, count(*) AS n_docs,
         |  CAST(sum(n_in_block) AS BIGINT) AS n_tokens,
         |  round(sum(n_in_block)::DOUBLE / 512, 4) AS fill_ratio
         |FROM nb GROUP BY source, shard, block
         |ORDER BY source, shard, block""".stripMargin,
    "sample_temperature" ->
      """WITH c AS (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source),
        |t AS (SELECT sum(n) AS tot, sum(pow(n, 0.5)) AS ws FROM c),
        |r AS (SELECT c.source, CAST(floor(least(1.0, 0.5 * t.tot * pow(c.n, 0.5) / t.ws / c.n) * 10000) AS BIGINT) AS thr
        |      FROM c CROSS JOIN t),
        |b AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS bucket
        |  FROM documents)
        |SELECT b.doc_id, b.source FROM b JOIN r USING (source)
        |WHERE b.bucket < r.thr ORDER BY doc_id""".stripMargin,
    "stream_token_budget" ->
      """WITH tk AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok,
        |  CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS b,
        |  doc_id % 2 AS batch
        |  FROM documents WHERE source IN ('src0', 'src1', 'src3', 'src5')),
        |c AS (SELECT doc_id, source, tok,
        |  sum(tok) OVER (PARTITION BY source ORDER BY batch, b, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tk)
        |SELECT doc_id, source, tok AS n_tok FROM c
        |WHERE cum - tok < CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 1200
        |  WHEN 'src3' THEN 0 ELSE 1000000 END
        |ORDER BY doc_id""".stripMargin,
    // budgets derived in a subquery (45% of each source's token mass);
    // otherwise the identical one-window cumulative replay
    "stream_token_budget_df" ->
      """WITH tk AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok,
        |  CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS b,
        |  doc_id % 2 AS batch
        |  FROM documents),
        |bud AS (SELECT source, CAST(floor(CAST(sum(tok) AS DOUBLE) * 0.45) AS BIGINT) AS budget
        |  FROM tk GROUP BY source),
        |c AS (SELECT doc_id, source, tok,
        |  sum(tok) OVER (PARTITION BY source ORDER BY batch, b, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tk)
        |SELECT c.doc_id, c.source, c.tok AS n_tok FROM c JOIN bud USING (source)
        |WHERE c.cum - c.tok < bud.budget
        |ORDER BY c.doc_id""".stripMargin,
    "sample_token_budget_df" ->
      """WITH tk AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok,
        |  CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS b
        |  FROM documents WHERE source IN ('src0', 'src1', 'src3', 'src5')),
        |c AS (SELECT doc_id, source, tok,
        |  sum(tok) OVER (PARTITION BY source ORDER BY b, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tk)
        |SELECT doc_id, source FROM c
        |WHERE cum - tok < CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 1200
        |  WHEN 'src3' THEN 0 ELSE 1000000 END
        |ORDER BY doc_id""".stripMargin,
    "sample_token_budget" ->
      """WITH tk AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok,
        |  CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS b
        |  FROM documents WHERE source IN ('src0', 'src1', 'src3', 'src5')),
        |c AS (SELECT doc_id, source, tok,
        |  sum(tok) OVER (PARTITION BY source ORDER BY b, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tk)
        |SELECT doc_id, source FROM c
        |WHERE cum - tok < CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 1200
        |  WHEN 'src3' THEN 0 ELSE 1000000 END
        |ORDER BY doc_id""".stripMargin,
    "sample_quota" ->
      """WITH r AS (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000, doc_id) AS qrank
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE qrank <= 150 ORDER BY doc_id""".stripMargin,
    // WARC framing is transparent on read-back, so the oracle simply
    // rebuilds each record's payload from the same documents rows; the
    // metadata-record and gzip/split plumbing can only show up as extra,
    // missing, or corrupted rows — all hash-visible
    "warc_ingest" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode('<doc>' || text || '</doc>')) AS BIGINT) AS n_bytes,
        |  md5('<doc>' || text || '</doc>') AS payload_md5
        |FROM documents WHERE doc_id < 240 ORDER BY doc_id""".stripMargin,
    // envelope build → frame → read → strip is identity on the body, so
    // the oracle derives the fields straight from documents; malformed
    // rows are constants (NULL body where the envelope never terminates;
    // the 900004 bare-LF envelope exercises the lenient \n\n fallback —
    // its body deliberately CONTAINS a CRLFCRLF the earliest-terminator
    // rule must not mistake for the header end)
    "http_parse" ->
      """SELECT doc_id, CAST(200 AS BIGINT) AS status,
        |  'text/html' AS content_type,
        |  md5('<html><body><p>' || text || '</p></body></html>') AS body_md5
        |FROM documents WHERE doc_id < 150
        |UNION ALL SELECT * FROM (VALUES
        |  (CAST(900001 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (900002, NULL, 'x', md5('body')),
        |  (900003, 404, NULL, md5('missing')),
        |  (900004, 200, 'text/plain', md5('lenient' || chr(13) || chr(10) || chr(13) || chr(10) || 'body')))
        |  v(doc_id, status, content_type, body_md5)
        |ORDER BY doc_id""".stripMargin,
    // parse(build(x)) == x, so the oracle derives the extracted fields
    // straight from documents; the malformed rows are constants
    "cdx_parse" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS parsed_ok,
        |  source || ',example)/doc/' || doc_id AS surt_key,
        |  '20240101000000' AS cdx_ts,
        |  'http://' || source || '.example.com/doc/' || doc_id AS url,
        |  '200' AS status, CAST(n_chars AS VARCHAR) AS length
        |FROM documents
        |UNION ALL SELECT * FROM (VALUES
        |  (CAST(900001 AS BIGINT), CAST(0 AS BIGINT), 'com,bad)/x', '20240101000000',
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (900002, 0, 'com,bad2)/y', '20240101000000', NULL, NULL, NULL))
        |  v(doc_id, parsed_ok, surt_key, cdx_ts, url, status, length)
        |ORDER BY doc_id""".stripMargin,
    // decode(encode(x)) is identity under the charset-correct chain, so
    // the UTF-8 and non-UTF-8 twins share one clean text: the oracle
    // replays the markup chain over text + the parity suffix (suffix
    // unicode as chr() — never raw bytes in SQL), doubles the ids, and
    // GROUP BYs honestly (4-way folds when same-parity docs share text)
    "pipeline_ingest_charset" -> {
      val even = duckChrStr(" " + CsPipeSuffixes._1)
      val odd = duckChrStr(" " + CsPipeSuffixes._2)
      s"""WITH base AS (
         |  SELECT doc_id, text || CASE WHEN doc_id % 2 = 0 THEN $even ELSE $odd END AS t0
         |  FROM documents WHERE doc_id < 100),
         |s1 AS (SELECT doc_id, regexp_replace(t0, '(?is)<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>|<!--.*?-->', ' ', 'g') AS t FROM base),
         |s2 AS (SELECT doc_id, regexp_replace(t, '(?i)</p[ \\t]*>|</h[1-6]>|</li>|</div>|</tr>|<br[^>]*>', chr(10), 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
         |s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(replace(t,
         |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s3),
         |s5 AS (SELECT doc_id, regexp_replace(t, '[ \\t]+', ' ', 'g') AS t FROM s4),
         |s6 AS (SELECT doc_id, regexp_replace(t, '( ?\\n ?)+', chr(10), 'g') AS t FROM s5),
         |s7 AS (SELECT doc_id, regexp_replace(t, '^[ \\n]+|[ \\n]+$$', '', 'g') AS clean FROM s6),
         |c AS (SELECT doc_id, clean FROM s7
         |      UNION ALL SELECT doc_id + 500000, clean FROM s7),
         |g AS (SELECT md5(clean) AS d, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
         |      FROM c GROUP BY md5(clean))
         |SELECT c.doc_id, g.n_dups, md5(c.clean) AS clean_md5
         |FROM c JOIN g ON c.doc_id = g.keep_id ORDER BY doc_id""".stripMargin
    },
    // the allow rule is a pure function of the id string and the delay a
    // fixture constant, so one window replays the whole schedule
    "fetch_schedule" ->
      """WITH c AS (
        |  SELECT source || '.example.com' AS host, '/doc/' || doc_id AS path
        |  FROM documents WHERE CAST(doc_id AS VARCHAR) NOT LIKE '%0'),
        |r AS (SELECT host, path,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY path) - 1 AS BIGINT) AS slot
        |  FROM c)
        |SELECT host, path, slot, round(slot * 0.5, 4) AS fetch_at_s
        |FROM r ORDER BY host, path""".stripMargin,
    // the IDENTICAL regexp chain replays in DuckDB (explicit \x{...}
    // ranges parse the same in Java regex and RE2); planted texts are
    // reconstructed from chr() calls, so the oracle derives segmentation
    // independently — no precomputed constants
    "segment_cjk" -> {
      // a Scala string as a DuckDB expression: ASCII runs as quoted
      // literals, non-ASCII code points as chr(n)
      def duckStr(str: String): String = {
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        val sb = new StringBuilder
        val it = str.codePoints().iterator()
        while (it.hasNext) {
          val cp = it.next()
          if (cp < 128) sb.appendAll(Character.toChars(cp))
          else {
            if (sb.nonEmpty) { parts += "'" + sb.toString.replace("'", "''") + "'"; sb.clear() }
            parts += s"chr($cp)"
          }
        }
        if (sb.nonEmpty) parts += "'" + sb.toString.replace("'", "''") + "'"
        if (parts.isEmpty) "''" else parts.mkString(" || ")
      }
      val plantedVals = cjkCases
        .map { case (id, txt) => s"(CAST($id AS BIGINT), ${duckStr(txt)})" }
        .mkString(",\n|    ")
      s"""WITH all_d(doc_id, text) AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    $plantedVals) p(doc_id, text)),
         |seg AS (SELECT doc_id, text,
         |  regexp_replace(text, '(${TextAnalysis.CjkClass})', ' \\1 ', 'g') AS s FROM all_d)
         |SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens_ws,
         |  CAST(len(regexp_split_to_array(trim(lower(s)), '\\s+')) AS BIGINT) AS n_tokens_seg,
         |  md5(s) AS seg_md5
         |FROM seg ORDER BY doc_id""".stripMargin
    },
    // the corpus robots rules are deterministic functions of the doc id
    // (graftbot: disallow /doc/*0$ beats allow /doc/ only on ids ending
    // in 0; the * group: allow /doc/1 beats disallow /doc/ only on ids
    // starting with 1), so the oracle expresses them as CASE on the id
    // string; planted precedence probes are pinned constants
    "robots_parse" ->
      """SELECT doc_id,
        |  CASE WHEN CAST(doc_id AS VARCHAR) LIKE '%0' THEN CAST(0 AS BIGINT) ELSE 1 END AS bot_allowed,
        |  CASE WHEN CAST(doc_id AS VARCHAR) LIKE '%0' THEN 'disallow:/doc/*0$' ELSE 'allow:/doc/' END AS bot_rule,
        |  CAST(0.5 AS DOUBLE) AS bot_delay,
        |  CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%' THEN CAST(1 AS BIGINT) ELSE 0 END AS any_allowed,
        |  CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%' THEN 'allow:/doc/1' ELSE 'disallow:/doc/' END AS any_rule,
        |  CAST(2.0 AS DOUBLE) AS any_delay
        |FROM documents
        |UNION ALL SELECT * FROM (VALUES
        |  (CAST(900001 AS BIGINT), CAST(1 AS BIGINT), 'allow:/a/b', CAST(1.5 AS DOUBLE),
        |   CAST(0 AS BIGINT), 'disallow:/', CAST(NULL AS DOUBLE)),
        |  (900002, 0, 'disallow:/a/', 1.5, 0, 'disallow:/', NULL),
        |  (900003, 0, 'disallow:/c$', 1.5, 0, 'disallow:/', NULL),
        |  (900004, 1, CAST(NULL AS VARCHAR), 1.5, 0, 'disallow:/', NULL),
        |  (900005, 1, 'allow:/t/', 1.5, 0, 'disallow:/', NULL),
        |  (900006, 0, 'disallow:/w*z', 1.5, 0, 'disallow:/', NULL),
        |  (900007, 1, NULL, 1.5, 0, 'disallow:/', NULL))
        |  v(doc_id, bot_allowed, bot_rule, bot_delay, any_allowed, any_rule, any_delay)
        |ORDER BY doc_id""".stripMargin,
    // parse(build(x)) == x on the WAT envelope, so the oracle derives the
    // extracted fields straight from documents; planted rows are constants
    "wat_parse" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS parsed_ok,
        |  'http://' || source || '.example.com/doc/' || doc_id AS page_url,
        |  'Doc ' || doc_id AS title, CAST(2 AS BIGINT) AS n_links,
        |  'http://link.example.com/' || (2 * doc_id) AS first_link,
        |  CAST(n_chars AS BIGINT) AS container_offset
        |FROM documents
        |UNION ALL SELECT * FROM (VALUES
        |  (CAST(900001 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(0 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)),
        |  (900002, 1, 'http://x.example.com/nohtml', NULL, 0, NULL, 7))
        |  v(doc_id, parsed_ok, page_url, title, n_links, first_link, container_offset)
        |ORDER BY doc_id""".stripMargin,
    // ranged fetch of the CDX-selected subset must equal the full scan
    // restricted to that subset, and framing is payload-transparent, so
    // the oracle rebuilds the selected records from the documents rows
    "warc_fetch_cdx" ->
      """SELECT doc_id, 'response' AS record_type,
        |  CAST(octet_length(encode('<doc>' || text || '</doc>')) AS BIGINT) AS n_bytes,
        |  md5('<doc>' || text || '</doc>') AS payload_md5
        |FROM documents WHERE doc_id < 400 AND doc_id % 5 <> 0
        |ORDER BY doc_id""".stripMargin,
    // the cascade's outcome per planted case is computed from the SAME
    // shared fixture list the query framed (md5s/char counts in Scala),
    // so the oracle literally pins charset, cascade step, and the exact
    // recovered string; the corpus arm must decode as untouched UTF-8
    "charset_decode" -> {
      def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      val vals = charsetCases.map { c =>
        s"  (CAST(${c.id} AS BIGINT), CAST(200 AS BIGINT), 'text/html', '${c.expCharset}', " +
          s"'${c.expSource}', CAST(${c.expText.codePointCount(0, c.expText.length)} AS BIGINT), " +
          s"'${md5hex(c.expText)}')"
      }.mkString(",\n|")
      s"""SELECT doc_id, CAST(200 AS BIGINT) AS status, 'text/html' AS content_type,
         |  'utf-8' AS charset, 'utf8' AS charset_source,
         |  CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS body_md5
         |FROM documents WHERE doc_id < 150
         |UNION ALL SELECT * FROM (VALUES
         |$vals)
         |  v(doc_id, status, content_type, charset, charset_source, n_chars, body_md5)
         |ORDER BY doc_id""".stripMargin
    },
    // ingest framing is payload-transparent and the digest sink converges
    // to the batch operator, so the oracle is the plain batch dedup over
    // the same planted union
    "stream_ingest_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 120
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 15)
        |SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM all_docs GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    // the two-wave streamed union converges to the batch read-back, so
    // the oracle rebuilds payloads from the same documents rows
    "stream_warc_ingest" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode('<doc>' || text || '</doc>')) AS BIGINT) AS n_bytes,
        |  md5('<doc>' || text || '</doc>') AS payload_md5
        |FROM documents WHERE doc_id < 120 ORDER BY doc_id""".stripMargin,
    // the write→read loop is payload-transparent, so the oracle is the
    // source rows + the writer's documented defaults
    "warc_write" ->
      """SELECT doc_id, 'conversion' AS record_type, 'text/plain' AS content_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    // the full ingest chain replayed: payload build → the html_extract
    // regexp chain → the c4_clean line filter → min-id exact dedup over
    // clean_text (duplicate records fold, n_dups proves they were seen)
    "pipeline_ingest" ->
      """WITH orig AS (SELECT doc_id,
        |    '<html><head><title>Doc</title><style>p { margin: 0; }</style></head><body><p>This is a good line with punctuation.</p><p>'
        |    || text ||
        |    '.</p><p>Tom &amp; Jerry win.</p></body></html>' AS html
        |  FROM documents WHERE doc_id < 120),
        |ad AS (SELECT doc_id, html FROM orig
        |  UNION ALL SELECT doc_id + 500000, html FROM orig WHERE doc_id < 15),
        |s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>|<!--.*?-->', ' ', 'g') AS t FROM ad),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?i)</p[ \t]*>|</h[1-6]>|</li>|</div>|</tr>|<br[^>]*>', chr(10), 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(replace(t,
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
        |s6 AS (SELECT doc_id, regexp_replace(t, '( ?\n ?)+', chr(10), 'g') AS t FROM s5),
        |s7 AS (SELECT doc_id, regexp_replace(t, '^[ \n]+|[ \n]+$', '', 'g') AS clean0 FROM s6),
        |c0 AS (SELECT doc_id, clean0, string_split(clean0, chr(10)) AS lines,
        |  (contains(lower(clean0), 'lorem ipsum') OR contains(clean0, '{')) AS flag FROM s7),
        |c1 AS (SELECT doc_id, list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$')
        |    AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
        |    AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM c0 WHERE NOT flag),
        |c2 AS (SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, chr(10)) AS clean_text FROM c1),
        |g AS (SELECT md5(clean_text) AS d, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_dups FROM c2 GROUP BY md5(clean_text))
        |SELECT c2.doc_id, c2.n_kept, g.n_dups, md5(c2.clean_text) AS clean_md5
        |FROM c2 JOIN g ON c2.doc_id = g.keep_id ORDER BY doc_id""".stripMargin,
    "pipeline_curate" -> {
      val en = TextAnalysis.StopWords.head._2.map(w => s"'$w'").mkString(",")
      def cnt(words: Seq[String]) =
        s"len(list_filter($duckToks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
      val counts = TextAnalysis.StopWords.map { case (l, ws) => l -> cnt(ws) }
      val colsSql = counts.map { case (l, c) => s"$c AS cnt_$l" }.mkString(", ")
      val mx = s"greatest(${counts.map(l => s"cnt_${l._1}").mkString(", ")})"
      val whens = counts.map { case (l, _) => s"WHEN cnt_$l = __mx THEN '$l'" }.mkString(" ")
      s"""WITH RECURSIVE keeps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |d0 AS (SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT doc_id FROM keeps)),
         |sh AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM d0),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM sh a CROSS JOIN sh b
         |      WHERE a.doc_id < b.doc_id AND ${duckJaccard("a.sh", "b.sh")} >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
         |neardrop AS (SELECT id FROM reach GROUP BY id HAVING min(label) <> id),
         |d AS (SELECT doc_id, text FROM d0 WHERE doc_id NOT IN (SELECT id FROM neardrop)),
         |c AS (SELECT doc_id, text, $colsSql FROM d),
         |m AS (SELECT *, $mx AS __mx FROM c),
         |s AS (SELECT doc_id,
         |  round(least(length($duckToks) / 100.0, 1.0) * 0.5 +
         |    (len(list_filter($duckToks, t -> t IN ($en)))::DOUBLE / length($duckToks)) * 0.5, 4) AS quality,
         |  CASE WHEN __mx = 0 THEN 'und' $whens ELSE 'und' END AS pred_lang FROM m)
         |SELECT s.doc_id, s.quality, s.pred_lang,
         |  round(sqrt(${duckNormSq(dEmb("e.embedding"))}), 4) AS emb_norm
         |FROM s JOIN embeddings e ON s.doc_id = e.vec_id
         |WHERE s.quality >= 0.25 AND s.pred_lang = 'en'
         |ORDER BY s.doc_id""".stripMargin
    },
    "pipeline_curate_best" -> {
      val en = TextAnalysis.StopWords.head._2.map(w => s"'$w'").mkString(",")
      def cnt(words: Seq[String]) =
        s"len(list_filter($duckToks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
      val counts = TextAnalysis.StopWords.map { case (l, ws) => l -> cnt(ws) }
      val colsSql = counts.map { case (l, c) => s"$c AS cnt_$l" }.mkString(", ")
      val mx = s"greatest(${counts.map(l => s"cnt_${l._1}").mkString(", ")})"
      val whens = counts.map { case (l, _) => s"WHEN cnt_$l = __mx THEN '$l'" }.mkString(" ")
      s"""WITH RECURSIVE all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, 'near duplicate copy ' || text FROM documents WHERE doc_id < 40),
         |keeps AS (SELECT min(doc_id) AS doc_id FROM all_docs GROUP BY md5(text)),
         |d0 AS (SELECT doc_id, text FROM all_docs WHERE doc_id IN (SELECT doc_id FROM keeps)),
         |sh AS (SELECT doc_id, ${duckShingles(duckToks)} AS sh FROM d0),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM sh a CROSS JOIN sh b
         |      WHERE a.doc_id < b.doc_id AND ${duckJaccard("a.sh", "b.sh")} >= 0.8),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
         |g AS (SELECT id AS doc_id, min(label) AS group_id FROM reach GROUP BY id),
         |sc AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_tok FROM d0),
         |neardrop AS (SELECT doc_id AS id FROM (
         |  SELECT g.doc_id, row_number() OVER (PARTITION BY g.group_id ORDER BY sc.n_tok DESC, g.doc_id) AS rn
         |  FROM g JOIN sc USING (doc_id)) WHERE rn > 1),
         |d AS (SELECT doc_id, text FROM d0 WHERE doc_id NOT IN (SELECT id FROM neardrop)),
         |c AS (SELECT doc_id, text, $colsSql FROM d),
         |m AS (SELECT *, $mx AS __mx FROM c),
         |s AS (SELECT doc_id,
         |  round(least(length($duckToks) / 100.0, 1.0) * 0.5 +
         |    (len(list_filter($duckToks, t -> t IN ($en)))::DOUBLE / length($duckToks)) * 0.5, 4) AS quality,
         |  CASE WHEN __mx = 0 THEN 'und' $whens ELSE 'und' END AS pred_lang FROM m)
         |SELECT s.doc_id, s.quality, s.pred_lang,
         |  round(sqrt(${duckNormSq(dEmb("e.embedding"))}), 4) AS emb_norm
         |FROM s JOIN embeddings e ON s.doc_id = e.vec_id
         |WHERE s.quality >= 0.25 AND s.pred_lang = 'en'
         |ORDER BY s.doc_id""".stripMargin
    },
    "pipeline_curate_semantic" -> {
      val en = TextAnalysis.StopWords.head._2.map(w => s"'$w'").mkString(",")
      def cnt(words: Seq[String]) =
        s"len(list_filter($duckToks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
      val counts = TextAnalysis.StopWords.map { case (l, ws) => l -> cnt(ws) }
      val colsSql = counts.map { case (l, c) => s"$c AS cnt_$l" }.mkString(", ")
      val mx = s"greatest(${counts.map(l => s"cnt_${l._1}").mkString(", ")})"
      val whens = counts.map { case (l, _) => s"WHEN cnt_$l = __mx THEN '$l'" }.mkString(" ")
      s"""WITH RECURSIVE
         |twins AS (SELECT doc_id + 600000 AS doc_id,
         |  'paraphrase variant ' || CAST(doc_id AS VARCHAR) || ' with an entirely different surface form' AS text
         |  FROM documents WHERE doc_id < 50),
         |all_docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM twins),
         |all_emb AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 600000, embedding FROM embeddings WHERE vec_id < 50),
         |keeps AS (SELECT min(doc_id) AS doc_id FROM all_docs GROUP BY md5(text)),
         |d AS (SELECT doc_id, text FROM all_docs WHERE doc_id IN (SELECT doc_id FROM keeps)),
         |semp AS (SELECT a.vec_id AS src0, b.vec_id AS dst0
         |  FROM all_emb a CROSS JOIN all_emb b
         |  WHERE a.vec_id < b.vec_id
         |    AND a.vec_id IN (SELECT doc_id FROM d) AND b.vec_id IN (SELECT doc_id FROM d)
         |    AND ${duckCosine(dEmb("a.embedding"), dEmb("b.embedding"))} <= 0.1),
         |semedges AS (SELECT src0 AS src, dst0 AS dst FROM semp UNION SELECT dst0, src0 FROM semp),
         |semreach(id, label) AS (
         |  SELECT src, src FROM semedges
         |  UNION
         |  SELECT e.dst, r.label FROM semreach r JOIN semedges e ON e.src = r.id),
         |semdrop AS (SELECT id FROM semreach GROUP BY id HAVING min(label) <> id),
         |d2 AS (SELECT doc_id, text FROM d WHERE doc_id NOT IN (SELECT id FROM semdrop)),
         |tok AS (SELECT doc_id, unnest($duckToks) AS token FROM all_docs),
         |cnt_lm AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
         |tot AS (SELECT sum(c)::DOUBLE AS s FROM cnt_lm),
         |ce AS (SELECT tok.doc_id, -avg(ln(cnt_lm.c / tot.s)) AS ce
         |       FROM tok JOIN cnt_lm USING (token) CROSS JOIN tot GROUP BY tok.doc_id),
         |d3 AS (SELECT d2.doc_id, d2.text FROM d2 JOIN ce ON d2.doc_id = ce.doc_id
         |       WHERE ce.ce BETWEEN 0.0 AND 3.6),
         |c AS (SELECT doc_id, text, $colsSql FROM d3),
         |m AS (SELECT *, $mx AS __mx FROM c),
         |s AS (SELECT doc_id,
         |  round(least(length($duckToks) / 100.0, 1.0) * 0.5 +
         |    (len(list_filter($duckToks, t -> t IN ($en)))::DOUBLE / length($duckToks)) * 0.5, 4) AS quality,
         |  CASE WHEN __mx = 0 THEN 'und' $whens ELSE 'und' END AS pred_lang FROM m)
         |SELECT s.doc_id, s.quality, s.pred_lang,
         |  round(sqrt(${duckNormSq(dEmb("e.embedding"))}), 4) AS emb_norm
         |FROM s JOIN all_emb e ON s.doc_id = e.vec_id
         |WHERE s.quality >= 0.25 AND s.pred_lang = 'en'
         |ORDER BY s.doc_id""".stripMargin
    },
    // the PCA fit/rotation itself is exercised Spark-side; orthonormality,
    // trace conservation, isometry, the truncation identity, and planted
    // rank-3 recovery make every column closed-form
    "vec_pca" ->
      """SELECT CAST(64 AS BIGINT) AS n_components, CAST(0 AS BIGINT) AS n_ortho_bad,
        |  CAST(0 AS BIGINT) AS n_order_bad, CAST(1 AS BIGINT) AS trace_ok,
        |  CAST(0 AS BIGINT) AS n_iso_bad, CAST(1 AS BIGINT) AS recon_ok,
        |  CAST(1 AS BIGINT) AS planted_ok""".stripMargin,
    "vec_centroids" ->
      """WITH ex AS (
        |  SELECT label, r.pos - 1 AS pos, embedding[r.pos]::DOUBLE AS v
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) r)
        |SELECT label, CAST(pos AS BIGINT) AS pos, round(avg(v), 4) + 0 AS mean
        |FROM ex GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "top_orders_per_segment" ->
      """WITH r AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rank
        |FROM r WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // the bucketed layout is plan-shape machinery, not semantics: the
    // numbers are the plain key join's
    "bucketed_join" ->
      """SELECT o_orderpriority,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "events_window" ->
      """SELECT event_type, CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the streaming replay must converge to exactly the batch answer
    "stream_events_window" ->
      """SELECT event_type, CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // batch gaps-and-islands in µs with the session_window rules:
    // split strictly beyond the 30-min gap, end = last event + gap
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, value FROM events),
        |f AS (SELECT user_id, t, value,
        |        CASE WHEN lag(t) OVER w IS NULL THEN 0
        |             WHEN t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (SELECT user_id, t, value,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |      FROM f)
        |SELECT user_id, min(t) AS start_us, max(t) + 1800000000 AS end_us,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sess ORDER BY user_id, start_us""".stripMargin,
    // per-user count of (event, same-user event within the prior 10 min)
    // pairs; µs-truncated time arithmetic mirrors the Spark side exactly
    "stream_join" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events WHERE user_id % 10 = 0),
        |u AS (SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events WHERE user_id % 10 = 0)
        |SELECT e.user_id, count(*) AS n_pairs
        |FROM e JOIN u ON e.user_id = u.user_id AND u.t >= e.t - 600000000 AND u.t <= e.t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the emitted digest set equals the batch distinct digests (planted
    // copies share digests with their originals, so they add none)
    "stream_dedup" ->
      "SELECT md5(text) AS digest FROM documents GROUP BY 1 ORDER BY 1",
    // latest-wins state: closed-form from the mutation synthesis rule
    "stream_vector_state" ->
      """SELECT vec_id AS id,
        |  CAST(CASE WHEN vec_id % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version,
        |  CAST(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS deleted,
        |  CAST(CASE WHEN vec_id % 7 = 0 THEN 0 ELSE len(embedding) END AS BIGINT) AS dim
        |FROM embeddings ORDER BY id""".stripMargin,
    // sliding 10m/5m: each event lands in window-start buckets
    // floor(epoch/300) and floor(epoch/300) - 1
    "stream_events_sliding" ->
      """WITH x AS (SELECT event_type, value, CAST(floor(epoch(ts) / 300) AS BIGINT) AS b FROM events),
        |e AS (SELECT event_type, value, b - o AS bucket FROM x CROSS JOIN (SELECT unnest([0, 1]) AS o))
        |SELECT event_type, bucket, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 0
        |         WHEN epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the same md5 shard rule; the export's verified counts must equal
    // the closed-form assignment
    "export_shards" ->
      """SELECT CAST(CAST(concat('0x', substr(md5(concat('s', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 8 AS BIGINT) AS shard,
        |  count(*) AS n_rows
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical z-key arithmetic: exact min/max, 8-bit min–max ranks
    // (floor → clamp, same op order), unrolled bit interleave
    "zorder_key" -> {
      val terms = (0 until 8).flatMap(j =>
        Seq(s"(((r1 >> $j) & 1) << ${2 * j})", s"(((r2 >> $j) & 1) << ${2 * j + 1})"))
        .mkString(" + ")
      s"""WITH mm AS (SELECT min(CAST(user_id AS DOUBLE)) AS u0, max(CAST(user_id AS DOUBLE)) AS u1,
         |  min(CAST(epoch_ns(ts) AS DOUBLE)) AS t0, max(CAST(epoch_ns(ts) AS DOUBLE)) AS t1 FROM events),
         |r AS (SELECT event_id,
         |  least(greatest(CAST(floor((CAST(user_id AS DOUBLE) - u0) / (u1 - u0) * 255.0) AS BIGINT), 0), 255) AS r1,
         |  least(greatest(CAST(floor((CAST(epoch_ns(ts) AS DOUBLE) - t0) / (t1 - t0) * 255.0) AS BIGINT), 0), 255) AS r2
         |  FROM events CROSS JOIN mm)
         |SELECT event_id, CAST($terms AS BIGINT) AS zvalue FROM r ORDER BY event_id""".stripMargin
    },
    // identical union+running-last formulation; 'view' rows carry non-null
    // (view_id, value, tsn), so the three per-column last_value picks all
    // land on the same winning row
    "asof_join" ->
      """WITH v AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id AS view_id, value
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, tsn, 0 AS side, view_id AS seq, view_id, value, NULL::BIGINT AS event_id FROM v
        |  UNION ALL
        |  SELECT user_id, tsn, 1, NULL, NULL, NULL, event_id FROM p),
        |m AS (SELECT *,
        |    last_value(CASE WHEN side = 0 THEN view_id END IGNORE NULLS) OVER w AS m_id,
        |    last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER w AS m_val,
        |    last_value(CASE WHEN side = 0 THEN tsn END IGNORE NULLS) OVER w AS m_ts
        |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY tsn, side, seq
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, tsn AS ts,
        |  CASE WHEN m_ts >= tsn - 3600000000000 THEN m_id END AS view_id,
        |  CASE WHEN m_ts >= tsn - 3600000000000 THEN round(m_val, 4) END AS view_value,
        |  CASE WHEN m_ts >= tsn - 3600000000000 THEN tsn - m_ts END AS lag_ns
        |FROM m WHERE side = 1 ORDER BY event_id""".stripMargin,
    // sessions via gaps-and-islands over the full stream, then a plain
    // containment join (exact at test scale; the Spark side buckets)
    "interval_join" ->
      """WITH ne AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events),
        |f AS (SELECT user_id, event_id, tsn,
        |        CASE WHEN lag(tsn) OVER w IS NULL THEN 0
        |             WHEN tsn - lag(tsn) OVER w > 1800000000000 THEN 1 ELSE 0 END AS brk
        |      FROM ne WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)),
        |s0 AS (SELECT user_id, tsn,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
        |       FROM f),
        |s AS (SELECT user_id, CAST(session AS BIGINT) AS session, min(tsn) AS start_ts,
        |        max(tsn) AS end_ts, count(*) AS n_events
        |      FROM s0 GROUP BY 1, 2),
        |err AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events WHERE event_type = 'error')
        |SELECT err.user_id, s.session, err.event_id, s.n_events AS n_sess_events
        |FROM err JOIN s ON err.user_id = s.user_id AND err.tsn BETWEEN s.start_ts AND s.end_ts
        |ORDER BY 1, 2, 3""".stripMargin,
    // the PSL cascade interpolates the SAME suffix lists the kernel uses
    "registered_domain" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    (910001, 'see https://news.BBC.co.uk/stories and https://a.b.github.io/page'),
         |    (910002, 'bare suffix http://co.uk/ and single http://localhost/x'),
         |    (910003, 'ip http://192.168.0.1/p port https://www.Example.co.uk:8080/q'),
         |    (910004, 'unknown tld https://foo.bar.unknowntld/z bucket http://media.s3.amazonaws.com/k'),
         |    (910005, 'deep https://a.b.c.d.example.com/w three http://x.blogspot.co.uk/t and dot https://example.com./r')) v(doc_id, text)),
         |l AS (SELECT unnest(regexp_extract_all(text, '(?i)\\bhttps?://[^ \\t\\n\\r"''<>)]+', 0)) AS url FROM all_docs),
         |g AS (SELECT lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS host, count(*) AS n_urls
         |      FROM l GROUP BY 1),
         |p AS (SELECT host, n_urls, ${duckHostClean("host")} AS h0,
         |        string_split(${duckHostClean("host")}, '.') AS parts FROM g)
         |SELECT host, $duckRegDomain AS registered_domain, n_urls
         |FROM p ORDER BY host""".stripMargin,
    // same census, same cascade, then the sample_quota window rule
    // (md5-bucket order, id tiebreak) capped at 8 per registered domain
    "domain_cap" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT 920000 + i, 'crawl https://a' || i || '.hot.co.uk/page/' || i || ' now' FROM range(40) t(i)
         |  UNION ALL SELECT 921000 + i, 'keep https://s' || i || '.example.org/doc/' || i || ' too' FROM range(5) t(i)),
         |l AS (SELECT DISTINCT unnest(regexp_extract_all(text, '(?i)\\bhttps?://[^ \\t\\n\\r"''<>)]+', 0)) AS url FROM all_docs),
         |h2 AS (SELECT url, lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS host FROM l),
         |p AS (SELECT url, ${duckHostClean("host")} AS h0,
         |        string_split(${duckHostClean("host")}, '.') AS parts FROM h2),
         |f AS (SELECT url, domain FROM (SELECT url, $duckRegDomain AS domain FROM p) WHERE domain IS NOT NULL),
         |r AS (SELECT domain, url, row_number() OVER (PARTITION BY domain
         |        ORDER BY CAST(concat('0x', substr(md5(concat('s', url)), 1, 15)) AS BIGINT) % 10000, url) AS qrank
         |      FROM f)
         |SELECT domain, url FROM r WHERE qrank <= 8 ORDER BY domain, url""".stripMargin,
    "pagerank_hosts" -> pagerankOracle,
    // min-label propagation to fixpoint over the SAME 60-bit md5 host ids
    // the Spark side maps through — a collision cannot diverge the engines
    "host_components" ->
      """WITH RECURSIVE edges0 AS (
        |  SELECT 'h' || (doc_id % 100) AS src,
        |         'h' || ((doc_id % 100) - ((doc_id % 100) % 10) + (((doc_id % 100) * 7) % 10)) AS dst
        |  FROM documents
        |  UNION ALL SELECT 'lonely1.example.com', 'lonely2.example.com'),
        |hosts AS (SELECT host, CAST(concat('0x', substr(md5(host), 1, 15)) AS BIGINT) AS hid
        |          FROM (SELECT DISTINCT src AS host FROM edges0 UNION SELECT DISTINCT dst FROM edges0)),
        |e AS (SELECT DISTINCT a.hid AS src, b.hid AS dst
        |      FROM edges0 JOIN hosts a ON edges0.src = a.host JOIN hosts b ON edges0.dst = b.host),
        |es AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |reach(id, label) AS (
        |  SELECT src, src FROM es
        |  UNION
        |  SELECT e2.dst, r.label FROM reach r JOIN es e2 ON e2.src = r.id),
        |lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
        |SELECT h1.host AS host, h2.host AS root_host
        |FROM lab JOIN hosts h1 ON lab.id = h1.hid JOIN hosts h2 ON lab.label = h2.hid
        |ORDER BY host""".stripMargin,
    // each planted wire-encoding case's outcome derives from the SAME
    // shared fixture list the query framed (md5s / codepoint counts
    // computed in Scala) — the oracle literally pins the applied-coding
    // report, recovered charset, and exact body; the corpus arm must
    // pass through as identity
    "http_encodings" -> {
      def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      val vals = encodingCases.map { c =>
        val nChars =
          if (c.expText == null) "NULL"
          else s"CAST(${c.expText.codePointCount(0, c.expText.length)} AS BIGINT)"
        val bodyMd5 = if (c.expText == null) "NULL" else s"'${md5hex(c.expText)}'"
        val charset = if (c.expCharset == null) "NULL" else s"'${c.expCharset}'"
        s"  (CAST(${c.id} AS BIGINT), CAST(200 AS BIGINT), '${c.expEncoding}', " +
          s"$charset, $nChars, $bodyMd5)"
      }.mkString(",\n|")
      s"""SELECT doc_id, CAST(200 AS BIGINT) AS status, 'identity' AS encoding,
         |  'utf-8' AS charset, CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS body_md5
         |FROM documents WHERE doc_id < 150
         |UNION ALL SELECT * FROM (VALUES
         |$vals)
         |  v(doc_id, status, encoding, charset, n_chars, body_md5)
         |ORDER BY doc_id""".stripMargin
    },
    // digest-equality resolution to the earliest capture: the oracle
    // rebuilds every capture's digest from the same documents rows
    // (duplicate recaptures at +400000), so min-id/candidate-count/
    // refers-to agreement are all pinned; the dangling revisit appends
    // as the one row resolving to nothing
    "warc_revisit" ->
      """WITH caps AS (
        |  SELECT doc_id, md5('<doc>' || text || '</doc>') AS pm FROM documents WHERE doc_id < 80
        |  UNION ALL SELECT doc_id + 400000, md5('<doc>' || text || '</doc>') FROM documents WHERE doc_id < 10),
        |agg AS (SELECT pm, min(doc_id) AS orig_id, count(*) AS n_candidates FROM caps GROUP BY pm),
        |rev AS (SELECT doc_id AS base_id, doc_id + 500000 AS doc_id,
        |          md5('<doc>' || text || '</doc>') AS pm
        |        FROM documents WHERE doc_id < 20)
        |SELECT r.doc_id, a.orig_id, a.n_candidates, a.pm AS payload_md5,
        |  CAST(CASE WHEN a.orig_id = r.base_id THEN 1 ELSE 0 END AS BIGINT) AS refers_ok
        |FROM rev r JOIN agg a USING (pm)
        |UNION ALL SELECT CAST(599999 AS BIGINT), CAST(NULL AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(NULL AS VARCHAR), CAST(-1 AS BIGINT)
        |ORDER BY doc_id""".stripMargin,
    // both snapshots rebuilt from the same rows; the diff replays as a
    // plain FULL OUTER JOIN with the same four-way classification
    "cdx_diff" ->
      """WITH a AS (SELECT 'com,example)/p/' || doc_id AS surt, 'md5:' || md5(text) AS digest_a
        |           FROM documents WHERE doc_id < 400),
        |b AS (SELECT 'com,example)/p/' || doc_id AS surt,
        |        CASE WHEN doc_id % 7 = 0 THEN 'md5:' || md5(text || 'v2')
        |             ELSE 'md5:' || md5(text) END AS digest_b
        |      FROM documents WHERE doc_id >= 50)
        |SELECT coalesce(a.surt, b.surt) AS surt,
        |  CASE WHEN a.surt IS NULL THEN 'added' WHEN b.surt IS NULL THEN 'gone'
        |       WHEN digest_a = digest_b THEN 'unchanged' ELSE 'changed' END AS status,
        |  digest_a, digest_b
        |FROM a FULL OUTER JOIN b ON a.surt = b.surt
        |ORDER BY surt""".stripMargin,
    // the oracle rebuilds each per-source urlset with the same doc_id-
    // ordered concatenation and replays the IDENTICAL RE2-safe regex
    // chain (blocks -> per-field non-greedy extracts -> entity decode)
    "sitemap_parse" ->
      """WITH sm AS (
        |  SELECT source, '<?xml version="1.0"?><urlset>' || string_agg(e, '' ORDER BY doc_id) || '</urlset>' AS xml
        |  FROM (SELECT source, doc_id,
        |          '<url><loc>https://crawl.example.com/d/' || doc_id || '</loc><lastmod>2024-01-' ||
        |          lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') || '</lastmod><priority>0.' ||
        |          (doc_id % 10) || '</priority></url>' AS e
        |        FROM documents)
        |  GROUP BY source
        |  UNION ALL SELECT * FROM (VALUES
        |    ('planted_ws', '<urlset><url><loc>  https://ws.example.com/a ' || chr(10) || '</loc><changefreq>daily</changefreq></url><url><loc>https://ws.example.com/b&amp;c=1&lt;2</loc></url></urlset>'),
        |    ('planted_index', '<sitemapindex><sitemap><loc>https://example.com/sitemap1.xml.gz</loc><lastmod>2024-02-03</lastmod></sitemap><sitemap><loc>https://example.com/sitemap2.xml.gz</loc></sitemap></sitemapindex>')) v(source, xml)),
        |blk AS (SELECT source,
        |          CASE WHEN regexp_matches(xml, '(?is)<sitemapindex[\s>]') THEN 1 ELSE 0 END AS is_index,
        |          unnest(regexp_extract_all(xml, '(?is)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1)) AS b
        |        FROM sm),
        |f AS (SELECT source, CAST(is_index AS BIGINT) AS is_index,
        |        nullif(regexp_extract(b, '(?is)<loc>\s*(.*?)\s*</loc>', 1), '') AS loc0,
        |        nullif(regexp_extract(b, '(?is)<lastmod>\s*(.*?)\s*</lastmod>', 1), '') AS lastmod,
        |        nullif(regexp_extract(b, '(?is)<changefreq>\s*(.*?)\s*</changefreq>', 1), '') AS changefreq,
        |        CAST(nullif(regexp_extract(b, '(?is)<priority>\s*(.*?)\s*</priority>', 1), '') AS DOUBLE) AS priority
        |      FROM blk)
        |SELECT source, is_index,
        |  replace(replace(replace(replace(replace(loc0,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS loc,
        |  lastmod, changefreq, priority
        |FROM f ORDER BY loc""".stripMargin,
    // membership arithmetic: discovered (every doc) minus crawled
    // (doc_id % 3 = 0) minus robots-disallowed (path prefix /d/1 —
    // ids whose decimal string starts with '1')
    "frontier_seed" ->
      """SELECT DISTINCT 'https://crawl.example.com/d/' || doc_id AS url
        |FROM documents
        |WHERE doc_id % 3 <> 0 AND CAST(doc_id AS VARCHAR) NOT LIKE '1%'
        |ORDER BY url""".stripMargin,
  )
}
