package graft

import graft.dedup.{Dedup, HammingLsh}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Drives every banded-LSH form over the same input: the batch operators
  * ([[Dedup.minhashLshPairs]], [[HammingLsh.bandedPairs]]), the disk-state
  * sinks ([[StreamingOps.nearDupSink]], [[StreamingOps.mediaPhashSink]])
  * and the state-store stream ([[StreamingOps.nearDupStream]]), each
  * returning its distinct pair set.
  */
private object LshForms {
  private lazy val spark = SparkTestBase.session
  private val queries = new java.util.concurrent.atomic.AtomicInteger()

  type Pairs = Set[(Long, Long, Double)]

  private def pairs(df: DataFrame): Pairs =
    df.select(col(df.columns(0)).cast("long"), col(df.columns(1)).cast("long"),
        round(col(df.columns(2)).cast("double"), 9))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  private def textDf(docs: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    docs.toDF("doc_id", "text")
  }

  private def hashDf(hashes: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    hashes.toDF("id", "dhash")
  }

  def textBatch(docs: Seq[(Long, String)], cap: Int): Pairs =
    pairs(Dedup.minhashLshPairs(textDf(docs), maxBucketSize = cap))

  /** Each batch through a fresh sink, in order, under its index as id. */
  def textSink(batches: Seq[Seq[(Long, String)]], cap: Int): Pairs = {
    val dir = tmp("lsh_nds")
    val sink = StreamingOps.nearDupSink(spark, dir, maxBucketSize = cap)
    batches.zipWithIndex.foreach { case (b, i) => sink(textDf(b), i.toLong) }
    pairs(StreamingOps.nearDupSinkPairs(spark, dir))
  }

  /** Each batch as one micro-batch of a fresh stream; distinct pairs. */
  def textStream(batches: Seq[Seq[(Long, String)]], cap: Int): Pairs = {
    implicit val ctx: SQLContext = spark.sqlContext
    val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, String)]
    val name = s"lsh_stream_${queries.incrementAndGet()}"
    val q = StreamingOps.nearDupStream(input.toDF().toDF("doc_id", "text"), maxBucketSize = cap)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    pairs(spark.table(name).select("doc_a", "doc_b", "jaccard").distinct())
  }

  def hashBatch(hashes: Seq[(Long, Long)], cap: Int): Pairs =
    pairs(HammingLsh.bandedPairs(hashDf(hashes), maxBucketSize = cap))

  def hashSink(batches: Seq[Seq[(Long, Long)]], cap: Int): Pairs = {
    val dir = tmp("lsh_mps")
    val sink = StreamingOps.mediaPhashSink(spark, dir, maxBucketSize = cap)
    batches.zipWithIndex.foreach { case (b, i) => sink(hashDf(b), i.toLong) }
    pairs(StreamingOps.mediaPhashSinkPairs(spark, dir))
  }
}

/** `maxBucketSize <= 0` disables the skew guard in every banded-LSH form:
  * three members of one bucket pair all three ways, never star pairs only
  * and never nothing.
  */
class LshBucketCapSpec extends SparkTestBase {
  import LshForms._

  private def words(prefix: String) = (0 until 30).map(t => s"$prefix$t").mkString(" ")
  private val docs = Seq(1L -> words("same"), 2L -> words("same"), 3L -> words("same"),
    4L -> words("other"))
  private val hashes = Seq(1L -> 0x0f0f0f0f0f0f0f0fL, 2L -> 0x0f0f0f0f0f0f0f0fL,
    3L -> 0x0f0f0f0f0f0f0f0fL, 4L -> 0x7531eca86420bdf9L)

  private def all3(score: Double) = Set((1L, 2L, score), (1L, 3L, score), (2L, 3L, score))

  test("maxBucketSize <= 0 disables the guard: text batch operator, sink and stream agree") {
    Seq(0, -1).foreach { cap =>
      assert(textBatch(docs, cap) === all3(1.0), s"minhashLshPairs at $cap")
      assert(textSink(Seq(docs), cap) === all3(1.0), s"nearDupSink at $cap, one batch")
      assert(textSink(Seq(docs.take(1) :+ docs(3), docs.slice(1, 3)), cap) === all3(1.0),
        s"nearDupSink at $cap, two batches")
      assert(textStream(Seq(docs), cap) === all3(1.0), s"nearDupStream at $cap")
    }
  }

  test("maxBucketSize <= 0 disables the guard: Hamming batch operator and media sink agree") {
    Seq(0, -1).foreach { cap =>
      assert(hashBatch(hashes, cap) === all3(0.0), s"bandedPairs at $cap")
      assert(hashSink(Seq(hashes), cap) === all3(0.0), s"mediaPhashSink at $cap, one batch")
      assert(hashSink(Seq(hashes.take(1) :+ hashes(3), hashes.slice(1, 3)), cap) === all3(0.0),
        s"mediaPhashSink at $cap, two batches")
    }
  }
}

/** The streaming forms converge to their batch operator whatever the
  * micro-batch boundaries and redeliveries, whenever no bucket is capped
  * (`maxBucketSize <= 0`, or at least the largest bucket). Inputs are
  * near-dup families: text members differ from their family's base in
  * 0–2 tokens (Jaccard on both sides of the 0.8 threshold), hash members
  * in 0–5 bits (Hamming on both sides of the default maxDist 3). Star
  * pairs depend on arrival order, so capped buckets stay with the
  * fixed-case specs.
  */
object LshConvergenceProps extends Properties("LshConvergence") {

  // each case runs ~10 sink batches and one stream: a few cases keep the
  // suite quick
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4).withWorkers(1)

  final case class Case[A](items: Seq[(Long, A)], cuts: Seq[Int], redelivered: Int, cap: Int) {
    /** The micro-batches, then the redelivered one again. */
    def batches: Seq[Seq[(Long, A)]] = {
      val slices = (0 +: cuts :+ items.size).sliding(2).map { case Seq(a, b) => items.slice(a, b) }
        .toSeq
      slices :+ slices(redelivered)
    }
  }

  /** Families of 1–4 members over distinct ids, in random arrival order. */
  private def families[A](base: Int => Gen[A], member: (A, Int) => Gen[A]): Gen[Seq[(Long, A)]] =
    for {
      nf <- Gen.choose(2, 4)
      fams <- Gen.sequence[List[List[A]], List[A]]((0 until nf).map { f =>
        for {
          b <- base(f)
          n <- Gen.choose(1, 4)
          ms <- Gen.listOfN(n - 1, member(b, f))
        } yield b :: ms
      })
      items = fams.flatten
      ids <- Gen.pick(items.size, 0L until 1000L)
      order <- Gen.pick(items.size, items.indices)
    } yield ids.toSeq.zip(order.map(items))

  private def caseOf[A](items: Gen[Seq[(Long, A)]]): Gen[Case[A]] = for {
    xs <- items
    nb <- Gen.choose(1, math.min(3, xs.size))
    cuts <- Gen.pick(nb - 1, 1 until xs.size).map(_.toSeq.sorted)
    r <- Gen.choose(0, nb - 1)
    // the cap is off or at least the largest bucket (at most every item)
    cap <- Gen.oneOf(0, -1, xs.size, xs.size + 7)
  } yield Case(xs, cuts, r, cap)

  private val texts: Gen[Case[String]] = caseOf(families[String](
    f => Gen.const((0 until 30).map(t => s"f${f}w$t").toVector.mkString(" ")),
    (b, f) => for {
      k <- Gen.choose(0, 2)
      at <- Gen.pick(k, 0 until 30)
      by <- Gen.listOfN(k, Gen.choose(0, 1 << 20))
    } yield {
      val toks = b.split(" ")
      at.zip(by).foreach { case (i, x) => toks(i) = s"f${f}x$x" }
      toks.mkString(" ")
    }))

  private val hashes: Gen[Case[Long]] = caseOf(families[Long](
    _ => Gen.long,
    (b, _) => Gen.choose(0, 5).flatMap(k => Gen.pick(k, 0 until 64))
      .map(_.foldLeft(b)((h, bit) => h ^ (1L << bit)))))

  property("the text sink and stream equal minhashLshPairs") = forAll(texts) { c =>
    val want = LshForms.textBatch(c.items, c.cap)
    val sink = LshForms.textSink(c.batches, c.cap)
    val stream = LshForms.textStream(c.batches, c.cap)
    (Prop(sink == want) :| s"nearDupSink: $sink, want $want") &&
      (Prop(stream == want) :| s"nearDupStream: $stream, want $want")
  }

  property("the media sink equals HammingLsh.bandedPairs") = forAll(hashes) { c =>
    val want = LshForms.hashBatch(c.items, c.cap)
    val sink = LshForms.hashSink(c.batches, c.cap)
    Prop(sink == want) :| s"mediaPhashSink: $sink, want $want"
  }
}
