package graft.dedup

import graft.functions.{ShingleBandHashes, ShingleHashSet}
import graft.internal.SqlBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one banded-LSH core under graft's near-dup search: the batch
  * operators ([[Dedup.minhashLshPairs]], [[Dedup.minhashLshPairsAgainst]],
  * [[HammingLsh.bandedPairs]]) and the disk-state streaming sinks
  * (`StreamingOps.nearDupSink`, `StreamingOps.mediaPhashSink`) take every
  * step from here, so each policy is stated once:
  *
  *  - band rows: text → (id, hs, bhs) through the fused shingle kernels,
  *    exploded to (id, band, bh); a 64-bit hash → (id, band, bh) slices;
  *  - bucket sizing: one (band, bh) window tags each row with its
  *    bucket's size `__n` and min-id representative `__min_id`;
  *  - the skew guard: a bucket of at most `maxBucketSize` rows emits all
  *    its pairs, a larger one star pairs against its representative
  *    (n−1 candidates instead of C(n,2)). `maxBucketSize <= 0` disables
  *    the cap: every bucket emits all its pairs;
  *  - verify: both sides' values joined back by id, scored, filtered.
  *
  * Candidate pairs are ordered (a < b) and distinct, named per caller.
  */
private[graft] object Lsh {

  /** MinHash rows per band; `numHashes` must split into `bands` bands. */
  def rowsPerBand(numHashes: Int, bands: Int): Int = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    numHashes / bands
  }

  /** (id, hs, bhs) per document with at least one shingle: the sorted
    * hashed 3-shingle set and the MinHash band hashes, one fused kernel
    * pass each. The optimizer pushes the size filter below the
    * projection, so a plan branch may evaluate a kernel more than once
    * per row; the kernels are cheap enough that this is accepted.
    */
  def textRows(docs: DataFrame, id: Column, text: Column, bands: Int, rowsPerBand: Int): DataFrame =
    docs
      .select(id.as("id"),
        SqlBridge.column(ShingleHashSet(SqlBridge.expression(text), 3)).as("hs"),
        SqlBridge.column(ShingleBandHashes(
          SqlBridge.expression(text), 3, bands, rowsPerBand)).as("bhs"))
      .filter(size(col("hs")) > 0)

  /** (id, carry…, band, bh) band rows of [[textRows]]. */
  def textBands(rows: DataFrame, carry: String*): DataFrame =
    rows.select((col("id") +: carry.map(col)) :+
      posexplode(col("bhs")).as(Seq("band", "bh")): _*)

  /** (outId, h): one row per distinct hashed n-shingle of each document. */
  def shingleHashRows(df: DataFrame, id: Column, text: Column, n: Int, outId: String): DataFrame =
    df.select(id.as(outId), SqlBridge.column(ShingleHashSet(SqlBridge.expression(text), n)).as("hs"))
      .select(col(outId), explode(col("hs")).as("h"))

  /** Banded slicing of a 64-bit hash into `bands` equal slices. Two hashes
    * within Hamming distance `maxDist < bands` agree on at least one full
    * slice (pigeonhole), so the slice equi-join is a complete candidate
    * generator; both requirements are checked on construction.
    */
  final case class HammingBands(bands: Int, maxDist: Int) {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxDist < bands,
      s"pigeonhole completeness needs maxDist < bands, got maxDist=$maxDist bands=$bands")

    /** (id, band, bh) slice rows of `hashed` (id, `hashCol` long). */
    def rows(hashed: DataFrame, hashCol: String): DataFrame = {
      val bandW = 64 / bands
      val mask = if (bandW == 64) -1L else (1L << bandW) - 1L
      hashed.select(
        col("id"),
        posexplode(array((0 until bands).map { b =>
          shiftrightunsigned(col(hashCol), b * bandW).bitwiseAND(lit(mask))
        }: _*)).as(Seq("band", "bh")))
    }

    /** (a, b, hamming) of the candidates within `maxDist`, each side's
      * hash resolved by id from `sides` (id, `hashCol`).
      */
    def verify(candidates: DataFrame, a: String, b: String, sides: DataFrame,
        hashCol: String): DataFrame =
      Lsh.verify(candidates, a, b, sides, sides, hashCol, "__h_", "hamming",
        bit_count(col("__h_a").bitwiseXOR(col("__h_b"))).cast("long"), _ <= maxDist)
  }

  /** (a, b, jaccard) of the candidates whose exact hashed-shingle Jaccard
    * reaches `threshold`; a's set resolves from `sideA` (id, hs), b's from
    * `sideB`.
    */
  def verifyJaccard(candidates: DataFrame, a: String, b: String, sideA: DataFrame,
      sideB: DataFrame, threshold: Double): DataFrame =
    verify(candidates, a, b, sideA, sideB, "hs", "hs_", "jaccard",
      Dedup.hashedJaccard(col("hs_a"), col("hs_b")), _ >= threshold)

  /** Joins each candidate side's `value` by id (as `<tag>a` / `<tag>b`;
    * the joins shuffle on id, never on pair count), scores the pair as
    * `name`, keeps it when `keep` holds.
    */
  private def verify(candidates: DataFrame, a: String, b: String, sideA: DataFrame,
      sideB: DataFrame, value: String, tag: String, name: String, score: Column,
      keep: Column => Column): DataFrame =
    candidates
      .join(sideA.select(col("id").as(a), col(value).as(tag + "a")), Seq(a))
      .join(sideB.select(col("id").as(b), col(value).as(tag + "b")), Seq(b))
      .withColumn(name, score)
      .filter(keep(col(name)))
      .select(col(a), col(b), col(name))

  /** `rows` (id, band, bh) tagged with their bucket's size `__n` and
    * min-id representative `__min_id`: one window pass, shuffled on the
    * (band, bh) key the bucket join needs anyway.
    */
  private def sized(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy("band", "bh")
    rows
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__min_id", min("id").over(w))
  }

  private def withinCap(sized: DataFrame, maxBucketSize: Int): DataFrame =
    sized.filter(col("__n") <= maxBucketSize).select("id", "band", "bh")

  /** A sink's `fresh` band rows plus its `accumulated` rows in the
    * buckets the fresh rows touch (semi-filtered on the bucket key), the
    * `rows` of a [[candidates]] call with `fresh`.
    */
  def bucketMates(fresh: DataFrame, accumulated: Option[DataFrame]): DataFrame =
    fresh.unionByName(accumulated.fold(fresh.filter(lit(false)))(
      _.join(fresh.select("band", "bh").distinct(), Seq("band", "bh"), "left_semi")))

  /** The skew-guarded candidate pairs (a < b) of (id, band, bh) `rows`.
    *
    * `fresh` is a sink's own batch rows, a subset of `rows` when `rows`
    * also holds its accumulated state ([[bucketMates]]): a pair then
    * needs at least one fresh member (older pairs were emitted when their
    * younger member arrived), and only fresh members star-pair with an
    * oversized bucket's representative.
    */
  def candidates(rows: DataFrame, maxBucketSize: Int, a: String, b: String,
      fresh: Option[DataFrame] = None): DataFrame = {
    def ofFresh(df: DataFrame) =
      fresh.fold(df)(f => df.join(f, Seq("id", "band", "bh"), "left_semi"))
    def pairs(l: DataFrame, r: DataFrame) = {
      val joined = l.alias("l").join(r.alias("r"), Seq("band", "bh"))
      // a self-join meets each pair both ways; a fresh probe meets a
      // (fresh, old) pair once, in either order
      if (fresh.isEmpty)
        joined.filter(col("l.id") < col("r.id"))
          .select(col("l.id").as(a), col("r.id").as(b))
      else
        joined.filter(col("l.id") =!= col("r.id"))
          .select(least(col("l.id"), col("r.id")).as(a), greatest(col("l.id"), col("r.id")).as(b))
    }
    (if (maxBucketSize <= 0) pairs(fresh.getOrElse(rows), rows)
    else {
      val all = sized(rows)
      val small = withinCap(all, maxBucketSize)
      val star = ofFresh(all)
        .filter(col("__n") > maxBucketSize && col("id") =!= col("__min_id"))
        .select(col("__min_id").as(a), col("id").as(b))
      pairs(ofFresh(small), small).unionByName(star)
    }).dropDuplicates(a, b)
  }

  /** Bipartite candidate pairs (a = probe id, b = corpus id) of two band
    * row sets: within-side pairs are never generated, and only the corpus
    * side is sized — an oversized corpus bucket pairs each probe member
    * with its representative only, O(probe) instead of O(probe × bucket).
    * Self pairs (a re-delivered id) are dropped.
    */
  def bipartite(probe: DataFrame, corpus: DataFrame, maxBucketSize: Int, a: String,
      b: String): DataFrame = {
    def pairs(r: DataFrame, rid: Column) =
      probe.alias("l").join(r, Seq("band", "bh")).select(col("l.id").as(a), rid.as(b))
    (if (maxBucketSize <= 0) pairs(corpus.alias("r"), col("r.id"))
    else {
      val all = sized(corpus)
      // one representative row per oversized bucket
      val reps = all.filter(col("__n") > maxBucketSize)
        .select(col("band"), col("bh"), col("__min_id")).distinct()
      pairs(withinCap(all, maxBucketSize).alias("r"), col("r.id"))
        .unionByName(pairs(reps, col("__min_id")))
    }).filter(col(a) =!= col(b))
      .dropDuplicates(a, b)
  }
}
