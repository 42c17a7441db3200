package graft.dedup

import graft.functions.{HashedShingleSet, MinHashBandHashes, ShingleHashSet, SortedIntersectCount}
import graft.internal.SqlBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators (brief: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup).
  *
  * Every near-dup path is bucketed: candidates come from an equi-join on a
  * band/bucket key (shuffle on that key), never an all-pairs product. At
  * 100 TB the LSH band join is linear-ish in data size; the final verify
  * step touches only candidate pairs.
  */
object Dedup {

  /** Whitespace tokens of lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct token 3-gram shingles; short docs fall back to the whole text
    * as one shingle.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
    array_distinct(when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(grams))
  }

  /** Distinct sorted 64-bit hash set of a shingle array — per-doc precompute
    * so pair verification is an O(|A|+|B|) merge, not a per-pair string-set
    * build. Jaccard over these equals string-set Jaccard absent 64-bit
    * collisions (p < 1e-8 at billions of shingles).
    */
  def hashedShingleSet(sh: Column): Column =
    SqlBridge.column(HashedShingleSet(SqlBridge.expression(sh)))

  /** MinHash band hashes from a precomputed shingle-string array — the
    * compositional variant of the fused text kernel, for shingles produced
    * by non-text sources (same hash family: results match
    * `ShingleBandHashes` on `shingles(text)`).
    */
  def bandHashesFromShingles(sh: Column, bands: Int, rowsPerBand: Int): Column =
    SqlBridge.column(MinHashBandHashes(SqlBridge.expression(sh), bands, rowsPerBand))

  /** |A∩B| of two ascending-sorted long-array columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    SqlBridge.column(SortedIntersectCount(SqlBridge.expression(a), SqlBridge.expression(b)))

  /** Jaccard from hashed sets: |A∩B| / (|A|+|B|-|A∩B|), one merge pass. */
  def hashedJaccard(a: Column, b: Column): Column =
    SqlBridge.column(graft.functions.JaccardFromSortedSets(
      SqlBridge.expression(a), SqlBridge.expression(b)))

  /** Exact duplicate groups: shuffle on content digest, keep the minimum id
    * per group (SQL-expressible; map-side partial aggregation applies).
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: numHashes per-shingle xxhash64 minima, computed
    * shuffle-free inside the row (codegen'd higher-order functions).
    * Compositional/teaching surface — the HOF tree evaluates the shingle
    * expression once per hash index, so hot paths should use the fused
    * single-pass kernels instead ([[bandHashesFromShingles]] /
    * `ShingleBandHashes`, what [[minhashLshPairs]] uses).
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 64): Column =
    array((0 until numHashes).map { h =>
      array_min(transform(shinglesCol, s => xxhash64(s, lit(h))))
    }: _*)

  /** LSH banding: (band, bandHash) rows per doc. numHashes = bands·rowsPerBand. */
  private def bandStructs(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(lit(b) +: rows: _*).as("bh"))
    }: _*)

  /** Near-duplicate pairs via MinHash+LSH banding with an exact Jaccard
    * verify on the candidate set.
    *
    * Plan shape (scale-first):
    *  1. per-row shingles + signature (no shuffle),
    *  2. explode bands → shuffle on (band, bandHash) equi-join → candidate
    *     id pairs (dropDuplicates),
    *  3. re-join shingle sets by id (shuffles on id, not on pair count),
    *  4. exact Jaccard filter ≥ threshold.
    *
    * Skew guard (on by default): a band bucket larger than `maxBucketSize`
    * — a boilerplate band shared by millions of docs is a C(n,2) bomb at
    * 100 TB — switches from all-pairs to STAR pairing against the bucket's
    * min-id representative: n−1 candidates instead of n(n−1)/2. Star pairs
    * still pass through the exact-Jaccard ≥ threshold verify, so members
    * similar enough to the representative connect to the cluster (and
    * transitive closure downstream recovers the groups); a member whose
    * similarity to the representative is below threshold loses its
    * connection in that bucket even when it is a true near-dup of another
    * member — the price of defusing the C(n,2) bomb. Buckets at or under
    * the cap keep exact all-pairs semantics, so results on
    * non-pathological data are unchanged. `maxBucketSize <= 0` disables
    * the guard.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucketSize: Int = 4096): DataFrame = {
    val rows = Lsh.textRows(docs, col(idCol), col(textCol), bands,
      Lsh.rowsPerBand(numHashes, bands))
    Lsh.verifyJaccard(Lsh.candidates(Lsh.textBands(rows), maxBucketSize, "doc_a", "doc_b"),
      "doc_a", "doc_b", rows, rows, threshold)
  }

  /** INCREMENTAL near-dup: MinHash-LSH pairs BETWEEN a new batch and an
    * existing corpus — the monthly-recrawl / continuous-ingest shape
    * (dedup the arriving slice against everything already kept, without
    * re-pairing the corpus against itself). Same kernels, banding,
    * exact-Jaccard verify, and completeness profile as
    * [[minhashLshPairs]]; the candidate join is BIPARTITE on the (band,
    * hash) key, so within-batch and within-corpus pairs are never
    * generated — at 100 TB the corpus side is the big fixed relation and
    * the batch side is the small probe, and only same-bucket rows meet.
    *
    * Skew guard (bipartite form of the star-pair cap): a (band, hash)
    * bucket whose CORPUS side exceeds `maxBucketSize` pairs each new doc
    * with the bucket's min-id corpus representative only — boilerplate
    * buckets cost O(new) instead of O(new × bucket), with the same
    * documented recall trade as the self-join guard.
    *
    * Output: (new_id, corpus_id, jaccard). Rows where new_id == corpus_id
    * are dropped (a re-delivered identical document is not a duplicate of
    * itself).
    */
  def minhashLshPairsAgainst(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucketSize: Int = 4096): DataFrame = {
    val rowsPerBand = Lsh.rowsPerBand(numHashes, bands)
    val newRows = Lsh.textRows(newDocs, col(idCol), col(textCol), bands, rowsPerBand)
    val corpusRows = Lsh.textRows(corpus, col(idCol), col(textCol), bands, rowsPerBand)
    val candidates = Lsh.bipartite(Lsh.textBands(newRows), Lsh.textBands(corpusRows),
      maxBucketSize, "new_id", "corpus_id")
    Lsh.verifyJaccard(candidates, "new_id", "corpus_id", newRows, corpusRows, threshold)
  }

  /** Edit-distance-verified near-duplicate pairs — the two-stage fuzzy
    * dedup production code pipelines run (MinHash prefilter + exact
    * edit-similarity verify, as in CodeParrot/AlphaCode-style code dedup):
    * stage 1 is [[minhashLshPairs]] at `jaccardFloor` (banded LSH
    * candidates, exact hashed-shingle Jaccard gate — same completeness
    * profile as that operator); stage 2 joins the candidate pairs' texts
    * back by id (only candidate docs ship text — the corpus never
    * self-joins) and keeps pairs with
    * `1 - levenshtein(a, b) / max(len(a), len(b)) >= minEditSim`.
    *
    * The contract is therefore "exact shingle-Jaccard >= jaccardFloor AND
    * edit similarity >= minEditSim": the Jaccard floor is part of the
    * semantics (it is what makes the candidate stage bucketed instead of
    * all-pairs — no complete LSH family exists for raw edit distance),
    * and the Levenshtein gate is computed EXACTLY, only ever on the
    * bounded candidate set (O(len_a x len_b) per pair is affordable there
    * and nowhere else). `levenshtein` is Spark's codegen'd codepoint DP —
    * note byte-based engines (DuckDB) agree only on ASCII text.
    *
    * Scale shape: minhashLshPairs' band equi-join + two id equi-joins
    * carrying text for candidate ids only; no new shuffle classes.
    */
  def editVerifiedPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      jaccardFloor: Double = 0.8,
      minEditSim: Double = 0.9,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 4096): DataFrame = {
    require(minEditSim > 0.0 && minEditSim <= 1.0,
      s"minEditSim must be in (0, 1], got $minEditSim")
    val pairs = minhashLshPairs(
      docs, idCol, textCol, numHashes, bands, jaccardFloor, maxBucketSize)
    val texts = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
    pairs
      .join(texts.select(col("id").as("doc_a"), col("__t").as("__ta")), Seq("doc_a"))
      .join(texts.select(col("id").as("doc_b"), col("__t").as("__tb")), Seq("doc_b"))
      // exact length-ratio prune BEFORE the quadratic DP: lev >= |lenA -
      // lenB|, so edit_sim >= tau requires min_len >= tau * max_len — a
      // pair failing that is cut by arithmetic the DP would only confirm
      .filter(least(length(col("__ta")), length(col("__tb"))).cast("double") >=
        lit(minEditSim) * greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
      .withColumn("edit_sim",
        lit(1.0) - levenshtein(col("__ta"), col("__tb")).cast("double") /
          greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
      .filter(col("edit_sim") >= minEditSim)
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("edit_sim"))
  }

  /** Exact n-gram Jaccard similarity over a bounded candidate generator
    * (same-`bucketCol` pairs). The bucket join bounds pair growth; an
    * unrestricted cartesian would be rejected at scale.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      bucketCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.0): DataFrame = {
    val d = docs.select(col(bucketCol).as("bucket"), col(idCol).as("id"),
      SqlBridge.column(ShingleHashSet(SqlBridge.expression(col(textCol)), 3)).as("hs"))
    d.alias("l").join(d.alias("r"), Seq("bucket"))
      .filter(col("l.id") < col("r.id"))
      .select(
        col("l.id").as("doc_a"), col("r.id").as("doc_b"),
        hashedJaccard(col("l.hs"), col("r.hs")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[ngramJaccardPairs]] as a grouped per-bucket pass: one shuffle on the
    * bucket key, then pair generation + merge Jaccard over primitive arrays
    * inside `flatMapGroups` — each doc's hash set crosses the wire and is
    * decoded ONCE, where the self-join formulation pays sort-merge row
    * copies per candidate pair (measured 3.4× faster at sf0.1). The trade:
    * parallelism is capped at the bucket count and each bucket must fit an
    * executor — right when buckets are many and small (candidate groups),
    * wrong for few huge buckets, where the join distributes the quadratic
    * pair work across the cluster. Identical output: same shingle kernel,
    * same merge arithmetic.
    */
  def ngramJaccardPairsGrouped(
      docs: DataFrame,
      bucketCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      // null bucket keys never join in the SQL formulation — match that
      .filter(col(bucketCol).isNotNull)
      .select(col(bucketCol).cast("string").as("bucket"), col(idCol).cast("long").as("id"),
        SqlBridge.column(ShingleHashSet(SqlBridge.expression(col(textCol)), 3)).as("hs"))
      .as[(String, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (_, iter) =>
        val items = iter.map { case (_, id, hs) => (id, hs) }.toArray.sortBy(_._1)
        items.indices.iterator.flatMap { i =>
          val (ida, ha) = items(i)
          (i + 1 until items.length).iterator.flatMap { j =>
            val (idb, hb) = items(j)
            // strict < (not index order): duplicate ids must not self-pair,
            // matching the join formulation's l.id < r.id
            if (ida >= idb) Iterator.empty
            else {
              var x = 0; var y = 0; var icnt = 0L
              while (x < ha.length && y < hb.length) {
                if (ha(x) == hb(y)) { icnt += 1; x += 1; y += 1 }
                else if (ha(x) < hb(y)) x += 1
                else y += 1
              }
              val union = ha.length.toLong + hb.length.toLong - icnt
              val jacc = if (union == 0) 0.0 else icnt.toDouble / union
              if (jacc >= minJaccard) Iterator.single((ida, idb, jacc)) else Iterator.empty
            }
          }
        }
      }
      .toDF("doc_a", "doc_b", "jaccard")
  }

  /** Plan choice for [[ngramJaccardPairsAdaptive]], from bucket statistics.
    * The grouped pass wins when buckets are small (a bucket's hash sets
    * fit one task and its pair loop stays short) and numerous enough to
    * occupy the cluster; the join formulation wins for few/huge buckets,
    * where it distributes the quadratic pair work across the cluster
    * instead of serializing it inside one task per bucket. The bucket
    * floor is HALF the parallelism, not full: the join pays sort-merge
    * row copies per candidate pair, so moderately under-parallel grouped
    * execution still beats it (20 buckets on 32 cores measured 1.4-3×
    * faster grouped at sf0.1).
    */
  private[graft] def chooseNgramPlan(
      nBuckets: Long,
      maxBucketSize: Long,
      parallelism: Int,
      maxGroupedBucket: Int): String =
    if (maxBucketSize <= maxGroupedBucket && nBuckets * 2 >= parallelism) "grouped" else "join"

  /** [[ngramJaccardPairs]] with the physical formulation chosen from the
    * data: one cheap count-only pass over the bucket key (no shingle work)
    * collects (bucket count, max bucket size), then dispatches to the
    * grouped per-bucket pass (measured 3.4× faster in the many-small-
    * buckets regime) or the self-join (safe for few/huge buckets).
    * Output is identical either way — same kernel, same merge arithmetic.
    */
  def ngramJaccardPairsAdaptive(
      docs: DataFrame,
      bucketCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.0,
      maxGroupedBucket: Int = 4096): DataFrame = {
    val stats = docs.filter(col(bucketCol).isNotNull)
      .groupBy(col(bucketCol)).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("buckets"), max("n").as("max_n"))
      .head()
    val nBuckets = stats.getLong(0)
    val maxN = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val par = docs.sparkSession.sparkContext.defaultParallelism
    chooseNgramPlan(nBuckets, maxN, par, maxGroupedBucket) match {
      case "grouped" => ngramJaccardPairsGrouped(docs, bucketCol, idCol, textCol, minJaccard)
      case _ => ngramJaccardPairs(docs, bucketCol, idCol, textCol, minJaccard)
    }
  }

  /** Near-dup GROUP resolution: transitive closure of an undirected pair
    * set → (id, group_id) with group_id = the minimum id in the connected
    * component. Pairs are what every near-dup path emits
    * ([[minhashLshPairs]], [[ngramJaccardPairsAdaptive]],
    * [[embeddingNearDupPairs]]); a curation pipeline needs clusters —
    * keep-one-per-group is `filter(id =!= group_id)` on this output.
    *
    * Iterative min-label propagation: each round every node adopts the
    * minimum label among itself and its neighbors — one shuffle on id per
    * round, converging in O(graph diameter) rounds. Near-dup components
    * are quasi-cliques from band buckets (diameter 2-3 even through star
    * pairing, whose representative is a hub), so the round count stays
    * small where it matters. From round `shortcutAfter` on, each round
    * ALSO shortcuts through the label table itself (pointer doubling:
    * label := label(label), the large-star/small-star round-complexity
    * class) — chain components then converge in O(log diameter) rounds
    * instead of one hop per round, so a pathological near-dup "drift"
    * chain in scraped data cannot exhaust `maxIter` (10k-node paths
    * converge in ~18 rounds; 100 rounds bounds diameters beyond any
    * physical corpus). The first rounds stay shortcut-free because the
    * LSH common case converges there already — the extra id-keyed join
    * would double its cost for nothing. Exhausting `maxIter` THROWS: a
    * partially-propagated labeling silently splits components, which a
    * curation pipeline would act on. Labels only ever decrease, so
    * convergence is detected by the (cheap, aggregate-only) sum of
    * labels going stationary — no old-vs-new join. Each round's result
    * is persisted, the previous round's blocks freed, and lineage is
    * truncated per round (lazy localCheckpoint) so plan depth stays
    * constant.
    *
    * Only ids that appear in `pairs` are returned (singletons are their
    * own group by definition — union them in if needed).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 100,
      shortcutAfter: Int = 4): DataFrame = {
    // symmetrize in ONE pass over `pairs` (a union of two selects would
    // evaluate the upstream pair plan — often a whole LSH pipeline —
    // twice before this cache materializes)
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist()

    // round 0 fused into initialization: label(v) = min(v, neighbors(v)) —
    // one groupBy over the edge list (plus implicit self via least), so a
    // clique converges after ONE verification round. Lazy localCheckpoint:
    // the sum action below materializes the round AND truncates lineage in
    // the same job (an eager checkpoint would cost a separate one).
    var labels = edges
      .groupBy(col("src").as("id")).agg(min("dst").as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label"))
      .localCheckpoint(false)
    // coalesce: sum over an EMPTY label set is null (a corpus with no
    // near-dup pairs is the common clean case, not an error). The sum runs
    // in decimal(38,0): ids may be full-range 60-bit hashes (host graphs
    // key components by the md5 id idiom), whose long sum overflows —
    // exact decimal keeps the stationarity test exact at any id magnitude
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var lastSum = labelSum(labels)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val prop = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      val propagated = labels.unionByName(prop)
        .groupBy("id").agg(min("label").as("label"))
      // pointer doubling past the quasi-clique rounds: a label value is
      // always a node id present in the label table (it is the min of ids
      // seen so far), so following one extra hop through the table halves
      // the remaining chain depth every round — O(log diameter) total.
      // Monotone (label(x) <= x), so the stationary-sum convergence test
      // and the fixpoint ( = the true component labeling) are unchanged.
      val next = (if (it < shortcutAfter) propagated
        else {
          val parents = propagated.select(col("id").as("label"), col("label").as("plabel"))
          propagated.join(parents, Seq("label"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
        })
        .localCheckpoint(false)
      val nextSum = labelSum(next) // action: materializes next's checkpoint
      labels.unpersist() // previous round's blocks are dead weight now
      converged = nextSum.compareTo(lastSum) == 0
      lastSum = nextSum
      labels = next
      it += 1
    }
    edges.unpersist()
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds — a component's diameter " +
        s"exceeds the bound; raise maxIter (a truncated labeling would silently split groups)")
    labels.select(col("id"), col("label").as("group_id"))
  }

  /** Quality-aware representative selection over resolved near-dup
    * groups: join [[connectedComponents]] output with a per-doc score and
    * mark the HIGHEST-scoring member of each group as the keeper
    * (`keep = 1`; ties broken by lowest id, so the choice is a pure
    * function of the inputs). Real curation keeps the best member of a
    * duplicate cluster — longest, cleanest, highest LM score — not the
    * arbitrary minimum id; feed any scorer
    * ([[graft.text.TextAnalysis.qualitySignals]], token counts, DSIR
    * weights). Scores must cover every grouped id, and that contract is
    * ENFORCED: the join is a left join that raises on a null score — an
    * inner join would let an unscored member silently vanish from the
    * output (neither keeper nor drop, so a composed curation pipeline
    * would retain a near-duplicate uncut). Singletons never appear in
    * `groups` (they are their own keepers by definition).
    *
    * One window over group_id: groups are near-dup clusters — bounded by
    * the LSH skew guard's star capping, never corpus-sized — so no
    * partition sees more than the largest cluster.
    *
    * Returns (idCol, groupIdCol, scoreCol, keep).
    */
  def keepBestPerGroup(
      groups: DataFrame,
      scores: DataFrame,
      idCol: String = "id",
      groupIdCol: String = "group_id",
      scoreCol: String = "score"): DataFrame = {
    val w = Window.partitionBy(groupIdCol)
      .orderBy(col(scoreCol).desc, col(idCol))
    groups.join(scores.select(col(idCol), col(scoreCol)), Seq(idCol), "left")
      .withColumn(scoreCol, when(col(scoreCol).isNull,
          raise_error(concat(
            lit(s"keepBestPerGroup: no score in '$scoreCol' for grouped id "),
            col(idCol).cast("string"),
            lit(" — scores must cover every grouped id or keep decisions would skew"))))
        .otherwise(col(scoreCol)))
      .withColumn("keep", when(row_number().over(w) === 1, 1L).otherwise(0L))
  }

  /** Benchmark decontamination: flag training documents sharing at least
    * `minShared` distinct contiguous token `n`-gram shingles with any
    * benchmark document — the standard pre-training hygiene step (a doc
    * that quotes an eval item must not be trained on). Returns
    * (doc_id, bench_id, n_shared) per contaminated pair. The default
    * (n=3, minShared high) measures diffuse overlap; the standard
    * exact-quote criterion is a single contiguous 13-gram match —
    * `n = 13, minShared = 1` — since any shared 13-token contiguous run
    * IS a shared 13-token shingle.
    *
    * Scale shape: the BENCHMARK side is small by nature (eval suites,
    * not corpora) — its exploded shingle hashes broadcast, the corpus
    * side streams once through a broadcast hash join, and the count
    * aggregates map-side per (doc, bench) pair. The 100 TB corpus never
    * shuffles; no pair blowup is possible beyond true shingle matches.
    */
  def contaminationPairs(
      docs: DataFrame,
      benchmark: DataFrame,
      minShared: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text",
      n: Int = 3): DataFrame = {
    def exploded(df: DataFrame, id: String, text: String, outId: String) =
      Lsh.shingleHashRows(df, col(id), col(text), n, outId)
    exploded(docs, idCol, textCol, "doc_id")
      .join(broadcast(exploded(benchmark, benchIdCol, benchTextCol, "bench_id")), Seq("h"))
      .groupBy("doc_id", "bench_id")
      // hs is a distinct set per doc, so plain count = |intersection|
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[contaminationPairs]] with a Bloom-filter pre-gate on the corpus
    * side — the 100 TB configuration when the benchmark suite is large.
    *
    * The exact formulation broadcasts the benchmark's full shingle-hash
    * set and probes a hash map per corpus shingle. At ~10 bits/element
    * (1% fpp) a Bloom filter is ~6x smaller than the 64-bit hash set it
    * summarizes and a membership probe is a few cache-friendly bit reads,
    * so the first gate — which 99.9%+ of a clean corpus's shingles fail —
    * costs nanoseconds and near-zero broadcast memory. Only surviving
    * shingles (true matches + fpp stragglers) reach the exact
    * benchmark-side join, which REMOVES the false positives: the output
    * is exactly [[contaminationPairs]]'s, the Bloom stage only prunes.
    * Because survivors are few, that join could even shuffle instead of
    * broadcast for benchmark sets too big to broadcast at all.
    *
    * The probe is the native [[graft.functions.BloomMightContainLong]]
    * expression: it carries the BROADCAST HANDLE (a few-byte id in the
    * plan tree — never the multi-MB filter as a literal), resolves the
    * filter once per operator instance, and probes inside the
    * surrounding whole-stage-codegen span.
    */
  def contaminationPairsBloom(
      docs: DataFrame,
      benchmark: DataFrame,
      minShared: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text",
      n: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    def exploded(df: DataFrame, id: String, text: String, outId: String) =
      Lsh.shingleHashRows(df, col(id), col(text), n, outId)
    // benchmark shingles feed two consumers (bloom build + exact verify);
    // benchmark-suite-sized, so caching is cheap and saves a re-shingle
    val bench = exploded(benchmark, benchIdCol, benchTextCol, "bench_id").cache()
    val expected = math.max(1L, bench.select(col("h")).distinct().count())
    val bloom = bench.stat.bloomFilter("h", expected, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    exploded(docs, idCol, textCol, "doc_id")
      .filter(SqlBridge.column(graft.functions.BloomMightContainLong(
        SqlBridge.expression(col("h")), bc)))
      .join(broadcast(bench), Seq("h"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-benchmark-document contamination RATE: the fraction of each
    * eval document's distinct n-gram shingles that appear ANYWHERE in
    * the training corpus — the audit number contamination reports
    * publish (the GPT-3 appendix-C "percent of eval n-grams seen in
    * training" shape), complementing [[contaminationPairs]] /
    * [[contaminationSpans]], which identify and cut the matching TRAIN
    * side. Returns one row per benchmark document:
    * (bench_id, n_shingles, n_matched, rate); a bench doc shorter than
    * n tokens contributes its whole-text fallback shingle (the shingle
    * kernels' documented short-doc rule).
    *
    * Scale shape: the benchmark's distinct shingle hashes broadcast onto
    * the corpus scan (the [[contaminationPairs]] gate — the corpus
    * streams once and never shuffles unfiltered); the distinct MATCHED
    * hash set is bounded by the benchmark's own shingle count, never the
    * corpus (map-side partial-agg dedups occurrences before the
    * shuffle), and broadcasts back onto the benchmark explode for the
    * per-doc rate aggregate.
    */
  def contaminationRate(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 13,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text"): DataFrame = {
    def exploded(df: DataFrame, id: String, text: String, outId: String) =
      Lsh.shingleHashRows(df, col(id), col(text), n, outId)
    val benchSh = exploded(benchmark, benchIdCol, benchTextCol, "bench_id")
    // hashes of bench shingles that occur anywhere in the corpus —
    // distinct'd (partial agg kills per-occurrence rows map-side), so the
    // result is ≤ the benchmark's shingle count regardless of corpus size
    val matched = exploded(docs, idCol, textCol, "__cd")
      .join(broadcast(benchSh.select("h").distinct()), Seq("h"))
      .select("h").distinct()
      .withColumn("__m", lit(1L))
    val perDoc = benchSh
      .join(broadcast(matched), Seq("h"), "left")
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__m"), lit(0L))).as("n_matched"))
    benchmark.select(col(benchIdCol).as("bench_id"))
      .join(perDoc, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("rate", when(col("n_shingles") === 0, lit(0.0))
        .otherwise(col("n_matched").cast("double") / col("n_shingles")))
  }

  /** Span-level EXACT substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": remove token spans
    * that occur verbatim more than once in the corpus — their ExactSubstr
    * criterion at 50 tokens, here n-parameterized). Returns one row per
    * duplicated span occurrence: (doc_id, pos, n_occurrences) where pos
    * is the 0-based token index of an n-gram whose corpus-wide
    * occurrence count (INCLUDING within-document repeats — boilerplate
    * loops count) is at least `minOccurrences`. Downstream curation cuts
    * those spans, not whole documents — the point of span-level dedup.
    *
    * The published implementation builds a corpus suffix array; the
    * Spark-first equivalent is positional n-gram hashing: one narrow
    * kernel pass emits each doc's ordered span hashes
    * ([[graft.functions.ShingleHashes]]), the occurrence count is one
    * hash-keyed partial-agg shuffle, and flagged spans join back on the
    * hash. At 100 TB: rows shuffled = token count, keys are 64-bit
    * hashes (collision odds the same bet every hashed-dedup path here
    * takes), no suffix array, no global sort.
    *
    * Docs shorter than n tokens hash as one whole-text span at pos 0
    * (the shingle kernels' documented short-doc fallback) — two copies
    * of a short doc still flag each other.
    */
  def duplicateSpans(
      docs: DataFrame,
      n: Int = 50,
      minOccurrences: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
        posexplode(SqlBridge.column(graft.functions.ShingleHashes(
          SqlBridge.expression(col(textCol)), n))).as(Seq("pos", "h")))
    val dups = grams.groupBy("h")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minOccurrences)
    grams.join(dups, Seq("h"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("n_occurrences"))
  }

  /** [[duplicateSpans]] APPLIED: rebuild each document with every token
    * covered by a duplicated span removed — the operator curation
    * actually runs (Lee et al. cut the spans, not the documents; a doc
    * sharing one boilerplate paragraph with a thousand others is still
    * mostly unique signal). Returns (doc_id, clean_text) for EVERY input
    * doc; untouched docs pass through.
    *
    * Operates on the normalized token stream (lowercased,
    * whitespace-split — the same stream the spans were computed on), so
    * `clean_text` is space-joined normalized tokens, not original bytes.
    * A doc shorter than n tokens that duplicates another hashes as one
    * whole-text span and cleans to the empty string — the two copies ARE
    * the duplicated span.
    *
    * Scale shape: [[duplicateSpans]]'s two shuffles, plus one per-doc
    * position-list aggregation (bounded by doc length) and a left join
    * back to the corpus on doc_id; the rebuild itself is a narrow
    * projection.
    */
  def removeDuplicateSpans(
      docs: DataFrame,
      n: Int = 50,
      minOccurrences: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val flagged = duplicateSpans(docs, n, minOccurrences, idCol, textCol)
      .groupBy("doc_id").agg(collect_list(col("pos")).as("ps"))
      .select(col("doc_id"),
        flatten(transform(col("ps"), p => sequence(p, p + lit(n - 1)))).as("covered"))
    cutCovered(docs, flagged, idCol, textCol)
  }

  /** [[removeDuplicateSpans]] with Lee et al. 2022's KEEP-ONE semantics:
    * for every duplicated n-gram, the lexicographically-first occurrence
    * (min (doc_id, pos)) is the CANONICAL copy and survives; only the
    * other occurrences' tokens are cut. The cut-all form above is the
    * boilerplate-removal configuration (a nav header repeated on every
    * page carries no signal anywhere); this is the corpus-dedup
    * configuration — the paper removes a duplicated passage from all but
    * one document, so the corpus still contains the text once. A token
    * survives iff no NON-canonical flagged occurrence covers it.
    * Deterministic: the canonical choice is a pure function of
    * (doc_id, pos), independent of partitioning.
    *
    * Scale shape: identical to [[removeDuplicateSpans]] except the
    * per-hash aggregation also carries min(struct(doc_id, pos)) — same
    * two shuffles, partial aggregation intact, and the join back to
    * occurrences filters canonicals with a row-local comparison.
    *
    * Returns (doc_id, clean_text) for every input doc.
    */
  def removeDuplicateSpansKeepFirst(
      docs: DataFrame,
      n: Int = 50,
      minOccurrences: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // the caller's id type is PRESERVED (min(struct) orders any orderable
    // type) — a cast("long") here would turn string doc ids into nulls,
    // the join back would never match, and every document would silently
    // pass through uncut
    val grams = docs.select(col(idCol).as("doc_id"),
      posexplode(SqlBridge.column(graft.functions.ShingleHashes(
        SqlBridge.expression(col(textCol)), n))).as(Seq("pos", "h")))
    val stats = grams.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("n_occ") >= minOccurrences)
      .select(col("h"), col("first"))
    val flagged = grams.join(stats, Seq("h"))
      .filter(col("doc_id") =!= col("first.doc_id") ||
        col("pos") =!= col("first.pos"))
      .groupBy("doc_id").agg(collect_list(col("pos")).as("ps"))
      .select(col("doc_id"),
        flatten(transform(col("ps"),
          p => sequence(p.cast("long"), p.cast("long") + lit(n - 1)))).as("covered"))
    cutCovered(docs, flagged, idCol, textCol)
  }

  /** (doc_id, covered positions) → (doc_id, clean_text): rebuild each
    * document from the tokens whose positions survive the mask; docs with
    * no mask pass through as the normalized token stream.
    *
    * The covered-position set materializes ONCE per doc (array_except is
    * a hash-set pass, O(len + |covered|)); a filter-lambda formulation
    * that references the covered expression re-evaluates it PER TOKEN —
    * O(len·|covered|) and measured 4× slower on fully-covered docs.
    */
  private def cutCovered(docs: DataFrame, covered: DataFrame,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("covered").isNull, concat_ws(" ", col("toks")))
          // degenerate: zero tokens (sequence(0,-1) would run DOWNWARD)
          .when(size(col("toks")) === 0, lit(""))
          .otherwise(concat_ws(" ",
            transform(
              array_except(sequence(lit(0L), size(col("toks")).cast("long") - 1), col("covered")),
              i => element_at(col("toks"), i.cast("int") + 1))))
          .as("clean_text"))

  /** [[duplicateSpans]] merged into MAXIMAL duplicated regions — the
    * variable-length span reporting of a suffix-array ExactSubstr
    * (Lee et al. 2022) without the suffix array: a verbatim-repeated run
    * of L ≥ n tokens flags every n-gram window inside it, so its flagged
    * anchor positions are consecutive and merging anchors whose coverage
    * overlaps or abuts (pos ≤ prev + n) reconstructs the region's exact
    * bounds — [start, start + L). Returns one row per maximal region:
    * (doc_id, span_start, span_end, n_anchors) with `span_end` EXCLUSIVE,
    * capped at the document's token count (a doc shorter than n tokens
    * hashes as one whole-text span whose nominal n-token coverage
    * overshoots the doc).
    *
    * Two adjacent regions duplicated against DIFFERENT partners merge if
    * they overlap or abut — the output is the maximal runs of
    * duplicate-covered TOKENS (what curation cuts), not per-partner match
    * spans (what [[contaminationPairs]] reports pairwise).
    *
    * Scale shape: [[duplicateSpans]]'s two shuffles, one doc-keyed window
    * pass over the FLAGGED anchors only (gaps-and-islands: running sum of
    * break flags — no self-join), and a doc-keyed join of the aggregated
    * regions against a narrow (doc_id, token-count) projection for the
    * end cap. Everything after the flagging step is bounded by the
    * flagged-anchor count, not the corpus.
    */
  def maximalDuplicateSpans(
      docs: DataFrame,
      n: Int = 50,
      minOccurrences: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val islands = duplicateSpans(docs, n, minOccurrences, idCol, textCol)
      .withColumn("__prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("__brk",
        when(col("__prev").isNull, 0L)
          .otherwise((col("pos") > col("__prev") + n).cast("long")))
      .withColumn("__island", sum(col("__brk")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("__nominal_end"),
        count(lit(1)).as("n_anchors"))
    val lens = docs.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("__len"))
    islands.join(lens, Seq("doc_id"))
      .select(col("doc_id"), col("span_start"),
        least(col("__nominal_end"), col("__len")).as("span_end"),
        col("n_anchors"))
  }

  /** CROSS-DOCUMENT maximal shared spans — the pairwise two-stage
    * anchor-extend form of a suffix-array ExactSubstr (Lee et al. 2022):
    * for every ordered document pair (doc_a < doc_b), report each maximal
    * run of tokens the two share verbatim, with the exact positions in
    * BOTH documents — even when the run straddles the n-gram grid
    * differently in each (the within-document form,
    * [[maximalDuplicateSpans]], reports per-doc covered regions and
    * cannot say which partner, or where in the partner, the text came
    * from — the answer remediation audits and contamination forensics
    * need).
    *
    * Two stages. Stage 1 (candidate discovery): positional n-gram hashes
    * ([[graft.functions.ShingleHashes]]) — every position on one side,
    * every `stride`-th position on the other — equi-joined on the 64-bit
    * hash. Any shared run of length ≥ n + stride − 1 must contain a
    * stride-aligned n-window in the smaller doc (its valid-anchor
    * interval has length ≥ stride), so it is guaranteed to surface; the
    * strided side divides the join's shuffled rows by `stride`. Stage 2
    * (extension): anchors group per (pair) and a per-pair kernel walks
    * each diagonal (pa − pb), VERIFIES the anchor window token-by-token
    * (false hash-collision anchors are dropped — the output is exact
    * regardless of hash quality, unlike the within-doc counting forms
    * which accept the 64-bit collision bet), extends outward
    * token-by-token to the true span bounds (≤ `maxExtend` steps per
    * side per anchor), skips anchors the current span already covers,
    * and merges overlapping extensions. With maxExtend ≥ stride − 1 the
    * reported bounds are EXACT: a run's first in-run aligned anchor sits
    * ≤ stride − 1 tokens from the true start, consecutive in-run anchors
    * are stride ≤ n apart so their capped extensions chain, and
    * extension past a maximal run's edge stops at the mismatching token
    * by definition. The `span_len ≥ n + stride − 1` output filter keeps
    * exactly the guaranteed-detection set, so the result is deterministic
    * in the inputs (an alignment-lucky shorter run must not appear only
    * sometimes) — and a plain SQL oracle derives it independently from
    * raw text.
    *
    * Scale shape: one narrow kernel pass per side (tokens and tokens /
    * stride hash rows), ONE hash-keyed shuffle for the anchor join, then
    * ISLAND COMPRESSION before anything collects: matched anchors flow
    * through a sort-based window keyed by (pair, diagonal) — a spillable
    * operator — that folds each maximal run of stride-contiguous anchors
    * into one (diag, start, count) triple, so the per-pair collected
    * payload is O(distinct shared runs), not O(matched anchors). Two
    * near-identical 100k-token documents produce ~1 island per populated
    * diagonal instead of a 100k-element anchor list in a single
    * unspillable aggregation row; the kernel re-expands islands lazily
    * (an iterator, never materialized) and its walk is identical to the
    * raw-anchor walk position-for-position, so exactness is untouched.
    * The final doc-keyed join ships token arrays only for matched docs,
    * SLICED per (pair, side) to the islands' reach envelope
    * [min island start − maxExtend, max island end + n + maxExtend): a
    * doc matched in 1,000 pairs ships 1,000 envelopes — each bounded by
    * its shared runs — instead of 1,000 copies of its whole token array;
    * the kernel runs in envelope coordinates and offsets its output
    * back, and every boundary it can touch coincides with a cap the walk
    * enforces anyway (left/right reach ≤ maxExtend per anchor), so the
    * output is byte-identical to the unsliced form.
    * `maxAnchorFreq` is the skew
    * guard, ON BY DEFAULT (128) for this corpus×corpus form only: a hash
    * in f docs creates ~f² anchor-join pairs, so boilerplate n-grams
    * (license headers, nav chrome) blow up quadratically under an
    * unguarded default; they are [[duplicateLines]] /
    * [[removeDuplicateSpans]] material, not pairwise-span material. The
    * cost of the cap is stated, not silent: a passage spread across MORE
    * than maxAnchorFreq documents has all its anchors excised and its
    * pairs go unreported (extension still recovers runs with at least
    * one surviving rarer anchor) — if completeness against widespread
    * text is the point, that is a decontamination question and
    * [[contaminationSpans]] (corpus×benchmark, linear fan-out, EXACT
    * default) is the right operator. Pass `Int.MaxValue` to opt out on
    * corpora known clean. Docs shorter than n tokens never produce a
    * ≥ n-token span and are skipped by the window verification.
    *
    * Returns (doc_a, doc_b, a_start, a_end, b_start, b_end, span_len),
    * ends exclusive, token coordinates in the normalized (lowercased,
    * whitespace-split) stream all span operators here use.
    */
  def crossDocMaximalSpans(
      docs: DataFrame,
      n: Int = 50,
      stride: Int = 1,
      maxExtend: Int = 200,
      maxAnchorFreq: Int = 128,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(stride >= 1 && stride <= n,
      s"stride ($stride) must be in [1, n=$n] so in-run anchor windows chain")
    require(maxExtend >= stride - 1,
      s"maxExtend ($maxExtend) must be >= stride - 1 (${stride - 1}) for exact bounds")
    require(maxAnchorFreq >= 1, s"maxAnchorFreq must be >= 1, got $maxAnchorFreq")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("toks"))
    val grams = docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(SqlBridge.column(graft.functions.ShingleHashes(
        SqlBridge.expression(col(textCol)), n))).as(Seq("pos", "h")))
    val gramsGuarded =
      if (maxAnchorFreq == Int.MaxValue) grams
      else grams.join(
        grams.groupBy("h").agg(count(lit(1)).as("__f"))
          .filter(col("__f") <= maxAnchorFreq).select("h"),
        Seq("h"), "left_semi")
    val left = gramsGuarded.filter(col("pos") % stride === 0)
      .select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("h"))
    val right = gramsGuarded
      .select(col("doc_id").as("doc_b"), col("pos").as("pb"), col("h"))
    val pairs = anchorIslands(
      left.join(right, Seq("h")).filter(col("doc_a") < col("doc_b")),
      "doc_a", "doc_b", stride)
    sliceToEnvelopes(pairs,
      toks.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
      toks.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
      "doc_a", "doc_b", n, stride, maxExtend)
      .as[(Long, Long, Array[String], Array[String], Array[(Int, Int, Int)], Int, Int)]
      .flatMap { case (a, b, ta, tb, islands, aLo, bLo) =>
        val local = islands.map { case (diag, start, cnt) =>
          (diag - aLo + bLo, start - aLo, cnt)
        }
        extendIslands(ta, tb, local, n, stride, maxExtend).map { case (as0, ae, bs, be) =>
          (a, b, (as0 + aLo).toLong, (ae + aLo).toLong,
            (bs + bLo).toLong, (be + bLo).toLong, (ae - as0).toLong)
        }
      }
      .toDF("doc_a", "doc_b", "a_start", "a_end", "b_start", "b_end", "span_len")
      .filter(col("span_len") >= n + stride - 1)
  }

  /** Join a pair/islands table against per-doc token arrays and slice
    * each side to its islands' REACH ENVELOPE — the interval the
    * extension kernel can possibly touch: anchors span
    * [min start, max start + (cnt−1)·stride + n) and every left/right
    * walk is capped at `maxExtend` tokens per anchor, so
    * [min − maxExtend, max + maxExtend) clamped to the array bounds what
    * the walk can read. Shipping envelopes instead of whole arrays keeps
    * the per-pair join payload O(shared runs): a doc matched in 1,000
    * pairs no longer ships its full token array 1,000×. The slice
    * boundaries are only reachable exactly when the kernel's own
    * per-anchor `maxExtend` cap (or a real array edge, when the clamp
    * binds) stops the walk at the same step, so envelope-local execution
    * is position-for-position identical to the unsliced form.
    *
    * Returns (leftId, rightId, ta, tb, islands, __alo, __blo) with ta/tb
    * sliced and __alo/__blo the slice offsets the kernel must add back.
    */
  private def sliceToEnvelopes(
      pairs: DataFrame,     // (leftId, rightId, islands)
      leftToks: DataFrame,  // (leftId, ta)
      rightToks: DataFrame, // (rightId, tb)
      leftId: String, rightId: String, n: Int, stride: Int,
      maxExtend: Int): DataFrame =
    pairs
      .withColumn("__alo", greatest(lit(0),
        array_min(transform(col("islands"), i => i("_2"))) - maxExtend))
      .withColumn("__ahi", array_max(transform(col("islands"),
        i => i("_2") + (i("_3") - 1) * stride + lit(n))) + maxExtend)
      .withColumn("__blo", greatest(lit(0),
        array_min(transform(col("islands"), i => i("_2") - i("_1"))) - maxExtend))
      .withColumn("__bhi", array_max(transform(col("islands"),
        i => i("_2") + (i("_3") - 1) * stride + lit(n) - i("_1"))) + maxExtend)
      .join(leftToks, Seq(leftId))
      // slice the left side BEFORE the right-id shuffle: the sliced
      // array, not the whole doc, is what crosses the wire per pair
      .withColumn("ta", slice(col("ta"), col("__alo") + 1,
        greatest(lit(0), least(col("__ahi"), size(col("ta"))) - col("__alo"))))
      .join(rightToks, Seq(rightId))
      .withColumn("tb", slice(col("tb"), col("__blo") + 1,
        greatest(lit(0), least(col("__bhi"), size(col("tb"))) - col("__blo"))))
      .select(col(leftId), col(rightId), col("ta"), col("tb"), col("islands"),
        col("__alo"), col("__blo"))

  /** DECONTAMINATION FORENSICS — [[crossDocMaximalSpans]] across two
    * tables: for each (corpus doc, benchmark doc) pair, the maximal token
    * runs they share verbatim, with exact positions in BOTH texts. The
    * count-based forms ([[contaminationPairs]] and friends) answer
    * "which docs overlap the benchmark"; this answers "WHERE is the
    * benchmark text inside them" — what a remediation pass cuts and what
    * an audit shows. The corpus side is the STRIDED anchor side (stride
    * divides the big side's shuffled rows; the benchmark is small and
    * pays all positions), the per-pair kernel token-verifies and extends
    * exactly as [[crossDocMaximalSpans]] (exact under hash collisions),
    * and the same n + stride − 1 guaranteed-detection threshold makes
    * the output deterministic. A benchmark doc also present in the
    * corpus reports its full-length self-overlap — by design (that IS
    * contamination). `maxAnchorFreq` defaults to Int.MaxValue — EXACT:
    * unlike the corpus×corpus form, the anchor join here is corpus ×
    * benchmark, so a boilerplate gram fans out LINEARLY in its corpus
    * occurrences (the benchmark side is eval-suite-sized), and every one
    * of those occurrences is real contamination a remediation pass must
    * see — an excision default would silently miss exactly the
    * most-widespread contamination, the worst kind to miss. Set a finite
    * cap only as an explicit forensics-speed knob on bench suites known
    * to carry common boilerplate, accepting that capped grams' overlaps
    * go unreported unless a rarer anchor in the same run survives. The
    * token arrays ship sliced to the islands' reach envelopes
    * ([[sliceToEnvelopes]]), so a corpus doc overlapping many benchmark
    * items ships envelopes, not whole-array copies.
    *
    * Returns (doc_id, bench_id, d_start, d_end, b_start, b_end,
    * span_len), ends exclusive, normalized-token coordinates.
    */
  def contaminationSpans(
      docs: DataFrame,
      bench: DataFrame,
      n: Int = 13,
      stride: Int = 1,
      maxExtend: Int = 200,
      maxAnchorFreq: Int = Int.MaxValue,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(stride >= 1 && stride <= n,
      s"stride ($stride) must be in [1, n=$n] so in-run anchor windows chain")
    require(maxExtend >= stride - 1,
      s"maxExtend ($maxExtend) must be >= stride - 1 (${stride - 1}) for exact bounds")
    require(maxAnchorFreq >= 1, s"maxAnchorFreq must be >= 1, got $maxAnchorFreq")
    val spark = docs.sparkSession
    import spark.implicits._
    def gramsOf(df: DataFrame, id: String, text: String): DataFrame =
      df.select(col(id).cast("long").as("__id"),
        posexplode(SqlBridge.column(graft.functions.ShingleHashes(
          SqlBridge.expression(col(text)), n))).as(Seq("pos", "h")))
    val dGrams = {
      val g = gramsOf(docs, idCol, textCol)
      val guarded =
        if (maxAnchorFreq == Int.MaxValue) g
        else g.join(
          g.groupBy("h").agg(count(lit(1)).as("__f"))
            .filter(col("__f") <= maxAnchorFreq).select("h"),
          Seq("h"), "left_semi")
      guarded.filter(col("pos") % stride === 0)
        .select(col("__id").as("doc_id"), col("pos").as("pa"), col("h"))
    }
    val bGrams = gramsOf(bench, benchIdCol, benchTextCol)
      .select(col("__id").as("bench_id"), col("pos").as("pb"), col("h"))
    val pairs = anchorIslands(dGrams.join(bGrams, Seq("h")),
      "doc_id", "bench_id", stride)
    val dToks = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("ta"))
    val bToks = bench.select(col(benchIdCol).cast("long").as("bench_id"),
      tokens(col(benchTextCol)).as("tb"))
    sliceToEnvelopes(pairs, dToks, bToks, "doc_id", "bench_id", n, stride, maxExtend)
      .as[(Long, Long, Array[String], Array[String], Array[(Int, Int, Int)], Int, Int)]
      .flatMap { case (d, b, ta, tb, islands, dLo, bLo) =>
        val local = islands.map { case (diag, start, cnt) =>
          (diag - dLo + bLo, start - dLo, cnt)
        }
        extendIslands(ta, tb, local, n, stride, maxExtend).map { case (ds, de, bs, be) =>
          (d, b, (ds + dLo).toLong, (de + dLo).toLong,
            (bs + bLo).toLong, (be + bLo).toLong, (de - ds).toLong)
        }
      }
      .toDF("doc_id", "bench_id", "d_start", "d_end", "b_start", "b_end", "span_len")
      .filter(col("span_len") >= n + stride - 1)
  }

  /** [[contaminationSpans]] APPLIED — the decontamination remediation:
    * every corpus token covered by a reported benchmark-overlap span is
    * CUT and each document reassembled from its surviving tokens in
    * order (the [[removeDuplicateSpans]] shape pointed at a benchmark
    * instead of at the corpus itself). Cuts exactly the
    * guaranteed-detection set (span_len >= n + stride - 1), so the
    * output is deterministic in the inputs and a plain SQL oracle
    * derives it independently from raw text. Documents with no reported
    * overlap pass through with normalized (lowercased,
    * whitespace-joined) text — the same token stream every span
    * operator here works in.
    *
    * Scale shape: [[contaminationSpans]]' plan (the corpus pays strided
    * anchors, islands bound the collected payload), then one per-doc
    * covered-position mask — bounded by reported spans, benchmark-sized
    * at worst — joined back to the corpus on doc id; the corpus streams
    * once more through the cut projection.
    *
    * Returns (doc_id, clean_text).
    */
  def removeContaminationSpans(
      docs: DataFrame,
      bench: DataFrame,
      n: Int = 13,
      stride: Int = 1,
      maxExtend: Int = 200,
      maxAnchorFreq: Int = Int.MaxValue,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text"): DataFrame = {
    // materialize the covered-position set ONCE per doc (array_except is
    // a hash-set pass) — see removeDuplicateSpans for the measured cost
    // of the per-token lambda alternative
    val flagged = contaminationSpans(docs, bench, n, stride, maxExtend,
        maxAnchorFreq, idCol, textCol, benchIdCol, benchTextCol)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("d_start"), col("d_end"))).as("sps"))
      .select(col("doc_id"),
        flatten(transform(col("sps"),
          s => sequence(s("d_start"), s("d_end") - 1))).as("covered"))
    docs.select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("toks"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("covered").isNull, concat_ws(" ", col("toks")))
          // degenerate: zero tokens (sequence(0,-1) would run DOWNWARD)
          .when(size(col("toks")) === 0, lit(""))
          .otherwise(concat_ws(" ",
            transform(
              array_except(sequence(lit(0L), size(col("toks")).cast("long") - 1), col("covered")),
              i => element_at(col("toks"), i.cast("int") + 1))))
          .as("clean_text"))
  }

  /** Anchor-join output → per-pair island lists: each maximal run of
    * stride-contiguous matched anchors on one (pair, diagonal) folds into
    * a single (diag, start, count) triple. The gaps-and-islands pass is a
    * sort-based window on (pair, diagonal) — Spark's window operator
    * spills, so an adversarial pair (two near-identical long documents,
    * or a degenerate small-alphabet corpus where every diagonal matches)
    * streams through disk instead of accumulating an unbounded
    * collect_list buffer; only the island triples — O(distinct shared
    * runs + collisions) per pair — reach the collected row the extension
    * kernel reads. The island groupBy extends the window's partition
    * keys, so it reuses the window's exchange (no extra shuffle); the
    * pair-level collect shuffles island rows only.
    */
  private def anchorIslands(anchorRows: DataFrame, leftId: String,
      rightId: String, stride: Int): DataFrame = {
    val w = Window.partitionBy(leftId, rightId, "diag").orderBy("pa")
    anchorRows
      .select(col(leftId), col(rightId), col("pa"),
        (col("pa") - col("pb")).as("diag"))
      .withColumn("__new",
        when(col("pa") - lag("pa", 1).over(w) === stride, 0L).otherwise(1L))
      .withColumn("__isl", sum("__new").over(w))
      .groupBy(col(leftId), col(rightId), col("diag"), col("__isl"))
      .agg(min("pa").as("start"), count(lit(1)).as("cnt"))
      .groupBy(col(leftId), col(rightId))
      .agg(collect_list(struct(col("diag").cast("int").as("_1"),
        col("start").cast("int").as("_2"),
        col("cnt").cast("int").as("_3"))).as("islands"))
  }

  /** [[extendIslands]] over raw (pa, pb) anchor points — each anchor its
    * own single-element island. Test seam; the DF paths compress through
    * [[anchorIslands]] first.
    */
  private[graft] def extendAnchors(
      a: Array[String],
      b: Array[String],
      anchors: Array[(Int, Int)],
      n: Int,
      maxExtend: Int): Seq[(Int, Int, Int, Int)] =
    extendIslands(a, b,
      anchors.map { case (pa, pb) => (pa - pb, pa, 1) }, n, 1, maxExtend)

  /** [[crossDocMaximalSpans]]' per-pair kernel — a frontier walk per
    * diagonal: verify each anchor's n-window token-by-token (skipping the
    * compare when the window lies inside the already-verified span), then
    * either EXTEND the current span's right frontier (anchor overlaps or
    * abuts it — in-run anchors are <= n apart, so the frontier chases the
    * run's true end even when each extension step is capped) or CLOSE it
    * and open a new one (a gap past the frontier means a mismatching
    * token sits between, so the closed bounds are maximal). Left/right
    * extensions walk token-by-token up to `maxExtend` per anchor; with
    * maxExtend >= stride - 1 the first in-run anchor's left reach and the
    * frontier's final right reach cover the <= stride - 1 tokens the
    * anchor grid can miss, so reported bounds are exact.
    *
    * Anchors arrive as (diag, start, count) ISLANDS ([[anchorIslands]])
    * and re-expand through a lazy iterator — position-for-position the
    * sorted distinct anchor sequence of the raw join output (islands on
    * one diagonal are disjoint and ordered), so the walk, and therefore
    * the output, is identical to the uncompressed form.
    * O(anchors * verify + span tokens) per pair, O(islands) memory.
    */
  private[graft] def extendIslands(
      a: Array[String],
      b: Array[String],
      islands: Array[(Int, Int, Int)],
      n: Int,
      stride: Int,
      maxExtend: Int): Seq[(Int, Int, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
    islands.groupBy(_._1).toSeq.sortBy(_._1).foreach {
      case (diag, isl) =>
        val sorted = isl.sortBy(_._2).iterator.flatMap { case (_, s, c) =>
          Iterator.range(0, c).map(s + _ * stride)
        }
        var curS = -1
        var curE = -1
        def flush(): Unit =
          if (curS >= 0) out += ((curS, curE, curS - diag, curE - diag))
        def extendRight(from: Int): Int = {
          var e = from
          var ext = 0
          while (ext < maxExtend && e < a.length && e - diag < b.length &&
            a(e) == b(e - diag)) { e += 1; ext += 1 }
          e
        }
        sorted.foreach { pa =>
          val pb = pa - diag
          // token verification: false (hash-collision) anchors drop here,
          // which is what makes the output exact regardless of hash
          // quality; windows inside the already-verified span skip the
          // token compare
          var ok = pb >= 0 && pa + n <= a.length && pb + n <= b.length
          if (ok && !(curS >= 0 && pa >= curS && pa + n <= curE)) {
            var j = 0
            while (ok && j < n) { if (a(pa + j) != b(pb + j)) ok = false; j += 1 }
          }
          if (ok) {
            if (curS >= 0 && pa <= curE) { // continues the current span
              if (pa + n > curE) curE = extendRight(pa + n)
            } else {
              flush()
              var s = pa
              var ext = 0
              while (ext < maxExtend && s > 0 && s - diag > 0 &&
                a(s - 1) == b(s - diag - 1)) { s -= 1; ext += 1 }
              curS = s
              curE = extendRight(pa + n)
            }
          }
        }
        flush()
    }
    out.toSeq
  }


  /** CCNet/RefinedWeb-style LINE-level duplicate detection: the trimmed,
    * non-empty lines that occur in at least `minDocs` DISTINCT documents.
    * Scraped corpora are full of these — navigation chrome, cookie
    * banners, share buttons, license footers — and they repeat across
    * *unrelated* pages, so document-level near-dedup never catches them
    * while they still dominate token counts at crawl scale.
    *
    * Scale shape: one narrow line explode, then ONE shuffle on the line
    * key with partial aggregation (count-distinct of doc ids is itself
    * two-phase). The result is bounded by the distinct-line cardinality,
    * never the corpus.
    *
    * Returns (lkey, n_docs, n_occurrences).
    */
  def duplicateLines(
      docs: DataFrame,
      minDocs: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .select(col("doc_id"), trim(col("line")).as("lkey"))
      .filter(col("lkey") =!= "")
      .groupBy("lkey")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)

  /** [[duplicateLines]] APPLIED: rebuild every document with its
    * cross-document boilerplate lines removed (every copy goes — the
    * CCNet paragraph-dedup remediation; the line carries no document-
    * specific signal if `minDocs` unrelated documents share it). Blank
    * lines are never boilerplate and pass through; line order is
    * preserved; a document whose every line is boilerplate cleans to the
    * empty string but is NOT dropped.
    *
    * Scale shape: [[duplicateLines]]'s one counting shuffle, an equi-join
    * of the exploded lines against the duplicate set on the line key
    * (bounded-cardinality key; AQE broadcasts the duplicate table when
    * the boilerplate set is small, which it is after the `minDocs`
    * filter), and one doc-keyed shuffle to reassemble — the same
    * join-back shape as [[removeDuplicateSpans]].
    *
    * Returns (doc_id, n_lines, n_removed, clean_text) for EVERY input doc.
    */
  def removeDuplicateLines(
      docs: DataFrame,
      minDocs: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lkey", trim(col("line")))
    val dups = lines
      .filter(col("lkey") =!= "")
      .groupBy("lkey")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("lkey")
    val kept = lines
      .join(dups, Seq("lkey"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("clean_text"))
    docs
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Deterministic ±1 hyperplanes for sign-LSH (splitmix64-derived). */
  def randomPlanes(nbits: Int, dim: Int, seed: Long): Array[Array[Float]] =
    Array.tabulate(nbits, dim) { (p, d) =>
      var x = seed + p.toLong * 1000003L + d.toLong + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x = x ^ (x >>> 31)
      if (((x >>> 13) & 1L) == 1L) 1f else -1f
    }

  /** The first `probes` signatures of Lv et al. 2007's query-directed
    * probe sequence for sign-LSH ("Multi-Probe LSH: Efficient Indexing
    * for High-Dimensional Similarity Search", §4): perturbation sets of
    * hyperplane bits ordered by the SUM of flipped margins (|dot| — how
    * close the vector sits to each boundary), enumerated lazily with the
    * paper's shift/expand min-heap so only the emitted prefix is ever
    * materialized. The exact signature comes first; then single smallest-
    * margin flips, the two-smallest pair, … — so a fixed probe budget
    * goes to the buckets MOST likely to hold a straddling neighbor,
    * instead of hamming-1's uniform one-bit ring (which spends nbits
    * probes and still misses any 2-plane straddle).
    */
  private[graft] def probeSequence(sig: Long, margins: Array[Double], probes: Int): Array[Long] = {
    val n = margins.length
    if (probes <= 1 || n == 0) return Array(sig)
    // positions sorted by margin ascending; a perturbation set is a set of
    // POSITIONS (mapped back to bit indices at emit time)
    val order = margins.indices.sortBy(margins(_)).toArray
    val out = new scala.collection.mutable.ArrayBuffer[Long](probes)
    out += sig
    case class Cand(score: Double, positions: List[Int]) // positions sorted desc (head = max)
    implicit val ord: Ordering[Cand] = Ordering.by(c => -c.score) // min-heap
    val heap = scala.collection.mutable.PriorityQueue(Cand(margins(order(0)), List(0)))
    while (out.length < probes && heap.nonEmpty) {
      val c = heap.dequeue()
      out += c.positions.foldLeft(sig)((s, pos) => s ^ (1L << order(pos)))
      val j = c.positions.head
      if (j + 1 < n) {
        // shift: replace the max position with its successor
        heap.enqueue(Cand(c.score - margins(order(j)) + margins(order(j + 1)),
          (j + 1) :: c.positions.tail))
        // expand: add the successor
        heap.enqueue(Cand(c.score + margins(order(j + 1)), (j + 1) :: c.positions))
      }
    }
    out.toArray
  }

  /** Embedding near-dup pairs: random-hyperplane LSH (sign buckets) +
    * exact cosine verify. Parallel vectors always share a signature, so
    * recall for true near-dups (cosine distance ≈ 0) is exact. With
    * `multiProbe` the guarantee extends to pairs whose vectors straddle
    * exactly ONE hyperplane (hamming-1 signatures) — without it such a
    * pair is silently missed even at cos_dist ≈ 0 (see the planted-pair
    * test in DedupSpec). Pairs straddling ≥ 2 planes can still be missed;
    * at 16 bits and cos_dist ≤ 0.1 that probability is small but nonzero.
    *
    * `probes` > 0 switches the left side to [[probeSequence]] (Lv et al.
    * 2007): T margin-ordered probes per row instead of hamming-1's
    * uniform nbits+1 — T× left rows, same equi-join shape, and a 2-plane
    * straddle with small margins is caught at T ≪ nbits² (the planted
    * test in DedupSpec has hamming-1 miss what an 8-probe sequence
    * finds). Mutually exclusive with `multiProbe`.
    */
  def embeddingNearDupPairs(
      data: DataFrame, // (id, vector array<float>)
      planes: Array[Array[Float]],
      threshold: Double,
      multiProbe: Boolean = false,
      probes: Int = 0): DataFrame = {
    import graft.functions.vec
    require(probes == 0 || !multiProbe,
      "multiProbe (hamming-1) and probes (probe-sequence) are alternative probing strategies")
    val sigCol = (0 until planes.length).map { p =>
      val plane = array(planes(p).map(x => lit(x)): _*)
      when(vec.dot(col("vector"), plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

    val bucketed = data.withColumn("sig", sigCol)

    // Multi-probe: the left side also probes every 1-bit-flipped signature,
    // catching pairs whose vectors straddle one hyperplane (hamming-1
    // buckets) at the cost of (nbits+1)× left-side rows. Exact-probe only
    // guarantees parallel vectors.
    val left =
      if (probes > 0) {
        // one narrow typed pass: all nbits dots per row (margins + sig in
        // the same fold — the same `dot >= 0` convention as sigCol), then
        // the heap enumeration emits the T probe signatures
        val spark = data.sparkSession
        import spark.implicits._
        val bcPlanes = spark.sparkContext.broadcast(planes)
        val t = probes
        data.select(col("id").cast("long"), col("vector").cast("array<float>"))
          .as[(Long, Array[Float])]
          .mapPartitions { iter =>
            val ps = bcPlanes.value
            iter.flatMap { case (id, v) =>
              val margins = new Array[Double](ps.length)
              var sig = 0L
              var p = 0
              while (p < ps.length) {
                val plane = ps(p)
                var acc = 0.0
                var i = 0
                while (i < v.length) { acc += v(i).toDouble * plane(i); i += 1 }
                if (acc >= 0) sig |= (1L << p)
                margins(p) = math.abs(acc)
                p += 1
              }
              probeSequence(sig, margins, t).iterator.map(psig => (id, v, psig))
            }
          }
          .toDF("id", "vector", "psig")
      } else if (!multiProbe) bucketed.select(col("id"), col("vector"), col("sig").as("psig"))
      else {
        val probeSigs = array(col("sig") +: (0 until planes.length)
          .map(b => col("sig").bitwiseXOR(lit(1L << b))): _*)
        bucketed.select(col("id"), col("vector"), explode(probeSigs).as("psig"))
      }

    left.alias("l")
      .join(bucketed.withColumnRenamed("sig", "psig").alias("r"), Seq("psig"))
      .filter(col("l.id") < col("r.id"))
      .select(
        col("l.id").as("id_a"), col("r.id").as("id_b"),
        vec.distCosine(col("l.vector"), col("r.vector")).as("cos_dist"))
      .filter(col("cos_dist") <= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** SemDeDup-style semantic near-dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with k-means and verify cosine
    * near-duplicate pairs WITHIN clusters only — the cluster plays the
    * LSH bucket's role, but follows the data's own density instead of
    * random hyperplanes, which is why SemDeDup finds the "semantic"
    * duplicates (same content, different words) sign-LSH needs luck for.
    *
    * Vectors are normalized to the unit sphere first, so k-means cells
    * are angular regions and cosine near-dups co-locate; `spill` assigns
    * each vector to its `spill` nearest cells so pairs straddling one
    * cell boundary still share a bucket (the multi-probe analog). Exact
    * copies of a vector rank cells identically and are ALWAYS
    * co-bucketed. Verification computes cosine on the ORIGINAL vectors
    * with the same kernel as [[embeddingNearDupPairs]]. Zero vectors
    * carry no direction and are excluded, mirroring
    * [[graft.knn.Quantize]]'s cosine-side rationale.
    *
    * Scale shape: one k-means training pass (centroids driver-sized,
    * C·dim), one assignment pass, then a self-equi-join on the cell id —
    * candidate work is Σ|cell|², the published SemDeDup cost, bounded by
    * choosing C so cells stay ~10-100k vectors at corpus scale. Nothing
    * all-pairs, nothing driver-resident but the centroids.
    */
  def semanticNearDupPairs(
      data: DataFrame, // (id, vector array<float>)
      c: Int,
      threshold: Double,
      spill: Int = 2,
      iterations: Int = 2,
      seed: Long = 42L,
      // kmeans|| balances cells (the Σ|cell|² bound depends on it); exact
      // copies co-bucket under ANY seeding, so recall of true duplicates
      // is seeding-independent — "first" trades balance for fewer passes
      seeding: String = "kmeans||"): DataFrame = {
    import graft.functions.vec
    import graft.knn.Ivf
    val spark = data.sparkSession
    val unit = data
      .withColumn("nrm", vec.norm(col("vector")))
      .filter(col("nrm") > 0)
      .select(col("id"), col("vector"),
        vec.scalarDiv(col("vector"), col("nrm")).as("uvec"))
    // cache serves ONLY the eager multi-pass k-means training; it is
    // released before the lazy result plan is built, which re-derives the
    // (cheap) normalization per consumer instead of pinning storage
    // memory for the caller's whole session
    val cached = unit.cache()
    val centroids = Ivf.train(spark, cached.select(col("id"), col("uvec").as("vector")),
      c, iterations = iterations, seeding = seeding, seed = seed)
    cached.unpersist(blocking = false)
    // (cell, id) assignments; original vectors ride along for the verify
    // step so the emitted cos_dist is computed on the caller's floats,
    // not the normalized copies
    val assigned = Ivf.assign(spark, unit.select(col("id"), col("uvec").as("vector")),
        centroids, spill = spill)
      .select(col("cell"), col("id"))
      .join(unit.select(col("id"), col("vector")), Seq("id"))
    assigned.alias("l")
      .join(assigned.alias("r"), Seq("cell"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        vec.distCosine(col("l.vector"), col("r.vector")).as("cos_dist"))
      .filter(col("cos_dist") <= threshold)
      // spill > 1 surfaces a pair through every shared cell
      .dropDuplicates("id_a", "id_b")
  }
}
