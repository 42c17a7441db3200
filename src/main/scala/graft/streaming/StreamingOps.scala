package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import graft.dedup.Lsh
import graft.io.{BatchLog, IndexTable}

/** Structured Streaming counterparts of the reference's online mutation and
  * query paths (`/root/reference/storage/dataset.go:238-348`): the batch
  * engine handles index builds; streams handle continuous ingestion.
  *
  *  - [[windowedEventStats]]: tumbling-window aggregation with a watermark —
  *    the streaming analog of the `events_window` batch query.
  *  - [[latestVectorState]]: per-key latest-version upsert state via
  *    `mapGroupsWithState` — the reference's BatchInsert/Update semantics
  *    applied continuously (latest write wins per id, tombstone on remove).
  */
object StreamingOps {

  /** Tumbling-window counts/sums per event type. `events` must have
    * (ts: timestamp, event_type: string, value: double).
    */
  def windowedEventStats(
      events: DataFrame,
      windowDuration: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** Sliding-window stats: overlapping windows of `windowDuration` sliding
    * every `slideDuration` — each event lands in
    * windowDuration/slideDuration windows.
    */
  def slidingEventStats(
      events: DataFrame,
      windowDuration: String = "10 minutes",
      slideDuration: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration, slideDuration), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** SESSION-window stats — streaming sessionization through Spark's
    * native `session_window` state merging: per (user, session) counts
    * with session = maximal run of events whose consecutive gaps do not
    * exceed `gap`. An event EXACTLY `gap` after the previous one still
    * merges (verified in EdgeCasesSpec) — the identical break rule as
    * the batch operator [[graft.ops.Temporal.sessionize]] (`> gap`
    * splits), so the two converge; the emitted window end is
    * last-event-ts + gap. State is merged distributedly per key; with a
    * watermark, closed sessions age out of the store, so memory is
    * bounded by OPEN sessions — the property that lets this run forever
    * on an event firehose.
    */
  def sessionizedEventStats(
      events: DataFrame, // (ts: timestamp, user_id, value)
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /** Watermarked stream-stream inner join: enrich an event stream with a
    * (streamed) user-attribute stream within a bounded time skew — state on
    * both sides is dropped past the watermark, so memory stays bounded.
    */
  def enrichedEvents(
      events: DataFrame, // (ts, user_id, event_type, value)
      users: DataFrame,  // (u_ts, user_id, segment)
      maxSkew: String = "10 minutes"): DataFrame = {
    val e = events.withWatermark("ts", maxSkew)
    val u = users.withWatermark("u_ts", maxSkew).withColumnRenamed("user_id", "u_user_id")
    e.join(u,
      col("user_id") === col("u_user_id") &&
        col("u_ts") >= col("ts") - expr(s"INTERVAL $maxSkew") &&
        col("u_ts") <= col("ts"))
      .drop("u_user_id")
  }

  /** One vector-mutation event: op ∈ {upsert, remove}. */
  case class VectorOp(id: Long, op: String, vector: Array[Float], version: Long)

  /** Current state of one id after applying ops. */
  case class VectorState(id: Long, vector: Array[Float], version: Long, deleted: Boolean)

  private def applyOps(
      id: Long,
      ops: Iterator[VectorOp],
      state: GroupState[VectorState]): VectorState = {
    var current = state.getOption.getOrElse(VectorState(id, Array.empty, -1L, deleted = true))
    ops.toSeq.sortBy(_.version).foreach { op =>
      if (op.version > current.version) {
        current =
          if (op.op == "remove") VectorState(id, Array.empty, op.version, deleted = true)
          else VectorState(id, op.vector, op.version, deleted = false)
      }
    }
    state.update(current)
    current
  }

  /** Continuously folds a stream of mutations into latest-wins per-id state
    * (higher version wins; `remove` writes a tombstone). Emits the state of
    * every id touched in the micro-batch — feed it to any sink to maintain a
    * queryable current snapshot.
    */
  def latestVectorState(spark: SparkSession, ops: Dataset[VectorOp]): Dataset[VectorState] = {
    import spark.implicits._
    ops
      .groupByKey(_.id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(applyOps)
  }

  /** Cross-batch version store: folds the op stream through
    * [[latestVectorState]] and re-emits every touched id's CURRENT state
    * as an effective op. A stale version arriving in a LATER micro-batch
    * re-emits the stored newer state instead of the stale vector, so a
    * consumer that applies ops in arrival order only ever sees current
    * state. The maintained-index sinks ([[ivfMaintenanceSink]],
    * [[hnswDeltaMaintenanceSink]], …) keep a versioned delta log, and
    * their views' latest-wins rule lets a stale version lose across
    * batches with or without this stage (the re-emitted rows dedupe).
    * Compose as `versionedOps(spark, ops).writeStream.outputMode("update")
    *   .foreachBatch(sink)`.
    */
  def versionedOps(spark: SparkSession, ops: Dataset[VectorOp]): Dataset[VectorOp] = {
    import spark.implicits._
    latestVectorState(spark, ops).map { s =>
      VectorOp(s.id, if (s.deleted) "remove" else "upsert", s.vector, s.version)
    }
  }

  /** Streaming exact dedup: keep the first occurrence per content digest,
    * with state bounded by the watermark (brief: dedup as a first-class
    * pipeline op, here in its continuous-ingestion form).
    * `docs` must have (ts: timestamp, doc_id: long, text: string).
    */
  def dedupStream(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("digest", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Streaming MinHash-LSH near-duplicate detection — the ingestion-time
    * form of [[graft.dedup.Dedup.minhashLshPairs]], completing the
    * streaming dedup triangle (exact: [[dedupStream]]; decontamination:
    * [[contaminationStream]]; near-dup: here).
    *
    * Stateless projection: ONE [[graft.functions.ShingleHashSet]] +
    * ONE [[graft.functions.ShingleBandHashes]] kernel pass per document
    * (the batch operator's kernels), exploded to (band, bh) probe rows.
    * Stateful stage: groups on the SAME (band, bh) key the batch join
    * shuffles on; per-bucket state holds members' (id, hashed shingle
    * set); each arrival verifies EXACT hashed Jaccard against stored
    * members (and earlier same-batch arrivals, id-ascending for
    * determinism) and emits pairs meeting `threshold` — verified at the
    * collision site, no second pass, no post-hoc join.
    *
    * A pair surfaces once PER COLLIDING BAND (cross-band dedup would need
    * a second stateful stage), so consumers take the DISTINCT
    * (doc_a, doc_b, jaccard) set — which equals the batch operator's
    * output on any corpus whose buckets stay under `maxBucketSize` (the
    * equality StreamingSpec asserts). Skew guard, mirroring the batch
    * star semantics: a bucket at `maxBucketSize` stops accumulating and
    * arrivals verify against the bucket's FIRST member only, so
    * boilerplate buckets cost O(1) per arrival and emit representative
    * star pairs instead of C(n,2) — still Jaccard-verified (no false
    * pairs, possible misses, the same trade the batch guard makes; which
    * docs a capped bucket retains depends on arrival/batch order, where
    * batch retains by global bucket membership). `maxBucketSize <= 0`
    * disables the guard, as in the batch operator: every bucket keeps
    * accumulating and verifies every arrival against all its members.
    * At-least-once replays
    * are absorbed: a redelivered RETAINED member neither re-pairs nor
    * re-enters state, and a redelivered arrival to a full bucket re-emits
    * only its identical star pair, which the distinct absorbs. State
    * never expires (NoTimeout) — near-dup detection is corpus-lifetime;
    * bound retention by keying the stream into corpus epochs.
    *
    * State footprint: each retained member's shingle set is stored once
    * PER BAND, i.e. `bands`× the corpus shingle footprint (measured
    * ~6 GB at 1M docs × 16 bands) — size executors to that, or shrink
    * `bands`/shingle width. Collapsing the duplication needs a two-stage
    * state layout (doc→set stored once, band buckets holding ids only,
    * verification joining the two) — the planned evolution of this
    * operator; today's single-stage form trades memory for the one-pass
    * collision-site verify.
    */
  def nearDupStream(
      docs: DataFrame, // (doc_id, text)
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucketSize: Int = 4096): DataFrame = {
    val rowsPerBand = Lsh.rowsPerBand(numHashes, bands)
    val spark = docs.sparkSession
    import spark.implicits._
    Lsh.textBands(Lsh.textRows(docs, col("doc_id").cast("long"), col("text"), bands, rowsPerBand),
        "hs")
      .as[(Long, Array[Long], Int, Long)]
      .groupByKey { case (_, _, band, bh) => (band, bh) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        nearDupBucket(threshold, maxBucketSize))
      .toDF("doc_a", "doc_b", "band", "jaccard")
  }

  /** Jaccard of two ascending-sorted hash sets — the state-side scalar
    * twin of [[graft.functions.JaccardFromSortedSets]] (same merge walk,
    * same empty-union convention).
    */
  private def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { cnt += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length.toLong + b.length - cnt
    if (union == 0) 0.0 else cnt.toDouble / union
  }

  /** Per-bucket update for [[nearDupStream]]: state is the member list
    * OLDEST-FIRST (head = the bucket's representative for the skew
    * guard).
    */
  private def nearDupBucket(threshold: Double, maxBucketSize: Int)(
      key: (Int, Long),
      rows: Iterator[(Long, Array[Long], Int, Long)],
      state: GroupState[Seq[(Long, Array[Long])]]): Iterator[(Long, Long, Int, Double)] = {
    val band = key._1
    val cap = if (maxBucketSize <= 0) Int.MaxValue else maxBucketSize
    var members = state.getOption.getOrElse(Seq.empty)
    val out = Seq.newBuilder[(Long, Long, Int, Double)]
    var changed = false
    rows.toArray.sortBy(_._1).foreach { case (id, hs, _, _) =>
      if (!members.exists(_._1 == id)) { // replay guard
        val compareTo = if (members.size >= cap) members.take(1) else members
        compareTo.foreach { case (mid, mhs) =>
          val jac = jaccardSorted(hs, mhs)
          if (jac >= threshold)
            out += ((math.min(id, mid), math.max(id, mid), band, jac))
        }
        if (members.size < cap) {
          members = members :+ ((id, hs))
          changed = true
        }
      }
    }
    if (changed) state.update(members)
    out.result().iterator
  }

  /** [[nearDupStream]]'s corpus-scale sibling: a `foreachBatch` sink whose
    * accumulated state lives ON DISK as manifested delta tables instead of
    * in the state store. The state-store form keeps, per (band, bucket),
    * every member's full shingle-hash set — `bands`× the corpus shingle
    * footprint in executor memory (measured ~6 GB at 1M docs), which is
    * the ms-latency design and its bound. This sink holds each doc's set
    * ONCE in a `docs` delta table, band membership as bare (band, bh, id)
    * rows in a `bands` table, and per batch: candidate pairs come from
    * joining the batch's band rows against the accumulated table
    * (column-pruned, bucket-key join), exact hashed-Jaccard verification
    * joins the two sides' sets by id, and everything appends O(batch)
    * through the same [[BatchLog]] as the index maintenance sinks (a lost
    * delta file fails the next batch loudly; at-least-once replays are
    * absorbed by an id replay guard + distinct at read; a restart with a
    * different band layout refuses). Per-batch cost includes a
    * column-pruned scan of the accumulated id/band tables, so size
    * micro-batches to minutes — the
    * state-store form serves the ms regime under its memory bound; this
    * form serves the 100 TB corpus under disk.
    *
    * Pair semantics converge to [[graft.dedup.Dedup.minhashLshPairs]] on
    * buckets within `maxBucketSize` regardless of batch boundaries
    * (proven in StreamingSpec and LshConvergenceProps); oversized buckets
    * degrade to Jaccard-verified star pairs against the bucket's current
    * min-id representative — arrival-order dependent, like the
    * state-store form. `maxBucketSize <= 0` disables the guard, as in the
    * batch operator: every bucket pairs all its members. Banding, the
    * guard and the verify are the batch operator's own, from the
    * banded-LSH core `graft.dedup.Lsh`. Read converged pairs with
    * [[nearDupSinkPairs]].
    */
  def nearDupSink(
      spark: SparkSession,
      dir: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucketSize: Int = 4096): (DataFrame, Long) => Unit = {
    val rowsPerBand = Lsh.rowsPerBand(numHashes, bands)
    val log = new BatchLog(spark, dir, Seq("docs", "bands"), "near-dup", None, exactlyOnce = false,
      meta = "nd_meta")
    log.open(Seq("numHashes" -> numHashes.toString, "bands" -> bands.toString),
      JoinsIncompatible)(())

    (batch: DataFrame, batchId: Long) => {
      val oldDocs = log.read("docs").map(_.select("id", "hs"))
      val oldBands = log.read("bands").map(_.select("id", "band", "bh"))

      val preparedAll = Lsh.textRows(batch, col("doc_id").cast("long"), col("text"), bands,
          rowsPerBand)
        .dropDuplicates("id")
      // replay guard: ids already accumulated (a redelivered micro-batch)
      // must not pair with themselves or re-append
      val prepared = oldDocs.fold(preparedAll)(d =>
        preparedAll.join(d.select("id"), Seq("id"), "left_anti"))
        .persist()
      try {
        val newBands = Lsh.textBands(prepared)
        val candidates = Lsh.candidates(Lsh.bucketMates(newBands, oldBands), maxBucketSize,
          "doc_a", "doc_b", fresh = Some(newBands))
        // verify with each side's set: new ids resolve from the batch,
        // old ids from the accumulated docs table
        val setsNew = prepared.select(col("id"), col("hs"))
        val sets = oldDocs.fold(setsNew)(setsNew.unionByName(_))
        val verified = Lsh.verifyJaccard(candidates, "doc_a", "doc_b", sets, sets, threshold)

        // pairs first (their replay dedupes at read), then the state tables
        verified.write.mode("append").parquet(s"$dir/pairs/batch=$batchId")
        log.commit(batchId)(
          p => prepared.select("id", "hs").write.mode("append").parquet(p),
          p => newBands.write.mode("append").parquet(p))
      } finally prepared.unpersist()
    }
  }

  /** Converged distinct near-dup pairs of a [[nearDupSink]] directory
    * (at-least-once replays dedupe here).
    */
  def nearDupSinkPairs(spark: SparkSession, dir: String): DataFrame =
    IndexTable.read(spark, dir, "pairs").select("doc_a", "doc_b", "jaccard")
      .dropDuplicates("doc_a", "doc_b")

  /** STREAMING perceptual-hash near-dedup — [[nearDupSink]]'s shape for
    * the MEDIA tiers: a foreachBatch sink over (id, 64-bit perceptual
    * hash) rows (the modality-specific decode scan —
    * [[graft.dedup.ImageDedup.dHashes]] /
    * [[graft.dedup.AudioDedup.energyHashes]] /
    * [[graft.dedup.VideoDedup.videoHashes]] — runs upstream in the
    * stream's own select, so ONE sink serves all three). Disk state is a
    * manifested `hashes` delta table (8 bytes + id per item — media
    * payloads never land in sink state at all) plus a `bands` table of
    * (band, slice, id) rows; per batch: candidates come from the batch's
    * band rows joined against batch + (bucket-key semi-filtered)
    * accumulated band rows, with [[graft.dedup.HammingLsh]]'s star-pair
    * degradation on oversized buckets, verified by the exact bit_count
    * Hamming gate — O(batch) appends through the same [[BatchLog]] as the
    * other maintained sinks, at-least-once replays absorbed by an id guard
    * + distinct at read.
    *
    * Converges to [[graft.dedup.HammingLsh.bandedPairs]]'s pair set on
    * buckets within `maxBucketSize` regardless of batch boundaries
    * (old×old pairs were emitted when their younger member arrived);
    * oversized buckets degrade to Hamming-verified star pairs against
    * the bucket's current min-id representative, arrival-order dependent
    * like the text form. `maxBucketSize <= 0` disables the guard, as in
    * the batch operator: every bucket pairs all its members. Slicing, the
    * guard and the verify come from the banded-LSH core `graft.dedup.Lsh`.
    * Read with [[mediaPhashSinkPairs]]; feed the pairs into
    * [[dedupGroupsSink]] for online cluster resolution.
    */
  def mediaPhashSink(
      spark: SparkSession,
      dir: String,
      idCol: String = "id",
      hashCol: String = "dhash",
      maxDist: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 4096): (DataFrame, Long) => Unit = {
    val hb = Lsh.HammingBands(bands, maxDist)
    val log = new BatchLog(spark, dir, Seq("hashes", "bands"), "media-phash", None,
      exactlyOnce = false, meta = "mp_meta")
    log.open(Seq("bands" -> bands.toString), JoinsIncompatible)(())

    (batch: DataFrame, batchId: Long) => {
      val oldHashes = log.read("hashes").map(_.select("id", "dhash"))
      val oldBands = log.read("bands").map(_.select("id", "band", "bh"))

      val preparedAll = batch
        .select(col(idCol).cast("long").as("id"), col(hashCol).cast("long").as("dhash"))
        .dropDuplicates("id")
      // replay guard: ids already accumulated must not re-pair or re-append
      val prepared = oldHashes.fold(preparedAll)(h =>
        preparedAll.join(h.select("id"), Seq("id"), "left_anti"))
        .persist()
      try {
        val newBands = hb.rows(prepared, "dhash")
        val candidates = Lsh.candidates(Lsh.bucketMates(newBands, oldBands), maxBucketSize,
          "id_a", "id_b", fresh = Some(newBands))
        // exact Hamming verify: new ids resolve from the batch, old ids
        // from the accumulated table
        val hashesNew = prepared.select(col("id"), col("dhash"))
        val verified = hb.verify(candidates, "id_a", "id_b",
          oldHashes.fold(hashesNew)(hashesNew.unionByName(_)), "dhash")

        // pairs first (replays dedupe at read), then the state tables
        verified.write.mode("append").parquet(s"$dir/pairs/batch=$batchId")
        log.commit(batchId)(
          p => prepared.write.mode("append").parquet(p),
          p => newBands.write.mode("append").parquet(p))
      } finally prepared.unpersist()
    }
  }

  /** Converged distinct near-dup pairs of a [[mediaPhashSink]] directory
    * (at-least-once replays dedupe here).
    */
  def mediaPhashSinkPairs(spark: SparkSession, dir: String): DataFrame =
    IndexTable.read(spark, dir, "pairs").select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")

  /** STREAMING cluster resolution: incremental connected components over
    * an arriving near-dup PAIR stream ([[nearDupSink]]'s output shape, or
    * any pair source) — so an ingestion-time pipeline can maintain
    * keep/cut decisions online instead of re-resolving the whole batch
    * graph ([[graft.dedup.Dedup.connectedComponents]]) after every batch.
    *
    * Disk state is a UNION-FIND FOREST as a manifested delta table of
    * (id, parent) edges with parent < id, unions by MIN root:
    *  - per batch, each endpoint resolves to its CURRENT root by walking
    *    the forest (frontier-keyed joins against the accumulated table —
    *    the frontier is batch-bounded, and path-compression rows appended
    *    every batch keep chains ~1 hop, so the walk is 1-3 join rounds);
    *  - the batch's ROOT-edge graph (batch-bounded — this is the batch's
    *    spanning frontier, usually tiny since most pairs fall inside
    *    existing clusters) resolves adaptively: classic driver union-find
    *    below `maxDriverEdges` (bounded collect, ~1.6 MB at the default),
    *    the batch pointer-doubling operator above it; each losing root
    *    gains a parent row to the new min root, PLUS compression rows for
    *    every touched id;
    *  - appends are O(batch + touched), never a rewrite of the
    *    accumulated table: merging two million-doc clusters writes ONE
    *    root edge (plus the batch's compression rows), because membership
    *    is represented by reachability, not by materialized group ids.
    *
    * Correctness invariants: parent values only DECREASE along any chain
    * and unions are by min, so (a) every component has exactly one
    * rootless node — its minimum id, (b) duplicate/stale appends from
    * at-least-once replays are absorbed by min-aggregation at read
    * (monotone ⇒ idempotent), (c) the forest's components EQUAL the
    * pair graph's components regardless of how pairs were split across
    * batches — cross-batch merges are just root edges written late.
    * Read back with [[dedupGroupsSinkGroups]], which resolves the forest
    * with the SAME pointer-doubling operator batch mode uses, so the
    * converged output is row-for-row the batch `dedup_groups` answer.
    *
    * State commits through a [[BatchLog]] like the other maintained
    * sinks: a lost delta file fails the next batch loudly.
    */
  def dedupGroupsSink(
      spark: SparkSession,
      dir: String,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxResolveRounds: Int = 1000,
      maxDriverEdges: Int = 100000): (DataFrame, Long) => Unit = {
    val log = dedupGroupsLog(spark, dir)
    log.open(Seq("aCol" -> aCol, "bCol" -> bCol), JoinsIncompatible)(())
    (batch: DataFrame, batchId: Long) => {
      val sess = batch.sparkSession
      val oldLabels = log.read("labels").map(_.select("id", "parent"))

      // no dedup pass: duplicate pairs (and at-least-once replays) are
      // harmless to union-find — they re-derive the same root edges,
      // which min-aggregation absorbs
      val pairs = batch
        .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
        .filter(col("a") =!= col("b"))
        .persist()
      try {
        if (pairs.isEmpty) () // nothing to union; no state to touch
        else {
          // resolve every batch endpoint to its current root: iterated
          // frontier-keyed min-parent lookups against the accumulated
          // forest (labels may hold several rows per id — min wins)
          val nodes = pairs.select(col("a").as("node"))
            .unionByName(pairs.select(col("b").as("node"))).distinct()
          var frontier = nodes.withColumn("label", col("node")).persist()
          // every frontier generation is kept (persisted) until the write:
          // the labels seen along the walk are exactly the CHAIN NODES —
          // interior losing roots whose own rows were written batches ago
          // — and compressing THEM (not just the endpoints) is what keeps
          // chains from growing one hop per merge between walks
          val gens = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
          oldLabels.foreach { labels =>
            def step(f: org.apache.spark.sql.DataFrame) = {
              val keys = f.select(col("label")).distinct()
              val hop = labels.join(broadcast(keys.withColumnRenamed("label", "id")), Seq("id"))
                .groupBy(col("id").as("label")).agg(min("parent").as("next"))
              // lazy localCheckpoint, not persist: the labelSum action
              // materializes the round AND truncates lineage — an iterated
              // join would otherwise nest plans until explain/codegen
              // chokes (same per-round discipline as connectedComponents)
              f.join(hop, Seq("label"), "left")
                .select(col("node"), coalesce(col("next"), col("label")).as("label"))
                .localCheckpoint(false)
            }
            def labelSum(f: org.apache.spark.sql.DataFrame): Long =
              f.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
            var lastSum = labelSum(frontier)
            var rounds = 0
            var converged = false
            while (rounds < maxResolveRounds && !converged) {
              val next = step(frontier)
              val s = labelSum(next)
              gens += frontier // still persisted; freed after the write
              converged = s == lastSum // parents strictly decrease until root
              lastSum = s
              frontier = next
              rounds += 1
            }
            require(converged,
              s"dedupGroupsSink: root resolution exceeded $maxResolveRounds rounds — " +
                "a parent chain deeper than maxResolveRounds merges accumulated between " +
                "walks; raise maxResolveRounds (each round is one frontier-keyed join)")
          }

          // batch-local spanning frontier: components over ROOT edges,
          // resolved with the batch operator itself (batch-bounded input)
          val rootEdges = pairs
            .join(frontier.withColumnRenamed("node", "a").withColumnRenamed("label", "ra"), Seq("a"))
            .join(frontier.withColumnRenamed("node", "b").withColumnRenamed("label", "rb"), Seq("b"))
            .select(col("ra"), col("rb")).filter(col("ra") =!= col("rb"))
            .distinct() // many pairs can bridge the SAME two clusters: one
            // root edge each — without the dedup a 1-edge frontier could
            // spuriously escalate past maxDriverEdges
            .persist()
          val nRootEdges = rootEdges.count()
          // the spanning frontier is usually TINY relative to the batch
          // (most pairs fall inside existing clusters): below the bound,
          // classic driver union-find beats the distributed operator's
          // per-round checkpoint+action protocol by ~20×; above it the
          // batch operator takes over — nothing unbounded ever collects
          // (maxDriverEdges=100k root edges ≈ 1.6 MB)
          val merged: DataFrame =
            if (nRootEdges == 0) frontier.select(col("label").as("id"), col("label").as("group_id"))
              .dropDuplicates("id")
            else if (nRootEdges <= maxDriverEdges) {
              import sess.implicits._
              val parent = scala.collection.mutable.HashMap.empty[Long, Long]
              def find(x: Long): Long = {
                var r = x
                while (parent.getOrElse(r, r) != r) r = parent(r)
                var c = x // path compression
                while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
                r
              }
              rootEdges.as[(Long, Long)].collect().foreach { case (a, b) =>
                val (ra, rb) = (find(a), find(b))
                if (ra != rb) { // union by MIN — same invariant as the batch operator
                  if (ra < rb) parent(rb) = ra else parent(ra) = rb
                }
              }
              val resolved = parent.keys.toSeq.sorted.map(x => (x, find(x)))
              val roots = resolved.map(_._2).distinct.map(r => (r, r))
              (resolved ++ roots).toDF("id", "group_id")
            } else graft.dedup.Dedup.connectedComponents(rootEdges, "ra", "rb")
          // losing roots point at the new min root; touched ids compress
          // straight to it (min-wins makes re-appends harmless)
          val rootRows = merged.filter(col("id") =!= col("group_id"))
            .select(col("id"), col("group_id").as("parent"))
          // compression targets: the endpoints AND every chain node the
          // walk traversed (a chain node at round k is some walker's label;
          // its root is that walker's final label) — flattening walked
          // chains is the amortized path compression that bounds future
          // walk depth to the merges since the last touch
          val trail = gens.drop(1).map(g =>
              g.join(frontier.withColumnRenamed("label", "__flabel"), Seq("node"))
                .select(col("label").as("node"), col("__flabel").as("label")))
            .foldLeft(frontier.select(col("node"), col("label")))(_ unionByName _)
            .dropDuplicates("node")
          val compress = trail
            .join(merged.withColumnRenamed("id", "label"), Seq("label"), "left")
            .select(col("node").as("id"),
              coalesce(col("group_id"), col("label")).as("parent"))
            .filter(col("id") =!= col("parent"))
          log.commit(batchId)(p => rootRows.unionByName(compress).dropDuplicates("id", "parent")
            .write.mode("append").parquet(p))
          rootEdges.unpersist()
          gens.foreach(_.unpersist())
          frontier.unpersist()
        }
      } finally pairs.unpersist()
    }
  }

  /** Converged (id, group_id) clusters of a [[dedupGroupsSink]]
    * directory — row-for-row the batch
    * [[graft.dedup.Dedup.connectedComponents]] answer over the union of
    * every pair batch, however the pairs were split across batches.
    *
    * Resolution exploits the forest invariant (parent < id, one rootless
    * min-id node per component, min-aggregation absorbing duplicate
    * appends): each id just follows parent pointers to its root, so the
    * loop is pure POINTER HALVING over the (id, parent) table — label :=
    * parent(label) with the halved table substituted each round,
    * O(log depth) self-joins, no edge symmetrization, no undirected
    * propagation, no per-round checkpoint. Per-batch path compression
    * keeps real depths ~1-2, so reads converge in 2-3 rounds.
    */
  def dedupGroupsSinkGroups(
      spark: SparkSession,
      dir: String,
      maxRounds: Int = 64): DataFrame = {
    val forest = dedupGroupsLog(spark, dir).read("labels").getOrElse {
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("id", "group_id")
    }
      .groupBy("id").agg(min("parent").as("parent"))
      .persist()
    // roots never carry a row of their own — they enter as their own group
    val roots = forest.select(col("parent").as("id"))
      .join(forest.select("id"), Seq("id"), "left_anti").distinct()
      .select(col("id"), col("id").as("label"))
    var labels = forest.select(col("id"), col("parent").as("label"))
      .unionByName(roots).persist()
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
    var lastSum = labelSum(labels)
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      // label := label(label): substituting the full halved table each
      // round doubles the resolved chain length per iteration
      val hop = labels.select(col("id").as("label"), col("label").as("plabel"))
      val next = labels.join(hop, Seq("label"), "left")
        .select(col("id"), coalesce(col("plabel"), col("label")).as("label"))
        .persist()
      val s = labelSum(next) // labels only decrease: stationary = resolved
      labels.unpersist()
      converged = s == lastSum
      lastSum = s
      labels = next
      rounds += 1
    }
    forest.unpersist()
    require(converged,
      s"dedupGroupsSinkGroups: resolution exceeded $maxRounds pointer-halving rounds — " +
        "forest deeper than 2^64 is impossible, so the state is corrupt")
    labels.select(col("id"), col("label").as("group_id"))
  }

  private def dedupGroupsLog(spark: SparkSession, dir: String) =
    new BatchLog(spark, dir, Seq("labels"), "dedup-groups", None, exactlyOnce = false,
      meta = "dg_meta")

  /** The restart refusal of the sinks whose parameters fix how new state
    * joins old ([[nearDupSink]]'s band layout, [[mediaPhashSink]]'s band
    * width, [[dedupGroupsSink]]'s pair columns).
    */
  private val JoinsIncompatible = "would join new state against incompatible old state"

  /** Streaming benchmark decontamination: flag arriving documents that
    * share at least `minShared` distinct token n-gram shingles with any
    * benchmark document — the ingestion-time form of
    * [[graft.dedup.Dedup.contaminationPairs]] (quarantine contaminated
    * docs BEFORE they land in the training corpus, instead of sweeping
    * later). Returns (doc_id, bench_id, n_shared) per contaminated pair,
    * identical to the batch operator on the same inputs.
    *
    * Deliberately STATELESS: the benchmark side is static and
    * suite-sized, so each bench doc's sorted shingle-hash set broadcasts
    * and every arriving doc evaluates |A∩B| per bench doc through the
    * one-pass [[graft.functions.SortedIntersectCount]] kernel — a
    * stream-static broadcast join with no aggregation, no watermark, no
    * state store. Append mode, per-row latency, works unchanged on a
    * batch DataFrame (the equality the catalog row's oracle checks).
    */
  def contaminationStream(
      docs: DataFrame, // streaming or batch: (doc_id, text, ...)
      benchmark: DataFrame, // static: (bench_id, text)
      minShared: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text",
      n: Int = 3): DataFrame = {
    import graft.internal.SqlBridge
    def hs(c: org.apache.spark.sql.Column) =
      SqlBridge.column(graft.functions.ShingleHashSet(SqlBridge.expression(c), n))
    val benchSets = benchmark.select(col(benchIdCol).as("bench_id"),
      hs(col(benchTextCol)).as("bhs"))
    docs.select(col(idCol).as("doc_id"), hs(col(textCol)).as("hs"))
      .crossJoin(broadcast(benchSets))
      .select(col("doc_id"), col("bench_id"),
        graft.dedup.Dedup.sortedIntersectCount(col("hs"), col("bhs")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Open the delta log of [[ivfMaintenanceSink]] and
    * [[ivfPqMaintenanceSink]] with its quantizer sidecars (centroids +
    * meta) as the fingerprint: write them if the directory is fresh,
    * otherwise VERIFY the passed quantizer matches the stored one and throw
    * on mismatch — existing delta rows were assigned under the stored
    * quantizer, so silently overwriting it would leave searches probing new
    * centroids against stale cell ids (a silent recall hole in a codebase
    * that otherwise fails loudly on exactly this class of mismatch).
    */
  private def ensureIvfSidecars(
      spark: SparkSession,
      indexDir: String,
      centroids: Array[Array[Float]],
      metric: String,
      spill: Int): BatchLog = {
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    val log = ivfLog(spark, indexDir)
    log.open(graft.knn.Ivf.loadQuantizerIfAny(spark, indexDir)) { case (existing, stored) =>
      require(existing.metric == metric && existing.spill == spill &&
        existing.c == centroids.length && existing.dim == dim,
        s"index at $indexDir is already maintained under (metric=${existing.metric}, " +
          s"spill=${existing.spill}, c=${existing.c}, dim=${existing.dim}); restarting the " +
          s"sink with (metric=$metric, spill=$spill, c=${centroids.length}, dim=$dim) would " +
          "rewrite the quantizer under delta rows assigned with the old one — delete the " +
          "directory (or retrain and compact explicitly) instead")
      require(stored.zip(centroids).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        s"index at $indexDir is already maintained with DIFFERENT centroid values — old " +
          "delta rows carry cell ids from the stored quantizer; refusing to overwrite it")
    } {
      graft.knn.Ivf.saveQuantizer(spark, indexDir, centroids,
        Some(graft.knn.Ivf.IvfMeta(metric, spill, centroids.length, dim)))
    }
    log
  }

  private def ivfLog(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("delta"), "maintained IVF", Some("compactIvfMaintained"),
      exactlyOnce = false)

  /** `foreachBatch` sink that maintains a persisted IVF index from a
    * stream of [[VectorOp]] mutations against FIXED centroids (the trained
    * quantizer). Each batch keeps one op per (id, version) — an
    * at-least-once redelivery collapses, while distinct versions of an id
    * all persist, so the delta log stays a full version history (the
    * [[ivfMaintainedStateAsOf]] contract). Every upsert is assigned to its
    * nearest cell(s) with its version carried through the same pass
    * ([[graft.knn.Ivf.assign]]'s cell selection, centroids broadcast) and
    * APPENDED as versioned delta rows partitioned by cell; removes append
    * cell-less tombstone rows. Nothing data-sized is rewritten per
    * micro-batch and nothing lands on the driver — the write cost of a
    * batch is the batch, which is what keeps this alive at 100 TB index
    * size (the HNSW sink rewrites touched graph artifacts; parquet cells
    * would mean rewriting whole cell partitions per batch). The current
    * assignment is reconstructed latest-version-wins by
    * [[ivfMaintainedState]]; re-training (centroid drift) and delta
    * compaction are the caller's trigger, mirroring the reference's
    * explicit partition lifecycle (`storage/dataset.go:238-348`: online
    * mutations route to fixed partitions; re-partitioning is a separate
    * operation).
    *
    * Writes the centroids + meta sidecar once at sink CONSTRUCTION (same
    * layout as [[graft.knn.Ivf.save]] minus the batch assignment), so the
    * index directory is self-describing from the first micro-batch. A
    * RESTART against an existing maintained directory must pass the SAME
    * quantizer: the sidecars are the contract old delta rows were assigned
    * under, so an existing sidecar is verified against the passed
    * (centroids, metric, spill, dim) and a mismatch throws — silently
    * overwriting it would leave old delta rows carrying cell ids from the
    * old quantizer while searches probe with the new one (a silent recall
    * hole). Pair with [[versionedOps]] upstream for cross-batch
    * stale-version safety; within a batch, [[ivfMaintainedState]]'s
    * version order decides.
    */
  def ivfMaintenanceSink(
      spark: SparkSession,
      indexDir: String,
      centroids: Array[Array[Float]],
      metric: String = "euclidean",
      spill: Int = 1): (Dataset[VectorOp], Long) => Unit = {
    val log = ensureIvfSidecars(spark, indexDir, centroids, metric, spill)

    (batch: Dataset[VectorOp], batchId: Long) => {
      val sess = batch.sparkSession
      // one row per (id, version): on an exact (id, version) tie the
      // remove sorts first — the same conservative read the view applies
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id", "version")
        .orderBy(col("op"), xxhash64(col("vector")))
      val ops = batch.toDF()
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        .persist()
      try {
        val assigned = graft.knn.Ivf
          .assignVersioned(sess, ops.filter(col("op") === "upsert"), centroids, metric, spill)
          .withColumn("op", lit("upsert"))
        val tombstones = ops.filter(col("op") === "remove")
          .select(col("id"), lit(-1).as("cell"), lit(null).cast("array<float>").as("vector"),
            col("version"), lit("remove").as("op"))
        // repartition on the partition column first: otherwise every write
        // task emits a file per cell it saw (tasks × cells files per
        // batch — the classic small-files explosion an S3 delta log at
        // corpus scale cannot absorb); after the shuffle each cell is
        // written by one task, so files ≈ cells
        log.commit(batchId)(p => assigned.unionByName(tombstones).repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(p))
      } finally ops.unpersist()
    }
  }

  // ------------------------------------------- maintained vector index views

  /** One resolution of a maintained vector index's delta log (IVF, IVF-PQ
    * and HNSW): each id's winning rows under [[MaintainedView.latestWins]].
    * Every reader, gauge, compaction and retrain takes one, resolved once
    * per call; a call that uses the winners twice runs on it [[cached]],
    * and the cache never outlives the call. `rows` keeps tombstones
    * (compaction must persist them, or a post-compaction stale upsert
    * would resurrect the removed vector) and HNSW compaction guards.
    */
  private[streaming] final class MaintainedView private (val rows: DataFrame) {
    private def has(c: String) = rows.columns.contains(c)

    /** The winners the delta serves itself: all but compaction guards. */
    def overriding: DataFrame = if (has("guard")) rows.filter(!col("guard")) else rows

    def live: DataFrame = overriding.filter(col("op") === "upsert")

    /** The live rows as (id, cell, vector) — the input
      * [[graft.knn.Ivf.search]] takes with the directory's centroids.
      */
    def state: DataFrame = live.select(col("id"), col("cell").cast("int"), col("vector"))

    /** [[state]] plus `pq_codes` — the input [[graft.knn.Pq.search]] takes;
      * a log without codes fails analysis.
      */
    def pqState: DataFrame =
      live.select(col("id"), col("cell").cast("int"), col("vector"), col("pq_codes"))

    /** (id, op) of every overriding winner, on the driver: bounded by the
      * ids mutated since the last compaction, not by the index.
      */
    def overrides: Array[(Long, String)] = {
      val spark = rows.sparkSession
      import spark.implicits._
      overriding.select(col("id").cast("long"), col("op")).as[(Long, String)].collect()
    }

    /** [[overrides]] together with the (qid, id, dist) candidates `scan`
      * finds among the live rows, in ONE pass over the view: each task
      * streams its partition's live rows through `scan` and records only
      * the (id, op) of every winner it passes, so the delta resolves once
      * without a cache and task memory holds ids, not vectors.
      */
    def overridesWith(scan: Iterator[(Long, Array[Float])] => Iterator[(Long, Long, Double)])
        : (Array[(Long, String)], Array[(Long, Long, Double)]) = {
      val spark = rows.sparkSession
      import spark.implicits._
      val parts = overriding
        .select(col("id").cast("long"), col("op"), col("vector").cast("array<float>"))
        .as[(Long, String, Array[Float])]
        .mapPartitions { it =>
          val ids = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
          val live = it.flatMap { case (id, op, v) =>
            ids += ((id, op))
            if (op == "upsert") Iterator.single((id, v)) else Iterator.empty
          }
          val found = scan(live).toArray
          live.foreach(_ => ()) // a scan that stops early still records every winner
          Iterator.single((ids.toArray, found))
        }
        .collect()
      (parts.flatMap(_._1), parts.flatMap(_._2))
    }

    /** `f` over this view cached, released when `f` returns. */
    def cached[T](f: MaintainedView => T): T = {
      val c = new MaintainedView(rows.persist())
      try f(c) finally c.rows.unpersist()
    }
  }

  private[streaming] object MaintainedView {

    /** Resolve `log`'s `delta` as of mutation version `asOf` (inclusive;
      * None = the current view); None while no batch is committed.
      *
      * Compaction collapses history to each id's winning rows: any id
      * mutated after `v` has lost its at-`v` state once those winners fold
      * into `batch=compacted`. The newest compacted version is therefore
      * the time-travel horizon — at or above it every compacted winner
      * already satisfies version <= v (an exact read); below it the read
      * would silently miss overwritten or removed state, so it is refused,
      * naming the log's compaction call. (The partition column is
      * int-inferred while no compacted batch exists — the string cast
      * makes the filter well-typed in both layouts.)
      */
    def open(log: BatchLog, asOf: Option[Long] = None): Option[MaintainedView] =
      log.read("delta").map { delta =>
        val scoped = asOf.fold(delta) { v =>
          val floor = delta.filter(col("batch").cast("string") === "compacted")
            .agg(max(col("version"))).head().get(0)
          if (floor != null) require(v >= floor.asInstanceOf[Long],
            s"as-of version $v predates the compaction horizon $floor of ${log.root} — history " +
              s"below the newest compacted version was collapsed by ${log.resume.mkString} and " +
              "cannot be replayed; keep the delta log un-compacted as far back as reads need")
          delta.filter(col("version") <= v)
        }
        new MaintainedView(latestWins(scoped, "id"))
      }

    /** The one latest-wins rule of every versioned delta log (IVF, IVF-PQ,
      * HNSW and BM25): per `key`, rank over (version desc, op asc, guard
      * desc, payload hash asc, batch asc), keep rank 1, then drop
      * re-emitted duplicates per (key, cell).
      *  - 'remove' beats 'upsert' on an exact version tie: the conservative
      *    read of a malformed stream (a [[versionedOps]]-fed sink never
      *    produces one).
      *  - A compaction guard beats a replayed row of its version: both are
      *    correct (the guard serves the id from base, the replay from the
      *    delta with the identical vector), and the guard keeps replays
      *    after a compaction from growing the override set.
      *  - Equal-version upserts with different payloads (the same
      *    (id, version) delivered twice with different vectors or texts)
      *    resolve to the lowest payload hash, in every index alike, so an
      *    id never serves two payloads. Where the payload is null (a
      *    codes-only PQ log stores no vector) the earliest delivering batch
      *    wins.
      *
      * The payload is whichever of `vector`, `text_hash` the log holds —
      * never `pq_codes`: residual codes encode vector − centroid, so they
      * differ per cell. Every tie-break column is one a spilled delivery's
      * replicas share, so all its cell rows survive (rank, not
      * row_number). A log without `guard` reads it as false, one without
      * `cell` as one cell, one without `batch` as one batch.
      */
    def latestWins(log: DataFrame, key: String): DataFrame = {
      def has(c: String) = log.columns.contains(c)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(key).orderBy(
        Seq(col("version").desc, col("op").asc,
          (if (has("guard")) col("guard") else lit(false)).desc,
          xxhash64(Seq("vector", "text_hash").filter(has).map(col): _*).asc) ++
          Seq("batch").filter(has).map(col(_).cast("string").asc): _*)
      log.withColumn("__rk", rank().over(w)).filter(col("__rk") === 1).drop("__rk")
        .dropDuplicates(key +: Seq("cell").filter(has))
    }
  }

  /** The view of an [[ivfMaintenanceSink]] or [[ivfPqMaintenanceSink]]
    * directory; a log with no committed batch is refused.
    */
  private def ivfView(spark: SparkSession, indexDir: String, asOf: Option[Long] = None): MaintainedView =
    MaintainedView.open(ivfLog(spark, indexDir), asOf).getOrElse(throw new IllegalStateException(
      s"maintained IVF delta log at $indexDir/delta has no committed batch — nothing to serve"))

  /** The CURRENT assignment of an [[ivfMaintenanceSink]] directory: each
    * live id's winning rows (a spilled upsert keeps all its cell rows) as
    * (id, cell, vector) — plus `pq_codes` in an [[ivfPqMaintenanceSink]]
    * directory. An id whose winning version carries a tombstone is dropped.
    * Feed it straight to [[graft.knn.Ivf.search]]/[[graft.knn.Ivf.searchDF]]
    * with the directory's centroids.
    */
  def ivfMaintainedState(spark: SparkSession, indexDir: String): DataFrame =
    ivfView(spark, indexDir).state

  /** TIME-TRAVEL view of a maintained IVF index: the assignment as of
    * mutation version `asOfVersion` (inclusive) — the delta log is an
    * append-only versioned history, so any past state at or above the
    * compaction horizon reconstructs exactly: filter the log to
    * version <= asOfVersion, then the same latest-wins resolution the
    * current view uses. Reads BELOW the horizon fail loudly (compaction
    * collapsed that history; see [[MaintainedView.open]]). Reproducible
    * evaluation is the point: "which vectors did the index serve when
    * run X queried it" stays answerable after the corpus moves on.
    */
  def ivfMaintainedStateAsOf(spark: SparkSession, indexDir: String, asOfVersion: Long): DataFrame =
    ivfView(spark, indexDir, Some(asOfVersion)).state

  /** Compact an [[ivfMaintenanceSink]] delta log to each id's winning rows
    * (upserts AND tombstones): read cost of the maintained view stops
    * growing with mutation history. Run while the maintenance stream is
    * STOPPED (the [[BatchLog]] swap and a concurrent micro-batch append
    * race); re-running it resumes an interrupted swap.
    */
  def compactIvfMaintained(spark: SparkSession, indexDir: String): Unit =
    ivfLog(spark, indexDir).compact("delta") { seg =>
      ivfView(spark, indexDir).rows
        .drop("batch") // discovered partition column; compacted history is one pseudo-batch
        .repartition(col("cell")) // one writer per cell: files ≈ cells, not tasks × cells
        .write.partitionBy("cell").parquet(seg)
    }

  private def deltaToBaseRatio(deltaBytes: Long, baseBytes: Long): Double =
    if (deltaBytes == 0L) 0.0
    else if (baseBytes == 0L) Double.PositiveInfinity
    else deltaBytes.toDouble / baseBytes

  /** Operational gauge for the IVF maintenance log: bytes of un-compacted
    * delta batches relative to the compacted history, read from the
    * completeness manifest alone — no data scan, no Spark job. 0.0 for an
    * empty log; Double.PositiveInfinity when fresh batches sit over no
    * compacted history (a never-compacted log is always worth one pass).
    */
  def ivfMaintainedDeltaRatio(spark: SparkSession, indexDir: String): Double = {
    val (fresh, compacted) = ivfLog(spark, indexDir).bytes("delta")
    deltaToBaseRatio(fresh, compacted)
  }

  /** [[compactIvfMaintained]] gated on [[ivfMaintainedDeltaRatio]]: the
    * one-call maintenance form — compact only when the un-compacted log
    * has grown past `maxDeltaRatio` of the compacted history, so a
    * scheduled job can invoke it unconditionally after every batch window
    * without paying a full-history rewrite each time. Returns (measured
    * ratio, whether a compaction ran).
    */
  def compactIvfIfNeeded(
      spark: SparkSession,
      indexDir: String,
      maxDeltaRatio: Double = 0.25): (Double, Boolean) = {
    require(maxDeltaRatio >= 0, s"maxDeltaRatio must be non-negative, got $maxDeltaRatio")
    // an interrupted compaction swap: its ratio is unknowable until the
    // swap completes — finish it instead of throwing the gauge's error
    if (ivfLog(spark, indexDir).resumeSwap("delta")) return (Double.NaN, true)
    val ratio = ivfMaintainedDeltaRatio(spark, indexDir)
    if (ratio > maxDeltaRatio) { compactIvfMaintained(spark, indexDir); (ratio, true) }
    else (ratio, false)
  }

  /** Re-train signal for a maintained IVF index: the fraction of live ids
    * whose CURRENT nearest centroid is not among their stored cells — the
    * quantizer-drift metric a caller thresholds to decide when the fixed
    * centroids no longer fit the mutated corpus (the sink assigns against
    * fixed centroids by design; re-training is an explicit operation,
    * like the reference's separate re-partition path). One distributed
    * pass over the maintained view (centroids broadcast); at spill > 1 it
    * adds one id-keyed shuffle to reconcile the spill replicas — at the
    * default spill = 1 the view holds one row per live id and the pass is
    * fully narrow. Returns 0.0 for an empty view.
    */
  def ivfMaintainedDrift(spark: SparkSession, indexDir: String): Double =
    ivfMaintainedQuantStats(spark, indexDir, "drift-measured", ivfView(spark, indexDir)).drift

  /** What one pass over a maintained view measured against the directory's
    * quantizer: ids whose nearest cell is not stored, summed
    * nearest-centroid distance, live ids.
    */
  private case class QuantStats(drifted: Long, sumDist: Double, n: Long) {
    def drift: Double = if (n == 0) 0.0 else drifted.toDouble / n
    def meanErr: Double = if (n == 0) 0.0 else sumDist / n
  }

  /** Nearest centroid of `v` as (cell, distance), ties → lowest cell:
    * [[graft.knn.Ivf.assign]]'s own cell selection (the exact double
    * kernel can flip near-boundary argmins relative to the SIMD kernel,
    * giving the gauges a spurious nonzero floor).
    */
  private def nearestCentroid(m: Int, v: Array[Float], cs: Array[Array[Float]]): (Int, Double) = {
    val dists = graft.knn.Ivf.centroidDistances(m, v, cs)
    val best = graft.knn.Ivf.nearestCells(dists, 1)(0)
    // no distance below Double.MaxValue (NaN component, overflow): the
    // fallback cell reports Double.MaxValue
    (best, if (dists(best) < Double.MaxValue) dists(best) else Double.MaxValue)
  }

  /** One distributed pass over the maintained view: per live id the
    * nearest centroid ([[nearestCentroid]]), aggregated to [[QuantStats]].
    */
  private def ivfMaintainedQuantStats(
      spark: SparkSession, indexDir: String, what: String, view: MaintainedView): QuantStats = {
    import spark.implicits._
    val (meta, centroids) = graft.knn.Ivf.loadQuantizer(spark, indexDir)
    requireFullPrecisionView(spark, indexDir, what)
    val m = graft.core.Distances.metricId(meta.metric)
    val bc = spark.sparkContext.broadcast(centroids)
    val typed = view.state
      .select(col("id").cast("long"), col("cell").cast("int"), col("vector").cast("array<float>"))
      .as[(Long, Int, Array[Float])]
    // spill == 1 ⇒ the latest-wins view holds EXACTLY one stored cell row
    // per live id (it keeps one payload per id and dedupes re-emitted rows
    // per (id, cell)), so the per-id argmin needs no id-keyed regroup —
    // one NARROW pass, the id shuffle the typed groupByKey below pays (its lambda key is opaque to the planner, so
    // the view's window partitioning is never reused) disappears. At corpus
    // scale that is a full pass over the index saved per drift gauge.
    // spill > 1 keeps the grouped path: replicas must reconcile per id.
    val perId = if (meta.spill == 1) {
      typed.mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (_, cell, v) =>
          val (best, dist) = nearestCentroid(m, v, cs)
          (if (cell == best) 0L else 1L, dist)
        }
      }
    } else typed
      .groupByKey(_._1)
      .mapGroups { (_, rows) =>
        val rs = rows.toArray // spill replicas: one row per stored cell
        val (best, dist) = nearestCentroid(m, rs.head._3, bc.value)
        (if (rs.exists(_._2 == best)) 0L else 1L, dist)
      }
    val agg = perId.toDF("drifted", "dist").agg(
      coalesce(sum("drifted"), lit(0L)),
      coalesce(sum("dist"), lit(0.0)), count(lit(1))).head()
    QuantStats(agg.getLong(0), agg.getDouble(1), agg.getLong(2))
  }

  /** Mean nearest-centroid distance over the maintained view's live ids —
    * the ORGANIC re-train signal. [[ivfMaintainedDrift]]'s cell-mismatch
    * metric can only fire when centroids were swapped out-of-band (the
    * sink assigns every upsert against the centroids it stores, so
    * nearest-cell-is-stored holds by construction); when the CORPUS
    * migrates away from the quantizer, what grows is this quantization
    * error. Compare against the reference recorded at a known-good time
    * ([[markIvfQuantReference]]) — [[retrainIfQuantDrifted]] is the
    * composed gate. 0.0 for an empty view.
    */
  def ivfMaintainedQuantError(spark: SparkSession, indexDir: String): Double =
    ivfMaintainedQuantStats(spark, indexDir, "quant-error-measured", ivfView(spark, indexDir)).meanErr

  /** Record the CURRENT mean quantization error as the reference a later
    * [[retrainIfQuantDrifted]] compares against — call once after the
    * initial load (and after any manual retrain; [[retrainIvfMaintained]]
    * refreshes it automatically when one exists). tmp+rename swap: a
    * crash mid-write leaves either the old reference or the new one,
    * never a missing sidecar. Returns the recorded error.
    */
  def markIvfQuantReference(spark: SparkSession, indexDir: String): Double = {
    val err = ivfMaintainedQuantError(spark, indexDir)
    writeQuantRef(spark, indexDir, err)
    err
  }

  /** The quant_ref sidecar swap, factored so a retrain can re-baseline
    * from a value it already computed (see [[meanQuantErrorOver]]) instead
    * of re-reading the freshly swapped delta log end to end.
    */
  private def writeQuantRef(spark: SparkSession, indexDir: String, err: Double): Unit = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmp = s"$indexDir/quant_ref.tmp"
    graft.io.HadoopIO.delete(tmp, hconf)
    Seq(err).toDF("ref_err").coalesce(1).write.parquet(tmp)
    graft.io.HadoopIO.delete(s"$indexDir/quant_ref", hconf)
    graft.io.HadoopIO.rename(tmp, s"$indexDir/quant_ref", hconf)
  }

  /** Mean nearest-centroid distance of `vecs` (ONE row per id, `vector`
    * column) against `centroids` — the same kernel and value
    * [[ivfMaintainedQuantError]] measures from a maintained directory,
    * computed as one NARROW broadcast pass over an already-resolved view.
    * The retrain uses it to refresh quant_ref from the `liveOne`
    * relation it is already holding persisted: one fewer full
    * delta-log read + latest-wins window + id-keyed shuffle per retrain,
    * which at corpus scale is a full extra pass over the index.
    */
  private def meanQuantErrorOver(
      spark: SparkSession,
      vecs: DataFrame,
      centroids: Array[Array[Float]],
      metric: String): Double = {
    import spark.implicits._
    val m = graft.core.Distances.metricId(metric)
    val bc = spark.sparkContext.broadcast(centroids)
    val agg = vecs.select(col("vector").cast("array<float>"))
      .as[Array[Float]]
      .mapPartitions { it =>
        val cs = bc.value
        it.map(v => nearestCentroid(m, v, cs)._2)
      }
      .toDF("d").agg(coalesce(sum("d"), lit(0.0)), count(lit(1))).head()
    if (agg.getLong(1) == 0) 0.0 else agg.getDouble(0) / agg.getLong(1)
  }

  private[graft] def loadIvfQuantReference(spark: SparkSession, indexDir: String): Option[Double] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // a surviving tmp with no live sidecar is a torn swap — finish it
    if (!graft.io.HadoopIO.exists(s"$indexDir/quant_ref", hconf) &&
        graft.io.HadoopIO.exists(s"$indexDir/quant_ref.tmp", hconf))
      graft.io.HadoopIO.rename(s"$indexDir/quant_ref.tmp", s"$indexDir/quant_ref", hconf)
    if (!graft.io.HadoopIO.exists(s"$indexDir/quant_ref", hconf)) None
    else Some(graft.io.LocalParquet.read(spark, s"$indexDir/quant_ref").head.getDouble(0))
  }

  /** The ORGANIC drift loop: retrain when the maintained view's mean
    * quantization error has grown past `maxErrRatio` × the recorded
    * reference ([[markIvfQuantReference]] — absent reference fails
    * loudly: without a baseline the ratio is meaningless and a silent
    * pass would let a drifting index degrade forever). On retrain the
    * reference refreshes to the rebuilt index's error. A shrunken error
    * never triggers. Returns (measured ratio, whether a retrain ran);
    * ratio is NaN for an empty view over a zero reference, 0 for an
    * empty view otherwise.
    */
  def retrainIfQuantDrifted(
      spark: SparkSession,
      indexDir: String,
      maxErrRatio: Double = 1.5,
      c: Int = 0,
      iterations: Int = 2,
      seed: Long = 42L,
      refitRotation: Boolean = false,
      sampleFraction: Double = 1.0): (Double, Boolean) = {
    require(maxErrRatio > 0, s"maxErrRatio must be positive, got $maxErrRatio")
    val ref = loadIvfQuantReference(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"no quant_ref sidecar under $indexDir — record one with markIvfQuantReference " +
          "after the initial load (comparing against nothing would silently never retrain)"))
    // the gauge and (when the gate fires) the retrain share one cached
    // view instead of each re-reading the delta log — at corpus scale one
    // full pass saved per fired gate
    ivfView(spark, indexDir).cached { view =>
      val stats = ivfMaintainedQuantStats(spark, indexDir, "quant-error-measured", view)
      val cur = stats.meanErr
      val ratio = if (ref == 0.0) { if (cur == 0.0) 0.0 else Double.PositiveInfinity }
        else cur / ref
      // the retrain re-baselines quant_ref (the sidecar existed — we just
      // loaded it — so the rebuilt directory carries a new one); the gauge
      // counted the view's live ids, so the retrain skips its own check
      if (ratio > maxErrRatio)
        retrain(spark, indexDir, view, c, iterations, seed, sampleFraction, refitRotation, pq = None,
          liveIds = Some(stats.n))
      (ratio, ratio > maxErrRatio)
    }
  }

  /** Close the drift loop [[ivfMaintainedDrift]] measures: re-train the
    * quantizer FROM the maintained view, re-assign every live vector to the
    * new centroids distributedly, and atomically swap the index directory
    * ([[retrain]] states the protocol) — the operator form of the
    * "centroids no longer fit the mutated corpus" runbook. Run while the
    * maintenance stream is STOPPED (like [[compactIvfMaintained]]); restart
    * the stream afterwards with the RETURNED centroids — the sidecar guard
    * will refuse the old ones. A PQ-maintained directory is refused: it
    * retrains through [[retrainIvfPqMaintained]].
    *
    * `c` = 0 keeps the current centroid count. `sampleFraction < 1` runs
    * every training pass over [[graft.knn.Ivf.train]]'s deterministic
    * md5-bucket subsample — the cheap-retrain lever (assignment always
    * sees the full view). Returns the new centroids.
    */
  def retrainIvfMaintained(
      spark: SparkSession,
      indexDir: String,
      c: Int = 0,
      iterations: Int = 2,
      seed: Long = 42L,
      sampleFraction: Double = 1.0): Array[Array[Float]] =
    retrainOrResume(spark, indexDir)(
      retrain(spark, indexDir, _, c, iterations, seed, sampleFraction, refitRotation = false,
        pq = Some(false)))

  /** A public retrain's first step: when `indexDir` is gone but
    * `<indexDir>.retrain` holds its meta marker, an earlier retrain died
    * between delete and rename — finish the rename and return the
    * swapped-in centroids. Otherwise run `retrain` over the directory's
    * cached view.
    */
  private def retrainOrResume(spark: SparkSession, indexDir: String)(
      retrain: MaintainedView => Array[Array[Float]]): Array[Array[Float]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmpDir = s"$indexDir.retrain"
    if (graft.io.HadoopIO.exists(indexDir, hconf)) ivfView(spark, indexDir).cached(retrain)
    else {
      require(graft.io.HadoopIO.exists(tmpDir, hconf) &&
        graft.io.HadoopIO.exists(s"$tmpDir/meta", hconf),
        s"$indexDir does not exist and $tmpDir is absent or incomplete — not a maintained " +
          "IVF directory (or an unrecoverable state)")
      graft.io.HadoopIO.rename(tmpDir, indexDir, hconf)
      graft.knn.Ivf.loadQuantizer(spark, indexDir)._2
    }
  }

  /** The one retrain of a maintained IVF directory, raw or PQ — the
    * directory decides: the PQ steps run only when it holds a
    * `pq_maintained` sidecar. Mirrors the reference's split between online
    * mutation routing and explicit re-partitioning (anndb
    * `storage/dataset.go:238-348`).
    *
    * Complete-then-swap protocol:
    *  1. Resume: a public retrain first finishes an interrupted swap
    *     ([[retrainOrResume]]). A leftover `<indexDir>.retrain` is a stale
    *     partial build: drop it.
    *  1. Take the live rows of the caller's (cached) view, one row per
    *     live id, persisted; refuse an empty view.
    *  1. Train the centroids on it (PQ: after the codebook and rotation
    *     steps below), assign every live vector, and keep each tombstone
    *     winner with its version, so a stale post-retrain upsert still
    *     cannot resurrect a removed vector.
    *  1. Build the new index COMPLETE under `<indexDir>.retrain`: the
    *     delta log as one whole batch ([[BatchLog.writeWhole]]), the PQ
    *     sidecars, the re-baselined quant_ref (only when the index had
    *     one — a quant-monitored index stays monitored), then
    *     [[graft.knn.Ivf.saveQuantizer]]: centroids, meta row LAST as the
    *     completeness marker.
    *  1. Swap with one delete + rename of the top-level directory — never
    *     a window where new centroids sit over old cell assignments (the
    *     silent-recall hole the sidecar guard closes) or vice versa. A
    *     crash between delete and rename leaves no index directory: loads
    *     fail loudly, and the next retrain call resumes (step 1).
    *
    * PQ steps: a codes-only directory is refused (codes cannot re-derive
    * vector geometry); with `refitRotation` the OPQ rotation is re-fit on
    * the live view and composed onto the frozen one, and the codebooks are
    * re-trained in the refit coordinates — otherwise codebooks and any
    * rotation carry over; every live vector is re-encoded against the new
    * centroids (residual codes depend on them).
    *
    * `pq` = Some(kind) is a public entry point that serves only that kind
    * of directory; None lets the directory decide (the drift gates;
    * [[retrainIfQuantDrifted]] passes the view its gauge measured, and as
    * `liveIds` the live ids the gauge counted on it, so the empty-view
    * refusal needs no job of its own; None counts them here).
    */
  private def retrain(
      spark: SparkSession,
      indexDir: String,
      view: MaintainedView,
      c: Int,
      iterations: Int,
      seed: Long,
      sampleFraction: Double,
      refitRotation: Boolean,
      pq: Option[Boolean],
      liveIds: Option[Long] = None): Array[Array[Float]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmpDir = s"$indexDir.retrain"
    graft.io.HadoopIO.delete(tmpDir, hconf)

    val meta = graft.knn.Ivf.loadQuantizer(spark, indexDir)._1
    val flags = loadIvfPqFlags(spark, indexDir)
    flags match {
      case None =>
        if (pq.contains(true)) throw new IllegalStateException(
          s"no pq_maintained sidecar under $indexDir — not a PQ-maintained dir")
        require(!refitRotation,
          s"refitRotation: $indexDir is not PQ-maintained — no rotation sidecar to re-fit")
      case Some(f) =>
        require(!pq.contains(false),
          s"index at $indexDir is PQ-maintained — retrain it with retrainIvfPqMaintained (this " +
            "path would silently drop the codes and PQ sidecars from the rebuilt directory)")
        require(f.storeVectors,
          s"index at $indexDir is maintained codes-only (storeVectors=false): PQ codes cannot " +
            "re-derive vector geometry, so the quantizer cannot be re-trained from the maintained " +
            "view — re-build from the source-of-truth corpus instead (this is the documented " +
            "trade of the m-byte tier)")
    }
    val stored = flags.map(f => (f, graft.knn.Pq.loadCodebooks(spark, indexDir)))
    // one row per live id (spill replicas share the vector and version)
    val liveOne = view.live.dropDuplicates("id")
      .select(col("id").cast("long"), col("vector").cast("array<float>"), col("version"))
      .persist()
    var refitPersisted: Option[DataFrame] = None
    try {
      require(liveIds.getOrElse(liveOne.limit(1).count()) > 0,
        s"maintained view at $indexDir is empty — nothing to re-train the quantizer on")

      // incremental OPQ (Ge et al. 2013 fit, composed): the stored vectors
      // are in the FROZEN rotation's coordinates, so a fresh rotation
      // fitted on the maintained view composes onto it (Opq.compose) —
      // consumers still hold ONE opq_rot sidecar and the re-encode below
      // runs in the refit coordinates, with codebooks RE-TRAINED there
      // (a refit exists to re-balance the subspaces; carrying the stale
      // codebooks would re-encode against geometry the fit just moved)
      val refit = if (refitRotation) {
        require(graft.knn.Opq.savedRotation(spark, indexDir),
          s"refitRotation: no OPQ rotation sidecar under $indexDir — nothing to re-fit " +
            "(train one with Opq.train and rebuild, or retrain without the flag)")
        val frozen = graft.knn.Opq.loadModel(spark, indexDir)
        val fresh = graft.knn.Opq.train(liveOne.select("id", "vector"), frozen.m)
        val r = graft.knn.Opq.rotate(liveOne, fresh).persist()
        refitPersisted = Some(r)
        Some((r, graft.knn.Opq.compose(fresh, frozen)))
      } else None
      val live = refit.map(_._1).getOrElse(liveOne)
      val pqUsed = stored.map { case (f, cb) => (f, if (refit.isEmpty) cb
        else graft.knn.Pq.train(spark, live.select("id", "vector"), cb.m, cb.ksub,
          iterations, seed = seed)) }

      val newC = if (c > 0) c else meta.c
      val centroids = graft.knn.Ivf.train(spark, live.select("id", "vector"), newC,
        meta.metric, iterations, seed = seed, sampleFraction = sampleFraction)
      val assigned = graft.knn.Ivf
        .assignVersioned(spark, live, centroids, meta.metric, meta.spill)
      val (rows, codes) = pqUsed match {
        case Some((f, cb)) => (if (f.residual) graft.knn.Pq.encodeResidual(assigned, centroids, cb)
          else graft.knn.Pq.encode(assigned, cb), Seq("pq_codes"))
        case None => (assigned, Nil)
      }
      val upserts = rows
        .select(Seq(col("id"), col("cell"), col("vector")) ++ codes.map(col) ++
          Seq(col("version"), lit("upsert").as("op")): _*)
      val tombstones = view.rows.filter(col("op") === "remove")
        .select(Seq(col("id"), lit(-1).as("cell"), lit(null).cast("array<float>").as("vector")) ++
          codes.map(lit(null).cast("binary").as(_)) ++ Seq(col("version"), col("op")): _*)
      BatchLog.writeWhole(s"$tmpDir/delta", "retrained", hconf)(seg =>
        upserts.unionByName(tombstones)
          .repartition(col("cell")) // files ≈ cells, not tasks × cells
          .write.partitionBy("cell").parquet(seg))
      pqUsed.foreach { case (f, cb) =>
        graft.knn.Pq.saveCodebooks(spark, cb, tmpDir, f.residual)
        writeIvfPqFlags(spark, tmpDir, f)
        // an OPQ-rotated index without refitRotation: the stored vectors
        // (and the centroids just trained from them) are in ROTATED
        // coordinates, so the frozen rotation rides along unchanged; with
        // refitRotation the COMPOSED model (fresh ∘ frozen) is the new
        // original-space contract
        refit match {
          case Some((_, composed)) => graft.knn.Opq.saveModel(spark, composed, tmpDir)
          case None =>
            if (graft.knn.Opq.savedRotation(spark, indexDir))
              graft.knn.Opq.saveModel(spark, graft.knn.Opq.loadModel(spark, indexDir), tmpDir)
        }
      }
      // re-baseline from the already-persisted live view (rotated when the
      // rotation was refit — exactly what the rebuilt index stores), not a
      // re-read of the log just written
      if (graft.io.HadoopIO.exists(s"$indexDir/quant_ref", hconf) ||
          graft.io.HadoopIO.exists(s"$indexDir/quant_ref.tmp", hconf))
        writeQuantRef(spark, tmpDir,
          meanQuantErrorOver(spark, live.select("id", "vector"), centroids, meta.metric))
      graft.knn.Ivf.saveQuantizer(spark, tmpDir, centroids,
        Some(meta.copy(c = centroids.length, rows = -1L)))

      graft.io.HadoopIO.delete(indexDir, hconf)
      graft.io.HadoopIO.rename(tmpDir, indexDir, hconf)
      centroids
    } finally {
      refitPersisted.foreach(_.unpersist())
      liveOne.unpersist()
    }
  }

  /** The closed drift loop in one call: measure [[ivfMaintainedDrift]]
    * and, when it exceeds `threshold`, re-train + atomically swap via
    * [[retrain]] (raw or PQ, as the directory holds). Returns (measured
    * drift, whether a retrain ran) — the maintenance-job form, so the
    * measure→decide→retrain pipeline (with its tombstone and
    * crash-recovery subtleties) never has to be hand-composed. Run it after
    * each compaction window; a restarted sink must then be constructed
    * with the NEW centroids (the sidecar guard refuses the stale ones).
    */
  def retrainIfDrifted(
      spark: SparkSession,
      indexDir: String,
      threshold: Double = 0.3,
      c: Int = 0,
      iterations: Int = 2,
      seed: Long = 42L,
      refitRotation: Boolean = false,
      sampleFraction: Double = 1.0): (Double, Boolean) = {
    require(threshold >= 0, s"threshold must be non-negative, got $threshold")
    // the quiet path (the common one) measures on an uncached view; only a
    // firing gate resolves the view again, cached, for the retrain
    val drift = ivfMaintainedQuantStats(spark, indexDir, "drift-measured", ivfView(spark, indexDir)).drift
    if (drift > threshold) ivfView(spark, indexDir).cached(
      retrain(spark, indexDir, _, c, iterations, seed, sampleFraction, refitRotation, pq = None))
    (drift, drift > threshold)
  }

  /** Search an [[ivfMaintenanceSink]] directory, self-configured from its
    * meta sidecar (training metric, spill ⇒ dedupe) — the streaming
    * counterpart of [[graft.knn.Ivf.searchSaved]]. The converged result
    * over a quiesced stream equals the batch [[graft.knn.Ivf.search]] over
    * the surviving vectors with the same centroids: assignment is a pure
    * function of (vector, centroids). With `asOf = Some(v)` the search
    * runs over the [[ivfMaintainedStateAsOf]] time-travel view at
    * mutation version v instead of the latest maintained view.
    *
    * One pass over the resolved view keeps per-partition heaps, k-merged
    * on the driver ([[graft.knn.Ivf.search]], the reference's
    * `storage/dataset.go:349-433` shape): the view's shuffle and that pass
    * are the call's two Spark jobs. Each view partition sends at most k
    * rows per query to the driver, which folds them as its task finishes
    * and keeps k per query. The search runs when called and returns
    * a local relation. Refuses `k` or `nprobe` below 1 and a repeated qid
    * before reading anything.
    */
  def searchIvfMaintained(
      spark: SparkSession,
      indexDir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      asOf: Option[Long] = None): DataFrame = {
    graft.knn.Ivf.requireSearchArgs(queries, k, nprobe)
    val (meta, centroids) = graft.knn.Ivf.loadQuantizer(spark, indexDir)
    graft.knn.Ivf.requireQueryDim(queries, meta.dim)
    requireFullPrecisionView(spark, indexDir, "searched at full precision")
    graft.knn.Ivf.search(spark, ivfView(spark, indexDir, asOf).state, centroids,
      queries, k, nprobe, meta.metric, dedup = meta.spill > 1)
  }

  /** A codes-only PQ-maintained directory has NO full-precision vectors in
    * its view — full-precision consumers (raw IVF search, drift) must fail
    * loudly instead of scanning nulls.
    */
  private def requireFullPrecisionView(
      spark: SparkSession, indexDir: String, what: String): Unit =
    loadIvfPqFlags(spark, indexDir).foreach { flags =>
      require(flags.storeVectors,
        s"index at $indexDir is PQ-maintained codes-only (storeVectors=false) and cannot be " +
          s"$what — the view holds m-byte codes, not vectors; use searchIvfPqMaintained")
    }

  /** [[searchIvfMaintained]] with a DataFrame query side — the
    * corpus-vs-corpus shape over a maintained index: per-query probe cells
    * computed distributed (centroids broadcast), per-cell cogroup against
    * the reconstructed view, nothing driver-resident. Self-configures from
    * the meta sidecar like the array-side path.
    */
  def searchIvfMaintainedDF(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nprobe: Int,
      asOf: Option[Long] = None): DataFrame = {
    val (meta, centroids) = graft.knn.Ivf.loadQuantizer(spark, indexDir)
    val checked = graft.knn.Ivf.checkQueryDim(queries, meta.dim)
    requireFullPrecisionView(spark, indexDir, "searched at full precision")
    graft.knn.Ivf.searchDF(ivfView(spark, indexDir, asOf).state, centroids,
      checked, k, nprobe, meta.metric, dedup = meta.spill > 1)
  }

  // ---------------------------------------------- IVF×PQ delta maintenance

  /** Flags of a PQ-maintained IVF directory, beyond what `pq_books`
    * records: whether codes are residual (IVFADC) and whether full-
    * precision vectors ride in the delta (rescore + retrain capability)
    * or only the m-byte codes do (the memory-bounded serving tier).
    */
  private case class IvfPqMaintainedFlags(residual: Boolean, storeVectors: Boolean)

  private def loadIvfPqFlags(spark: SparkSession, indexDir: String): Option[IvfPqMaintainedFlags] =
    if (!graft.io.HadoopIO.exists(s"$indexDir/pq_maintained",
        spark.sparkContext.hadoopConfiguration)) None
    else {
      val r = graft.io.LocalParquet.read(spark, s"$indexDir/pq_maintained").head
      Some(IvfPqMaintainedFlags(r.getBoolean(r.fieldIndex("residual")),
        r.getBoolean(r.fieldIndex("store_vectors"))))
    }

  private def writeIvfPqFlags(spark: SparkSession, dir: String, flags: IvfPqMaintainedFlags): Unit = {
    import spark.implicits._
    Seq((flags.residual, flags.storeVectors)).toDF("residual", "store_vectors")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_maintained")
  }

  /** [[ivfMaintenanceSink]] with PRODUCT-QUANTIZED delta rows: each
    * micro-batch's upserts are assigned to their cells against the FROZEN
    * centroids and PQ-ENCODED against the FROZEN codebooks
    * ([[graft.knn.Pq.encode]] / [[graft.knn.Pq.encodeResidual]] — one
    * narrow codegen pass), so with the default `storeVectors = false` the
    * delta log costs m BYTES per vector instead of 4·dim: the maintained
    * index stays scannable from memory at the batch PQ tier's budget
    * (16-32× past raw floats). The price is explicit and recorded in the
    * `pq_maintained` sidecar: a codes-only index serves ADC-ranked results
    * (no full-precision rescore — there is nothing to rescore against) and
    * CANNOT re-train its quantizer from the maintained view
    * ([[retrainIvfPqMaintained]] fails loudly; re-deriving geometry from
    * codes alone is not possible — keep the source-of-truth corpus, or set
    * `storeVectors = true` for the 4·dim+m layout that can do both).
    *
    * Same delta-log mechanics as [[ivfMaintenanceSink]]: versioned
    * cell-partitioned appends, cell-less tombstones, O(batch) manifest
    * merge, fail-loud completeness, restart guards on every sidecar
    * (centroids, meta, codebooks, flags). ADC is euclidean-only, like the
    * whole PQ tier.
    */
  def ivfPqMaintenanceSink(
      spark: SparkSession,
      indexDir: String,
      centroids: Array[Array[Float]],
      cb: graft.knn.Pq.PqCodebooks,
      residual: Boolean = true,
      storeVectors: Boolean = false,
      spill: Int = 1,
      opq: Option[graft.knn.Opq.OpqModel] = None): (Dataset[VectorOp], Long) => Unit = {
    import spark.implicits._
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    require(cb.m * cb.dsub == dim,
      s"codebooks cover ${cb.m * cb.dsub} dims, centroids have $dim")
    opq.foreach(m => require(m.dim == dim,
      s"OPQ rotation dimension ${m.dim} != centroid dimension $dim"))
    val log = ensureIvfSidecars(spark, indexDir, centroids, "euclidean", spill)
    // OPQ-rotated maintenance: every arriving vector rotates through the
    // FROZEN model before assignment/encoding (centroids and codebooks
    // live in rotated coordinates — pass rotated artifacts), queries
    // rotate at search via the sidecar, and — the rotation being an
    // isometry — all reported distances stay original-space distances.
    // On drift, [[retrainIvfPqMaintained]] with refitRotation=true re-fits
    // the rotation on the maintained view and COMPOSES it onto the frozen
    // one (Opq.compose); the default retrain preserves the frozen sidecar.
    opq match {
      case Some(model) =>
        if (graft.knn.Opq.savedRotation(spark, indexDir)) {
          val stored = graft.knn.Opq.loadModel(spark, indexDir)
          require(stored.m == model.m && stored.dim == model.dim &&
            stored.rotation.zip(model.rotation).forall { case (a, b) =>
              java.util.Arrays.equals(a, b) } &&
            java.util.Arrays.equals(stored.mean, model.mean),
            s"index at $indexDir is already maintained under a DIFFERENT OPQ rotation — " +
              "old delta rows carry rotated coordinates from the stored model; refusing to overwrite")
        } else graft.knn.Opq.saveModel(spark, model, indexDir)
      case None =>
        require(!graft.knn.Opq.savedRotation(spark, indexDir),
          s"index at $indexDir carries an OPQ rotation sidecar — restart the sink with the " +
            "stored model (raw-coordinate ingest against rotated codes corrupts the index)")
    }
    loadIvfPqFlags(spark, indexDir) match {
      case Some(existing) =>
        require(existing == IvfPqMaintainedFlags(residual, storeVectors),
          s"index at $indexDir is already PQ-maintained with (residual=${existing.residual}, " +
            s"storeVectors=${existing.storeVectors}); restarting with (residual=$residual, " +
            s"storeVectors=$storeVectors) would mix incompatible delta rows — delete the " +
            "directory instead")
        val stored = graft.knn.Pq.loadCodebooks(spark, indexDir)
        require(stored.m == cb.m && stored.dsub == cb.dsub && stored.ksub == cb.ksub &&
          stored.books.zip(cb.books).forall { case (ba, bb) =>
            ba.zip(bb).forall { case (a, b) => java.util.Arrays.equals(a, b) } },
          s"index at $indexDir is already PQ-maintained with DIFFERENT codebooks — old delta " +
            "rows carry codes from the stored books; refusing to overwrite them")
      case None =>
        graft.knn.Pq.saveCodebooks(spark, cb, indexDir, residual)
        writeIvfPqFlags(spark, indexDir, IvfPqMaintainedFlags(residual, storeVectors))
    }

    (batch: Dataset[VectorOp], batchId: Long) => {
      val sess = batch.sparkSession
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id")
        .orderBy(col("version").desc, col("op"), xxhash64(col("vector")))
      val ops = batch.toDF()
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        .persist()
      try {
        val upserts0 = ops.filter(col("op") === "upsert")
        // rotate on ingest (one narrow codegen pass) — from here on the
        // batch lives in the same coordinates as centroids and codebooks
        val upserts = opq match {
          case Some(model) => upserts0.withColumn("vector",
            graft.knn.Opq.rotateCol(model, col("vector")))
          case None => upserts0
        }
        val assigned = graft.knn.Ivf.assignVersioned(sess, upserts, centroids, "euclidean", spill)
        val encoded =
          (if (residual) graft.knn.Pq.encodeResidual(assigned, centroids, cb)
           else graft.knn.Pq.encode(assigned, cb))
            .select(col("id"), col("cell"),
              (if (storeVectors) col("vector") else lit(null).cast("array<float>")).as("vector"),
              col("pq_codes"), col("version"), lit("upsert").as("op"))
        val tombstones = ops.filter(col("op") === "remove")
          .select(col("id"), lit(-1).as("cell"), lit(null).cast("array<float>").as("vector"),
            lit(null).cast("binary").as("pq_codes"), col("version"), lit("remove").as("op"))
        log.commit(batchId)(p => encoded.unionByName(tombstones)
          .repartition(col("cell")) // files ≈ cells per batch, not tasks × cells
          .write.mode("append").partitionBy("cell").parquet(p))
      } finally ops.unpersist()
    }
  }

  /** Current view of an [[ivfPqMaintenanceSink]] directory:
    * (id, cell, vector, pq_codes) — `vector` is null throughout when the
    * sink ran codes-only. Same latest-wins / tombstone semantics as
    * [[ivfMaintainedState]]; a directory without codes is refused.
    */
  def ivfPqMaintainedState(spark: SparkSession, indexDir: String): DataFrame =
    ivfView(spark, indexDir).pqState

  /** ADC search over a PQ-maintained directory, self-configured from its
    * sidecars (centroids, codebooks, residual flag, spill ⇒ dedupe,
    * store_vectors ⇒ rescore). With stored vectors this is exactly the
    * batch [[graft.knn.Pq.searchIvfPq]]/[[graft.knn.Pq.searchIvfPqResidual]]
    * over the reconstructed view — converged equality with the batch
    * answer is the catalog row's gate; codes-only serves the ADC ranking
    * (√adc distances, deterministic (adc, id) tie-break).
    */
  def searchIvfPqMaintained(
      spark: SparkSession,
      indexDir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nprobe: Int,
      overscan: Int = 8): DataFrame = {
    val (meta, centroids) = graft.knn.Ivf.loadQuantizer(spark, indexDir)
    val flags = loadIvfPqFlags(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"no pq_maintained sidecar under $indexDir — not a PQ-maintained dir (use " +
          "searchIvfMaintained for a raw-vector maintained index)"))
    val cb = graft.knn.Pq.loadCodebooks(spark, indexDir)
    graft.knn.Ivf.requireQueryDim(queries, meta.dim)
    // an OPQ-maintained index stores rotated coordinates: rotate the
    // queries through the sidecar model (isometry — reported distances
    // stay original-space)
    val rotQueries =
      if (graft.knn.Opq.savedRotation(spark, indexDir))
        graft.knn.Opq.rotateQueries(graft.knn.Opq.loadModel(spark, indexDir), queries)
      else queries
    val state = ivfView(spark, indexDir).pqState
    val probed = graft.knn.Ivf.probeMap(rotQueries, centroids, nprobe)
    graft.knn.Pq.search(spark, state, cb, rotQueries, k, overscan, Some(probed),
      dedup = meta.spill > 1,
      residualCentroids = if (flags.residual) Some(centroids) else None,
      rescore = flags.storeVectors)
  }

  /** [[searchIvfPqMaintained]] with a DataFrame query side — the
    * corpus-vs-corpus shape over a PQ-maintained index: per-cell cogroup
    * ADC scans with task-built LUTs, nothing driver-resident, rescore vs
    * ADC-only self-dispatched from the `pq_maintained` sidecar exactly
    * like the array-side path.
    */
  def searchIvfPqMaintainedDF(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nprobe: Int,
      overscan: Int = 8): DataFrame = {
    val (meta, centroids) = graft.knn.Ivf.loadQuantizer(spark, indexDir)
    val flags = loadIvfPqFlags(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"no pq_maintained sidecar under $indexDir — not a PQ-maintained dir (use " +
          "searchIvfMaintainedDF for a raw-vector maintained index)"))
    val cb = graft.knn.Pq.loadCodebooks(spark, indexDir)
    val checked0 = graft.knn.Ivf.checkQueryDim(queries, meta.dim)
    // OPQ-maintained: rotate the query column through the sidecar model
    // (the same codegen kernel the sink rotated the corpus with)
    val checked =
      if (graft.knn.Opq.savedRotation(spark, indexDir)) {
        val model = graft.knn.Opq.loadModel(spark, indexDir)
        checked0.select(col("qid"), graft.knn.Opq.rotateCol(model, col("qvec")).as("qvec"))
      } else checked0
    graft.knn.Pq.searchIvfPqDF(ivfView(spark, indexDir).pqState, centroids, cb,
      checked, k, nprobe, overscan, residual = flags.residual, rescore = flags.storeVectors)
  }

  /** [[retrainIvfMaintained]] for a PQ-maintained directory ([[retrain]]
    * states the protocol): re-train the coarse quantizer from the
    * maintained view, re-assign, and RE-ENCODE every live vector against
    * the new geometry (residual codes quantize vector − centroid, so new
    * centroids invalidate old codes — raw codes are centroid-independent
    * but are re-derived anyway for one uniform path). Codebooks stay
    * FROZEN by default: they are the contract the ADC scan and any
    * downstream consumers share; re-learning them is building a new index,
    * not maintaining this one. Requires `storeVectors = true` — codes alone
    * cannot re-derive the geometry (fails loudly; this is the documented
    * price of the m-byte tier).
    *
    * `refitRotation = true` (incremental OPQ, requires an `opq_rot`
    * sidecar): additionally re-FIT the rotation on the maintained view —
    * drift that moves the spectrum un-balances the frozen subspace
    * allocation, which is exactly the distortion OPQ exists to remove.
    * The fresh rotation is fitted in the FROZEN rotation's coordinates
    * (what the stored vectors are in) and folded onto it via
    * [[graft.knn.Opq.compose]], so the swapped index still carries ONE
    * original-space model; centroids AND codebooks are then re-trained in
    * the refit coordinates. Consumers self-configure from the composed
    * sidecar as before; a sink restart must pass the COMPOSED model (the
    * guard refuses the stale one).
    */
  def retrainIvfPqMaintained(
      spark: SparkSession,
      indexDir: String,
      c: Int = 0,
      iterations: Int = 2,
      seed: Long = 42L,
      refitRotation: Boolean = false,
      sampleFraction: Double = 1.0): Array[Array[Float]] =
    retrainOrResume(spark, indexDir)(
      retrain(spark, indexDir, _, c, iterations, seed, sampleFraction, refitRotation, pq = Some(true)))

  // ------------------------------------------------- HNSW delta maintenance

  /** Sidecar contract of a delta-maintained HNSW directory: the partition
    * routing and graph construction parameters every maintenance batch and
    * compaction must agree on.
    */
  case class HnswMaintainedMeta(
      numPartitions: Int,
      metric: String,
      config: graft.hnsw.HnswConfig)

  private def writeHnswMaintainedMeta(
      spark: SparkSession,
      indexDir: String,
      meta: HnswMaintainedMeta): Unit = {
    import spark.implicits._
    val c = meta.config
    Seq((meta.numPartitions, meta.metric, c.m, c.mMax, c.mMax0, c.ef, c.efConstruction,
        c.levelMultiplier, c.heuristic, c.extendCandidates, c.keepPruned))
      .toDF("num_partitions", "metric", "m", "mmax", "mmax0", "ef", "ef_construction",
        "level_multiplier", "heuristic", "extend_candidates", "keep_pruned")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  def loadHnswMaintainedMeta(spark: SparkSession, indexDir: String): Option[HnswMaintainedMeta] = {
    if (!graft.io.HadoopIO.exists(s"$indexDir/meta", spark.sparkContext.hadoopConfiguration)) None
    else {
      val r = graft.io.LocalParquet.read(spark, s"$indexDir/meta").head
      def int(c: String) = r.getInt(r.fieldIndex(c))
      def bool(c: String) = r.getBoolean(r.fieldIndex(c))
      Some(HnswMaintainedMeta(int("num_partitions"), r.getString(r.fieldIndex("metric")),
        graft.hnsw.HnswConfig(int("m"), int("mmax"), int("mmax0"), int("ef"), int("ef_construction"),
          r.getDouble(r.fieldIndex("level_multiplier")), bool("heuristic"),
          bool("extend_candidates"), bool("keep_pruned"))))
    }
  }

  /** `foreachBatch` sink that maintains a persisted HNSW index through an
    * append-only DELTA LOG — the write cost of a micro-batch is the batch,
    * not the index. Rewriting every touched partition graph per batch
    * would cost O(index) I/O per batch, which dies at 100 TB index size;
    * this sink mirrors [[ivfMaintenanceSink]]'s shape instead: each batch
    * appends its latest-wins rows (upserts with vectors, removes as cell-less
    * tombstones) under `delta/batch=<id>` and folds the new files into the
    * delta manifest — O(batch) listing, O(batch) bytes. Graph work is
    * deferred to [[compactHnswMaintained]], which folds the delta into the
    * per-partition base graphs in one explicit O(index) operation, exactly
    * the reference's split between online mutation routing and offline
    * partition lifecycle (`/root/reference/storage/dataset.go:238-348`
    * mutates in-memory partitions; persistence is a separate pass).
    *
    * Directory layout: `meta/` (sidecar: routing + graph config — verified
    * against the passed parameters on restart, mismatch throws), `base/`
    * (per-partition `part-&#42;.hnsw` graphs + manifest; empty until the first
    * compaction), `delta/` (the versioned log + manifest, seeded at batch
    * 0). Query with [[searchHnswMaintained]]. The versioned log absorbs
    * within-batch, cross-batch and replay reordering: a stale version
    * loses to the newer one whichever batch delivered it, with or without
    * [[versionedOps]] upstream.
    */
  def hnswDeltaMaintenanceSink(
      spark: SparkSession,
      indexDir: String,
      numPartitions: Int,
      metric: String = "euclidean",
      config: graft.hnsw.HnswConfig = graft.hnsw.HnswConfig()): (Dataset[VectorOp], Long) => Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // the sidecar stores the resolved config (mMax, mMax0, level multiplier):
    // compare in that form, or a default-config restart could never match
    val passed = HnswMaintainedMeta(numPartitions, metric, config.copy(mMaxOpt = config.mMax,
      mMax0Opt = config.mMax0, levelMultiplierOpt = config.levelMultiplier))
    val baseDir = s"$indexDir/base"
    val log = hnswLog(spark, indexDir)
    log.open(loadHnswMaintainedMeta(spark, indexDir)) { existing =>
      require(existing == passed,
        s"index at $indexDir is already maintained under $existing; restarting the sink " +
          s"with $passed would change the routing/graph contract old delta rows and base " +
          "graphs were written under — delete the directory or pass matching parameters")
      require(graft.io.Manifest.read(baseDir, hconf).isDefined,
        s"maintained HNSW dir $indexDir has committed meta but no manifest under [base] — " +
          "either lost/foreign state, or a compaction swap died mid-flight (run " +
          "compactHnswMaintained to resume it); refusing to extend unverifiable state")
    } {
      // the base graph registry is seeded ONLY where none exists — an
      // adopted pre-built base (the HnswSpark persist → maintain flow)
      // keeps its CRC-bearing manifest, so orphaned files from a crashed
      // rebuild stay REJECTED by the load-time validation
      graft.io.HadoopIO.mkdirs(baseDir, hconf)
      if (graft.io.Manifest.read(baseDir, hconf).isEmpty)
        graft.io.Manifest.write(baseDir,
          graft.io.HadoopIO.globWithLength(baseDir, "*.hnsw", hconf)
            .map { case (uri, len) => graft.io.ManifestEntry(graft.io.Manifest.baseName(uri), len, -1L) },
          hconf)
      writeHnswMaintainedMeta(spark, indexDir, passed)
    }

    (batch: Dataset[VectorOp], batchId: Long) => {
      // exact-replay dedupe only: one row per (id, version) — an
      // at-least-once redelivery collapses, while DISTINCT versions of an
      // id ALL persist, keeping the delta log a FULL version history (the
      // [[searchHnswMaintained]] `asOf` time-travel contract, mirroring
      // [[ivfMaintenanceSink]]; collapsing to the batch winner would
      // silently erase any state both written and overwritten inside one
      // micro-batch). Serving is unchanged: the view's rank window
      // resolves winners across however many versions a batch wrote. On
      // an exact (id, version) tie the remove sorts first — the same
      // conservative read the view applies.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id", "version")
        .orderBy(col("op"), xxhash64(col("vector")))
      log.commit(batchId)(p => batch.toDF()
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        .select(col("id"),
          when(col("op") === "upsert", col("vector")).otherwise(lit(null).cast("array<float>"))
            .as("vector"),
          col("version"), col("op"), lit(false).as("guard"))
        .write.mode("append").parquet(p))
    }
  }

  private def hnswLog(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("delta"), "maintained HNSW", Some("compactHnswMaintained"),
      exactlyOnce = false)

  private def hnswMeta(spark: SparkSession, indexDir: String): HnswMaintainedMeta =
    loadHnswMaintainedMeta(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"no meta sidecar under $indexDir — not a maintained HNSW dir"))

  /** Search a delta-maintained HNSW directory: base graphs serve every id
    * the delta does not override (compaction guards mark those), the delta's
    * live vectors are scanned EXACTLY (bounded per-query heaps, one pass,
    * [[graft.knn.Knn.scanner]]), and the two candidate sets k-merge. The exact delta side means a
    * freshly-mutated vector is always found at full precision — recall can
    * only degrade toward the base graphs' HNSW recall as the delta empties
    * into base via compaction.
    *
    * The view resolves once per call: one query collects its override set
    * as (id, op) together with the delta's candidates (at most k per query
    * per view partition). The override ids are broadcast to the base
    * search: the set is bounded by the ids mutated since the last
    * compaction (compaction cadence is the knob), NOT by index size — the
    * same contract as the IVF delta view's read cost. The base graphs'
    * candidates (at most k per query per graph) are collected too, and
    * both sets k-merge on the driver ([[graft.knn.Knn.mergeLocal]], the
    * reference's `storage/dataset.go:349-433` global step): three Spark
    * jobs per call, two for the view and one for the graphs. The search
    * runs when called; the returned DataFrame is a local relation that
    * starts no Spark job and holds nothing cached. Refuses `k` below 1 and
    * a repeated qid.
    *
    * With `asOf = Some(v)` the search serves the index's exact state at
    * mutation version v (inclusive) — the delta log is a full version
    * history, so any past state at or above the compaction horizon
    * reconstructs exactly (the [[ivfMaintainedStateAsOf]] twin; reads
    * below the horizon fail loudly). Ids whose at-v winner was folded into
    * base by a compaction at or below v serve from the base graphs;
    * everything mutated in (horizon, v] serves from the delta's exact
    * scan.
    */
  def searchHnswMaintained(
      spark: SparkSession,
      indexDir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      efOverride: Int = 0,
      asOf: Option[Long] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    graft.knn.Knn.requireDistinctQids(queries)
    val meta = hnswMeta(spark, indexDir)
    val (overrides, delta) = MaintainedView.open(hnswLog(spark, indexDir), asOf)
      .fold((Array.empty[(Long, String)], Array.empty[(Long, Long, Double)]))(
        _.overridesWith(graft.knn.Knn.scanner(spark, queries, k, meta.metric)))
    val base = graft.hnsw.HnswSpark.searchSavedExcluding(spark,
      s"$indexDir/base", queries, k, overrides.map(_._1).toSet, efOverride)
    graft.knn.Knn.mergeLocal(spark, base ++ delta, k)
  }

  /** [[searchHnswMaintained]] with a DataFrame query side — nothing
    * driver-resident but the (compaction-bounded) override set, collected
    * once as (id, op): base candidates come from query replication against
    * the graph artifacts ([[graft.hnsw.HnswSpark.searchSavedExcludingDF]]),
    * delta candidates — only when an override is a live upsert — from the
    * blocked exact scan ([[graft.knn.Knn.candidatesDF]]), k-merged on one
    * qid window. Unlike the array form this resolves the delta twice when
    * an override is a live upsert: once for the (id, op) collect, once more
    * when the lazy result runs. The queries are not on the driver, so the
    * scan cannot ride the collect, and a cache could not outlive the call
    * the lazy result leaves.
    */
  def searchHnswMaintainedDF(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      efOverride: Int = 0,
      asOf: Option[Long] = None): DataFrame = {
    val meta = hnswMeta(spark, indexDir)
    val view = MaintainedView.open(hnswLog(spark, indexDir), asOf)
    val overrides = view.fold(Array.empty[(Long, String)])(_.overrides)
    val base = graft.hnsw.HnswSpark.searchSavedExcludingDF(spark, s"$indexDir/base", queries, k,
      overrides.map(_._1).toSet, efOverride)
    graft.knn.Knn.topK(view.filter(_ => overrides.exists(_._2 == "upsert")).fold(base)(v =>
      base.unionByName(graft.knn.Knn.candidatesDF(v.live, queries, k, meta.metric))), k)
  }

  /** Fold the delta log into the per-partition base graphs — the one
    * explicit O(index) operation of the maintenance lifecycle (every
    * micro-batch is O(batch)). Run while the maintenance stream is STOPPED.
    *
    * The fold works on a COPY of base (`base.compact`): remove every
    * overridden id from its routed graph (HNSW insert is add-only), insert
    * the live winners, validate the copy against its manifest and swap it
    * in. Then the delta compacts through the [[BatchLog]] swap — upsert
    * winners collapse to payload-less GUARD rows recording "this id's
    * newest version lives in base" (a later stale upsert loses the version
    * tie-break to the guard instead of shadowing base with an old vector),
    * tombstones persist payload-less (dropping one would let a
    * post-compaction stale upsert resurrect the removed vector — the same
    * invariant [[compactIvfMaintained]] keeps). Base swaps first; the
    * overlap state (new base + old delta) is idempotent because the fold
    * removes-then-inserts. Re-running it resumes either interrupted swap.
    * A log with no committed batch has nothing to fold.
    */
  def compactHnswMaintained(spark: SparkSession, indexDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val baseDir = s"$indexDir/base"
    val baseTmp = s"$indexDir/base.compact"
    val log = hnswLog(spark, indexDir)
    val meta = hnswMeta(spark, indexDir)

    // resume half-done swaps: a missing live dir means the crash fell
    // between its delete and rename, and the tmp was validated complete
    // before the delete ever ran
    if (!graft.io.HadoopIO.exists(baseDir, hconf)) {
      require(graft.io.HadoopIO.exists(baseTmp, hconf),
        s"neither $baseDir nor $baseTmp exists — not a maintained HNSW directory")
      require(graft.io.Manifest.read(baseTmp, hconf).isDefined,
        s"$baseTmp has no manifest but $baseDir is gone — inconsistent state; refusing to resume")
      graft.io.Manifest.validate(baseTmp,
        graft.io.HadoopIO.globWithLength(baseTmp, "*.hnsw", hconf), hconf)
      graft.io.HadoopIO.rename(baseTmp, baseDir, hconf)
    }
    // a resumed delta swap means the interrupted run had finished its fold
    if (log.resumeSwap("delta")) return
    graft.io.HadoopIO.delete(baseTmp, hconf) // stale tmp from an interrupted attempt

    MaintainedView.open(log).foreach(_.cached { view =>
      graft.hnsw.HnswSpark.copyIndexDir(spark, baseDir, baseTmp)
      // remove-then-insert: idempotent, so re-running a crashed compaction
      // over an already-folded base re-lands the identical state
      graft.hnsw.HnswSpark.removeAndSave(spark, view.overriding.select("id"), baseTmp,
        meta.numPartitions)
      graft.hnsw.HnswSpark.appendAndSave(spark, view.live.select("id", "vector"),
        baseTmp, meta.numPartitions, meta.metric, meta.config)
      graft.io.Manifest.validate(baseTmp,
        graft.io.HadoopIO.globWithLength(baseTmp, "*.hnsw", hconf), hconf)
      graft.io.HadoopIO.delete(baseDir, hconf)
      graft.io.HadoopIO.rename(baseTmp, baseDir, hconf)

      log.compact("delta")(seg => view.rows
        .select(col("id"), lit(null).cast("array<float>").as("vector"), col("version"),
          col("op"), (col("op") === "upsert").as("guard"))
        .write.parquet(seg))
    })
  }

  /** [[ivfMaintainedDeltaRatio]]'s HNSW twin: un-compacted delta bytes
    * over base graph bytes, from the two completeness manifests alone.
    * The compacted pseudo-batch's guard rows count as history, not fresh
    * delta, mirroring the IVF gauge.
    */
  def hnswMaintainedDeltaRatio(spark: SparkSession, indexDir: String): Double = {
    val base = graft.io.Manifest.read(s"$indexDir/base", spark.sparkContext.hadoopConfiguration)
      .getOrElse(throw new IllegalStateException(
        s"$indexDir/base has no manifest — not a maintained HNSW dir"))
    deltaToBaseRatio(hnswLog(spark, indexDir).bytes("delta")._1, base.map(_.length).sum)
  }

  /** [[compactHnswMaintained]] gated on [[hnswMaintainedDeltaRatio]] —
    * the scheduled-maintenance form: graph rebuild cost is only paid when
    * the exact-scanned delta has grown past `maxDeltaRatio` of the base
    * (delta scans are correct at any size, just linear). Returns
    * (measured ratio, whether a compaction ran).
    */
  def compactHnswIfNeeded(
      spark: SparkSession,
      indexDir: String,
      maxDeltaRatio: Double = 0.25): (Double, Boolean) = {
    require(maxDeltaRatio >= 0, s"maxDeltaRatio must be non-negative, got $maxDeltaRatio")
    // either half missing = an interrupted double swap: resume it through
    // compactHnswMaintained (the ratio is unknowable mid-swap) rather than
    // throwing the gauge's misleading "not maintained" error
    val hconf = spark.sparkContext.hadoopConfiguration
    if (!graft.io.HadoopIO.exists(s"$indexDir/base", hconf) ||
        !graft.io.HadoopIO.exists(s"$indexDir/delta", hconf)) {
      compactHnswMaintained(spark, indexDir)
      return (Double.NaN, true)
    }
    val ratio = hnswMaintainedDeltaRatio(spark, indexDir)
    if (ratio > maxDeltaRatio) { compactHnswMaintained(spark, indexDir); (ratio, true) }
    else (ratio, false)
  }

  /** Output mode required by [[latestVectorState]] sinks. */
  val UpsertOutputMode: OutputMode = OutputMode.Update()

  // ------------------------------------------------- BM25 delta maintenance

  /** Document mutation for the lexical-index maintenance sink. */
  case class DocOp(id: Long, op: String, text: String, version: Long)

  /** (nBuckets, withPositions) a [[bm25MaintenanceSink]] directory was
    * opened with.
    */
  private def bm25Params(spark: SparkSession, indexDir: String): (Int, Boolean) = {
    val p = bm25Log(spark, indexDir).params()
    (p("nBuckets").toInt, p("withPositions").toBoolean)
  }

  /** `foreachBatch` sink maintaining a BM25 inverted index through an
    * append-only delta log — [[ivfMaintenanceSink]]'s design applied to
    * the lexical tier: per micro-batch the write cost is O(batch), never
    * O(index). Two delta streams ride under the index dir as one
    * [[BatchLog]], postings first and the docs log as its commit marker:
    *   - `delta_docs/batch=<id>`: (doc_id, version, op, dl) — latest-wins
    *     document rows; removes are dl-less tombstones.
    *   - `delta_post/batch=<id>`: (doc_id, version, token, tf, bucket) —
    *     the upserts' posting rows, bucket-partitioned with the SAME
    *     `pmod(xxhash64(token), nBuckets)` the batch layout uses, so
    *     maintained serving prunes term buckets identically.
    * An optional `base/` subdirectory holds a [[graft.text.Bm25.buildIndex]]
    * layout (adopt an existing batch-built index by building into
    * `<indexDir>/base` before starting the sink); base rows for a document
    * are superseded the moment any delta winner exists for it.
    *
    * The `bm25_meta` sidecar pins `nBuckets` (and with it the bucket
    * routing old delta rows were written under) — a restart with a
    * different value throws instead of silently splitting terms across
    * bucket schemes. Tombstones persist through [[compactBm25Maintained]]
    * (same rationale as the IVF delta: a post-compaction stale upsert
    * must not resurrect a removed document).
    */
  def bm25MaintenanceSink(
      spark: SparkSession,
      indexDir: String,
      nBuckets: Int = 64,
      withPositions: Boolean = false): (Dataset[DocOp], Long) => Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    import spark.implicits._
    val log = bm25Log(spark, indexDir)
    log.open(Seq("nBuckets" -> nBuckets.toString, "withPositions" -> withPositions.toString),
      "would route tokens to different buckets than old delta rows, or mix positional and " +
        "tf-only posting rows") {
      if (graft.io.HadoopIO.exists(s"$indexDir/base/stats",
          spark.sparkContext.hadoopConfiguration)) {
        val (_, _, baseB, baseP) = graft.text.Bm25.loadStats(spark, s"$indexDir/base")
        require(baseB == nBuckets,
          s"adopted base index at $indexDir/base was built with nBuckets=$baseB, " +
            s"sink constructed with $nBuckets — bucket routing must match")
        require(baseP || !withPositions,
          s"adopted base index at $indexDir/base was built WITHOUT positions but the " +
            "sink is positional — phrase reads over base documents would be impossible; " +
            "rebuild the base with buildIndex(withPositions = true)")
      }
    }

    (batch: Dataset[DocOp], batchId: Long) => {
      // within-batch latest-wins (remove beats upsert on a version tie —
      // same conservative convention as the vector sinks); the
      // xxhash64(text) tiebreak makes the winner DETERMINISTIC when a
      // malformed stream carries two same-version upserts with different
      // texts (same convention as the PQ sink's vector-hash tiebreak),
      // while exact replays dedupe below
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("version").desc, col("op").asc, xxhash64(col("text")))
      val ops = batch.toDF()
        .withColumn("__rk", rank().over(w)).filter(col("__rk") === 1).drop("__rk")
        .dropDuplicates("id", "op")
        .persist()
      val upserts = ops.filter(col("op") === "upsert")
        .select(col("id").as("doc_id"), col("version"),
          graft.text.TextAnalysis.tokens(col("text")).as("__toks"))
        .persist()
      try {
        // text_hash discriminates conflicting same-version upserts ACROSS
        // batches deterministically AND keys each winner to exactly its
        // own posting rows (removes carry 0 — they have no text)
        val docRows = upserts
          .select(col("doc_id"), col("version"), lit("upsert").as("op"),
            size(col("__toks")).cast("long").as("dl"),
            xxhash64(col("__toks")).as("text_hash"))
          .unionByName(ops.filter(col("op") === "remove")
            .select(col("id").as("doc_id"), col("version"), lit("remove").as("op"),
              lit(0L).as("dl"), lit(0L).as("text_hash")))
        val explodedPost = upserts
          .select(col("doc_id"), col("version"), xxhash64(col("__toks")).as("text_hash"),
            posexplode(col("__toks")).as(Seq("pos", "token")))
          .groupBy("doc_id", "version", "text_hash", "token")
        // positional rows cost one long per corpus token — the same trade
        // as buildIndex(withPositions), paid per O(batch) append
        val postRows = (if (withPositions)
            explodedPost.agg(count(lit(1)).as("tf"),
              sort_array(collect_list(col("pos").cast("long"))).as("positions"))
          else explodedPost.agg(count(lit(1)).as("tf")))
          .withColumn("bucket", pmod(xxhash64(col("token")), lit(nBuckets.toLong)))
        log.commit(batchId)(
          p => postRows.write.mode("append").partitionBy("bucket").parquet(p),
          p => docRows.write.mode("append").parquet(p))
      } finally {
        upserts.unpersist()
        ops.unpersist()
      }
    }
  }

  private def bm25Log(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("delta_post", "delta_docs"), "maintained BM25",
      Some("compactBm25Maintained"), exactlyOnce = false, meta = "bm25_meta")

  /** Each document's winning delta rows under the vector views' rule
    * ([[MaintainedView.latestWins]]; tombstones KEPT — serving filters
    * them, compaction must persist them): one shuffle on doc_id over the
    * manifest-validated delta_docs log; nothing ingested yet is an empty
    * view, not an error.
    */
  private def bm25DeltaWinners(spark: SparkSession, indexDir: String): DataFrame =
    bm25Log(spark, indexDir).read("delta_docs").fold(
      spark.emptyDataset[(Long, Long, String, Long, Long)](
        org.apache.spark.sql.Encoders.product[(Long, Long, String, Long, Long)])
        .toDF("doc_id", "version", "op", "dl", "text_hash"))(docs =>
      // text_hash is the payload: conflicting same-version upserts from
      // DIFFERENT batches (a malformed stream) resolve deterministically,
      // and serving joins the winner's OWN posting rows by the same hash
      MaintainedView.latestWins(docs.select("doc_id", "version", "op", "dl", "text_hash"), "doc_id"))

  /** Search a [[bm25MaintenanceSink]] directory: the latest-wins view —
    * base postings for documents no delta winner touched, plus the delta
    * winners' postings — scored with the IDENTICAL arithmetic as the batch
    * [[graft.text.Bm25.search]] (df from the same window over the
    * term-filtered survivors, (n, avgdl) re-derived from base doclen +
    * delta overrides). Converged over a quiesced stream this equals the
    * batch search over the surviving documents row-for-row: every input
    * to the formula is a pure function of the surviving (doc, token)
    * multiset. Serving reads only the query terms' buckets in BOTH base
    * and delta postings.
    */
  def searchBm25Maintained(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[(Long, String)],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val hconf = spark.sparkContext.hadoopConfiguration
    val (nBuckets, _) = bm25Params(spark, indexDir)

    val qTerms = queries.flatMap { case (qid, text) =>
      graft.text.Bm25.queryTerms(text).map(qid -> _)
    }
    require(qTerms.nonEmpty, "no query terms after tokenization")
    val terms = qTerms.map(_._2).distinct
    val buckets = terms.map(graft.text.Bm25.tokenBucket(_, nBuckets)).distinct

    val winners = bm25DeltaWinners(spark, indexDir).persist()
    try {
      val winnerDocs = winners.select("doc_id")
      val upsertWinners = winners.filter(col("op") === "upsert")

      val hasBase = graft.io.HadoopIO.exists(s"$indexDir/base/stats", hconf)
      if (graft.io.HadoopIO.exists(s"$indexDir/base", hconf) && !hasBase)
        throw new IllegalStateException(
          s"base index at $indexDir/base has no stats marker — torn build; refusing to " +
            "serve partial postings")

      // surviving postings, term-filtered on BOTH sides
      val basePost =
        if (!hasBase)
          spark.emptyDataset[(Long, Long, String, Long)](
            org.apache.spark.sql.Encoders.product[(Long, Long, String, Long)])
            .toDF("doc_id", "dl", "token", "tf")
        else IndexTable.read(spark, s"$indexDir/base", "postings")
          .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
          .select("doc_id", "dl", "token", "tf")
          .join(winnerDocs, Seq("doc_id"), "left_anti")
      val deltaPost = bm25Log(spark, indexDir).read("delta_post").fold(basePost.limit(0))(
        _.filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
          .select("doc_id", "version", "text_hash", "token", "tf")
          .join(upsertWinners.select("doc_id", "version", "text_hash", "dl"),
            Seq("doc_id", "version", "text_hash"))
          .dropDuplicates("doc_id", "token") // at-least-once replay appends
          .select("doc_id", "dl", "token", "tf"))
      val post = basePost.unionByName(deltaPost)

      // (n, sum_dl) from base doclen minus overridden docs, plus upsert
      // winners — aggregate-only passes over doc-count-sized tables
      val (baseN, baseSum) =
        if (!hasBase) (0L, 0L)
        else {
          val r = IndexTable.read(spark, s"$indexDir/base", "doclen")
            .join(winnerDocs, Seq("doc_id"), "left_anti")
            .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
      val dr = upsertWinners.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      val n = baseN + dr.getLong(0)
      val sumDl = baseSum + dr.getLong(1)
      require(n > 0, s"maintained view at $indexDir is empty — nothing to search")
      // same arithmetic as Spark's Average over longs: exact long sum,
      // one double division
      val avgdl = sumDl.toDouble / n.toDouble

      graft.text.Bm25.scoreMaintained(post, qTerms, n.toDouble, avgdl, k, k1, b)
    } finally winners.unpersist()
  }

  /** Exact PHRASE search over a POSITIONAL maintained index
    * ([[bm25MaintenanceSink]] with `withPositions = true`; a tf-only
    * maintained dir fails loudly) — [[graft.text.Bm25.phraseSearch]]'s
    * semantics over the latest-wins view: per phrase term, one
    * bucket-pruned + token-pushed read of the delta postings joined to
    * the upsert winners (each winner's OWN positions by (doc_id, version,
    * text_hash)), plus the adopted base's positional postings for
    * documents no delta winner superseded; the occurrence starts fold as
    * ∩ᵢ(positions(tᵢ) − i) in codegen `array_intersect` chains — no
    * corpus scan, no driver materialization. Converged over a quiesced
    * stream this equals the batch [[graft.text.Bm25.phraseSearch]] over
    * the surviving documents row-for-row (positions are a pure function
    * of each surviving document's text).
    *
    * Returns (qid, doc_id, n_occurrences), only matching docs.
    */
  def phraseSearchBm25Maintained(
      spark: SparkSession,
      indexDir: String,
      phrases: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    require(phrases.nonEmpty, "empty phrase batch")
    val hconf = spark.sparkContext.hadoopConfiguration
    val (nBuckets, withPositions) = bm25Params(spark, indexDir)
    require(withPositions,
      s"index at $indexDir is maintained WITHOUT positions " +
        "(bm25MaintenanceSink(withPositions = true)) — phrase adjacency cannot be " +
        "evaluated from tf-only postings")

    val parsed = phrases.map { case (qid, text) =>
      val terms = text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
      require(terms.nonEmpty, s"phrase for qid $qid has no tokens")
      (qid, terms)
    }

    val winners = bm25DeltaWinners(spark, indexDir).persist()
    try {
      val winnerDocs = winners.select("doc_id")
      val upsertWinners = winners.filter(col("op") === "upsert")
      val hasBase = graft.io.HadoopIO.exists(s"$indexDir/base/stats", hconf)
      if (hasBase)
        require(graft.text.Bm25.loadStats(spark, s"$indexDir/base")._4,
          s"adopted base index at $indexDir/base has no positions — phrase reads over " +
            "base documents are impossible")
      val deltaPost = bm25Log(spark, indexDir).read("delta_post")

      // one bucket-pruned + token-pushed (doc_id, positions) read per term
      // over the surviving view
      def termPostings(t: String): DataFrame = {
        val bucket = graft.text.Bm25.tokenBucket(t, nBuckets)
        val base =
          if (!hasBase)
            Seq.empty[(Long, Seq[Long])].toDF("doc_id", "positions")
          else IndexTable.read(spark, s"$indexDir/base", "postings")
            .filter(col("bucket") === lit(bucket) && col("token") === lit(t))
            .select(col("doc_id"), col("positions"))
            .join(winnerDocs, Seq("doc_id"), "left_anti")
        val delta = deltaPost.fold(base.limit(0))(
          _.filter(col("bucket") === lit(bucket) && col("token") === lit(t))
            .select("doc_id", "version", "text_hash", "positions")
            .join(upsertWinners.select("doc_id", "version", "text_hash"),
              Seq("doc_id", "version", "text_hash"))
            .dropDuplicates("doc_id") // at-least-once replay appends
            .select(col("doc_id"), col("positions")))
        base.unionByName(delta)
      }
      val perPhrase = parsed.map { case (qid, terms) =>
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
    } finally winners.unpersist()
  }

  /** Compact the BM25 delta logs to each document's winning rows (upserts
    * AND tombstones — dropping a tombstone would let a post-compaction
    * stale upsert resurrect a removed document): read cost of the
    * maintained view stops growing with mutation history. Run while the
    * maintenance stream is STOPPED. Each delta stream compacts through the
    * [[BatchLog]] swap on its own — postings first, while the docs log
    * (the marker) their winners come from is still live — and the two
    * streams join on
    * (doc_id, version, text_hash), so any mix of {compacted, original}
    * halves serves the identical view (superseded rows in the
    * un-compacted half simply never match a winner).
    */
  def compactBm25Maintained(spark: SparkSession, indexDir: String): Unit = {
    val log = bm25Log(spark, indexDir)
    log.resumeSwap("delta_docs")
    log.resumeSwap("delta_post")
    val (nBuckets, withPositions) = bm25Params(spark, indexDir)

    val winners = bm25DeltaWinners(spark, indexDir).persist()
    try {
      val postCols = Seq("doc_id", "version", "text_hash", "token", "tf") ++
        (if (withPositions) Seq("positions") else Seq.empty)
      log.compact("delta_post")(seg => log.read("delta_post").foreach(_
        .select(postCols.map(col): _*)
        .join(winners.filter(col("op") === "upsert").select("doc_id", "version", "text_hash"),
          Seq("doc_id", "version", "text_hash"))
        .dropDuplicates("doc_id", "version", "text_hash", "token")
        .withColumn("bucket", pmod(xxhash64(col("token")), lit(nBuckets.toLong)))
        .write.partitionBy("bucket").parquet(seg)))
      log.compact("delta_docs")(seg =>
        winners.select("doc_id", "version", "op", "dl", "text_hash").write.parquet(seg))
    } finally winners.unpersist()
  }

  // ------------------------------------------- heavy-hitter maintenance

  /** (n, m, group column) a heavy-hitter directory was opened with —
    * `group` is None for a global [[heavyHittersSink]] directory, Some(col)
    * for a grouped one.
    */
  private def hhParams(spark: SparkSession, indexDir: String): (Int, Int, Option[String]) = {
    val p = hhLog(spark, indexDir).params()
    (p("n").toInt, p("m").toInt, p.get("group"))
  }

  /** `foreachBatch` sink maintaining PROVABLY-EXACT top-k n-gram heavy
    * hitters across micro-batches ([[graft.text.HeavyHitters]] online).
    * The Misra–Gries summary is MERGEABLE by construction (Agarwal et al.
    * 2013), so each batch pays only its own sketch — one m-counter pass
    * over the batch's grams, written as a groups-row parquet batch
    * directory — plus an O(batch) append of the batch's documents to the
    * manifested corpus table the exact recount reads at query time. Per
    * batch: O(batch) bytes, no state store, executor memory bounded at m
    * counters — the same disk-state shape as [[nearDupSink]].
    *
    * Replays are idempotent by batch id ([[BatchLog]], exactly-once with
    * the sketch log as marker): a redelivered committed batch is skipped
    * entirely, and an uncommitted attempt's partial directories are
    * rewritten.
    *
    * Query with [[heavyHittersTopK]]: the per-batch summaries fold into
    * one (driver cost: batches × m counters — fold cadence, not corpus
    * size), candidates recount EXACTLY against the accumulated corpus,
    * and the same exact-or-throw proof applies. Converges to the batch
    * operator's answer over any micro-batch boundaries.
    */
  /** Shared scaffold of the global and grouped heavy-hitter sinks: meta
    * guard and the docs-then-sketch batch commit. `groupCol` selects the
    * keyed form. The sketch schema is unified — ONE row per
    * (batch, group): (grp, grams, cnts, err, total) with grams/cnts as
    * aligned gram-sorted arrays and grp null for the global form (which
    * always writes its one summary row, even when empty); a grouped batch
    * with no groups commits an empty file (the manifest entry is the
    * commit marker, not the rows).
    */
  private def heavyHittersSinkImpl(
      spark: SparkSession,
      indexDir: String,
      n: Int,
      m: Int,
      groupCol: Option[String]): (DataFrame, Long) => Unit = {
    val log = hhLog(spark, indexDir)
    log.open(Seq("n" -> n.toString, "m" -> m.toString) ++ groupCol.map("group" -> _),
      "would merge incompatible sketches")(())
    // refuse to append array-format batches into a pre-upgrade
    // row-per-gram sketch log — a mixed-format dir would be unreadable
    log.read("sketch").foreach(requireArraySketchFormat(_, s"$indexDir/sketch"))

    (batch: DataFrame, batchId: Long) => {
      val sess = batch.sparkSession
      import sess.implicits._
      if (!log.committed(batchId)) {
        val docs = groupCol match {
          case None => batch.select(col("doc_id"), col("text"))
          case Some(gc) => batch.select(col("doc_id"), col(gc).cast("string").as("grp"), col("text"))
        }
        // ONE row per (batch, group) with the summary's (gram, count) pairs
        // as aligned arrays — not one row per tracked gram. The summary is
        // groups × m entries; a row-per-gram layout made the driver encode
        // (and the read-side fold collect) pay Spark's per-row overhead m
        // times per group per batch, which DOMINATED the sink at test scale
        // and is pure waste at any scale (guide §2.3: move fewer, denser
        // rows). Grams sort ascending so the file bytes are layout- and
        // map-iteration-independent.
        def sketchRows: Seq[(Option[String], Seq[String], Seq[Long], Long, Long)] =
          groupCol match {
            case None =>
              val mg = graft.text.HeavyHitters.ngrams(docs, n).as[String].rdd
                .mapPartitions(it =>
                  Iterator(graft.text.HeavyHitters.sketchPartitionAcc(it, m)))
                .treeAggregate(graft.text.HeavyHitters.MgAcc.empty)(
                  (a, b) => a.mergeIn(b, m),
                  (a, b) => a.mergeIn(b, m), depth = 2)
                .toSummary
              val sorted = mg.counts.toSeq.sortBy(_._1)
              Seq((None, sorted.map(_._1), sorted.map(_._2), mg.err, mg.total))
            case Some(_) =>
              val mg = graft.text.HeavyHitters.ngramsByGroup(docs, n, "grp")
                .as[(String, String)].rdd
                .mapPartitions(it =>
                  Iterator(graft.text.HeavyHitters.sketchPartitionByGroupAcc(it, m)))
                .treeAggregate(graft.text.HeavyHitters.MgGroupAcc.empty)(
                  (a, b) => a.mergeIn(b, m),
                  (a, b) => a.mergeIn(b, m), depth = 2)
                .toSummaries
              mg.toSeq.sortBy(_._1).map { case (grp, s) =>
                val sorted = s.counts.toSeq.sortBy(_._1)
                (Option(grp), sorted.map(_._1), sorted.map(_._2), s.err, s.total)
              }
          }
        log.commit(batchId)(
          p => docs.write.parquet(p),
          p => sketchRows.toDF("grp", "grams", "cnts", "err", "total").coalesce(1).write.parquet(p))
      }
    }
  }

  private def hhLog(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("docs", "sketch"), "heavy-hitter",
      Some("compactHeavyHitters"), exactlyOnce = true, meta = "hh_meta")

  def heavyHittersSink(
      spark: SparkSession,
      indexDir: String,
      n: Int,
      m: Int): (DataFrame, Long) => Unit =
    heavyHittersSinkImpl(spark, indexDir, n, m, None)

  /** The GROUPED form of [[heavyHittersSink]] — per-(batch, group)
    * Misra–Gries sketches (executor/driver state bounded at groups × m
    * counters), the corpus-report shape maintained online. Query with
    * [[heavyHittersTopKByGroup]]; same commit/replay/compaction protocol
    * as the global sink.
    */
  def heavyHittersSinkByGroup(
      spark: SparkSession,
      indexDir: String,
      n: Int,
      m: Int,
      groupCol: String): (DataFrame, Long) => Unit =
    heavyHittersSinkImpl(spark, indexDir, n, m, Some(groupCol))

  /** Exact top-k over everything a [[heavyHittersSink]] directory has
    * absorbed: fold the per-batch Misra–Gries summaries (mergeable — the
    * combined summary carries the same `true ∈ [cnt, cnt+err]` guarantee
    * as a single-pass sketch), then run the identical exact recount +
    * proof over the accumulated corpus. Exact or a loud error, never
    * silently approximate.
    */
  /** Fail-loud format guard: the sketch sidecar moved from one row per
    * (grp, gram) — columns (grp, gram, cnt, err, total) — to one row per
    * (batch, group) with (grams, cnts) ARRAYS. Silently reading an
    * old-format (or mixed) dir would either AnalysisException on a random
    * file's schema or NPE on null arrays; refuse with the migration path
    * instead. ([[heavyHittersSinkImpl]] applies the same guard before
    * appending, so a mixed-format dir can never be created.)
    */
  private def requireArraySketchFormat(df: DataFrame, sketchDir: String): Unit =
    require(df.columns.contains("grams") && !df.columns.contains("gram"),
      s"heavy-hitter sketch log at $sketchDir uses the pre-upgrade row-per-gram " +
        "layout — compact it with the release that wrote it (compactHeavyHitters), " +
        "or rebuild the directory; reading it with this release would mis-parse the fold")

  /** Per-batch summaries keyed by group (the global form lives under the
    * None key), folded across batches — batches × groups × m rows on the
    * driver, bounded by sketch size and fold cadence, never corpus size.
    * Reads only the sketch log's committed batches; empty before any.
    */
  private def hhFoldSketches(spark: SparkSession, indexDir: String,
      m: Int): Map[Option[String], graft.text.HeavyHitters.MgSummary] = {
    // one row per (batch, group), counts as aligned arrays — each row is a
    // self-contained summary (no separate meta row to cross-check)
    val raw = hhLog(spark, indexDir).read("sketch").getOrElse(return Map.empty)
    requireArraySketchFormat(raw, s"$indexDir/sketch")
    val perBatch = raw
      .select(col("batch").cast("string"), col("grp"), col("grams"),
        col("cnts"), col("err"), col("total"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (_, rows) =>
        rows.iterator.map { r =>
          val grams = r.getSeq[String](2)
          val cnts = r.getSeq[Long](3)
          Option(r.getString(1)) -> graft.text.HeavyHitters.MgSummary(
            grams.iterator.zip(cnts.iterator).toMap, r.getLong(4), r.getLong(5))
        }.toMap
      }
    perBatch.foldLeft(Map.empty[Option[String], graft.text.HeavyHitters.MgSummary]) {
      (a, b) =>
        (a.keySet ++ b.keySet).iterator.map { grp =>
          grp -> ((a.get(grp), b.get(grp)) match {
            case (Some(x), Some(y)) => graft.text.HeavyHitters.merge(x, y, m)
            case (Some(x), None)    => x
            case (None, Some(y))    => y
            case (None, None)       => graft.text.HeavyHitters.MgSummary(Map.empty, 0L, 0L)
          })
        }.toMap
    }
  }

  def heavyHittersTopK(spark: SparkSession, indexDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val (n, m, group) = hhParams(spark, indexDir)
    require(group.isEmpty,
      s"$indexDir is maintained GROUPED (by '${group.get}') — read it with heavyHittersTopKByGroup")
    require(m > k, s"sketch size m ($m) must exceed k ($k)")
    val log = hhLog(spark, indexDir)
    val docs = log.read("docs")
    val folded = hhFoldSketches(spark, indexDir, m)
    if (folded.isEmpty) return Seq.empty[(String, Long, Int)].toDF("gram", "n_count", "rank")
    val mg = folded.getOrElse(None, graft.text.HeavyHitters.MgSummary(Map.empty, 0L, 0L))
    val key = hhCacheKey(k, n, m, None, Map(None -> mg), log.entries("docs"))
    hhCachedRecount(spark, indexDir, key) {
      graft.text.HeavyHitters.recountAndProve(
        docs.fold(Seq.empty[(Long, String)].toDF("doc_id", "text"))(_.select("doc_id", "text")),
        n, k, m, mg)
    }
  }

  /** Exact top-k PER GROUP over everything a [[heavyHittersSinkByGroup]]
    * directory has absorbed — the C4/Gopher corpus report maintained
    * online. Folds the per-(batch, group) summaries (keyed mergeable
    * merge), recounts the broadcast (group, gram) candidates exactly
    * against the accumulated corpus, and applies the per-group
    * exact-or-throw proof. Returns (grp, gram, n_count, rank).
    */
  def heavyHittersTopKByGroup(spark: SparkSession, indexDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val (n, m, group) = hhParams(spark, indexDir)
    require(group.isDefined,
      s"$indexDir is maintained GLOBAL — read it with heavyHittersTopK")
    require(m > k, s"sketch size m ($m) must exceed k ($k)")
    val log = hhLog(spark, indexDir)
    val docs = log.read("docs")
    val folded = hhFoldSketches(spark, indexDir, m)
    if (folded.isEmpty)
      return Seq.empty[(String, String, Long, Int)].toDF("grp", "gram", "n_count", "rank")
    val mg = folded.collect { case (Some(grp), s) => (grp, s) } // None key = batch markers
    val key = hhCacheKey(k, n, m, group, folded, log.entries("docs"))
    hhCachedRecount(spark, indexDir, key) {
      graft.text.HeavyHitters.recountAndProveByGroup(
        docs.fold(Seq.empty[(Long, String, String)].toDF("doc_id", "grp", "text"))(
          _.select("doc_id", "grp", "text")),
        n, k, m, mg, "grp")
    }
  }

  /** Cache key for the exact-recount result: md5 over (k, n, m, group),
    * the FOLDED sketch summary (candidates + error accounting — exactly
    * what the recount consumes), and the docs completeness manifest
    * (name + length per committed file — exactly what the recount reads,
    * since the read is manifest-restricted). Any new committed batch
    * changes the docs manifest, any sketch change alters the fold, so a
    * stale cache entry is unreachable; compaction refolds to the SAME
    * summary and rewrites no docs, so the cache survives it.
    */
  private def hhCacheKey(k: Int, n: Int, m: Int, group: Option[String],
      mg: Map[Option[String], graft.text.HeavyHitters.MgSummary],
      docsEntries: Seq[graft.io.ManifestEntry]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new StringBuilder
    sb.append(s"k=$k;n=$n;m=$m;g=${group.map("S" + _).getOrElse("N")};")
    mg.toSeq.sortBy(_._1.map("S" + _).getOrElse("N")).foreach { case (grp, s) =>
      sb.append('\u0004').append(grp.map("S" + _).getOrElse("N"))
        .append('|').append(s.err).append('|').append(s.total).append('|')
      s.counts.toSeq.sorted.foreach { case (g, c) =>
        sb.append(g).append('\u0001').append(c).append('\u0002')
      }
    }
    docsEntries.sortBy(_.name).foreach(e =>
      sb.append(e.name).append('\u0003').append(e.length).append('\u0002'))
    md.digest(sb.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** Serve the ≤(groups × k)-row recount from `$indexDir/cache` when its
    * stored key matches; otherwise run `compute`, persist it, and swap the
    * cache atomically (rows first, key last inside a tmp dir, then a
    * delete + rename — a torn write either lacks the key or never
    * renamed, so it can never serve). Makes repeated reads of an
    * unchanged heavy-hitter dir O(k) instead of O(corpus) while keeping
    * the exact-or-throw contract: a proof failure propagates out of
    * `compute` before anything is cached.
    *
    * The returned DataFrame is a LOCAL relation — the ≤ (groups × k)
    * cached rows read eagerly on the driver ([[IndexTable]], no Spark
    * job) — never a lazy scan over
    * `$cacheDir/rows`: a later recompute deletes + renames that directory
    * underneath, so a returned-but-not-yet-consumed lazy handle could
    * read torn state. Collecting is O(groups × k), the same bound the
    * cache itself guarantees.
    */
  private def hhCachedRecount(spark: SparkSession, indexDir: String,
      key: String)(compute: => DataFrame): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val cacheDir = s"$indexDir/cache"
    val keyPath = s"$cacheDir/_key"
    val stored =
      if (graft.io.HadoopIO.exists(keyPath, hconf))
        scala.util.Try(graft.io.HadoopIO.read(keyPath, hconf)(_.readUTF())).toOption
      else None
    if (stored.contains(key)) IndexTable.read(spark, cacheDir, "rows")
    else {
      val result = compute
      val tmp = s"$indexDir/cache.tmp"
      graft.io.HadoopIO.delete(tmp, hconf)
      result.coalesce(1).write.parquet(s"$tmp/rows")
      graft.io.HadoopIO.write(s"$tmp/_key", hconf)(_.writeUTF(key))
      graft.io.HadoopIO.delete(cacheDir, hconf)
      graft.io.HadoopIO.rename(tmp, cacheDir, hconf)
      IndexTable.read(spark, cacheDir, "rows")
    }
  }

  /** Compact a [[heavyHittersSink]] sketch log: fold the per-batch
    * Misra–Gries summaries into ONE merged `batch=compacted` summary, so
    * the read-time driver fold stops growing with batch count (m counters
    * instead of batches × m). The corpus table is untouched — the exact
    * recount reads it wholesale either way, and rewriting it would be an
    * O(corpus) pass for nothing. Run while the maintenance stream is
    * STOPPED. The [[BatchLog]] swap records the folded batch ids before
    * the destructive step, so a checkpoint-recovery redelivery of a
    * pre-compaction micro-batch skips instead of re-appending grams the
    * compacted summary already counts.
    */
  def compactHeavyHitters(spark: SparkSession, indexDir: String): Unit =
    hhLog(spark, indexDir).compact("sketch")(hhFold(spark, indexDir))

  /** The compacted sketch segment writer. */
  private def hhFold(spark: SparkSession, indexDir: String): String => Unit = {
    import spark.implicits._
    seg => {
      val (_, m, _) = hhParams(spark, indexDir)
      val folded = hhFoldSketches(spark, indexDir, m)
      // an all-empty fold still writes one empty summary row so the
      // compacted batch file is never schema-less
      val keys = if (folded.nonEmpty) folded
        else folded + (None -> graft.text.HeavyHitters.MgSummary(Map.empty, 0L, 0L))
      val rows = keys.toSeq.sortBy(_._1).map { case (grp, s) =>
        val sorted = s.counts.toSeq.sortBy(_._1)
        (grp, sorted.map(_._1), sorted.map(_._2), s.err, s.total)
      }
      rows.toDF("grp", "grams", "cnts", "err", "total").coalesce(1).write.parquet(seg)
    }
  }

  /** Number of sketch batches a [[heavyHittersSink]] dir has accumulated
    * since its last compaction, measured from the sketch completeness
    * manifest alone — no data scan, no Spark job. The read-time driver
    * fold costs batches × groups × m rows, so this IS the fold-cost gauge.
    */
  def heavyHittersSketchBatches(spark: SparkSession, indexDir: String): Int =
    hhLog(spark, indexDir).batchCount("sketch")

  /** [[compactHeavyHitters]] gated on [[heavyHittersSketchBatches]]: the
    * one-call maintenance form — fold the sketch log only when more than
    * `maxBatches` batch summaries have accumulated, so a scheduled job
    * can invoke it unconditionally after every batch window and the
    * driver fold bound (batches × groups × m) is enforced by the
    * maintenance loop rather than operator discipline. Returns (measured
    * batch count, whether a compaction ran; -1 after resuming an
    * interrupted swap). Run while the maintenance stream is STOPPED, like
    * the compaction itself.
    */
  def compactHeavyHittersIfNeeded(
      spark: SparkSession,
      indexDir: String,
      maxBatches: Int = 64): (Int, Boolean) =
    hhLog(spark, indexDir).compactIfOver("sketch", maxBatches)(hhFold(spark, indexDir))

  // ------------------------------------------- token-budget admission sink

  /** INGESTION-TIME token-budget admission — the streaming twin of
    * [[graft.ops.Sampling.sampleTokenBudget]]: admit arriving documents
    * per source until the source's token budget fills. Within a batch,
    * candidates rank by the batch operator's deterministic (md5 bucket,
    * id) order; across batches admission is first-committed-first-served
    * (a full source admits nothing more), so the admitted set is a pure
    * function of (batch sequence, budgets, seed) and the SQL oracle
    * replays it with one cumulative window ordered by (batch, bucket,
    * id).
    *
    * Commit protocol ([[BatchLog]], exactly-once, the totals log as
    * marker): per batch the admitted rows land under `admitted/batch=N`,
    * then the per-source token sums under `totals/batch=N`. An
    * at-least-once redelivery of a committed batch is skipped; a crashed
    * half-committed batch is invisible to every read and the redelivery
    * rewrites it — no double admission, which would double-count tokens
    * and starve later documents.
    *
    * Per batch: one totals read (batches-since-compaction × sources rows,
    * never the corpus — [[compactTokenBudget]] folds the totals log so a
    * long-lived stream's per-batch read stays bounded by the compaction
    * cadence), one per-source window over the BATCH's rows only (the
    * batch operator's boundary-bucket machinery is unnecessary at
    * micro-batch size), two appends. Query with [[tokenBudgetAdmitted]].
    */
  def tokenBudgetSink(
      spark: SparkSession,
      indexDir: String,
      budgets: Map[String, Long],
      seed: String = "s"): (DataFrame, Long) => Unit = {
    import spark.implicits._
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.values.forall(_ >= 0), s"budgets must be >= 0: $budgets")
    tokenBudgetSinkDF(spark, indexDir,
      budgets.toSeq.toDF("source", "budget"), seed)
  }

  /** [[tokenBudgetSink]] with budgets as a DataFrame (source, budget) —
    * the HIGH-SOURCE-CARDINALITY form, and the actual implementation: the
    * budgets table broadcast-joins onto each batch (no driver-built CASE
    * chain), prior totals join the same way, so nothing scales with
    * source cardinality except the (tiny) broadcast itself. The budgets
    * land in the parameter sidecar, one `budget:<source>` key each; a
    * restart is validated against them value-for-value.
    */
  def tokenBudgetSinkDF(
      spark: SparkSession,
      indexDir: String,
      budgets: DataFrame,
      seed: String = "s"): (DataFrame, Long) => Unit = {
    import spark.implicits._
    require(budgets.columns.contains("source") && budgets.columns.contains("budget"),
      s"budgets must carry (source, budget) columns, got ${budgets.columns.mkString(", ")}")
    val budgetRows = budgets
      .select(col("source").cast("string"), col("budget").cast("long"))
      .as[(String, Long)].collect().sortBy(_._1)
    require(budgetRows.nonEmpty, "budgets must be non-empty")
    require(budgetRows.map(_._1).distinct.length == budgetRows.length,
      "budgets must carry one row per source")
    require(budgetRows.forall(_._2 >= 0), s"budgets must be >= 0: ${budgetRows.toSeq}")
    val log = tbLog(spark, indexDir)
    log.open(budgetRows.toSeq.map { case (g, b) => s"budget:$g" -> b.toString } :+ ("seed" -> seed),
      "would change who was admitted retroactively")(())

    (batch: DataFrame, batchId: Long) => {
      val sess = batch.sparkSession
      import sess.implicits._
      if (!log.committed(batchId)) {
        val priorDf = log.read("totals")
          .fold(Seq.empty[(String, Long)].toDF("source", "__prior"))(
            _.groupBy("source").agg(sum("batch_toks").as("__prior")))
        // budgets (inner: absent sources drop) and prior totals (left:
        // a source's first batch has none) join instead of CASE chains —
        // source cardinality only sizes the broadcasts
        val budgetDf = budgetRows.toSeq.toDF("source", "__budget")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(graft.ops.Sampling.bucket(col("doc_id"), seed), col("doc_id"))
        val admitted = batch.select(col("doc_id").cast("long"),
            col("source").cast("string"), col("text"))
          .join(broadcast(budgetDf), Seq("source"))
          .join(broadcast(priorDf), Seq("source"), "left")
          .withColumn("n_tok", size(split(trim(col("text")), "\\s+")).cast("long"))
          .withColumn("__cum", sum("n_tok").over(w))
          .filter(coalesce(col("__prior"), lit(0L)) + col("__cum") - col("n_tok") < col("__budget"))
          .select(col("doc_id"), col("source"),
            graft.ops.Sampling.bucket(col("doc_id"), seed).as("bucket"), col("n_tok"))
          .persist()
        try {
          // the "" sentinel guarantees the totals batch dir holds a file
          // even when nothing was admitted — the commit marker (and
          // therefore the replay guard) must exist for EVERY batch, or an
          // all-sources-full (or empty) batch would reprocess forever
          log.commit(batchId)(
            p => admitted.write.parquet(p),
            p => admitted.groupBy("source").agg(sum("n_tok").as("batch_toks"))
              .unionByName(Seq(("", 0L)).toDF("source", "batch_toks"))
              .coalesce(1).write.parquet(p))
        } finally admitted.unpersist()
      }
    }
  }

  private def tbLog(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("admitted", "totals"), "token-budget",
      Some("compactTokenBudget"), exactlyOnce = true, meta = "tb_meta")

  /** The admitted set a [[tokenBudgetSink]] directory has committed:
    * (doc_id, source, n_tok), restricted to batches the totals log (the
    * commit marker) lists or [[compactTokenBudget]] folded (compaction
    * rewrites per-source sums only; the admitted rows stay where the
    * batch committed them, so the admitted set is byte-identical before
    * and after a compaction). A crashed half-committed batch's admitted
    * rows are invisible until its redelivery commits them.
    */
  def tokenBudgetAdmitted(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val log = tbLog(spark, indexDir)
    log.params()
    log.read("admitted")
      .fold(Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_tok"))(
        _.select("doc_id", "source", "n_tok"))
  }

  /** Compact a [[tokenBudgetSink]] totals log: fold the per-batch
    * per-source token sums into ONE merged `batch=compacted` totals
    * directory, so the sink's per-batch prior-totals read stops growing
    * with stream lifetime (one summary file instead of one per batch —
    * the only maintained sink whose per-batch read cost was O(batches)).
    * The admitted table is untouched: [[tokenBudgetAdmitted]] reads it
    * wholesale either way (it IS the data), and the folded ids keep its
    * batches visible, so the admitted set is byte-identical across a
    * compaction. Run while the admission stream is STOPPED. The
    * [[BatchLog]] swap records folded batch ids before the destructive
    * step, so a checkpoint-recovery redelivery of a pre-compaction
    * micro-batch skips instead of re-admitting documents the compacted
    * totals already count.
    */
  def compactTokenBudget(spark: SparkSession, indexDir: String): Unit = {
    val log = tbLog(spark, indexDir)
    log.params()
    log.compact("totals")(tbFold(spark, indexDir))
  }

  /** The compacted totals writer: per-source sums only — sources × 1 rows,
    * never the corpus; every committed batch wrote the "" sentinel row, so
    * the fold always carries it and the compacted batch is never empty.
    */
  private def tbFold(spark: SparkSession, indexDir: String): String => Unit = { seg =>
    import spark.implicits._
    val foldedTotals = tbLog(spark, indexDir).read("totals").get
      .groupBy("source").agg(sum("batch_toks").as("batch_toks"))
      .select(col("source"), col("batch_toks"))
      .as[(String, Long)].collect().sortBy(_._1)
    foldedTotals.toSeq.toDF("source", "batch_toks").coalesce(1).write.parquet(seg)
  }

  /** Number of totals batches a [[tokenBudgetSink]] dir has accumulated
    * since its last compaction, measured from the totals completeness
    * manifest alone — no data scan, no Spark job. The sink's per-batch
    * prior-totals read costs batches × sources rows, so this IS the
    * per-batch-read-cost gauge.
    */
  def tokenBudgetTotalsBatches(spark: SparkSession, indexDir: String): Int =
    tbLog(spark, indexDir).batchCount("totals")

  /** [[compactTokenBudget]] gated on [[tokenBudgetTotalsBatches]]: the
    * one-call maintenance form — fold the totals log only when more than
    * `maxBatches` batch summaries have accumulated, so a scheduled job
    * can invoke it unconditionally after every batch window and the
    * per-batch read bound (batches × sources) is enforced by the
    * maintenance loop rather than operator discipline. Returns (measured
    * batch count, whether a compaction ran; -1 after resuming an
    * interrupted swap). Run while the admission stream is STOPPED, like
    * the compaction itself.
    */
  def compactTokenBudgetIfNeeded(
      spark: SparkSession,
      indexDir: String,
      maxBatches: Int = 64): (Int, Boolean) =
    tbLog(spark, indexDir).compactIfOver("totals", maxBatches)(tbFold(spark, indexDir))

  // ------------------------------------ streaming contamination-rate audit

  // the benchmark's shingle and id tables beside the matched log
  private val DcrBench = "bench"
  private val DcrDocs = "bench_docs"
  private def dcrLog(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("matched"), "contamination-rate", None, exactlyOnce = true,
      meta = "dcr_meta")

  /** INGESTION-TIME contamination-rate audit — the streaming twin of
    * [[graft.dedup.Dedup.contaminationRate]]: as training documents
    * arrive, accumulate which of the benchmark's n-gram shingles have
    * been seen ANYWHERE in the admitted corpus, so the per-eval-doc
    * "percent of eval n-grams seen in training" number (the GPT-3
    * appendix-C audit) is queryable at any point of the stream and
    * CONVERGES to the batch audit once the same documents have flowed
    * through — the monitoring side of the decontamination loop
    * ([[contaminationStream]] quarantines docs; this one watches the
    * rates drift as the corpus grows).
    *
    * Setup persists the benchmark's shingle table (bench_id, h) and doc
    * list once; every open digests the benchmark (one aggregation) and a
    * restart is validated against the stored digest (a different
    * benchmark would silently change every rate). Per
    * batch: the batch's distinct shingle hashes stream through a
    * broadcast of the benchmark's (bounded) hash set, already-matched
    * hashes are anti-joined away, and only the NEWLY matched hashes land
    * under `matched/batch=N` — so the whole matched log is bounded by
    * the benchmark's own shingle count regardless of stream lifetime
    * (the per-batch delta IS the rate delta). Commits go through
    * [[BatchLog]] exactly-once: an at-least-once redelivery of a committed
    * batch is skipped, a crashed half-commit is invisible to every read
    * and rewritten on redelivery.
    */
  def decontaminateRateSink(
      spark: SparkSession,
      indexDir: String,
      benchmark: DataFrame,
      n: Int = 13,
      benchIdCol: String = "bench_id",
      benchTextCol: String = "text",
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, Long) => Unit = {
    require(n >= 1, s"n must be >= 1, got $n")

    def shingles(df: DataFrame, id: String, text: String, outId: String) =
      Lsh.shingleHashRows(df, col(id).cast("long"), col(text), n, outId)

    val benchSh = shingles(benchmark, benchIdCol, benchTextCol, "bench_id")
    // deterministic digest: order-free xor of (bench_id * prime ^ h) plus
    // counts — enough to catch a different benchmark or n on restart
    val digest = benchSh.agg(count(lit(1)).as("c"),
      coalesce(expr("bit_xor(bench_id * 1000003 + h)"), lit(0L)).as("d")).head()
    val log = dcrLog(spark, indexDir)
    log.open(Seq("n" -> n.toString, "bench_shingles" -> digest.getLong(0).toString,
        "bench_digest" -> digest.getLong(1).toString),
      "with a different benchmark or n would silently change every rate") {
      benchSh.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/$DcrBench")
      benchmark.select(col(benchIdCol).cast("long").as("bench_id")).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/$DcrDocs")
    }

    (batch: DataFrame, batchId: Long) => {
      val sess = batch.sparkSession
      import sess.implicits._
      if (!log.committed(batchId)) {
        val benchH = IndexTable.read(sess, indexDir, DcrBench).select("h").distinct()
        val prior = log.read("matched").fold(Seq.empty[Long].toDF("h"))(
          _.filter(col("real")).select("h").distinct())
        // the corpus batch streams ONCE through the broadcast bench gate;
        // the matched set is bounded by the benchmark's shingle count
        val newMatches = shingles(batch, idCol, textCol, "__cd")
          .join(broadcast(benchH), Seq("h"))
          .select("h").distinct()
          .join(broadcast(prior), Seq("h"), "left_anti")
          .withColumn("real", lit(true))
        // the sentinel guarantees the batch dir (the replay guard) exists
        // even when the batch matched nothing new
        log.commit(batchId)(p => newMatches
          .unionByName(Seq((0L, false)).toDF("h", "real"))
          .coalesce(1).write.parquet(p))
      }
    }
  }

  /** The converged audit a [[decontaminateRateSink]] directory serves:
    * (bench_id, n_shingles, n_matched, rate) — exactly
    * [[graft.dedup.Dedup.contaminationRate]]'s output over every
    * document a COMMITTED batch has carried (half-committed batches are
    * invisible). The matched log is manifest-validated fail-loud; rates
    * before any batch commits are all zero, and after the full corpus
    * has streamed through they equal the batch audit row-for-row.
    */
  def decontaminateRateMaintained(spark: SparkSession, indexDir: String): DataFrame = {
    val log = dcrLog(spark, indexDir)
    log.params()
    val benchSh = IndexTable.read(spark, indexDir, DcrBench)
    val matched = log.read("matched").fold {
      import spark.implicits._
      Seq.empty[Long].toDF("h")
    }(_.filter(col("real")).select("h").distinct())
    val perDoc = benchSh
      .join(broadcast(matched.withColumn("__m", lit(1L))), Seq("h"), "left")
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__m"), lit(0L))).as("n_matched"))
    IndexTable.read(spark, indexDir, DcrDocs)
      .join(perDoc, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("rate", when(col("n_shingles") === 0, lit(0.0))
        .otherwise(col("n_matched").cast("double") / col("n_shingles")))
  }

  // ------------------------------------------- corpus-profile monitoring sink

  /** INGESTION-TIME corpus profiling — the monitoring twin of the batch
    * `corpus_profile` diagnostic: per-(source, lang) MERGEABLE integer
    * totals (doc count, total chars, total whitespace tokens) maintained
    * across micro-batches. Every per-batch partial is an INTEGER sum, so
    * the folded totals are exactly the batch aggregate for any batch
    * split — no float-summation-order drift, the reason the maintained
    * profile carries integer totals plus read-time ratios rather than
    * averaged doubles. Exact percentiles are deliberately absent: they do
    * not merge without sketches, and this engine's convention is
    * exact-or-absent — run the batch diagnostic when you need them.
    *
    * Per batch: ONE partial-aggregated pass over the batch (result is
    * (sources × langs)-sized, never batch-sized), an O(sources × langs)
    * append under `totals/batch=N`, committed exactly-once through
    * [[BatchLog]]: totals are NOT idempotent under re-merge, so committed
    * and folded batches are skipped on redelivery instead of
    * double-counting.
    */
  def corpusProfileSink(
      spark: SparkSession,
      indexDir: String,
      sourceCol: String = "source",
      langCol: String = "lang",
      textCol: String = "text",
      charsCol: String = "n_chars"): (DataFrame, Long) => Unit = {
    val log = cpLog(spark, indexDir)
    log.open(Seq("sourceCol" -> sourceCol, "langCol" -> langCol, "textCol" -> textCol,
      "charsCol" -> charsCol), "would mix incomparable totals")(())

    (batch: DataFrame, batchId: Long) =>
      if (!log.committed(batchId)) log.commit(batchId)(p =>
        batch
          .groupBy(col(sourceCol).cast("string").as("source"),
            col(langCol).cast("string").as("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col(charsCol).cast("long")).as("total_chars"),
            sum(size(split(trim(col(textCol)), "\\s+")).cast("long")).as("total_tokens"))
          .coalesce(1).write.parquet(p))
  }

  private def cpLog(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("totals"), "corpus-profile",
      Some("compactCorpusProfile"), exactlyOnce = true, meta = "cp_meta")

  /** The converged per-source profile a [[corpusProfileSink]] directory
    * serves: (source, n_docs, n_langs, total_chars, total_tokens,
    * avg_chars) — integer totals folded across committed batches (the
    * fold reads batches × sources × langs rows, never the corpus),
    * ratios computed at read time from the exact sums.
    */
  def corpusProfileMaintained(spark: SparkSession, indexDir: String): DataFrame = {
    val log = cpLog(spark, indexDir)
    log.params()
    val totals = log.read("totals").getOrElse {
      import spark.implicits._
      return Seq.empty[(String, Long, Long, Long, Long, Double)]
        .toDF("source", "n_docs", "n_langs", "total_chars", "total_tokens", "avg_chars")
    }
    totals
      .groupBy("source")
      .agg(sum("n_docs").as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum("total_chars").as("total_chars"),
        sum("total_tokens").as("total_tokens"))
      .withColumn("avg_chars",
        round(col("total_chars").cast("double") / col("n_docs"), 4))
  }

  /** Fold the totals log into ONE `batch=compacted` segment through the
    * [[BatchLog]] swap (folded batch ids land before the destructive step,
    * so post-compaction redeliveries skip instead of double-counting). Run
    * while the stream is stopped.
    */
  def compactCorpusProfile(spark: SparkSession, indexDir: String): Unit = {
    val log = cpLog(spark, indexDir)
    log.params()
    log.compact("totals") { seg =>
      import spark.implicits._
      log.read("totals").get
        .groupBy("source", "lang")
        .agg(sum("n_docs").as("n_docs"),
          sum("total_chars").as("total_chars"),
          sum("total_tokens").as("total_tokens"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(t => (t._1, t._2))
        .toDF("source", "lang", "n_docs", "total_chars", "total_tokens")
        .coalesce(1).write.parquet(seg)
    }
  }

  // ------------------------------------------- unbounded exact-dedup sink

  /** UNBOUNDED cross-batch exact dedup — the digest twin of
    * [[nearDupSink]], closing `stream_dedup`'s one semantic gap: Spark's
    * `dropDuplicatesWithinWatermark` bounds its state by the watermark,
    * so a duplicate arriving AFTER the watermark silently re-admits. This
    * sink's state is a manifested on-disk digest table — 16-byte md5 +
    * id + count per DISTINCT document, never the corpus text — so the
    * dedup horizon is the stream's whole lifetime at any corpus size.
    *
    * The state rows are MERGEABLE AGGREGATES, not a kept-id set: each
    * batch appends its per-digest `(digest, min(id), count)` — one
    * partial-agg pass over the batch, O(batch) appended — and the read
    * folds `min`/`sum` across segments. That is why convergence to the
    * batch operator is EXACT and batch-split-independent: a first-wins
    * left-anti against accumulated digests would freeze whichever id
    * arrived first, diverging from [[graft.dedup.Dedup.exactGroups]]'
    * min-id rule the moment a smaller id shows up in a later batch,
    * while the min-fold is order-blind by construction. Same exactly-once
    * [[BatchLog]] as [[corpusProfileSink]]: committed and folded batches
    * skip on redelivery (counts are not idempotent), a lost delta file
    * fails the next read loudly.
    *
    * Read the converged groups with [[dedupExactMaintained]] — equal
    * row-for-row to batch `Dedup.exactGroups` over everything ingested —
    * or anti-join new data against its `keep_id`s; compact with
    * [[compactDedupExact]].
    */
  def dedupExactSink(
      spark: SparkSession,
      indexDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, Long) => Unit = {
    val log = deLog(spark, indexDir)
    log.open(Seq("idCol" -> idCol, "textCol" -> textCol), "would mix incomparable digests")(())

    (batch: DataFrame, batchId: Long) =>
      if (!log.committed(batchId)) log.commit(batchId)(p =>
        batch
          .groupBy(md5(col(textCol)).as("digest"))
          .agg(min(col(idCol).cast("long")).as("keep_id"),
            count(lit(1)).as("n_dups"))
          .write.parquet(p))
  }

  private def deLog(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("dig"), "exact-dedup", Some("compactDedupExact"),
      exactlyOnce = true, meta = "de_meta")

  /** The converged exact-dedup groups a [[dedupExactSink]] directory
    * serves: (digest, keep_id, n_dups), equal row-for-row to batch
    * [[graft.dedup.Dedup.exactGroups]] over the union of committed
    * batches — regardless of how the stream split them, including a
    * duplicate pair straddling batches beyond any watermark. The fold
    * reads digest rows (16 B + id + count per distinct doc), never text.
    */
  def dedupExactMaintained(spark: SparkSession, indexDir: String): DataFrame = {
    val log = deLog(spark, indexDir)
    log.params()
    val dig = log.read("dig").getOrElse {
      import spark.implicits._
      return Seq.empty[(String, Long, Long)].toDF("digest", "keep_id", "n_dups")
    }
    dig
      .groupBy("digest")
      .agg(min("keep_id").as("keep_id"), sum("n_dups").as("n_dups"))
  }

  /** Fold the digest log back to one segment per digest set through the
    * [[BatchLog]] swap (folded batch ids land before the destructive step,
    * so a batch redelivered after its segment was folded away skips
    * instead of double-counting its `n_dups`). Run while the stream is
    * stopped. The fold stays distributed — digest state is
    * corpus-cardinality-sized, so unlike the bounded profile/heavy-hitter
    * folds nothing is collected.
    */
  def compactDedupExact(spark: SparkSession, indexDir: String): Unit = {
    val log = deLog(spark, indexDir)
    log.params()
    log.compact("dig")(seg => log.read("dig").get
      .groupBy("digest")
      .agg(min("keep_id").as("keep_id"), sum("n_dups").as("n_dups"))
      .write.parquet(seg))
  }

  // ------------------------------------------- weighted-sample reservoir sink

  private def wsLog(spark: SparkSession, indexDir: String) =
    new BatchLog(spark, indexDir, Seq("cand"), "weighted-sample", Some("compactWeightedSample"),
      exactlyOnce = false, meta = "ws_meta")

  /** (k, id column, weight column) a [[weightedSampleSink]] directory was
    * opened with.
    */
  private def wsParams(spark: SparkSession, indexDir: String): (Int, String, String) = {
    val p = wsLog(spark, indexDir).params()
    (p("k").toInt, p("idCol"), p("weightCol"))
  }

  /** INGESTION-TIME weighted sampling — the streaming twin of
    * [[graft.ops.Sampling.sampleWeighted]] (Efraimidis–Spirakis A-Res
    * reservoir): maintain the exact k rows with the largest
    * `ln(u)/weight` keys over everything ingested so far. The key
    * ([[graft.ops.Sampling.aresKey]], shared verbatim with the batch
    * operator) is a PURE function of (seed, id, weight), which makes the
    * reservoir a MONOTONE IDEMPOTENT top-k merge: re-merging any
    * committed batch's candidates — or a batch replayed after compaction
    * folded it away — cannot change the top-k, because its rows are
    * byte-identical functions of the data already folded in. That is why
    * this sink's [[BatchLog]] records no folded batch ids: skipping a
    * batch the manifest lists only saves redundant work; it is not load-
    * bearing for correctness.
    *
    * Per batch: one scan computing keys + a batch-local
    * TakeOrderedAndProject top-k (k rows — candidates that could ever
    * enter the global top-k) and an O(k) append under `cand/batch=N`.
    * The candidate log holds
    * k × batches rows until [[compactWeightedSample]] folds it back to k.
    * Read with [[weightedSampleMaintained]] — identical rows, ranks, and
    * order as the batch operator over the union of committed batches.
    *
    * Ids must be unique across the stream's lifetime and carry a stable
    * weight (the same contract as the batch operator, where duplicate
    * ids would be two rows competing with the same key); the maintained
    * read fails loudly if one id ever arrives with two different weights.
    */
  def weightedSampleSink(
      spark: SparkSession,
      indexDir: String,
      k: Int,
      weightCol: String,
      idCol: String = "doc_id",
      seed: String = "s"): (DataFrame, Long) => Unit = {
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val log = wsLog(spark, indexDir)
    log.open(Seq("k" -> k.toString, "seed" -> seed, "idCol" -> idCol, "weightCol" -> weightCol),
      "would change the sample retroactively")(())

    (batch: DataFrame, batchId: Long) =>
      // batch-local top-k: only rows that could ever enter the global
      // reservoir; TakeOrderedAndProject, never a global sort
      if (!log.committed(batchId)) log.commit(batchId)(p => batch
        .select(col(idCol), col(weightCol),
          graft.ops.Sampling.aresKey(idCol, weightCol, seed).as("__skey"))
        .orderBy(col("__skey").desc, col(idCol))
        .limit(k)
        .coalesce(1).write.parquet(p))
  }

  /** The maintained A-Res sample a [[weightedSampleSink]] directory
    * serves: the exact rows, `sample_rank`s, and order
    * [[graft.ops.Sampling.sampleWeighted]] returns over the union of
    * committed batches. Folds the (k × batches)-bounded candidate log —
    * never anything corpus-sized — and fails loudly on a lost candidate
    * file or an id that arrived with two different weights. The served
    * schema is FIXED at (long id, double weight, int sample_rank)
    * whether or not any batch has committed — the empty directory must
    * not serve a different schema than the first committed batch.
    */
  def weightedSampleMaintained(spark: SparkSession, indexDir: String): DataFrame = {
    val (k, idCol, weightCol) = wsParams(spark, indexDir)
    val cands = wsLog(spark, indexDir).read("cand").getOrElse(
      return spark.emptyDataFrame
        .withColumn(idCol, lit(null).cast("long"))
        .withColumn(weightCol, lit(null).cast("double"))
        .withColumn("sample_rank", lit(null).cast("int"))
        .limit(0))
      .select(col(idCol).cast("long").as(idCol),
        col(weightCol).cast("double").as(weightCol), col("__skey"))
    requireStableWeights(cands, idCol, weightCol, s"$indexDir/cand",
      "ids must be unique across the stream with a stable weight; the sample would " +
        "be nondeterministic")
    cands.dropDuplicates(idCol)
      .orderBy(col("__skey").desc, col(idCol))
      .limit(k)
      .withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__skey").desc, col(idCol))))
      .drop("__skey")
  }

  /** Fold the candidate log back to ONE k-row `batch=compacted` segment
    * through the [[BatchLog]] swap once it holds more than `maxBatches`
    * committed batch segments. Returns (segments, whether a fold ran; -1
    * after resuming an interrupted swap). Run while the stream is
    * stopped. The swap replaces the whole log, so segments orphaned by a
    * crashed earlier attempt go with it. A batch replayed after its
    * segment was folded away re-appends its candidates; the
    * idempotent-merge argument above makes that harmless — the next read
    * or compaction folds them straight back out.
    */
  def compactWeightedSample(
      spark: SparkSession,
      indexDir: String,
      maxBatches: Int = 64): (Int, Boolean) = {
    val (k, idCol, weightCol) = wsParams(spark, indexDir)
    val log = wsLog(spark, indexDir)
    log.compactIfOver("cand", maxBatches) { seg =>
      val cands = log.read("cand").get.select(col(idCol), col(weightCol), col("__skey"))
      // same stable-weight contract as the maintained read — folding away a
      // conflicting id here would destroy the evidence the read checks for
      requireStableWeights(cands, idCol, weightCol, s"$indexDir/cand",
        "refusing to compact a nondeterministic sample away")
      cands
        .dropDuplicates(idCol)
        .orderBy(col("__skey").desc, col(idCol))
        .limit(k)
        .coalesce(1).write.parquet(seg)
    }
  }

  private def requireStableWeights(
      cands: DataFrame, idCol: String, weightCol: String, dir: String, why: String): Unit = {
    val conflicting = cands.groupBy(idCol)
      .agg(countDistinct(weightCol).as("__nw")).filter(col("__nw") > 1).limit(1).count()
    require(conflicting == 0,
      s"weighted-sample log at $dir carries an id with two different weights — $why")
  }
}
