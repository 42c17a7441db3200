package graft.hnsw

import graft.core.Distances
import graft.io.{HadoopIO, Manifest, ManifestEntry, SerializableHadoopConf}
import graft.knn.Knn
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed HNSW on Spark: the batch analog of the reference's
  * partitioned dataset (`/root/reference/storage/dataset.go`).
  *
  * Build: each Spark partition constructs an independent HNSW graph inside
  * `mapPartitions` — memory is bounded by partitionRows·mMax0 edges, exactly
  * the reference's partition model (`storage/partition.go`), so partition
  * count is the scale knob (at 100 TB: pick P so each partition's vectors
  * fit an executor; the build never shuffles anything but the initial
  * repartition on id).
  *
  * Search: every partition searches all (broadcast) queries in its local
  * graph and emits k candidates per query; the global merge ranks the tiny
  * k·P·Q candidate union — `dataset.go:349`'s sort-and-truncate, as a window
  * over candidates.
  */
object HnswSpark {

  /** Normalize to (id, vector, metadata) — the optional `metadata: binary`
    * column (reference Insert carries metadata, `index/hnsw.go:80`) defaults
    * to null when absent, so metadata-free pipelines pay nothing.
    */
  private def withMetaCol(data: DataFrame): DataFrame = {
    val m =
      if (data.columns.contains("metadata")) col("metadata").cast("binary")
      else lit(null).cast("binary")
    data.select(col("id").cast("long"), col("vector").cast("array<float>"), m.as("metadata"))
  }

  /** Approximate kNN: per-partition HNSW build + search + global k-merge.
    * data: (id: long, vector: array<float>); output (qid, id, dist, rank).
    * Deterministic: hash repartition on id, id-sorted inserts, hashed levels.
    */
  def search(
      spark: SparkSession,
      data: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int,
      metric: String = "euclidean",
      config: HnswConfig = HnswConfig(),
      numPartitions: Int = 0): DataFrame =
    searchWithMeta(spark, data, queries, k, metric, config, numPartitions)
      .select("qid", "id", "dist", "rank")

  /** [[search]] carrying per-vertex metadata into the result rows
    * (reference `hnsw.go:242`: search results expose vertex.Metadata()):
    * output (qid, id, dist, metadata, rank); metadata is null when the
    * input had no metadata column.
    */
  def searchWithMeta(
      spark: SparkSession,
      data: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int,
      metric: String = "euclidean",
      config: HnswConfig = HnswConfig(),
      numPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val m = Distances.metricId(metric)
    val bc = spark.sparkContext.broadcast(queries)

    val pre = withMetaCol(data)
    val parts = if (numPartitions > 0) pre.repartition(numPartitions, col("id")) else pre

    val candidates = parts
      .as[(Long, Array[Float], Array[Byte])]
      .mapPartitions { iter =>
        val items = iter.toArray.sortBy(_._1)
        if (items.isEmpty) Iterator.empty
        else {
          val index = new HnswIndex(m, config)
          items.foreach { case (id, v, meta) => index.add(id, v, meta) }
          val qs = bc.value
          qs.iterator.flatMap { case (qid, qv) =>
            index.searchWithMeta(qv, k).iterator.map { case (id, d, meta) => (qid, id, d, meta) }
          }
        }
      }
      .toDF("qid", "id", "dist", "metadata")

    Knn.topK(candidates, k)
  }

  /** Approximate kNN with a DataFrame query side — no driver-resident query
    * array. The query table is replicated to every graph partition through
    * one shuffle (pid-keyed `zipPartitions`, the same rebroadcast shape as
    * [[graft.knn.Knn.partitionedDF]]); each partition builds its graph once
    * and STREAMS the replicated queries through it (the query iterator is
    * never materialized — task memory is the graph partition, regardless
    * of query count); the global k-merge ranks the k·P·Q candidate union.
    * At huge Q that candidate volume is the inherent cost of the
    * every-graph fan-out — corpus-vs-corpus batches belong on the IVF
    * cogroup path ([[graft.knn.Ivf.searchDF]]), which replicates nothing.
    *
    * data: (id, vector), queries: (qid, qvec); output (qid, id, dist, rank).
    */
  def searchDF(
      spark: SparkSession,
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String = "euclidean",
      config: HnswConfig = HnswConfig(),
      numPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val m = Distances.metricId(metric)

    val pre = data.select(col("id").cast("long"), col("vector").cast("array<float>"))
    val parts = if (numPartitions > 0) pre.repartition(numPartitions, col("id")) else pre
    val candidates = Knn.fanOut(parts.as[(Long, Array[Float])].rdd, queries) { (dIter, qIter) =>
      val items = dIter.toArray.sortBy(_._1)
      if (items.isEmpty) Iterator.empty
      else {
        val index = new HnswIndex(m, config)
        items.foreach { case (id, v) => index.add(id, v) }
        qIter.flatMap { case (qid, qv) =>
          index.search(qv, k).iterator.map { case (id, d) => (qid, id, d) }
        }
      }
    }.toDF("qid", "id", "dist")

    Knn.topK(candidates, k)
  }

  /** Filtered approximate kNN: per-partition HNSW search returning only ids
    * that satisfy `allow` (reference tombstone mechanics generalized to
    * arbitrary predicates — filtered-out vertices still serve as
    * through-nodes). `efOverride` widens the level-0 beam so enough allowed
    * candidates survive selective filters.
    */
  def searchFiltered(
      spark: SparkSession,
      data: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int,
      allow: Long => Boolean,
      metric: String = "euclidean",
      config: HnswConfig = HnswConfig(),
      numPartitions: Int = 0,
      efOverride: Int = 0): DataFrame = {
    import spark.implicits._
    val m = Distances.metricId(metric)
    val bc = spark.sparkContext.broadcast(queries)

    val pre = data.select(col("id").cast("long"), col("vector").cast("array<float>"))
    val parts = if (numPartitions > 0) pre.repartition(numPartitions, col("id")) else pre

    val candidates = parts
      .as[(Long, Array[Float])]
      .mapPartitions { iter =>
        val items = iter.toArray.sortBy(_._1)
        if (items.isEmpty) Iterator.empty
        else {
          val index = new HnswIndex(m, config)
          items.foreach { case (id, v) => index.add(id, v) }
          val qs = bc.value
          qs.iterator.flatMap { case (qid, qv) =>
            index.searchFiltered(qv, k, allow, efOverride).iterator
              .map { case (id, d) => (qid, id, d) }
          }
        }
      }
      .toDF("qid", "id", "dist")

    Knn.topK(candidates, k)
  }

  /** Build per-partition graphs and persist each as a binary artifact under
    * `outDir/part-<pid>.hnsw` (reference `index/hnsw_persistence.go` — the
    * built index is an output, not a transient). Returns per-partition sizes.
    *
    * The same job writes a `_manifest` (expected artifact set + per-file
    * length + CRC32 — [[graft.io.Manifest]]); [[searchSaved]]/[[searchSavedDF]]
    * refuse to serve from an incomplete or torn artifact directory instead
    * of silently searching fewer graphs.
    *
    * All artifact bytes go through the Hadoop [[org.apache.hadoop.fs.FileSystem]]
    * API with the session's configuration, so `outDir` may be `hdfs://`,
    * `s3a://`, or `file://` — executor-local `java.io.File` writes would
    * scatter artifacts across worker disks on a real cluster.
    */
  def buildAndSave(
      spark: SparkSession,
      data: DataFrame,
      outDir: String,
      metric: String = "euclidean",
      config: HnswConfig = HnswConfig(),
      numPartitions: Int = 0): Array[(Int, Int)] = {
    import spark.implicits._
    val m = Distances.metricId(metric)
    val hconf = spark.sparkContext.hadoopConfiguration
    HadoopIO.mkdirs(outDir, hconf)
    seedManifest(outDir, hconf)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))

    val pre = withMetaCol(data)
    val parts = if (numPartitions > 0) pre.repartition(numPartitions, col("id")) else pre

    val written = parts.as[(Long, Array[Float], Array[Byte])]
      .mapPartitions { iter =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val items = iter.toArray.sortBy(_._1)
        if (items.isEmpty) Iterator.empty
        else {
          val index = new HnswIndex(m, config)
          items.foreach { case (id, v, meta) => index.add(id, v, meta) }
          val name = s"part-$pid.hnsw"
          val (_, len, crc) =
            HadoopIO.writeChecked(s"$outDir/$name", bcConf.value.value)(index.save)
          Iterator.single((pid, index.size, name, len, crc))
        }
      }
      .collect()
    Manifest.write(outDir, written.map(w => ManifestEntry(w._3, w._4, w._5)).toSeq, hconf)
    written.map(w => (w._1, w._2))
  }

  def loadPartition(path: String, conf: Configuration = new Configuration()): HnswIndex =
    HadoopIO.read(path, conf)(HnswIndex.load)

  /** [[loadPartition]] verifying the artifact against its manifest CRC
    * (`crc < 0` = legacy entry, checksum unknown, load unverified).
    */
  private def loadPartitionChecked(path: String, crc: Long, conf: Configuration): HnswIndex =
    HadoopIO.readChecked(path, conf, crc)(HnswIndex.load)

  /** Seed a manifest BEFORE a build/maintenance job touches the directory
    * (no-op when one exists): a fresh build that crashes mid-job would
    * otherwise leave partial artifacts with NO manifest, which loaders
    * pass through as a "legacy" directory and serve silently-low-recall
    * results — the exact hole the manifest exists to close. With the
    * seed in place, a crash leaves artifacts the manifest doesn't list
    * (or lists at a different length), and the next load fails loudly.
    */
  private def seedManifest(indexDir: String, hconf: Configuration): Unit =
    if (Manifest.read(indexDir, hconf).isEmpty)
      Manifest.write(indexDir,
        HadoopIO.globWithLength(indexDir, "*.hnsw", hconf)
          .map { case (uri, len) => ManifestEntry(Manifest.baseName(uri), len, -1L) },
        hconf)

  /** Fold this job's rewritten artifacts into the directory's manifest:
    * untouched partitions keep their prior entries (a legacy pre-manifest
    * directory inherits length-only entries for them), touched ones get
    * the fresh length+CRC. Runs after the artifact writes — a crash in
    * between leaves a stale manifest, which the next load REJECTS
    * (fail-loud) rather than serving a half-updated index.
    */
  private def mergeManifest(
      indexDir: String,
      touched: Seq[ManifestEntry],
      hconf: Configuration): Unit = {
    val prior = Manifest.read(indexDir, hconf).getOrElse(
      HadoopIO.globWithLength(indexDir, "*.hnsw", hconf)
        .map { case (uri, len) => ManifestEntry(Manifest.baseName(uri), len, -1L) })
    val touchedNames = touched.map(_.name).toSet
    Manifest.write(indexDir, prior.filterNot(e => touchedNames(e.name)) ++ touched, hconf)
  }

  /** Incremental maintenance: route a new batch of vectors to the existing
    * partition graphs (same deterministic hash repartition as
    * [[buildAndSave]] — same P ⇒ same routing), load each touched graph,
    * insert, save back. This is the reference's online insert path
    * (`storage/dataset.go:238` BatchInsert → per-partition `index.Insert`)
    * as micro-batches; drive it from Structured Streaming via
    * `foreachBatch`. Returns (pid, newSize) per touched partition.
    */
  def appendAndSave(
      spark: SparkSession,
      newData: DataFrame, // (id, vector)
      indexDir: String,
      numPartitions: Int,
      metric: String = "euclidean",
      config: HnswConfig = HnswConfig()): Array[(Int, Int)] = {
    import spark.implicits._
    val m = Distances.metricId(metric)
    val hconf0 = spark.sparkContext.hadoopConfiguration
    HadoopIO.mkdirs(indexDir, hconf0)
    seedManifest(indexDir, hconf0)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf0))
    val written = withMetaCol(newData)
      .repartition(numPartitions, col("id"))
      .as[(Long, Array[Float], Array[Byte])]
      .mapPartitions { iter =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val items = iter.toArray.sortBy(_._1)
        if (items.isEmpty) Iterator.empty
        else {
          val conf = bcConf.value.value
          val name = s"part-$pid.hnsw"
          val path = s"$indexDir/$name"
          val index =
            if (HadoopIO.exists(path, conf)) loadPartition(path, conf)
            else new HnswIndex(m, config)
          items.foreach { case (id, v, meta) => index.add(id, v, meta) }
          val (_, len, crc) = HadoopIO.writeChecked(path, conf)(index.save)
          Iterator.single((pid, index.size, name, len, crc))
        }
      }
      .collect()
    mergeManifest(indexDir, written.map(w => ManifestEntry(w._3, w._4, w._5)).toSeq,
      spark.sparkContext.hadoopConfiguration)
    written.map(w => (w._1, w._2))
  }

  /** Remove ids from the persisted partition graphs (reference BatchRemove,
    * `dataset.go:325` — tombstone + re-prune, then compacted on save).
    */
  def removeAndSave(
      spark: SparkSession,
      ids: DataFrame, // (id)
      indexDir: String,
      numPartitions: Int): Array[(Int, Int)] = {
    import spark.implicits._
    val hconf0 = spark.sparkContext.hadoopConfiguration
    seedManifest(indexDir, hconf0)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf0))
    val written = ids.select(col("id").cast("long"))
      .repartition(numPartitions, col("id"))
      .as[Long]
      .mapPartitions { iter =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val toRemove = iter.toArray
        val conf = bcConf.value.value
        val name = s"part-$pid.hnsw"
        val path = s"$indexDir/$name"
        if (toRemove.isEmpty || !HadoopIO.exists(path, conf)) Iterator.empty
        else {
          val index = loadPartition(path, conf)
          toRemove.foreach(index.remove)
          val (_, len, crc) = HadoopIO.writeChecked(path, conf)(index.save)
          Iterator.single((pid, index.size, name, len, crc))
        }
      }
      .collect()
    mergeManifest(indexDir, written.map(w => ManifestEntry(w._3, w._4, w._5)).toSeq,
      spark.sparkContext.hadoopConfiguration)
    written.map(w => (w._1, w._2))
  }

  /** Search previously persisted per-partition graphs (build once with
    * [[buildAndSave]], search many): each saved graph is loaded and searched
    * by one task, candidates k-merge globally. The index artifacts — not the
    * raw vectors — are the working set, exactly the reference's
    * load-then-serve path (`index/hnsw_persistence.go` + `dataset.go:390`).
    */
  /** Glob + manifest-validate the artifact directory: returns (uri, crc)
    * per artifact. A directory whose manifest lists artifacts the glob
    * can't see (torn copy, partial delete) errors HERE — before any task
    * runs — instead of silently searching fewer graphs.
    */
  private def validatedArtifacts(indexDir: String, hconf: Configuration): Seq[(String, Long)] = {
    val files = HadoopIO.globWithLength(indexDir, "*.hnsw", hconf)
    require(files.nonEmpty, s"no .hnsw files under $indexDir")
    Manifest.validate(indexDir, files, hconf)
  }

  /** Search saved graphs EXCLUDING a set of ids, WITHOUT the final top-k
    * merge — the base-graph half of a delta-maintained index
    * ([[graft.streaming.StreamingOps.searchHnswMaintained]]): ids touched
    * by the delta log are overridden there, so the base must not serve
    * them. Returns the (qid, id, dist) candidates collected on the
    * driver: at most k per query per graph, one job. Unlike
    * [[searchSaved]], a maintained base directory REQUIRES a
    * manifest (the sink seeds one at construction, compaction writes one
    * before its swap) — a manifest-less dir with artifacts is a torn swap,
    * not a legacy save. An empty base (cold start: no compaction yet)
    * returns no candidates and starts no job.
    */
  private[graft] def searchSavedExcluding(
      spark: SparkSession,
      indexDir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      excluded: scala.collection.Set[Long],
      efOverride: Int = 0): Array[(Long, Long, Double)] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    require(Manifest.read(indexDir, hconf).isDefined,
      s"maintained base at $indexDir has no manifest — foreign directory or torn base swap; " +
        "refusing to serve unverifiable graphs")
    val files = Manifest.validate(indexDir, HadoopIO.globWithLength(indexDir, "*.hnsw", hconf), hconf)
    if (files.isEmpty) return Array.empty
    val bc = spark.sparkContext.broadcast(queries)
    val bcEx = spark.sparkContext.broadcast(excluded)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))
    spark.sparkContext
      .parallelize(files, files.size)
      .flatMap { case (path, crc) =>
        val index = loadPartitionChecked(path, crc, bcConf.value.value)
        val ex = bcEx.value
        bc.value.iterator.flatMap { case (qid, qv) =>
          index.searchFiltered(qv, k, id => !ex.contains(id), efOverride).iterator
            .map { case (id, d) => (qid, id, d) }
        }
      }
      .collect()
  }

  /** [[searchSavedExcluding]] with a DataFrame query side: queries are
    * replicated to the artifact tasks through one shuffle (the
    * [[searchSavedDF]] shape) and streamed through each graph's filtered
    * search. Same manifest-required contract; empty base → no candidates.
    */
  private[graft] def searchSavedExcludingDF(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      excluded: scala.collection.Set[Long],
      efOverride: Int = 0): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    require(Manifest.read(indexDir, hconf).isDefined,
      s"maintained base at $indexDir has no manifest — foreign directory or torn base swap; " +
        "refusing to serve unverifiable graphs")
    val files = Manifest.validate(indexDir, HadoopIO.globWithLength(indexDir, "*.hnsw", hconf), hconf)
    if (files.isEmpty) return Seq.empty[(Long, Long, Double)].toDF("qid", "id", "dist")
    val bcEx = spark.sparkContext.broadcast(excluded)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))
    val filesRdd = spark.sparkContext.parallelize(files, files.size)
    Knn.fanOut(filesRdd, queries) { (fIter, qIter) =>
      fIter.flatMap { case (path, crc) =>
        val index = loadPartitionChecked(path, crc, bcConf.value.value)
        val ex = bcEx.value
        qIter.flatMap { case (qid, qv) =>
          index.searchFiltered(qv, k, id => !ex.contains(id), efOverride).iterator
            .map { case (id, d) => (qid, id, d) }
        }
      }
    }.toDF("qid", "id", "dist")
  }

  /** Byte-copy every manifested artifact of `srcDir` into `dstDir` and
    * re-write the manifest there (lengths/CRCs are preserved by the copy).
    * Distributed — one task per artifact; nothing lands on the driver.
    * Compaction folds deltas into a COPY so the live base is never
    * mutated in place (the swap stays crash-recoverable).
    */
  private[graft] def copyIndexDir(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val entries = Manifest.read(srcDir, hconf).getOrElse(
      throw new IllegalStateException(s"$srcDir has no manifest — cannot prove the copy complete"))
    val files = Manifest.validate(srcDir, HadoopIO.globWithLength(srcDir, "*.hnsw", hconf), hconf)
    HadoopIO.mkdirs(dstDir, hconf)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))
    if (files.nonEmpty) {
      spark.sparkContext.parallelize(files, files.size).foreach { case (uri, _) =>
        val conf = bcConf.value.value
        val dst = s"$dstDir/${Manifest.baseName(uri)}"
        HadoopIO.read(uri, conf) { in =>
          HadoopIO.write(dst, conf) { out =>
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          }
        }
      }
    }
    Manifest.write(dstDir, entries, hconf)
  }

  def searchSaved(
      spark: SparkSession,
      indexDir: String,
      queries: Array[(Long, Array[Float])],
      k: Int): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = validatedArtifacts(indexDir, hconf)
    val bc = spark.sparkContext.broadcast(queries)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))

    val candidates = spark.sparkContext
      .parallelize(files, files.size)
      .flatMap { case (path, crc) =>
        val index = loadPartitionChecked(path, crc, bcConf.value.value)
        bc.value.iterator.flatMap { case (qid, qv) =>
          index.searchWithMeta(qv, k).iterator.map { case (id, d, meta) => (qid, id, d, meta) }
        }
      }
      .toDF("qid", "id", "dist", "metadata")

    Knn.topK(candidates, k)
  }

  /** [[searchSaved]] with a DataFrame query side: one task per persisted
    * graph artifact, queries replicated to the artifact tasks through one
    * shuffle (no driver collect of either side). Each task loads its graph
    * once and STREAMS its replicated query batch through it (never
    * materialized — task memory is the loaded graph, regardless of query
    * count) — the serving-scale shape for batch corpus-vs-index search.
    */
  def searchSavedDF(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = validatedArtifacts(indexDir, hconf)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))

    val filesRdd = spark.sparkContext.parallelize(files, files.size)
    val candidates = Knn.fanOut(filesRdd, queries) { (fIter, qIter) =>
      fIter.flatMap { case (path, crc) =>
        val index = loadPartitionChecked(path, crc, bcConf.value.value)
        qIter.flatMap { case (qid, qv) =>
          index.searchWithMeta(qv, k).iterator.map { case (id, d, meta) => (qid, id, d, meta) }
        }
      }
    }.toDF("qid", "id", "dist", "metadata")

    Knn.topK(candidates, k)
  }
}
