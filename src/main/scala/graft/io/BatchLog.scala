package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The exactly-once batch log every `foreachBatch` maintenance sink writes
  * through: one or more manifested delta logs under a sink root
  * (`<root>/<log>/batch=<id>/…parquet`, optionally one level of partition
  * directories below the batch), a meta sidecar that fingerprints the
  * sink's parameters, and — for sinks whose batches are not idempotent —
  * a `folded` sidecar of batch ids a compaction folded away.
  *
  * Each log's `_manifest` ([[Manifest]]) is its commit record: a file
  * exists for readers only once a manifest lists it. The LAST log of a
  * sink is its marker: batch N is committed when the marker's manifest
  * lists `batch=N` (or, for exactly-once sinks, when `folded` holds N).
  * Every step below names the crash window it covers.
  *
  *  - **open** (sink construction). A meta sidecar present means an
  *    earlier open committed: every log must carry a manifest, else the
  *    directory is lost/foreign state or a compaction swap died between
  *    its delete and its rename — refuse, naming the sink's compaction
  *    call as the resume (re-seeding would bless orphaned half-written
  *    batch files, or serve an empty log over a compacted one parked in
  *    `<log>.compact`). Then the stored meta is checked against the
  *    passed one. No meta means a fresh (or crashed) init: seed a
  *    manifest where none exists (an adopted, already-manifested log is
  *    kept), run the sink's init, then write the meta LAST — a crash
  *    before it leaves no meta and init re-runs whole. A sink whose
  *    restart contract is its parameters opens with them: the sidecar
  *    `<root>/<meta>` is one file written atomically (temp then rename)
  *    holding the tag `graft.params/1`, a key count, then each key and
  *    value as a length-prefixed UTF-8 string, so any value round-trips.
  *    A restart passing different values is refused with every differing
  *    key's stored and passed value; a sidecar in any other form (a
  *    parquet directory, a single-string file) is refused naming its path,
  *    never re-initialised.
  *  - **commit** of batch N, log by log, the marker last. Drop leftovers
  *    under `batch=N`: files the manifest does not list (a crashed
  *    attempt) — and everything under it while this log lists none of
  *    it, or N is uncommitted in an exactly-once sink (which commits only
  *    uncommitted batches) or in a log before the marker. Write. Merge the batch's files into the
  *    manifest. A crash before the marker's merge leaves the batch
  *    uncommitted and invisible; its redelivery rewrites it. Latest-wins
  *    sinks append to a batch id that is already committed (a query
  *    restarted on a fresh checkpoint reuses ids) and keep both batches'
  *    rows.
  *  - **read**: validate the manifest (a listed file missing or of the
  *    wrong length fails loudly — a silently dropped mutation is never
  *    served), then read only the listed batch directories; a log before
  *    the marker only those the marker commits (or its compacted
  *    segment). The schema comes from the footer of the path-first listed
  *    file read, the file Spark's own inference would pick, so the read
  *    starts no schema-inference job.
  *  - **gauges** (batch count, fresh vs compacted bytes) come from the
  *    manifest alone: no data scan, no Spark job.
  *  - **compact**: one swap. The caller's writer runs while the live log
  *    is untouched, into `<log>.compact/batch=compacted`; its manifest
  *    follows; an exactly-once sink then swaps the `folded` sidecar to
  *    every previously folded id plus each numeric batch being folded (via
  *    `folded.tmp` + delete + rename — a reader honors a surviving
  *    `folded.tmp`, so no crash point loses the replay guard). Only then
  *    is the live log deleted and the tmp renamed over it. A crash before
  *    the delete leaves the live log intact and the tmp is discarded by
  *    the next compaction (it may predate batches committed since);
  *    between the delete and the rename the live log is gone, and the
  *    next compaction — only then — resumes the manifest-complete tmp.
  *    Several logs compact marker last, so a crash between their swaps
  *    leaves every committed batch visible.
  *
  * Manifest, marker, meta and folded-id checks are filesystem or
  * in-process footer reads; the log adds no Spark job beyond the sink's
  * own writes and the folded-id sidecar's write.
  *
  * @param what        the sink's name in error messages
  * @param resume      the compaction call that resumes an interrupted swap
  * @param exactlyOnce the sink skips committed batches (its batches are
  *                    not idempotent); compaction then records folded ids
  * @param meta        the parameter sidecar's name under `root`
  */
final class BatchLog(
    spark: SparkSession,
    root: String,
    logs: Seq[String],
    what: String,
    resume: Option[String],
    exactlyOnce: Boolean,
    meta: String = "meta") {

  private val conf = spark.sparkContext.hadoopConfiguration
  private val marker = logs.last
  private val folded = s"$root/folded"

  private def dir(log: String) = s"$root/$log"

  /** Open the sink directory: `stored` is its loaded meta sidecar. */
  def open[M](stored: Option[M])(check: M => Unit)(init: => Unit): Unit = stored match {
    case Some(m) =>
      val missing = logs.filter(l => Manifest.read(dir(l), conf).isEmpty)
      require(missing.isEmpty,
        s"$what dir $root has committed meta but no manifest under [${missing.mkString(", ")}] " +
          "— either lost/foreign state" +
          resume.fold("")(r => s", or a compaction swap died mid-flight (run $r to resume it)") +
          "; refusing to extend unverifiable state")
      check(m)
    case None =>
      logs.foreach { l =>
        HadoopIO.mkdirs(dir(l), conf)
        if (Manifest.read(dir(l), conf).isEmpty) BatchLog.writeManifest(dir(l), conf)
      }
      init
  }

  /** Open the sink directory under a parameter sidecar: a restart must
    * pass the stored values, else it is refused with each differing key's
    * stored and passed value and `why`, the sink's consequence clause
    * ("would …"). `init` runs before the sidecar is written.
    */
  def open(params: Seq[(String, String)], why: String)(init: => Unit): Unit =
    open(storedParams()) { stored =>
      val (was, now) = (stored.toMap, params.toMap)
      val diffs = (stored ++ params).map(_._1).distinct.filter(k => was.get(k) != now.get(k))
        .map(k => s"$k: stored ${show(was.get(k))}, passed ${show(now.get(k))}")
      require(diffs.isEmpty,
        s"$what state at $root was maintained with different parameters " +
          s"(${diffs.mkString("; ")}); restarting $why — delete the directory or pass " +
          "matching parameters")
    } {
      init
      HadoopIO.write(metaPath, conf) { out =>
        out.writeUTF(BatchLog.ParamsTag)
        out.writeInt(params.size)
        params.foreach { case (k, v) => BatchLog.writeString(out, k); BatchLog.writeString(out, v) }
      }
    }

  /** The parameters the sidecar stores; refuses a directory without one. */
  def params(): Map[String, String] =
    storedParams().getOrElse(throw new IllegalArgumentException(
      s"no $meta sidecar under $root — not ${BatchLog.article(what)} $what dir")).toMap

  private def metaPath = s"$root/$meta"

  private def show(v: Option[String]) = v.fold("<absent>")(x => s"'$x'")

  /** The stored parameters in written order, None before a committed open.
    * Anything else at the path — a parquet directory (opening it fails), a
    * single-string file, a foreign file — is refused.
    */
  private def storedParams(): Option[Seq[(String, String)]] =
    if (!HadoopIO.exists(metaPath, conf)) None
    else {
      val kvs = scala.util.Try(HadoopIO.read(metaPath, conf) { in =>
        require(in.readUTF() == BatchLog.ParamsTag)
        val kvs = Seq.fill(in.readInt())((BatchLog.readString(in), BatchLog.readString(in)))
        require(in.read() == -1)
        kvs
      })
      require(kvs.isSuccess,
        s"$what sidecar $metaPath is not in the `${BatchLog.ParamsTag}` parameter format (a " +
          "sidecar written by an earlier release, or foreign state); refusing to re-initialise " +
          "or misread it — delete the directory to start over")
      kvs.toOption
    }

  /** The log's manifest entries, unvalidated (the gauges' input). */
  def entries(log: String): Seq[ManifestEntry] =
    Manifest.read(dir(log), conf).getOrElse(throw new IllegalStateException(
      s"maintained delta log at ${dir(log)} has no manifest — sinks write one when they open " +
        "and compaction writes one before its swap, so this directory is foreign or a torn " +
        "compaction swap" + resume.fold("")(r => s" (run $r to resume it)") +
        "; refusing to serve unverifiable state"))

  private def validated(log: String): Seq[ManifestEntry] = {
    val es = entries(log)
    val present = BatchLog.files(dir(log), None, conf).toMap
    val missing = es.filterNot(e => present.contains(e.name))
    require(missing.isEmpty,
      s"maintained delta log at ${dir(log)} is INCOMPLETE: manifest lists ${es.size} files, " +
        s"missing [${missing.map(_.name).mkString(", ")}] — refusing to serve a view with " +
        "silently dropped mutations")
    es.foreach(e => require(present(e.name) == e.length,
      s"delta file ${e.name} at ${dir(log)} is ${present(e.name)}B, manifest says ${e.length}B (torn)"))
    es
  }

  /** Distinct batch segments (`batch=<id>`) a manifest lists. */
  private def segments(es: Seq[ManifestEntry]): Seq[String] =
    es.map(_.name.takeWhile(_ != '/')).distinct

  /** Number of batch segments the log holds since its last compaction. */
  def batchCount(log: String): Int = segments(entries(log)).size

  /** (fresh, compacted) bytes the manifest lists. */
  def bytes(log: String): (Long, Long) = {
    val (compacted, fresh) = entries(log).partition(_.name.startsWith("batch=compacted/"))
    (fresh.map(_.length).sum, compacted.map(_.length).sum)
  }

  /** Whether batch N committed: the marker lists it, or (exactly-once) a
    * compaction folded it away.
    */
  def committed(batchId: Long): Boolean =
    entries(marker).exists(_.name.startsWith(s"batch=$batchId/")) ||
      (exactlyOnce && foldedIds().contains(batchId))

  /** Commit batch N: one writer per log, in log order (marker last); each
    * writer receives its `batch=N` directory.
    */
  def commit(batchId: Long)(writes: (String => Unit)*): Unit = {
    require(writes.size == logs.size, s"$what: ${writes.size} writers for ${logs.size} logs")
    val seg = s"batch=$batchId"
    val markerEntries = entries(marker)
    val markerHad = segments(markerEntries).contains(seg)
    logs.zip(writes).foreach { case (log, write) =>
      // the marker commits last, so its manifest is still as read above
      val prior = if (log == marker) markerEntries else entries(log)
      val whole = exactlyOnce || (log != marker && !markerHad) ||
        !prior.exists(_.name.startsWith(seg + "/"))
      if (whole) HadoopIO.delete(s"${dir(log)}/$seg", conf)
      else {
        val listed = prior.map(_.name).toSet
        BatchLog.files(dir(log), Some(seg), conf).map(_._1).filterNot(listed)
          .foreach(rel => HadoopIO.delete(s"${dir(log)}/$rel", conf))
      }
      write(s"${dir(log)}/$seg")
      val landed = BatchLog.files(dir(log), Some(seg), conf)
        .map { case (rel, len) => ManifestEntry(rel, len, -1L) }
      val names = landed.map(_.name).toSet
      Manifest.write(dir(log),
        prior.filterNot(e => names(e.name) || (whole && e.name.startsWith(seg + "/"))) ++ landed,
        conf)
    }
  }

  /** The validated, manifest-restricted read; None while no batch is
    * committed. `basePath` keeps the `batch=` (and any nested partition)
    * column discovery identical to a whole-directory read.
    */
  def read(log: String): Option[DataFrame] = {
    val es = validated(log)
    val listed = segments(es)
    val segs =
      if (log == marker) listed
      else {
        val inMarker = segments(entries(marker)).toSet
        lazy val foldedSegs =
          if (exactlyOnce) foldedIds().map(id => s"batch=$id") else Set.empty[String]
        listed.filter(s => s == "batch=compacted" || inMarker(s) || foldedSegs(s))
      }
    if (segs.isEmpty) None
    else {
      // the schema Spark's inference would take from the path-first file
      val first = es.map(_.name).filter(n => segs.contains(n.takeWhile(_ != '/'))).min
      Some(spark.read.schema(LocalParquet.schema(spark, s"${dir(log)}/$first"))
        .option("basePath", dir(log)).parquet(segs.map(s => s"${dir(log)}/$s"): _*))
    }
  }

  /** Finish an interrupted compaction swap: true when the live log was
    * gone and the manifest-complete tmp has been renamed over it.
    */
  def resumeSwap(log: String): Boolean =
    if (HadoopIO.exists(dir(log), conf)) false
    else {
      val tmp = s"${dir(log)}.compact"
      require(HadoopIO.exists(tmp, conf) && Manifest.read(tmp, conf).isDefined,
        s"${dir(log)} is gone and $tmp is absent or manifest-less — inconsistent state")
      HadoopIO.rename(tmp, dir(log), conf)
      true
    }

  /** Fold the log into one `batch=compacted` segment written by `write`. */
  def compact(log: String)(write: String => Unit): Unit = {
    if (exactlyOnce && !HadoopIO.exists(folded, conf) && HadoopIO.exists(s"$folded.tmp", conf))
      HadoopIO.rename(s"$folded.tmp", folded, conf)
    if (resumeSwap(log)) return
    val tmp = s"${dir(log)}.compact"
    HadoopIO.delete(tmp, conf)
    val es = validated(log)
    if (es.isEmpty) return
    BatchLog.writeWhole(tmp, "compacted", conf)(write)
    if (exactlyOnce) {
      import spark.implicits._
      val ids = foldedIds() ++ segments(es).map(_.stripPrefix("batch="))
        .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong)
      HadoopIO.delete(s"$folded.tmp", conf)
      ids.toSeq.sorted.toDF("batch_id").coalesce(1).write.parquet(s"$folded.tmp")
      HadoopIO.delete(folded, conf)
      HadoopIO.rename(s"$folded.tmp", folded, conf)
    }
    HadoopIO.delete(dir(log), conf)
    HadoopIO.rename(tmp, dir(log), conf)
  }

  /** [[compact]] gated on [[batchCount]]: (-1, true) after resuming an
    * interrupted swap (the count is unknowable mid-swap), otherwise
    * (batches, whether the count exceeded `maxBatches` and a fold ran).
    */
  def compactIfOver(log: String, maxBatches: Int)(write: String => Unit): (Int, Boolean) = {
    require(maxBatches >= 1, s"maxBatches must be >= 1, got $maxBatches")
    if (resumeSwap(log)) return (-1, true)
    val n = batchCount(log)
    if (n > maxBatches) { compact(log)(write); (n, true) } else (n, false)
  }

  /** Batch ids folded away by compactions, including a surviving
    * `folded.tmp` — the complete successor sidecar of a swap interrupted
    * between its delete and rename. A torn tmp (crash mid-write) is
    * ignored: the batches it would list are still in the live log.
    */
  private def foldedIds(): Set[Long] = {
    def ids(d: String): Set[Long] =
      if (!HadoopIO.exists(d, conf)) Set.empty
      else LocalParquet.read(spark, d).map(_.getAs[Long]("batch_id")).toSet
    ids(folded) ++ scala.util.Try(ids(s"$folded.tmp")).getOrElse(Set.empty[Long])
  }
}

object BatchLog {

  private val ParamsTag = "graft.params/1"

  private def writeString(out: java.io.DataOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(b.length)
    out.write(b)
  }

  private def readString(in: java.io.DataInputStream): String = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def article(word: String) = if ("aeiouAEIOU".contains(word.head)) "an" else "a"

  /** Write a whole log at `dir` as the single segment `batch=<segment>`,
    * then its manifest — the build step of compaction and retrain swaps.
    */
  def writeWhole(dir: String, segment: String, conf: org.apache.hadoop.conf.Configuration)(
      write: String => Unit): Unit = {
    write(s"$dir/batch=$segment")
    writeManifest(dir, conf)
  }

  private def writeManifest(dir: String, conf: org.apache.hadoop.conf.Configuration): Unit =
    Manifest.write(dir, files(dir, None, conf).map { case (rel, len) => ManifestEntry(rel, len, -1L) }, conf)

  /** (path relative to `dir`, length) of the parquet files under `dir`, or
    * under its `batch` segment only. A segment holds files directly or one
    * partition level down (`cell=`, `bucket=`), never both, so globbing
    * both depths never double-counts.
    */
  private def files(
      dir: String,
      batch: Option[String],
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    val base = batch.fold(dir)(b => s"$dir/$b")
    val p = new org.apache.hadoop.fs.Path(base)
    val qualified = p.getFileSystem(conf).makeQualified(p).toString
    val prefix = batch.fold("")(_ + "/")
    val patterns = if (batch.isDefined) Seq("*.parquet", "*/*.parquet") else Seq("*/*.parquet", "*/*/*.parquet")
    patterns.flatMap(HadoopIO.globWithLength(base, _, conf))
      .map { case (uri, len) => (prefix + uri.stripPrefix(qualified + "/"), len) }
      .sortBy(_._1)
  }
}
