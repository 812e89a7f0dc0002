package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Streaming sinks — the reference's three pipeline shapes re-expressed
  * on Structured Streaming (SURVEY.md §2.8 K1–K5, C1–C2, T1–T2).
  *
  * | Reference | Here |
  * |---|---|
  * | `Kafka2S3Text` row-format sink, processing-day buckets, rolled by time/size (`Kafka2S3Text.scala:35-59`) | `textPipeline` — text sink `partitionBy(logday)`, files roll per micro-batch; `maxRecordsPerFile` bounds part size |
  * | `Kafka2S3Parquet` bulk sink, event-`date` buckets, roll-on-checkpoint (`Kafka2S3Parquet.scala:26-55`) | `parquetPipeline` — parquet sink `partitionBy(logday)` where logday = F5 bucket incl. the `error` bucket; one file set per micro-batch ≡ roll per checkpoint |
  * | `Kafka2S3Hive` SQL insert into 3-level-partitioned Hive table, partition committed to the metastore only after the watermark passes partition-time + delay (`Kafka2S3Hive.scala:89-129`) | `createPartitionedTable` + `tablePipeline` + `PartitionCommitter` — exactly-once file-sink manifest for the data; catalog registration deferred until watermark ≥ partition-time + delay |
  *
  * Exactly-once: all three use the file-sink `_spark_metadata` manifest
  * + checkpoint WAL — a restarted query never re-emits a committed
  * batch (the reference gets the same from Flink checkpoints +
  * two-phase file commit, `Kafka2S3Parquet.scala:47`).
  *
  * Scale notes: these pipelines are narrow (no shuffle) — source
  * partitions map 1:1 to sink tasks, so throughput scales with Kafka
  * partitions. Partition commit is driver-side catalog work bounded by
  * |distinct (logday,h,m)| per batch, never by row count.
  */
object Sinks {

  /** K1/K2 — row-format text sink bucketed by processing-time day in
    * UTC+8 (`Kafka2S3Text.scala:53-59`). `maxRecordsPerFile` stands in
    * for the reference's 1 GiB max-part-size roll; time-based rolls
    * happen naturally per micro-batch. */
  def textPipeline(raw: DataFrame, outDir: String, checkpointDir: String,
      maxRecordsPerFile: Long = 1000000L): DataStreamWriter[Row] =
    raw.withColumn("logday", TimeOps.processingDayUtc8())
      .writeStream
      .format("text")
      .partitionBy("logday")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .option("maxRecordsPerFile", maxRecordsPerFile)

  /** K3/K4 — parquet sink bucketed by the event's `date` field via the
    * F5 derivation, malformed dates landing in `logday=error`
    * (`Kafka2S3Parquet.scala:26-35`). Bulk format ⇒ files close at
    * every micro-batch, the reference's roll-on-checkpoint. */
  def parquetPipeline(parsed: DataFrame, outDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    parsed.withColumn("logday", TimeOps.isoDateBucket(col("date")))
      .writeStream
      .format("parquet")
      .partitionBy("logday")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)

  /** C1/C2 — idempotent re-create of the reference's partitioned sink
    * table (`Kafka2S3Hive.scala:89-111`) in the session catalog as a
    * native parquet table (Spark SQL parses the Hive-style DDL
    * natively — no dialect switch needed, SURVEY.md §2.8 C3).
    *
    * Deferred partition *visibility* (the K5 commit policy) requires a
    * Hive-backed catalog (`enableHiveSupport`): there, partitions of a
    * datasource table are metastore-managed, so data files on disk
    * stay invisible until `ALTER TABLE ADD PARTITION`. With the
    * in-memory catalog Spark discovers partitions from the file
    * system and everything is visible immediately. */
  def createPartitionedTable(spark: SparkSession, table: String,
      location: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (
         |  uuid STRING, date STRING, ad_type INT, ad_type_name STRING,
         |  timestamp BIGINT, logday STRING, h STRING, m STRING)
         |USING PARQUET
         |PARTITIONED BY (logday, h, m)
         |LOCATION '$location'""".stripMargin)
  }

  /** The K5 table pipeline's bounded out-of-orderness: the
    * reference's `WATERMARK ... INTERVAL '5' SECOND`
    * (`Kafka2S3Hive.scala:70`). [[tablePipeline]] watermarks with it,
    * and `HiveJob` subtracts it from a batch's max event time to get
    * the watermark that batch produced. */
  val tableWatermarkDelayMs = 5000L

  /** K5 data path — the reference's INSERT projection
    * (`Kafka2S3Hive.scala:114-127`): 5 physical columns + (logday,h,m)
    * from event time, watermarked [[tableWatermarkDelayMs]], streamed
    * exactly-once into a STAGING directory with 3-level Hive-style
    * partition dirs.
    *
    * Staging must not be the table's location: the streaming sink
    * leaves a `_spark_metadata` manifest, and any read of a path
    * containing one goes through `MetadataLogFileIndex` — bypassing
    * catalog partitions entirely (everything would be visible at
    * once). Instead [[PartitionCommitter]] registers each ready
    * partition with `ADD PARTITION ... LOCATION '<staging dir>'`:
    * files never move, exactly-once is preserved by the manifest, and
    * visibility is purely metastore-gated — exactly the reference's
    * commit model. */
  def tablePipeline(parsed: DataFrame, location: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    val withEt = parsed
      .withColumn("event_time", TimeOps.eventTimeFromMillis(col("timestamp")))
      .withWatermark("event_time", s"$tableWatermarkDelayMs milliseconds")
    // withPartitionColumns re-derives (logday,h,m) and projects the
    // insert shape; the EventTimeWatermark node stays on the plan so
    // progress keeps reporting the watermark and max event time that
    // HiveJob's committer reads.
    Ingest.withPartitionColumns(withEt)
      .writeStream
      .format("parquet")
      .partitionBy("logday", "h", "m")
      .option("path", location)
      .option("checkpointLocation", checkpointDir)
  }

  /** Blocking convenience: run a streaming writer over everything
    * currently available (Trigger.AvailableNow) and wait. */
  def runAvailableNow(w: DataStreamWriter[Row]): Unit = {
    val q: StreamingQuery = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def dataFilesIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter(s => s.isFile
      && !s.getPath.getName.startsWith("_")
      && !s.getPath.getName.startsWith("."))

  /** `compact_<partition-leaf>_v<N>` — the naming scheme for compacted
    * partition directories. Not a partition-prefix name (`m=...`), so
    * the committer's directory listing never mistakes one for an
    * uncommitted partition. */
  private val compactWrapper = "^compact_(.+)_v([0-9]+)$".r
  private def isCompactDir(dir: org.apache.hadoop.fs.Path): Boolean =
    compactWrapper.matches(dir.getName)
  /** Next unused versioned sibling for `dir` (strips an existing
    * wrapper so re-compaction yields `..._v2`, never nested). */
  private def nextCompactDir(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path = {
    val leaf = dir.getName match {
      case compactWrapper(base, _) => base
      case other => other
    }
    val used = fs.listStatus(dir.getParent).toSeq
      .map(_.getPath.getName).collect {
        case compactWrapper(`leaf`, v) => v.toLong
      }
    new org.apache.hadoop.fs.Path(dir.getParent,
      s"compact_${leaf}_v${(used :+ 0L).max + 1}")
  }

  // partition values are interpolated into DDL — same injection guard
  // as the committer's shape check, loosened only to the charset
  // partition values can legally contain
  private val safeSpecTok = "^[0-9A-Za-z_.:-]+$".r
  private def requireSafeSpec(spec: Seq[(String, String)]): Unit =
    require(spec.nonEmpty && spec.forall { case (k, v) =>
      safeSpecTok.matches(k) && safeSpecTok.matches(v) },
      s"unsafe partition spec: $spec")
  private def specSql(spec: Seq[(String, String)]): String =
    spec.map { case (k, v) => s"$k='$v'" }.mkString(", ")

  /** Absorbed-staging manifest: every compacted directory carries a
    * `_absorbed` file naming each STAGING part file whose rows it
    * (transitively) contains. This is what makes the flip-then-delete
    * sequence crash-safe: if the process dies (or an object-store
    * delete fails — `FileSystem.delete` signals failure by return
    * value) between the LOCATION flip and the source deletes, the
    * surviving staging files are recognized by name on the next
    * reconcile and deleted instead of re-merged. Without it they are
    * indistinguishable from genuinely-late data and every row in the
    * partition would be silently duplicated. Underscore-prefixed, so
    * Spark's parquet reader and [[dataFilesIn]] both ignore it. */
  private val manifestName = "_absorbed"
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, manifestName)
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, names: Seq[String]): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, manifestName), true)
    try out.write(names.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
  /** Remove a drained source dir: once no data files remain, drop the
    * non-data markers (`_SUCCESS`, our `_absorbed`, hidden files — the
    * same set [[dataFilesIn]] excludes) and then the dir iff nothing
    * else is left (a foreign subdirectory keeps it alive). */
  private def deleteDirIfDrained(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(dir) || dataFilesIn(fs, dir).nonEmpty) return
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && (s.getPath.getName.startsWith("_")
        || s.getPath.getName.startsWith(".")))
      .foreach(s => fs.delete(s.getPath, false))
    if (fs.listStatus(dir).isEmpty) fs.delete(dir, false)
  }

  /** Milliseconds since `dir`'s `_absorbed` manifest was written — the
    * LOCATION-flip timestamp proxy that age-gates deferred deletes
    * under a retention grace (the manifest is written immediately
    * before the flip, so its age ≈ how long ago readers could last
    * have resolved a now-absorbed file's directory). `Long.MaxValue`
    * when no manifest exists: a raw staging location was never flipped
    * away from, so there is no reader window to respect. */
  private def flipAgeMs(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long = {
    val p = new org.apache.hadoop.fs.Path(dir, manifestName)
    if (!fs.exists(p)) Long.MaxValue
    else System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
  }

  /** Sweep dead `compact_<leaf>_vM` siblings of the current location:
    * a crash between an earlier flip and its delete (or between a
    * rewrite and its flip) leaves a whole compact dir nothing
    * references — the manifest protocol only tracks STAGING file
    * names, so these would otherwise accumulate forever. The catalog
    * LOCATION points at `cur`, and one committer drives a partition
    * (concurrent compactors would race the DDL anyway), so every
    * OTHER compact dir of this leaf is definitionally dead. Called
    * after every flip AND on the no-op / early-return paths, so an
    * orphan is recovered even when the partition never flips again. */
  private def sweepStaleCompactSiblings(fs: org.apache.hadoop.fs.FileSystem,
      cur: org.apache.hadoop.fs.Path): Unit = {
    val leaf = cur.getName match {
      case compactWrapper(b, _) => b
      case other => other
    }
    fs.listStatus(cur.getParent).toSeq.map(_.getPath)
      .filter(p => p.getName != cur.getName && (p.getName match {
        case compactWrapper(`leaf`, _) => true
        case _ => false
      }))
      .foreach(p => fs.delete(p, true))
  }

  /** Drain absorbed STAGING leftovers of a compacted location — files
    * in the original staging sibling (`parent/<leaf>`) that the
    * current manifest names: their rows already live in `cur`, the
    * delete was deferred (retention grace) or failed. Only
    * manifest-named files are touched — anything else in the staging
    * dir is potential late data, which stays for
    * [[reconcileLatePartition]] to merge. Callers gate on
    * [[flipAgeMs]]. */
  private def drainAbsorbedStaging(fs: org.apache.hadoop.fs.FileSystem,
      cur: org.apache.hadoop.fs.Path): Unit = {
    val leaf = cur.getName match {
      case compactWrapper(b, _) => b
      case _ => return // not a compact dir — nothing was absorbed
    }
    val staging = new org.apache.hadoop.fs.Path(cur.getParent, leaf)
    if (!fs.exists(staging)) return
    val absorbed = readManifest(fs, cur)
    val leftovers = dataFilesIn(fs, staging)
      .filter(f => absorbed(f.getPath.getName))
    leftovers.foreach(f => fs.delete(f.getPath, false))
    // ALWAYS attempt the dir removal (it no-ops while data files
    // remain): a prior drain that deleted the files but crashed
    // before the rmdir leaves a marker-only dir this pass would
    // otherwise never touch
    deleteDirIfDrained(fs, staging)
  }

  /** Rewrite exactly `srcFiles` into one ≈`targetFileBytes`-sized file
    * set in a fresh versioned sibling of `curDir`, write its absorbed
    * manifest, atomically flip the partition LOCATION onto it, then
    * delete the absorbed files (and any drained source dirs). Deletes
    * are per-FILE, by the listing the rewrite actually read: a file
    * that lands in a source dir after the listing is neither read nor
    * deleted — it survives for the next reconcile — and a delete that
    * fails or is interrupted is finished (never re-merged): staging
    * leftovers by the next reconcile via the manifest, dead compact
    * siblings by the stale sweep on the next flip or no-op pass.
    *
    * With `retentionMs > 0` NOTHING is deleted at flip time: a reader
    * that resolved the old location just before the flip may still be
    * mid-scan, so the absorbed files (named in the new manifest) and
    * the dead siblings are left for a LATER reconcile/compact pass,
    * which removes them only once the flip is older than the grace
    * window ([[flipAgeMs]]). The read merges schemas across source
    * files — staging files written under an evolved schema (the
    * documented mergeSchema contract) keep their added columns when
    * merged with older compact files. */
  private def rewriteAndFlip(spark: SparkSession, table: String,
      spec: Seq[(String, String)], fs: org.apache.hadoop.fs.FileSystem,
      curDir: org.apache.hadoop.fs.Path,
      srcFiles: Seq[org.apache.hadoop.fs.FileStatus],
      manifest: Seq[String], targetFileBytes: Long,
      cleanupDirs: Seq[org.apache.hadoop.fs.Path],
      retentionMs: Long): Int = {
    val totalBytes = srcFiles.map(_.getLen).sum
    val nOut = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val next = nextCompactDir(fs, curDir)
    // maxRecordsPerFile=0 (unlimited) overrides any session-level
    // record bound: compaction sizes files by BYTES via coalesce —
    // a streaming-side record cap would re-split the output
    spark.read.option("mergeSchema", true)
      .parquet(srcFiles.map(_.getPath.toString): _*).coalesce(nOut)
      .write.mode("overwrite").option("maxRecordsPerFile", 0)
      .parquet(next.toString)
    writeManifest(fs, next, manifest)
    spark.sql(s"ALTER TABLE $table PARTITION (${specSql(spec)}) " +
      s"SET LOCATION '${fs.makeQualified(next)}'")
    if (retentionMs <= 0L) {
      srcFiles.foreach(f => fs.delete(f.getPath, false))
      cleanupDirs.foreach(deleteDirIfDrained(fs, _))
      sweepStaleCompactSiblings(fs, next)
    }
    dataFilesIn(fs, next).size
  }

  /** Small-file compaction of one CATALOG partition — the operation
    * the reference *declares* but ships disabled (`auto-compaction`,
    * a no-op on its Flink 1.11, `Kafka2S3Hive.scala:87-88`).
    * Streaming sinks roll a file set per micro-batch, so a
    * minute-level trigger over a day accumulates thousands of tiny
    * parquet files per partition; readers then pay per-file
    * open/footer costs. This rewrites one partition's files into
    * ≈ `targetFileBytes`-sized files in a new SIBLING directory, then
    * atomically flips the partition's metastore LOCATION onto it,
    * then deletes exactly the absorbed files.
    *
    * The sibling-dir + location-flip design (rather than a directory
    * rename swap) is deliberate: a directory rename is an O(files)
    * copy on S3A and non-atomic, and a swap leaves a reader-visible
    * gap where the partition path doesn't exist. The location flip is
    * a single metastore update — a concurrent reader resolves either
    * the old or the new directory, both complete. The absorbed files
    * are deleted immediately after the flip; a reader that resolved
    * the old location just before can still miss files, so production
    * with long scans sets `retentionMs`: absorbed files then survive
    * the flip and are removed by a LATER compact/reconcile pass, only
    * once the flip is older than the grace window (longest expected
    * scan time) — the same age-gated protocol that recovers crashed
    * deletes. A crash or failed delete between flip and cleanup is
    * recovered by the `_absorbed` manifest (see
    * [[reconcileLatePartition]]) — the leftovers are finished off,
    * never re-merged. The compacted
    * directory is named `compact_<partition-leaf>_v<N>` so the
    * committer's `logday=/h=/m=` directory listing never mistakes it
    * for an uncommitted partition.
    *
    * Per-partition and batch by design: at 100 TB one partition is
    * the natural unit of work — each compaction is an independent
    * narrow job sized by that partition alone, driven from
    * [[PartitionCommitter]] right after the partition's metastore
    * commit (or any scheduler).
    *
    * Must only run on a COMMITTED partition (watermark past
    * partition-time + delay — the writer has moved on); compacting
    * the live partition would race the streaming sink.
    * Returns (data files before, after). */
  def compactTablePartition(spark: SparkSession, table: String,
      spec: Seq[(String, String)],
      targetFileBytes: Long = 128L * 1024 * 1024,
      retentionMs: Long = 0L): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    requireSafeSpec(spec)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val cur = spark.sessionState.catalog.getPartition(ident, spec.toMap)
    val dir = new Path(cur.location)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = dataFilesIn(fs, dir)
    if (dataFiles.isEmpty) return (0, 0)
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // no-op only once the location already IS a compacted dir: a
    // raw staging location always flips (even a 1-file rewrite), so
    // the staging dir disappears and [[reconcileLatePartition]] can
    // detect anything that lands there afterwards. Even the no-op
    // path finishes the age-gated cleanup — crash-orphaned compact
    // siblings AND absorbed staging leftovers whose deletes a
    // retention grace deferred — so a compact-only caller (not
    // driving [[reconcileLatePartition]]) still converges to zero
    // leftovers once the grace passes; a partition that never flips
    // again must not leak its dead dirs.
    if (isCompactDir(dir) && nOut >= dataFiles.size) {
      if (retentionMs <= 0L || flipAgeMs(fs, dir) > retentionMs) {
        sweepStaleCompactSiblings(fs, dir)
        drainAbsorbedStaging(fs, dir)
      }
      return (dataFiles.size, dataFiles.size)
    }
    // first compaction absorbs staging files (record their names);
    // re-compaction of a compact dir only reshapes already-absorbed
    // rows — its manifest carries forward unchanged
    val manifest =
      if (isCompactDir(dir)) readManifest(fs, dir).toSeq
      else dataFiles.map(_.getPath.getName)
    (dataFiles.size, rewriteAndFlip(spark, table, spec, fs, dir,
      dataFiles, manifest, targetFileBytes, Seq(dir), retentionMs))
  }

  /** Recover LATE data for an already-compacted partition. The file
    * sink never drops late rows (a watermark only bounds stateful
    * operators), so an event arriving after its partition was
    * committed and compacted recreates the original staging
    * directory — which the table's flipped LOCATION no longer sees.
    * This merges such a reappeared staging directory back into the
    * partition: rewrite (current location ∪ genuinely-late staging
    * files) into the next compacted version, flip, delete the
    * absorbed files. Returns true iff a merge happened.
    *
    * Staging files named in the current location's `_absorbed`
    * manifest are NOT late data — they are leftovers of a flip whose
    * source delete crashed or failed; their rows already live in the
    * compacted location, so they are deleted, never re-merged
    * (re-merging would silently duplicate the partition). No-ops when
    * the staging dir IS the current location (partition not yet
    * compacted — reads already see it), is absent, or holds no
    * unabsorbed data files. Deletes are per-file against the listing
    * the rewrite read, so a row landing mid-merge survives for the
    * next call; full transactional cover would need a table format,
    * but this recovers the cases a plain parquet pipeline (the
    * reference included) loses or duplicates silently. */
  def reconcileLatePartition(spark: SparkSession, table: String,
      spec: Seq[(String, String)], stagingPartDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      retentionMs: Long = 0L): Boolean = {
    import org.apache.hadoop.fs.Path
    requireSafeSpec(spec)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val cur = spark.sessionState.catalog.getPartition(ident, spec.toMap)
    val curDir = new Path(cur.location)
    val fs = curDir.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new Path(stagingPartDir)
    if (fs.makeQualified(staging) == fs.makeQualified(curDir)) return false
    val graceOver = retentionMs <= 0L || flipAgeMs(fs, curDir) > retentionMs
    if (!fs.exists(staging)) {
      // nothing late, but crash-orphaned compact siblings may exist —
      // this early return must not leak them forever
      if (isCompactDir(curDir) && graceOver)
        sweepStaleCompactSiblings(fs, curDir)
      return false
    }
    val absorbed = readManifest(fs, curDir)
    val stagingAll = dataFilesIn(fs, staging)
    val late = stagingAll.filterNot(f => absorbed(f.getPath.getName))
    if (late.isEmpty) {
      // every surviving staging file is already IN the current
      // compacted location (a flip whose source delete crashed,
      // failed, or was deferred by the retention grace) — finish the
      // delete once the flip has aged past the grace window;
      // re-merging would duplicate rows
      if (graceOver) {
        stagingAll.foreach(f => fs.delete(f.getPath, false))
        // unconditional: a marker-only dir left by a crashed prior
        // drain must still be removed (no-op while data files remain)
        deleteDirIfDrained(fs, staging)
        if (isCompactDir(curDir)) sweepStaleCompactSiblings(fs, curDir)
      }
      return false
    }
    val curFiles = dataFilesIn(fs, curDir)
    rewriteAndFlip(spark, table, spec, fs, curDir,
      curFiles ++ late, (absorbed ++ late.map(_.getPath.getName)).toSeq,
      targetFileBytes, Seq(curDir, staging), retentionMs)
    // absorbed leftovers that coexisted with the late files: their
    // rows rode along from the old compact dir, and they stay in the
    // new manifest — safe to drain now, after the flip (deferred to a
    // later age-gated pass when a retention grace is set: the flip
    // that absorbed THEM was the previous one, but the conservative
    // gate is the newest flip)
    val leftovers = stagingAll.filter(f => absorbed(f.getPath.getName))
    if (leftovers.nonEmpty && retentionMs <= 0L) {
      leftovers.foreach(f => fs.delete(f.getPath, false))
      deleteDirIfDrained(fs, staging)
    }
    true
  }
}

/** Emulates Flink's `sink.partition-commit` with trigger
  * `partition-time` and policy `metastore`
  * (`Kafka2S3Hive.scala:101-104`): a partition (logday,h,m) becomes
  * visible in the catalog only once the event-time watermark passes
  * partition-time + delay. Partition-time is extracted with the
  * reference's pattern `$logday $h:$m:00` (UTC).
  *
  * Driver-side and idempotent: `commitReady` lists partition
  * directories under the STAGING location (where [[Sinks.tablePipeline]]
  * writes), and registers the ready ones with `ALTER TABLE ADD IF NOT
  * EXISTS PARTITION ... LOCATION '<staging dir>'` — no data movement.
  * `HiveJob` calls it from a `StreamingQueryListener.onQueryProgress`
  * with the watermark each finished batch produced; bounded runs and
  * schedulers may call it too. Calls are serialized (`commitReady` is
  * `synchronized`), so a caller's final commit can overlap the
  * listener's. Requires a Hive-backed catalog (see
  * [[Sinks.createPartitionedTable]]).
  *
  * With `autoCompact` the reference's declared-but-dead
  * `auto-compaction` knob (`Kafka2S3Hive.scala:87-88`, a no-op on its
  * Flink 1.11) becomes real: each newly committed partition is
  * rewritten by [[Sinks.compactTablePartition]] on the shared
  * compaction worker thread — never on the caller's (listener-bus)
  * thread, whose event queue a long compaction would back up. Safe by
  * construction — a partition only commits once the watermark passed
  * its time + delay, so the writer has moved on and compaction never
  * races the live partition. Compaction failure is logged, never
  * propagated: the commit (correctness) must not be rolled back for
  * a failed optimization.
  */
class PartitionCommitter(spark: SparkSession, table: String,
    location: String, delayMillis: Long = 60000L,
    autoCompact: Boolean = false,
    compactTargetBytes: Long = 128L * 1024 * 1024,
    compactRetentionMs: Long = 0L) {

  private val partRe = "logday=([^/]+)/h=([^/]+)/m=([^/]+)".r
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** Partition-time per the reference's timestamp-pattern
    * `'$logday $h:$m:00'` (`Kafka2S3Hive.scala:102`). Unparseable
    * partition values (e.g. an `error` bucket) → None, never ready. */
  def partitionTime(logday: String, h: String, m: String): Option[Long] =
    try Some(java.time.Instant.from(
      fmt.parse(s"$logday $h:$m:00")).toEpochMilli)
    catch { case _: Exception => None }

  /** Directory-listing of (logday,h,m) partitions present in staging.
    * Uses Hadoop's FileSystem API so the same committer works on any
    * supported storage (local, HDFS, S3A) — `java.io.File` would be
    * silently empty off the local filesystem. */
  def partitionsOnDisk(): Seq[(String, String, String)] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(location)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return Seq.empty
    def subdirs(p: Path, prefix: String): Seq[Path] =
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .map(_.getPath)
    for {
      d1 <- subdirs(base, "logday=")
      d2 <- subdirs(d1, "h=")
      d3 <- subdirs(d2, "m=")
      m <- partRe.findFirstMatchIn(
        s"${d1.getName}/${d2.getName}/${d3.getName}")
    } yield (m.group(1), m.group(2), m.group(3))
  }

  /** Partition values come from directory names — reject any shape
    * other than the expected yyyy-MM-dd / HH / mm before interpolating
    * them into DDL (quote/metacharacter injection guard). Values that
    * fail (e.g. an `error` bucket) also fail [[partitionTime]], so
    * they were never committable anyway. */
  private val daySafe = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$".r
  private val twoDigitSafe = "^[0-9]{2}$".r
  private def safe(d: String, h: String, m: String): Boolean =
    daySafe.matches(d) && twoDigitSafe.matches(h) && twoDigitSafe.matches(m)

  /** Partitions this committer instance has already registered —
    * commitReady work (and auto-compaction) happens once per
    * partition, not once per progress event. A restarted driver
    * starts empty and re-ADDs everything ready (IF NOT EXISTS makes
    * that a no-op) and re-compaction of an already-compact partition
    * is skipped inside [[Sinks.compactTablePartition]], so the state
    * is purely an optimization, never a correctness dependency. */
  private val committed =
    scala.collection.mutable.Set.empty[(String, String, String)]

  /** Register every on-disk partition whose partition-time + delay ≤
    * `watermarkMillis`; returns the partitions NEWLY added this call
    * (previously committed ones are skipped).
    *
    * With `autoCompact`, every committed partition whose staging
    * directory is (still or again) present is then attended to:
    * fresh ones get their first compaction (which flips the LOCATION
    * off the staging dir and deletes it), and a REAPPEARED staging
    * dir — late data written by the sink after the flip, which the
    * table would otherwise never see — is merged back in by
    * [[Sinks.reconcileLatePartition]]. Compaction/reconciliation
    * failures are logged, never propagated: the commit (correctness)
    * must not be rolled back for a failed optimization, and the next
    * trigger retries naturally. A failed catalog ADD propagates; the
    * partition stays uncommitted and the next call retries it. */
  def commitReady(watermarkMillis: Long): Seq[(String, String, String)] =
    synchronized {
      val onDisk = partitionsOnDisk()
      val fresh = onDisk.filter { case (d, h, m) =>
        safe(d, h, m) && !committed((d, h, m)) &&
          partitionTime(d, h, m).exists(_ + delayMillis <= watermarkMillis)
      }
      fresh.foreach { case (d, h, m) =>
        spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS " +
          s"PARTITION (logday='$d', h='$h', m='$m') " +
          s"LOCATION '$location/logday=$d/h=$h/m=$m'")
        committed += ((d, h, m))
      }
      if (autoCompact) {
        // every committed partition still listed on disk: fresh commits
        // (first compaction) and reappeared staging dirs (late data).
        // After a driver restart `committed` re-fills from `fresh`, so
        // a late dir for a long-ago-compacted partition is attended
        // too: ADD is a no-op, reconcile merges, compact no-ops.
        // HANDED OFF to the shared compaction worker: commitReady is
        // called from StreamingQueryListener.onQueryProgress, and a
        // compaction outlasting the trigger interval on the listener
        // bus thread would back up progress-event delivery for every
        // listener (Spark drops events once that queue fills). The DDL
        // ADDs above stay synchronous — they are the commit itself,
        // cheap metastore calls. Re-enqueueing a partition already in
        // the queue is harmless: reconcile/compact no-op on re-entry.
        onDisk.filter(p => safe(p._1, p._2, p._3) && committed(p))
          .foreach { case (d, h, m) =>
            val spec = Seq("logday" -> d, "h" -> h, "m" -> m)
            PartitionCommitter.compactionExec.submit(new Runnable {
              override def run(): Unit =
                try {
                  Sinks.reconcileLatePartition(spark, table, spec,
                    s"$location/logday=$d/h=$h/m=$m", compactTargetBytes,
                    compactRetentionMs)
                  Sinks.compactTablePartition(spark, table, spec,
                    compactTargetBytes, compactRetentionMs)
                } catch { case e: Exception =>
                  System.err.println(s"[PartitionCommitter] auto-compaction " +
                    s"of ($d,$h,$m) failed: ${e.getMessage}")
                }
            })
          }
      }
      fresh
    }

  /** Block until every auto-compaction enqueued so far has run —
    * bounded-run / test hook (the worker is FIFO, so an empty barrier
    * task completing implies the earlier submissions did too). */
  def awaitCompactions(timeoutMs: Long = 120000L): Unit =
    PartitionCommitter.compactionExec
      .submit(new Runnable { override def run(): Unit = () })
      .get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
}

object PartitionCommitter {
  /** One shared daemon worker for ALL committers: auto-compaction is
    * an optimization, so serializing it bounds its resource use (one
    * partition-sized job at a time), keeps it off the streaming
    * listener bus, and one idle daemon thread per process — not per
    * committer — is the whole footprint. */
  private[engine] lazy val compactionExec =
    java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-auto-compaction")
        t.setDaemon(true)
        t
      })
}
