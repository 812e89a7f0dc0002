package graft.jobs

import graft.engine.{Ingest, PartitionCommitter, Sinks, TimeOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** CLI configuration shared by the three jobs — mirrors the
  * reference's scopt `Config` (`conf/Config.scala:3-20`): same option
  * names and defaults, minus Flink-isms. `--source file --input-dir`
  * replaces the Kafka options in broker-less environments (tests);
  * with `--source kafka` the same pipeline reads the topic.
  */
case class JobConfig(
    source: String = "kafka",              // kafka | file
    brokerList: String = "",               // Config.scala:5
    sourceTopic: String = "",              // Config.scala:6
    consumerGroup: String = "graft",       // Config.scala:7
    inputDir: String = "",                 // file-source stand-in
    checkpointDir: String = "",            // Config.scala:8
    checkpointInterval: Long = 60,         // seconds, Config.scala:9
    sinkPath: String = "",                 // Config.scala:13
    maxRecordsPerFile: Long = 1000000L,    // ~Config.scala:12 maxPartSize
    tableName: String = "source_log",      // Kafka2S3Hive.scala:89
    tableLocation: String = "",
    stagingDir: String = "",
    partitionCommitDelayMs: Long = 60000L, // Kafka2S3Hive.scala:103
    autoCompaction: Boolean = false,       // Kafka2S3Hive.scala:87 (made real)
    compactRetentionMs: Long = 0L,         // grace before absorbed-file deletes
    availableNow: Boolean = false,         // bounded run (tests/backfill)
    tokenBudget: Long = graft.engine.TextOps.tokenBudget, // CurationJob mix
    benchmarkDir: String = "",             // CurationJob decon (off if empty)
    substringDedup: Boolean = true,        // CurationJob span removal
    resumeFrom: String = "",               // CurationJob: reread stages ≤ this
    budget: Long = graft.engine.TextOps.tokenBudget, // StreamCurationJob admission
    historyDir: String = "",               // StreamCurationJob Bloom history
    maxFilesPerTrigger: Long = 0L)         // 0 = source default

object JobConfig {
  /** `--key value` parser over the fields above; unknown keys fail. */
  def parse(args: Array[String]): JobConfig =
    args.grouped(2).foldLeft(JobConfig()) {
      case (c, Array(k, v)) => k match {
        case "--source" => c.copy(source = v)
        case "--broker-list" => c.copy(brokerList = v)
        case "--source-topic" => c.copy(sourceTopic = v)
        case "--consumer-group" => c.copy(consumerGroup = v)
        case "--input-dir" => c.copy(inputDir = v)
        case "--checkpoint-dir" => c.copy(checkpointDir = v)
        case "--checkpoint-interval" => c.copy(checkpointInterval = v.toLong)
        case "--sink-path" => c.copy(sinkPath = v)
        case "--max-records-per-file" => c.copy(maxRecordsPerFile = v.toLong)
        case "--table-name" => c.copy(tableName = v)
        case "--table-location" => c.copy(tableLocation = v)
        case "--staging-dir" => c.copy(stagingDir = v)
        case "--partition-commit-delay-ms" =>
          c.copy(partitionCommitDelayMs = v.toLong)
        case "--auto-compaction" => c.copy(autoCompaction = v.toBoolean)
        case "--compact-retention-ms" =>
          c.copy(compactRetentionMs = v.toLong)
        case "--available-now" => c.copy(availableNow = v.toBoolean)
        case "--token-budget" => c.copy(tokenBudget = v.toLong)
        case "--benchmark-dir" => c.copy(benchmarkDir = v)
        case "--substring-dedup" => c.copy(substringDedup = v.toBoolean)
        case "--resume-from" => c.copy(resumeFrom = v)
        case "--budget" => c.copy(budget = v.toLong)
        case "--history-dir" => c.copy(historyDir = v)
        case "--max-files-per-trigger" =>
          c.copy(maxFilesPerTrigger = v.toLong)
        case other => throw new IllegalArgumentException(
          s"unknown option: $other")
      }
      case (_, bad) => throw new IllegalArgumentException(
        s"dangling option: ${bad.mkString(" ")}")
    }
}

/** Shared job scaffolding: session, source, trigger. */
object Jobs {
  /** The job session: [[graft.engine.Tables.builder]] (static confs,
    * master fallback) plus an optional Hive catalog. */
  def session(appName: String, hive: Boolean = false): SparkSession = {
    val b = graft.engine.Tables.builder(appName)
    (if (hive) b.enableHiveSupport() else b).getOrCreate()
  }

  def rawSource(spark: SparkSession, c: JobConfig): DataFrame =
    c.source match {
      case "kafka" =>
        Ingest.kafkaRaw(spark, c.brokerList, c.sourceTopic, c.consumerGroup)
      case "file" => Ingest.fileRaw(spark, c.inputDir)
      case other => throw new IllegalArgumentException(
        s"unknown source: $other")
    }

  /** The reference's checkpoint cadence (`Kafka2S3Text.scala:64`)
    * maps to the micro-batch trigger; `availableNow` bounds the run. */
  def trigger(c: JobConfig): Trigger =
    if (c.availableNow) Trigger.AvailableNow()
    else Trigger.ProcessingTime(c.checkpointInterval * 1000L)

  def start(w: org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row], c: JobConfig): StreamingQuery =
    w.trigger(trigger(c)).start()
}

/** `Kafka2S3Text` equivalent (`Kafka2S3Text.scala:61-76`): raw lines →
  * row-format text files bucketed by processing-time day in UTC+8. */
object TextJob {
  def run(spark: SparkSession, c: JobConfig): StreamingQuery =
    Jobs.start(Sinks.textPipeline(Jobs.rawSource(spark, c), c.sinkPath,
      c.checkpointDir, c.maxRecordsPerFile), c)

  def main(args: Array[String]): Unit = {
    val c = JobConfig.parse(args)
    val q = run(Jobs.session("text stream to s3"), c)
    q.awaitTermination()
  }
}

/** `Kafka2S3Parquet` equivalent (`Kafka2S3Parquet.scala:57-75`):
  * strict-parsed events → parquet bucketed by the event `date` field,
  * malformed dates in `logday=error`. */
object ParquetJob {
  def run(spark: SparkSession, c: JobConfig): StreamingQuery =
    Jobs.start(Sinks.parquetPipeline(
      Ingest.parseStrict(Jobs.rawSource(spark, c)),
      c.sinkPath, c.checkpointDir), c)

  def main(args: Array[String]): Unit = {
    val c = JobConfig.parse(args)
    val q = run(Jobs.session("parquet stream to s3"), c)
    q.awaitTermination()
  }
}

/** A running HiveJob: the streaming query, its partition committer
  * (exposed so bounded runs can drive a final commit) and the health
  * of the commits its progress listener drives. */
final class HiveJobHandle private[jobs] (val query: StreamingQuery,
    val committer: PartitionCommitter, commits: HiveJob.CommitListener) {
  /** Commit passes that failed in a row (reset by any success). */
  def commitFailures: Int = commits.failures
  /** The commit failure that stopped the query, once one has. */
  def failure: Option[Throwable] = Option(commits.cause)
}

/** `Kafka2S3Hive` equivalent (`Kafka2S3Hive.scala:20-130`):
  * lenient-parsed events → 3-level-partitioned catalog table, with
  * metastore partition commit deferred until the watermark passes
  * partition-time + delay. A StreamingQueryListener drives the
  * committer from each progress event with the watermark that batch
  * PRODUCED — `max(watermark, max event time − delay)`, exactly what
  * Spark's watermark tracker hands the next batch — so a partition
  * commits on the trigger whose data closes it, as the reference's
  * commit coordinator checks the current watermark at each checkpoint.
  * An idle stream therefore strands no ready partition, and late rows
  * still reach committed partitions through the committer's merge.
  * Bounded runs (`--available-now`) commit the same way; a caller's
  * final `handle.committer.commitReady` is safe alongside the
  * listener's. After [[maxCommitFailures]] failed commit passes in a
  * row the job stops its query and records the cause on the handle
  * (`main` then exits non-zero): a metastore outage must not leave
  * partitions invisible while the job looks healthy. */
object HiveJob {
  val queryName = "graft_hive_job"
  val maxCommitFailures = 3

  /** The watermark a finished batch produced, from its progress
    * `eventTime` map; falls back to the batch's own watermark when it
    * reported no `max` (no rows). */
  private[jobs] def producedWatermark(
      eventTime: java.util.Map[String, String]): Option[Long] = {
    def ms(key: String) = Option(eventTime.get(key))
      .map(java.time.Instant.parse(_).toEpochMilli)
    (ms("watermark") ++ ms("max").map(_ - Sinks.tableWatermarkDelayMs))
      .maxOption
  }

  /** Commits on this run's progress events. Registered before
    * `start()`, so no progress event is missed; the run's id is set in
    * `onQueryStarted`, which Spark calls synchronously inside
    * `start()`. Deregisters on the run's termination, so a later run
    * in the same session never has a stale listener committing against
    * a dropped table. */
  private[jobs] final class CommitListener(spark: SparkSession,
      committer: PartitionCommitter) extends StreamingQueryListener {
    @volatile private var id: java.util.UUID = _
    @volatile var failures = 0
    @volatile var cause: Throwable = _

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (id == null && e.name == queryName) id = e.id
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.id == id) spark.streams.removeListener(this)
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == id) {
        try {
          producedWatermark(e.progress.eventTime).filter(_ > 0)
            .foreach(committer.commitReady)
          failures = 0
        } catch { case ex: Exception => // listener must never throw
          failures += 1
          System.err.println(s"[HiveJob] commit failed ($failures in a " +
            s"row): ${ex.getMessage}")
          if (failures >= maxCommitFailures && cause == null) {
            cause = ex
            // stop() blocks until the query thread exits; on this
            // thread it would stall the session's listener bus
            val q = spark.streams.get(id)
            val stopper = new Thread(() => if (q != null) q.stop(),
              "graft-hive-job-stop")
            stopper.setDaemon(true)
            stopper.start()
          }
        }
      }
  }

  def run(spark: SparkSession, c: JobConfig): HiveJobHandle = {
    Sinks.createPartitionedTable(spark, c.tableName, c.tableLocation)
    // The committer owns auto-compaction (reference knob
    // `Kafka2S3Hive.scala:87`): each partition is compacted exactly
    // once, right after its metastore commit — i.e. only after the
    // watermark proves the writer is done with it.
    val committer = new PartitionCommitter(spark, c.tableName,
      c.stagingDir, c.partitionCommitDelayMs,
      autoCompact = c.autoCompaction,
      compactRetentionMs = c.compactRetentionMs)
    val listener = new CommitListener(spark, committer)
    spark.streams.addListener(listener)
    // a run that fails to start must not leave its listener behind to
    // adopt the id of the next run with the same name
    val q =
      try Sinks.tablePipeline(
          Ingest.parseLenient(Jobs.rawSource(spark, c)),
          c.stagingDir, c.checkpointDir)
        .queryName(queryName)
        .trigger(Jobs.trigger(c)).start()
      catch { case e: Exception =>
        spark.streams.removeListener(listener)
        throw e
      }
    new HiveJobHandle(q, committer, listener)
  }

  def main(args: Array[String]): Unit = {
    val c = JobConfig.parse(args)
    val h = run(Jobs.session("kafka2hive", hive = true), c)
    h.query.awaitTermination()
    h.failure.foreach { e =>
      System.err.println(s"[HiveJob] stopped after $maxCommitFailures " +
        s"failed partition commits in a row: ${e.getMessage}")
      sys.exit(1)
    }
  }
}

/** The BATCH curation entry (r19) — the 4th CLI job, and the one
  * with no reference counterpart (the reference's three jobs are the
  * streaming analogs): canonicalize → same-page + exact + near dedup
  * → benchmark decontamination (`--benchmark-dir`, r20) → substring
  * span removal (`--substring-dedup`, r20) → per-source quality cut
  * → token-budget mix → sequence packing, each stage an
  * individually-oracle-proven [[graft.engine.Curation]] function,
  * CHECKPOINTED to parquet under `--staging-dir` between stages. The
  * checkpoints make the run RESTARTABLE: `--resume-from <stage-name>`
  * rereads every checkpoint up to and including that stage and
  * recomputes only what follows — the posture a multi-day 100 TB run
  * needs after a stage-6 failure (stages 1–5 cost days; their parquet
  * is already on disk). Without the flag every stage recomputes. The
  * final packing manifest lands at `--sink-path`. `JobsSpec` asserts
  * the staged run row-equals the direct in-memory composition AND
  * that a resumed run reproduces the full run without touching the
  * input.
  *
  *   runMain graft.jobs.CurationJob --source file --input-dir <docs
  *   parquet> --staging-dir <dir> --sink-path <dir>
  *   [--token-budget N] [--benchmark-dir <eval parquet>]
  *   [--substring-dedup true|false] [--resume-from <stage-name>]
  */
object CurationJob {
  import graft.engine.Curation

  /** Stage names in execution order (staging subdirectories and the
    * `--resume-from` vocabulary). 4_decon and 5_substr only run when
    * configured; resume validation accepts any of these. */
  val stageNames: Seq[String] = Seq("1_url", "2_exact", "3_neardup",
    "4_decon", "5_substr", "6_quality", "7_mix")

  def run(spark: SparkSession, c: JobConfig): String = {
    require(c.inputDir.nonEmpty && c.stagingDir.nonEmpty &&
      c.sinkPath.nonEmpty,
      "CurationJob needs --input-dir, --staging-dir and --sink-path")
    require(c.resumeFrom.isEmpty || stageNames.contains(c.resumeFrom),
      s"--resume-from must be one of ${stageNames.mkString(", ")}")
    require(c.resumeFrom != "4_decon" || c.benchmarkDir.nonEmpty,
      "--resume-from 4_decon needs --benchmark-dir (the stage only " +
        "runs when configured)")
    require(c.resumeFrom != "5_substr" || c.substringDedup,
      "--resume-from 5_substr contradicts --substring-dedup false")
    // lazy: a resumed run rereads checkpoints and must not touch the
    // input at all (it may be a rotated-away crawl drop by then) —
    // the JobsSpec resume test deletes it to prove this holds
    lazy val docs = spark.read.parquet(c.inputDir)
    val bench = Option(c.benchmarkDir).filter(_.nonEmpty)
      .map(spark.read.parquet(_))
    // The working-set memo tag folds in a per-run nonce (r19 ADVICE):
    // the staging dir is stable across runs, and a second run() in
    // the same session with the same staging dir but DIFFERENT input
    // must not reuse the previous run's persisted signature frame.
    val tag = s"${c.stagingDir}|${java.util.UUID.randomUUID()}"
    // checkpoint each stage: write, then read BACK — downstream
    // stages consume the on-disk schema, so any column the write
    // drops or retypes fails here, not silently. While resuming,
    // completed stages are REREAD from their checkpoints (`df` is
    // by-name, so the skipped stage's plan is never even built); a
    // missing checkpoint fails loudly rather than silently
    // recomputing the chain the caller believed was done.
    var resuming = c.resumeFrom.nonEmpty
    def staged(name: String, df: => DataFrame): DataFrame = {
      val p = s"${c.stagingDir}/$name"
      if (resuming) {
        if (name == c.resumeFrom) resuming = false
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(hp),
          s"--resume-from ${c.resumeFrom}: checkpoint $p does not exist")
        // existence alone is not completion: a stage whose overwrite
        // crashed mid-write (the exact scenario resume exists for)
        // leaves partially committed part-files with no _SUCCESS
        // marker — resuming from it would silently read a truncated
        // checkpoint. Require the commit sentinel (r20 ADVICE).
        require(fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")),
          s"--resume-from ${c.resumeFrom}: checkpoint $p has no " +
            "_SUCCESS marker (incomplete write) — rerun from the " +
            "previous stage")
        spark.read.parquet(p)
      } else {
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
    }
    val s1 = staged("1_url", Curation.urlStage(docs))
    val s2 = staged("2_exact", Curation.exactStage(s1))
    val s3 = staged("3_neardup", Curation.nearDupStage(s2, tag))
    val s4 = bench match {
      case Some(b) => staged("4_decon", Curation.deconStage(s3, b, tag))
      case None => s3
    }
    val s5 =
      if (c.substringDedup) staged("5_substr", Curation.substringStage(s4))
      else s4
    val s6 = staged("6_quality", Curation.qualityStage(s5))
    val s7 = staged("7_mix", Curation.mixStage(s6, c.tokenBudget))
    Curation.packStage(s7).write.mode("overwrite").parquet(c.sinkPath)
    c.sinkPath
  }

  def main(args: Array[String]): Unit = {
    val c = JobConfig.parse(args)
    val t0 = System.nanoTime()
    run(Jobs.session("batch curation"), c)
    println(f"CurationJob done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}

/** The ALWAYS-ON streaming curation entry (r20) — the 5th CLI job,
  * [[CurationJob]]'s streaming analog: the three always-on stages
  * every spec proved individually, chained into one continuously
  * running pipeline.
  *
  *   doc pipeline     — stateless per-doc features (fingerprint,
  *                      quality, token count, language — the batch
  *                      [[graft.engine.TextOps]] expressions), quality
  *                      floor, watermark-bounded exact dedup
  *                      ([[graft.engine.StreamingOps.docPipeline]]);
  *   history probe    — Bloom sketch of the immutable historical
  *                      corpus's fingerprints (`--history-dir`, a
  *                      parquet of `fp` built by the batch side;
  *                      omitted = no history), applied as a stateless
  *                      codegen'd filter
  *                      ([[graft.engine.StreamingOps.incrementalDocPipeline]]);
  *   budget admission — per-source token budgets across the WHOLE
  *                      stream, tracked in the replay-safe rollup
  *                      state table under `--staging-dir`
  *                      ([[graft.engine.StreamingOps.admitBudgetBatch]]).
  *
  * Admitted manifests land at `--sink-path/batch=<id>` (overwrite-
  * per-batch — re-delivery rewrites identical content); streaming
  * state is the watermark-horizon dedup keys plus the budget table,
  * never corpus-sized. The periodic batch [[CurationJob]] over the
  * same day's files is the exact reconciliation for everything the
  * always-on path trades away (Bloom false positives, arrival-order
  * keep, horizon-straddling dups) — the same batch/stream pairing the
  * reference's partition-commit jobs embody. Input parquet must carry
  * (doc_id, source, text, event_time).
  *
  *   runMain graft.jobs.StreamCurationJob --input-dir <docs parquet>
  *   --checkpoint-dir <dir> --staging-dir <dir> --sink-path <dir>
  *   [--history-dir <fp parquet>] [--budget N] [--available-now true]
  *   [--max-files-per-trigger N]
  */
object StreamCurationJob {
  import graft.engine.{HistorySketch, StreamingOps}

  def run(spark: SparkSession, c: JobConfig): StreamingQuery = {
    require(c.inputDir.nonEmpty && c.checkpointDir.nonEmpty &&
      c.stagingDir.nonEmpty && c.sinkPath.nonEmpty,
      "StreamCurationJob needs --input-dir, --checkpoint-dir, " +
        "--staging-dir and --sink-path")
    // schema bootstrap from the static view of the drop directory —
    // the file-stream source requires an explicit schema
    val schema = spark.read.parquet(c.inputDir).schema
    var reader = spark.readStream.schema(schema)
    if (c.maxFilesPerTrigger > 0L)
      reader = reader.option("maxFilesPerTrigger",
        c.maxFilesPerTrigger.toString)
    val docs = reader.parquet(c.inputDir)
    val piped = Option(c.historyDir).filter(_.nonEmpty) match {
      case Some(dir) =>
        StreamingOps.incrementalDocPipeline(docs,
          HistorySketch.build(spark.read.parquet(dir)))
      case None => StreamingOps.docPipeline(docs)
    }
    piped.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingOps.admitBudgetBatch(b,
          s"${c.stagingDir}/budget_state", c.sinkPath, c.budget, id)
      }
      .option("checkpointLocation", c.checkpointDir)
      .trigger(Jobs.trigger(c))
      .start()
  }

  def main(args: Array[String]): Unit = {
    val c = JobConfig.parse(args)
    val q = run(Jobs.session("streaming curation"), c)
    q.awaitTermination()
  }
}
