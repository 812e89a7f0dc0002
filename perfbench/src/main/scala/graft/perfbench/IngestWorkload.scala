package graft.perfbench

import graft.jobs.{HiveJob, JobConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.mutable.ArrayBuffer

/** `ingest`: `jobs.HiveJob` over the file source (the offline stand-in
  * for Kafka) with auto-compaction on and a 0 s trigger interval, into a
  * derby-backed Hive catalog. The commit delay is the partition length
  * (60 s, the job's default): the committer takes partition time from
  * the partition's start, as the reference does, so this delay makes a
  * minute partition committable exactly when the watermark passes its
  * end.
  *
  * Input is the reference's ad-event JSON with planted corrupt lines,
  * missing-field records, out-of-order events and late events (older
  * than the watermark, so they land in already committed partitions).
  *
  *  - Phase A drains a pre-generated 3-minute backlog (`wall_s`).
  *  - Phase B is an open loop for 2 s + `seconds`: this thread drops one file
  *    every 100 ms (write, then rename) whatever the job's progress,
  *    with event time running 60× wall time, so a minute partition
  *    closes every second (faster, auto-compaction falls behind). A partition's visibility clock starts
  *    at the drop that carries event time past partition end + the
  *    5 s watermark + the commit delay, and stops at the first catalog
  *    poll (every 50 ms) that lists it (`op_p50_ms`).
  *  - Two flush files then carry the watermark past every partition,
  *    and the check reads the table back.
  */
final class IngestWorkload(work: String, seed: Long) extends Workload {
  val name = "ingest"
  override val hive = true

  val e0Ms = 1617170400000L // 2021-03-31T06:00:00Z
  val backlogMinutes = 3
  val backlogFiles = 50
  val rowsPerBacklogFile = 3000
  val tickMs = 100L
  val rowsPerTick = 100
  val speed = 60L // event-time ms per wall ms in phase B
  val watermarkMs = 5000L
  val commitDelayMs = 60000L
  val pollMs = 50L
  /** Partitions that close in phase B's first 2 s are not sampled: the
    * JIT and the backlog's own commits are still settling. */
  val warmMs = 2000.0
  val backlogDir = s"$work/ing_backlog"

  /** One generated event line and whether it must become visible. */
  final case class Line(uuid: String, json: String, good: Boolean)

  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** A line for an event at `et`: 1% corrupt, 1% missing fields. */
  private def line(rnd: scala.util.Random, uuid: String, et: Long): Line = {
    val u = rnd.nextDouble()
    if (u < 0.005) Line(uuid, s"not-json $uuid", good = false)
    else if (u < 0.01)
      Line(uuid, s"""{"uuid":"$uuid","date":"${iso(et).take(8)}""", good = false)
    else if (u < 0.02)
      Line(uuid, s"""{"uuid":"$uuid","timestamp":$et}""", good = true)
    else {
      val t = rnd.nextInt(2000)
      Line(uuid, s"""{"uuid":"$uuid","date":"${iso(et)}","timestamp":$et,""" +
        s""""ad_type":$t,"ad_type_name":"t$t"}""", good = true)
    }
  }

  private val backlog = ArrayBuffer.empty[Line]

  /** The phase A backlog: files of events spread over 3 event
    * minutes, shuffled within each file (out of order). */
  def inputs(spark: SparkSession): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = new java.io.File(backlogDir)
    dir.mkdirs()
    val spanMs = backlogMinutes * 60000L
    for (f <- 0 until backlogFiles) {
      val ls = (0 until rowsPerBacklogFile).map { i =>
        line(rnd, s"a$seed-$f-$i", e0Ms + (rnd.nextDouble() * spanMs).toLong)
      }
      backlog ++= ls
      java.nio.file.Files.writeString(new java.io.File(dir, f"b$f%03d.json").toPath,
        ls.map(_.json).mkString("", "\n", "\n"))
    }
  }

  /** Per-session set-up: metastore initialization and table DDL. */
  def setup(spark: SparkSession): Unit =
    graft.engine.Sinks.createPartitionedTable(spark, "perfbench_setup",
      new java.io.File(s"$work/ing_setup_table").getAbsolutePath)

  /** Warm-up before the first measurement: one 1000-event file (a year
    * before the measured events) through a bounded HiveJob, its
    * partition commits and their compaction. Without it phase A and the
    * first phase B partitions measure the JIT, not the job. */
  def warmup(spark: SparkSession): Unit = {
    val dir = new java.io.File(s"$work/ing_warm")
    val in = new java.io.File(dir, "in")
    in.mkdirs()
    val rnd = new scala.util.Random(seed)
    val warmE0 = e0Ms - 365L * 86400000L
    java.nio.file.Files.writeString(new java.io.File(in, "w.json").toPath,
      (0 until 1000).map(i => line(rnd, s"w$i",
        warmE0 + rnd.nextInt(backlogMinutes * 60000)).json).mkString("", "\n", "\n"))
    val h = HiveJob.run(spark, JobConfig(source = "file",
      inputDir = in.getAbsolutePath, checkpointDir = s"$dir/ckpt",
      tableName = "perfbench_warm", tableLocation = s"${dir.getAbsolutePath}/table",
      stagingDir = s"${dir.getAbsolutePath}/staging", partitionCommitDelayMs = commitDelayMs,
      autoCompaction = true, availableNow = true))
    h.query.awaitTermination()
    h.committer.commitReady(warmE0 + 86400000L)
    h.committer.awaitCompactions()
    spark.sql("DROP TABLE IF EXISTS perfbench_warm")
    Harness.deleteRecursively(dir)
  }

  private var round = 0

  private def partitionName(minuteMs: Long): String = {
    val t = java.time.Instant.ofEpochMilli(minuteMs).atZone(java.time.ZoneOffset.UTC)
    f"logday=${t.toLocalDate}/h=${t.getHour}%02d/m=${t.getMinute}%02d"
  }

  private def batchEndMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").toDouble

  def measure(spark: SparkSession, seconds: Double, tracer: Tracer): Outcome = {
    round += 1
    val table = s"source_log_$round"
    val in = new java.io.File(s"$work/ing_in$round")
    val tmp = new java.io.File(s"$work/ing_tmp$round")
    in.mkdirs()
    tmp.mkdirs()
    val staging = new java.io.File(s"$work/ing_staging$round").getAbsolutePath
    Option(new java.io.File(backlogDir).listFiles()).get.sortBy(_.getName)
      .foreach(f => java.nio.file.Files.copy(f.toPath, new java.io.File(in, f.getName).toPath))
    val catalog = spark.sharedState.externalCatalog
    val visibleAt = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def poll(): Unit = catalog.listPartitionNames("default", table)
      .foreach(p => if (!visibleAt.contains(p)) visibleAt(p) = tracer.wallMs())

    // ---- phase A: drain the backlog
    val startA = tracer.wallMs()
    def note(what: String): Unit = System.err.println(
      f"[perfbench] ingest $what at ${tracer.wallMs() - startA}%.0f ms")
    val h = HiveJob.run(spark, JobConfig(source = "file",
      inputDir = in.getAbsolutePath, checkpointDir = s"$work/ing_ckpt$round",
      checkpointInterval = 0L, tableName = table,
      tableLocation = new java.io.File(s"$work/ing_table$round").getAbsolutePath,
      stagingDir = staging, partitionCommitDelayMs = commitDelayMs,
      autoCompaction = true))
    val q = h.query
    val progress = scala.collection.mutable.LinkedHashMap.empty[Long, StreamingQueryProgress]
    def consumed(): Long = {
      q.recentProgress.foreach(p => progress(p.batchId) = p)
      progress.values.map(_.numInputRows).sum
    }
    def awaitConsumed(lines: Long, limitMs: Long): Boolean = {
      val until = System.currentTimeMillis() + limitMs
      while (consumed() < lines && q.isActive && System.currentTimeMillis() < until)
        Thread.sleep(20)
      consumed() >= lines
    }
    val failures = ArrayBuffer.empty[String]
    if (!awaitConsumed(backlog.size, 60000))
      failures += "ingest: phase A backlog not drained within 60 s"
    val endA = progress.values.find(p => progress.values
      .filter(_.batchId <= p.batchId).map(_.numInputRows).sum >= backlog.size)
      .map(batchEndMs).getOrElse(tracer.wallMs())
    tracer.record("ingest.phaseA", startA, endA)
    val drainS = (endA - startA) / 1e3
    note("phaseA done")

    // ---- phase B: open-loop drops on a fixed schedule
    val rnd = new scala.util.Random(seed * 31 + 7)
    val sent = ArrayBuffer.empty[Line]
    val drops = ArrayBuffer.empty[(Double, Long)] // (wall ms, max event ms)
    val eB0 = e0Ms + backlogMinutes * 60000L
    val startB = tracer.wallMs()
    val lateness = ArrayBuffer.empty[Double]
    var tick = 0
    var nextPoll = startB
    val endB = startB + warmMs + seconds * 1000
    while (tracer.wallMs() < endB) {
      val due = startB + tick * tickMs
      val nowMs = tracer.wallMs()
      if (nowMs >= due) {
        lateness += nowMs - due
        val hi = eB0 + (tick + 1) * tickMs * speed
        val lo = hi - tickMs * speed
        val ls = (0 until rowsPerTick).map { i =>
          // once, 8 s into the loop, five late events land in this
          // phase's first partition, committed and compacted seconds
          // before (the committer must merge them back)
          val et =
            if (tick == 80 && i < 5) eB0 + 30000L
            else if (rnd.nextDouble() < 0.05) hi - rnd.nextInt(4000) // out of order
            else lo + rnd.nextInt((tickMs * speed).toInt)
          line(rnd, s"b$seed-$tick-$i", et)
        }
        Harness.dropAtomically(tmp, new java.io.File(in, f"t$tick%05d.json"),
          ls.map(_.json).mkString("", "\n", "\n"))
        sent ++= ls
        drops += ((tracer.wallMs(), hi))
        tick += 1
      }
      if (nowMs >= nextPoll) { poll(); nextPoll = nowMs + pollMs }
      val wait = math.min(startB + tick * tickMs, nextPoll) - tracer.wallMs()
      if (wait > 0) Thread.sleep(math.ceil(wait).toLong)
    }
    val consumedAtEndB = consumed()
    val unconsumedLines = backlog.size + sent.size - consumedAtEndB
    tracer.record("ingest.phaseB", startB, tracer.wallMs())
    note("phaseB done")

    // ---- flush: two files carry the watermark past every partition
    val lastEt = if (drops.isEmpty) eB0 else drops.last._2
    val flushEt = lastEt + 180000L
    val total = backlog.size + sent.size
    for (k <- 1 to 2) {
      Harness.dropAtomically(tmp, new java.io.File(in, s"z$k.json"),
        s"""{"uuid":"flush-$k","date":"${iso(flushEt + k)}","timestamp":${flushEt + k},"ad_type":0,"ad_type_name":"f"}""" + "\n")
      if (!awaitConsumed(total + k, 60000))
        failures += s"ingest: flush file $k not consumed within 60 s"
    }
    val finalWm = flushEt + 1 - watermarkMs
    note("flush consumed")
    val allLines = backlog ++ sent
    val expectedParts = allLines.filter(_.good).map { l =>
      val et = "\"timestamp\":([0-9]+)".r.findFirstMatchIn(l.json).get.group(1).toLong
      partitionName(et - et % 60000L)
    }.toSet
    val until = System.currentTimeMillis() + 30000
    while (!expectedParts.subsetOf(visibleAt.keySet) && System.currentTimeMillis() < until) {
      poll()
      Thread.sleep(pollMs)
    }
    q.stop()
    poll()
    note("visible + stopped")
    // what the job itself committed; the committer call below only
    // orders the late-data merges it queues before the barrier
    val pendingEnd = h.committer.partitionsOnDisk().count { case (d, hh, m) =>
      h.committer.partitionTime(d, hh, m).exists(_ + commitDelayMs <= finalWm) &&
        !visibleAt.contains(s"logday=$d/h=$hh/m=$m")
    }
    h.committer.commitReady(finalWm)
    h.committer.awaitCompactions()
    note("compactions done")

    // ---- visibility latency per phase-B partition
    val latencies = ArrayBuffer.empty[Double]
    val closes = ArrayBuffer.empty[(String, Double)]
    var m = eB0
    // committable once the watermark (max event time - 5 s) passes
    // partition start + delay, i.e. the partition's end
    while (m + commitDelayMs + watermarkMs <= lastEt) {
      val name = partitionName(m)
      drops.find(_._2 >= m + commitDelayMs + watermarkMs).filter(_._1 >= startB + warmMs)
        .foreach { case (at, _) =>
        visibleAt.get(name).foreach { v =>
          latencies += v - at
          closes += ((name, at))
          tracer.record(s"PartitionCommitter.visible.$name", at, v)
        }
      }
      m += 60000L
    }

    // ---- check: every good row visible exactly once, no corrupt row
    val counts = spark.table(table).groupBy("uuid").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val good = allLines.filter(_.good).map(_.uuid)
    val missing = good.count(u => !counts.contains(u))
    val doubled = good.count(u => counts.getOrElse(u, 0L) > 1)
    val corrupt = allLines.filterNot(_.good).count(l => counts.contains(l.uuid))
    note("checked")
    if (missing > 0) failures += s"ingest: $missing good rows never visible"
    if (doubled > 0) failures += s"ingest: $doubled rows visible more than once"
    if (corrupt > 0) failures += s"ingest: $corrupt corrupt rows visible"
    if (pendingEnd > 0) failures += s"ingest: $pendingEnd committable partitions left uncommitted"
    if (latencies.isEmpty) failures += "ingest: no partition closed in phase B"
    val failed = missing + doubled + corrupt + (if (failures.nonEmpty &&
      missing + doubled + corrupt == 0) 1 else 0)

    def lat(p: Double) = if (latencies.isEmpty) 0.0 else Harness.pct(latencies.toSeq, p)
    val e2e = Map("wall_s" -> drainS, "op_p50_ms" -> lat(50))
    val readings = Map("wall_s" -> drainS,
      "rows_per_s" -> backlog.count(_.good) / drainS,
      "visible_p50_ms" -> lat(50), "visible_p90_ms" -> lat(90),
      "visible_samples" -> latencies.size.toDouble,
      "generator_late_max_ms" -> (if (lateness.isEmpty) 0.0 else lateness.max),
      "failed_frac" -> failed.toDouble / good.size)

    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        tracer.settle()
        val ps = tracer.progress.filter(_._2.id == q.id).map(_._2).toSeq
        def med(key: String): Double = {
          val xs = ps.flatMap(p => Option(p.durationMs.get(key)).map(_.toDouble))
          if (xs.isEmpty) 0.0 else Harness.median(xs)
        }
        // first progress whose watermark passes each partition's end
        val wmAt = ps.flatMap(p => Option(p.eventTime.get("watermark"))
          .map(w => java.time.Instant.parse(w).toEpochMilli -> batchEndMs(p)))
        val lags = closes.flatMap { case (name, _) =>
          val minute = java.time.LocalDateTime.parse(
            name.replaceAll("logday=(.*)/h=(.*)/m=(.*)", "$1T$2:$3:00"))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          wmAt.find(_._1 >= minute + commitDelayMs).map(w => visibleAt(name) - w._2)
        }
        val (sinkBytes, sinkFiles) = sinkLog(new java.io.File(staging, "_spark_metadata"))
        val parts = catalog.listPartitions("default", table)
        val filesPer = parts.map(p => Option(new java.io.File(
          new java.net.URI(p.location.toString)).listFiles()).getOrElse(Array.empty)
          .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")))
        val mb = 1024.0 * 1024.0
        val generic = tracer.layerMetrics(
          (t, _) => t >= startA && t <= tracer.wallMs(), (tracer.wallMs() - startA) / 1e3, 4)
        generic ++ Map(
          "driver.plan_ms" -> tracer.planMs(startA, tracer.wallMs()) / math.max(1, ps.size),
          "Ingest.parse_keep_ratio" ->
            counts.size.toDouble / math.max(1, allLines.size),
          "Ingest.backlog_files" -> unconsumedLines.toDouble / rowsPerTick,
          "Sinks.addBatch_ms" -> med("addBatch"),
          "Sinks.queryPlanning_ms" -> med("queryPlanning"),
          "Sinks.walCommit_ms" -> med("walCommit"),
          "Sinks.latestOffset_ms" -> med("latestOffset"),
          "Sinks.files_written" -> sinkFiles.toDouble,
          "Sinks.mb_written" -> sinkBytes / mb,
          "Sinks.files_per_partition" ->
            (if (filesPer.isEmpty) 0.0 else filesPer.sum.toDouble / filesPer.size),
          "Sinks.compact_mb_rewritten" -> compactBytes(new java.io.File(staging)) / mb,
          "PartitionCommitter.commit_lag_ms" ->
            (if (lags.isEmpty) 0.0 else Harness.median(lags.toSeq)),
          "PartitionCommitter.pending_end" -> pendingEnd.toDouble)
      }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Outcome(good.size, failed, e2e, readings, layers, failures.toSeq,
      Map("visible_ms" -> latencies.toSeq))
  }

  /** Files and bytes the streaming file sink committed, from its
    * `_spark_metadata` log (compacted and delta files both list a
    * path; each path counts once). */
  private def sinkLog(dir: java.io.File): (Long, Int) = {
    val entry = "\"path\":\"([^\"]+)\".*?\"size\":([0-9]+)".r
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().flatMap(l =>
        entry.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toLong)))
      .toMap
    (files.values.sum, files.size)
  }

  /** Bytes in compacted partition directories (`compact_*`). */
  private def compactBytes(f: java.io.File): Long =
    Option(f.listFiles()).getOrElse(Array.empty).map { c =>
      if (c.isDirectory && c.getName.startsWith("compact_")) Harness.dirBytes(c)
      else if (c.isDirectory) compactBytes(c)
      else 0L
    }.sum
}
