package graft.perfbench

import graft.jobs.{JobConfig, StreamCurationJob}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.mutable.ArrayBuffer

/** `stream_curation`: `jobs.StreamCurationJob` with `--history-dir`,
  * `--budget`, `--max-files-per-trigger 1 --available-now true`, over
  * a seeded backlog of time-sliced document files (one file per event
  * minute) with planted in-stream duplicates, plus a seeded history
  * fingerprint set that planted stream documents repeat. Each rep
  * drains the whole backlog from a fresh checkpoint; a drain of the
  * first two slices is the warm-up. */
final class StreamCurationWorkload(data: String, work: String, seed: Long)
    extends Workload {
  val name = "stream_curation"
  val inputDir = s"$work/sc_input"
  /** The first two slices alone: the untimed warm-up drain. */
  val warmDir = s"$work/sc_warm"
  val historyDir = s"$work/sc_history"
  val slices = 3
  val docsPerSlice = 500
  val sources = 4
  /** Per-source token budget, about two thirds of what each source
    * sends, so admission cuts every source. */
  val budget = 12000L
  val t0Ms = 1617171780000L

  private val inStreamDups = ArrayBuffer.empty[Long]
  private val historyHits = ArrayBuffer.empty[Long]
  private var nRows = 0L

  def inputs(spark: SparkSession): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    // texts are drawn from the vocabulary of the sf0.1 documents
    val vocab = spark.read.parquet(s"$data/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w")).distinct()
      .collect().map(_.getString(0)).sorted
    def words(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val texts = scala.collection.mutable.HashMap.empty[Long, String]
    val history = Seq.fill(1000)(words(20 + rnd.nextInt(60)))
    new java.io.File(inputDir).mkdirs()
    new java.io.File(warmDir).mkdirs()
    var id = 0L
    val rows = (0 until slices).flatMap { i =>
      (0 until docsPerSlice).map { j =>
        id += 1
        val text =
          if (i > 0 && j < 20) {
            // an earlier slice's text, inside the 10-minute horizon
            inStreamDups += id
            texts(1L + rnd.nextInt(docsPerSlice * i))
          } else if (j < 35) {
            historyHits += id
            history(rnd.nextInt(history.size))
          } else words(20 + rnd.nextInt(60))
        texts(id) = text
        (i, id, s"s${rnd.nextInt(sources)}", text,
          new java.sql.Timestamp(t0Ms + i * 60000L + rnd.nextInt(60000)))
      }
    }
    // one job writes every slice; each slice's single file then moves
    // into the input directory
    val tmp = s"$work/sc_slices"
    rows.toDF("slice", "doc_id", "source", "text", "event_time")
      .repartition(col("slice")).write.partitionBy("slice").parquet(tmp)
    for (i <- 0 until slices) {
      val part = new java.io.File(s"$tmp/slice=$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"slice $i written as ${part.length} files")
      val dst = new java.io.File(inputDir, f"slice_$i%02d.parquet")
      java.nio.file.Files.move(part.head.toPath, dst.toPath)
      // ascending modification times pin the file-source order
      dst.setLastModified(t0Ms + i * 60000L)
      if (i < 2) {
        val w = new java.io.File(warmDir, dst.getName)
        java.nio.file.Files.copy(dst.toPath, w.toPath)
        w.setLastModified(t0Ms + i * 60000L)
      }
    }
    Harness.deleteRecursively(new java.io.File(tmp))
    // a copied text may itself be a history text: it is then both
    historyHits ++= inStreamDups.filter(d => history.contains(texts(d)))
    history.toDF("text")
      .select(graft.engine.TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(historyDir)
    nRows = id
  }

  def setup(spark: SparkSession): Unit = {
    spark.read.parquet(inputDir).count()
    Harness.clearMemos(spark)
  }

  private var rep = 0

  /** An untimed-in-measure drain of the first two slices. */
  def warmup(spark: SparkSession): Unit = {
    drain(spark, new Tracer("warmup", enabled = false), -1, warmDir)
    cleanup(rep)
  }

  /** One full drain; returns (wall ms, progress of its data batches,
    * sink dir). */
  private def drain(spark: SparkSession, tracer: Tracer, parent: Int,
      input: String = inputDir): (Double, Seq[StreamingQueryProgress], String) = {
    rep += 1
    val sink = s"$work/sc_sink$rep"
    Harness.clearMemos(spark)
    val t0 = Harness.now()
    val q = tracer.span("StreamCurationJob.drain", parent) { _ =>
      val q = StreamCurationJob.run(spark, JobConfig(inputDir = input,
        checkpointDir = s"$work/sc_ckpt$rep", stagingDir = s"$work/sc_stg$rep",
        sinkPath = sink, historyDir = historyDir, budget = budget,
        availableNow = true, maxFilesPerTrigger = 1L))
      q.awaitTermination()
      q
    }
    val wall = Harness.msSince(t0)
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    batches.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      tracer.record(s"StreamingOps.batch", start,
        start + p.durationMs.get("triggerExecution"), parent)
    }
    (wall, batches, sink)
  }

  private def cleanup(r: Int): Unit = Seq("sc_sink", "sc_ckpt", "sc_stg")
    .foreach(d => Harness.deleteRecursively(new java.io.File(s"$work/$d$r")))

  def measure(spark: SparkSession, seconds: Double, tracer: Tracer): Outcome = {
    val walls = ArrayBuffer.empty[Double]
    val batches = ArrayBuffer.empty[StreamingQueryProgress]
    val t0 = Harness.now()
    val winStart = tracer.wallMs()
    var lastSink = ""
    tracer.span("stream_curation.run") { runSpan =>
      // whole drains while the next one, at the mean drain time so
      // far, ends inside the window; at least 2
      while (walls.size < 2 ||
          Harness.msSince(t0) * (walls.size + 1) / walls.size <= seconds * 1000) {
        if (lastSink.nonEmpty) cleanup(rep)
        val (w, b, sink) = drain(spark, tracer, runSpan)
        walls += w
        batches ++= b
        lastSink = sink
      }
    }
    val windowS = Harness.msSince(t0) / 1e3
    val winEnd = tracer.wallMs()
    val admitted = spark.read.parquet(lastSink)
    val failures = check(spark, admitted)
    val nAdmitted = admitted.count()
    val batchMs = batches.map(_.durationMs.get("triggerExecution").toDouble).toSeq
    val wallS = Harness.median(walls.toSeq) / 1e3
    val e2e = Map("wall_s" -> wallS, "op_p50_ms" -> Harness.pct(batchMs, 50))
    val readings = Map("wall_s" -> wallS, "rows_per_s" -> nRows / wallS,
      "batch_p50_ms" -> Harness.pct(batchMs, 50),
      "batch_p90_ms" -> Harness.pct(batchMs, 90),
      "batch_samples" -> batchMs.size.toDouble,
      "drains" -> walls.size.toDouble,
      "failed_frac" -> failures.size.toDouble / batches.size,
      "trend_first_last" -> walls.head / walls.last)
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        tracer.settle()
        val ps = tracer.progress.filter { case (t, p) =>
          t >= winStart && t <= winEnd + 1000 && p.numInputRows > 0 }
          .map(_._2).toSeq
        val ops = ps.flatMap(_.stateOperators.headOption)
        val mb = 1024.0 * 1024.0
        val updated = ops.map(_.numRowsUpdated).sum.toDouble
        val generic = tracer.layerMetrics(
          (t, _) => t >= winStart && t <= winEnd, windowS, 4)
        val perDrain = generic.map { case (k, v) =>
          k -> (if (k == "exec.busy_ratio") v else v / walls.size) }
        perDrain ++ Map(
          "driver.plan_ms" -> tracer.planMs(winStart, winEnd) / walls.size,
          "StreamingOps.state_rows" ->
            (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble),
          "StreamingOps.state_mb" ->
            (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max / mb),
          "StreamingOps.state_commit_ms" ->
            (if (ops.isEmpty) 0.0 else Harness.median(ops.map(_.commitTimeMs.toDouble))),
          "StreamingOps.dropped_late" ->
            ops.map(_.numRowsDroppedByWatermark).sum.toDouble / walls.size,
          "StreamingOps.dedup_keep_ratio" ->
            updated / math.max(1L, ps.map(_.numInputRows).sum),
          "StreamingOps.admit_keep_ratio" ->
            nAdmitted * walls.size / math.max(1.0, updated),
          "StreamingOps.addBatch_ms" -> Harness.median(
            ps.map(_.durationMs.get("addBatch").toDouble)))
      }
    cleanup(rep)
    Outcome(batches.size, failures.size, e2e, readings, layers, failures,
      Map("drain_walls_ms" -> walls.toSeq))
  }

  /** No fingerprint admitted twice, no source over budget, no planted
    * history document admitted. */
  private def check(spark: SparkSession,
      admitted: org.apache.spark.sql.DataFrame): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val in = spark.read.parquet(inputDir)
    val dupFp = admitted.join(in.select("doc_id", "text"), Seq("doc_id"))
      .groupBy(graft.engine.TextOps.fingerprint(col("text")).as("fp"))
      .count().filter(col("count") > 1).count()
    if (dupFp > 0) bad += s"stream_curation: $dupFp fingerprints admitted twice"
    val over = admitted.groupBy("source").agg(sum("ntk").as("t"))
      .filter(col("t") > budget).count()
    if (over > 0) bad += s"stream_curation: $over sources over budget"
    val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    val hist = historyHits.count(ids)
    if (hist > 0) bad += s"stream_curation: $hist history documents admitted"
    if (ids.isEmpty) bad += "stream_curation: nothing admitted"
    bad.toSeq
  }
}
