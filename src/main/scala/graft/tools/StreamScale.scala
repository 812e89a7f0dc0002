package graft.tools

import graft.engine.{StreamingOps, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming-surface throughput evidence (round-8): the batch side
  * has Bench/Profile, but the reference's core identity is
  * throughput JOBS (`Kafka2S3Text/Hive`), and until this tool the
  * rebuilt streaming operators had specs proving semantics and zero
  * measured numbers. Drives the three stateful shapes — the
  * document-corpus pipeline (stateless features + quality floor +
  * watermarked exact dedup), windowed trending terms (explode +
  * windowed agg), and the stream–stream interval join — over a
  * FILE-backed multi-batch stream (the Kafka stand-in; the source
  * swap is one line, the downstream plan identical), `local[32]`,
  * and reports rows/s plus the per-micro-batch duration
  * distribution from the engine's own progress events.
  *
  * Input volume is generated executor-side as `nBatch`-file JSON
  * directories (`maxFilesPerTrigger = 1` ⇒ one micro-batch per
  * file), so batch size — and therefore state-store pressure per
  * trigger — is controlled and the measurement covers several
  * watermark advances, not one monolithic batch. Usage:
  *   sbt "runMain graft.tools.StreamScale [nDocs] [nEvents] [rocksdb]"
  * Defaults 120k docs / 400k events, default (HDFS-backed) state
  * store; a third arg `rocksdb` flips every stateful operator onto
  * the RocksDB provider (SURVEY §2.8 T3) so the spill-ready backend
  * has measured numbers too, not just a spec. Prints ONE JSON line. */
object StreamScale {

  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.min(xs.size - 1,
      math.max(0, math.ceil(p * xs.size).toInt - 1)))

  /** Deterministic ~30-token pseudo-text for a doc id (mixed hash →
    * words from a 512-word synthetic vocabulary; ~10% consecutive
    * duplicates for the dedup stage to drop). */
  private def textOf(id: Long): String = {
    val base = if (id % 10 == 9) id - 1 else id
    val sb = new StringBuilder
    var h = base * 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30) {
      h = (h ^ (h >>> 27)) * 0xBF58476D1CE4E5B9L
      sb.append("w").append(java.lang.Long.toHexString((h >>> 40) & 0x1FF))
      sb.append(' ')
      i += 1
    }
    sb.result().trim
  }

  private case class RunStats(rows: Long, wallSec: Double,
      batches: Int, p50Ms: Double, p95Ms: Double, maxMs: Double) {
    def json(name: String): String =
      f""""$name":{"rows":$rows,"wall_sec":$wallSec%.2f,""" +
        f""""rows_per_sec":${rows / wallSec}%.0f,"batches":$batches,""" +
        f""""batch_ms_p50":$p50Ms%.0f,"batch_ms_p95":$p95Ms%.0f,""" +
        f""""batch_ms_max":$maxMs%.0f}"""
  }

  /** Run a streaming DataFrame to the noop sink with one micro-batch
    * per input file; wall time + per-batch durations from the
    * engine's progress events. */
  private def measure(df: DataFrame, nRows: Long): RunStats =
    measureQuery(t0 => df.writeStream.format("noop")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ssck").toString)
      .start(), nRows)

  /** The same measurement for a query the caller starts itself (e.g.
    * a foreachBatch MV sink, which owns its write path). */
  private def measureQuery(
      start: Long => org.apache.spark.sql.streaming.StreamingQuery,
      nRows: Long): RunStats = {
    val t0 = System.nanoTime()
    val q = start(t0)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
    val durs = prog.map(_.durationMs.get("triggerExecution").toDouble)
    RunStats(nRows, wall, prog.size,
      percentile(durs, 0.5), percentile(durs, 0.95),
      if (durs.isEmpty) 0.0 else durs.max)
  }

  private def writeDocs(spark: SparkSession, n: Long, files: Int,
      dir: String): Unit = {
    import spark.implicits._
    // TIME-SLICED files (range partition on event time, ascending
    // part numbers = ascending time): the file source feeds batches
    // in path order, so the watermark advances once per micro-batch.
    // A round-robin split would put the full time range in EVERY
    // file — the first batch would drag the watermark to ~max and
    // the stateful operators would drop the later batches as late,
    // measuring row-dropping instead of state work.
    spark.range(n).map { id =>
      (id, textOf(id),
        new java.sql.Timestamp(1617171780000L + id * 3))
    }.toDF("doc_id", "text", "event_time")
      .repartitionByRange(files, org.apache.spark.sql.functions
        .col("event_time"))
      .write.mode("overwrite").json(dir)
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("event_time", TimestampType)))

  private def writeEvents(spark: SparkSession, n: Long, files: Int,
      dir: String, lagMs: Long): Unit = {
    import spark.implicits._
    // time-sliced like writeDocs — see the ordering comment there
    spark.range(n).map { id =>
      (s"u${id % 50000}", (id % 9 + 1).toInt,
        1617171780000L + id * 2 + lagMs)
    }.toDF("uuid", "ad_type", "timestamp")
      .repartitionByRange(files, org.apache.spark.sql.functions
        .col("timestamp"))
      .write.mode("overwrite").json(dir)
  }

  private val eventSchema = StructType(Seq(
    StructField("uuid", StringType),
    StructField("ad_type", IntegerType),
    StructField("timestamp", LongType)))

  private def writeUserEvents(spark: SparkSession, n: Long, files: Int,
      dir: String): Unit = {
    import spark.implicits._
    // 50k active users, 7 event types (the marketing trio included so
    // the attribution maintainer does real carry work), 2 ms event
    // spacing — time-sliced like writeDocs so the watermark advances
    // per batch
    val types = IndexedSeq("view", "click", "purchase", "signup",
      "error", "t5", "t6")
    spark.range(n).map { id =>
      (id % 50000, new java.sql.Timestamp(1617171780000L + id * 2), id,
        types((id % 7).toInt), (id % 10000) / 10.0)
    }.toDF("user_id", "ts", "event_id", "event_type", "value")
      .repartitionByRange(files, org.apache.spark.sql.functions.col("ts"))
      .write.mode("overwrite").json(dir)
  }

  private val userEventSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def streamOf(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(dir)

  /** SUSTAINED-RATE mode — the reference's actual serving posture:
    * an always-on job consuming an unbounded source at a steady input
    * rate, where the health signal is not batch throughput but
    * whether processing KEEPS UP — watermark lag bounded, batch
    * duration under the trigger interval — over minutes, not one
    * drain. The built-in `rate` source feeds the full document
    * pipeline (features + quality floor + watermarked dedup state) at
    * `rowsPerSec` under a fixed `Trigger.ProcessingTime`; progress
    * events are accumulated by a listener (recentProgress caps at
    * ~100) and the steady-state window (first 20% dropped) reports
    * sustained rows/s, batch-duration percentiles, and watermark lag
    * (trigger wall-clock − watermark; bounded lag = keeping up, a
    * growing tail = falling behind). Usage:
    *   sbt "runMain graft.tools.StreamScale sustained [rowsPerSec] [seconds]"
    */
  private def sustained(spark: SparkSession, rate: Long, secs: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StreamingQueryListener,
      StreamingQueryProgress}
    val triggerMs = 5000L
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", rate.toString)
      .option("numPartitions", "8").load()
    val docs = src.as[(java.sql.Timestamp, Long)]
      .map { case (ts, id) => (id, textOf(id), ts) }
      .toDF("doc_id", "text", "event_time")
    val progress =
      scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    // a 10 s watermark delay (vs the pipeline's 10 min default) makes
    // the lag figure interpretable: steady lag ≈ delay + one trigger's
    // processing means the operator keeps up; a growing tail means it
    // is falling behind
    val wmDelayMs = 10000L
    val q = StreamingOps.docPipeline(docs,
        watermarkDelay = s"$wmDelayMs milliseconds")
      .writeStream.format("noop")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ssck").toString)
      .start()
    Thread.sleep(secs * 1000L)
    q.stop(); q.awaitTermination()
    spark.streams.removeListener(listener)
    val ps = progress.synchronized(progress.toVector)
      .filter(_.numInputRows > 0)
    val steady = ps.drop(ps.size / 5)
    require(steady.size >= 5, s"only ${steady.size} steady batches")
    def tMs(s: String): Long = java.time.Instant.parse(s).toEpochMilli
    val span = (tMs(steady.last.timestamp) - tMs(steady.head.timestamp) +
      steady.last.durationMs.get("triggerExecution")) / 1000.0
    val rows = steady.map(_.numInputRows).sum
    val durs = steady.map(_.durationMs.get("triggerExecution").toDouble)
    val lags = steady.flatMap(p => Option(p.eventTime.get("watermark"))
      .map(w => tMs(p.timestamp) - tMs(w)))
    println(s"""{"metric":"stream_sustained_rows_per_sec"""" +
      f""","value":${rows / span}%.0f,"unit":"rows/s"""" +
      s""","input_rate":$rate,"trigger_ms":$triggerMs""" +
      s""","watermark_delay_ms":$wmDelayMs""" +
      s""","duration_sec":$secs,"batches":${steady.size}""" +
      f""","batch_ms_p50":${percentile(durs, 0.5)}%.0f""" +
      f""","batch_ms_p95":${percentile(durs, 0.95)}%.0f""" +
      f""","batch_ms_max":${durs.max}%.0f""" +
      s""","watermark_lag_ms_max":${if (lags.isEmpty) -1 else lags.max}""" +
      s""","watermark_lag_ms_last":${lags.lastOption.getOrElse(-1L)}""" +
      s""","kept_up":${durs.max <= 2 * triggerMs}}""")
  }

  /** COMPOSED-CURATION mode (r20) — the end-to-end
    * [[graft.jobs.StreamCurationJob]] (doc pipeline → history Bloom
    * probe → per-source budget admission, parquet manifests + the
    * replay-safe budget state table) driven as ONE always-on job over
    * a file-backed 8-micro-batch stream, so the composed entry has a
    * measured throughput number and not just its spec. History = 10%
    * of the corpus (every id ≡ 3 mod 10), so the probe does real
    * dropping; the budget is sized to admit everything — admission
    * writes and state-table merges are paid on the full surviving
    * volume. Usage:
    *   sbt "runMain graft.tools.StreamScale curation [nDocs]"
    */
  private def curation(spark: SparkSession, nDocs: Long): Unit = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("scur").toString
    spark.range(nDocs).map { id =>
      (id, s"s${id % 4}", textOf(id),
        new java.sql.Timestamp(1617171780000L + id * 3))
    }.toDF("doc_id", "source", "text", "event_time")
      .repartitionByRange(8, col("event_time"))
      .write.mode("overwrite").parquet(s"$root/docs")
    spark.read.parquet(s"$root/docs")
      .filter(col("doc_id") % 10 === 3)
      .select(graft.engine.TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$root/hist")
    val stats = measureQuery(_ => graft.jobs.StreamCurationJob.run(spark,
      graft.jobs.JobConfig(inputDir = s"$root/docs",
        checkpointDir = s"$root/ckpt", stagingDir = s"$root/stg",
        sinkPath = s"$root/out", historyDir = s"$root/hist",
        budget = nDocs * 40L, availableNow = true,
        maxFilesPerTrigger = 1L)), nDocs)
    val admitted = spark.read.parquet(s"$root/out/batch=*").count()
    println(s"""{"metric":"stream_curation_rows_per_sec"""" +
      f""","value":${stats.rows / stats.wallSec}%.0f,"unit":"rows/s"""" +
      s""","docs":$nDocs,"admitted":$admitted""" +
      s""",${stats.json("curation_job")}}""")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("curation")) {
      val nDocs = args.lift(1).map(_.toLong).getOrElse(120000L)
      val spark0 = Tables.builder("graft-stream-curation")
        .getOrCreate()
      spark0.sparkContext.setLogLevel("ERROR")
      Tables.tune(spark0)
      curation(spark0, nDocs)
      spark0.stop()
      return
    }
    if (args.headOption.contains("sustained")) {
      val rate = args.lift(1).map(_.toLong).getOrElse(10000L)
      val secs = args.lift(2).map(_.toInt).getOrElse(150)
      val spark0 = Tables.builder("graft-stream-sustained")
        .getOrCreate()
      spark0.sparkContext.setLogLevel("ERROR")
      Tables.tune(spark0)
      sustained(spark0, rate, secs)
      spark0.stop()
      return
    }
    val nDocs = args.lift(0).map(_.toLong).getOrElse(120000L)
    val nEvents = args.lift(1).map(_.toLong).getOrElse(400000L)
    val nBatch = 8
    val spark = Tables.builder("graft-stream-scale").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.tune(spark)
    val rocks = args.lift(2).contains("rocksdb")
    if (rocks) spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val root = java.nio.file.Files.createTempDirectory("streamscale")
      .toString

    // 1) document-corpus pipeline: features + quality floor +
    //    watermark-bounded exact dedup (keyed state on fingerprint)
    writeDocs(spark, nDocs, nBatch, s"$root/docs")
    val docs = measure(
      StreamingOps.docPipeline(
        streamOf(spark, s"$root/docs", docSchema)), nDocs)

    // 2) trending terms: explode to ~30 tokens/doc, tumbling-window
    //    counts with eviction — input rows = docs, state = open
    //    windows × vocabulary
    val trending = measure(
      StreamingOps.trendingTerms(
        streamOf(spark, s"$root/docs", docSchema),
        windowDur = "1 minute", minCount = 100L), nDocs)

    // 3) stream–stream interval join: both sides watermarked, state
    //    evicted as the watermark advances
    writeEvents(spark, nEvents, nBatch, s"$root/imps", lagMs = 0L)
    writeEvents(spark, nEvents / 4, nBatch, s"$root/clicks", lagMs = 400L)
    val joined = measure(
      StreamingOps.impressionClickJoin(
        streamOf(spark, s"$root/imps", eventSchema),
        streamOf(spark, s"$root/clicks", eventSchema),
        window = "30 seconds"), nEvents + nEvents / 4)

    // 3b) hopping-window counts (width 1 min, slide 15 s): every
    //    event lands in width/slide = 4 open windows — the Expand
    //    row-multiplication and 4× open-window state the tumble
    //    twin never exercises (r14 shipped hop support spec-only;
    //    this is its measured datapoint)
    val hop = measure(
      StreamingOps.windowedCounts(
        streamOf(spark, s"$root/imps", eventSchema),
        windowDur = "1 minute", slide = Some("15 seconds")), nEvents)

    // 4) per-user transition maintenance: keyed last-event state
    //    (O(active users) = 50k), steps linked across micro-batches
    writeUserEvents(spark, nEvents, nBatch, s"$root/uev")
    val trans = measure(
      StreamingOps.transitionStream(
        streamOf(spark, s"$root/uev", userEventSchema)).toDF(), nEvents)

    // 4b) streaming SCD2 maintenance: same keyed-state shape as the
    //    transition stream plus the open-interval carry
    val scd2 = measure(
      StreamingOps.scd2Stream(
        streamOf(spark, s"$root/uev", userEventSchema)).toDF(), nEvents)

    // 4c) streaming attribution: keyed (touch, order-key) state,
    //    3 carried fields/user, conversion-sized output
    val attr = measure(
      StreamingOps.attributionStream(
        streamOf(spark, s"$root/uev", userEventSchema)).toDF(), nEvents)

    // 4d) histogram-MV maintenance: foreachBatch owns its write path
    //    (staged parquet swap + batch-id bookkeeping per trigger)
    val hist = measureQuery(_ =>
      StreamingOps.histSink(
        streamOf(spark, s"$root/uev", userEventSchema),
        s"$root/hstate", s"$root/hckpt"), nEvents)

    println("{\"metric\":\"stream_rows_per_sec\"," +
      s""""value":${(docs.rows / docs.wallSec).round},"unit":"rows/s",""" +
      s""""state_store":"${if (rocks) "rocksdb" else "default"}",""" +
      s""""pipelines":{${docs.json("doc_pipeline")},""" +
      s"""${trending.json("trending_terms")},""" +
      s"""${joined.json("interval_join")},""" +
      s"""${hop.json("hop_window")},""" +
      s"""${trans.json("transition_stream")},""" +
      s"""${scd2.json("scd2_stream")},""" +
      s"""${attr.json("attribution_stream")},""" +
      s"""${hist.json("hist_mv_sink")}}}""")
    spark.stop()
  }
}
