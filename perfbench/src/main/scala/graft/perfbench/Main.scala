package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one measurement of a workload produced. `e2e` holds the
  * end-to-end metrics, `readings` the workload-specific readings printed
  * beside them, `layers` the per-layer metrics (traced measurement
  * only), `failures` one line per failed correctness check. */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], readings: Map[String, Double],
    layers: Map[String, Double], failures: Seq[String],
    extra: Map[String, Any] = Map.empty)

/** A benchmark workload. `inputs` builds the seeded inputs (timed
  * apart from set-up); `setup` is the per-session work and `warmup`
  * the untimed warm-up, both counted in `setup_s`; `measure` runs the
  * timed loop for `seconds`. */
trait Workload {
  def name: String
  def hive: Boolean = false
  def inputs(spark: SparkSession): Unit
  def setup(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double, tracer: Tracer): Outcome
}

/** Entry point: one JVM runs one workload at `local[4]`.
  *
  *   Main --workload <queries|ingest|stream_curation|curation>
  *        --seed N --seconds S --trace 0|1 --data <fixture dir>
  *        --work <work dir> --out <result json> [--launched-ms T]
  *
  * `setup_s` runs from process start (`--launched-ms`, the epoch ms at
  * which run.py started the JVM; else the JVM's own start time) to
  * session ready, plus the workload's set-up and warm-up; the input
  * generation in between is excluded. With `--trace 1` the workload is
  * measured once untraced and once with the benchmark's listeners
  * attached; the per-layer metrics come from the traced measurement
  * and `trace.overhead_frac` compares the two.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val wName = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val data = opts("--data")
    val work = opts("--work")
    val out = new java.io.File(opts("--out"))
    val launchedMs = opts.get("--launched-ms").map(_.toLong)
      .getOrElse(Harness.jvmStartMs)
    val runId = s"$wName-s$seed-${java.util.UUID.randomUUID().toString.take(8)}"
    def log(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - Harness.jvmStartMs) / 1e3}%.2f s")

    val w: Workload = wName match {
      case "queries" => new QueriesWorkload(data, work, seed)
      case "ingest" => new IngestWorkload(work, seed)
      case "stream_curation" => new StreamCurationWorkload(data, work, seed)
      case "curation" => new CurationWorkload(data, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loadBefore = Harness.loadAvg1()
    val spark = Harness.session(wName, w.hive)
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    val tIn = Harness.now()
    w.inputs(spark)
    val inputsS = Harness.msSince(tIn) / 1e3
    val tSet = Harness.now()
    w.setup(spark)
    val tWarm = Harness.now()
    w.warmup(spark)
    val warmupS = Harness.msSince(tWarm) / 1e3
    val setupS = sessionS + Harness.msSince(tSet) / 1e3
    // after the set-up, so its own loop and JIT stay out of setup_s
    val calibBefore = Harness.hostCalibMs()
    log("set-up done")
    val untraced = new Tracer(runId, enabled = false)
    val o = w.measure(spark, seconds, untraced)
    val (traced, tracer) =
      if (!trace) (None, untraced)
      else {
        val t = new Tracer(runId, enabled = true)
        t.attach(spark)
        val r = w.measure(spark, seconds, t)
        t.settle()
        t.detach()
        (Some(r), t)
      }
    val loadAfter = Harness.loadAvg1()
    val calibAfter = Harness.hostCalibMs()
    log("measured")

    val e2e = o.e2e ++ Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Harness.peakRssMb())
    val layerOut = traced.fold(Map.empty[String, Double])(t => t.layers ++ Map(
      "trace.overhead_frac" -> (t.e2e("wall_s") / o.e2e("wall_s") - 1.0),
      "setup.session_s" -> sessionS, "setup.warmup_s" -> warmupS))
    val stamp = Map(
      "workload" -> wName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "run_id" -> runId,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load1_before" -> loadBefore, "load1_after" -> loadAfter,
      "host_calib_ms_before" -> calibBefore, "host_calib_ms_after" -> calibAfter,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "setup_s" -> setupS, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "inputs_s" -> inputsS)
    if (trace) tracer.write(new java.io.File(out.getParentFile,
      s"trace-$runId.json"))
    // a traced run answers for both of its measurements
    val all = o +: traced.toSeq
    val result = Map(
      "attempted" -> all.map(_.attempted).sum, "failed" -> all.map(_.failed).sum,
      "failures" -> all.flatMap(_.failures),
      "end_to_end" -> e2e, "readings" -> o.readings, "per_layer" -> layerOut,
      "stamp" -> stamp, "extra" -> o.extra)
    java.nio.file.Files.writeString(out.toPath, Json(result))
    spark.stop()
    log("stopped")
    // exit now: library threads (metastore, compaction worker) must not
    // keep the JVM alive past the result
    System.exit(0)
  }
}
