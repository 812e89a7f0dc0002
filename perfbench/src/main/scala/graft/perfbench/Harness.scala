package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the workloads: the session every run
  * measures, memo resets, statistics, host readings and a minimal
  * JSON writer (the harness adds no dependencies of its own). */
object Harness {

  /** `local[4]` with 4 shuffle partitions, built through the engine's
    * own job session builder (`SPARK_GRAFT_CPUS=4` is set by run.py),
    * so a change to the engine's session confs is measured here too.
    * The JVM runs with its working directory in the run's own work
    * directory, so the derby metastore, warehouse and local dirs stay
    * inside the checkout. */
  def session(workload: String, hive: Boolean): SparkSession = {
    val s = graft.jobs.Jobs.session(s"perfbench-$workload", hive)
    s.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** Cold-memo reset before every timed sample: the cached-frame
    * registry plus every engine memo that has a reset hook. Scale's
    * two cut memos have no hook and stay warm (recorded in
    * perfbench/METRICS.md). */
  def clearMemos(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    graft.engine.Tables.clearMemos(spark)
    graft.engine.Dedup.clearMemos(spark)
    graft.engine.Similarity.clearMemos(spark)
  }

  def now(): Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** JVM start as wall-clock millis (the `setup_s` clock origin). */
  def jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (numpy's default method). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = (s.length - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.length)

  def loadAvg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Milliseconds one thread takes for a fixed integer loop: the host's
    * speed at that moment. Shared hosts were seen to swing 2× within
    * minutes, which no load average inside the machine shows. */
  def hostCalibMs(): Double = {
    var best = Double.MaxValue
    for (_ <- 1 to 3) { // the first round includes compiling the loop
      val t0 = now()
      var x = 1L
      var i = 0
      while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) System.err.println(x) // keeps the loop live
      best = math.min(best, msSince(t0))
    }
    best
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Bytes in the regular files under a directory. */
  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(dirBytes).sum

  /** Write `body` to `path` atomically (temp file, then rename), so a
    * watching reader never sees a partial file. */
  def dropAtomically(tmpDir: java.io.File, path: java.io.File,
      body: String): Unit = {
    val tmp = new java.io.File(tmpDir, path.getName)
    java.nio.file.Files.writeString(tmp.toPath, body)
    java.nio.file.Files.move(tmp.toPath, path.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

/** A minimal JSON encoder for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
