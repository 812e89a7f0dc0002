package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // (the driver always passes two; the filter is a dev-loop aid)
    val sfDir = args(0); val outDir = args(1)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(',').toSet)
    val spark = graft.engine.Tables.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: run each dump on a daemon thread with a hard
    // time budget, so ONE pathological query (the r15 find: a plan-time
    // optimizer hang, which `catch Throwable` cannot catch because it
    // never terminates) logs loudly and the rest of the round's
    // correctness artifact still gets written.
    val budgetMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_BUDGET_MS", "600000").toLong
    // Per-query outcome ledger for the final stdout summary line —
    // the compare harness builds the real verdicts from the dumps,
    // but a bounded machine-readable dump status gives any stdout
    // scraper a stable small target (the r19 lesson: artifact
    // captures hold ~2 KB, so the summary must stay fixed-size).
    val okQ = scala.collection.mutable.ArrayBuffer.empty[String]
    val failQ = scala.collection.mutable.ArrayBuffer.empty[String]
    val timeoutQ = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      @volatile var failed = false
      val t = new Thread(() => {
        // job group = the query name, so a timeout can actually CANCEL
        // running Spark jobs instead of relying on interrupt alone
        spark.sparkContext.setJobGroup(s"verify-$name",
          s"Verify dump: $name", interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }, s"verify-$name")
      t.setDaemon(true)
      t.start()
      t.join(budgetMs)
      if (t.isAlive) {
        System.err.println(
          s"[verify] $name TIMED OUT after ${budgetMs}ms — skipping (no dump)")
        // cancels EXECUTING jobs (tasks are interrupted and their
        // resources released); the interrupt below is only a nudge for
        // driver-side work. Known leak, accepted for a parachute: a
        // CATALYST PLANNING spin never polls the interrupt flag, so a
        // plan-time hang keeps burning one core on the daemon thread
        // for the rest of the run — the watchdog's job is to save the
        // round's artifact, not that core.
        spark.sparkContext.cancelJobGroup(s"verify-$name")
        t.interrupt()
        timeoutQ += name
      } else if (failed) failQ += name else okQ += name
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Bounded machine-readable summary (the SAME capture-window
    // contract as Bench's stdout line): counts first, name lists
    // truncated to 10 so a mass failure cannot outgrow a ~2 KB
    // capture. "dump ok" means the parquet landed — the row/schema/
    // hash verdicts belong to the downstream DuckDB compare.
    def names(b: scala.collection.mutable.ArrayBuffer[String]): String =
      b.take(10).map(q).mkString("[", ",", "]")
    println(s"""{"verify":"dump","total":${okQ.size + failQ.size +
      timeoutQ.size},"ok":${okQ.size},"n_failed":${failQ.size},""" +
      s""""n_timeout":${timeoutQ.size},"failed":${names(failQ)},""" +
      s""""timeout":${names(timeoutQ)},"out_dir":${q(outDir)}}""")
    spark.stop()
  }
}
