package graft

/** Dev utility: time one (or all headline) queries repeatedly and dump
  * the formatted physical plan, for plan-shape iteration outside the
  * full Bench run. Usage:
  *   sbt "runMain graft.Profile <sfDir> [queryName] [reps]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val which = if (args.length > 1) Some(args(1)) else None
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.engine.Tables.builder("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = which.map(Seq(_)).getOrElse(Bench.headline)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // Same methodology as Bench so the two artifacts are directly
      // comparable: two UNTIMED warmup reps (the parquet decode path
      // needs more than one execution before C2 finishes compiling
      // the hot loops — a single warmup leaves the first timed reps
      // descending), then clearCache before every timed rep so
      // queries sharing a cached working set (minhash signatures)
      // each recompute it; as in Bench, the value memos carry over
      // from warm-up. Median is the headline
      // (contention-robust); min and the raw samples are printed
      // alongside.
      val times = (-1 to reps).map { _ =>
        spark.sqlContext.clearCache()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.drop(2)
      val med = Bench.median(times)
      println(f"$n%-22s med=$med%8.3f min=${times.min}%8.3f  " +
        f"all=${times.map(t => f"$t%.2f").mkString(",")}")
      if (which.isDefined) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
