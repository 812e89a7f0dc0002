package graft.tools

import graft.engine.Scale
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev evidence for the r18 100 TB form of the per-group window cuts
  * (the mix/calibration family: `qTokenBudgetMix`, `qTemperatureMix`,
  * `qQualityCalibratedCut`): a planted MEGA-GROUP A/B of the two
  * corpus-sized shapes those queries replaced —
  *
  *  1. per-group running sum: flat
  *     `Window.partitionBy(group).orderBy(hx, id)` (the mega group is
  *     ONE window task — AQE cannot split a window partition) vs
  *     [[Scale.shardedPrefixSumBy]] on (group, first md5 hex char):
  *     16 parallel scans + a \|groups\|·16-row carry. Output must be
  *     row-identical (the shard key is order-preserving, so the
  *     decomposition is exact).
  *  2. per-group percentile cut: flat `percent_rank()` filter vs
  *     [[Scale.quantileCutKeep]]'s two-pass histogram threshold.
  *     KEPT SETS must be identical (the integer-threshold predicate
  *     equals the IEEE pct ≥ 0.2 comparison — Scale scaladoc).
  *
  * The planted distribution is the actual 100 TB risk: one source
  * holding 95% of the corpus (a Common-Crawl-sized slice next to
  * boutique sources). Generation is executor-side and hash-permuted.
  * Usage: sbt "runMain graft.tools.MixScale [nRows]"  # default 20M
  *
  * Measured (local[32], n = 20M, mega source = 95%): flat window
  * running sum 69.9 s vs sharded 9.7 s — **7.2×**, rows identical
  * (0 cum mismatches); flat percent_rank cut 51.6 s vs histogram cut
  * 8.3 s — **6.2×**, kept sets identical (15,999,985 rows kept by
  * both, 0 asymmetric). The window forms also sort the mega slice on
  * ONE core — their gap widens with corpus size while the sharded
  * forms stay flat per added executor (16-way here; production
  * widens the shard fan with more hex chars).
  */
object MixScale {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000000L
    val spark = graft.engine.Tables.builder("graft-mix-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    // planted skew: source "mega" holds 95%, nine boutiques share 5%
    val base = spark.range(0L, n, 1L, cpus).as[Long]
      .mapPartitions(_.map { id =>
        val h = mix(id)
        val src = if (java.lang.Long.remainderUnsigned(h, 100L) < 95L)
          "mega" else "src" + java.lang.Long.remainderUnsigned(h >>> 8, 9L)
        val ntk = java.lang.Long.remainderUnsigned(mix(h), 1000L)
        val q = java.lang.Long.remainderUnsigned(mix(h + 1), 1000000L) / 1e6
        (id, src, ntk, q)
      }).toDF("id", "source", "ntk", "q")
      .withColumn("hx", md5(col("id").cast("string")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    val tmp = java.nio.file.Files.createTempDirectory("mix-scale").toString

    def timed[A](f: => A): (A, Double) = {
      val t = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t) / 1e9)
    }

    // ---- A/B 1: per-group running sum --------------------------------
    val wFlat = Window.partitionBy(col("source"))
      .orderBy(col("hx"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (_, tFlat) = timed {
      base.withColumn("cum", sum(col("ntk")).over(wFlat))
        .select(col("id"), col("cum"))
        .write.mode("overwrite").parquet(s"$tmp/flat")
    }
    val (_, tShard) = timed {
      Scale.shardedPrefixSumBy(base, Seq("source"),
          substring(col("hx"), 1, 1), Seq(col("hx"), col("id")),
          col("ntk"), "cum")
        .select(col("id"), col("cum"))
        .write.mode("overwrite").parquet(s"$tmp/shard")
    }
    val cumMismatch = spark.read.parquet(s"$tmp/flat").as("a")
      .join(spark.read.parquet(s"$tmp/shard").as("b"), "id")
      .filter(col("a.cum") =!= col("b.cum")).count()

    // ---- A/B 2: per-group percentile cut ------------------------------
    val wPct = Window.partitionBy(col("source")).orderBy(col("q"))
    val (_, tPct) = timed {
      base.withColumn("pct", percent_rank().over(wPct))
        .filter(col("pct") >= 0.2)
        .select(col("id"))
        .write.mode("overwrite").parquet(s"$tmp/pct")
    }
    val (_, tCut) = timed {
      Scale.quantileCutKeep(base, "source", "q", cutNum = 1, cutDen = 5)
        .select(col("id"))
        .write.mode("overwrite").parquet(s"$tmp/cut")
    }
    val pctKeep = spark.read.parquet(s"$tmp/pct")
    val cutKeep = spark.read.parquet(s"$tmp/cut")
    val nPct = pctKeep.count()
    val nCut = cutKeep.count()
    val asym = pctKeep.join(cutKeep, Seq("id"), "left_anti").count() +
      cutKeep.join(pctKeep, Seq("id"), "left_anti").count()

    val ok = cumMismatch == 0 && asym == 0 && nPct == nCut
    println(f"MixScale n=$n flatWindowSum=$tFlat%.1f s " +
      f"shardedPrefixSumBy=$tShard%.1f s (${tFlat / tShard}%.1f x) " +
      f"cumMismatches=$cumMismatch pctCut=$tPct%.1f s " +
      f"histogramCut=$tCut%.1f s (${tPct / tCut}%.1f x) " +
      f"kept=$nPct/$nCut asymmetric=$asym ok=$ok")
    if (!ok) sys.exit(1)
    spark.stop()
  }
}
