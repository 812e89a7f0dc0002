package graft.tools

import graft.engine.Scale
import org.apache.spark.sql.functions._

/** Dev evidence for the r17 quantile-balanced shard boundaries
  * ([[Scale.balancedShards]] — the qGiniConcentration fix): an A/B of
  * the global sharded prefix scan under PLANTED ZIPF values, uniform
  * value-domain bins vs histogram-derived cuts. Zipf is precisely the
  * distribution concentration queries exist to measure, and uniform
  * bins collapse on it: ~all rows land in bin 0 and the "parallel"
  * local window degenerates to one near-corpus-sized sort. The A/B
  * must show (1) per-shard populations within ~2× of n/16 under
  * balanced cuts where uniform bins park >90% in one shard, and
  * (2) the ranked OUTPUT identical row-for-row between the two shard
  * expressions — both are order-preserving, so the global rank is
  * invariant; only the parallelism moves (the [[SkewScale]] salted-
  * join contract). Generation is executor-side; ranks are
  * hash-permuted so the input is not pre-sorted. Usage:
  *   sbt "runMain graft.tools.BalanceScale [nRows]"  # default 20000000
  *
  * Measured (local[32], n = 20M Zipf, s = 1e12/rank): uniform bins
  * put 99.9999% of rows in shard 0 (max shard 19,999,985) and the
  * prefix scan runs 43.1 s; balancedShards holds every shard ≤ 1.20×
  * n/16 (max 1,501,806; boundary derivation 3.7 s) and the same scan
  * runs 7.1 s — **6.0×** — with all 20M global ranks IDENTICAL
  * (rankMismatches = 0). At 2M: 1.27× n/16 balance, 3.3× scan. */
object BalanceScale {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000000L
    val spark = graft.engine.Tables.builder("graft-balance-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    // Zipf spend: rank = a hash permutation of id (input unsorted),
    // s(rank) = 1e12 / rank — whale row 1e12, tail rows ~50k at 20M
    val df = spark.range(0L, n, 1L, cpus).as[Long]
      .mapPartitions(_.map { id =>
        val rank = java.lang.Long.remainderUnsigned(mix(id), n) + 1L
        (id, 1000000000000L / rank)
      }).toDF("id", "s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()

    val mx = df.agg(max(col("s"))).head().getLong(0)
    val uniform = expr(s"s div ${mx / 16 + 1}")
    val t0 = System.nanoTime()
    val balanced = Scale.balancedShards(df, col("s"), shards = 16)
    val cutSecs = (System.nanoTime() - t0) / 1e9

    def maxShard(sh: org.apache.spark.sql.Column): Long =
      df.groupBy(sh.as("__sh")).count().agg(max("count"))
        .head().getLong(0)
    val uMax = maxShard(uniform)
    val bMax = maxShard(balanced)

    def scan(sh: org.apache.spark.sql.Column, out: String): Double = {
      val t = System.nanoTime()
      Scale.shardedPrefixSum(df, sh, Seq(col("s"), col("id")),
          lit(1L), "i")
        .select(col("id"), col("i"))
        .write.mode("overwrite").parquet(out)
      (System.nanoTime() - t) / 1e9
    }
    val tmp = java.nio.file.Files
      .createTempDirectory("balance-scale").toString
    val uSecs = scan(uniform, s"$tmp/u")
    val bSecs = scan(balanced, s"$tmp/b")
    // order-preservation contract: the GLOBAL RANK is shard-invariant
    val mismatches = spark.read.parquet(s"$tmp/u").as("u")
      .join(spark.read.parquet(s"$tmp/b").as("b"), "id")
      .filter(col("u.i") =!= col("b.i")).count()

    val target = n / 16
    val ok = mismatches == 0 && bMax <= 2 * target &&
      uMax > (n * 0.9).toLong
    println(f"BalanceScale n=$n uniformMaxShard=$uMax " +
      f"(${100.0 * uMax / n}%.4f%%) balancedMaxShard=$bMax " +
      f"(${bMax.toDouble / target}%.2f x n/16, cuts $cutSecs%.1f s) " +
      f"scanUniform=$uSecs%.1f s scanBalanced=$bSecs%.1f s " +
      f"(${uSecs / bSecs}%.1f x) rankMismatches=$mismatches ok=$ok")
    if (!ok) sys.exit(1)
    spark.stop()
  }
}
