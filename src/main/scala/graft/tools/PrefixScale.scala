package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev evidence for the sharded two-level prefix scan (the running-
  * sum/max pattern behind `Relational.qSkyline`,
  * `Relational.qIntervalSweep` and `TextOps.qSamplePps`): a 10M-row
  * ordered ledger (key = a strictly increasing long, integer deltas)
  * summed two ways —
  *
  *  (a) FLAT: one `Window.orderBy(key)` over everything — Spark
  *      plans a single-partition sort: every row through ONE task;
  *  (b) SHARDED: order-preserving shards (key div span) compute
  *      local running sums in parallel; a \|shards\|-row carry
  *      window (the bounded global window) broadcasts back.
  *
  * Both outputs are asserted ROW-IDENTICAL via a full except() diff
  * (outside the timed section); the tool prints both walls. Usage:
  *   sbt "runMain graft.tools.PrefixScale [nRows]"   # default 2M;
  * the recorded evidence runs used 10M and 40M.
  */
object PrefixScale {

  private def sharded(df: DataFrame, span: Long): DataFrame =
    graft.engine.Scale.shardedPrefixSum(df, expr(s"k div $span"),
        Seq(col("k")), col("delta"), "cum")
      .select(col("k"), col("cum"))

  private def flat(df: DataFrame): DataFrame =
    df.select(col("k"), sum(col("delta")).over(
      Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, 0)).as("cum"))

  def main(args: Array[String]): Unit = {
    val nRows = if (args.nonEmpty) args(0).toLong else 2000000L
    val spark = graft.engine.Tables.builder("graft-prefix-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deltas in [-4, 5), deterministic per key
    val ledger = spark.range(nRows)
      .select(col("id").as("k"), (pmod(col("id") * 2654435761L, lit(10)) - 4)
        .cast("long").as("delta"))
      .cache()
    ledger.count()
    val span = math.max(1L, nRows / (16 * 16)) // 256 order-preserving shards

    def time(f: => DataFrame): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val out = f
      val agg = out.agg(count(lit(1)), sum(col("cum"))).as[(Long, Long)].head()
      ((System.nanoTime() - t0) / 1e9, agg._1, agg._2)
    }
    val (wS, nS, sS) = time(sharded(ledger, span))
    val (wF, nF, sF) = time(flat(ledger))
    // FULL row identity (not a checksum, which offsetting per-row
    // errors could satisfy): symmetric except() must be empty
    val diff = sharded(ledger, span).except(flat(ledger)).count() +
      flat(ledger).except(sharded(ledger, span)).count()
    println(f"rows=$nRows sharded=$wS%.1f s flat=$wF%.1f s " +
      f"speedup=${wF / wS}%.1f x diff_rows=$diff")
    assert(nS == nF && sS == sF && diff == 0,
      s"mismatch: ($nS,$sS) vs ($nF,$sF), diff=$diff")
    spark.stop()
  }
}
