package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev evidence for the priority-sampler's top-(k+1) plan
  * (`TextOps.qPrioritySample`): a corpus-sized scored frame cut to
  * k+1 rows two ways —
  *
  *  (a) TAKE-ORDERED (the shipped plan): `orderBy(prio).limit(k+1)`
  *      — Spark plans TakeOrderedAndProject: every partition keeps a
  *      k+1 heap, the driver merges; NOTHING corpus-sized shuffles;
  *  (b) WINDOW-RANK (the naive formulation): a global
  *      `row_number() OVER (ORDER BY prio)` ≤ k+1 — Catalyst's
  *      WindowGroupLimit RESCUES this (a per-partition top-(k+1)
  *      heap runs before the single-partition window), so it stays
  *      competitive as long as the rescue applies;
  *  (c) WINDOW-RANK, rescue disabled
  *      (`spark.sql.optimizer.windowGroupLimitThreshold = -1`, standing in
  *      for the formulations the rule does NOT cover — a rank
  *      expression the rule can't match, or a filter separated from
  *      the window): one task sorts the entire corpus — the
  *      single-partition WindowExec trap.
  *
  * Both outputs are asserted ROW-IDENTICAL via a full except() diff
  * (outside the timed section); the tool prints both walls at each
  * requested size. Usage:
  *   sbt "runMain graft.tools.SampleScale [nRows]"   # default 2M;
  * the recorded evidence runs used 10M and 40M.
  */
object SampleScale {

  private val k = graft.engine.TextOps.prioritySampleK

  private def takeOrdered(df: DataFrame): DataFrame =
    df.orderBy(col("prio").desc, col("doc_id")).limit(k + 1)

  private def windowRank(df: DataFrame): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.orderBy(col("prio").desc, col("doc_id"))))
      .filter(col("rn") <= k + 1)
      .drop("rn")

  def main(args: Array[String]): Unit = {
    val nRows = if (args.nonEmpty) args(0).toLong else 2000000L
    val spark = graft.engine.Tables.builder("graft-sample-scale").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // deterministic synthetic scores in the sampler's own shape:
    // w ∈ [1, 2000], u32 from a multiplicative hash — same integer
    // `div` priority as the production column
    val scored = spark.range(nRows)
      .select(col("id").as("doc_id"),
        (pmod(col("id") * 2654435761L, lit(2000)) + 1).as("n_tok"),
        (pmod(pmod(col("id") * 2654435761L, lit(4294967296L))
          * 387420489L + 1013904223L, lit(4294967296L)) + 1)
          .as("u32"))
      .withColumn("prio", expr("(n_tok * 4294967296) div u32"))
      .select(col("doc_id"), col("n_tok"), col("prio"))
      .cache()
    scored.count()

    def time(f: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val out = f
      val n = out.agg(count(lit(1))).as[Long].head()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    val glKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    def noRescue[A](f: => A): A = {
      val prev = spark.conf.get(glKey)
      spark.conf.set(glKey, "-1")
      try f finally spark.conf.set(glKey, prev)
    }
    // interleaved reps, median — the first pass pays codegen/JIT
    val reps = (1 to 3).map { _ =>
      (time(takeOrdered(scored)), time(windowRank(scored)),
        noRescue(time(windowRank(scored))))
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val tTake = med(reps.map(_._1._1)); val nTake = reps.last._1._2
    val tWin = med(reps.map(_._2._1)); val nWin = reps.last._2._2
    val tNaive = med(reps.map(_._3._1))
    assert(nTake == nWin && nTake == k + 1)
    assert(reps.last._3._2 == k + 1)
    // row-identical (untimed): the plans must agree exactly
    val diff = takeOrdered(scored).exceptAll(windowRank(scored)).count() +
      windowRank(scored).exceptAll(takeOrdered(scored)).count()
    assert(diff == 0, s"plans disagree: $diff rows")
    val plan = takeOrdered(scored).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    println(f"rows=$nRows%d  takeOrdered=$tTake%.2fs" +
      f"  windowRank(rescued)=$tWin%.2fs" +
      f"  windowRank(noRescue)=$tNaive%.2fs" +
      f"  trapCost=${tNaive / tTake}%.1fx")
    spark.stop()
  }
}
