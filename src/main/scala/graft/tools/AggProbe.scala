package graft.tools

import org.apache.spark.sql.functions._

/** Dev utility: isolate WHERE the per-task fixed cost of a tiny ANN
  * stage goes, by timing minimal single-stage jobs at the session's
  * thread count. Shapes, each over the same 2000-row × `parts`
  * in-memory input:
  *   builtin   — groupBy(key).agg(max)        (codegen hash agg)
  *   udaf      — groupBy(key).agg(TopKAgg)    (ObjectHashAggregate)
  *   mapparts  — mapPartitions identity count (bare task launch)
  *   dotexpr   — projection through the codegen DotProduct over a
  *               64-dim array column (expression setup cost)
  * Usage: sbt "runMain graft.tools.AggProbe [parts] [reps]"
  */
object AggProbe {
  def main(args: Array[String]): Unit = {
    val parts = if (args.length > 0) args(0).toInt else 8
    val reps = if (args.length > 1) args(1).toInt else 7
    val spark = graft.engine.Tables.builder("graft-agg-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.range(0, 2000, 1, parts)
      .select(col("id"), (col("id") % 50).as("k"),
        (col("id") % 97).cast("double").as("score"))
    val vecs = spark.range(0, 2000, 1, parts)
      .select(col("id"),
        array((0 until 64).map(i => (col("id") + i).cast("double")): _*)
          .as("v"))
    val topk = udaf(new graft.functions.TopKAgg(3, distinct = true))

    def time(label: String)(f: => Unit): Unit = {
      f // warmup
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-10s med=${graft.Bench.median(ts)}%7.3f s  " +
        ts.map(t => f"$t%.3f").mkString(","))
    }

    time("mapparts") {
      base.as[(Long, Long, Double)].mapPartitions(it => it).write
        .format("noop").mode("overwrite").save()
    }
    time("builtin") {
      base.groupBy("k").agg(max("score")).write
        .format("noop").mode("overwrite").save()
    }
    time("udaf") {
      base.groupBy("k").agg(topk(col("score"), col("id"))).write
        .format("noop").mode("overwrite").save()
    }
    time("dotexpr") {
      vecs.select(graft.engine.Similarity.dot(col("v"), col("v"))
        .as("d")).write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
