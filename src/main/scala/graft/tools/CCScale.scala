package graft.tools

import graft.engine.Dedup

/** Dev evidence for the O(log n) connected-components claim: builds a
  * CHAIN of n vertices with shuffled ids — the worst case for
  * min-label propagation, which needs ~n rounds (one per hop of
  * component diameter) — and reports how many alternating
  * large-star/small-star rounds [[Dedup.connectedComponents]] actually
  * takes, plus label correctness. Usage:
  *   sbt "runMain graft.tools.CCScale [n]"   # default 100000
  */
object CCScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 100000
    val spark = graft.engine.Tables.builder("graft-cc-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    val rnd = new scala.util.Random(11L)
    val ids = rnd.shuffle((0L until n.toLong).toVector)
    val edges = spark.sparkContext
      .parallelize(ids.sliding(2).map(s => (s(0), s(1))).toSeq, cpus)
      .toDF("ida", "idb")
    val t0 = System.nanoTime()
    val (labels, rounds) = Dedup.connectedComponents(edges)
    val correct = labels.filter($"label" === ids.min).count()
    val secs = (System.nanoTime() - t0) / 1e9
    val bound = 2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 2
    println(f"CCScale chain n=$n rounds=$rounds (bound=$bound, " +
      f"diameter=$n) correct=$correct/$n secs=$secs%.1f")
    spark.stop()
  }
}
