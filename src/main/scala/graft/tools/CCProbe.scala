package graft.tools

import graft.engine.Dedup
import org.apache.spark.sql.functions._

/** Scratch probe: where does `q_dedup_clusters_dist` spend its time —
  * pair detection, or the star-contraction loop — and how many
  * alternating rounds does the REAL sf graph take? Not part of the
  * driver contract. Usage:
  *   sbt "runMain graft.tools.CCProbe [sfDir] [reps]"
  */
object CCProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.engine.Tables.builder("graft-cc-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"  $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    (1 to reps).foreach { rep =>
      println(s"rep $rep")
      val pairs = time("minhash pairs (count)") {
        val p = Dedup.minhashPairs(spark, dir)
          .select(col("ida"), col("idb"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = p.count()
        println(s"    edges: $n")
        p
      }
      val (labels, rounds) = time("star contraction") {
        Dedup.connectedComponents(pairs)
      }
      time("label consume (count)") { labels.count() }
      println(s"    rounds: $rounds")
      pairs.unpersist()
    }
    spark.stop()
  }
}
