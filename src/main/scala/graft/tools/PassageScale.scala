package graft.tools

import graft.engine.TextOps
import org.apache.spark.sql.functions._

/** Dev evidence for the passage-dedup scale shape: synthesizes a
  * corpus far beyond the SF fixtures — `nDocs` documents × 10
  * passages of 10 tokens, where 30% of passage slots draw from a
  * 1000-passage hot pool (the skewed "template drift" pattern the
  * operator exists for; each hot key carries ~`nDocs`×3/1000 instances
  * through the keep-first window) and the rest are globally unique.
  * The expected survivor count is computable in closed form from the
  * same slot hash, so the run is exact-checked, not eyeballed.
  * Generation happens executor-side (mapPartitions over a range) —
  * the driver never holds the corpus. Usage:
  *   sbt "runMain graft.tools.PassageScale [nDocs]"   # default 200000
  *
  * Measured (local[32]): nDocs=1,000,000 → 10,000,000 passage
  * instances (hot keys ~3,000 instances each), survivors
  * 7,001,000 == closed form, 15.4 s end-to-end. */
object PassageScale {
  private val hotPool = 1000
  private val hotOf10 = 3 // 3 of 10 slots hot → 30% duplication

  private def isHot(d: Long, i: Int): Boolean = ((d * 31 + i) % 10) < hotOf10
  private def hotId(d: Long, i: Int): Long = (d * 131 + i * 7) % hotPool

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 200000
    val spark = graft.engine.Tables.builder("graft-passage-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    val docs = spark.range(0L, nDocs.toLong, 1L, cpus)
      .as[Long].mapPartitions { it =>
        it.map { d =>
          val sb = new StringBuilder
          var i = 0
          while (i < 10) {
            if (isHot(d, i)) {
              val h = hotId(d, i)
              var j = 0
              while (j < 10) { sb.append(s"hot${h}t$j "); j += 1 }
            } else {
              var j = 0
              while (j < 10) { sb.append(s"d${d}p${i}t$j "); j += 1 }
            }
            i += 1
          }
          (d, sb.result().trim)
        }
      }.toDF("doc_id", "text")

    val t0 = System.nanoTime()
    val agg = TextOps.passageDedup(docs)
      .agg(sum(col("n_passages")).as("inst"), sum(col("n_kept")).as("kept"))
      .collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9

    // closed-form expectation from the same slot hash
    var uniqueSlots = 0L
    val hotSeen = scala.collection.mutable.BitSet.empty
    var d = 0L
    while (d < nDocs) {
      var i = 0
      while (i < 10) {
        if (isHot(d, i)) hotSeen += hotId(d, i).toInt else uniqueSlots += 1
        i += 1
      }
      d += 1
    }
    val expInst = nDocs.toLong * 10
    val expKept = uniqueSlots + hotSeen.size
    val ok = agg.getLong(0) == expInst && agg.getLong(1) == expKept
    println(f"PassageScale nDocs=$nDocs instances=${agg.getLong(0)} " +
      f"kept=${agg.getLong(1)} expected=($expInst, $expKept) " +
      f"exact=$ok secs=$secs%.1f")
    if (!ok) sys.exit(1)
    spark.stop()
  }
}
