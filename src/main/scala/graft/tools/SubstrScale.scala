package graft.tools

import graft.engine.TextOps
import org.apache.spark.sql.functions._

/** Dev evidence for the substring-dedup scale shape: synthesizes a
  * corpus far beyond the SF fixtures — `nDocs` documents of 100
  * tokens each, where 20% of documents embed one of 500 hot 60-token
  * runs at a doc-dependent OFFSET (the arbitrary-alignment case
  * passage dedup cannot catch: a 60-token run is 11 overlapping
  * 50-token windows whose span union is exactly the run) and the
  * rest are globally unique. Expected removal is closed-form from
  * the same hash: each hot run's first carrier in doc order keeps
  * it; every later carrier loses exactly the 60 embedded tokens
  * (offsets differ, so no fixed-chunk scheme would align them).
  * Generation happens executor-side (mapPartitions over a range) —
  * the driver never holds the corpus. Usage:
  *   sbt "runMain graft.tools.SubstrScale [nDocs]"   # default 100000
  *
  * Measured (local[32]): nDocs=1,000,000 → 100,000,000 corpus tokens
  * (~51M hashed windows), removed 11,994,000 == closed form,
  * 61.0 s end-to-end (window pass + one hash shuffle + reassembly).
  * nDocs=200,000 → 20M tokens, 9.9 s. */
object SubstrScale {
  private val hotPool = 500
  private val runLen = 60
  private val docLen = 100

  private def isCarrier(d: Long): Boolean = d % 5 == 0 // 20%
  private def hotId(d: Long): Int = ((d * 131) % hotPool).toInt
  private def offset(d: Long): Int = ((d * 17) % (docLen - runLen)).toInt

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 100000
    val spark = graft.engine.Tables.builder("graft-substr-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    val docs = spark.range(0L, nDocs.toLong, 1L, cpus)
      .as[Long].mapPartitions { it =>
        it.map { d =>
          val sb = new StringBuilder
          val (hot, off) =
            if (isCarrier(d)) (hotId(d), offset(d)) else (-1, -1)
          var j = 0
          while (j < docLen) {
            if (hot >= 0 && j >= off && j < off + runLen)
              sb.append(s"hot${hot}t${j - off} ")
            else sb.append(s"d${d}u$j ")
            j += 1
          }
          (d, sb.result().trim)
        }
      }.toDF("doc_id", "text")

    val t0 = System.nanoTime()
    val agg = TextOps.substringDedup(docs)
      .agg(sum(col("n_tokens")).as("tok"), sum(col("n_removed")).as("rm"))
      .collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9

    // closed form: each hot id's first carrier keeps its run; later
    // carriers lose exactly runLen tokens (the run's windows all
    // include unique-neighbor context beyond the run, so no window
    // outside it ever duplicates)
    val firstCarrier = scala.collection.mutable.HashSet.empty[Int]
    var dupCarriers = 0L
    var d = 0L
    while (d < nDocs) {
      if (isCarrier(d) && !firstCarrier.add(hotId(d))) dupCarriers += 1
      d += 1
    }
    val expTok = nDocs.toLong * docLen
    val expRm = dupCarriers * runLen
    val ok = agg.getLong(0) == expTok && agg.getLong(1) == expRm
    println(f"SubstrScale nDocs=$nDocs tokens=${agg.getLong(0)} " +
      f"removed=${agg.getLong(1)} expected=($expTok, $expRm) " +
      f"exact=$ok secs=$secs%.1f")
    if (!ok) sys.exit(1)
    spark.stop()
  }
}
