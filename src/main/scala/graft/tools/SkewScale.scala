package graft.tools

import graft.engine.Scale
import org.apache.spark.sql.functions._

/** Dev evidence for [[Scale.saltedJoin]] beyond the fixture's uniform
  * keys: a planted power-of-ten hot key — HALF the fact table on ONE
  * join key — in the regime where salting is the only lever:
  *  - the dim side is too big to broadcast (threshold forced to -1
  *    here; at 100 TB the dim genuinely exceeds driver memory), and
  *  - AQE's skew-join splitting is off (OptimizeSkewedJoin rewrites
  *    sort-merge joins when statistics arrive; a hot key inside a
  *    non-AQE stage, or a downstream agg pinned to the join
  *    partitioning, sees no help).
  * Unsalted, the hot key's entire probe side lands in one reducer —
  * one straggler task bounds the stage; salted over 8 buckets the
  * same rows spread across 8 reducers at the cost of an 8× dim
  * replication. The tool times both plans over identical data,
  * asserts bit-equal aggregates, and prints the wall-clock ratio.
  * Usage:
  *   sbt "runMain graft.tools.SkewScale [nFact]"   # default 8000000
  */
object SkewScale {

  def main(args: Array[String]): Unit = {
    val nFact = if (args.nonEmpty) args(0).toLong else 8000000L
    val nDim = 100000L
    val spark = graft.engine.Tables.builder("graft-skew-scale")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism

    // half the fact rows hit key 0; the rest spread uniformly
    val fact = spark.range(nFact).select(
      when(pmod(col("id"), lit(2)) === 0, 0L)
        .otherwise(pmod(col("id"), lit(nDim))).as("k"),
      col("id").as("payload"))
    val dim = spark.range(nDim).select(col("id").as("k"),
      (col("id") * 7).as("dimv"))

    // `heavy` models the real 100 TB regime: the joined row feeds
    // NON-TRIVIAL downstream work (scoring, parsing, hashing), so the
    // reduce stage — the one the straggler bounds — dominates the
    // balanced map-side shuffle write; `light` is the floor where the
    // map stage masks most of the win even at 50% skew.
    val heavy = args.length > 1 && args(1) == "heavy"
    def agg(df: org.apache.spark.sql.DataFrame): Array[Long] = {
      val work =
        if (heavy)
          conv(substring(md5(concat_ws("|", col("payload"), col("dimv"))),
            1, 8), 16, 10).cast("long")
        else col("payload") + col("dimv")
      val r = df.agg(count(lit(1)), sum(work)).head()
      Array(r.getLong(0), r.getLong(1))
    }
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = f
      (v, (System.nanoTime() - t0) / 1e9)
    }

    // warm both paths once (parquet-free, so this is pure join cost)
    agg(fact.join(dim, Seq("k")))
    agg(Scale.saltedJoin(fact, dim, "k", buckets = 8))

    val (plainV, plainS) = time(agg(fact.join(dim, Seq("k"))))
    val (saltV, saltS) =
      time(agg(Scale.saltedJoin(fact, dim, "k", buckets = 8)))
    require(plainV.sameElements(saltV),
      s"salted result diverged: ${plainV.toSeq} vs ${saltV.toSeq}")
    println(f"[skew-scale] nFact=$nFact hot=50%% cpus=$cpus heavy=$heavy " +
      f"plain=${plainS}%.1fs salted=${saltS}%.1fs " +
      f"speedup=${plainS / saltS}%.2fx rows=${plainV(0)}")
    spark.stop()
  }
}
