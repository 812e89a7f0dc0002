package graft.tools

import graft.engine.Dedup
import org.apache.spark.sql.functions._

/** Dev evidence for the fuzzy-join (record linkage) scale shape at
  * key entropies the fixture cannot provide: `nRows` synthetic
  * 18-char names of md5-derived RANDOM LETTERS (the realistic
  * high-entropy regime — person/org names — where blocking shines),
  * half of them corrupted with ≤2 deterministic letter substitutions,
  * then re-linked by [[Dedup.fuzzyLink]] (striped 3-chunk pigeonhole
  * + exact levenshtein ≤ 2, verify below the dedup exchange).
  *
  * What it measures, against closed-form expectations:
  *  - planted recall: every corrupted probe must re-link to its
  *    source (substitution class ⇒ pigeonhole completeness — exact,
  *    not probabilistic);
  *  - candidate volume: Σ_{j,v} df_p(j,v)·df_c(j,v) — with 6-char
  *    chunks over a 26-letter alphabet the per-chunk key space is
  *    26⁶ ≈ 3.1e8 ≫ n, so expected random collisions ≈
  *    3·n_p·n_c/26⁶ stay BELOW n and the join is candidate-sparse:
  *    the "chunk entropy tracks key entropy" claim of the operator
  *    scaladoc, measured;
  *  - wall time end-to-end.
  *
  * The fixture's id-like keys ("Customer#000000123") sit at the
  * OTHER end: their entropy is the populated digit range, so
  * candidate volume there is n²/10^d — the documented reason dense
  * sequential id spaces (where every record has hundreds of true
  * Hamming-≤2 neighbors, making ANY complete join output quadratic)
  * need multi-field blocking rather than a cleverer chunk scheme.
  * Generation is executor-side (mapPartitions over a range); the
  * driver never holds the corpus. Usage:
  *   sbt "runMain graft.tools.FuzzyScale [nRows]"   # default 200000
  */
object FuzzyScale {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** 18 lowercase letters from two md5 blocks (4 bits/char, mapped
    * into a–p — 16 of 26 letters; entropy 16^6 ≈ 1.7e7 per chunk,
    * still ≫ any n this tool runs). */
  private[tools] def nameOf(id: Long): String = {
    val h = md5hex(s"fzname|$id") // 32 hex chars ≥ 18
    h.take(18).map(c => ('a' + Integer.parseInt(c.toString, 16)).toChar)
      .mkString
  }

  /** ≤2 deterministic substitutions anywhere in the 18 chars. */
  private[tools] def corrupt(id: Long): String = {
    val h = md5hex(s"fzedit|$id")
    def hex4(start: Int): Int = Integer.parseInt(h.substring(start, start + 4), 16)
    val cs = nameOf(id).toCharArray
    cs(hex4(0) % 18) = ('a' + hex4(8) % 26).toChar
    cs(hex4(4) % 18) = ('a' + hex4(12) % 26).toChar
    new String(cs)
  }

  /** One md5-derived deletion then one insertion — the alignment-
    * shifting class only the deletion-neighborhood blocking covers. */
  private[tools] def corruptIndel(id: Long): String = {
    val h = md5hex(s"fzindel|$id")
    def hex4(start: Int): Int = Integer.parseInt(h.substring(start, start + 4), 16)
    val s = nameOf(id)
    val pd = hex4(0) % s.length
    val del = s.substring(0, pd) + s.substring(pd + 1)
    val pi = hex4(4) % (del.length + 1)
    val li = ('a' + hex4(8) % 26).toChar
    del.substring(0, pi) + li + del.substring(pi)
  }

  /** One deletion, one insertion, one substitution — net lev ≤ 3
    * with alignment shifts crossing all three edits; only the
    * segment blocking ([[Dedup.fuzzyLinkSegments]]) covers it. */
  private[tools] def corruptLev3(id: Long): String = {
    val h = md5hex(s"fzlev3|$id")
    def hex4(start: Int): Int = Integer.parseInt(h.substring(start, start + 4), 16)
    val s = nameOf(id)
    val pd = hex4(0) % s.length
    val del = s.substring(0, pd) + s.substring(pd + 1)
    val pi = hex4(4) % (del.length + 1)
    val li = ('a' + hex4(8) % 26).toChar
    val ins = del.substring(0, pi) + li + del.substring(pi)
    val cs = ins.toCharArray
    cs(hex4(12) % cs.length) = ('a' + hex4(16) % 26).toChar
    new String(cs)
  }

  def main(args: Array[String]): Unit = {
    val nRows = if (args.nonEmpty) args(0).toInt else 200000
    val spark = graft.engine.Tables.builder("graft-fuzzy-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t0 = System.nanoTime()
    val clean = spark.range(nRows)
      .mapPartitions(_.map(id => (id, nameOf(id))))
      .toDF("match_id", "clean_name")
    val probes = spark.range(0, nRows, 2)
      .mapPartitions(_.map(id => (id, corrupt(id))))
      .toDF("probe_id", "probe_name")
    val linked = Dedup.fuzzyLink(probes, clean).cache()
    val matches = linked.count()
    val self = linked.filter(col("probe_id") === col("match_id")).count()
    val nProbes = nRows / 2 + nRows % 2
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"rows=$nRows probes=$nProbes matches=$matches " +
      f"planted_recall=$self/$nProbes wall=$wall%.1f s")
    assert(self == nProbes, s"planted recall broken: $self != $nProbes")

    // ---- indel pass: the same corpus re-linked through the
    // deletion-neighborhood blocking (Dedup.fuzzyLinkIndel) under an
    // indel corruption; candFan is the raw blocking-join volume
    // BEFORE levenshtein verification — the sub-quadratic evidence
    // (an all-pairs scan would be nProbes·nRows)
    // range-derived frames carry no size stats, so the planner would
    // try to BROADCAST the ×~170-exploded probe fan (OOM at 1M rows);
    // a parquet-backed probe table's stats would pick the sort-merge
    // join on the hashed keys — force that plan here
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val t1 = System.nanoTime()
    val probesI = spark.range(0, nRows, 2)
      .mapPartitions(_.map(id => (id, corruptIndel(id))))
      .toDF("probe_id", "probe_name")
    val linkedI = Dedup.fuzzyLinkIndel(probesI, clean).cache()
    val matchesI = linkedI.count()
    val selfI = linkedI.filter(col("probe_id") === col("match_id")).count()
    val wallI = (System.nanoTime() - t1) / 1e9
    val pkI = probesI.select(col("probe_id"),
      explode(Dedup.delNeighborhood(col("probe_name"))).as("dk"))
    val ckI = clean.select(col("match_id"),
      explode(Dedup.delNeighborhood(col("clean_name"))).as("dk"))
    val fan = pkI.join(ckI, "dk").count()
    val quad = nProbes.toDouble * nRows
    println(f"indel rows=$nRows probes=$nProbes matches=$matchesI " +
      f"planted_recall=$selfI/$nProbes candFan=$fan " +
      f"(${fan / nProbes}%d/probe, ${100.0 * fan / quad}%.4f%% of " +
      f"all-pairs) wall=$wallI%.1f s")
    assert(selfI == nProbes,
      s"indel planted recall broken: $selfI != $nProbes")

    // ---- lev<=3 pass: one deletion + one insertion + one
    // substitution, re-linked through the PassJoin segment blocking
    // (Dedup.fuzzyLinkSegments, tau=3) — the class where D3
    // symmetric-delete would fan ~987 variants/row while segments
    // stay at 4 clean + ~100 probe keys
    val t2 = System.nanoTime()
    val probes3 = spark.range(0, nRows, 2)
      .mapPartitions(_.map(id => (id, corruptLev3(id))))
      .toDF("probe_id", "probe_name")
    val linked3 = Dedup.fuzzyLinkSegments(probes3, clean, tau = 3).cache()
    val matches3 = linked3.count()
    val self3 = linked3.filter(col("probe_id") === col("match_id")).count()
    val wall3 = (System.nanoTime() - t2) / 1e9
    val pk3 = probes3.select(col("probe_id"),
      explode(Dedup.segmentProbeKeys(col("probe_name"), 3)).as("sk"))
    val ck3 = clean.select(col("match_id"),
      explode(Dedup.segmentKeys(col("clean_name"), 3)).as("sk"))
    val fan3 = pk3.join(ck3, "sk").count()
    println(f"lev3 rows=$nRows probes=$nProbes matches=$matches3 " +
      f"planted_recall=$self3/$nProbes candFan=$fan3 " +
      f"(${fan3 / nProbes}%d/probe, ${100.0 * fan3 / quad}%.4f%% of " +
      f"all-pairs) wall=$wall3%.1f s")
    assert(self3 == nProbes,
      s"lev3 planted recall broken: $self3 != $nProbes")
    spark.stop()
  }
}
