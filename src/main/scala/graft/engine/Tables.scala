package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated test data
  * (TESTDATA.md), the one session builder and per-session runtime
  * tuning.
  *
  * Scale notes: every reader goes through `spark.read.parquet` so
  * Catalyst handles column pruning + predicate pushdown into the
  * scan; at cluster scale the same code reads partitioned S3/HDFS
  * layouts unchanged.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** THE deterministic percent-bucket convention: the first 4 hex
    * digits of md5(key) mod 100 — a seedless, engine-reproducible
    * hash split shared by the holdout/train-mix samplers and every
    * "derive a batch from the fixture" query (merge, incremental
    * aggs). One definition here; the DuckDB oracles restate it as
    * strpos arithmetic. */
  private[graft] def md5Bucket(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(conv(substring(md5(c.cast("string")), 1, 4), 16, 10)
      .cast("int"), lit(100))
  }

  /** Memoized loaded frames (r22): `spark.read.parquet` pays a file
    * listing + footer/schema job PER CALL — StageProbe shows a
    * ~20 ms single-task `[parquet at Tables.scala]` stage in nearly
    * every query, and most queries load 1-3 tables — ~2-3 s per full
    * bench pass re-reading footers. The cached value is the analyzed
    * plan (ts-normalized), not data: every consumer still computes
    * from the parquet bytes. A parquet relation fixes its file list
    * when created, so the key carries [[fileId]]: rows appended
    * within the session miss here and load afresh. [[clearMemos]]
    * drops it with the other cold-measurement memos. */
  private val tableMemo = new SessionMemo[DataFrame](64)

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    tableMemo(spark, s"${fileId(spark, sfDir)}|$name")(
      load(spark, sfDir, name))

  /** The file identity of `dir`: its path plus a digest of the path,
    * length and modification time of every file a parquet reader
    * would see beneath it (Spark skips `_`/`.`-prefixed names) — THE
    * staleness rule of every memo derived from files. A key that
    * embeds it misses once any file under the directory is added,
    * removed or rewritten. The listing is driver-side file-system
    * metadata (no Spark job); a missing directory lists as empty. */
  private[graft] def fileId(spark: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }.flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st))
    val files =
      try walk(root) catch { case _: java.io.FileNotFoundException => Nil }
    val listing = files.map(st =>
      s"${st.getPath}\t${st.getLen}\t${st.getModificationTime}")
      .sorted.mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8"))
    s"$dir@${md5.map(b => f"$b%02x").mkString}"
  }

  private def load(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    tune(spark)
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // The events table's `ts` arrives in one of two physical forms
    // depending on how the fixture was written, and both normalize to
    // session-zoned TimestampType so downstream code (epoch casts,
    // windows) sees ONE type:
    //  - TIMESTAMP(NANOS), which Spark's parquet reader rejects
    //    natively; with nanosAsLong (set in tune) it arrives as
    //    LongType nanos. Truncate to micros with *integer* division —
    //    epoch nanos (~1.7e18) exceed double's exact integer range,
    //    so `/ 1000` through DOUBLE would corrupt timestamps.
    //    Truncation (not rounding) matches DuckDB's ns→µs behavior.
    //  - TIMESTAMP(MICROS) without timezone metadata, which arrives
    //    as TimestampNTZType. NTZ forbids numeric casts (the r12
    //    silent breakage: `ts.cast("long")` became an analysis error
    //    in the as-of join and sessionization), so cast it to the
    //    session-zoned type — the session is pinned UTC everywhere,
    //    making the two forms bit-equivalent.
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", df("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Redistribute an under-parallel scan across all cores before
    * CPU-heavy narrow work. The driver testdata ships one
    * single-row-group parquet file per table, so without this every
    * per-document stage runs as ONE task; on a real multi-split lake
    * the input already has ≥ cores splits and this is a no-op —
    * never an unconditional full shuffle of 100 TB of text.
    *
    * The partition-count probe (`df.rdd.getNumPartitions`) forces
    * optimization + physical planning + RDD DAG creation of the whole
    * plan — too expensive to pay on EVERY query construction, so it
    * is memoized per (session, input file set, parallelism): the scan
    * split count is a function of the files, not of the filters or
    * projections layered above them. Plans with no file-based leaves
    * (in-memory test relations) are probed directly — planning a
    * LocalRelation is trivial. */
  private val spreadMemo = new SessionMemo[Int](64)

  /** Fan-out target: all cores, floored so each task holds at least
    * `minRowsPerTask` rows (when the caller knows the cardinality).
    * Over-splitting is NOT free: measured on the 32-core bench box,
    * a stage of 32 near-empty vector tasks burns ~150-200 ms CPU
    * PER TASK (scheduler + per-task setup contention — ~10× the
    * per-task cost of the same stage run 8-wide), so spreading 2k
    * embedding rows across 32 cores triples the ANN stack's cold
    * wall time. This is the same sizing rule Spark's own
    * `files.maxPartitionBytes` applies to scans — partition count
    * follows data volume, not cluster width; at lake scale
    * rows/minRowsPerTask ≫ cores and the floor never binds. */
  private[graft] def spreadTarget(p: Int, rows: Long,
      minRowsPerTask: Int): Int =
    if (rows < 0) p
    else math.max(1L, math.min(p.toLong,
      (rows + minRowsPerTask - 1) / minRowsPerTask)).toInt

  /** Columns whose type `xxhash64` accepts (hash on MapType is an
    * analysis error) and whose name is unambiguous in `df` — the
    * default spread key is every such column, so a frame the old
    * round-robin form accepted never fails analysis here. */
  private def hashableCols(df: DataFrame)
      : Seq[org.apache.spark.sql.Column] = {
    def ok(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: org.apache.spark.sql.types.MapType => false
      case a: org.apache.spark.sql.types.ArrayType => ok(a.elementType)
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.forall(f => ok(f.dataType))
      case _ => true
    }
    val dup = df.schema.fieldNames.groupBy(identity)
      .collect { case (n, ns) if ns.length > 1 => n }.toSet
    df.schema.fields
      .filter(f => ok(f.dataType) && !dup.contains(f.name))
      .map(f => df(f.name)).toSeq
  }

  private[engine] def spread(df: DataFrame, rows: Long = -1L,
      minRowsPerTask: Int = 1,
      keys: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val files = df.inputFiles
    val fileKey = if (files.isEmpty) "" else files.sorted.mkString("\n")
    // No floor for callers without a cardinality (rows < 0): the
    // document-text entry points carry real per-row work (shingling,
    // minhash, winnowing — hundreds of µs/doc), so full fan-out wins
    // there even on the small fixtures (A/B-measured; a bytes-based
    // floor made q_unigram_score ~1.5-2× slower). The floor is for
    // cheap-per-row vector stages whose corpora the caller has
    // already counted.
    val p = spreadTarget(
      spark.sparkContext.defaultParallelism, rows, minRowsPerTask)
    val parts =
      if (files.isEmpty) df.rdd.getNumPartitions
      else spreadMemo(spark, s"$p|$fileKey")(df.rdd.getNumPartitions)
    // Hash-partition on a DETERMINISTIC key instead of round-robin
    // repartition(p): every keyless repartition first local-sorts its
    // input (spark.sql.execution.sortBeforeRepartition, on by default
    // since SPARK-23207 so retried tasks reproduce the same
    // row→partition assignment) — and spread's caller is usually a
    // single-row-group scan task, so that sort of the WHOLE table ran
    // inside the one real scan task this exchange exists to relieve.
    // xxhash64 over the key columns is a pure function of row content,
    // so re-run tasks re-produce the identical assignment with no sort
    // (the guide's deterministic-synthetic-key rule); near-unique keys
    // spread uniformly, and equal-key rows merely colocate. Measured
    // r21: the q_weighted_median / q_mahalanobis scan stages dropped
    // their sort time (see OPTIMIZATION_r21.md).
    //
    // The key must be NARROW (r21 verdict): hashing every column made
    // the partition expression reference dead columns, which pinned
    // them below the exchange — Catalyst could no longer push a
    // consumer's Project under it, so the scan read (ReadSchema) and
    // the exchange shuffled columns nobody consumed. Callers pass the
    // near-unique id column(s) they keep (`keys`); the default is
    // every hashable column of `df`, which is only safe when the
    // caller already projected df to the surviving columns.
    val keyCols =
      if (keys.nonEmpty) keys.map(df(_)) else hashableCols(df)
    if (parts >= p || keyCols.isEmpty) df
    else df.repartition(p,
      org.apache.spark.sql.functions.xxhash64(keyCols: _*))
  }

  /** Memoized row count of a fixture table — several operators size
    * themselves from the corpus cardinality (IVF cell count, LSH
    * signature width, SemDeDup cell count, the all-pairs block count)
    * and re-counting per invocation was one full-scan Spark job per
    * bench rep / verify pass on the most expensive queries. The count
    * is a pure function of the input files, so one job per
    * (session, [[fileId]], table) suffices; values are 8-byte longs,
    * so the LRU bound exists only to drop stopped-session keys. */
  private val countMemo = new SessionMemo[Long](64)
  private[graft] def memoizedCount(spark: SparkSession, sfDir: String,
      name: String): Long =
    countMemo(spark, s"${fileId(spark, sfDir)}|$name")(
      apply(spark, sfDir, name).count())

  /** Drop the per-session table/count/spread memos — completes the
    * cold-measurement reset ([[Dedup.clearMemos]],
    * [[Similarity.clearMemos]]): a genuine first run pays the count
    * job and the partition probe too. */
  private[graft] def clearMemos(spark: SparkSession): Unit =
    Seq(countMemo, spreadMemo, tableMemo).foreach(_.clear(spark))

  /** The one session builder. Bench, Verify, Profile, the jobs, the
    * tools and the test suite all start from it, so each runs the
    * engine Bench measures; a caller adds only the confs it needs
    * (a Hive catalog, a pinned master) before `getOrCreate`. It holds
    * the STATIC confs, which must be set before the session exists;
    * the runtime confs live in [[tune]], which stays lazy (the first
    * [[apply]] runs it; the streaming jobs never do).
    *
    * `spark.sql.codegen.cache.maxEntries` = 4096: the generated-class
    * cache defaults to 100 entries per JVM — far below one
    * interleaved pass of the query suite (~85 headline queries ×
    * 10-20 codegen units each), so every bench sample re-paid Janino
    * compilation for classes the warmup had already compiled and the
    * cache had already evicted. Measured (r21, 40-query × 3-rep
    * interleaved subset, paired same-box runs): default 47.5 / 47.3 s
    * vs 4096-entry 36.3 s (10k-entry 34.1 / 39.6 s — no further win
    * past 4096). This is NOT a local[32]-only win: production
    * executors are long-lived JVMs serving hundreds of distinct
    * codegen units across a job DAG, and each eviction re-pays a
    * 10-100 ms compile inside task execution; 4096 × ~50 KB of class
    * metadata bounds the metaspace cost at a few hundred MB.
    *
    * `spark.shuffle.sort.bypassMergeThreshold` = 1 (r22): the default
    * of 200 sends EVERY exchange of a 32-core local session
    * (shuffle.partitions = cores ≤ 200) through the bypass-merge
    * writer — each map task opens one file PER REDUCE PARTITION
    * (open + lz4 stream init + flush + close + concatenation), a
    * ~30-100 ms fixed cost per map task that OpProbe measured as
    * 0.4-3.2 s of summed shuffleWriteTime on KB-sized exchanges (the
    * rfm/jaccard memo-compaction exchanges wrote 28-376 KB for
    * 1.6-3.2 s of write time). A threshold of 1 routes every exchange
    * through the serialized UnsafeShuffleWriter (UnsafeRow supports
    * relocation): one spill file + index per map task regardless of
    * reduce count. This ALIGNS local behavior with production rather
    * than diverging from it — at cluster scale shuffle.partitions ≫
    * 200, so the serialized writer is what runs anyway; the bypass
    * path only ever fires on small-reduce-count shuffles where its
    * per-file cost is the documented loss.
    *
    * Under spark-submit the master arrives as the `spark.master`
    * system property. A bare `runMain` (dev, bench, tests, tools) has
    * none, so the session runs `local[SPARK_GRAFT_CPUS]` (default: all
    * cores) with one shuffle partition per core and no UI —
    * SPARK_GRAFT_CPUS is the only core-count rule. */
  def builder(appName: String): SparkSession.Builder = {
    silenceBoundedWindows()
    val b = SparkSession.builder().appName(appName)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    if (sys.props.contains("spark.master")) b
    else {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      b.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    }
  }

  /** Every unpartitioned window in the engine runs on an audited
    * bounded frame (shard carries, k+1 priority rows, |langs| codes —
    * the KNOWN-BOUNDED comments at each site), so WindowExec's
    * single-partition WARN is pure noise; a constant partition key
    * cannot silence it (Spark 4's EliminateWindowPartitions folds it
    * away again). The level is JVM-global. Spark's own log set-up
    * replaces an unconfigured log4j context on first use, which would
    * drop a level set before it, so that set-up runs first. */
  private def silenceBoundedWindows(): Unit = {
    new org.apache.spark.internal.Logging {
      initializeLogIfNecessary(false)
    }
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
  }

  // Keyed per SparkSession (identity), not JVM-global: if the harness
  // stops a session and builds a new one in the same JVM, the new
  // session must be re-tuned (it would otherwise miss nanosAsLong and
  // fail reading events.parquet with PARQUET_TYPE_ILLEGAL).
  private val tunedSessions = new SessionMemo[Unit](64)

  /** Idempotent runtime tuning. These are all runtime-settable SQL
    * confs, so they work regardless of how the harness built the
    * session (Verify/Bench/tests all funnel through Tables).
    */
  def tune(spark: SparkSession): Unit = synchronized {
    tunedSessions(spark, "") {
      val c = spark.conf
      // AQE: runtime partition coalescing + skew-join splitting; at
      // 100 TB this is what keeps post-shuffle partitions sized right.
      c.set("spark.sql.adaptive.enabled", "true")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOTE (r21, measured): do NOT lower
      // spark.sql.adaptive.coalescePartitions.minPartitionSize to widen
      // small CPU-heavy shuffles — a 128k floor fanned q_itemsets3/
      // q_copurchase's 5-12 MB exchanges to 32 tasks and their summed
      // task time rose 3-6× (the ~150-200 ms per-task setup cost
      // spreadTarget documents dwarfs the sub-100 ms of real work each
      // extra task carries) with no wall-clock gain. The 1 MB default
      // matches this box; at cluster scale the parallelism-first
      // target dominates and the floor is inert either way.
      // Dimension tables (region/nation/supplier/part/customer) stay
      // far below this; broadcast them instead of shuffling lineitem.
      c.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // ObjectHashAggregate (collect_set / collect_list — the basket,
      // edge-list and inverted-index builders) falls back to SORT-
      // based aggregation after 128 distinct groups per task (the
      // default fallback threshold), and the fallback spills the
      // in-memory map through an external sorter — OpProbe r22
      // measured numTasksFallBacked=32 on EVERY such agg in the
      // itemsets/copurchase/dedup paths, with a 7k-row collect_list
      // partial agg paying 5.4 s of summed task time in sort/spill
      // setup. 2^16 groups ≈ 10 MB of small-array buffers per task —
      // well inside executor task memory — keeps every small/mid agg
      // hash-based; genuinely large per-task group counts (the
      // 147k-group basket agg after AQE coalescing, or corpus-scale
      // aggs) still switch to the spill-safe sort path, which a
      // 3-round factor A/B measured as no worse than the giant hash
      // map on exactly those aggs (q_copurchase).
      c.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 16).toString)
      // events.parquet stores TIMESTAMP(NANOS,false) which the vectorized
      // reader rejects ([PARQUET_TYPE_ILLEGAL]); read as Long and convert.
      c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The NTZ->TimestampType normalization in `table` above is only
      // bit-equivalent to the nanos path when the session zone is UTC.
      // The sbt build and perfbench also pass it as a JVM system
      // property, but the invariant belongs at the same choke point as
      // nanosAsLong so a session launched another way can't silently
      // shift every event timestamp relative to the DuckDB oracle.
      c.set("spark.sql.session.timeZone", "UTC")
      // native functions (SQL name graft_dot); cluster deployments can
      // instead set spark.sql.extensions=graft.functions.GraftExtensions
      graft.functions.GraftFunctions.register(spark)
      // runtime twin of GraftExtensions' injectOptimizerRule: rewrite
      // the interpreted HOF dot-product pattern to the native
      // codegen'd DotProduct wherever it appears
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.RewriteDotProduct)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+
            graft.plans.RewriteDotProduct
      }
    }
  }
}
