package graft

import graft.jobs.{CurationJob, HiveJob, JobConfig, ParquetJob, TextJob}
import java.nio.file.{Files, Paths}

/** End-to-end runs of the three reference-equivalent jobs over the
  * file source (bounded via --available-now). */
class JobsSpec extends SparkSpec {

  private def writeInput(lines: Seq[String]): String = {
    val dir = tmpDir("jin")
    Files.write(Paths.get(dir, "in.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    dir
  }

  /** (logday, h, m) of the minute partition holding event time `ms`. */
  private def partitionOf(ms: Long): (String, String, String) = {
    val t = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
    (t.toLocalDate.toString, f"${t.getHour}%02d", f"${t.getMinute}%02d")
  }

  private def listed(table: String): Seq[String] =
    spark.sharedState.externalCatalog.listPartitionNames("default", table)

  /** Poll the catalog (at most `limitMs`) until `table` lists the
    * partition holding event time `ms`: the job's listener commits on
    * the listener-bus thread, after the batch that closed it. */
  private def awaitCommitted(table: String, ms: Long,
      limitMs: Long = 30000L): Boolean = {
    val (d, h, m) = partitionOf(ms)
    val name = s"logday=$d/h=$h/m=$m"
    val until = System.currentTimeMillis() + limitMs
    while (!listed(table).contains(name) && System.currentTimeMillis() < until)
      Thread.sleep(50)
    listed(table).contains(name)
  }

  private val good =
    """{"uuid":"a","date":"2021-04-13T06:23:10.593Z","timestamp":1617171790593,"ad_type":1,"ad_type_name":"x"}"""

  test("config parser mirrors the reference options; unknown keys fail") {
    val c = JobConfig.parse(Array(
      "--source", "file", "--input-dir", "/in", "--checkpoint-dir", "/cp",
      "--sink-path", "/out", "--checkpoint-interval", "10",
      "--auto-compaction", "true", "--compact-retention-ms", "3600000"))
    assert(c.source == "file" && c.checkpointInterval == 10L)
    assert(c.autoCompaction)
    assert(c.compactRetentionMs == 3600000L)
    assert(JobConfig.parse(Array.empty[String]).compactRetentionMs == 0L)
    assert(!JobConfig.parse(Array.empty[String]).autoCompaction) // default off, as in the reference
    assertThrows[IllegalArgumentException] {
      JobConfig.parse(Array("--nope", "x"))
    }
  }

  test("TextJob: raw lines land under a processing-day bucket") {
    val in = writeInput(Seq(good, "opaque line"))
    val out = tmpDir("jout")
    val q = TextJob.run(spark, JobConfig(source = "file", inputDir = in,
      checkpointDir = tmpDir("jcp"), sinkPath = out, availableNow = true))
    q.awaitTermination()
    assert(spark.read.text(out).count() == 2)
  }

  test("ParquetJob: strict parse + event-date buckets end-to-end") {
    val in = writeInput(Seq(good))
    val out = tmpDir("jout")
    val q = ParquetJob.run(spark, JobConfig(source = "file", inputDir = in,
      checkpointDir = tmpDir("jcp"), sinkPath = out, availableNow = true))
    q.awaitTermination()
    val days = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("logday="))
    assert(days.toSeq == Seq("logday=20210413"))
  }

  test("HiveJob: partitions commit only once the watermark allows") {
    // two events 10 minutes apart; final watermark = max - 5s passes
    // the first partition's time + delay but not the second's
    val t0 = 1617171790000L
    val in = writeInput(Seq(
      good.replace("1617171790593", t0.toString)
        .replace("2021-04-13T06:23:10.593Z", "2021-03-31T06:23:10.000Z"),
      good.replace("\"uuid\":\"a\"", "\"uuid\":\"b\"")
        .replace("1617171790593", (t0 + 600000L).toString)))
    val table = "source_log_job_test"
    val stg = tmpDir("jstg")
    val h = HiveJob.run(spark, JobConfig(source = "file", inputDir = in,
      checkpointDir = tmpDir("jcp"), tableName = table,
      tableLocation = tmpDir("jtbl"), stagingDir = stg,
      partitionCommitDelayMs = 60000L, availableNow = true))
    h.query.awaitTermination()
    // the job's listener commits at the watermark its one batch
    // produced (max - 5s): a's partition, never b's
    assert(awaitCommitted(table, t0))
    // a bounded-run final commit at that watermark finds nothing new
    assert(h.committer.commitReady(t0 + 600000L - 5000L).isEmpty)
    val (d, hh, m) = partitionOf(t0)
    assert(listed(table) == Seq(s"logday=$d/h=$hh/m=$m"))
    val visible = spark.table(table).collect().map(_.getAs[String]("uuid"))
    assert(visible.toSeq == Seq("a")) // b's partition still pending
    // the rule itself: a partition commits exactly when the watermark
    // reaches its time + delay, not a millisecond before
    val probe = new graft.engine.PartitionCommitter(spark, table, stg, 60000L)
    val aReady = probe.partitionTime(d, hh, m).get + 60000L
    assert(probe.commitReady(aReady - 1).isEmpty)
    assert(probe.commitReady(aReady) == Seq((d, hh, m)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("HiveJob: an idle stream commits the partition its last batch closed") {
    // one file, two events 10 minutes apart, then no more input: the
    // batch's own watermark (max - 5s) closes the first partition, and
    // no later batch ever runs to carry a lagging watermark
    val t0 = 1617171790000L
    val in = writeInput(Seq(
      good.replace("1617171790593", t0.toString),
      good.replace("\"uuid\":\"a\"", "\"uuid\":\"b\"")
        .replace("1617171790593", (t0 + 600000L).toString)))
    val table = "source_log_idle_test"
    val h = HiveJob.run(spark, JobConfig(source = "file", inputDir = in,
      checkpointDir = tmpDir("icp"), checkpointInterval = 1L,
      tableName = table, tableLocation = tmpDir("itbl"),
      stagingDir = tmpDir("istg"), partitionCommitDelayMs = 60000L))
    try {
      assert(awaitCommitted(table, t0), "ready partition stranded")
      Thread.sleep(3000L) // three idle triggers on: b's stays pending
      val (d, hh, m) = partitionOf(t0)
      assert(listed(table) == Seq(s"logday=$d/h=$hh/m=$m"))
      assert(spark.table(table).collect()
        .map(_.getAs[String]("uuid")).toSeq == Seq("a"))
      assert(h.query.isActive && h.failure.isEmpty)
    } finally {
      h.query.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("HiveJob: repeated commit failures stop the query and name the cause") {
    val t0 = 1617171790000L
    val in = tmpDir("fin")
    val tmp = tmpDir("ftmp")
    val table = "source_log_fault_test"
    val h = HiveJob.run(spark, JobConfig(source = "file", inputDir = in,
      checkpointDir = tmpDir("fcp"), checkpointInterval = 0L,
      tableName = table, tableLocation = tmpDir("ftbl"),
      stagingDir = tmpDir("fstg"), partitionCommitDelayMs = 60000L))
    try {
      // the fault: the catalog table vanishes under the running job,
      // so every ADD PARTITION from here on fails
      spark.sql(s"DROP TABLE $table")
      // one file per batch, each 10 event minutes on: from the second
      // batch on a partition is ready and its commit fails
      def consumed = h.query.recentProgress.map(_.numInputRows).sum
      for (k <- 0 until 6 if h.query.isActive) {
        val f = Paths.get(tmp, s"f$k.jsonl")
        Files.write(f, (good.replace("1617171790593",
          (t0 + k * 600000L).toString) + "\n").getBytes("UTF-8"))
        Files.move(f, Paths.get(in, s"f$k.jsonl"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        val until = System.currentTimeMillis() + 30000L
        while (consumed < k + 1 && h.query.isActive &&
            System.currentTimeMillis() < until) Thread.sleep(50)
      }
      assert(h.query.awaitTermination(30000L), "query still running")
      assert(h.query.exception.isEmpty) // stopped by the job, not crashed
      assert(h.commitFailures >= HiveJob.maxCommitFailures)
      assert(h.failure.exists(_.getMessage.contains(table)),
        s"cause does not name the table: ${h.failure}")
    } finally {
      h.query.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("HiveJob retention grace: absorbed staging files survive until aged, then drain") {
    val t0 = 1617171790000L
    val in = writeInput(Seq(
      good.replace("1617171790593", t0.toString),
      good.replace("\"uuid\":\"a\"", "\"uuid\":\"b\"")
        .replace("1617171790593", (t0 + 1000L).toString),
      good.replace("\"uuid\":\"a\"", "\"uuid\":\"z\"")
        .replace("1617171790593", (t0 + 3600000L).toString)))
    val table = "source_log_retention_test"
    val stg = tmpDir("rstg")
    val grace = 3600 * 1000L
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try {
      val h = HiveJob.run(spark, JobConfig(source = "file", inputDir = in,
        checkpointDir = tmpDir("rcp"), tableName = table,
        tableLocation = tmpDir("rtbl"), stagingDir = stg,
        partitionCommitDelayMs = 60000L, autoCompaction = true,
        compactRetentionMs = grace, availableNow = true))
      h.query.awaitTermination()
      // the job's listener commits the partition at the watermark the
      // batch produced; the final commit waits out that call (it is
      // synchronized), so the compaction it queued precedes the barrier
      assert(awaitCommitted(table, t0))
      assert(h.committer.commitReady(t0 + 3600000L - 5000L).isEmpty)
      h.committer.awaitCompactions()
      val (d, hh, m) = partitionOf(t0)
      // flip happened (catalog reads the compact dir) but the absorbed
      // staging files SURVIVE the grace window for in-flight readers
      val origDir = new java.io.File(s"$stg/logday=$d/h=$hh/m=$m")
      assert(origDir.exists())
      assert(origDir.listFiles().count(f =>
        f.isFile && f.getName.endsWith(".parquet")) == 2)
      assert(spark.table(table).collect()
        .map(_.getAs[String]("uuid")).sorted.toSeq == Seq("a", "b"))
      // further commit passes inside the window leave them alone
      assert(h.committer.commitReady(t0 + 3600000L - 5000L).isEmpty)
      h.committer.awaitCompactions()
      assert(origDir.exists())
      // age the flip (backdate the manifest, the flip-time proxy) —
      // the next commit-driven reconcile finishes the delete
      val compactDir = new java.io.File(s"$stg/logday=$d/h=$hh")
        .listFiles().filter(_.getName.startsWith(s"compact_m=${m}_v")).head
      assert(new java.io.File(compactDir, "_absorbed")
        .setLastModified(System.currentTimeMillis() - 2 * grace))
      assert(h.committer.commitReady(t0 + 3600000L - 5000L).isEmpty)
      h.committer.awaitCompactions()
      assert(!origDir.exists(), "aged staging leftovers not drained")
      assert(spark.table(table).collect()
        .map(_.getAs[String]("uuid")).sorted.toSeq == Seq("a", "b"))
    } finally {
      spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("HiveJob auto-compaction: committed partition compacts via location flip, catalog reads unchanged") {
    val t0 = 1617171790000L
    // three events in the SAME minute → one partition, plus a far
    // -future flush event that advances the watermark past it
    val in = writeInput(Seq(
      good.replace("1617171790593", t0.toString),
      good.replace("\"uuid\":\"a\"", "\"uuid\":\"b\"")
        .replace("1617171790593", (t0 + 1000L).toString),
      good.replace("\"uuid\":\"a\"", "\"uuid\":\"c\"")
        .replace("1617171790593", (t0 + 2000L).toString),
      good.replace("\"uuid\":\"a\"", "\"uuid\":\"z\"")
        .replace("1617171790593", (t0 + 3600000L).toString)))
    val table = "source_log_compact_test"
    val stg = tmpDir("cstg")
    // one file per record, so the partition genuinely holds many
    // small files — what a minute-level trigger leaves over a day
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try {
      val h = HiveJob.run(spark, JobConfig(source = "file", inputDir = in,
        checkpointDir = tmpDir("ccp"), tableName = table,
        tableLocation = tmpDir("ctbl"), stagingDir = stg,
        partitionCommitDelayMs = 60000L, autoCompaction = true,
        availableNow = true))
      h.query.awaitTermination()
      // the job's listener commits the partition at the watermark the
      // batch produced and auto-compaction rides that commit; the
      // final commit waits out the listener's call (synchronized), so
      // its compaction is queued before the barrier
      assert(awaitCommitted(table, t0))
      assert(h.committer.commitReady(t0 + 3600000L - 5000L).isEmpty)
      h.committer.awaitCompactions() // async worker — drain before asserting
      val (d, hh, m) = partitionOf(t0)
      // the original staging partition dir is gone, replaced by a
      // single-file compacted sibling the partition LOCATION points at
      val origDir = new java.io.File(s"$stg/logday=$d/h=$hh/m=$m")
      assert(!origDir.exists())
      val compacted = new java.io.File(s"$stg/logday=$d/h=$hh")
        .listFiles().filter(_.getName.startsWith(s"compact_m=${m}_v"))
      assert(compacted.length == 1)
      assert(compacted.head.listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet")) == 1)
      // catalog reads the same rows through the flipped location; the
      // uncommitted far-future partition (z) stays invisible
      val after = spark.table(table).collect()
        .map(_.getAs[String]("uuid")).sorted.toSeq
      assert(after == Seq("a", "b", "c"))
      // a second commitReady neither re-commits nor re-compacts
      assert(h.committer.commitReady(t0 + 3600000L - 5000L).isEmpty)
      h.committer.awaitCompactions()
      // LATE data: a row lands in the original staging partition dir
      // AFTER commit + compaction (the file sink never drops late
      // rows). Without reconciliation the flipped LOCATION would hide
      // it forever; the next commitReady must merge it back in.
      locally {
        import spark.implicits._
        Seq(("zlate", "2021-03-31T06:23:50.000Z", t0 + 40000L, 1, "x"))
          .toDF("uuid", "date", "timestamp", "ad_type", "ad_type_name")
          .write.mode("append").parquet(origDir.getAbsolutePath)
      }
      assert(h.committer.commitReady(t0 + 3600000L - 5000L).isEmpty)
      h.committer.awaitCompactions()
      val withLate = spark.table(table).collect()
        .map(_.getAs[String]("uuid")).sorted.toSeq
      assert(withLate == Seq("a", "b", "c", "zlate"))
      assert(!origDir.exists()) // staging dir merged away again
      // merged into the next compacted version, still one file
      val v2 = new java.io.File(s"$stg/logday=$d/h=$hh")
        .listFiles().filter(_.getName.startsWith(s"compact_m=${m}_v"))
      assert(v2.length == 1 && v2.head.getName.endsWith("_v2"))
      spark.sql(s"DROP TABLE IF EXISTS $table")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }
  test("CurationJob: staged parquet run row-equals the in-memory composition") {
    import graft.engine.Curation
    val docsPath = s"$sf0001/documents.parquet"
    // the benchmark suite to decontaminate against: a handful of the
    // corpus's own documents, so the stage provably drops rows (every
    // benchmark doc shares all its shingles with itself)
    val benchPath = tmpDir("cur_bench")
    spark.read.parquet(docsPath)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 10)
      .write.mode("overwrite").parquet(benchPath)
    val out = tmpDir("cur_out")
    val stg = tmpDir("cur_stg")
    CurationJob.run(spark, JobConfig(inputDir = docsPath,
      stagingDir = stg, sinkPath = out, tokenBudget = 300L,
      benchmarkDir = benchPath))
    val staged = spark.read.parquet(out).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    // the anchor: the same engine stages composed directly, no
    // parquet checkpoints — a schema drift, dropped column or stage
    // reorder in the job shows up as a row diff here
    val direct = Curation.pipeline(spark.read.parquet(docsPath),
        tag = "jobsspec-direct", budgetPerSource = 300L,
        bench = Some(spark.read.parquet(benchPath)))
      .collect().map(_.toSeq.map(String.valueOf))
      .sortBy(_.mkString("|")).toSeq
    assert(staged.nonEmpty && staged == direct)
    // every intermediate checkpoint materialized, monotonically
    // shrinking (each stage only drops rows)
    val counts = Seq("1_url", "2_exact", "3_neardup", "4_decon",
      "5_substr", "6_quality", "7_mix")
      .map(n => spark.read.parquet(s"$stg/$n").count())
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      counts.toString)
    // decontamination provably dropped the planted benchmark docs
    assert(counts(3) < counts(2),
      s"decon stage dropped nothing: $counts")

    // RESUME (r20): recompute only past the resume point, without
    // touching the input — rereading checkpoints must reproduce the
    // full run bit-for-bit. The input path is deleted first, so any
    // attempt to recompute stages 1-7 fails loudly.
    val out2 = tmpDir("cur_out2")
    val docsCopy = tmpDir("cur_docs_copy")
    spark.read.parquet(docsPath).write.mode("overwrite").parquet(docsCopy)
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete()
    }
    deleteRec(new java.io.File(docsCopy))
    CurationJob.run(spark, JobConfig(inputDir = docsCopy,
      stagingDir = stg, sinkPath = out2, tokenBudget = 300L,
      benchmarkDir = benchPath, resumeFrom = "7_mix"))
    val resumed = spark.read.parquet(out2).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    assert(resumed == staged)
    // resume vocabulary is validated up front
    assertThrows[IllegalArgumentException] {
      CurationJob.run(spark, JobConfig(inputDir = docsCopy,
        stagingDir = stg, sinkPath = out2, resumeFrom = "9_nope"))
    }
    assertThrows[IllegalArgumentException] {
      CurationJob.run(spark, JobConfig(inputDir = docsCopy,
        stagingDir = stg, sinkPath = out2, resumeFrom = "4_decon"))
    }
  }

  test("StreamCurationJob: 3-batch replay row-equals the batch stages") {
    import graft.engine.TextOps
    import graft.jobs.StreamCurationJob
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val T0 = 1617171780000L
    def ts(s: Long) = new java.sql.Timestamp(T0 + s * 1000L)
    // 8-token documents (budget 20 ⇒ two admits per source), one
    // history hit, one low-quality, one in-stream cross-batch dup
    val a1 = "the cat and the dog with one bone"
    val a2 = "the sun and the moon with two stars"
    val a3 = "the boy and the girl with ten books"
    val b1 = "the red and the blue with six kites"
    val b2 = "the old and the new with big plans"
    val hist = "this historical document is that one with the answer"
    val junk = "@@@@ %%%% $$$$"
    val slices = Seq(
      Seq((1L, "a", a1, ts(1)), (2L, "b", hist, ts(2)),
        (3L, "b", junk, ts(3))),
      Seq((4L, "a", a2, ts(11)), (5L, "b", a1, ts(12)),
        (6L, "b", b1, ts(13))),
      Seq((7L, "a", a3, ts(21)), (8L, "b", b2, ts(22))))
    val inDir = tmpDir("scur_in")
    slices.zipWithIndex.foreach { case (rows, i) =>
      val tmp = tmpDir(s"scur_slice$i")
      rows.toDF("doc_id", "source", "text", "event_time")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(inDir, f"slice_$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      // ascending mod-times pin the file-source processing order
      dst.setLastModified(T0 + i * 60000L)
    }
    val histDir = tmpDir("scur_hist")
    Seq(hist).toDF("text")
      .select(TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(histDir)
    val out = tmpDir("scur_out")
    val q = StreamCurationJob.run(spark, JobConfig(inputDir = inDir,
      checkpointDir = tmpDir("scur_ckpt"), stagingDir = tmpDir("scur_stg"),
      sinkPath = out, historyDir = histDir, budget = 20L,
      availableNow = true, maxFilesPerTrigger = 1L))
    q.awaitTermination()
    // one overwrite-per-batch manifest per micro-batch, not one blob
    val batchDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    // 3 data batches (AvailableNow may append a trailing empty one)
    assert(batchDirs.length >= 3, batchDirs.mkString(","))
    val streamed = spark.read.parquet(s"$out/batch=*")
      .select("doc_id", "source", "ntk")
      .as[(Long, String, Long)].collect().toSet
    // the batch-side anchor: same features, floor, keep-first dedup,
    // history anti-join and per-source budget prefix over the union
    // of the slices — time-sliced arrival makes stream admission
    // order coincide with the global (event_time, doc_id) order
    val all = slices.flatten.toDF("doc_id", "source", "text", "event_time")
    val expected = all
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .withColumn("ntk", TextOps.tokenCount(col("text")).cast("long"))
      .filter(col("quality") >= 0.25)
      .withColumn("rn", row_number().over(Window.partitionBy(col("fp"))
        .orderBy(col("event_time"), col("doc_id"))))
      .filter(col("rn") === 1)
      .join(spark.read.parquet(histDir), Seq("fp"), "left_anti")
      .withColumn("cum", sum(col("ntk")).over(Window
        .partitionBy(col("source"))
        .orderBy(col("event_time"), col("doc_id"))))
      .filter(col("cum") <= 20L)
      .select("doc_id", "source", "ntk")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == expected, s"streamed=$streamed expected=$expected")
    // and the fixture exercised every stage: history hit (2), quality
    // floor (3), in-stream dup (5) and budget overflow (7) all gone
    assert(streamed.map(_._1) == Set(1L, 4L, 6L, 8L))
  }

  test("Curation.urlStage: a real url column is used verbatim, never synthesized") {
    import graft.engine.Curation
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val d = Seq(
      (1L, "src0", "HTTPS://WWW.Example.com:443/a?utm_source=x&b=1#frag"),
      (2L, "src1", "https://example.com/a?b=1"),   // same page as 1
      (3L, "src2", "schemeless-garbage"))          // canonicalizes to NULL
      .toDF("doc_id", "source", "url")
      .withColumn("text", lit("hello world"))
    val out = Curation.urlStage(d).collect()
    // same-page dedup actually ran on the REAL urls (1 and 2 collapse)
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
    // and nothing came from the synthetic derivation (its fixed shape)
    val canon = out.flatMap(r => Option(r.getAs[String]("canonical")))
    assert(canon.nonEmpty &&
      canon.forall(c => !c.toLowerCase.contains("/docs/")))
    assert(canon.contains("https://example.com/a?b=1"))
  }

}
