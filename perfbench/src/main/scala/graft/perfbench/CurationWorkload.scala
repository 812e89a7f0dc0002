package graft.perfbench

import graft.engine.Curation
import graft.jobs.{CurationJob, JobConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** `curation`: `jobs.CurationJob` with `--benchmark-dir` and substring
  * dedup on, over a seeded corpus grown from the fixture's 5000
  * documents: planted exact duplicates, token-edit near duplicates
  * (the last token replaced, Jaccard ≥ 0.95 on 3-token shingles),
  * 55-token spans shared by a donor and three receivers, and documents
  * contaminated with a slice of a benchmark text. The benchmark texts
  * use words the corpus never does, so only the planted documents
  * share a shingle with them.
  *
  * Each rep is one `CurationJob.run` into fresh staging and sink
  * directories; a watcher thread times every stage by when its staging
  * `_SUCCESS` marker appears. The warm-up is one cold run.
  */
final class CurationWorkload(data: String, work: String, seed: Long)
    extends Workload {
  val name = "curation"
  val inputDir = s"$work/cur_input"
  val benchDir = s"$work/cur_bench"
  /** Per-source token budget of the mix stage, about two thirds of what
    * each source keeps after the quality cut. */
  val budget = 8000L
  val stages: Seq[String] = CurationJob.stageNames
  val exactCopies = 150
  val nearCopies = 150
  val spanDonors = 20
  val receiversPerSpan = 3
  val spanLen = 55
  val contaminated = 100

  private val plantedGone = ArrayBuffer.empty[Long] // must not pass 4_decon
  private val spans = ArrayBuffer.empty[String]
  private var nRows = 0L

  def inputs(spark: SparkSession): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val base = spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text", "lang", "source").as[(Long, String, String, String)]
      .collect().sortBy(_._1)
    val text = scala.collection.mutable.LinkedHashMap(base.map(r => r._1 -> r._2).toSeq: _*)
    val vocab = text.values.flatMap(_.split(" ")).toSeq.distinct.sorted
    def toks(id: Long) = text(id).split(" ")
    def pick(n: Int, ok: Long => Boolean, taken: Set[Long]): Seq[Long] =
      rnd.shuffle(base.map(_._1).filter(id => ok(id) && !taken(id)).toSeq).take(n)

    // spans: a donor's first 55 tokens prepended to three receivers
    val donors = pick(spanDonors, toks(_).length >= spanLen, Set.empty)
    val receivers = pick(spanDonors * receiversPerSpan, toks(_).length >= 40,
      donors.toSet)
    donors.zip(receivers.grouped(receiversPerSpan).toSeq).foreach { case (d, rs) =>
      val span = toks(d).take(spanLen).mkString(" ")
      spans += span
      rs.foreach(r => text(r) = span + " " + text(r))
    }
    // contamination: a 6-token slice of a benchmark text in the middle
    val bench = Seq.fill(30)(Seq.fill(40)(s"bm${rnd.nextInt(5000)}").mkString(" "))
    pick(contaminated, _ => true, (donors ++ receivers).toSet).foreach { id =>
      val b = bench(rnd.nextInt(bench.size)).split(" ")
      val at = rnd.nextInt(b.length - 6)
      val t = toks(id)
      text(id) = (t.take(t.length / 2) ++ b.slice(at, at + 6) ++ t.drop(t.length / 2))
        .mkString(" ")
      plantedGone += id
    }
    // copies get ids above the corpus, so every kept copy is the original
    var next = base.map(_._1).max
    val meta = base.map(r => r._1 -> (r._3, r._4)).toMap
    val copies = ArrayBuffer.empty[(Long, String, String, String)]
    pick(exactCopies, _ => true, Set.empty).foreach { id =>
      next += 1
      copies += ((next, text(id), meta(id)._1, meta(id)._2))
      plantedGone += next
    }
    pick(nearCopies, toks(_).length >= 40, Set.empty).foreach { id =>
      val t = toks(id)
      val swap = vocab.filter(_ != t.last)(rnd.nextInt(vocab.size - 1))
      next += 1
      copies += ((next, (t.init :+ swap).mkString(" "), meta(id)._1, meta(id)._2))
      plantedGone += next
    }
    val rows = base.map(r => (r._1, text(r._1), r._3, r._4)).toSeq ++ copies
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .repartition(4).write.mode("overwrite").parquet(inputDir)
    bench.toDF("text").withColumn("doc_id",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      .write.mode("overwrite").parquet(benchDir)
    nRows = rows.size
  }

  def setup(spark: SparkSession): Unit = {
    spark.read.parquet(inputDir).schema
    spark.read.parquet(benchDir).schema
    Harness.clearMemos(spark)
  }

  private var rep = 0

  private def cleanup(r: Int): Unit = Seq("cur_stg", "cur_out")
    .foreach(d => Harness.deleteRecursively(new java.io.File(s"$work/$d$r")))

  /** One `CurationJob.run`; returns its wall ms and each stage's ms
    * (the pack step's ends at the sink's marker). */
  private def run(spark: SparkSession, tracer: Tracer,
      parent: Int): (Double, Map[String, Double]) = {
    rep += 1
    val stg = s"$work/cur_stg$rep"
    val sink = s"$work/cur_out$rep"
    val marks = (stages.map(s => s -> new java.io.File(s"$stg/$s/_SUCCESS")) :+
      ("pack" -> new java.io.File(s"$sink/_SUCCESS")))
    val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    Harness.clearMemos(spark)
    val startMs = tracer.wallMs()
    val t0 = Harness.now()
    val watcher = new Thread(() => {
      var i = 0
      while (!stop.get && i < marks.size) {
        if (marks(i)._2.exists()) { seen.put(marks(i)._1, Harness.msSince(t0)); i += 1 }
        else Thread.sleep(5)
      }
    })
    watcher.setDaemon(true)
    watcher.start()
    tracer.span("CurationJob.run", parent) { _ =>
      CurationJob.run(spark, JobConfig(inputDir = inputDir, stagingDir = stg,
        sinkPath = sink, tokenBudget = budget, benchmarkDir = benchDir,
        substringDedup = true))
    }
    val wall = Harness.msSince(t0)
    Thread.sleep(20) // the watcher's last poll
    stop.set(true)
    watcher.join()
    val ends = marks.map(_._1).map(s => s -> Option(seen.get(s)).map(_.doubleValue))
    var prev = 0.0
    val stageMs = ends.collect { case (s, Some(end)) =>
      tracer.record(s"Curation.$s", startMs + prev, startMs + end, parent)
      val ms = end - prev
      prev = end
      s -> ms
    }.toMap
    (wall, stageMs)
  }

  def warmup(spark: SparkSession): Unit = {
    run(spark, new Tracer("warmup", enabled = false), -1)
    cleanup(rep)
  }

  def measure(spark: SparkSession, seconds: Double, tracer: Tracer): Outcome = {
    val walls = ArrayBuffer.empty[Double]
    val stageRuns = ArrayBuffer.empty[Map[String, Double]]
    val t0 = Harness.now()
    val winStart = tracer.wallMs()
    tracer.span("curation.run") { runSpan =>
      // whole runs while the next one, at the mean run time so far,
      // ends inside the window; at least 2
      while (walls.size < 2 ||
          Harness.msSince(t0) * (walls.size + 1) / walls.size <= seconds * 1000) {
        if (walls.nonEmpty) cleanup(rep)
        val (w, st) = run(spark, tracer, runSpan)
        walls += w
        stageRuns += st
      }
    }
    val windowS = Harness.msSince(t0) / 1e3
    val winEnd = tracer.wallMs()
    val stg = s"$work/cur_stg$rep"
    val sink = s"$work/cur_out$rep"
    val (failures, counts) = check(spark, stg, sink)

    val names = stages :+ "pack"
    val missing = names.filterNot(s => stageRuns.forall(_.contains(s)))
    val allFailures = failures ++ missing.map(s => s"curation: no _SUCCESS marker seen for $s")
    val stageMed = names.filterNot(missing.contains)
      .map(s => s -> Harness.median(stageRuns.map(_(s)).toSeq)).toMap
    val wallS = Harness.median(walls.toSeq) / 1e3
    val e2e = Map("wall_s" -> wallS,
      "op_p50_ms" -> Harness.median(stageMed.values.toSeq))
    val readings = Map("wall_s" -> wallS, "rows_per_s" -> nRows / wallS,
      "runs" -> walls.size.toDouble,
      "failed_frac" -> (if (allFailures.isEmpty) 0.0 else 1.0),
      "trend_first_last" -> walls.head / walls.last)
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        tracer.settle()
        val generic = tracer.layerMetrics(
          (t, _) => t >= winStart && t <= winEnd, windowS, 4)
        val perRun = generic.map { case (k, v) =>
          k -> (if (k == "exec.busy_ratio") v else v / walls.size) }
        val keep = (("input" +: stages) zip stages).map { case (in, out) =>
          s"Curation.${out}_keep" -> counts(out).toDouble / math.max(1L, counts(in))
        }
        perRun ++ keep ++ stageMed.map { case (s, ms) => s"Curation.${s}_ms" -> ms } ++
          Map("driver.plan_ms" -> tracer.planMs(winStart, winEnd) / walls.size)
      }
    cleanup(rep)
    Outcome(walls.size, if (allFailures.isEmpty) 0 else 1, e2e, readings,
      layers, allFailures,
      Map("run_walls_ms" -> walls.toSeq, "rows" -> counts))
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** The staged run row-equals the in-memory composition
    * (`Curation.pipeline`), checked stage by stage: each stage function
    * applied to the job's previous checkpoint row-equals the job's next
    * checkpoint, and the pack step over the last one row-equals the
    * sink. Then every planted duplicate and contaminated document is
    * gone after decontamination, and no planted span is left in more
    * than one document after span removal. Returns the failures and
    * every checkpoint's row count. */
  private def check(spark: SparkSession, stg: String,
      sink: String): (Seq[String], Map[String, Long]) = {
    val bad = ArrayBuffer.empty[String]
    val read = (p: String) => spark.read.parquet(p)
    val tag = s"perfbench-check|${java.util.UUID.randomUUID()}"
    val bench = read(benchDir)
    val fns: Seq[(String, DataFrame => DataFrame)] = Seq(
      "1_url" -> Curation.urlStage,
      "2_exact" -> Curation.exactStage,
      "3_neardup" -> (d => Curation.nearDupStage(d, tag)),
      "4_decon" -> (d => Curation.deconStage(d, bench, tag)),
      "5_substr" -> Curation.substringStage,
      "6_quality" -> Curation.qualityStage,
      "7_mix" -> (d => Curation.mixStage(d, budget)))
    var prev = read(inputDir)
    for ((s, f) <- fns) {
      val got = read(s"$stg/$s")
      if (rowsOf(f(prev)) != rowsOf(got))
        bad += s"curation: checkpoint $s differs from its stage function over the previous checkpoint"
      prev = got
    }
    val out = read(sink)
    if (rowsOf(Curation.packStage(prev)) != rowsOf(out))
      bad += "curation: the sink differs from Curation.packStage over 7_mix"
    val counts = Map("input" -> read(inputDir).count()) ++
      stages.map(s => s -> read(s"$stg/$s").count()).toMap + ("pack" -> out.count())
    if (counts("pack") == 0) bad += "curation: nothing kept"

    import spark.implicits._
    val decon = read(s"$stg/4_decon").select("doc_id").as[Long].collect().toSet
    val left = plantedGone.count(decon)
    if (left > 0) bad += s"curation: $left planted duplicates or contaminated docs kept"
    val substr = read(s"$stg/5_substr").select("text").as[String].collect()
      .map(t => s" $t ")
    val repeated = spans.count(sp => substr.count(_.contains(s" $sp ")) > 1)
    if (repeated > 0) bad += s"curation: $repeated planted spans kept twice"
    (bad.toSeq, counts)
  }
}
