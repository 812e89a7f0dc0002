package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One timed query sample; times in epoch ms, durations in ms. */
final case class Sample(totalMs: Double, buildMs: Double, startMs: Double,
    buildEndMs: Double, endMs: Double)

/** `queries`: a fixed subset of the `graft.Bench` headline over the
  * committed seed-42 sf0.1 fixture, from one closed-loop client, with
  * interleaved passes and the `noop` sink. The seed permutes the query
  * order of every pass; the inputs are the fixture.
  *
  * Before the timed passes each query runs once untimed and its output
  * is written as parquet; run.py digests those outputs and compares
  * them with the committed DuckDB oracle digests. Every timed sample
  * starts from cold memos ([[Harness.clearMemos]]).
  */
final class QueriesWorkload(data: String, work: String, seed: Long)
    extends Workload {
  val name = "queries"

  /** The measured subset and the engine module each query's
    * `SparkEntry.queries` entry calls (`Module.fn`), heaviest first: a
    * cost-stratified sample of the headline, drawn by
    * perfbench/profile_headline.py from the per-query medians of a full
    * headline profile at these settings (perfbench/profile/
    * headline_local4.json; the rule and the shares it keeps are in
    * perfbench/METRICS.md). */
  val set: Seq[(String, String)] = Seq(
    "q_jaccard_prefix" -> "Dedup",
    "q_rfm_sharded" -> "Relational",
    "q_bigram_ppl" -> "TextOps",
    "q_url_canonical" -> "UrlOps",
    "q_cosine_topk" -> "Similarity",
    "q_media_meta" -> "Multimodal")

  val modules: Seq[String] = set.map(_._2).distinct

  private val failedQueries = scala.collection.mutable.LinkedHashSet.empty[String]

  def inputs(spark: SparkSession): Unit = ()

  /** Per-session set-up: load the fixture tables (file listing and
    * parquet footers). */
  def setup(spark: SparkSession): Unit = {
    Seq("orders", "customer", "documents", "embeddings")
      .foreach(t => graft.engine.Tables(spark, data, t).schema)
    Harness.clearMemos(spark)
  }

  private def fn(n: String) = graft.SparkEntry.queries(n)

  /** The warm-up, led by the correctness pass: each output to
    * `<work>/outputs/<q>` for run.py's digest check. One more pass
    * through the noop sink follows. The timed passes need no explicit
    * GC before them: with a `System.gc()` there, the first timed pass
    * ran up to 1.35× the last while the heap grew back. */
  def warmup(spark: SparkSession): Unit = {
    def timed(what: String, n: String)(f: => Unit): Unit = {
      val t0 = Harness.now()
      f
      System.err.println(f"[perfbench] warm-up $what $n: ${Harness.msSince(t0)}%.0f ms")
    }
    set.foreach { case (n, _) =>
      Harness.clearMemos(spark)
      try timed("check", n) {
        fn(n)(spark, data).write.mode("overwrite").parquet(s"$work/outputs/$n")
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        failedQueries += n
      }
    }
    for ((n, _) <- set if !failedQueries(n)) {
      Harness.clearMemos(spark)
      timed("noop", n) {
        fn(n)(spark, data).write.format("noop").mode("overwrite").save()
      }
    }
  }

  def measure(spark: SparkSession, seconds: Double, tracer: Tracer): Outcome = {
    val live = set.filterNot { case (n, _) => failedQueries(n) }
    val samples = live.map(_._1).map(_ -> ArrayBuffer.empty[Sample]).toMap
    val passTotals = ArrayBuffer.empty[Double]
    val rnd = new scala.util.Random(seed)
    val t0 = Harness.now()
    val winStart = tracer.wallMs()
    // whole passes while the next one, at the mean pass time so far,
    // ends inside the window; at least 2
    def another(pass: Int): Boolean = pass < 2 ||
      Harness.msSince(t0) * (pass + 1) / pass <= seconds * 1000
    var pass = 0
    tracer.span("queries.run") { runSpan =>
      while (another(pass)) {
        var passMs = 0.0
        tracer.span(s"queries.pass.$pass", runSpan) { passSpan =>
          rnd.shuffle(live).foreach { case (n, module) =>
            Harness.clearMemos(spark)
            spark.sparkContext.setJobGroup(n, s"perfbench $n")
            tracer.span(s"$module.$n", passSpan) { qSpan =>
              val s0 = tracer.wallMs()
              val q0 = Harness.now()
              try {
                val df = tracer.span("driver.build", qSpan) { _ =>
                  fn(n)(spark, data)
                }
                val b = Harness.msSince(q0)
                val bEnd = tracer.wallMs()
                tracer.span("exec.noop_write", qSpan) { _ =>
                  df.write.format("noop").mode("overwrite").save()
                }
                val ms = Harness.msSince(q0)
                passMs += ms
                samples(n) += Sample(ms, b, s0, bEnd, tracer.wallMs())
              } catch { case e: Throwable =>
                System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
                failedQueries += n
              }
            }
            spark.sparkContext.clearJobGroup()
          }
        }
        passTotals += passMs
        pass += 1
      }
    }
    val wallS = Harness.msSince(t0) / 1e3
    val winEnd = tracer.wallMs()

    val ok = live.filterNot { case (n, _) => failedQueries(n) }
    val med = ok.map { case (n, _) =>
      n -> Harness.median(samples(n).map(_.totalMs).toSeq) }.toMap
    val medians = ok.map { case (n, _) => med(n) }
    val e2e = Map(
      "wall_s" -> medians.sum / 1e3,
      "op_p50_ms" -> Harness.pct(medians, 50))
    val readings = Map(
      "wall_s" -> medians.sum / 1e3,
      "op_p90_ms" -> Harness.pct(medians, 90),
      "geomean_ms" -> Harness.geomean(medians),
      "failed_frac" -> failedQueries.size.toDouble / set.size,
      "trend_first_last" -> passTotals.head / passTotals.last,
      "passes" -> pass.toDouble)

    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        tracer.settle()
        def medOf(n: String)(f: Sample => Double): Double =
          Harness.median(samples(n).map(f).toSeq)
        val build = ok.map { case (n, _) => medOf(n)(_.buildMs) }.sum
        val plan = ok.map { case (n, _) =>
          medOf(n)(s => tracer.planMs(s.startMs, s.endMs)) }.sum
        val eager = ok.map { case (n, _) =>
          medOf(n)(s => tracer.jobsIn(n, s.startMs, s.buildEndMs).toDouble)
        }.sum
        val jobsPerQuery = ok.map { case (n, _) =>
          n -> medOf(n)(s => tracer.jobsIn(n, s.startMs, s.endMs).toDouble)
        }.toMap
        val perModule = modules.flatMap { m =>
          val qs = ok.filter(_._2 == m).map(_._1)
          Seq(s"$m.wall_s" -> qs.map(med).sum / 1e3,
            s"$m.jobs" -> qs.map(jobsPerQuery).sum)
        }
        val names = ok.map(_._1).toSet
        val generic = tracer.layerMetrics(
          (t, g) => names(g) && t >= winStart && t <= winEnd, wallS, 4)
        // counts and times per pass, so runs with different pass
        // counts compare; the busy ratio is already a ratio
        val perPass = generic.map { case (k, v) =>
          k -> (if (k == "exec.busy_ratio") v else v / pass) }
        Map("driver.build_ms" -> build, "driver.plan_ms" -> plan,
          "driver.eager_jobs" -> eager) ++ perPass ++ perModule
      }
    Outcome(set.size, failedQueries.size, e2e, readings, layers,
      failedQueries.toSeq.map(n => s"$n: query failed"),
      Map("failed_queries" -> failedQueries.toSeq,
        "query_medians_ms" -> med, "pass_totals_ms" -> passTotals.toSeq))
  }
}
