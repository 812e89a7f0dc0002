package graft.perfbench

/** The cost profile the `queries` subset is drawn from: every
  * `graft.Bench.headline` query over `--data`, at the benchmark's own
  * settings (`local[4]`, cold memos before every
  * sample, `noop` sink). First a probe pass over `--fixture` (the
  * committed fixture, which holds fewer tables than `--data`) records
  * which queries run on it; then one untimed pass and `--passes`
  * timed passes over `--data` in a seeded order. Writes each query's
  * median, whether it runs on the fixture and its DuckDB oracle SQL.
  *
  *   HeadlineProfile --data <sf dir> --fixture <fixture dir>
  *                   --passes N --out <json>
  *
  * Run through perfbench/profile_headline.py, which also applies the
  * selection rule.
  */
object HeadlineProfile {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val data = opts("--data")
    val passes = opts.getOrElse("--passes", "3").toInt
    val spark = Harness.session("headline", hive = false)
    val qs = graft.Bench.headline
    val samples = qs.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val onFixture = qs.map { n =>
      Harness.clearMemos(spark)
      n -> (try {
        graft.SparkEntry.queries(n)(spark, opts("--fixture"))
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case _: Exception => false })
    }.toMap
    val rnd = new scala.util.Random(42)
    for (pass <- 0 to passes) {
      rnd.shuffle(qs).foreach { n =>
        Harness.clearMemos(spark)
        val t0 = Harness.now()
        graft.SparkEntry.queries(n)(spark, data)
          .write.format("noop").mode("overwrite").save()
        if (pass > 0) samples(n) += Harness.msSince(t0)
      }
      System.err.println(s"[profile] pass $pass done")
    }
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("--out")),
      Json(Map(
        "passes" -> passes,
        "medians_ms" -> qs.map(n => n -> Harness.median(samples(n).toSeq)).toMap,
        "runs_on_fixture" -> onFixture,
        "oracle_sql" -> qs.map(n => n -> oracle(n)).toMap)))
    spark.stop()
    System.exit(0)
  }
}
