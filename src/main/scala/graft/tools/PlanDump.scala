package graft.tools

/** Dev utility: dump `explain("formatted")` for a list of queries to
  * files — the plan evidence the optimization rounds commit under
  * plans/rNN/. Usage:
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]"
  * writes <outDir>/<query>_<suffix>.txt per query (default: every
  * headline query).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args(3).split(',').toSeq else graft.Bench.headline
    val spark = graft.engine.Tables.builder("graft-plan-dump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
