package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Dev measurement utility (optimization guide §1/§7.2): run a query
  * once (after Bench-style warmups) and print the EXECUTED plan's
  * per-operator SQLMetrics — aggregation build time, sort time, spill
  * bytes, output rows — walking through AQE final plans and into the
  * cached build plans behind InMemoryTableScans. This attributes task
  * CPU to OPERATORS where [[StageProbe]]'s stage table can only
  * attribute it to stage ids.
  *
  * Usage: sbt "runMain graft.tools.OpProbe <sfDir> <q1,q2,...> [minMs]"
  */
object OpProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = args(1).split(',').toSeq
    val minMs = if (args.length > 2) args(2).toLong else 20L
    val spark = graft.engine.Tables.builder("graft-op-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to 2).foreach { _ =>
        spark.sqlContext.clearCache()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      spark.sqlContext.clearCache()
      val df = fn(spark, sfDir)
      val t0 = System.nanoTime()
      // execute THIS queryExecution (a noop write plans its own twin
      // tree whose metrics we could not read back): toRdd computes
      // every column of every row like the noop sink, minus the write
      df.queryExecution.toRdd.foreachPartition(
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
          it.foreach(_ => ()))
      println(f"== $n wall=${(System.nanoTime() - t0) / 1e9}%.3f s " +
        s"(per-operator metrics >= ${minMs}ms / >0 rows-bytes)")
      val seenCaches =
        java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
      def fmt(tpe: String, v: Long): String = tpe match {
        case "timing" => s"${v}ms"
        case "nsTiming" => f"${v / 1e6}%.0fms"
        case "size" => s"${v / 1024}K"
        case _ => v.toString
      }
      def walk(p: SparkPlan, depth: Int): Unit = {
        val interesting = p.metrics.toSeq.filter { case (_, m) =>
          m.metricType match {
            case "timing" => m.value >= minMs
            case "nsTiming" => m.value >= minMs * 1000000L
            case "size" | "sum" => m.value > 0
            case _ => m.value > 0
          }
        }
        val show = interesting
          .sortBy { case (_, m) => -(m.metricType match {
            case "nsTiming" => m.value / 1000000L
            case "timing" => m.value
            case _ => 0L }) }
          .map { case (k, m) =>
            s"$k=${fmt(m.metricType, m.value)}" }.mkString(" ")
        println("  " + ("  " * depth) + p.nodeName +
          (if (show.nonEmpty) s" [$show]" else ""))
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
          case q: QueryStageExec => walk(q.plan, depth + 1)
          case im: InMemoryTableScanExec =>
            if (seenCaches.add(im.relation)) {
              println("  " + ("  " * (depth + 1)) + "(cached build plan:)")
              walk(im.relation.cachedPlan, depth + 1)
            }
          case _ => p.children.foreach(walk(_, depth + 1))
        }
      }
      walk(df.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }
}
