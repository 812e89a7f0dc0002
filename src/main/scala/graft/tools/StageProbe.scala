package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev measurement utility (optimization guide §1): run queries with a
  * SparkListener attached and print a per-stage breakdown — stage wall
  * clock, summed task time, task count, shuffle read/write and input
  * bytes — plus the job/stage totals. The point is to see WHERE a
  * query's wall-clock goes at bench scale: at sf0.1 most headline
  * queries are fixed-overhead-bound (stage count × scheduling), so the
  * stage table shows which exchanges/persists to attack first.
  *
  * Usage: sbt "runMain graft.tools.StageProbe <sfDir> <q1,q2,...> [reps]"
  */
object StageProbe {
  private case class St(var name: String = "", var where: String = "",
      var submitted: Long = 0L, var completed: Long = 0L,
      var tasks: Int = 0, var taskTime: Long = 0L,
      var shufRead: Long = 0L, var shufWrite: Long = 0L,
      var input: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 1) args(1).split(',').toSeq else graft.Bench.headline
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.engine.Tables.builder("graft-stage-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = mutable.LinkedHashMap.empty[Int, St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          s.name = e.stageInfo.name
          // first graft frame in the callsite details, if any — far more
          // informative than the action-callsite stage name
          s.where = e.stageInfo.details.split('\n')
            .find(l => l.contains("graft.") && !l.contains("StageProbe"))
            .getOrElse("").trim.take(80)
          s.submitted = System.currentTimeMillis()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          s.name = e.stageInfo.name
          s.tasks = e.stageInfo.numTasks
          s.completed = System.currentTimeMillis()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        synchronized {
          val s = stages.getOrElseUpdate(e.stageId, St())
          val m = e.taskMetrics
          if (m != null) {
            s.taskTime += m.executorRunTime
            s.shufRead += m.shuffleReadMetrics.totalBytesRead
            s.shufWrite += m.shuffleWriteMetrics.bytesWritten
            s.input += m.inputMetrics.bytesRead
          }
        }
    }

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to 2).foreach { _ => // warmup (Bench methodology)
        spark.sqlContext.clearCache()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      // Catalyst phase times of a fresh plan build (analysis /
      // optimization / planning) — the driver-side cost a stage table
      // cannot show
      locally {
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan // force the full compile
        val ph = df.queryExecution.tracker.phases.toSeq
          .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
          .sorted.mkString(" ")
        println(s"-- $n plan phases: $ph")
      }
      (1 to reps).foreach { rep =>
        synchronized { stages.clear(); jobs = 0 }
        spark.sparkContext.addSparkListener(listener)
        spark.sqlContext.clearCache()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        // copy the St itself (not the Tuple2 — that aliases the
        // mutable listener state, ADVICE r21)
        val snap = synchronized {
          (stages.toSeq.map { case (id, s) => (id, s.copy()) }, jobs)
        }
        val (ss, nj) = ((snap._1.map { case (id, s) => (id, s) }), snap._2)
        val stageWall = ss.map { case (_, s) =>
          math.max(0L, s.completed - s.submitted) }.sum / 1000.0
        val taskT = ss.map(_._2.taskTime).sum / 1000.0
        println(f"== $n rep=$rep wall=$wall%.3f s jobs=$nj stages=${ss.size} " +
          f"stageWallSum=$stageWall%.3f s taskTimeSum=$taskT%.3f s")
        ss.sortBy { case (_, s) => -(s.completed - s.submitted) }
          .take(20).foreach { case (id, s) =>
            val w = math.max(0L, s.completed - s.submitted) / 1000.0
            println(f"   stage $id%4d wall=$w%7.3f task=${s.taskTime / 1000.0}%7.3f " +
              f"n=${s.tasks}%3d in=${s.input / 1024}%8dK sr=${s.shufRead / 1024}%7dK " +
              f"sw=${s.shufWrite / 1024}%7dK [${s.name.take(40)}] ${s.where}")
          }
      }
    }
    spark.stop()
  }
}
