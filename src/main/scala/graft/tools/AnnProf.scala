package graft.tools

/** Dev utility: decompose the cold `q_ann_recall` cost stage by
  * stage. One cold sequence runs the ANN queries WITHOUT clearing
  * caches in between, so each increment isolates one memoized stage:
  *   q_ann_lsh    = fused index build + LSH probe/rank
  *   q_ann_ivf    = IVF probe/rank only (index cached)
  *   q_ann_fused  = RRF fusion only (both lists cached)
  *   q_ann_recall = exact truth list + audit join only
  * Usage: sbt "runMain graft.tools.AnnProf [sfDir] [reps]"
  */
object AnnProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = graft.engine.Tables.builder("graft-ann-prof").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val seq = Seq("q_ann_lsh", "q_ann_ivf", "q_ann_fused", "q_ann_recall")
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup (JIT/codegen) on the small fixture, then on the target
    Seq("/root/testdata/sf0.001", sfDir).foreach { d =>
      spark.sqlContext.clearCache()
      seq.foreach(n =>
        graft.SparkEntry.queries(n)(spark, d)
          .write.format("noop").mode("overwrite").save())
    }
    val rows = (1 to reps).map { _ =>
      spark.sqlContext.clearCache()
      seq.map(once)
    }
    val med = rows.transpose.map(ss => graft.Bench.median(ss))
    seq.zip(med).foreach { case (n, m) =>
      println(f"$n%-14s incr=$m%7.3f s")
    }
    println(f"cold q_ann_recall total = ${med.sum}%7.3f s")
    // and the all-in-one number, same method as Bench
    val solo = (1 to reps).map { _ =>
      spark.sqlContext.clearCache()
      once("q_ann_recall")
    }
    println(f"q_ann_recall solo-cold  = ${graft.Bench.median(solo)}%7.3f s")

    // per-job decomposition of ONE cold solo run: every Spark job's
    // wall time + what it computed (broadcast builds, shuffle-map
    // stages, the final action), to show where the fixed overhead
    // concentrates — tiny-SF ANN cost is scheduling, not compute
    val jobs = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long, String)]
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = e.stageInfos.map(s => s"${s.stageId}:${s.name.takeWhile(_ != ' ')}x${s.numTasks}")
          .mkString(" ")
        starts.put(e.jobId, (e.time, desc))
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val run = s.taskMetrics.executorRunTime
        val cpu = s.taskMetrics.executorCpuTime / 1000000
        stageInfo.put(s.stageId, s"stage ${s.stageId} run=${run}ms cpu=${cpu}ms")
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, desc) =>
          jobs.synchronized { jobs += ((e.jobId, t0, e.time, desc)) }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sqlContext.clearCache()
    val w0 = System.nanoTime()
    once("q_ann_recall")
    val wall = (System.nanoTime() - w0) / 1e9
    Thread.sleep(500) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    val sorted = jobs.sortBy(_._2)
    val t00 = sorted.headOption.map(_._2).getOrElse(0L)
    sorted.foreach { case (id, t0, t1, desc) =>
      val d = desc.replaceAll("\\s+", " ").take(90)
      println(f"job $id%3d  +${(t0 - t00) / 1e3}%7.3f s  dur=${(t1 - t0) / 1e3}%6.3f s  $d")
    }
    import scala.jdk.CollectionConverters._
    stageInfo.asScala.toSeq.sortBy(_._1).foreach(kv => println(kv._2))
    println(f"jobs=${sorted.length} sum=${sorted.map(j => j._3 - j._2).sum / 1e3}%.3f s wall=$wall%.3f s")
    spark.stop()
  }
}
