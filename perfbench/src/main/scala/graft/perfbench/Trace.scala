package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One span: a timed interval at a layer boundary. Times are epoch
  * milliseconds; `parent` is the id of the enclosing span (-1 at the
  * root). All spans of one run share the tracer's run id. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int)

/** Per-task readings from the benchmark's SparkListener. */
final case class TaskRec(endMs: Long, group: String, runMs: Long,
    deserMs: Long, resultSerMs: Long, schedDelayMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)

/** One query execution's driver phases (analysis, optimization,
  * planning), from `QueryExecution.tracker`. */
final case class PlanRec(startMs: Long, planMs: Long)

/** Spans plus the three benchmark-owned listeners. Constructed with
  * `enabled = false` in untraced runs, where every call is a no-op
  * and nothing is registered with Spark. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  def wallMs(): Double = System.nanoTime() / 1e6 - Tracer.nanoToEpochMs

  /** Record an interval measured elsewhere; returns its id. */
  def record(name: String, startMs: Double, endMs: Double,
      parent: Int = -1): Int =
    if (!enabled) -1 else synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, name, startMs, endMs, parent)
      id
    }

  /** Time `f` as a span named `name` under `parent`. The id is
    * reserved before `f` runs, so children recorded inside can point
    * at it. */
  def span[T](name: String, parent: Int = -1)(f: Int => T): T =
    if (!enabled) f(-1)
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val t0 = wallMs()
      try f(id)
      finally synchronized { spans += Span(id, name, t0, wallMs(), parent) }
    }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  // --- listeners ------------------------------------------------------

  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[(Long, String)] // (start ms, job group)
  val stages = ArrayBuffer.empty[(Long, String)] // (completion ms, group)
  val plans = ArrayBuffer.empty[PlanRec]
  val progress = ArrayBuffer.empty[(Long, StreamingQueryProgress)]

  private val stageGroup =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      e.stageIds.foreach(stageGroup.put(_, g))
      Tracer.this.synchronized { jobs += ((e.time, g)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val g = Option(stageGroup.get(e.stageInfo.stageId)).getOrElse("")
      val t = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      Tracer.this.synchronized { stages += ((t, g)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        val g = Option(stageGroup.get(e.stageId)).getOrElse("")
        val run = m.executorRunTime
        val deser = m.executorDeserializeTime
        val ser = m.resultSerializationTime
        // the UI's scheduler delay: task duration not spent running,
        // deserializing, serializing or fetching the result
        val delay = math.max(0L,
          i.duration - run - deser - ser - i.gettingResultTime)
        val rec = TaskRec(i.finishTime, g, run, deser, ser, delay,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        Tracer.this.synchronized { tasks += rec }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = recordPlan(qe)
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val sel = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (sel.nonEmpty) {
      val rec = PlanRec(sel.map(_.startTimeMs).min, sel.map(_.durationMs).sum)
      synchronized { plans += rec }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        progress += ((System.currentTimeMillis(), e.progress))
      }
  }

  private var attachedTo: Option[SparkSession] = None

  /** Register the three listeners (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled && attachedTo.isEmpty) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attachedTo = Some(spark)
  }

  def detach(): Unit = attachedTo.foreach { spark =>
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attachedTo = None
  }

  /** Let the asynchronous listener buses catch up before reading the
    * counters: wait until the task count stops changing. */
  def settle(): Unit = if (enabled) {
    var last = -1
    var n = synchronized(tasks.size + plans.size + progress.size)
    var rounds = 0
    while (n != last && rounds < 40) {
      Thread.sleep(100)
      last = n
      n = synchronized(tasks.size + plans.size + progress.size)
      rounds += 1
    }
  }

  /** The generic scheduler and operator layer metrics over the tasks,
    * jobs and stages that match `keep` (by time and job group). */
  def layerMetrics(keep: (Long, String) => Boolean, wallS: Double,
      cores: Int): Map[String, Double] = synchronized {
    val ts = tasks.filter(t => keep(t.endMs, t.group))
    val mb = 1024.0 * 1024.0
    val taskMs = ts.map(_.runMs).sum.toDouble
    Map(
      "sched.jobs" -> jobs.count { case (t, g) => keep(t, g) }.toDouble,
      "sched.stages" -> stages.count { case (t, g) => keep(t, g) }.toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.task_overhead_ms" ->
        ts.map(t => t.deserMs + t.schedDelayMs + t.resultSerMs).sum.toDouble,
      "exec.task_ms" -> taskMs,
      "exec.busy_ratio" ->
        (if (wallS > 0) taskMs / (wallS * 1000.0 * cores) else 0.0),
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / mb,
      "exec.shuffle_read_mb" -> ts.map(_.shuffleReadBytes).sum / mb,
      "exec.spill_mb" -> ts.map(_.spillBytes).sum / mb)
  }

  def planMs(fromMs: Double, toMs: Double): Double = synchronized {
    plans.filter(p => p.startMs >= fromMs && p.startMs <= toMs)
      .map(_.planMs).sum.toDouble
  }

  def jobsIn(group: String, fromMs: Double, toMs: Double): Int =
    synchronized {
      jobs.count { case (t, g) => g == group && t >= fromMs && t <= toMs }
    }

  /** Write every span once, at the end of the run. */
  def write(path: java.io.File): Unit = if (enabled) {
    val body = Json(Map(
      "run_id" -> runId,
      "spans" -> allSpans.map(s => Map("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent, "run_id" -> runId))))
    path.getParentFile.mkdirs()
    java.nio.file.Files.writeString(path.toPath, body)
  }
}

object Tracer {
  /** Offset that turns `System.nanoTime` into epoch milliseconds, so
    * span times line up with Spark's listener event times. */
  private val nanoToEpochMs: Double =
    System.nanoTime() / 1e6 - System.currentTimeMillis()
}
