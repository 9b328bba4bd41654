package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region around a call into the engine. `startMs`/`endMs`
  * are wall-clock (the clock Spark stamps its events with) and place
  * jobs and query plans inside the span; `wallNs` is the duration. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long, wallNs: Long)

/** Layer split of one span, derived from the events recorded inside it. */
final case class Layers(
    wallS: Double, planS: Double, jobs: Int, tasks: Int, execCpuS: Double, gcS: Double,
    scanMb: Double, shuffleWriteMb: Double, spillMb: Double, outputMb: Double, driverGapS: Double)

/** Span recorder plus the two Spark listeners that attribute each span's
  * seconds to Spark's layers: a `SparkListener` for jobs and stage task
  * metrics (compute, GC, scan, shuffle, spill, sink bytes) and a
  * `QueryExecutionListener` for the planning phases of every executed
  * query. Everything stays in memory; [[json]] writes it once at the end.
  *
  * The listeners are attached only around traced operations ([[attach]]
  * / [[detach]]), so untraced operations in the same run pay nothing and
  * their latency is the baseline for the tracing overhead. */
final class Tracer {
  // job and stage ids restart with every SparkContext: key them by context epoch too
  private final case class Job(epoch: Int, id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  private final case class Stage(tasks: Int, cpuNs: Long, gcMs: Long, inBytes: Long,
      shuffleWrite: Long, spill: Long, outBytes: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[(Int, Int), Job]
  private val stages = mutable.HashMap.empty[(Int, Int), Stage]
  private var context: org.apache.spark.SparkContext = _
  private var epoch = 0
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, planning ms)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open = List.empty[Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val j = Job(epoch, e.jobId, e.time, -1L, e.stageInfos.map(_.stageId))
      jobs += j
      jobById((epoch, e.jobId)) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get((epoch, e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages((epoch, si.stageId)) =
        if (m == null) Stage(si.numTasks, 0L, 0L, 0L, 0L, 0L, 0L)
        else Stage(si.numTasks, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty) Tracer.this.synchronized {
        plans += ((parts.map(_.startTimeMs).min, parts.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(spark: SparkSession): Unit = {
    if (spark.sparkContext ne context) synchronized {
      context = spark.sparkContext
      epoch += 1
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planning)
  }

  /** Wait for every event of the traced work, then stop listening. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(planning)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Record `body` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      open = open.tail
      synchronized { spans += Span(id, name, parent, startMs, System.currentTimeMillis(), wall) }
    }
  }

  /** Half-open, so a job or plan stamped in the millisecond where one
    * leaf span ends and the next begins is counted once, in the later. */
  private def inSpan(s: Span, ms: Long): Boolean = ms >= s.startMs && ms < s.endMs

  /** Leaf spans only: a parent's events belong to its children. */
  private def isLeaf(s: Span): Boolean = !spans.exists(_.parent == s.id)

  def layers(s: Span): Layers = synchronized {
    val js = if (isLeaf(s)) jobs.filter(j => inSpan(s, j.startMs)).toSeq else Nil
    val st = js.flatMap(j => j.stages.flatMap(id => stages.get((j.epoch, id))))
    // union of the jobs' intervals, clipped to the span: the rest of the
    // wall time is driver-side (planning, log replay, commit, result
    // handling) — the driver gap
    val iv = js.map(j => (j.startMs max s.startMs, (if (j.endMs < 0) s.endMs else j.endMs) min s.endMs))
      .sortBy(_._1)
    var busyMs = 0L
    var cur = Long.MinValue
    iv.foreach { case (a, b) =>
      val lo = a max cur
      if (b > lo) { busyMs += b - lo; cur = b }
    }
    val wallS = s.wallNs / 1e9
    val mb = 1024.0 * 1024.0
    Layers(
      wallS = wallS,
      planS = (if (isLeaf(s)) plans.filter(p => inSpan(s, p._1)).map(_._2).sum else 0L) / 1e3,
      jobs = js.size,
      tasks = st.map(_.tasks).sum,
      execCpuS = st.map(_.cpuNs).sum / 1e9,
      gcS = st.map(_.gcMs).sum / 1e3,
      scanMb = st.map(_.inBytes).sum / mb,
      shuffleWriteMb = st.map(_.shuffleWrite).sum / mb,
      spillMb = st.map(_.spill).sum / mb,
      outputMb = st.map(_.outBytes).sum / mb,
      driverGapS = math.max(0.0, wallS - busyMs / 1e3))
  }

  /** The whole trace as one JSON document: spans with their layer split,
    * and every recorded job with the span it ran in. */
  def json: String = synchronized {
    def spanJson(s: Span): String = {
      val l = layers(s)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"wall_s":${l.wallS},"plan_s":${l.planS},"jobs":${l.jobs},""" +
        s""""tasks":${l.tasks},"exec_cpu_s":${l.execCpuS},"gc_s":${l.gcS},"scan_mb":${l.scanMb},""" +
        s""""shuffle_write_mb":${l.shuffleWriteMb},"spill_mb":${l.spillMb},""" +
        s""""output_mb":${l.outputMb},"driver_gap_s":${l.driverGapS}}"""
    }
    def jobJson(j: Job): String = {
      val owner = spans.find(s => isLeaf(s) && inSpan(s, j.startMs)).fold(0)(_.id)
      s"""{"job":${j.id},"context":${j.epoch},"span":$owner,"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""stages":[${j.stages.mkString(",")}]}"""
    }
    s"""{"spans":[${spans.map(spanJson).mkString(",\n")}],\n"jobs":[${jobs.map(jobJson).mkString(",\n")}]}"""
  }
}
