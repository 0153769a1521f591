package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload: the unit its latency metrics pool.
  * A failed op keeps its record (it counts as attempted and failed) but
  * contributes no timing to any metric.
  */
final case class OpRecord(kind: String, name: String, seconds: Double,
    ok: Boolean, error: String, startMs: Long, endMs: Long, pass: Int = -1)

/** A traced interval. `layer` names the module the benchmark called into
  * (or `engine.*` for intervals Spark reported); `parent` is the enclosing
  * span's id (-1 for a root), `op` the id of the op it belongs to.
  */
final case class Span(id: Int, name: String, layer: String, startMs: Long,
    endMs: Long, parent: Int, op: Int)

/** Runs ops in a closed loop (one client: the next op starts when the last
  * returns) and, when tracing, records spans around the benchmark's calls
  * into the engine's layers. Untraced, `span` is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var open: List[Int] = Nil
  private var opId = -1
  private var nextOp = 0

  /** Times `body` as one op; a throw is recorded as a failure, not a time. */
  def op(kind: String, name: String)(body: => Unit): OpRecord = {
    opId = nextOp; nextOp += 1
    val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
    val err = try { span(s"op.$kind", "bench")(body); null }
      catch { case NonFatal(e) => Option(e.getMessage).getOrElse(e.toString) }
    OpRecord(kind, name, (System.nanoTime() - t0) / 1e9, err == null,
      err, ms0, System.currentTimeMillis())
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, name, layer, System.currentTimeMillis(), -1L, parent, opId)
      open = id :: open
      try body finally {
        open = open.tail
        spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
      }
    }

  /** Adds an interval measured elsewhere (a micro-batch, a Spark job). */
  def record(name: String, layer: String, startMs: Long, endMs: Long,
      parent: Int): Int = {
    val id = spans.size
    val op = if (parent >= 0) spans(parent).op else -1
    spans += Span(id, name, layer, startMs, endMs, parent, op)
    id
  }

  /** Id of the innermost span of `among` containing [s, e] (-1 if none). */
  def enclosing(s: Long, e: Long, among: Iterable[Span]): Int = {
    val c = among.filter(x => x.startMs <= s && e <= x.endMs)
    if (c.isEmpty) -1 else c.maxBy(x => (x.startMs, -x.endMs)).id
  }
}

object Tracer {
  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every layer: each span's duration minus the part of it
    * its children cover, summed per layer, in seconds.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val inner = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter { case (a, b) => b > a }
        (s.endMs - s.startMs) - covered(inner)
      }.sum / 1000.0
    }
  }
}

/** Spark's public listeners, owned by the benchmark: per job, its stages,
  * tasks and task metrics; per action, its Catalyst phase times. Events
  * carry wall-clock times, so they are attributed to ops by interval.
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var stages = 0; var tasks = 0
    var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[EngineListener.Plan]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time)
    j.stages = e.stageInfos.size
    e.stageIds.foreach(stageJob.put(_, j))
    jobs.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
      j.synchronized {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ps = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (ps.nonEmpty)
      plans.add(EngineListener.Plan(ps.map(_.startTimeMs).min, ps.map(_.endTimeMs).max,
        ps.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)
}

object EngineListener {
  /** One action's Catalyst analysis + optimization + planning. */
  final case class Plan(startMs: Long, endMs: Long, planMs: Long)

  def attach(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def detach(spark: SparkSession, l: EngineListener): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}
