package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query micro-profiler (Test/runMain graft.PerfProbe [sfDir] [query...]).
  *
  * Named queries run three times (cold, warm, warm2) through the noop sink;
  * with no query arguments every SparkEntry query runs once, in bench
  * order. Each run prints one line: wall time, the Spark jobs, stages and
  * tasks it submitted, the driver gap (wall time no job was running —
  * planning, codegen, commit bookkeeping), and the persisted RDDs / cached
  * MB left behind after it (cumulative, so an operator that pins cache
  * blocks past its call shows as a step). Named runs also print one line
  * per job with its duration and description, which carries the
  * `Phases.labeled` phase names of multi-job engine operations.
  *
  * `PROBE_CONF="k=v,k=v"` overlays Spark confs on the session at launch.
  */
object PerfProbe {
  private final case class Job(id: Int, start: Long, desc: String,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)

  /** Every job since the last `drain()`, with its completed stages/tasks. */
  private final class JobLog extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time, desc))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j => j.stages += 1; j.tasks += e.stageInfo.numTasks }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    def drain(): Seq[Job] = {
      Thread.sleep(200) // listener events arrive asynchronously
      val out = jobs.values().toArray(Array.empty[Job]).toSeq.sortBy(_.id)
      jobs.clear(); stageJob.clear()
      out
    }
  }

  /** Milliseconds covered by at least one job (concurrent jobs overlap). */
  private def busyMs(jobs: Seq[Job]): Long =
    jobs.filter(_.end > 0).sortBy(_.start)
      .foldLeft((0L, Long.MinValue)) { case ((busy, reach), j) =>
        (busy + (j.end - math.max(j.start, reach)).max(0L), math.max(reach, j.end))
      }._1

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val builder = GraftSession.builder().appName("graft-probe")
    sys.env.get("PROBE_CONF").foreach(_.split(',').filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)

    def probe(label: String, fn: (SparkSession, String) => DataFrame,
        perJob: Boolean): Unit = {
      log.drain()
      val t0 = System.nanoTime()
      val err = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); ""
      } catch { case e: Throwable => s"  FAILED ${String.valueOf(e.getMessage).take(80)}" }
      val wall = (System.nanoTime() - t0) / 1e9
      val jobs = log.drain()
      val cachedMB = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum >> 20
      println(f"[probe] $label%-34s ${wall}%7.2f s  jobs=${jobs.size}%3d " +
        f"stages=${jobs.map(_.stages).sum}%3d tasks=${jobs.map(_.tasks).sum}%5d " +
        f"driver-gap=${wall - busyMs(jobs) / 1e3}%6.2f s " +
        f"rdds=${sc.getPersistentRDDs.size}%3d cachedMB=$cachedMB%5d$err")
      if (perJob) jobs.foreach { j =>
        println(f"[job]     ${j.id}%4d ${(j.end - j.start).max(0L) / 1e3}%7.3f s " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(120)}")
      }
    }

    // the pinned Bench anchor, so a probe reading is host-normalizable
    // against any official BENCH_DETAIL artifact
    println(f"[probe] calibration anchor ${Bench.calibrationSec(spark)}%.3f s")
    val queries = args.drop(1)
    if (queries.nonEmpty) queries.foreach { q =>
      val fn = SparkEntry.queries(q)
      Seq("cold", "warm", "warm2").foreach(run => probe(s"$q $run", fn, perJob = true))
    }
    else SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
      probe(q, fn, perJob = false)
    }
    spark.stop()
  }
}
