package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.fixtures.RetailGen
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** What one measured section of a workload produced. `passes` are the
  * seconds of each repetition of the workload's fixed unit of work (a
  * backlog drain, a write-then-read step, a pass over the query slice).
  * `layers` holds the per-layer metrics and is filled only when traced.
  */
final case class Section(ops: Seq[OpRecord], passes: Seq[Double],
    layers: Map[String, Double], timings: Map[String, Double] = Map.empty)

final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: inputs made from the seed, an untimed warm-up, a measured
  * section that may run twice (untraced, then traced), and output checks.
  */
trait Workload {
  /** Generates the inputs; called several times so set-up time is a median. */
  def generate(): Unit
  /** Untimed: bootstraps state and pays first-use costs (class loading,
    * code generation) before timing starts.
    */
  def warm(): Unit
  def measure(tr: Tracer): Section
  /** Output checks, untimed, once per run. */
  def checks(): Seq[Check]
  /** Values a user sees that are not op latencies (bytes per row, ...). */
  def facts(): Map[String, Double] = Map.empty
  /** Query result dumps for the DuckDB oracle, by query name. */
  def outputs: Map[String, String] = Map.empty
  def oracleSql: Map[String, String] = Map.empty
}

object Workloads {
  val Names: Seq[String] = Seq("cdc_ingest", "query_suite")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long,
      seconds: Int, tiny: Boolean): Workload = name match {
    case "cdc_ingest" => new CdcIngest(spark, work, seed, seconds, tiny)
    case "query_suite" => new QuerySuite(spark, work, seed, seconds, tiny)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  // ---- shared pieces ----

  /** The transaction id the generator stamps on event `seqno`. */
  private val TxBase = 12884900000L

  /** Seeded CDC events as (seqno, JSON line), in source order. */
  def cdcEvents(spark: SparkSession, n: Long, seed: Long): Array[(Long, String)] =
    RetailGen.cdcJsonLines(spark, n, keySpace = math.max(1L, n / 4), seed = seed)
      .select((get_json_object(col("value"), "$.metadata.transaction-id")
        .cast("long") - TxBase).as("seqno"), col("value"))
      .orderBy("seqno").collect()
      .map(r => (r.getLong(0), r.getString(1)))

  def linesDf(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    lines.toDS().toDF("value")
  }

  private val EnvelopeSchema =
    "data STRUCT<trans_id: BIGINT, customer_id: STRING, event: STRING, " +
      "sku: STRING, amount: INT, device: STRING, trans_datetime: STRING>, " +
      "metadata STRUCT<operation: STRING, `transaction-id`: BIGINT>"

  /** The final table state the events imply, computed without the table
    * layer: per key, the last event in source order wins; a delete removes.
    */
  def lwwOracle(spark: SparkSession, lines: Seq[String]): DataFrame = {
    val env = linesDf(spark, lines)
      .select(from_json(col("value"), org.apache.spark.sql.types.DataType.fromDDL(EnvelopeSchema)).as("e"))
      .select(col("e.data.*"), col("e.metadata.operation").as("op"),
        col("e.metadata.`transaction-id`").as("tx"))
    env.withColumn("rn", row_number().over(
        Window.partitionBy("trans_id").orderBy(col("tx").desc)))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select("trans_id", "customer_id", "event", "sku", "amount", "device",
        "trans_datetime")
  }

  /** Table state vs the LWW oracle: rows only in the table, rows only in
    * the oracle, and the table's row count, in one action.
    */
  def checkTable(spark: SparkSession, name: String, table: MergeTable,
      lines: Seq[String]): Check = {
    val got = table.read(spark).select(col("trans_id"), col("customer_id"),
      col("event"), col("sku"), col("amount"), col("device"),
      date_format(col("trans_datetime"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .as("trans_datetime"))
    val want = lwwOracle(spark, lines)
    val n = got.exceptAll(want).withColumn("side", lit("extra"))
      .unionByName(want.exceptAll(got).withColumn("side", lit("missing")))
      .unionByName(got.withColumn("side", lit("rows")))
      .groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    Check(name, n("extra") == 0 && n("missing") == 0,
      s"rows=${n("rows")} extra=${n("extra")} missing=${n("missing")}")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s((s.length - 1) / 2) }

  def meanOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Engine metrics per op, from the jobs and plans whose start falls in
    * one of `windows` (an op's [start, end] in wall-clock ms).
    */
  def engineLayers(l: EngineListener, windows: Seq[(Long, Long)]): Map[String, Double] = {
    val jobs = l.jobs.values.asScala.toSeq
    val plans = l.plans.asScala.toSeq
    def in(t: Long) = windows.exists { case (s, e) => s <= t && t <= e }
    val js = jobs.filter(j => in(j.startMs))
    val n = math.max(1, windows.size).toDouble
    val driver = windows.map { case (s, e) =>
      val cov = Tracer.covered(jobs.filter(j => s <= j.startMs && j.startMs <= e)
        .map(j => (j.startMs, math.min(if (j.endMs < 0) e else j.endMs, e))))
      (e - s - cov) / 1000.0
    }
    Map(
      "sql.plan_s" -> plans.filter(p => in(p.startMs)).map(_.planMs).sum / 1000.0 / n,
      "sched.jobs" -> js.size / n,
      "sched.stages" -> js.map(_.stages).sum / n,
      "sched.tasks" -> js.map(_.tasks).sum / n,
      "driver.s" -> meanOf(driver),
      "exec.task_s" -> js.map(_.taskMs).sum / 1000.0 / n,
      "exec.cpu_s" -> js.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1000.0 / n,
      "exec.shuffle_bytes" -> js.map(_.shuffleBytes).sum / n,
      "exec.spill_bytes" -> js.map(_.spillBytes).sum / n,
      "exec.input_bytes" -> js.map(_.inputBytes).sum / n)
  }

  /** Records Spark's jobs and plans as `engine.*` spans under the innermost
    * benchmark span that contains them, then returns per-layer self times
    * per op as `self.<layer>_s`.
    */
  def selfLayers(tr: Tracer, l: EngineListener, nOps: Int): Map[String, Double] = {
    val bench = tr.spans.toList
    l.jobs.values.asScala.toSeq.sortBy(_.startMs).foreach { j =>
      val end = if (j.endMs < 0) j.startMs else j.endMs
      tr.record("job", "engine.job", j.startMs, end, tr.enclosing(j.startMs, end, bench))
    }
    l.plans.asScala.foreach { p =>
      tr.record("plan", "engine.plan", p.startMs, p.endMs,
        tr.enclosing(p.startMs, p.endMs, bench))
    }
    val n = math.max(1, nOps).toDouble
    val self = Tracer.selfTimes(tr.spans.toSeq)
    Seq("bench", "stream", "table", "queries", "engine.plan", "engine.job")
      .map(k => s"self.${k.replace('.', '_')}_s" -> self.getOrElse(k, 0.0) / n).toMap
  }

  /** Every per-layer metric name, so each workload reports all of them
    * (0 where the workload does not exercise that layer).
    */
  val LayerKeys: Seq[String] = Seq(
    "stream.trigger_s", "stream.add_batch_s", "stream.overhead_s",
    "table.apply_s", "table.commits_per_batch", "table.compactions",
    "table.compacting_batch_s", "table.bytes_written_per_input_byte",
    "table.read.count_s", "table.read.lookup_s", "table.read.range_s",
    "table.read.changes_s", "table.read.as_of_s", "table.pending_delete_files",
    "table.rows_scanned_per_row_returned",
    "transform.records", "transform.error_records",
    "sql.plan_s", "sched.jobs", "sched.stages", "sched.tasks", "driver.s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_bytes",
    "exec.spill_bytes", "exec.input_bytes",
    "self.bench_s", "self.stream_s", "self.table_s", "self.queries_s",
    "self.engine_plan_s", "self.engine_job_s")

  def withAllLayers(m: Map[String, Double]): Map[String, Double] =
    (LayerKeys ++ QuerySuite.Slice.map(q => s"query.${q}_s"))
      .map(k => k -> m.getOrElse(k, 0.0)).toMap ++ m
}

import Workloads._

/** CDC ingest, then reads of the ingested table. One pass drains a landed
  * backlog of Firehose-style micro-batch files through `CdcPipeline.start`
  * (AvailableNow, one file per trigger) into a fresh `MergeTable`, then
  * runs a fixed read set on that table. The backlog stops two
  * batches past the auto-compaction at ten delete files, so the reads take
  * the merge-on-read path with pending delete files.
  *
  * The unit op is one micro-batch; its latency is trigger start to commit
  * (freshness). Reads are ops too: they count as attempted and their
  * latencies are reported beside freshness.
  */
final class CdcIngest(spark: SparkSession, work: Path, seed: Long,
    seconds: Int, tiny: Boolean) extends Workload {
  private val perBatch = if (tiny) 200 else 2500
  private val batches = 12
  private val passes = math.max(1, math.round(seconds / 20.0).toInt)
  private val asOfLag = 3
  private val landing = work.resolve("landing")
  private var events: Array[(Long, String)] = Array.empty
  private var lastDrain: Path = _
  private var sections = 0

  def generate(): Unit = {
    events = cdcEvents(spark, perBatch.toLong * batches, seed)
    land(landing, events.map(_._2).grouped(perBatch).toSeq)
  }

  /** One file per micro-batch, modification times in batch order (the file
    * source takes files oldest first).
    */
  private def land(dir: Path, files: Seq[Array[String]]): Unit = {
    Files.createDirectories(dir)
    val t0 = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (b, i) =>
      val f = dir.resolve(f"batch-$i%05d.json")
      Files.write(f, b.toSeq.asJava)
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + i * 1000L))
    }
  }

  private def config(root: Path, from: Path) = CdcPipeline.Config(
    from.toString, root.resolve("table").toString,
    root.resolve("errors").toString, root.resolve("ckpt").toString,
    trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))

  def warm(): Unit = {
    val wl = work.resolve("warm-landing")
    land(wl, events.map(_._2).grouped(perBatch).take(1).toSeq)
    val root = work.resolve("warm")
    CdcPipeline.start(spark, config(root, wl)).awaitTermination()
    readSet(new Tracer(false), MergeTable.open(root.resolve("table").toString), 0)
  }

  /** The read set: a full count, a point lookup of ten seeded keys, a key
    * range, the last commit's change feed and a time-travel count.
    */
  private def readSet(tr: Tracer, table: MergeTable, round: Int): Seq[CdcIngest.Read] = {
    val rnd = new scala.util.Random(seed * 7919L + round)
    val ks = math.max(1L, events.length / 4L)
    val keys = Seq.fill(10)(1L + (rnd.nextDouble() * ks).toLong)
    val lo = 1L + (rnd.nextDouble() * ks).toLong
    val hi = lo + math.max(1L, ks / 100)
    val v = table.latestVersion
    def read(kind: String)(body: => Long): CdcIngest.Read = {
      val pending =
        if (tr.enabled) table.currentSnapshot.map(_.deleteFiles.size.toLong).getOrElse(0L)
        else 0L
      var returned = 0L
      val op = tr.op(s"read.$kind", s"read-$round") {
        returned = tr.span(s"table.read.$kind", "table")(body)
      }
      CdcIngest.Read(op, pending, returned)
    }
    Seq(
      read("count")(table.read(spark).count()),
      read("lookup")(table.lookup(spark, keys).collect().length.toLong),
      read("range")(table.readWhere(spark, "trans_id", lo, hi).collect().length.toLong),
      read("changes")(table.changesBetween(spark, v - 1, v).collect().length.toLong),
      read("as_of")(table.read(spark, Some(math.max(0L, v - asOfLag))).count()))
  }

  /** One pass: drain the backlog into a fresh table, then read it. */
  private def pass(tr: Tracer, n: Int): CdcIngest.Pass = {
    val root = work.resolve(s"drain-$sections-$n")
    lastDrain = root
    val t0 = System.nanoTime()
    val drained = try {
      tr.span("stream.drain", "stream") {
        val q = CdcPipeline.start(spark, config(root, landing))
        q.awaitTermination()
        Right(q.recentProgress.filter(_.numInputRows > 0).toSeq)
      }
    } catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
    val drainS = (System.nanoTime() - t0) / 1e9
    val batchOps = drained match {
      case Left(err) => Seq(OpRecord("batch", "drain", drainS, ok = false, err, 0L, 0L, n))
      case Right(ps) => ps.map { p =>
        val trig = p.durationMs.get("triggerExecution").longValue
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        OpRecord("batch", s"batch-${p.batchId}", trig / 1000.0, ok = true, null,
          start, start + trig, n)
      }
    }
    val table = MergeTable.open(root.resolve("table").toString)
    val reads = readSet(tr, table, n).map(r => r.copy(op = r.op.copy(pass = n)))
    CdcIngest.Pass(root, table, drained.getOrElse(Nil), batchOps, reads, drainS,
      (System.nanoTime() - t0) / 1e9)
  }

  def measure(tr: Tracer): Section = {
    sections += 1
    val listener = if (tr.enabled) Some(EngineListener.attach(spark)) else None
    val ps = (0 until passes).map(pass(tr, _))
    val batchOps = ps.flatMap(_.batchOps)
    val reads = ps.flatMap(_.reads)
    val ops = batchOps ++ reads.map(_.op)
    val layers = listener.map { l =>
      EngineListener.detach(spark, l)
      val jobs = l.jobs.values.asScala.toSeq
      val drainSpans = tr.spans.filter(_.name == "stream.drain").map(_.id)
      val progress = ps.flatMap(_.progress)
      val dm = progress.map(_.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      val trig = dm.map(_.getOrElse("triggerExecution", 0L) / 1000.0)
      val add = dm.map(_.getOrElse("addBatch", 0L) / 1000.0)
      val compactingS = ps.zip(drainSpans).flatMap { case (p, drainSpan) =>
        p.progress.foreach { pr =>
          val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
          val end = start + d.getOrElse("triggerExecution", 0L)
          val s = tr.record("stream.trigger", "stream", start, end, drainSpan)
          // addBatch (the foreachBatch body: transform + table apply) runs
          // after the offset, batch and planning phases of its trigger
          val pre = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")
            .flatMap(d.get).sum
          tr.record("table.apply", "table", start + pre,
            math.min(start + pre + d.getOrElse("addBatch", 0L), end), s)
        }
        // a compaction commit directly follows the merge commit of the
        // batch that triggered it
        val hist = p.table.history
        val compacting = hist.zip(hist.drop(1)).zip(hist.drop(2)).collect {
          case ((prev, m), c) if c.op == "compact" => m.appliedBatches -- prev.appliedBatches
        }.flatten.toSet
        p.progress.filter(pr => compacting(pr.batchId.toString))
          .map(_.durationMs.get("triggerExecution").longValue / 1000.0)
      }
      val hists = ps.map(_.table.history)
      def inWin(o: OpRecord) = jobs.filter(j => o.startMs <= j.startMs && j.startMs <= o.endMs)
      def medOf(kind: String) = medianOf(reads.filter(r => r.op.ok && r.op.kind == kind)
        .map(_.op.seconds))
      val probes = reads.filter(r => r.op.ok &&
        (r.op.kind == "read.lookup" || r.op.kind == "read.range"))
      val nBatches = math.max(1, progress.size).toDouble
      val drainWritten = ps.zip(drainSpans).map { case (_, id) =>
        val sp = tr.spans(id)
        jobs.filter(j => sp.startMs <= j.startMs && j.startMs <= sp.endMs)
          .map(_.outputBytes).sum
      }.sum
      withAllLayers(engineLayers(l, batchOps.filter(_.ok).map(o => (o.startMs, o.endMs))) ++
        selfLayers(tr, l, ops.size) ++ Map(
        "stream.trigger_s" -> medianOf(trig),
        "stream.add_batch_s" -> medianOf(add),
        "stream.overhead_s" -> medianOf(trig.zip(add).map { case (a, b) => a - b }),
        "table.apply_s" -> medianOf(add),
        "table.commits_per_batch" -> hists.map(_.size).sum / nBatches,
        "table.compactions" -> hists.map(_.count(_.op == "compact")).sum.toDouble / passes,
        "table.compacting_batch_s" -> medianOf(compactingS),
        "table.bytes_written_per_input_byte" ->
          drainWritten.toDouble / math.max(1L, dirBytes(landing) * passes),
        "table.read.count_s" -> medOf("read.count"),
        "table.read.lookup_s" -> medOf("read.lookup"),
        "table.read.range_s" -> medOf("read.range"),
        "table.read.changes_s" -> medOf("read.changes"),
        "table.read.as_of_s" -> medOf("read.as_of"),
        "table.pending_delete_files" -> meanOf(reads.map(_.pending.toDouble)),
        "table.rows_scanned_per_row_returned" ->
          probes.map(r => inWin(r.op).map(_.inputRecords).sum).sum.toDouble /
            math.max(1L, probes.map(_.returned).sum),
        "transform.records" -> progress.map(_.numInputRows).sum.toDouble / passes,
        "transform.error_records" -> ps.map(p => errorRecords(p.root.resolve("errors"))).sum
          .toDouble))
    }.getOrElse(Map.empty)
    Section(ops, ps.map(_.passS), layers, Map("drain_s" -> medianOf(ps.map(_.drainS))))
  }

  def checks(): Seq[Check] = {
    val table = MergeTable.open(lastDrain.resolve("table").toString)
    val errors = errorRecords(lastDrain.resolve("errors"))
    Seq(checkTable(spark, "cdc_ingest.final_state", table, events.map(_._2).toSeq),
      Check("cdc_ingest.error_sink", errors == 0, s"error_records=$errors"))
  }

  private def errorRecords(errorRoot: Path): Long =
    if (!Files.exists(errorRoot)) 0L else spark.read.parquet(errorRoot.toString).count()

  override def facts(): Map[String, Double] = {
    val table = MergeTable.open(lastDrain.resolve("table").toString)
    Map("events" -> events.length.toDouble,
      "table_bytes" -> dirBytes(lastDrain.resolve("table")).toDouble,
      "live_rows" -> table.read(spark).count().toDouble)
  }
}

object CdcIngest {
  /** One read of the set: the op, the delete files pending when it ran
    * (sampled only when tracing) and the rows it returned.
    */
  final case class Read(op: OpRecord, pending: Long, returned: Long)

  final case class Pass(root: Path, table: MergeTable,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      batchOps: Seq[OpRecord], reads: Seq[Read], drainS: Double, passS: Double)
}

/** The lake's SQL-surface slice of `SparkEntry.queries` over seeded tables,
  * each query forced through the `noop` sink, in a seed-permuted order
  * each pass. One op is one query.
  */
final class QuerySuite(spark: SparkSession, work: Path, seed: Long,
    seconds: Int, tiny: Boolean) extends Workload {
  private val data = work.resolve("data").toString
  private val checkDir = work.resolve("check")
  private val passes = math.max(1, math.round(seconds / 20.0).toInt)
  private var failedInCheck = Map.empty[String, String]

  def generate(): Unit = LakeGen.write(spark, data, if (tiny) 0.001 else 0.01, seed)

  /** The check pass doubles as the warm-up: each query runs once, untimed,
    * and its result is kept for the oracle comparison. It runs on the one
    * client thread, like the timed passes: the engine's queries are not
    * all safe to start concurrently in a cold JVM.
    */
  def warm(): Unit = {
    failedInCheck = order(-1).flatMap { q =>
      try {
        SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(q).toString)
        None
      } catch { case scala.util.control.NonFatal(e) => Some(q -> e.toString) }
    }.toMap
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(QuerySuite.Slice)

  def measure(tr: Tracer): Section = {
    val listener = if (tr.enabled) Some(EngineListener.attach(spark)) else None
    val ops = ArrayBuffer.empty[OpRecord]
    val passSecs = (0 until passes).map { p =>
      val t0 = System.nanoTime()
      order(p).foreach { q =>
        ops += tr.op("query", q) {
          val df = tr.span("queries.build", "queries")(SparkEntry.queries(q)(spark, data))
          tr.span("queries.run", "queries")(
            df.write.format("noop").mode("overwrite").save())
        }.copy(pass = p)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val layers = listener.map { l =>
      EngineListener.detach(spark, l)
      val perQuery = ops.filter(_.ok).groupBy(_.name).map { case (q, rs) =>
        s"query.${q}_s" -> medianOf(rs.map(_.seconds).toSeq)
      }
      withAllLayers(engineLayers(l, ops.filter(_.ok).map(o => (o.startMs, o.endMs)).toSeq) ++
        selfLayers(tr, l, ops.size) ++ perQuery)
    }.getOrElse(Map.empty)
    Section(ops.toSeq, passSecs, layers)
  }

  def checks(): Seq[Check] = {
    val thrown = failedInCheck.toSeq.sorted.map { case (q, e) =>
      Check(s"query_suite.$q", ok = false, s"threw in check pass: $e") }
    // no DuckDB oracle exists for the sketch query: require a result
    val sketch = QuerySuite.NoOracle.filterNot(failedInCheck.contains).map { q =>
      val n = spark.read.parquet(checkDir.resolve(q).toString).count()
      Check(s"query_suite.$q", n > 0, s"rows=$n (no oracle; non-empty required)")
    }
    thrown ++ sketch
  }

  override def outputs: Map[String, String] =
    QuerySuite.Slice.filterNot(failedInCheck.contains)
      .filterNot(QuerySuite.NoOracle.contains)
      .map(q => q -> checkDir.resolve(q).toString).toMap

  override def oracleSql: Map[String, String] =
    SparkEntry.oracleSql.filter { case (q, _) => outputs.contains(q) }
}

object QuerySuite {
  /** Relational q01–q24, the 15 `Extra` queries and q65_sql_dml: the
    * non-LLM SQL surface. q00_cdc_golden and q63_change_feed are left out:
    * they replay a CDC corpus into a fresh table, the path `cdc_ingest`
    * measures, and their ~9 s per run does not fit the run budget.
    */
  val Slice: Seq[String] = {
    val rel = graft.queries.Relational.queries.keys.toSeq.sorted
    val extra = graft.queries.Extra.queries.keys.toSeq.sorted
    rel ++ extra :+ "q65_sql_dml"
  }
  val NoOracle: Seq[String] = Seq("q44_approx_sketches")
}
