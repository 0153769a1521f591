package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Runs one workload in one JVM and writes its raw measurements as JSON;
  * `run.py` turns them into the benchmark's metrics after the DuckDB
  * oracle check.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <file> [--tiny]
  * }}}
  *
  * With `--trace 1` the measured section runs first with spans and Spark's
  * listeners on, in the place an untraced run measures, and then again
  * untraced, so the report can give the tracing overhead as traced minus
  * untraced. The JVM is still warming, so that difference is an upper
  * bound.
  */
object Main {
  /** Repetitions of input generation; set-up reports their median. */
  val GenRepeats = 3

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val tiny = args.contains("--tiny")
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = BenchSession.start(cores, work.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w = Workloads(workload, spark, work.resolve(workload), seed, seconds, tiny)
    val genS = (1 to GenRepeats).map { _ =>
      val t = System.nanoTime(); w.generate(); (System.nanoTime() - t) / 1e9
    }
    val t1 = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - t1) / 1e9

    val traced = if (trace) {
      val tr = new Tracer(true)
      val s = w.measure(tr)
      writeSpans(work.resolve(s"spans-$workload.jsonl"), tr)
      Some(s)
    } else None
    val plain = w.measure(new Tracer(false))
    val checks = w.checks()
    val facts = w.facts()

    def num(d: Double): JValue = JDouble(d)
    def ops(s: Section): JValue = JArray(s.ops.map(o => JObject(
      "kind" -> JString(o.kind), "name" -> JString(o.name),
      "s" -> num(o.seconds), "ok" -> JBool(o.ok), "pass" -> JInt(o.pass),
      "error" -> (if (o.error == null) JNull else JString(o.error)))).toList)
    def section(s: Section): JValue = JObject(
      "ops" -> ops(s), "passes" -> JArray(s.passes.map(num).toList),
      "timings" -> JObject(s.timings.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "layers" -> JObject(s.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*))
    val out = JObject(
      "workload" -> JString(workload), "seed" -> JInt(seed), "cores" -> JInt(cores),
      "settings" -> JObject(BenchSession.settings(cores, work.toString)
        .map { case (k, v) => k -> (JString(v): JValue) }: _*),
      "setup" -> JObject("session_s" -> num(sessionS),
        "gen_s" -> JArray(genS.map(num).toList), "warm_s" -> num(warmS)),
      "plain" -> section(plain),
      "traced" -> traced.map(section).getOrElse(JNull),
      "checks" -> JArray(checks.map(c => JObject("name" -> JString(c.name),
        "ok" -> JBool(c.ok), "detail" -> JString(c.detail))).toList),
      "facts" -> JObject(facts.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "outputs" -> JObject(w.outputs.toSeq.map { case (k, v) => k -> (JString(v): JValue) }: _*),
      "oracle_sql" -> JObject(w.oracleSql.toSeq.map { case (k, v) => k -> (JString(v): JValue) }: _*),
      "peak_rss_mb" -> num(peakRssMb()))
    Files.writeString(Paths.get(a("out")), compact(render(out)))
    spark.stop()
  }

  /** The process's resident-set high-water mark (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def writeSpans(p: Path, tr: Tracer): Unit = {
    val lines = tr.spans.map(s => compact(render(JObject(
      "id" -> JInt(s.id), "name" -> JString(s.name), "layer" -> JString(s.layer),
      "start_ms" -> JInt(s.startMs), "end_ms" -> JInt(s.endMs),
      "parent" -> JInt(s.parent), "op" -> JInt(s.op)))))
    Files.write(p, scala.jdk.CollectionConverters.SeqHasAsJava(lines.toSeq).asJava)
  }
}
