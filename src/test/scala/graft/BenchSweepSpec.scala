package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSweepSpec extends SparkSpec {

  test("a query that throws lands in failed, never in a timing or total") {
    val lateCalls = new AtomicInteger()
    val slowCalls = new AtomicInteger()
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "a_ok" -> ((s, _) => s.range(10).toDF()),
      // throws while the plan is built
      "b_plan" -> ((_, _) => throw new IllegalStateException("no plan\nsecond line")),
      // succeeds in sweep 1, throws at execution in sweep 2
      "c_late" -> ((s, _) =>
        if (lateCalls.incrementAndGet() == 1) s.range(3).toDF()
        else s.range(3).selectExpr("assert_true(id < 0) AS x")),
      // throws past the suspect threshold: no immediate retry, no rerun
      "d_slow" -> ((_, _) => {
        slowCalls.incrementAndGet(); Thread.sleep(4200)
        throw new RuntimeException("slow failure")
      }))
    val seen = Seq.newBuilder[(Int, Double)]
    val sw = Bench.sweep(spark, "unused", queries, nSweeps = 2) { (i, t) =>
      seen += i -> t
    }
    assert(sw.failed.map(_._1).toSet === Set("b_plan", "c_late", "d_slow"))
    assert(sw.failed.toMap.apply("b_plan") === "no plan")
    assert(sw.minima.map(_._1) === Seq("a_ok"))
    assert(sw.value === sw.minima.head._2)
    assert(sw.totals.size === 2)
    assert(sw.totals.forall(_ < 4.0), sw.totals)
    assert(seen.result().map(_._1) === Seq(1, 2))
    assert(slowCalls.get === 1)
    assert(lateCalls.get === 2)
  }
}
