package graft

import org.apache.spark.sql.SparkSession

/** The one definition of the engine's tuned local session. Bench, Verify,
  * the spec suite and every probe build from it, so they all measure the
  * same configuration; callers add only an app name or a launch-time
  * overlay before `getOrCreate()`.
  */
object GraftSession {
  def builder(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.sqlcat.GraftSqlExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Joins (round-14, guide §3.1/§9): allow shuffled-hash when the
      // per-partition build side fits — SMJ's sorts are pure overhead for
      // the band-bucket/candidate equi-joins; AQE still rewrites to
      // broadcast when a side is tiny. Results identical (total orders).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
      // Shuffle machinery (round-14, guide §2.1–2.2, measured A/B in
      // OPTIMIZATION_r14.md): the bypass-merge shuffle writer creates
      // M×R files per shuffle (32 maps × 32 reduces = 1024 creates on
      // this FS); the sort writer — the only path at scale, where
      // R > 200 — writes one data+index pair per map task. Forcing it
      // (threshold 0) cut the 32-core per-query overhead ~2× and fixed
      // the measured ANTI-scaling (8-core sweeps beating 32-core ones).
      // Shuffle scratch goes to the fastest local medium when present
      // (tmpfs here; NVMe scratch on a real cluster — guide §2.1 names
      // local disk as the tighter shuffle limit); Spark's own
      // SPARK_LOCAL_DIRS still takes precedence. Results unaffected.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.local.dir", Scratch.fastLocal("graft-spark-local"))
      // Optimizer (round-14, guide §1.2 step 3): constraint propagation
      // spends planner time inferring not-null constraints and REINSERTS
      // them as filters that re-evaluate whole derived expression trees
      // per row (the measured 8× shingle-substitution pathology the
      // persist pins in Dedup/CorpusOps already guard against — that
      // cost grows WITH data, it is not a local-mode artifact).
      // Interleaved same-JVM A/B over 18 queries: geomean 0.94, worst
      // regression +9% (q39), wins to −26% (q167). Results are
      // plan-identical by construction (optimizer rule only).
      .config("spark.sql.constraintPropagation.enabled", "false")
}
