package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session. Its settings equal `graft.Bench`'s tuned
  * block (shuffled-hash joins allowed, bypass-merge shuffle writer off,
  * constraint propagation off, shuffle partitions = cores) so a number
  * measured here means what it means there. `graft.Bench` reads each of
  * them from an environment override; here they are fixed, because a stray
  * variable must not change what a run measures. Two deliberate
  * differences: `spark.local.dir` and the warehouse live in the run's own
  * work directory (the benchmark reads and writes only there), and the
  * streaming progress buffer is large enough to keep every micro-batch of
  * a drain.
  */
object BenchSession {

  def settings(cores: Int, workDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.extensions" -> "graft.sqlcat.GraftSqlExtensions",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64MB",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse",
    "spark.sql.streaming.numRecentProgressUpdates" -> "10000")

  def start(cores: Int, workDir: String): SparkSession = {
    val b = settings(cores, workDir).foldLeft(SparkSession.builder()) {
      case (acc, (k, v)) => acc.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
