package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The load generator's session: `RollupJob.main`'s settings (local at
  * nproc, shuffle partitions = nproc, AQE on, UTC) plus the engine's SQL
  * extensions, with every Spark scratch path under the run's work dir. */
object Session {

  def conf(cpus: Int, work: java.nio.file.Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true")

  def build(cpus: Int, work: java.nio.file.Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    conf(cpus, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A fresh session state over the shared context: runs the
    * `graft.plans.GraftExtensions` function registration again, so its
    * cost lands in every set-up repetition. */
  def registerPlans(spark: SparkSession): Unit = {
    val s = spark.newSession()
    require(s.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_mean")),
      "graft.plans.GraftExtensions did not register graft_mean")
  }
}
