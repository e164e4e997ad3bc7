package graft.core

import org.apache.spark.sql.{GraftSqlShims, SparkSession}

import graft.plans.{GraftExtensions, LevenshteinGuard}

/** The one session posture: `Bench`, `Verify`, the service, the tools
  * and the spec fixture all build their engine here, so the engine the
  * oracle verifies is the engine the bench times and the service serves.
  *
  *  - `local[cpus]`, one shuffle partition per core;
  *  - AQE coalescing by size (parallelismFirst=false) to the advisory
  *    size `SPARK_GRAFT_ADVISORY_PARTITION` (default 4m). Measured at
  *    sf0.1, 64m collapses the CPU-heavy verify stages to one task
  *    (d05 5.0 -> 10.9 s) while 4m coalesces only the tiny exchanges
  *    (final sorts, label tables); a deployment at real scale sets
  *    64m..256m (OPTIMIZATION_r18.md has the A/B table);
  *  - events.parquet's TIMESTAMP(NANOS) read as nanos-since-epoch longs
  *    (nanosAsLong), UTC session time zone;
  *  - a 64 MiB broadcast threshold (Spark's 10 MB default is sized for
  *    small executors), UI off;
  *  - [[GraftExtensions]] loaded: the `LevenshteinGuard` rule and the
  *    `graft_*` SQL functions.
  */
object GraftSession {
  /** Cores the engine runs on: `SPARK_GRAFT_CPUS`, else every core. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The posture's SQL confs on `cpus` cores. */
  def sqlConfs(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "4m"),
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(sqlConfs(cpus))
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    installExtensions(spark)
    spark
  }

  /** `withExtensions` only applies when `getOrCreate` constructs the
    * session; a session that already existed gets the rule and the
    * functions here instead. Checks before adding, so a session that
    * has them (either way) is left as it is. */
  private def installExtensions(spark: SparkSession): Unit = {
    if (!GraftSqlShims.extraOptimizerRules(spark).contains(LevenshteinGuard))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ LevenshteinGuard
    GraftSqlShims.registerFunctions(spark, GraftExtensions.functions
      .filterNot { case (id, _, _) => spark.catalog.functionExists(id.funcName) })
  }
}
