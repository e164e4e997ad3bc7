package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` holds the end-to-end metrics
  * named in BENCHMARK.json (measured untraced), `extra` the
  * workload-specific figures that ride along in the report, `layers` the
  * traced per-layer split; `ledgers` count every measured op. */
final case class Result(e2e: Map[String, Double], extra: Map[String, Double],
                        ledgers: Seq[Ledger], layers: Map[String, Double])

/** Runs one workload in this JVM and prints one report line:
  * `PERFBENCH_REPORT {json}`.
  *
  * Usage: Main --workload <wire_query|wire_ingest|batch_sweep> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--git-sha <sha>] */
object Main {
  private val t0 = System.nanoTime()
  /** Logs a phase boundary with the seconds since the JVM started. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $name")

  val Workloads: Seq[String] = Seq("wire_query", "wire_ingest", "batch_sweep")

  /** Writes the report line and the trace spans. */
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new java.io.File(opts("work")).getAbsoluteFile
    val nproc = Runtime.getRuntime.availableProcessors()
    phase("start")
    val spark = session(workload, nproc, work)
    phase("session up")
    val prov = provenance(spark, workload, nproc, seed, seconds, trace,
      opts.getOrElse("git-sha", "unknown"))
    try {
      val r = workload match {
        case "batch_sweep" => new BatchSweep(spark, seed, seconds, trace, work, nproc).run()
        case w => new WireBench(spark, w, seed, seconds, trace, work, nproc).run()
      }
      println("PERFBENCH_REPORT " + Main.json.writeValueAsString(Map(
        "workload" -> workload,
        "attempted" -> r.ledgers.map(_.attempted).sum,
        "failed" -> r.ledgers.map(_.failed).sum,
        "wrong" -> r.ledgers.map(_.wrong).sum,
        "failure_causes" -> r.ledgers.flatMap(_.failureCauses).groupMapReduce(_._1)(_._2)(_ + _),
        "metrics" -> r.e2e,
        "extra" -> r.extra,
        "layers" -> r.layers,
        "provenance" -> prov)))
      phase("reported")
    } finally { spark.stop(); phase("session stopped") }
  }

  /** The session posture each workload is served with: the wire
    * workloads follow `graft.service.ServiceMain` (GraftExtensions
    * loaded), batch_sweep follows `graft.Bench` (no extensions, AQE
    * coalescing at a 4m advisory size). */
  def session(workload: String, nproc: Int, work: java.io.File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
    val s =
      if (workload == "batch_sweep") b
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
        .getOrCreate()
      else b.withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def provenance(spark: SparkSession, workload: String, nproc: Int, seed: Long,
                 seconds: Double, trace: Boolean, sha: String): Map[String, Any] = {
    val conf = spark.conf
    val storageMem = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    Map(
      "nproc" -> nproc,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe_advisory_size" -> conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      // GraftExtensions injects graft_dot; read before any query runs
      "graft_extensions" -> spark.catalog.functionExists("graft_dot"),
      "spark_version" -> spark.version,
      "git_sha" -> sha,
      "seed" -> seed,
      "run_seconds" -> seconds,
      "trace" -> trace,
      "storage_memory_mb" -> storageMem / (1 << 20),
      "fragments" -> (workload match {
        case "batch_sweep" => s"tables at ${BatchSweep.Scale} x sf0.01 row counts"
        case _ =>
          "small 4 x 2000 rows x 64 doubles (1.0 MB each); large 12000 rows x 128 doubles " +
            s"(12.3 MB) in ${2 * nproc} partitions; json listener 2000 x 64"
      }),
      "clients" -> (if (workload == "batch_sweep") "1 thread" else
        s"${math.max(1, nproc - 1)} binary + 1 json, closed loop, no think time"),
    )
  }
}
