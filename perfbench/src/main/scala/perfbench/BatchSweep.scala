package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** batch_sweep: one thread runs a fixed list of `SparkEntry` queries over
  * seeded tables, in a seed-shuffled order per pass, each query cold
  * (memo and cache cleared, untimed) and forced through the `noop` sink.
  * Each query is split into its statement (`fn(spark, dir)`: the
  * DataFrame build, including every eager job fired while building) and
  * its result (the noop write). */
final class BatchSweep(spark: SparkSession, seed: Long, seconds: Double,
                       trace: Boolean, work: java.io.File, nproc: Int) {
  import BatchSweep._

  private val entry: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  private val dataDir = new java.io.File(work, "data")

  private def cold(): Unit = {
    graft.core.SessionMemo.clear(spark)
    spark.catalog.clearCache()
  }

  /** One timed query: (statement ms, result ms), or a failure. */
  private def once(q: String, ledger: Ledger, split: Option[Split]): Option[(Double, Double)] = {
    cold()
    var out: Option[(Double, Double)] = None
    ledger.attempt("query") {
      split.foreach(s => spark.sparkContext.setJobGroup(s.tag(q), q, interruptOnCancel = false))
      try {
        val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
        val df = entry(q)(spark, dataDir.getAbsolutePath)
        val t1 = System.nanoTime(); val w1 = System.currentTimeMillis()
        split.foreach(_ => df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        split.foreach(_.record(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, w0, w1))
        out = Some(((t1 - t0) / 1e6, (t3 - t1) / 1e6))
        (t3 - t0) / 1e6
      } finally spark.sparkContext.clearJobGroup()
    }
    out
  }

  /** Passes for `secs`: one whole pass, then queries until the time is
    * up, so the last pass may be partial and no measured time is left
    * unused. A failed query is no sample. Returns the next pass number. */
  private def passes(secs: Double, ledger: Ledger, split: Option[Split],
                     perQuery: mutable.Map[String, (mutable.Buffer[Double], mutable.Buffer[Double])],
                     from: Int): Int = {
    val t0 = System.nanoTime()
    def more = (System.nanoTime() - t0) / 1e9 < secs
    var p = from
    while (p == from || more) {
      val order = new scala.util.Random(SeedData.mix(seed, p.toLong)).shuffle(Queries)
      val whole = p == from
      p += 1
      order.iterator.takeWhile(_ => whole || more).foreach { q =>
        once(q, ledger, split).foreach { case (s, r) =>
          val (qs, qr) = perQuery.getOrElseUpdate(q, (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
          qs += s; qr += r
        }
      }
    }
    p
  }

  def run(): Result = {
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      TableGen.write(spark, seed, dataDir.getAbsolutePath, Scale)
      SeedData.writeNetCdf(ncFile, 1500, 64, id => SeedData.row(seed, 400L, id, 64))
      (System.nanoTime() - t0) / 1e9
    }
    Main.phase("set up")
    val ledger = new Ledger
    // correctness pass (also the warm-up): every query's result goes to
    // parquet for the DuckDB oracle; untimed
    val results = new java.io.File(work, "results")
    Queries.foreach { q =>
      cold()
      ledger.attempt("check") {
        entry(q)(spark, dataDir.getAbsolutePath).write.mode("overwrite")
          .parquet(new java.io.File(results, q).getAbsolutePath)
        1.0
      }
    }
    writeOracle(new java.io.File(work, "oracle_sql.json"))
    Main.phase("correctness pass")

    val plainSecs = if (trace) seconds / 2 else seconds
    val t0 = System.nanoTime()
    val (e2e, perQuery, next) = sweep(plainSecs, ledger, None, 0)
    val extra = Map(
      "passes" -> e2e("passes"),
      "query_samples" -> perQuery.values.map(_._1.size).sum.toDouble,
      "query_geomean_s" -> Stats.geomean(perQuery.values.map { case (st, r) =>
        Stats.median(st.zip(r).map { case (a, b) => (a + b) / 1e3 }.toSeq) }.toSeq),
      "fail_frac" -> ledger.failed.toDouble / ledger.attempted,
      "measured_s" -> (System.nanoTime() - t0) / 1e9,
    ) ++ perQuery.map { case (q, (st, r)) =>
      s"query_s.$q" -> Stats.median(st.zip(r).map { case (a, b) => (a + b) / 1e3 }.toSeq)
    }
    val metrics = e2e - "passes" + ("setup_s" -> Stats.median(setups))
    if (!trace) return Result(metrics, extra, Seq(ledger), Map.empty)

    // traced half: listeners on, each query split into build/plan/exec
    val jobs = new JobLedger
    val streams = new StreamLedger
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    val split = new Split(spark, jobs)
    val tw0 = System.nanoTime()
    val (traced, _, _) = sweep(seconds / 2, ledger, Some(split), next)
    val wallS = (System.nanoTime() - tw0) / 1e9
    jobs.settle(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    val nPass = split.passes
    val overhead = traced.collect { case (k, v) if k != "passes" && v > 0 =>
      s"trace.overhead_pct.$k" -> 100.0 * (v / e2e(k) - 1.0)
    }
    val layers = jobs.execSummary(wallS, nproc) ++
      streams.summary.map { case (k, v) => k -> v / nPass } ++
      split.summary(nPass) ++ overhead ++ SourcesProbe.run(spark, Seq(ncFile))
    Result(metrics, extra, Seq(ledger), layers)
  }

  /** Passes for `secs`, then the sweep's end-to-end figures from each
    * query's median: statement and result time as the mean over queries,
    * the pass as their sum (a median pass: one slow query in one pass
    * does not move it), and queries per second of that pass. */
  private def sweep(secs: Double, ledger: Ledger, split: Option[Split], from: Int)
      : (Map[String, Double], Map[String, (mutable.Buffer[Double], mutable.Buffer[Double])], Int) = {
    val perQuery = mutable.LinkedHashMap.empty[String, (mutable.Buffer[Double], mutable.Buffer[Double])]
    val next = passes(secs, ledger, split, perQuery, from)
    val st = perQuery.values.map(v => Stats.median(v._1.toSeq)).sum
    val rs = perQuery.values.map(v => Stats.median(v._2.toSeq)).sum
    val passS = perQuery.values.map { case (a, b) => Stats.median(a.zip(b).map(x => x._1 + x._2).toSeq) }.sum / 1e3
    (Map("eq_ms" -> st / perQuery.size, "rs_ms" -> rs / perQuery.size,
      "ops_per_s" -> perQuery.size / passS, "pass_s" -> passS,
      "passes" -> (next - from).toDouble), perQuery.toMap, next)
  }

  private def ncFile = new java.io.File(work, "nc/probe.nc")
}

object BatchSweep {
  /** Data scale relative to the sf0.01 correctness tier. */
  val Scale = 1.0

  /** The sweep: heads of the eager driver-action chains (d27, qn02, which
    * also reads through the sources layer), exec-bound (t19), array and
    * dialect (a03, qd01), relational (q03) and streaming (q23). Sized so
    * a pass takes a few seconds on a 4-core host. */
  val Queries: Seq[String] = Seq(
    "d27_bloom_prefilter", "qn02_netcdf4_roundtrip", "t19_char_entropy",
    "a03_reduce", "qd01_dialect_ctas", "q03_agg_group", "q23_stream_window")

  /** Build/plan/exec per query, with the jobs fired while building. */
  final class Split(spark: SparkSession, jobs: JobLedger) {
    private val rows = mutable.ArrayBuffer.empty[(String, Double, Double, Double, Int, Int)]
    private var n = 0
    def tag(q: String): String = { n += 1; s"perfbench-$q-$n" }
    def record(q: String, build: Double, plan: Double, exec: Double, w0: Long, w1: Long): Unit = {
      jobs.settle(spark.sparkContext)
      val js = jobs.jobsOf(s"perfbench-$q-$n")
      rows += ((q, build, plan, exec, js.count(j => j.start >= w0 && j.start <= w1), js.size))
    }
    /** Whole passes' worth of queries recorded (the last may be partial). */
    def passes: Double = math.max(1.0, rows.size.toDouble / Queries.size)
    /** Per-pass sums, and each query's own medians. */
    def summary(p: Double): Map[String, Double] = {
      Map(
        "operators.build_s" -> rows.map(_._2).sum / p,
        "operators.plan_s" -> rows.map(_._3).sum / p,
        "operators.exec_s" -> rows.map(_._4).sum / p,
        "operators.jobs_in_build" -> rows.map(_._5).sum / p,
        "operators.jobs_total" -> rows.map(_._6).sum / p,
      ) ++ Queries.flatMap { q =>
        val mine = rows.filter(_._1 == q)
        val k = q.takeWhile(_ != '_')
        def med(f: ((String, Double, Double, Double, Int, Int)) => Double) =
          if (mine.isEmpty) 0.0 else Stats.median(mine.map(f).toSeq)
        Seq(s"operators.$k.build_s" -> med(_._2), s"operators.$k.exec_s" -> med(_._4),
          s"operators.$k.jobs_in_build" -> med(_._5.toDouble))
      }
    }
  }

  def writeOracle(f: java.io.File): Unit = {
    val m = new java.util.TreeMap[String, String]()
    Queries.foreach(q => graft.SparkEntry.oracleSql.get(q).foreach(m.put(q, _)))
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(f, m)
  }
}
