package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.service.IoService

/** The two wire workloads: a closed loop of `nproc` clients, one
  * connection each and no think time. Clients 0..nproc-2 speak the binary
  * frame protocol to one listener; the last client speaks the JSON line
  * protocol to a second listener on the same Spark session. */
final class WireBench(spark: SparkSession, workload: String, seed: Long,
                      seconds: Double, trace: Boolean, work: java.io.File,
                      nproc: Int) {
  private val plan = new WirePlan(seed, workload, nproc, new java.io.File(work, "nc"))
  private val nBinary = math.max(1, nproc - 1)

  private var binSvc: IoService = _
  private var jsonSvc: IoService = _

  /** Writes the seeded NetCDF files, starts both listeners, preloads the
    * fragments through the wire and runs one warm binary cycle. Returns
    * seconds taken. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    plan.ncFrags.foreach(f => SeedData.writeNetCdf(plan.ncFile(f), f.rows, f.width, f.row))
    binSvc = new IoService(spark, 0, "binary")
    jsonSvc = new IoService(spark, 0, "json")
    val b = new BinaryClient(binSvc.boundPort)
    val j = new JsonClient(jsonSvc.boundPort)
    try {
      b.useDb("default")
      plan.preloadBinary.foreach(o => b.query(o.query, o.binds, o.totRun, o.currRun))
      plan.preloadJson.foreach(o => j.query(o.query))
      val w = new Window
      // the same warm cycle every time, on a client number of its own
      val ok = binaryCycle(b, plan.binaryCycle(1000, 0), w)
      if (!ok) throw new IllegalStateException(s"warm cycle failed: ${w.ledger.failureCauses}")
    } finally { b.close(); j.close() }
    (System.nanoTime() - t0) / 1e9
  }

  private def tearDown(): Unit = {
    val b = new BinaryClient(binSvc.boundPort)
    try plan.preloadedBinary.foreach(f => b.query(s"operation=drop_frag;frag_name=$f"))
    finally b.close()
    val j = new JsonClient(jsonSvc.boundPort)
    try plan.preloadedJson.foreach(f => j.query(s"operation=drop_frag;frag_name=$f"))
    finally j.close()
    binSvc.stop(); jsonSvc.stop()
  }

  /** Counters of one closed-loop window. */
  final class Window {
    val ledger = new Ledger
    val cycles = new Ledger // cycle wall times by cycle kind
    val payloadOut = new AtomicLong() // RS payload bytes the server sent
    val bytesIn = new AtomicLong() // bind + file bytes the server took in
    val abandoned = new AtomicLong()
    var wallS = 0.0
  }

  private def checkRows(got: IndexedSeq[(Long, Array[Double])],
                        want: IndexedSeq[(Long, Array[Double])]): Unit = {
    if (got.size != want.size) throw new WrongResult(s"${got.size} rows, want ${want.size}")
    got.zip(want).foreach { case ((gi, gm), (wi, wm)) =>
      if (gi != wi) throw new WrongResult(s"id $gi, want $wi")
      if (!java.util.Arrays.equals(gm, wm)) throw new WrongResult(s"measure of id $gi differs")
    }
  }

  private def decodeBinary(f: RsFrame): IndexedSeq[(Long, Array[Double])] = {
    if (f.nFields != 2) throw new WrongResult(s"${f.nFields} fields")
    f.rows.map(r => Frames.text(r(0)).toLong -> Frames.unpackDoubles(r(1)))
  }

  private def decodeJson(n: com.fasterxml.jackson.databind.JsonNode): IndexedSeq[(Long, Array[Double])] = {
    val rows = n.path("rows").elements().asScala.map { r =>
      r.get(0).asLong() -> r.get(1).elements().asScala.map(_.asDouble()).toArray
    }.toIndexedSeq
    if (n.path("nrows").asLong(-1) != rows.size) throw new WrongResult("nrows != rows sent")
    rows
  }

  /** Runs one binary cycle's ops in order; false once one fails. */
  private def binaryCycle(conn: BinaryClient, c: Cycle, w: Window): Boolean = {
    val t0 = System.nanoTime()
    val ok = c.ops.forall {
      case e: EqOp => w.ledger.attempt(s"eq/${e.kind}") {
        val ms = conn.query(e.query, e.binds, e.totRun, e.currRun)
        w.bytesIn.addAndGet(e.fileBytes + e.binds.map {
          case BLong(_) => 18L; case BDoubles(v) => 10L + 8L * v.length }.sum)
        ms
      }
      case r: RsOp => w.ledger.attempt(s"rs/${r.kind}") {
        val (ms, f) = conn.rs()
        checkRows(decodeBinary(f), r.expect())
        w.payloadOut.addAndGet(f.payloadLen)
        ms
      }
    }
    if (ok) w.cycles.attempt(s"cycle/${c.kind}")((System.nanoTime() - t0) / 1e6)
    ok
  }

  /** Runs one JSON cycle's ops in order; false once one fails. */
  private def jsonCycle(conn: JsonClient, c: Cycle, w: Window): Boolean =
    c.ops.forall {
      case e: EqOp => w.ledger.attempt(s"eq_json/${e.kind}") {
        val ms = conn.query(e.query); w.bytesIn.addAndGet(e.fileBytes); ms
      }
      case r: RsOp => w.ledger.attempt(s"rs_json/${r.kind}") {
        val before = conn.bytesIn
        val (ms, node) = conn.rs(1000000)
        checkRows(decodeJson(node), r.expect())
        w.payloadOut.addAndGet(conn.bytesIn - before)
        ms
      }
    }

  /** One binary client: cycles until `deadline`. A failed cycle drops the
    * connection (the stream may be out of step) and reconnects. */
  private def binaryLoop(client: Int, deadline: Long, w: Window, from: Int): Int = {
    def connect() = { val c = new BinaryClient(binSvc.boundPort); c.useDb("default"); c }
    var conn = connect()
    var n = from
    try {
      while (System.nanoTime() < deadline) {
        val c = plan.binaryCycle(client, n); n += 1
        if (c.abandon) {
          // send the CTAS, hang up without reading the reply, reconnect
          conn.queryNoReply(c.ops.head.asInstanceOf[EqOp].query)
          conn.close(); w.abandoned.incrementAndGet()
          conn = connect()
        } else if (!binaryCycle(conn, c, w)) { conn.close(); conn = connect() }
      }
    } finally conn.close()
    n
  }

  /** The JSON client: cycles until `deadline`. */
  private def jsonLoop(deadline: Long, w: Window, from: Int): Int = {
    var conn = new JsonClient(jsonSvc.boundPort)
    var n = from
    try {
      while (System.nanoTime() < deadline) {
        val ok = jsonCycle(conn, plan.jsonCycle(n), w); n += 1
        if (!ok) { conn.close(); conn = new JsonClient(jsonSvc.boundPort) }
      }
    } finally conn.close()
    n
  }

  private val nextCycle = Array.fill(nproc)(0)

  /** Runs every client for `secs`; cycle numbering continues across
    * windows so no two windows replay the same requests. */
  private def window(secs: Double): Window = {
    val w = new Window
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    val err = new AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    val threads = (0 until nproc).map { c =>
      val t = new Thread(() =>
        try nextCycle(c) =
          if (c < nBinary) binaryLoop(c, deadline, w, nextCycle(c)) else jsonLoop(deadline, w, nextCycle(c))
        catch { case e: Throwable => err.set(e) }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    w.wallS = (System.nanoTime() - t0) / 1e9
    Option(err.get).foreach(e => throw e)
    w
  }

  /** Fragments in the binary listener's catalog beyond the preloaded ones:
    * what abandoned cycles (and failed cycles) left behind. */
  private def orphanFragments(): Double = {
    val b = new BinaryClient(binSvc.boundPort)
    try {
      b.useDb("default")
      b.query("operation=select;field=id_dim|frag_name;from=@info_system_table")
      val (_, f) = b.rs()
      (f.nRows - plan.preloadedBinary.size).toDouble
    } finally b.close()
  }

  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def endToEnd(w: Window, setupS: Double): (Map[String, Double], Map[String, Double]) = {
    val l = w.ledger
    val e2e = Map(
      "setup_s" -> setupS,
      "eq_ms" -> l.mixMean("eq"),
      "rs_ms" -> l.mixMean("rs"),
      "ops_per_s" -> l.completed / w.wallS,
      "pass_s" -> w.cycles.mixMean("cycle") / 1e3,
    )
    val extra = mutable.LinkedHashMap[String, Double](
      "eq_samples" -> l.pooled("eq").size, "rs_samples" -> l.pooled("rs").size,
      "rs_json_samples" -> l.pooled("rs_json").size, "cycles" -> w.cycles.completed.toDouble,
      "abandoned_cycles" -> w.abandoned.get.toDouble,
      "fail_frac" -> (if (l.attempted == 0) 0.0 else l.failed.toDouble / l.attempted),
      "payload_mb_per_s" -> (if (workload == "wire_query") w.payloadOut.get else w.bytesIn.get) / 1e6 / w.wallS,
      "storage_mb" -> storageMb(),
    )
    for ((verb, qs) <- Seq("eq" -> Seq(50, 95, 99), "rs" -> Seq(50, 95, 99), "rs_json" -> Seq(50));
         q <- qs; v <- Stats.percentile(l.pooled(verb), q, if (q == 50) 0 else 10))
      extra(s"${verb}_p${q}_ms") = v
    (e2e, extra.toMap)
  }

  def run(): Result = {
    val setups = (1 to 3).map { i =>
      val s = setUp()
      if (i < 3) tearDown()
      s
    }
    val setupS = Stats.median(setups)
    Main.phase("set up")
    if (!trace) {
      val w = window(seconds)
      val (e2e, extra) = endToEnd(w, setupS)
      val orphans = orphanFragments()
      finish()
      Result(e2e, extra + ("orphan_frags" -> orphans), Seq(w.ledger), Map.empty)
    } else traced(setupS)
  }

  private def finish(): Unit = { binSvc.stop(); jsonSvc.stop() }

  /** Traced run: half the time untraced, half with the listeners on (the
    * difference is the tracing overhead), then a replay of seeded ops over
    * the wire and through `Session.execute` for the layer split. */
  private def traced(setupS: Double): Result = {
    val plain = window(seconds / 2)
    val jobs = new JobLedger
    val streams = new StreamLedger
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    val tw = window(seconds / 2)
    val exec = jobs.execSummary(tw.wallS, nproc)
    val (e2ePlain, extraPlain) = endToEnd(plain, setupS)
    val (e2eTraced, _) = endToEnd(tw, setupS)
    val overhead = e2eTraced.collect { case (k, v) if k != "setup_s" =>
      s"trace.overhead_pct.$k" -> 100.0 * (v / e2ePlain(k) - 1.0)
    }
    val orphans = orphanFragments()
    jobs.reset()
    val spans = new Spans
    val layers = new EngineReplay(spark, plan, binSvc.boundPort, jsonSvc.boundPort, jobs, spans).run()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    spans.write(new java.io.File(work, "spans.jsonl"))
    val src = SourcesProbe.run(spark, plan.ncFrags.map(plan.ncFile))
    finish()
    Result(e2ePlain, extraPlain + ("orphan_frags" -> orphans), Seq(plain.ledger, tw.ledger),
      exec ++ streams.summary ++ overhead ++ layers ++ src ++ Map(
        "engine.orphan_frags" -> orphans,
        "service.er_replies" -> tw.ledger.failureCauses.collect {
          case (k, v) if k.endsWith("ER reply") => v.toDouble }.sum))
  }
}

/** Direct NetCDFSource load + noop of the generated files. */
object SourcesProbe {
  def run(spark: SparkSession, files: Seq[java.io.File]): Map[String, Double] = {
    val bytes = files.map(_.length()).sum
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      files.foreach { f =>
        spark.read.format("graft.sources.NetCDFSource")
          .option("path", f.getAbsolutePath).option("var", "measure").option("explicit", "1")
          .load().write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e6
    }
    val ms = Stats.median(times)
    Map("sources.scan_ms" -> ms, "sources.input_mb" -> bytes / 1e6,
      "sources.scan_mb_per_s" -> bytes / 1e6 / (ms / 1e3))
  }
}
