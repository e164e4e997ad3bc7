package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.dialect.{ExprParser, QueryParser}

/** The traced layer split of the wire workloads. One client replays
  * seeded ops, each twice: over the wire, then through
  * `IoServer.Session.execute` on the same Spark session, on the
  * benchmark's own thread under a job group named after the request. */
final class EngineReplay(spark: SparkSession, plan: WirePlan, binPort: Int,
                         jsonPort: Int, jobs: JobLedger, spans: Spans) {
  private val engine = new graft.engine.IoServer(spark).newSession()
  private val byKey = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def add(k: String, v: Double): Unit = byKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private var req = 0L

  private def scala(b: Bind): Any = b match {
    case BLong(v) => v
    case BDoubles(v) => v.toSeq
  }

  /** Parse time of a request: the statement, then every expression in it. */
  private def parseUs(q: String): Double = {
    val t0 = System.nanoTime()
    val p = QueryParser.parse(q)
    Seq("where", "group").flatMap(p.get).foreach(ExprParser.parse)
    p.multi("field").filter(_ != "*").foreach(ExprParser.parse)
    (System.nanoTime() - t0) / 1e3
  }

  /** Runs `op` through the engine under its own job group; returns ms. */
  private def engineEq(e: EqOp, parent: Long): Double = {
    req += 1
    val tag = s"perfbench-req-$req"
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try engine.execute(e.engineQuery, e.binds.map(scala))
    finally spark.sparkContext.clearJobGroup()
    val t1 = System.nanoTime(); val w1 = System.currentTimeMillis()
    spans.add(s"engine.${e.label}", t0, t1, parent, tag)
    val ms = (t1 - t0) / 1e6
    jobs.settle(spark.sparkContext)
    add(s"engine.execute_ms.${e.label}", ms)
    add(s"engine.driver_ms.${e.label}", math.max(0.0, ms - jobs.coveredMs(tag, w0, w1)))
    add(s"engine.jobs_per_op.${e.label}", jobs.jobsOf(tag).size.toDouble)
    ms
  }

  /** `toLocalIterator` drain of the engine's last result; returns ms. */
  private def engineDrain(parent: Long): Double = {
    val t0 = System.nanoTime()
    var n = 0L
    engine.lastResult.get.toLocalIterator().asScala.foreach(_ => n += 1)
    val t1 = System.nanoTime()
    spans.add("engine.drain", t0, t1, parent, s"perfbench-req-$req")
    val ms = (t1 - t0) / 1e6
    add("engine.drain_ms", ms)
    ms
  }

  def run(budgetS: Double = 4.0): Map[String, Double] = {
    plan.preloadBinary.foreach(o => engine.execute(o.engineQuery, o.binds.map(scala)))
    plan.preloadJson.foreach(o => engine.execute(o.engineQuery))
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    val bin = new BinaryClient(binPort)
    val json = new JsonClient(jsonPort)
    try {
      bin.useDb("default")
      var n = 2000000
      while (System.nanoTime() < deadline || n < 2000004) {
        val binary = n % 3 != 2
        val c = if (binary) plan.binaryCycle(0, n) else plan.jsonCycle(n)
        n += 1
        if (!c.abandon) c.ops.foreach {
          case e: EqOp =>
            val t0 = System.nanoTime()
            val wire = if (binary) bin.query(e.query, e.binds, e.totRun, e.currRun) else json.query(e.query)
            val parent = spans.add(if (binary) "wire.eq" else "wire.eq_json", t0, System.nanoTime(), 0, e.label)
            add("dialect.parse_us", parseUs(e.engineQuery))
            val eng = engineEq(e, parent)
            if (binary) add("service.self_ms.eq", wire - eng)
          case _: RsOp =>
            val t0 = System.nanoTime()
            val wire = if (binary) bin.rs()._1 else json.rs(1000000)._1
            val parent = spans.add(if (binary) "wire.rs" else "wire.rs_json", t0, System.nanoTime(), 0, "rs")
            val drain = engineDrain(parent)
            add(if (binary) "service.self_ms.rs" else "service.self_ms.rs_json", wire - drain)
        }
      }
      val out = byKey.map { case (k, v) =>
        k -> (if (k.startsWith("engine.jobs_per_op")) v.sum / v.size else Stats.median(v.toSeq))
      }.toMap
      out ++ Map(
        "service.bytes_in_mb" -> bin.bytesOut / 1e6,
        "service.bytes_out_mb" -> (bin.bytesIn + json.bytesIn) / 1e6,
        "engine.replayed_ops" -> byKey.get("dialect.parse_us").map(_.size.toDouble).getOrElse(0.0))
    } finally { bin.close(); json.close() }
  }
}
