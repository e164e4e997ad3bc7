package graft.core

import graft.SparkSpec
import graft.plans.LevenshteinGuard
import org.apache.spark.sql.{GraftSqlShims, SparkSession}

/** The fixture session is the engine's own posture: the SQL confs the
  * bench, the oracle and the service run under, with GraftExtensions
  * loaded, and a second GraftSession call on the live session changes
  * nothing. */
class GraftSessionSpec extends SparkSpec {

  private def checkPosture(s: SparkSession): Unit = {
    val confs = GraftSession.sqlConfs(4)
    assert(confs("spark.sql.shuffle.partitions") == "4")
    assert(confs("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(confs("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(confs("spark.sql.session.timeZone") == "UTC")
    assert(confs("spark.sql.autoBroadcastJoinThreshold") == (64L << 20).toString)
    confs.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    assert(s.sparkContext.master == "local[4]")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(GraftSqlShims.extraOptimizerRules(s).count(_ eq LevenshteinGuard) == 1,
      "LevenshteinGuard must be loaded exactly once")
    assert(s.catalog.functionExists("graft_dot"))
    val dot = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(dot == 11.0)
  }

  test("the fixture session holds the posture's confs, rule and functions") {
    checkPosture(spark)
  }

  test("a second GraftSession call on the live session is idempotent") {
    val again = GraftSession(cpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    assert(again eq spark, "getOrCreate must hand back the live session")
    checkPosture(again)
  }

  test("a live session missing the functions gets them back") {
    val other = spark.newSession()
    other.sql("DROP TEMPORARY FUNCTION graft_dot")
    assert(!other.catalog.functionExists("graft_dot"))
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(other)
    try {
      val again = GraftSession(cpus = 4)
      spark.sparkContext.setLogLevel("ERROR")
      assert(again eq other)
      assert(other.catalog.functionExists("graft_dot"))
      assert(GraftSqlShims.extraOptimizerRules(other).count(_ eq LevenshteinGuard) == 1)
    } finally prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }
}
