package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._

/** The absolute-threshold edit-distance rewrite: length band first, then
  * Spark's banded threshold DP. Soundness is checked against the
  * un-rewritten predicate on data that exercises nulls, ties at the
  * threshold, strict bounds, and mirrored comparison forms. */
class LevenshteinGuardSpec extends SparkSpec {

  private def frame(): DataFrame = {
    import spark.implicits._
    Seq(
      ("kitten", "sitting"),      // dist 3
      ("kitten", "kitten"),       // dist 0
      ("abc", "abcd"),            // dist 1
      ("abc", "abcdefghij"),      // len band rejects at k<=6
      ("", "xy"),                 // dist 2
      (null.asInstanceOf[String], "x"), // null → filter drops
      ("x", null.asInstanceOf[String]))
      .toDF("a", "b")
  }

  /** Parquet-backed copy: ConvertToLocalRelation folds filters over a
    * LocalRelation away before any optimizer rule can see them, so the
    * plan-shape assertions need a real scan under the Filter. */
  private lazy val scanned: DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_levguard")
    frame().write.mode("overwrite").parquet(d.toString)
    spark.read.parquet(d.toString)
  }

  /** The fixture session loads the rule (GraftSession); the
    * un-rewritten reference semantics are computed with it excluded. */
  private def withoutRule[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, LevenshteinGuard.ruleName)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("rewrites lev <= k to a length band plus the threshold DP form") {
    val df = scanned.filter(expr("levenshtein(a, b) <= 2"))
    val opt = df.queryExecution.optimizedPlan
    val levs = opt.expressions.flatMap(_.collect {
      case l: Levenshtein => l })
    assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
      s"threshold form missing:\n$opt")
    assert(opt.toString.contains("abs((length(a"),
      s"length band missing:\n$opt")
  }

  test("all four comparison forms keep the un-rewritten semantics") {
    val preds = Seq(
      "levenshtein(a, b) <= 2", "levenshtein(a, b) < 3",
      "2 >= levenshtein(a, b)", "3 > levenshtein(a, b)",
      "levenshtein(a, b) <= 0")
    val plain = withoutRule(preds.map { p =>
      val df = scanned.filter(expr(p))
      // the reference run must really be the un-rewritten predicate
      assert(df.queryExecution.optimizedPlan.expressions.forall(_.collect {
        case l: Levenshtein if l.threshold.isDefined => l }.isEmpty),
        s"rule not excluded for: $p")
      df.collect().map(r =>
        (Option(r.getString(0)), Option(r.getString(1)))).toSet
    })
    preds.zip(plain).foreach { case (p, expect) =>
      val df = scanned.filter(expr(p))
      // the rewrite must actually be in the executed predicate here
      assert(df.queryExecution.optimizedPlan.expressions.exists(_.collect {
        case l: Levenshtein if l.threshold.isDefined => l }.nonEmpty),
        s"rule did not fire for: $p")
      val got = df.collect().map(r =>
        (Option(r.getString(0)), Option(r.getString(1)))).toSet
      assert(got == expect, s"semantics changed for: $p")
    }
  }

  test("fires end-to-end through GraftExtensions injection (no manual rule list)") {
    import org.apache.spark.sql.SparkSession
    // a session built the production way (GraftSession, which builds
    // with .withExtensions(GraftExtensions)) must apply the rewrite on a
    // plain DataFrame with no experimental.extraOptimizations plumbing.
    // getOrCreate reuses the shared SparkContext but needs the default
    // session cleared to construct a fresh session that honors the
    // extensions.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
    try {
      val s2 = graft.core.GraftSession(cpus = 4)
      assert(!(s2 eq spark), "expected a freshly constructed session")
      assert(s2.experimental.extraOptimizations.isEmpty,
        "the rule must come from the extension, not the fallback")
      val d = java.nio.file.Files.createTempDirectory("graft_levext")
      frame().write.mode("overwrite").parquet(d.toString)
      val df = s2.read.parquet(d.toString)
        .filter(expr("levenshtein(a, b) <= 2"))
      val levs = df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
        case l: Levenshtein => l })
      assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
        s"extension-injected rule did not fire:\n${df.queryExecution.optimizedPlan}")
      // the injected SQL functions ride the same extension point
      val dot = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .collect()(0).getDouble(0)
      assert(dot == 11.0)
    } finally {
      spark.sparkContext.setLogLevel("ERROR")
      SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("non-deterministic arguments are left alone (no duplication)") {
    // rand() is non-deterministic: duplicating it into a length band
    // would evaluate it twice with different values. The rule must
    // not fire; the full-DP Levenshtein (threshold = None) survives.
    val df = scanned
      .filter(expr("levenshtein(concat(a, cast(rand(7) as string)), b) <= 2"))
    val levs = df.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case l: Levenshtein => l })
    assert(levs.nonEmpty && levs.forall(_.threshold.isEmpty),
      s"rule fired on non-deterministic args:\n${df.queryExecution.optimizedPlan}")
  }

  test("negative or non-literal thresholds are left alone") {
    val neg = frame().filter(expr("levenshtein(a, b) < 0"))
    assert(neg.collect().isEmpty)
    val dyn = scanned.withColumn("k", length(col("b")))
      .filter(expr("levenshtein(a, b) <= k"))
    val levs = dyn.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case l: Levenshtein => l })
    assert(levs.forall(_.threshold.isEmpty))
  }
}
