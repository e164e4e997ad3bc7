package graft.operators

import graft.SparkSpec

/** q79 dynamic partition overwrite: the restatement replaces only its
  * own month, and dynamic mode rides the write, not the session conf. */
class DynamicOverwriteSpec extends SparkSpec {

  test("q79: only the restated month changes; the session conf is untouched") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    val rows = RelationalQueries.q79_dynamic_overwrite(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(spark.conf.getOption(key) == before)
    // static mode would have truncated every other month
    assert(rows.size > 1, s"other months lost: $rows")
    assert(rows.collect { case (m, n) if n > 0 => m }.toSet == Set("1997-06"))
  }
}
