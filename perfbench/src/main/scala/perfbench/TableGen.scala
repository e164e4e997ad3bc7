package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded tables in the schema of the repository's test data, written as
  * parquet under `dir/<table>.parquet`: the four tables the sweep's
  * queries read. Every value is a hash of (seed, column, row), so the
  * same seed gives the same tables on any layout. `scale` 1.0 gives the
  * row counts of the sf0.01 correctness tier; the value distributions
  * follow that tier's tables as `profile_tables.py` measures them (see
  * README.md for the comparison). */
object TableGen {
  val tables: Seq[String] = Seq("lineitem", "events", "documents", "embeddings")

  private val words = Seq("dup", "vector", "batch", "part", "value", "a", "slow", "scan",
    "merge", "sort", "hash", "table", "join", "fast", "column", "key", "spark", "agg", "the",
    "line", "order", "data", "small", "customer", "query", "window", "big", "stream", "group",
    "row", "filter")

  def write(spark: SparkSession, seed: Long, dir: String, scale: Double): Unit = {
    def n(base: Int): Long = math.max(1L, math.round(base * scale))
    def h(tag: Int, c: Column): Column = xxhash64(lit(seed), lit(tag), c)
    def uni(tag: Int, c: Column, lo: Long, hi: Long): Column = pmod(h(tag, c), lit(hi - lo)) + lit(lo)
    def u01(tag: Int, c: Column): Column = pmod(h(tag, c), lit(1L << 30)).cast("double") / (1L << 30).toDouble
    def pick(tag: Int, c: Column, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(tag, c), lit(xs.size.toLong)) + 1).cast("int"))
    def money(tag: Int, c: Column, lo: Double, hi: Double): Column =
      round(u01(tag, c) * (hi - lo) + lo, 2)
    def day(tag: Int, c: Column, from: String, days: Long): Column =
      timestamp_seconds(lit(java.time.LocalDate.parse(from).toEpochDay * 86400L) +
        uni(tag, c, 0, days) * 86400L)
    val id = col("id")
    val nSupp = n(100); val nPart = n(2000); val nOrd = n(15000)
    val nLine = n(60000); val nEv = n(10000); val nDoc = n(500); val nEmb = n(500)
    val range = (k: Long) => spark.range(0, k)

    val dfs: Map[String, DataFrame] = Map(
      "lineitem" -> range(nLine).select(uni(16, id, 0, nOrd).as("l_orderkey"),
        uni(17, id, 0, nPart).as("l_partkey"), uni(18, id, 0, nSupp).as("l_suppkey"),
        uni(19, id, 1, 8).cast("int").as("l_linenumber"),
        uni(20, id, 1, 51).cast("double").as("l_quantity"),
        money(21, id, 900.0, 105000.0).as("l_extendedprice"),
        (uni(22, id, 0, 11).cast("double") / 100.0).as("l_discount"),
        (uni(23, id, 0, 9).cast("double") / 100.0).as("l_tax"),
        pick(24, id, Seq("A", "N", "R")).as("l_returnflag"),
        pick(25, id, Seq("O", "F")).as("l_linestatus"),
        day(26, id, "1995-01-02", 2498).as("l_shipdate")),
      "events" -> range(nEv).select(id.as("event_id"),
        timestamp_micros((lit(java.time.LocalDate.parse("2024-01-01").toEpochDay * 86400e6) +
          (id.cast("double") + u01(27, id)) * (30.0 * 86400e6 / nEv)).cast("long")).as("ts"),
        uni(28, id, 0, 150).as("user_id"),
        pick(29, id, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
        // exponential, mean 50, as in the test data (median 34.6)
        greatest(round(-log(lit(1.0) - u01(30, id)) * 50.0, 2), lit(0.01)).as("value"),
        concat(lit("{\"k\": "), uni(31, id, 0, 100).cast("string"), lit("}")).as("props")),
      "documents" -> {
        // one document in twenty is a near-duplicate of another one: the
        // same words, drawn from the other document's key, plus " dup"
        val dupOf = when(uni(32, id, 0, 20) === 0,
          pmod(id + 1 + pmod(h(33, id), lit(math.max(1L, nDoc - 1))), lit(nDoc)))
        val base = coalesce(dupOf, id)
        val nw = uni(34, base, 10, 100).cast("int")
        val vocab = array(words.tail.map(lit): _*)
        val text = array_join(transform(sequence(lit(0), nw - 1), k =>
          element_at(vocab, (pmod(xxhash64(lit(seed), lit(35), base, k), lit((words.size - 1).toLong)) + 1)
            .cast("int"))), " ")
        range(nDoc).select(id.as("doc_id"),
          when(dupOf.isNotNull, concat(text, lit(" dup"))).otherwise(text).as("text"),
          pick(36, id, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
          concat(lit("src"), uni(37, id, 0, 20).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> range(nEmb).select(id.as("vec_id"),
        // normal, sd 0.125 (Box-Muller over two hashed uniforms)
        transform(sequence(lit(0), lit(63)), k => {
          def u(tag: Int) = (pmod(xxhash64(lit(seed), lit(tag), id, k), lit(1L << 30)).cast("double") +
            0.5) / (1L << 30).toDouble
          (sqrt(log(u(38)) * -2.0) * cos(u(39) * (2 * math.Pi)) * 0.125).cast("float")
        }).as("embedding"),
        uni(41, id, 0, 10).cast("int").as("label")),
    )
    tables.foreach(t => dfs(t).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
  }
}
