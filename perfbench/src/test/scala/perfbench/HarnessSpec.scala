package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.service.IoService

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir() = Files.createTempDirectory("perfbench").toFile

  test("a percentile is reported only with at least 10 samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 99).contains(990.0))
    assert(xs.count(_ > 990.0) == 10)
    assert(Stats.percentile((1 to 999).map(_.toDouble), 99).isEmpty) // 9 beyond p99
    assert(Stats.percentile((1 to 200).map(_.toDouble), 95).contains(190.0))
    assert(Stats.percentile((1 to 100).map(_.toDouble), 95).isEmpty)
    assert(Stats.percentile(Nil, 50).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("the same seed gives the same request streams and NetCDF files") {
    val dir = tmpDir()
    for (w <- Seq("wire_query", "wire_ingest"); client <- 0 until 4) {
      val a = new WirePlan(7L, w, 4, dir).requestBytes(client, 6)
      val b = new WirePlan(7L, w, 4, dir).requestBytes(client, 6)
      val c = new WirePlan(8L, w, 4, dir).requestBytes(client, 6)
      assert(java.util.Arrays.equals(a, b), s"$w client $client: same seed, different bytes")
      assert(!java.util.Arrays.equals(a, c), s"$w client $client: seed has no effect")
    }
    def nc(seed: Long, name: String): Array[Byte] = {
      val f = new java.io.File(dir, name)
      SeedData.writeNetCdf(f, 300, 16, id => SeedData.row(seed, 5L, id, 16))
      Files.readAllBytes(f.toPath)
    }
    assert(java.util.Arrays.equals(nc(7L, "a.nc"), nc(7L, "b.nc")))
    assert(!java.util.Arrays.equals(nc(7L, "c.nc"), nc(8L, "d.nc")))
  }

  test("the same seed gives the same batch tables") {
    def tables(seed: Long): Seq[Seq[String]] = {
      val dir = tmpDir().getAbsolutePath
      TableGen.write(spark, seed, dir, 0.02)
      TableGen.tables.map(t => spark.read.parquet(s"$dir/$t.parquet").collect().map(_.toString).sorted.toSeq)
    }
    assert(tables(7L) == tables(7L))
    assert(tables(7L) != tables(8L))
  }

  test("the generated NetCDF file reads back through NetCDFSource") {
    val f = new java.io.File(tmpDir(), "x.nc")
    SeedData.writeNetCdf(f, 50, 8, id => SeedData.row(3L, 9L, id, 8))
    val rows = spark.read.format("graft.sources.NetCDFSource")
      .option("path", f.getAbsolutePath).option("var", "measure").option("explicit", "1")
      .load().collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 50L))
    rows.foreach { case (id, m) => assert(m.sameElements(SeedData.row(3L, 9L, id, 8))) }
  }

  test("RS frames round-trip through the harness codec, and a short payload is caught") {
    val cells = Seq(Seq("1\u0000".getBytes, Frames.packDoubles(Array(0.5, -2.0))),
      Seq("7\u0000".getBytes, Frames.packDoubles(Array(1.25))))
    val bytes = Frames.encodeRs(cells, 2)
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes, 2, bytes.length - 2))
    val f = Frames.readRs(in)
    assert(f.nRows == 2 && f.nFields == 2)
    assert(Frames.text(f.rows(1)(0)) == "7")
    assert(Frames.unpackDoubles(f.rows(0)(1)).sameElements(Array(0.5, -2.0)))
    val lying = bytes.clone()
    lying(2) = (lying(2) + 8).toByte // payload_len larger than the cells
    val in2 = new java.io.DataInputStream(new java.io.ByteArrayInputStream(lying, 2, lying.length - 2))
    intercept[WrongResult](Frames.readRs(in2))
  }

  test("the binary client decodes the qd09 rows from a live IoService") {
    val svc = new IoService(spark, 0, "binary")
    val c = new BinaryClient(svc.boundPort)
    try {
      c.ping(); c.useDb("default")
      c.query("operation=create_frag;frag_name=wirein;" +
        "column_name=id_dim|measure;column_type=long|double_array")
      val ph = (1 to 50).map(k => s"?$k").mkString("|")
      (0 until 4).foreach { run =>
        val binds = (1 to 25).flatMap { j =>
          val i = run * 25 + j
          Seq(BLong(i.toLong), BDoubles(Array.tabulate(8)(k => (i - 1) * 0.5 + k * 0.125)))
        }
        c.query(s"operation=multi_insert;frag_name=wirein;field=id_dim|measure;value=$ph",
          binds, 4, run + 1L)
      }
      c.query("operation=create_frag_select;frag_name=wout;" +
        "field=id_dim|oph_mul_scalar('oph_double','oph_double',measure,2.0);" +
        "field_alias=id_dim|measure;from=wirein;where=oph_is_in_subset(id_dim,1,3,100)")
      c.query("operation=select;field=id_dim|measure;from=wout;order=id_dim")
      val (_, f) = c.rs()
      val got = f.rows.map(r => Frames.text(r(0)).toLong -> Frames.unpackDoubles(r(1)).toSeq)
      val want = (1 to 100 by 3).map(i =>
        i.toLong -> (0 until 8).map(k => ((i - 1) * 0.5 + k * 0.125) * 2.0))
      assert(got == want)
    } finally { c.close(); svc.stop() }
  }

  test("an ER reply is counted as failed and never becomes a latency sample") {
    val svc = new IoService(spark, 0, "binary")
    val c = new BinaryClient(svc.boundPort)
    val l = new Ledger
    try {
      c.useDb("default")
      assert(l.attempt("eq")(c.query("operation=random_import;frag_name=ok;nrows=5;array_length=2")))
      assert(!l.attempt("eq")(c.query("operation=select;field=id_dim|measure;from=missing_frag")))
      assert(l.attempted == 2 && l.failed == 1 && l.wrong == 0)
      assert(l.of("eq").size == 1)
      assert(l.failureCauses == Map("eq: ER reply" -> 1))
      // a decoded result that fails its check is a failure too
      assert(!l.attempt("rs")(throw new WrongResult("measure differs")))
      assert(l.failed == 2 && l.wrong == 1 && l.count("rs") == 0)
    } finally { c.close(); svc.stop() }
  }
}
