package perfbench

import java.util.SplittableRandom

/** A fragment whose every cell the benchmark can recompute: either seeded
  * cells (`SeedData.cell`) or the server's `random_import` generator. */
final case class Frag(name: String, key: Long, rows: Int, width: Int, seed: Long,
                      randomImport: Boolean = false) {
  /** Every row, computed once and shared by the clients that check it. */
  lazy val table: Array[Array[Double]] = Array.tabulate(rows) { i =>
    val id = i + 1L
    if (randomImport) Array.tabulate(width)(j => SeedData.randomImportCell(id, j + 1))
    else SeedData.row(seed, key, id, width)
  }
  def row(id: Long): Array[Double] = table((id - 1).toInt)
}

/** One seeded request. `label` names the engine operation it drives. */
sealed trait Op { def label: String }
final case class EqOp(label: String, query: String, binds: Seq[Bind] = Nil,
                      totRun: Long = 1, currRun: Long = 1, fileBytes: Long = 0,
                      shape: String = "") extends Op {
  /** The request kind latencies are grouped by. */
  def kind: String = if (shape.isEmpty) label else s"$label.$shape"
  /** The statement text the engine sees (the service appends chunked-run
    * fields from the frame to the query text). */
  def engineQuery: String =
    if (totRun > 1) s"$query;tot_run=$totRun;curr_run=$currRun" else query
}
final case class RsOp(expect: () => IndexedSeq[(Long, Array[Double])], kind: String) extends Op {
  def label: String = "rs"
}
final case class Cycle(ops: Seq[Op], abandon: Boolean, kind: String)

/** The seeded request streams of the two wire workloads. A cycle is a
  * pure function of (seed, client, cycle index). */
final class WirePlan(val seed: Long, val workload: String, val nproc: Int,
                     val ncDir: java.io.File) {
  val smallRows = 2000; val smallWidth = 64
  val largeRows = 12000; val largeWidth = 128
  val smalls: Seq[Frag] = (0 until 4).map(i => Frag(s"s$i", 10L + i, smallRows, smallWidth, seed))
  val large: Frag = Frag("big", 100L, largeRows, largeWidth, seed)
  /** The JSON listener's own fragment (a separate catalog). */
  val jsonFrag: Frag = Frag("j0", 200L, smallRows, smallWidth, seed)
  /** NetCDF files `file_import` reads on wire_ingest. */
  val ingestFiles: Seq[Frag] = (0 until 4).map(i => Frag(s"nc$i", 300L + i, 1500, smallWidth, seed))
  val abandonOneIn = 20
  val insertRuns = 8; val insertRowsPerRun = 100

  def ncFile(f: Frag): java.io.File = new java.io.File(ncDir, s"${f.name}.nc")

  /** Files the workload's setup writes from the seed. */
  def ncFrags: Seq[Frag] =
    if (workload == "wire_query") Seq(large, jsonFrag) else ingestFiles

  def fileImport(f: Frag, as: String, partitions: Int = 0): EqOp =
    EqOp("file_import", s"operation=file_import;frag_name=$as;src_path=@${ncFile(f).getAbsolutePath};" +
      "measure=measure;explicit=1" + (if (partitions > 0) s";partitions=$partitions" else ""),
      fileBytes = ncFile(f).length())

  /** create_frag + chunked prepared multi_insert runs of `f`'s rows. */
  def insertOps(f: Frag, as: String, runs: Int): Seq[EqOp] = {
    val per = f.rows / runs
    val ph = (1 to 2 * per).map(k => s"?$k").mkString("|")
    EqOp("create", s"operation=create_frag;frag_name=$as;" +
      "column_name=id_dim|measure;column_type=long|double_array") +:
      (0 until runs).map { r =>
        val binds = (1 to per).flatMap { j =>
          val id = (r * per + j).toLong
          Seq(BLong(id), BDoubles(f.row(id)))
        }
        EqOp("insert", s"operation=multi_insert;frag_name=$as;field=id_dim|measure;value=$ph",
          binds, runs.toLong, r + 1L)
      }
  }

  /** Preload ops for the binary listener (run once per setup). */
  def preloadBinary: Seq[EqOp] =
    if (workload != "wire_query") Nil
    else smalls.flatMap(f => insertOps(f, f.name, 8)) :+ fileImport(large, large.name, 2 * nproc)

  /** Preload ops for the JSON listener. */
  def preloadJson: Seq[EqOp] =
    if (workload != "wire_query") Nil else Seq(fileImport(jsonFrag, jsonFrag.name))

  /** Fragments the preload leaves in each listener's catalog. */
  def preloadedBinary: Seq[String] =
    if (workload != "wire_query") Nil else smalls.map(_.name) :+ large.name
  def preloadedJson: Seq[String] = if (workload != "wire_query") Nil else Seq(jsonFrag.name)

  private def rng(client: Int, n: Int) = new SplittableRandom(SeedData.mix(seed, client.toLong, n.toLong))

  private def subset(r: SplittableRandom, rows: Int, target: Int): (Int, Int, Int) = {
    val step = math.max(1, rows / target)
    (1 + r.nextInt(step), step, rows - r.nextInt(step))
  }
  private def ids(s: (Int, Int, Int)): IndexedSeq[Long] = (s._1 to s._3 by s._2).map(_.toLong)
  private def inSubset(s: (Int, Int, Int)) = s"oph_is_in_subset(id_dim,${s._1},${s._2},${s._3})"
  private def select(out: String, shape: String, where: String = "") =
    EqOp("select", s"operation=select;field=id_dim|measure;from=$out;" + where + "order=id_dim",
      shape = shape)
  private def drop(out: String) = EqOp("drop", s"operation=drop_frag;frag_name=$out")

  /** A CTAS drawn from the four array-primitive shapes and the rows the
    * following select must return. */
  private def ctas(r: SplittableRandom, kind: Int, src: Frag, other: Option[Frag], out: String)
      : (EqOp, () => IndexedSeq[(Long, Array[Double])]) = {
    val target = if (src.rows > smallRows) 500 else 400
    val size = if (src.rows > smallRows) "large" else "small"
    val shape = s"${Seq("reduce", "group", "subset", "sum")(kind)}.$size"
    val (op, expect) = kind match {
      case 0 =>
        val s = subset(r, src.rows, target)
        val q = s"operation=create_frag_select;frag_name=$out;" +
          "field=id_dim|oph_reduce('oph_double','oph_double',measure,'oph_avg',8);" +
          s"field_alias=id_dim|measure;from=${src.name};where=${inSubset(s)}"
        (EqOp("ctas", q), () => ids(s).map { id =>
          id -> src.row(id).grouped(8).map(b => b.foldLeft(0.0)(_ + _) / b.length).toArray
        })
      case 1 =>
        val g = src.rows / 40
        val q = s"operation=create_frag_select;frag_name=$out;" +
          s"field=oph_id(id_dim,$g)|oph_aggregate_operator('oph_double',measure,'oph_max');" +
          s"field_alias=id_dim|measure;from=${src.name};group=oph_id(id_dim,$g)"
        (EqOp("ctas", q), () => (1 to src.rows).grouped(g).zipWithIndex.map { case (grp, i) =>
          (i + 1L) -> grp.map(id => src.row(id.toLong)).reduce((a, b) =>
            a.zip(b).map { case (x, y) => math.max(x, y) })
        }.toIndexedSeq)
      case 2 =>
        val s = subset(r, src.rows, target)
        val q = s"operation=function;function_name=oph_subset;function_args=${src.name}|1|" +
          s"id_dim:oph_mul_scalar('oph_double','oph_double',measure,2.0)|$out|${inSubset(s)}"
        (EqOp("ctas", q), () => ids(s).zipWithIndex.map { case (id, i) =>
          (i + 1L) -> src.row(id).map(_ * 2.0)
        })
      case _ =>
        val b = other.get
        val s = subset(r, src.rows, target)
        val q = s"operation=create_frag_select;frag_name=$out;" +
          "field=id_dim|oph_sum_array('oph_double','oph_double',t1.measure,t2.measure);" +
          s"field_alias=id_dim|measure;from=${src.name}|${b.name};where=${inSubset(s)}"
        (EqOp("ctas", q), () => ids(s).map { id =>
          id -> src.row(id).zip(b.row(id)).map { case (x, y) => x + y }
        })
    }
    (op.copy(shape = shape), expect)
  }

  /** Cycle `n` of binary client `client` (clients 0..nproc-2). The shape
    * mix is fixed by the cycle index, so every run sees the same mix: a
    * rotation of six CTAS shapes (four on a small fragment, two on the
    * large one) starting at a per-client offset, and one cycle in twenty
    * abandoned. The seed draws fragments and subsets. */
  def binaryCycle(client: Int, n: Int): Cycle = {
    val r = rng(client, n)
    val out = s"o${client}_$n"
    if (workload == "wire_query") {
      val abandon = n % abandonOneIn == abandonOneIn - 1
      val (kind, useLarge) = Seq((0, false), (1, false), (0, true), (2, false), (3, false),
        (1, true))((n + 2 * client) % 6)
      val src = if (useLarge) large else smalls(r.nextInt(smalls.size))
      val other = if (useLarge) None
                  else Some(smalls.filterNot(_ == src).apply(r.nextInt(smalls.size - 1)))
      val (c, expect) = ctas(r, kind, src, other, out)
      Cycle(Seq(c, select(out, c.shape), RsOp(expect, c.shape), drop(out)), abandon, c.shape)
    } else {
      // create_frag + chunked multi_insert, file_import, random_import;
      // one verifying select + RS per fragment; drop all three
      val ins = Frag(s"i${client}_$n", SeedData.mix(client.toLong, n.toLong) & 0xffffffL,
        insertRuns * insertRowsPerRun, smallWidth, seed)
      val imp = ingestFiles(r.nextInt(ingestFiles.size))
      val impName = s"f${client}_$n"
      val rnd = Frag(s"r${client}_$n", 0L, 900 + r.nextInt(200), 24 + r.nextInt(9), seed,
        randomImport = true)
      Cycle(insertOps(ins, ins.name, insertRuns) ++ Seq(
        fileImport(imp, impName),
        EqOp("random_import", s"operation=random_import;frag_name=${rnd.name};" +
          s"nrows=${rnd.rows};array_length=${rnd.width}")) ++
        verify(r, Seq((ins, ins.name, "inserted"), (imp, impName, "imported"),
          (rnd, rnd.name, "random"))), abandon = false, "ingest")
    }
  }

  /** One select + RS per (fragment, name, shape), then a drop of each. */
  private def verify(r: SplittableRandom, frags: Seq[(Frag, String, String)]): Seq[Op] =
    frags.flatMap { case (f, nm, shape) =>
      val s = subset(r, f.rows, 100)
      Seq(select(nm, shape, s"where=${inSubset(s)};"),
        RsOp(() => ids(s).map(id => id -> f.row(id)), shape))
    } ++ frags.map { case (_, nm, _) => drop(nm) }

  /** Cycle `n` of the JSON client: the same shapes on its own catalog. */
  def jsonCycle(n: Int): Cycle = {
    val client = nproc - 1
    val r = rng(client, n)
    if (workload == "wire_query") {
      val out = s"jo$n"
      val (c, expect) = ctas(r, n % 3, jsonFrag, None, out)
      Cycle(Seq(c, select(out, c.shape), RsOp(expect, c.shape), drop(out)), abandon = false, c.shape)
    } else {
      val imp = ingestFiles(r.nextInt(ingestFiles.size))
      val rnd = Frag(s"jr$n", 0L, 900 + r.nextInt(200), 24 + r.nextInt(9), seed,
        randomImport = true)
      Cycle(Seq(fileImport(imp, s"jf$n"),
        EqOp("random_import", s"operation=random_import;frag_name=${rnd.name};" +
          s"nrows=${rnd.rows};array_length=${rnd.width}")) ++
        verify(r, Seq((imp, s"jf$n", "imported"), (rnd, rnd.name, "random"))),
        abandon = false, "ingest")
    }
  }

  /** The bytes a client would send for cycles 0 until `n`: the request
    * stream the seed self-test compares. */
  def requestBytes(client: Int, n: Int): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    (0 until n).foreach { i =>
      val c = if (client == nproc - 1) jsonCycle(i) else binaryCycle(client, i)
      c.ops.foreach {
        case e: EqOp => bo.write(Frames.query(e.query, "memory", e.binds, e.totRun, e.currRun))
        case _: RsOp => bo.write("RS".getBytes("UTF-8"))
      }
    }
    bo.toByteArray
  }
}
