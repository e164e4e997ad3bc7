package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Everything the program receives is a pure function of the seed. */
object SeedData {
  /** SplitMix64 finaliser over a combined key. */
  def mix(xs: Long*): Long = {
    var z = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      z = (z ^ x) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
    }
    z
  }

  /** A fragment cell: a multiple of 1/64 in [-8, 8). Sums, block averages
    * over power-of-two blocks and doubling are exact on such values, so
    * results can be checked for exact equality. */
  def cell(seed: Long, frag: Long, id: Long, k: Int): Double =
    (((mix(seed, frag, id, k.toLong) >>> 11) % 1024) - 512) / 64.0

  def row(seed: Long, frag: Long, id: Long, width: Int): Array[Double] =
    Array.tabulate(width)(k => cell(seed, frag, id, k))

  /** The value `random_import` (algorithm=default) stores at (row, j),
    * j 1-based: the server's documented integer hash, replayed here. */
  def randomImportCell(id: Long, j: Int): Double = {
    val h = java.lang.Math.floorMod(
      (id * 2654435761L + j * 40503L + 12345L) * 69069L + 1234567L, 2147483647L)
    h.toDouble / 2147483647.0 * 1000.0
  }

  /** Writes a NetCDF classic (CDF-1) file holding one double variable
    * `measure(id_dim, elem)` with `rows(id)` as row id (1-based). Returns
    * the file size in bytes. Same seed, same bytes. */
  def writeNetCdf(path: java.io.File, nRows: Int, width: Int,
                  rowOf: Long => Array[Double]): Long = {
    path.getParentFile.mkdirs()
    val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    def name(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      o.writeInt(b.length); o.write(b)
      (0 until (4 - b.length % 4) % 4).foreach(_ => o.writeByte(0))
    }
    def nameSize(s: String): Int = 4 + (s.length + 3) / 4 * 4
    try {
      o.write("CDF".getBytes(UTF_8)); o.writeByte(1)
      o.writeInt(0) // numrecs
      o.writeInt(0x0A); o.writeInt(2) // NC_DIMENSION x2
      name("id_dim"); o.writeInt(nRows)
      name("elem"); o.writeInt(width)
      o.writeInt(0); o.writeInt(0) // no global attributes
      o.writeInt(0x0B); o.writeInt(1) // NC_VARIABLE x1
      name("measure")
      o.writeInt(2); o.writeInt(0); o.writeInt(1) // dim ids
      o.writeInt(0); o.writeInt(0) // no variable attributes
      o.writeInt(6) // NC_DOUBLE
      o.writeInt(nRows * width * 8) // vsize
      val header = 4 + 4 + 8 + nameSize("id_dim") + 4 + nameSize("elem") + 4 +
        8 + 8 + nameSize("measure") + 4 + 8 + 8 + 4 + 4 + 4
      o.writeInt(header) // begin
      (1 to nRows).foreach(id => rowOf(id.toLong).foreach(o.writeDouble))
    } finally o.close()
    path.length()
  }
}
