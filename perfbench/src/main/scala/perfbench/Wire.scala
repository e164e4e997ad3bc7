package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, BufferedReader,
  ByteArrayOutputStream, DataInputStream, DataOutputStream, InputStreamReader,
  PrintWriter}
import java.net.Socket
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A prepared-statement argument of an EQ frame. */
sealed trait Bind
final case class BLong(v: Long) extends Bind
final case class BDoubles(v: Array[Double]) extends Bind

/** One decoded RS frame: the header fields and every cell as raw bytes. */
final case class RsFrame(payloadLen: Long, nRows: Long, nFields: Int,
                         rows: IndexedSeq[IndexedSeq[Array[Byte]]]) {
  def wireBytes: Long = 2 + 8 + 8 + 4 + payloadLen
}

/** The reference client's binary frame protocol, written independently of
  * the server's codec: little-endian integers, C strings sent as
  * strlen+1 with their NUL, packed little-endian double BLOBs. */
object Frames {
  private def u64(o: DataOutputStream, v: Long): Unit =
    o.writeLong(java.lang.Long.reverseBytes(v))
  private def u32(o: DataOutputStream, v: Int): Unit =
    o.writeInt(java.lang.Integer.reverseBytes(v))
  private def cstr(o: DataOutputStream, s: String): Unit = {
    val b = (s + "\u0000").getBytes(UTF_8); u64(o, b.length.toLong); o.write(b)
  }

  def packDoubles(v: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(v.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    v.foreach(bb.putDouble)
    bb.array()
  }

  def unpackDoubles(b: Array[Byte]): Array[Double] = {
    require(b.length % 8 == 0, s"double blob of ${b.length} bytes")
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    Array.tabulate(b.length / 8)(i => bb.getDouble(i * 8))
  }

  /** A NUL-terminated text cell as its string. */
  def text(cell: Array[Byte]): String = {
    val end = if (cell.nonEmpty && cell.last == 0) cell.length - 1 else cell.length
    new String(cell, 0, end, UTF_8)
  }

  def ud(db: String, device: String): Array[Byte] = {
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    o.write("UD".getBytes(UTF_8)); cstr(o, db); cstr(o, device); o.flush()
    bo.toByteArray
  }

  def query(query: String, device: String, binds: Seq[Bind] = Nil,
         totRun: Long = 1, currRun: Long = 1): Array[Byte] = {
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    o.write("EQ".getBytes(UTF_8))
    u32(o, binds.size + 1)
    cstr(o, query); cstr(o, device)
    if (binds.nonEmpty) {
      u64(o, totRun); u64(o, currRun)
      binds.foreach {
        case BLong(v) =>
          u64(o, 8); o.write("DL".getBytes(UTF_8)); u64(o, v)
        case BDoubles(v) =>
          val b = packDoubles(v)
          u64(o, b.length.toLong); o.write("DB".getBytes(UTF_8)); o.write(b)
      }
    }
    o.flush()
    bo.toByteArray
  }

  /** Reads an RS frame whose tag has already been consumed, and checks
    * that the declared payload length equals the bytes the cells used. */
  def readRs(in: DataInputStream): RsFrame = {
    def r64(): Long = java.lang.Long.reverseBytes(in.readLong())
    val payloadLen = r64(); val nRows = r64()
    val nFields = java.lang.Integer.reverseBytes(in.readInt())
    var consumed = 0L
    val rows = (0L until nRows).map { _ =>
      (0 until nFields).map { _ =>
        val n = r64()
        if (n < 0 || n > payloadLen) throw new WrongResult(s"cell length $n")
        val b = new Array[Byte](n.toInt); in.readFully(b)
        consumed += 8 + n
        b
      }
    }
    if (consumed != payloadLen)
      throw new WrongResult(s"payload_len $payloadLen, cells consumed $consumed")
    RsFrame(payloadLen, nRows, nFields, rows)
  }

  /** The RS frame IoService writes, encoded by the benchmark's own rules;
    * used by the round-trip self-test. */
  def encodeRs(rows: Seq[Seq[Array[Byte]]], nFields: Int): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val b = new DataOutputStream(body)
    rows.foreach(_.foreach { c => u64(b, c.length.toLong); b.write(c) })
    b.flush()
    val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
    o.write("RS".getBytes(UTF_8))
    u64(o, body.size().toLong); u64(o, rows.size.toLong); u32(o, nFields)
    o.write(body.toByteArray); o.flush()
    bo.toByteArray
  }
}

/** One binary-wire connection. Every call returns the latency to the
  * last byte of the reply in ms, or throws [[ServerError]] on `ER`. */
final class BinaryClient(port: Int, device: String = "memory") extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  var bytesOut = 0L
  var bytesIn = 0L

  private def send(b: Array[Byte]): Unit = { out.write(b); out.flush(); bytesOut += b.length }
  private def tag(): String = {
    val b = new Array[Byte](2); in.readFully(b); bytesIn += 2; new String(b, UTF_8)
  }
  private def expect(want: String): Unit = {
    val got = tag()
    if (got == "ER") throw new ServerError(s"$want answered ER")
    if (got != want) throw new WrongResult(s"expected $want frame, got $got")
  }

  def ping(): Unit = { send("PG".getBytes(UTF_8)); expect("PG") }

  def useDb(db: String): Unit = { send(Frames.ud(db, device)); expect("UD") }

  def query(query: String, binds: Seq[Bind] = Nil, totRun: Long = 1,
         currRun: Long = 1): Double = {
    val frame = Frames.query(query, device, binds, totRun, currRun)
    val t0 = System.nanoTime()
    send(frame); expect("EQ")
    (System.nanoTime() - t0) / 1e6
  }

  /** Sends an EQ and returns without reading its reply. */
  def queryNoReply(query: String): Unit = send(Frames.query(query, device))

  def rs(): (Double, RsFrame) = {
    val t0 = System.nanoTime()
    send("RS".getBytes(UTF_8)); expect("RS")
    val f = Frames.readRs(in)
    val ms = (System.nanoTime() - t0) / 1e6
    bytesIn += f.wireBytes - 2
    (ms, f)
  }

  def close(): Unit = sock.close()
}

/** One JSON line-protocol connection. */
final class JsonClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val out = new PrintWriter(new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8), false)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8), 1 << 16)
  private val mapper = new ObjectMapper()
  var bytesIn = 0L

  private def call(line: String): (Double, JsonNode) = {
    val t0 = System.nanoTime()
    out.print(line); out.print('\n'); out.flush()
    val reply = in.readLine()
    val ms = (System.nanoTime() - t0) / 1e6
    if (reply == null) throw new java.io.EOFException("server closed")
    bytesIn += reply.length + 1
    val node = mapper.readTree(reply)
    if (!node.path("ok").asBoolean(false))
      throw new ServerError(node.path("error").asText("error"))
    (ms, node)
  }

  def useDb(db: String): Unit = call(s"UD $db memory")
  def query(query: String): Double = call(s"EQ $query")._1
  def rs(maxRows: Int): (Double, JsonNode) = call(s"RS $maxRows")
  def close(): Unit = sock.close()
}
