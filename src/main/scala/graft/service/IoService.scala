package graft.service

import java.io.{BufferedInputStream, BufferedOutputStream, BufferedReader,
  DataInputStream, DataOutputStream, EOFException, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession

import graft.engine.IoServer
import graft.sources.BinaryCodec

/** Thin TCP service surface with the reference's connection semantics
  * (src/server/execs/oph_io_server.c:290-310: accept loop, one handler
  * per connection, per-connection session state; message types
  * PG/UD/SQ/EQ/RS of oph_io_server_thread.c). Two codecs over the same
  * dispatch, selected per instance with `wire`:
  *
  * `wire="json"` — line protocol, JSON responses:
  *   UD <db>           use database
  *   EQ <dialect query> execute (create_frag_select / select / ...)
  *   RS [n]            fetch up to n rows of the last result set
  *   BYE               close
  * RS returns {"ok":true,"fields":[...],"rows":[[...]],"nrows":...}:
  * the page is streamed once and counted as it is written, so nrows
  * comes last (JSON member order carries no meaning).
  *
  * `wire="binary"` — the reference client's frame protocol
  *   (oph_io_server_thread.c:150-700, oph_io_client_interface.h:34-66),
  *   all integers little-endian (the reference memcpys host-endian
  *   x86_64 values):
  *   PG                                         → PG
  *   UD [u64 len][db][u64 len][device]          → UD | ER
  *   EQ/SQ [u32 nargs+1][u64 len][query][u64 len][device]
  *     then if nargs>0: [u64 tot_run][u64 curr_run] and per arg
  *     [u64 len][tag:2][bytes] with tags DL(le-long) DD(le-double)
  *     DV(string) DB(packed-double blob) DN(null)  → EQ | ER
  *   RS → RS [u64 payload_len][u64 nrows][u32 nfields]
  *           ([u64 len][value])* — longs/doubles stringified
  *           (NUL-terminated, doubles in C "%f" form), strings
  *           NUL-terminated, array measures as packed little-endian
  *           double BLOBs (oph-lib-binary-io layout).
  *   NOTE the reference's own arg-tag dispatch chain drops the `== 0`
  *   on its STRCMP (oph_io_server_thread.c:608-620), so every tag but
  *   DL lands as LONG and DL lands as DOUBLE; that inversion is a bug
  *   documented here, not replicated — tags decode as named above.
  */
final class IoService(spark: SparkSession, port: Int = 0,
                      wire: String = "json") {
  private val server = new IoServer(spark)
  private val sock = new ServerSocket(port)
  private val running = new AtomicBoolean(true)

  def boundPort: Int = sock.getLocalPort

  private val acceptThread = new Thread(() => {
    while (running.get()) {
      try {
        val client = sock.accept()
        val t = new Thread(() =>
          if (wire == "binary") handleBinary(client) else handle(client))
        t.setDaemon(true)
        t.start()
      } catch { case _: Throwable => /* socket closed */ }
    }
  }, "graft-io-service-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  def stop(): Unit = { running.set(false); sock.close() }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jval(v: Any): String = v match {
    case null => "null"
    // collection.Seq, not the 2.13 immutable default: Spark rows carry
    // array columns as mutable.ArraySeq
    case s: scala.collection.Seq[_] => s.map(jval).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(jval).mkString("[", ",", "]")
    case n: Long => n.toString
    case n: Int => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) jstr(d.toString) else d.toString
    case f: Float => jval(f.toDouble)
    case b: Boolean => b.toString
    case o => jstr(o.toString)
  }

  // ---------------------------------------------------------- binary wire

  private def handleBinary(client: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(client.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(client.getOutputStream))
    val session = server.newSession()
    def u64(): Long = java.lang.Long.reverseBytes(in.readLong())
    def u32(): Int = java.lang.Integer.reverseBytes(in.readInt())
    def bytesN(n: Long): Array[Byte] = {
      // the length is CLIENT-declared: unguarded, a hostile frame forces
      // a negative-size or multi-GiB allocation on the handler thread
      // (n.toInt also silently truncates) — reject loudly instead
      require(n >= 0 && n <= IoService.MaxFrameBytes,
        s"binary frame declares $n bytes (max ${IoService.MaxFrameBytes})")
      val b = new Array[Byte](n.toInt); in.readFully(b); b
    }
    def str(n: Long): String = {
      val b = bytesN(n)
      val end = if (b.nonEmpty && b.last == 0) b.length - 1 else b.length
      new String(b, 0, end, "UTF-8") // the C client sends strlen+1 w/ NUL
    }
    def reply(tag: String): Unit = { out.write(tag.getBytes("UTF-8")); out.flush() }
    def wu64(v: Long): Unit = out.writeLong(java.lang.Long.reverseBytes(v))
    def wu32(v: Int): Unit = out.writeInt(java.lang.Integer.reverseBytes(v))
    /** One result cell as the reference encodes it: numbers and strings
      * NUL-terminated text, array measures packed-double BLOBs. */
    def cell(v: Any): Array[Byte] = v match {
      case null => Array.emptyByteArray
      case l: Long => (l.toString + "\u0000").getBytes("UTF-8")
      case i: Int => (i.toString + "\u0000").getBytes("UTF-8")
      case d: Double => (f"$d%f" + "\u0000").getBytes("UTF-8") // C "%f"
      case f: Float => cell(f.toDouble)
      case b: Boolean => ((if (b) "1" else "0") + "\u0000").getBytes("UTF-8")
      case s: scala.collection.Seq[_] =>
        BinaryCodec.packDoubles(
          s.iterator.map(x => x.asInstanceOf[Number].doubleValue()).toSeq)
      case a: Array[Byte] => a
      case o => (o.toString + "\u0000").getBytes("UTF-8")
    }
    try {
      while (true) {
        val tag = new Array[Byte](2)
        in.readFully(tag)
        new String(tag, "UTF-8") match {
          case "PG" => reply("PG")
          case "UD" =>
            val db = str(u64()); val dev = str(u64())
            try { session.useDevice(dev); session.useDb(db); reply("UD") }
            catch { case _: Exception => reply("ER") }
          case "EQ" | "SQ" =>
            val nArgs = u32() - 1 // the client sends nargs+1
            val query = str(u64())
            // per-statement device (the reference compares it against
            // the session device, oph_io_server_query.c:181); same
            // MEMORY-only contract as UD — validated inside the try
            // below so a bad device replies ER with the frame fully
            // consumed (stream stays in sync)
            val dev = str(u64())
            var q = query
            var binds: Seq[Any] = Nil
            if (nArgs > 0) {
              val totRun = u64(); val currRun = u64()
              binds = (0 until nArgs).map { _ =>
                val len = u64()
                val t = new Array[Byte](2); in.readFully(t)
                val raw = bytesN(len)
                new String(t, "UTF-8") match {
                  case "DL" => ByteBuffer.wrap(raw)
                    .order(ByteOrder.LITTLE_ENDIAN).getLong
                  case "DD" => ByteBuffer.wrap(raw)
                    .order(ByteOrder.LITTLE_ENDIAN).getDouble
                  case "DV" =>
                    val end = if (raw.nonEmpty && raw.last == 0) raw.length - 1
                              else raw.length
                    new String(raw, 0, end, "UTF-8")
                  case "DB" => BinaryCodec.unpackDoubles(raw)
                  case "DN" => null
                  case o => throw new IllegalArgumentException(s"arg tag $o")
                }
              }
              // chunked prepared runs arrive as frame fields, not query
              // text (oph_io_server_thread.h:60-66) — surface them to the
              // engine's tot_run/curr_run handling
              if (totRun > 1 && !q.contains("tot_run"))
                q += s";tot_run=$totRun;curr_run=$currRun"
            }
            try { session.useDevice(dev); session.execute(q, binds); reply("EQ") }
            catch { case _: Exception => reply("ER") }
          case "RS" =>
            session.lastResult match {
              case Some(df) =>
                // the frame header carries the TOTAL payload length and
                // row count before any cell, so the result can't stream
                // straight to the socket — but it need not materialize
                // on the heap either: cells are encoded once, partition
                // at a time (toLocalIterator), into a disk spool whose
                // bytes are the exact wire payload, then the header +
                // spool stream out. Peak driver heap is one partition;
                // wire bytes are unchanged from the collect() framing.
                import scala.jdk.CollectionConverters._
                val nFields = df.columns.length
                val spool = java.io.File.createTempFile("graft_rs", ".spool")
                try {
                  var nRows = 0L
                  var payloadLen = 0L
                  val sp = new DataOutputStream(new java.io.BufferedOutputStream(
                    new java.io.FileOutputStream(spool), 1 << 16))
                  try {
                    df.toLocalIterator().asScala.foreach { r =>
                      nRows += 1
                      var i = 0
                      while (i < nFields) {
                        val c = cell(r.get(i))
                        payloadLen += 8L + c.length
                        sp.writeLong(java.lang.Long.reverseBytes(c.length.toLong))
                        sp.write(c)
                        i += 1
                      }
                    }
                  } finally sp.close()
                  out.write("RS".getBytes("UTF-8"))
                  wu64(payloadLen); wu64(nRows); wu32(nFields)
                  val fin = new java.io.BufferedInputStream(
                    new java.io.FileInputStream(spool))
                  try {
                    val buf = new Array[Byte](1 << 16)
                    var k = fin.read(buf)
                    while (k > 0) { out.write(buf, 0, k); k = fin.read(buf) }
                  } finally fin.close()
                  out.flush()
                } finally spool.delete()
              case None => reply("ER")
            }
          case _ => reply("ER")
        }
      }
    } catch {
      case _: EOFException => // client closed
      case _: java.net.SocketException =>
      case _: IllegalArgumentException =>
        // hostile/corrupt frame (oversized length, bad payload): answer
        // ER if the socket still writes, then drop the connection — the
        // stream cannot be resynchronized after a bad length field
        try reply("ER") catch { case _: Exception => }
    } finally client.close()
  }

  private def handle(client: Socket): Unit = {
    val in = new BufferedReader(new InputStreamReader(client.getInputStream, "UTF-8"))
    val out = new PrintWriter(client.getOutputStream, true)
    val session = server.newSession()
    try {
      var line = in.readLine()
      while (line != null) {
        val (cmd, arg) = line.indexOf(' ') match {
          case -1 => (line.trim.toUpperCase, "")
          case i => (line.substring(0, i).toUpperCase, line.substring(i + 1).trim)
        }
        try cmd match {
          case "PG" => // ping (the reference's liveness check)
            out.println("""{"ok":true,"pong":true}""")
          case "UD" =>
            // optional second token = device (MEMORY-only contract,
            // mirroring the binary frame's [db][device] pair)
            arg.split("\\s+", 2) match {
              case Array(db, dev) => session.useDevice(dev); session.useDb(db)
              case _ => session.useDb(arg)
            }
            out.println("""{"ok":true}""")
          case "EQ" =>
            session.execute(arg)
            out.println("""{"ok":true}""")
          case "RS" =>
            val n = if (arg.isEmpty) 1000 else arg.toInt
            session.lastResult match {
              case Some(df) =>
                // one pass: stream the page to the writer a partition at
                // a time (no whole-page buffer) and count while writing;
                // nrows follows the rows. hasNext runs the first job
                // before anything is written, so a failing result still
                // gets a clean error line.
                import scala.jdk.CollectionConverters._
                val rows = df.limit(n).toLocalIterator().asScala
                rows.hasNext
                val fields = df.columns.map(jstr).mkString("[", ",", "]")
                out.print(s"""{"ok":true,"fields":$fields,"rows":[""")
                var nRows = 0L
                rows.foreach { r =>
                  if (nRows > 0) out.print(",")
                  nRows += 1
                  out.print(r.toSeq.map(jval).mkString("[", ",", "]"))
                }
                out.println(s"""],"nrows":$nRows}""")
              case None =>
                out.println("""{"ok":false,"error":"no result set"}""")
            }
          case "BYE" =>
            out.println("""{"ok":true}""")
            client.close()
            return
          case other =>
            out.println(s"""{"ok":false,"error":${jstr(s"unknown command $other")}}""")
        } catch {
          case e: Throwable =>
            out.println(s"""{"ok":false,"error":${jstr(String.valueOf(e.getMessage))}}""")
        }
        line = in.readLine()
      }
    } finally client.close()
  }
}

object IoService {
  /** Upper bound on any client-declared binary frame field. Far above
    * every real query/arg payload, far below an allocation that could
    * hurt the server. */
  val MaxFrameBytes: Long = 64L << 20
}
