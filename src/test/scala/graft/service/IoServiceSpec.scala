package graft.service

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket

import graft.SparkSpec

class IoServiceSpec extends SparkSpec {

  test("concurrent connections get isolated sessions (per-thread state)") {
    val svc = new IoService(spark)
    try {
      def client() = {
        val c = new Socket("127.0.0.1", svc.boundPort)
        val out = new PrintWriter(c.getOutputStream, true)
        val in = new BufferedReader(new InputStreamReader(c.getInputStream, "UTF-8"))
        (c, (s: String) => { out.println(s); in.readLine() })
      }
      val (c1, s1) = client()
      val (c2, s2) = client()
      assert(s1("EQ operation=create_database;db_name=iso1").contains("true"))
      assert(s1("UD iso1").contains("true"))
      // session 2 still on default; switching to iso1 works (shared catalog),
      // but its current_db was untouched by session 1
      val info2 = s2("EQ operation=select;field=id_dim|version|current_db;from=@info_system")
      assert(info2.contains("true"))
      assert(s2("RS").contains("default"))
      val info1 = s1("EQ operation=select;field=id_dim|version|current_db;from=@info_system")
      assert(info1.contains("true"))
      assert(s1("RS").contains("iso1"))
      c1.close(); c2.close()
    } finally svc.stop()
  }

  test("binary wire: PG/UD/EQ(args)/RS frame round trip, byte level") {
    import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
    import java.nio.{ByteBuffer, ByteOrder}
    val svc = new IoService(spark, wire = "binary")
    try {
      val c = new java.net.Socket("127.0.0.1", svc.boundPort)
      val out = new DataOutputStream(new BufferedOutputStream(c.getOutputStream))
      val in = new DataInputStream(new BufferedInputStream(c.getInputStream))
      def wu64(v: Long): Unit = out.writeLong(java.lang.Long.reverseBytes(v))
      def wu32(v: Int): Unit = out.writeInt(java.lang.Integer.reverseBytes(v))
      def ru64(): Long = java.lang.Long.reverseBytes(in.readLong())
      def ru32(): Int = java.lang.Integer.reverseBytes(in.readInt())
      def wstr(s: String): Unit = { // C-style: strlen+1 with NUL
        val b = (s + "\u0000").getBytes("UTF-8"); wu64(b.length.toLong); out.write(b)
      }
      def tag(): String = {
        val b = new Array[Byte](2); in.readFully(b); new String(b, "UTF-8")
      }
      // PG ping
      out.write("PG".getBytes); out.flush()
      assert(tag() == "PG")
      // EQ without args: create a fragment
      def eq(q: String): String = {
        out.write("EQ".getBytes); wu32(1); wstr(q); wstr("memory"); out.flush(); tag()
      }
      assert(eq("operation=create_frag;frag_name=bw;" +
        "column_name=id_dim|measure;column_type=long|double_array") == "EQ")
      // EQ with prepared args: DL long + DB packed-double blob
      out.write("EQ".getBytes); wu32(3)
      wstr("operation=insert;frag_name=bw;field=id_dim|measure;value=?1|?2")
      wstr("memory")
      wu64(1L); wu64(1L) // tot_run, curr_run
      wu64(8L); out.write("DL".getBytes)
      out.writeLong(java.lang.Long.reverseBytes(7L))
      val blob = graft.sources.BinaryCodec.packDoubles(Seq(1.5, -2.25))
      wu64(blob.length.toLong); out.write("DB".getBytes); out.write(blob)
      out.flush()
      assert(tag() == "EQ")
      // select it back and fetch the result set frame
      assert(eq("operation=select;field=id_dim|measure;from=bw") == "EQ")
      out.write("RS".getBytes); out.flush()
      assert(tag() == "RS")
      val payloadLen = ru64(); val nRows = ru64(); val nFields = ru32()
      assert(nRows == 1 && nFields == 2)
      val l1 = ru64(); val v1 = new Array[Byte](l1.toInt); in.readFully(v1)
      assert(new String(v1, "UTF-8") == "7\u0000") // NUL-terminated long
      val l2 = ru64(); val v2 = new Array[Byte](l2.toInt); in.readFully(v2)
      assert(l2 == 16) // packed LE doubles, oph-lib-binary-io layout
      val bb = ByteBuffer.wrap(v2).order(ByteOrder.LITTLE_ENDIAN)
      assert(bb.getDouble(0) == 1.5 && bb.getDouble(8) == -2.25)
      assert(payloadLen == 8 + l1 + 8 + l2)
      // unknown db -> ER
      out.write("UD".getBytes); wstr("nope"); wstr("memory"); out.flush()
      assert(tag() == "ER")
      // unknown DEVICE -> ER (only MEMORY maps; reference stores the
      // UD frame's device in thread state, oph_io_server_thread.h:75-83)
      out.write("UD".getBytes); wstr("default"); wstr("ssd0"); out.flush()
      assert(tag() == "ER")
      // ... and the session survives: MEMORY (any case) still works
      out.write("UD".getBytes); wstr("default"); wstr("MeMoRy"); out.flush()
      assert(tag() == "UD")
      // per-statement device on EQ is validated too, frame stays in sync
      out.write("EQ".getBytes); wu32(1)
      wstr("operation=select;field=id_dim;from=bw"); wstr("tape7"); out.flush()
      assert(tag() == "ER")
      out.write("PG".getBytes); out.flush()
      assert(tag() == "PG") // stream not desynced by the rejected frame
      c.close()
    } finally svc.stop()
  }

  test("binary wire: large RS streams partition-at-a-time, driver heap bounded") {
    import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val maxTask = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          maxTask.accumulateAndGet(e.taskMetrics.resultSize, Math.max(_, _))
    }
    val svc = new IoService(spark, wire = "binary")
    spark.sparkContext.addSparkListener(listener)
    try {
      val c = new java.net.Socket("127.0.0.1", svc.boundPort)
      val out = new DataOutputStream(new BufferedOutputStream(c.getOutputStream))
      val in = new DataInputStream(new BufferedInputStream(c.getInputStream))
      def wu64(v: Long): Unit = out.writeLong(java.lang.Long.reverseBytes(v))
      def wu32(v: Int): Unit = out.writeInt(java.lang.Integer.reverseBytes(v))
      def ru64(): Long = java.lang.Long.reverseBytes(in.readLong())
      def ru32(): Int = java.lang.Integer.reverseBytes(in.readInt())
      def wstr(s: String): Unit = {
        val b = (s + "\u0000").getBytes("UTF-8"); wu64(b.length.toLong); out.write(b)
      }
      def tag(): String = {
        val b = new Array[Byte](2); in.readFully(b); new String(b, "UTF-8")
      }
      def eq(q: String): String = {
        out.write("EQ".getBytes); wu32(1); wstr(q); wstr("memory"); out.flush(); tag()
      }
      // ~5 MB result: 40k rows x (NUL-terminated long + 16-double blob)
      assert(eq("operation=random_import;frag_name=big;nrows=40000;" +
        "array_length=16") == "EQ")
      assert(eq("operation=select;field=id_dim|measure;from=big") == "EQ")
      out.write("RS".getBytes); out.flush()
      assert(tag() == "RS")
      val payloadLen = ru64(); val nRows = ru64(); val nFields = ru32()
      assert(nRows == 40000 && nFields == 2)
      assert(payloadLen > 4L * 1024 * 1024)
      // drain and checksum the payload so the socket fully streams
      var remaining = payloadLen
      var sum = 0L
      val buf = new Array[Byte](1 << 16)
      while (remaining > 0) {
        val k = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
        assert(k > 0, "payload truncated")
        var i = 0
        while (i < k) { sum += buf(i) & 0xFF; i += 1 }
        remaining -= k
      }
      assert(sum != 0)
      c.close()
      Thread.sleep(2000) // listener bus drains asynchronously
      // the result crossed the driver partition-by-partition: no single
      // task shipped more than a fraction of the payload (a collect()
      // would ship ~everything in one wave of full-partition results)
      assert(maxTask.get() < payloadLen / 2,
        s"peak task result ${maxTask.get()} of $payloadLen - result was collected")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      svc.stop()
    }
  }

  test("binary wire: N parallel clients, interleaved lifecycle, isolated sessions") {
    import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
    import java.nio.{ByteBuffer, ByteOrder}
    import java.util.concurrent.CyclicBarrier
    // the reference serves 1 pthread/client under one GLOBAL rwlock; here
    // every phase of every client runs concurrently (barrier-aligned so
    // create/insert/select genuinely interleave across sessions) and each
    // session must only ever see its own current_db and its own rows
    val svc = new IoService(spark, wire = "binary")
    val nClients = 6
    val barrier = new CyclicBarrier(nClients)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val threads = (0 until nClients).map { k =>
        val t = new Thread(() => {
          try {
            val c = new java.net.Socket("127.0.0.1", svc.boundPort)
            val out = new DataOutputStream(new BufferedOutputStream(c.getOutputStream))
            val in = new DataInputStream(new BufferedInputStream(c.getInputStream))
            def wu64(v: Long): Unit = out.writeLong(java.lang.Long.reverseBytes(v))
            def wu32(v: Int): Unit = out.writeInt(java.lang.Integer.reverseBytes(v))
            def ru64(): Long = java.lang.Long.reverseBytes(in.readLong())
            def ru32(): Int = java.lang.Integer.reverseBytes(in.readInt())
            def wstr(s: String): Unit = {
              val b = (s + "\u0000").getBytes("UTF-8")
              wu64(b.length.toLong); out.write(b)
            }
            def tag(): String = {
              val b = new Array[Byte](2); in.readFully(b); new String(b, "UTF-8")
            }
            def eq(q: String): String = {
              out.write("EQ".getBytes); wu32(1); wstr(q); wstr("memory")
              out.flush(); tag()
            }
            // phase 1: every client creates + enters its own database
            barrier.await()
            assert(eq(s"operation=create_database;db_name=cdb$k") == "EQ")
            out.write("UD".getBytes); wstr(s"cdb$k"); wstr("memory"); out.flush()
            assert(tag() == "UD")
            // phase 2: create + insert interleave across all sessions
            barrier.await()
            assert(eq(s"operation=create_frag;frag_name=cf$k;" +
              "column_name=id_dim|measure;column_type=long|double_array") == "EQ")
            for (row <- 1 to 3) {
              out.write("EQ".getBytes); wu32(3)
              wstr(s"operation=insert;frag_name=cf$k;field=id_dim|measure;value=?1|?2")
              wstr("memory")
              wu64(3L); wu64(row.toLong) // chunked prepared run: commit on 3/3
              wu64(8L); out.write("DL".getBytes)
              out.writeLong(java.lang.Long.reverseBytes(row.toLong))
              val blob = graft.sources.BinaryCodec.packDoubles(
                Seq(k * 100.0 + row, k * 100.0 + row + 0.5))
              wu64(blob.length.toLong); out.write("DB".getBytes); out.write(blob)
              out.flush()
              assert(tag() == "EQ")
            }
            // phase 3: selects interleave; each session reads ONLY its rows
            barrier.await()
            assert(eq(s"operation=select;field=id_dim|measure;from=cf$k;" +
              "order=id_dim") == "EQ")
            out.write("RS".getBytes); out.flush()
            assert(tag() == "RS")
            ru64() // payload length
            val nRows = ru64(); val nFields = ru32()
            assert(nRows == 3 && nFields == 2, s"client $k: $nRows x $nFields")
            for (row <- 1 to 3) {
              val l1 = ru64(); val v1 = new Array[Byte](l1.toInt); in.readFully(v1)
              assert(new String(v1, "UTF-8") == s"$row\u0000", s"client $k id")
              val l2 = ru64(); val v2 = new Array[Byte](l2.toInt); in.readFully(v2)
              val bb = ByteBuffer.wrap(v2).order(ByteOrder.LITTLE_ENDIAN)
              assert(bb.getDouble(0) == k * 100.0 + row &&
                bb.getDouble(8) == k * 100.0 + row + 0.5,
                s"client $k saw foreign rows")
            }
            // phase 4: a foreign fragment name must NOT resolve here
            // (unqualified names bind to the session's current_db)
            val other = (k + 1) % nClients
            assert(eq(s"operation=select;field=id_dim;from=cf$other") == "ER",
              s"client $k read client $other's fragment through its own db")
            c.close()
          } catch { case e: Throwable => failures.add(e) }
        }, s"wire-client-$k")
        t.start(); t
      }
      threads.foreach(_.join(60000))
      if (!failures.isEmpty) throw failures.peek()
    } finally svc.stop()
  }

  test("UD/EQ/RS conversation over a socket (reference client flow)") {
    val svc = new IoService(spark)
    try {
      val c = new Socket("127.0.0.1", svc.boundPort)
      val out = new PrintWriter(c.getOutputStream, true)
      val in = new BufferedReader(new InputStreamReader(c.getInputStream, "UTF-8"))
      def send(s: String): String = { out.println(s); in.readLine() }

      assert(send("EQ operation=random_import;frag_name=w;nrows=5;array_length=2")
        .contains("\"ok\":true"))
      assert(send("EQ operation=select;field=id_dim|oph_size_array(measure);" +
        "field_alias=id_dim|n;from=w;order=id_dim").contains("\"ok\":true"))
      val rs = send("RS")
      assert(rs.contains("\"nrows\":5") && rs.contains("\"fields\":[\"id_dim\",\"n\"]"),
        s"unexpected RS: $rs")
      assert(rs.contains("[1,2]"), s"row values missing: $rs")
      // nrows is counted while the page streams: it must equal the rows sent
      val row = "\\[\\d+,\\d+\\]".r
      assert(row.findAllIn(rs).size == 5, s"unexpected RS: $rs")
      val rs3 = send("RS 3")
      assert(rs3.contains("\"nrows\":3") && row.findAllIn(rs3).size == 3,
        s"unexpected RS 3: $rs3")
      // error path: unknown fragment
      assert(send("EQ operation=select;field=id_dim;from=nope").contains("\"ok\":false"))
      assert(send("BYE").contains("\"ok\":true"))
      c.close()
    } finally svc.stop()
  }

  test("binary wire: hostile frame lengths answer ER and drop, server survives") {
    import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
    val svc = new IoService(spark, wire = "binary")
    try {
      def tagOf(in: DataInputStream): String = {
        val b = new Array[Byte](2); in.readFully(b); new String(b, "UTF-8")
      }
      // a UD frame declaring a ~16 EiB db-name: must NOT allocate; the
      // handler answers ER and closes the connection
      for (hostileLen <- Seq(-1L, Long.MaxValue, (1L << 40))) {
        val c = new java.net.Socket("127.0.0.1", svc.boundPort)
        val out = new DataOutputStream(new BufferedOutputStream(c.getOutputStream))
        val in = new DataInputStream(new BufferedInputStream(c.getInputStream))
        out.write("UD".getBytes)
        out.writeLong(java.lang.Long.reverseBytes(hostileLen))
        out.flush()
        assert(tagOf(in) == "ER", s"len $hostileLen must be rejected")
        // the connection is dropped after a bad length (stream cannot
        // resync); the read must observe EOF, not a hang
        assert(in.read() == -1)
        c.close()
      }
      // the SERVER is still alive for the next well-formed client
      val c2 = new java.net.Socket("127.0.0.1", svc.boundPort)
      val out2 = new DataOutputStream(new BufferedOutputStream(c2.getOutputStream))
      val in2 = new DataInputStream(new BufferedInputStream(c2.getInputStream))
      out2.write("PG".getBytes); out2.flush()
      assert(tagOf(in2) == "PG")
      c2.close()
    } finally svc.stop()
  }
}
