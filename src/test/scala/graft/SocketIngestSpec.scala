package graft

import java.io.File
import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket}

import org.apache.spark.sql.functions._

/** Live socket listeners (SURVEY §2 #123): TCP/UDP byte movers whose
  * output directories the Spark pipelines tail — the listener side of
  * reference server.py, with framing/parse staying in the operators. */
class SocketIngestSpec extends SparkSpec {

  private def freshDir(name: String): File = {
    val d = new File(sys.props("java.io.tmpdir"),
      s"graft-ingest-$name-${spark.sparkContext.applicationId}")
    d.mkdirs()
    Option(d.listFiles()).foreach(_.foreach(_.delete()))
    d
  }

  /** The relay's ingest read over `dir`, drained once into a table. */
  private def ingested(dir: File, name: String) = {
    val q = streaming.SyslogPipeline.parsed(spark, dir.getAbsolutePath, gelf = false)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    spark.table(name)
  }

  test("TCP ingest: per-connection bytes land in files the syslog pipeline parses") {
    val dir = freshDir("tcp")
    val ing = new sources.SocketIngest.TcpIngest(0, dir.getAbsolutePath)
    ing.start()
    try {
      // two concurrent connections, newline-framed syslog lines
      val b1 = ("<13>Feb  5 17:32:18 host-1 alpha id=1\n" +
        "<165>1 2026-08-13T21:56:00Z host-2 beta id=2\n").getBytes("UTF-8")
      val b2 = "<14>Feb  6 03:00:00 host-3 gamma id=3\n".getBytes("UTF-8")
      val s1 = new Socket("127.0.0.1", ing.boundPort)
      s1.getOutputStream.write(b1)
      val s2 = new Socket("127.0.0.1", ing.boundPort)
      s2.getOutputStream.write(b2)
      // accept + read run on listener threads: confirm the bytes
      // landed before closing (a stop() racing accept would strand a
      // backlogged connection)
      val deadline = System.currentTimeMillis() + 10000
      while (ing.bytesIn < b1.length + b2.length &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(ing.bytesIn === (b1.length + b2.length).toLong)
      s1.close(); s2.close()
    } finally ing.stop() // joins readers → final chunks published
    // no partial files ever visible
    assert(dir.listFiles().forall(f => !f.getName.startsWith(".")))
    assert(dir.listFiles().count(_.getName.endsWith(".dat")) === 2) // one per connection
    val parsed = ingested(dir, "ingest_tcp")
      .select("hostname", "severity", "prio").orderBy("hostname")
      .collect()
      .map(r => (r.getString(0), r.get(1).toString.toInt, r.get(2).toString.toInt))
    assert(parsed.toSeq === Seq(("host-1", 5, 13), ("host-2", 5, 165),
      ("host-3", 6, 14)))
  }

  test("TLS ingest: syslog over an SSLServerSocket round-trips into the rotation files") {
    val dir = freshDir("tls")
    val certDir = freshDir("tls-cert")
    val (certFile, keyFile) = TlsTestSupport.genCertKey(certDir)
    // server context from the reference's --cert/--key PEM pair
    val ctx = sources.SocketIngest.tlsContext(certFile, keyFile)
    val ing = new sources.SocketIngest.TcpIngest(0, dir.getAbsolutePath,
      tls = Some(ctx))
    ing.start()
    val msgs = Seq(
      "<13>Feb  5 17:32:18 sec-host-1 over tls id=1",
      "<165>1 2026-08-13T21:56:00Z sec-host-2 tls beta id=2")
    try {
      val s = TlsTestSupport.tlsClient(certFile, ing.boundPort)
      s.getOutputStream.write(msgs.map(_ + "\n").mkString.getBytes("UTF-8"))
      s.getOutputStream.flush()
      val total = msgs.map(_.length + 1).sum
      val deadline = System.currentTimeMillis() + 10000
      while (ing.bytesIn < total && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      // bytesIn counts PLAINTEXT bytes after TLS decryption — the
      // session terminated at the listener, not at a fronting proxy
      assert(ing.bytesIn === total.toLong)
      s.close()
    } finally ing.stop()
    assert(dir.listFiles().forall(f => !f.getName.startsWith(".")))
    val parsed = ingested(dir, "ingest_tls")
      .select("hostname", "message").orderBy("hostname").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(parsed.map(_._1).toSeq === Seq("sec-host-1", "sec-host-2"))
    assert(parsed.map(_._2).toSeq === msgs)
  }

  test("TLS ingest: a plaintext client fails the handshake and pollutes nothing") {
    val dir = freshDir("tls-bad")
    val certDir = freshDir("tls-bad-cert")
    val (certFile, keyFile) = TlsTestSupport.genCertKey(certDir)
    val ing = new sources.SocketIngest.TcpIngest(0, dir.getAbsolutePath,
      tls = Some(sources.SocketIngest.tlsContext(certFile, keyFile)))
    ing.start()
    try {
      // a non-TLS client writing raw bytes: the server handshake
      // fails inside the reader thread; no plaintext may be recorded
      val s = new Socket("127.0.0.1", ing.boundPort)
      s.getOutputStream.write("<13>Feb  5 17:32:18 evil plaintext\n".getBytes("UTF-8"))
      try s.getOutputStream.flush() catch { case _: java.io.IOException => () }
      Thread.sleep(500)
      s.close()
    } finally ing.stop()
    assert(ing.bytesIn === 0L)
    assert(Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".dat")).isEmpty)
  }

  test("UDP ingest: datagrams recovered byte-for-byte via the octet de-framer") {
    val dir = freshDir("udp")
    val ing = new sources.SocketIngest.UdpIngest(0, dir.getAbsolutePath)
    ing.start()
    val sent: Seq[Array[Byte]] = Seq(
      "<13>Feb  5 17:32:18 h syslog-over-udp".getBytes("UTF-8"),
      // binary GELF chunk datagram: magic + id + seq/total + payload
      // with embedded NUL and high bytes — framing must be 8-bit clean
      Array[Byte](0x1e, 0x0f, 1, 2, 3, 4, 5, 6, 7, 8, 0, 2) ++
        Array[Byte](0, 0x7f, -1, -128, 10, 13),
      ("x" * 2000).getBytes("UTF-8"))
    try {
      val sock = new DatagramSocket()
      val addr = InetAddress.getByName("127.0.0.1")
      sent.foreach { d =>
        sock.send(new DatagramPacket(d, d.length, addr, ing.boundPort))
      }
      sock.close()
      // UDP is async: wait until the receiver has counted them in
      val deadline = System.currentTimeMillis() + 10000
      while (ing.received < sent.length && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(ing.received === sent.length.toLong)
    } finally ing.stop()
    val frames = spark.read.format("binaryFile")
      .load(dir.getAbsolutePath + "/*.dat")
      .select(explode(operators.Framing.syslogFrames(col("content"))).as("f"))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(frames.length === sent.length)
    // datagram boundaries and bytes exact (order within one receiver
    // file is arrival order; compare as multisets of byte strings)
    assert(frames.map(_.toSeq).toSet === sent.map(_.toSeq).toSet)
  }

  test("TCP ingest: rotation cuts files only after a whole line") {
    val dir = freshDir("tcp-rotate")
    val ing = new sources.SocketIngest.TcpIngest(0, dir.getAbsolutePath,
      rotateBytes = 100)
    ing.start()
    val lines = (1 to 40).map(i => f"<13>Feb  5 17:32:18 host-$i%02d rotate id=$i")
    val bytes = lines.map(_ + "\n").mkString.getBytes("UTF-8")
    try {
      val s = new Socket("127.0.0.1", ing.boundPort)
      s.setTcpNoDelay(true)
      // writes that end mid-line, so reads cross the threshold inside a
      // message
      bytes.grouped(37).foreach { chunk =>
        s.getOutputStream.write(chunk)
        s.getOutputStream.flush()
        Thread.sleep(2)
      }
      val deadline = System.currentTimeMillis() + 10000
      while (ing.bytesIn < bytes.length && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      s.close()
    } finally ing.stop()
    val files = dir.listFiles().filter(_.getName.endsWith(".dat")).sortBy(_.getName)
    assert(files.length > 1, "rotateBytes=100 must rotate")
    val contents = files.map(f => new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    contents.foreach(c => assert(c.endsWith("\n"), c))
    assert(contents.flatMap(_.split("\n")).toSeq === lines)
  }

  test("UDP ingest: rotation cuts files only after a whole datagram frame") {
    val dir = freshDir("udp-rotate")
    val ing = new sources.SocketIngest.UdpIngest(0, dir.getAbsolutePath,
      rotateBytes = 50)
    ing.start()
    val sent = (1 to 20).map(i => f"<13>Feb  5 17:32:18 h udp-$i%02d")
    try {
      val sock = new DatagramSocket()
      val addr = InetAddress.getByName("127.0.0.1")
      sent.foreach { m =>
        val d = m.getBytes("UTF-8")
        sock.send(new DatagramPacket(d, d.length, addr, ing.boundPort))
        Thread.sleep(2)
      }
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (ing.received < sent.length && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(ing.received === sent.length.toLong)
    } finally ing.stop()
    val files = dir.listFiles().filter(_.getName.endsWith(".dat")).sortBy(_.getName)
    assert(files.length > 1, "rotateBytes=50 must rotate")
    // every file de-frames on its own: `<len> <bytes>` frames, no rest
    val frames = files.toSeq.flatMap { f =>
      val b = java.nio.file.Files.readAllBytes(f.toPath)
      var p = 0
      val out = Seq.newBuilder[String]
      while (p < b.length) {
        val sp = b.indexOf(' '.toByte, p)
        assert(sp > p, s"${f.getName}: no length head at $p")
        val len = new String(b, p, sp - p, "US-ASCII").toInt
        assert(sp + 1 + len <= b.length, s"${f.getName}: frame cut at $p")
        out += new String(b, sp + 1, len, "UTF-8")
        p = sp + 1 + len
      }
      out.result()
    }
    assert(frames === sent)
  }
}
