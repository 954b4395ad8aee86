package graft

import java.io.File
import java.net.Socket

/** The reference's whole deployment, live, end to end: bytes arrive
  * on a real TCP socket, the listener publishes them, the streaming
  * pipeline parses + envelopes + spools them as real gzip spool
  * files, and the shipping drain packs + ships every record through
  * a transport — #123 → #20 → #72 → #87 → #53 chained on one data
  * path, each stage the already-spec-proven component. */
class RelayLiveSpec extends SparkSpec {

  test("live relay loop: socket -> parse -> spool files -> drain -> transport") {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-relay-live-${spark.sparkContext.applicationId}")
    def dir(name: String): File = {
      val d = new File(root, name)
      d.mkdirs()
      Option(d.listFiles()).foreach(_.foreach(_.delete()))
      d
    }
    val ingestDir = dir("ingest")
    val spoolDir = dir("spool")
    val shipDir = dir("delivered")
    val retryDir = dir("retry")
    val logDir = new File(root, "shiplog").getAbsolutePath

    // 1. live listener: two connections, newline-framed syslog
    val ing = new sources.SocketIngest.TcpIngest(0, ingestDir.getAbsolutePath)
    ing.start()
    val msgs = (1 to 8).map(i =>
      s"<${i * 17 % 192}>Feb  5 17:32:${10 + i} host-${i % 3} event id=$i")
    try {
      val s1 = new Socket("127.0.0.1", ing.boundPort)
      val s2 = new Socket("127.0.0.1", ing.boundPort)
      s1.getOutputStream.write(
        msgs.take(5).map(_ + "\n").mkString.getBytes("UTF-8"))
      s2.getOutputStream.write(
        msgs.drop(5).map(_ + "\n").mkString.getBytes("UTF-8"))
      val total = msgs.map(_.length + 1).sum
      val deadline = System.currentTimeMillis() + 10000
      while (ing.bytesIn < total && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(ing.bytesIn === total.toLong)
      s1.close(); s2.close()
    } finally ing.stop()

    // 2. streaming relay: tail the listener's files, parse, envelope,
    //    write REAL spool files (per-stream partitioning as prod would)
    val q = streaming.SyslogPipeline.spoolDirQuery(
      streaming.SyslogPipeline.parsed(spark, ingestDir.getAbsolutePath, gelf = false)
        .repartition(org.apache.spark.sql.functions.col("hostname")),
      spoolDir.getAbsolutePath,
      new File(root, "cp-relay").getAbsolutePath)
    q.awaitTermination(60000)

    // spool round-trip: every socket message is in the spool exactly once
    val spooled = spark.read.format("graft-spool")
      .load(spoolDir.getAbsolutePath)
      .select("message").collect().map(_.getString(0))
    assert(spooled.sorted.toSeq === msgs.sorted)

    // 3. drain + ship: every spool file packs into a batch and ships
    val transport = new streaming.FilesystemTransport(shipDir.getAbsolutePath)
    val drain = streaming.SpoolDrainStream.shipQuery(
      spark, spoolDir.getAbsolutePath,
      new File(root, "cp-drain").getAbsolutePath, logDir, transport,
      retryDir.getAbsolutePath, maxCount = 3, maxSize = Long.MaxValue)
    drain.awaitTermination(60000)

    val spoolFiles = spoolDir.listFiles()
      .map(_.getName).filter(_.endsWith(".gz")).sorted
    val log = spark.read.parquet(logDir)
      .select("n_records", "n_failed").collect()
    assert(log.map(_.getLong(0)).sum === spoolFiles.length.toLong)
    assert(log.map(_.getLong(1)).sum === 0L)
    val delivered = shipDir.listFiles().filter(_.getName.endsWith(".txt"))
      .flatMap(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").filter(_.nonEmpty)).sorted
    assert(delivered.toSeq === spoolFiles.toSeq) // each file shipped once
  }

  // --- RelayMain: the one-command assembly drives the same loop ---

  import TlsTestSupport.{genCertKey, tlsClient, freePort}

  test("RelayMain assembles the relay: syslog over TCP + TLS + UDP, shipped and measured") {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-relaymain-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    val (certFile, keyFile) = genCertKey(root)
    val spoolDir = new File(root, "spool")
    val config = RelayConfig(
      tcpPorts = Seq(freePort()), tlsPorts = Seq(freePort()),
      udpPorts = Seq(freePort()),
      certFile = Some(certFile), keyFile = Some(keyFile),
      prometheusPorts = Seq(freePort()),
      spoolDir = spoolDir.getAbsolutePath,
      maxBatchCount = 3)
    val shipDir = new File(root, "delivered")
    val relay = new tools.RelayMain.Relay(spark, config,
      tools.RelayMain.RelayDirs(root.getAbsolutePath),
      new streaming.FilesystemTransport(shipDir.getAbsolutePath))
    relay.start()
    val tcpMsgs = (1 to 4).map(i =>
      s"<${i * 17 % 192}>Feb  5 17:32:1$i tcp-host-$i plain leg id=$i")
    val tlsMsgs = (5 to 8).map(i =>
      s"<${i * 17 % 192}>Feb  5 17:32:1$i tls-host-$i secure leg id=$i")
    val udpMsgs = (9 to 10).map(i =>
      s"<${i * 13 % 192}>Feb  5 17:32:2$i udp-host-$i datagram leg id=$i")
    try {
      val plain = new Socket("127.0.0.1", relay.boundPorts("tcp").head)
      plain.getOutputStream.write(
        tcpMsgs.map(_ + "\n").mkString.getBytes("UTF-8"))
      val secure = tlsClient(certFile, relay.boundPorts("tls").head)
      secure.getOutputStream.write(
        tlsMsgs.map(_ + "\n").mkString.getBytes("UTF-8"))
      secure.getOutputStream.flush()
      val dsock = new java.net.DatagramSocket()
      val addr = java.net.InetAddress.getByName("127.0.0.1")
      udpMsgs.foreach { m =>
        val b = m.getBytes("UTF-8")
        dsock.send(new java.net.DatagramPacket(
          b, b.length, addr, relay.boundPorts("udp").head))
      }
      dsock.close()
      val total = (tcpMsgs ++ tlsMsgs).map(_.length + 1).sum
      val deadline = System.currentTimeMillis() + 15000
      while ((relay.bytesIn < total || relay.datagramsIn < udpMsgs.length)
          && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(relay.bytesIn === total.toLong)
      assert(relay.datagramsIn === udpMsgs.length.toLong)
      plain.close(); secure.close()
      // listeners publish their final chunks on stop(); stop before
      // draining so every byte is in a *.dat file (drainOnce is a
      // flush pass, not a tailer)
      relay.tcpListeners.foreach(_._4.stop())
      relay.udpListeners.foreach(_._3.stop())
      relay.drainOnce()
      // spool round-trip: every message exactly once, and each leg's
      // logGroup carries its own bound port (sink.py:163 semantics)
      val spooled = spark.read.format("graft-spool")
        .load(spoolDir.getAbsolutePath)
        .select("log_group", "message").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(spooled.map(_._2).sorted.toSeq ===
        (tcpMsgs ++ tlsMsgs ++ udpMsgs).sorted)
      val byGroup = spooled.groupBy(_._1).view.mapValues(_.length).toMap
      assert(byGroup(s"/kinesyslog/syslog/${relay.boundPorts("tcp").head}") === 4)
      assert(byGroup(s"/kinesyslog/syslog/${relay.boundPorts("tls").head}") === 4)
      assert(byGroup(s"/kinesyslog/syslog/${relay.boundPorts("udp").head}") === 2)
      // drain shipped every spool file exactly once, no failures
      val log = spark.read.parquet(new File(root, "shiplog").getAbsolutePath)
        .select("n_records", "n_failed").collect()
      val nSpool = spoolDir.listFiles().count(_.getName.endsWith(".gz"))
      assert(log.map(_.getLong(0)).sum === nSpool.toLong)
      assert(log.map(_.getLong(1)).sum === 0L)
      // stats endpoint serves live per-stream counters over HTTP
      val url = java.net.URI.create(
        s"http://127.0.0.1:${relay.statsPorts.head}/metrics").toURL
      val metrics = new String(url.openStream().readAllBytes(), "UTF-8")
      assert(metrics.contains("kinesyslog_message_count_total"))
      assert(metrics.contains("tcp-host-1"))
      assert(metrics.contains("tls-host-5"))
      // listener gauges (r14 #147): all three families in one scrape
      assert(metrics.contains(
        s"""kinesyslog_listener_bytes_total{kind="tcp",port="${relay.boundPorts("tcp").head}"}"""))
      assert(metrics.contains(
        s"""kinesyslog_listener_bytes_total{kind="tls",port="${relay.boundPorts("tls").head}"}"""))
      assert(metrics.contains(
        s"""kinesyslog_listener_datagrams_total{port="${relay.boundPorts("udp").head}"} ${udpMsgs.length}"""))
    } finally relay.stop()
  }

  test("RelayMain multi-stream: per-port routing fans one relay into two delivery streams") {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-relaymulti-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    val spoolDir = new File(root, "spool")
    val (portA, portB) = (freePort(), freePort())
    val config = RelayConfig(
      tcpPorts = Seq(portA, portB), tlsPorts = Seq(0),
      spoolDir = spoolDir.getAbsolutePath,
      deliveryStream = "main-logs",
      portStreams = Map(portB -> "audit-logs"))
    val shipDir = new File(root, "delivered")
    val relay = new tools.RelayMain.Relay(spark, config,
      tools.RelayMain.RelayDirs(root.getAbsolutePath),
      new streaming.FilesystemTransport(shipDir.getAbsolutePath))
    relay.start()
    val aMsgs = (1 to 3).map(i =>
      s"<${i * 17 % 192}>Feb  5 17:32:1$i host-a$i main leg id=$i")
    val bMsgs = (4 to 6).map(i =>
      s"<${i * 17 % 192}>Feb  5 17:32:1$i host-b$i audit leg id=$i")
    try {
      Seq((portA, aMsgs), (portB, bMsgs)).foreach { case (p, msgs) =>
        val s = new Socket("127.0.0.1", p)
        s.getOutputStream.write(msgs.map(_ + "\n").mkString.getBytes("UTF-8"))
        s.close()
      }
      val total = (aMsgs ++ bMsgs).map(_.length + 1).sum
      val deadline = System.currentTimeMillis() + 15000
      while (relay.bytesIn < total && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(relay.bytesIn === total.toLong)
      relay.tcpListeners.foreach(_._4.stop())
      relay.drainOnce()
      // per-stream spool isolation: every spool file's logGroup port
      // determines its stream; manifests must land under the RESOLVED
      // stream names with exactly that file set, nothing crossed
      val expected = spark.read.format("graft-spool")
        .load(spoolDir.getAbsolutePath)
        .select("log_group", "src_file").distinct().collect()
        .map { r =>
          val fname = r.getString(1).split("/").last
          (config.streamForGroup(r.getString(0)), fname)
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(expected.keySet === Set("main-logs", "audit-logs"))
      val delivered = shipDir.listFiles().filter(_.getName.endsWith(".txt"))
        .flatMap { f =>
          val stream = f.getName.split("-q").head
          scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty)
            .map(stream -> _)
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(delivered === expected)
      // per-stream metrics isolation: each group's counters carry its
      // resolved stream label
      val metrics = relay.metricsText()
      assert(metrics.contains(
        s"""group="/kinesyslog/syslog/$portA",source="host-a1",stream="main-logs""""))
      assert(metrics.contains(
        s"""group="/kinesyslog/syslog/$portB",source="host-b4",stream="audit-logs""""))
      assert(!metrics.contains(
        s"""group="/kinesyslog/syslog/$portB",source="host-b4",stream="main-logs""""))
    } finally relay.stop()
  }

  test("RelayMain proxy-protocol port: the ADVERTISED peer becomes log_stream, v1 and v2") {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-relaymain-proxy-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    val spoolDir = new File(root, "spool")
    val port = freePort()
    val config = RelayConfig(
      tcpPorts = Seq(port), tlsPorts = Seq(0),
      proxyProtocolPorts = Seq(port),
      spoolDir = spoolDir.getAbsolutePath,
      maxBatchCount = 3)
    val relay = new tools.RelayMain.Relay(spark, config,
      tools.RelayMain.RelayDirs(root.getAbsolutePath),
      new streaming.FilesystemTransport(
        new File(root, "delivered").getAbsolutePath))
    relay.start()
    val bound = relay.boundPorts("tcp").head
    val v1Msgs = (1 to 2).map(i =>
      s"<13>Feb  5 17:32:1$i behind-proxy-a proxied v1 id=$i")
    val v2Msgs = (3 to 4).map(i =>
      s"<13>Feb  5 17:32:1$i behind-proxy-b proxied v2 id=$i")
    val v6Msgs = Seq("<13>Feb  5 17:32:15 behind-proxy-c proxied v2 inet6 id=5")
    def v2Header(src: Array[Byte], dst: Array[Byte],
                 family: Byte, sport: Int, dport: Int): Array[Byte] = {
      val magic = Array[Byte](0x0d, 0x0a, 0x0d, 0x0a, 0x00, 0x0d, 0x0a,
        'Q', 'U', 'I', 'T', 0x0a)
      val addrLen = src.length + dst.length + 4
      magic ++ Array[Byte](0x21, family,
        ((addrLen >> 8) & 0xff).toByte, (addrLen & 0xff).toByte) ++
        src ++ dst ++
        Array[Byte](((sport >> 8) & 0xff).toByte, (sport & 0xff).toByte,
          ((dport >> 8) & 0xff).toByte, (dport & 0xff).toByte)
    }
    try {
      // v1 text preamble: advertised peer 203.0.113.9
      val a = new Socket("127.0.0.1", bound)
      a.getOutputStream.write(
        ("PROXY TCP4 203.0.113.9 10.0.0.1 34321 514\r\n" +
          v1Msgs.map(_ + "\n").mkString).getBytes("UTF-8"))
      // v2 binary preamble, inet: advertised peer 198.51.100.42
      val b = new Socket("127.0.0.1", bound)
      b.getOutputStream.write(
        v2Header(Array[Byte](198.toByte, 51, 100, 42),
          Array[Byte](10, 0, 0, 1), 0x11, 4321, 514) ++
          v2Msgs.map(_ + "\n").mkString.getBytes("UTF-8"))
      // v2 inet6: colons survive the file-name round trip (2001:db8::1
      // parses to the uncompressed 8-group form Proxy.v2Parse emits)
      val v6src = Array[Byte](0x20, 0x01, 0x0d, 0xb8.toByte) ++
        Array.fill[Byte](11)(0) :+ 1.toByte
      val v6dst = Array.fill[Byte](15)(0) :+ 1.toByte
      val c = new Socket("127.0.0.1", bound)
      c.getOutputStream.write(
        v2Header(v6src, v6dst, 0x21, 4322, 514) ++
          v6Msgs.map(_ + "\n").mkString.getBytes("UTF-8"))
      // invalid preamble: the reference closes the connection
      // (_close_with_error); nothing from it may reach the spool
      val bad = new Socket("127.0.0.1", bound)
      bad.getOutputStream.write(
        "GARBAGE line\n<13>Feb  5 17:32:16 evil should not land\n"
          .getBytes("UTF-8"))
      val total = (v1Msgs ++ v2Msgs ++ v6Msgs).map(_.length + 1).sum
      val deadline = System.currentTimeMillis() + 15000
      val ing = relay.tcpListeners.head._4
      while ((ing.bytesIn < total || ing.proxyErrors < 1)
          && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(ing.bytesIn === total.toLong) // preamble bytes never count
      assert(ing.proxyErrors === 1L)
      a.close(); b.close(); c.close(); bad.close()
      relay.tcpListeners.foreach(_._4.stop())
      relay.drainOnce()
      val spooled = spark.read.format("graft-spool")
        .load(spoolDir.getAbsolutePath)
        .select("log_stream", "message").collect()
        .map(r => (r.getString(0), r.getString(1)))
      // every proxied message exactly once, none from the bad conn,
      // no header line leaked through as a message
      assert(spooled.map(_._2).sorted.toSeq ===
        (v1Msgs ++ v2Msgs ++ v6Msgs).sorted)
      // the sink's logStream is the ADVERTISED peer (sink.py:163 via
      // proxy.py peername rewrite), not the parsed syslog hostname
      val byStream = spooled.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(byStream.keySet ===
        Set("203.0.113.9", "198.51.100.42", "2001:db8:0:0:0:0:0:1"))
      assert(byStream("203.0.113.9") === v1Msgs.toSet)
      assert(byStream("198.51.100.42") === v2Msgs.toSet)
      assert(byStream("2001:db8:0:0:0:0:0:1") === v6Msgs.toSet)
    } finally relay.stop()
  }

  /** PROXY stacked UNDER TLS (VERDICT r13 #7): the reference applies
    * proxy.wrap per-port regardless of TLS (init.py:199-205), and the
    * preamble rides INSIDE the encrypted stream — the listener's
    * ordering is deliberately TLS-first because ProxyPreamble reads
    * the decrypted InputStream (the handshake fires on its first
    * read). Also proves the r13 ADVICE fd-leak fix: a plain-TCP
    * client thrown at the TLS+proxy port dies in the handshake inside
    * the preamble read — it must count as a proxyError and close, not
    * kill the reader thread — and the listener gauges (VERDICT r13
    * #6) surface it in a live /metrics scrape. */
  test("RelayMain proxy-protocol over TLS: handshake, preamble, advertised peer; bad handshake counted and scraped") {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-relaymain-proxytls-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    val (certFile, keyFile) = genCertKey(root)
    val spoolDir = new File(root, "spool")
    val port = freePort()
    val config = RelayConfig(
      tcpPorts = Seq(0), tlsPorts = Seq(port),
      proxyProtocolPorts = Seq(port),
      certFile = Some(certFile), keyFile = Some(keyFile),
      prometheusPorts = Seq(freePort()),
      spoolDir = spoolDir.getAbsolutePath,
      maxBatchCount = 3)
    val relay = new tools.RelayMain.Relay(spark, config,
      tools.RelayMain.RelayDirs(root.getAbsolutePath),
      new streaming.FilesystemTransport(
        new File(root, "delivered").getAbsolutePath))
    relay.start()
    val bound = relay.boundPorts("tls").head
    val msgs = (1 to 3).map(i =>
      s"<13>Feb  5 17:32:1$i behind-tls-proxy proxied tls id=$i")
    try {
      // TLS handshake first, then the v1 preamble in the clear(text)
      // of the session, then payload — the reference's stacking order
      val secure = tlsClient(certFile, bound)
      secure.getOutputStream.write(
        ("PROXY TCP4 203.0.113.77 10.0.0.1 34321 6514\r\n" +
          msgs.map(_ + "\n").mkString).getBytes("UTF-8"))
      secure.getOutputStream.flush()
      // a non-TLS client: the handshake fails inside the preamble's
      // first read; before the r14 fix this killed the thread and
      // leaked the fd
      val plain = new Socket("127.0.0.1", bound)
      plain.getOutputStream.write("GARBAGE not a tls hello\n".getBytes("UTF-8"))
      val total = msgs.map(_.length + 1).sum
      val ing = relay.tcpListeners.head._4
      val deadline = System.currentTimeMillis() + 15000
      while ((ing.bytesIn < total || ing.proxyErrors < 1)
          && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(ing.bytesIn === total.toLong)
      assert(ing.proxyErrors === 1L)
      secure.close(); plain.close()
      // live scrape BEFORE stopping: the listener gauges are served
      // from the listeners' own atomics, next to the sink counters
      val url = java.net.URI.create(
        s"http://127.0.0.1:${relay.statsPorts.head}/metrics").toURL
      val metrics = new String(url.openStream().readAllBytes(), "UTF-8")
      assert(metrics.contains(
        s"""kinesyslog_listener_bytes_total{kind="tls",port="$bound"} $total"""))
      assert(metrics.contains(
        s"""kinesyslog_listener_proxy_errors_total{kind="tls",port="$bound"} 1"""))
      relay.tcpListeners.foreach(_._4.stop())
      relay.drainOnce()
      val spooled = spark.read.format("graft-spool")
        .load(spoolDir.getAbsolutePath)
        .select("log_stream", "message").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(spooled.map(_._2).sorted.toSeq === msgs.sorted)
      // advertised peer survives the TLS leg into log_stream
      assert(spooled.map(_._1).toSet === Set("203.0.113.77"))
    } finally relay.stop()
  }

  test("RelayMain gelf UDP: chunked+zlib datagrams interleave, reassemble, and land") {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-relaymain-gelfudp-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    val spoolDir = new File(root, "spool")
    val config = RelayConfig(
      gelf = true,
      udpPorts = Seq(freePort()), tcpPorts = Seq(0), tlsPorts = Seq(0),
      spoolDir = spoolDir.getAbsolutePath,
      maxBatchCount = 3)
    val relay = new tools.RelayMain.Relay(spark, config,
      tools.RelayMain.RelayDirs(root.getAbsolutePath),
      new streaming.FilesystemTransport(
        new File(root, "delivered").getAbsolutePath))
    relay.start()
    def gelf(i: Int, tag: String): String =
      s"""{"version":"1.1","host":"udp-host-$i","short_message":"$tag msg $i","timestamp":17000000$i.5}"""
    def chunksOf(id: Long, payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val per = (payload.length + n - 1) / n
      (0 until n).map { seq =>
        val part = payload.slice(seq * per, math.min((seq + 1) * per, payload.length))
        val bb = java.nio.ByteBuffer.allocate(12 + part.length)
        bb.put(0x1e.toByte).put(0x0f.toByte).putLong(id)
          .put(seq.toByte).put(n.toByte).put(part)
        bb.array()
      }
    }
    // message 1: plain JSON datagram; message 2: zlib'd whole document
    // (protocol.py:217-224 magic sniff); messages 3 and 4: zlib'd then
    // CHUNKED into 3 parts each, their chunks interleaved across sends
    // (the reference accumulates per message id, protocol.py:289-300)
    val plain = gelf(1, "plain")
    val packed = gelf(2, "zlib")
    val c3 = gelf(3, "chunked")
    val c4 = gelf(4, "chunked")
    val zl = graft.functions.BinaryFunctions.zlib6 _
    val ch3 = chunksOf(0x1111222233334444L, zl(c3.getBytes("UTF-8")), 3)
    val ch4 = chunksOf(0x5555666677778888L, zl(c4.getBytes("UTF-8")), 3)
    val datagrams: Seq[Array[Byte]] =
      Seq(plain.getBytes("UTF-8"), zl(packed.getBytes("UTF-8")),
        // interleaved, out of order: 3[2], 4[0], 3[0], 4[2], 3[1], 4[1]
        ch3(2), ch4(0), ch3(0), ch4(2), ch3(1), ch4(1))
    try {
      val sock = new java.net.DatagramSocket()
      val addr = java.net.InetAddress.getByName("127.0.0.1")
      datagrams.foreach(b => sock.send(new java.net.DatagramPacket(
        b, b.length, addr, relay.boundPorts("udp").head)))
      sock.close()
      val deadline = System.currentTimeMillis() + 15000
      while (relay.datagramsIn < datagrams.length
          && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(relay.datagramsIn === datagrams.length.toLong)
      relay.udpListeners.foreach(_._3.stop())
      relay.drainOnce()
      val spooled = spark.read.format("graft-spool")
        .load(spoolDir.getAbsolutePath)
        .select("log_stream", "message").collect()
        .map(r => (r.getString(0), r.getString(1)))
      // all four messages exactly once — the chunked pair reassembled
      // from interleaved datagrams and inflated AFTER reassembly
      assert(spooled.map(_._2).sorted.toSeq ===
        Seq(plain, packed, c3, c4).sorted)
      assert(spooled.map(_._1).toSet ===
        (1 to 4).map(i => s"udp-host-$i").toSet)
    } finally relay.stop()
  }

  test("RelayMain gelf mode: the same assembly with the GELF parse path") {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-relaymain-gelf-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    val spoolDir = new File(root, "spool")
    val config = RelayConfig(
      gelf = true,
      tcpPorts = Seq(freePort()), tlsPorts = Seq(0),
      spoolDir = spoolDir.getAbsolutePath,
      maxBatchCount = 3)
    val relay = new tools.RelayMain.Relay(spark, config,
      tools.RelayMain.RelayDirs(root.getAbsolutePath),
      new streaming.FilesystemTransport(
        new File(root, "delivered").getAbsolutePath))
    relay.start()
    val msgs = (1 to 3).map(i =>
      s"""{"version":"1.1","host":"gelf-host-$i","short_message":"msg $i","timestamp":17000000$i.25}""")
    try {
      val s = new Socket("127.0.0.1", relay.boundPorts("tcp").head)
      s.getOutputStream.write(msgs.map(_ + "\n").mkString.getBytes("UTF-8"))
      val total = msgs.map(_.length + 1).sum
      val deadline = System.currentTimeMillis() + 15000
      while (relay.bytesIn < total && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(relay.bytesIn === total.toLong)
      s.close()
      relay.tcpListeners.foreach(_._4.stop())
      relay.drainOnce()
      val spooled = spark.read.format("graft-spool")
        .load(spoolDir.getAbsolutePath)
        .select("log_group", "log_stream", "message").collect()
      assert(spooled.map(_.getString(2)).sorted.toSeq === msgs.sorted)
      // message class lands in the group path (sink.py:163)
      assert(spooled.forall(_.getString(0) ==
        s"/kinesyslog/gelf/${relay.boundPorts("tcp").head}"))
      assert(spooled.map(_.getString(1)).toSet ===
        (1 to 3).map(i => s"gelf-host-$i").toSet)
    } finally relay.stop()
  }

  // --- RelayMain framing: every listener de-frames by RFC 6587 ---

  /** One relay over a fresh work dir `name`: `send` writes to the
    * relay's bound ports and returns the (TCP/TLS bytes, UDP datagrams) it
    * sent; once they have landed, the listeners stop, one drain pass
    * runs, and the spooled (log_stream, message) rows come back. */
  private def relayRun(name: String, config: File => RelayConfig)(
      send: (tools.RelayMain.Relay, RelayConfig) => (Long, Long)): Seq[(String, String)] = {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-relaymain-$name-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    val spoolDir = new File(root, "spool")
    val cfg = config(root).copy(spoolDir = spoolDir.getAbsolutePath)
    val relay = new tools.RelayMain.Relay(spark, cfg,
      tools.RelayMain.RelayDirs(root.getAbsolutePath),
      new streaming.FilesystemTransport(
        new File(root, "delivered").getAbsolutePath))
    relay.start()
    try {
      val (bytes, datagrams) = send(relay, cfg)
      val deadline = System.currentTimeMillis() + 15000
      while ((relay.bytesIn < bytes || relay.datagramsIn < datagrams)
          && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(relay.bytesIn === bytes)
      assert(relay.datagramsIn === datagrams)
      relay.tcpListeners.foreach(_._4.stop())
      relay.udpListeners.foreach(_._3.stop())
      relay.drainOnce()
      spark.read.format("graft-spool").load(spoolDir.getAbsolutePath)
        .select("log_stream", "message").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    } finally relay.stop()
  }

  private def tcpSend(port: Int, writes: Seq[Array[Byte]]): Long = {
    val s = new Socket("127.0.0.1", port)
    try writes.foreach(s.getOutputStream.write) finally s.close()
    writes.map(_.length.toLong).sum
  }

  private def udpSend(port: Int, datagrams: Seq[Array[Byte]]): Long = {
    val sock = new java.net.DatagramSocket()
    val addr = java.net.InetAddress.getByName("127.0.0.1")
    try datagrams.foreach(b =>
      sock.send(new java.net.DatagramPacket(b, b.length, addr, port)))
    finally sock.close()
    datagrams.length.toLong
  }

  test("RelayMain TLS: octet-counted syslog, several frames per write, no LF (RFC 5425)") {
    val msgs = (1 to 6).map(i =>
      s"<${i * 17 % 192}>1 2024-01-05T10:00:1${i}Z tls-octet-$i app - - frame $i")
    val frames = msgs.map(m => s"${m.getBytes("UTF-8").length} $m")
    val spooled = relayRun("tlsoctet", { root =>
      val (cert, key) = genCertKey(root)
      RelayConfig(tcpPorts = Seq(0), tlsPorts = Seq(freePort()),
        certFile = Some(cert), keyFile = Some(key))
    }) { (relay, cfg) =>
      val writes = Seq(frames.take(3), frames.drop(3))
        .map(_.mkString.getBytes("UTF-8"))
      val secure = tlsClient(cfg.certFile.get, relay.boundPorts("tls").head)
      try writes.foreach { w =>
        secure.getOutputStream.write(w); secure.getOutputStream.flush()
      } finally secure.close()
      (writes.map(_.length.toLong).sum, 0L)
    }
    // each message once, without its length prefix
    assert(spooled.map(_._2).sorted === msgs.sorted)
    assert(spooled.map(_._1).toSet === (1 to 6).map(i => s"tls-octet-$i").toSet)
  }

  test("RelayMain gelf TCP: NUL-delimited documents land one each") {
    val docs = (1 to 3).map(i =>
      s"""{"version":"1.1","host":"nul-host-$i","short_message":"nul $i","timestamp":17000000$i.5}""")
    val spooled = relayRun("gelfnul", _ => RelayConfig(gelf = true,
        tcpPorts = Seq(freePort()), tlsPorts = Seq(0))) { (relay, _) =>
      (tcpSend(relay.boundPorts("tcp").head,
        Seq(docs.map(_ + "\u0000").mkString.getBytes("UTF-8"))), 0L)
    }
    assert(spooled.map(_._2).sorted === docs.sorted)
    assert(spooled.map(_._1).toSet === (1 to 3).map(i => s"nul-host-$i").toSet)
  }

  test("RelayMain gelf UDP: a 7,000-byte datagram and 8,000-byte chunks land intact") {
    def doc(host: String, body: String): String =
      s"""{"version":"1.1","host":"$host","short_message":"$body"}"""
    val big = doc("udp-big", "")
    val plain = doc("udp-big", "p" * (7000 - big.length))
    // incompressible body: the zlib'd document spans several chunks
    val packedDoc = doc("udp-chunked",
      new scala.util.Random(7).alphanumeric.take(20000).mkString)
    val packed = graft.functions.BinaryFunctions.zlib6(packedDoc.getBytes("UTF-8"))
    val chunks = packed.grouped(8000).toSeq.zipWithIndex.map { case (part, seq) =>
      val bb = java.nio.ByteBuffer.allocate(12 + part.length)
      bb.put(0x1e.toByte).put(0x0f.toByte).putLong(0x0123456789abcdefL)
        .put(seq.toByte).put(((packed.length + 7999) / 8000).toByte).put(part)
      bb.array()
    }
    assert(plain.length === 7000)
    assert(chunks.length >= 2 && chunks.head.length === 12 + 8000)
    val spooled = relayRun("gelfbig", _ => RelayConfig(gelf = true,
        udpPorts = Seq(freePort()), tcpPorts = Seq(0), tlsPorts = Seq(0))) { (relay, _) =>
      (0L, udpSend(relay.boundPorts("udp").head,
        plain.getBytes("UTF-8") +: chunks))
    }
    assert(spooled.map(_._2).sorted === Seq(plain, packedDoc).sorted)
    assert(spooled.map(_._1).toSet === Set("udp-big", "udp-chunked"))
  }

  test("RelayMain TCP: a 7,000-byte syslog message lands truncated to 6,144 bytes") {
    val head = "<13>Feb  5 17:32:10 long-host "
    val msg = head + "x" * (7000 - head.length)
    val spooled = relayRun("truncate", _ => RelayConfig(
        tcpPorts = Seq(freePort()), tlsPorts = Seq(0))) { (relay, _) =>
      (tcpSend(relay.boundPorts("tcp").head,
        Seq((msg + "\n").getBytes("UTF-8"))), 0L)
    }
    assert(spooled === Seq("long-host" -> msg.take(Constants.MaxMessageLength)))
  }

  test("RelayMain TCP: an LF-framed stream's unterminated last line lands whole") {
    val msgs = (1 to 3).map(i => s"<13>Feb  5 17:32:1$i tail-host-$i line $i")
    val spooled = relayRun("tail", _ => RelayConfig(
        tcpPorts = Seq(freePort()), tlsPorts = Seq(0))) { (relay, _) =>
      (tcpSend(relay.boundPorts("tcp").head,
        Seq(msgs.mkString("\n").getBytes("UTF-8"))), 0L)
    }
    assert(spooled.map(_._2).sorted === msgs.sorted)
  }
}
