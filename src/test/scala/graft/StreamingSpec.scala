package graft

import java.nio.file.Files

import graft.streaming.SyslogPipeline
import org.apache.spark.sql.functions._

/** End-to-end Structured Streaming pipeline (#20) and multimodal
  * plumbing (#39). */
class StreamingSpec extends SparkSpec {

  private def writeLines(dir: java.nio.file.Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))

  /** The bytes of every published `.gz` spool file, in name order. */
  private def spoolFiles(dir: java.nio.file.Path): Seq[Array[Byte]] =
    dir.toFile.listFiles().filter(_.getName.endsWith(".gz"))
      .sortBy(_.getName).map(f => Files.readAllBytes(f.toPath)).toSeq

  private def gunzip(gz: Array[Byte]): String =
    new String(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(gz)).readAllBytes(), "UTF-8")

  private def spoolTable(dir: java.nio.file.Path) =
    spark.read.format("graft-spool").load(dir.toString)

  test("spool sink writes gzip records that round-trip to the record JSON") {
    val in = Files.createTempDirectory("graft_spool_in")
    val spool = Files.createTempDirectory("graft_spool_out")
    val ckpt = Files.createTempDirectory("graft_spool_ckpt")
    writeLines(in, "conn1.log", Seq(
      "<165>1 2024-01-05T10:00:10Z web01 app one",
      "<165>1 2024-01-05T10:00:20Z web01 app two"))
    val q = SyslogPipeline.spoolDirQuery(
      SyslogPipeline.parsed(spark, in.toString, gelf = false),
      spool.toString, ckpt.toString)
    q.awaitTermination(60000)
    val files = spoolFiles(spool)
    assert(files.length === 1)
    val gz = files.head
    assert(gz(0) == 0x1f.toByte && gz(1) == 0x8b.toByte)
    val json = gunzip(gz)
    assert(json.contains("\"logStream\":\"web01\""))
    assert(json.contains("app one") && json.contains("app two"))
    assert(json.contains("\"messageType\":\"DATA_MESSAGE\""))
    // the same record read back as events through the spool source
    val back = spoolTable(spool)
    assert(back.count() === 2)
    assert(back.select("log_stream", "message_type").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("web01", "DATA_MESSAGE")))
  }

  test("spool checkpoint gives exactly-once incremental processing") {
    val in = Files.createTempDirectory("graft_ckpt_in")
    val spool = Files.createTempDirectory("graft_ckpt_out")
    val ckpt = Files.createTempDirectory("graft_ckpt_ck")
    writeLines(in, "c1.log", Seq("<165>1 2024-01-05T10:00:10Z web01 app one"))
    val q1 = SyslogPipeline.spoolDirQuery(
      SyslogPipeline.parsed(spark, in.toString, gelf = false), spool.toString, ckpt.toString)
    q1.awaitTermination(60000)
    // second run with the same checkpoint only sees the NEW file
    writeLines(in, "c2.log", Seq("<165>1 2024-01-05T10:00:20Z web02 app two"))
    val q2 = SyslogPipeline.spoolDirQuery(
      SyslogPipeline.parsed(spark, in.toString, gelf = false), spool.toString, ckpt.toString)
    q2.awaitTermination(60000)
    assert(spoolFiles(spool).length === 2)
    val hosts = spoolTable(spool).select("log_stream").collect()
      .map(_.getString(0)).sorted
    assert(hosts.toSeq === Seq("web01", "web02")) // web01 NOT reprocessed
  }

  test("RelayConfig drives record shape (group prefix, gelf class, ports)") {
    val cfg = graft.RelayConfig(groupPrefix = "/prod", gelf = true,
      udpPorts = Seq(514), tcpPorts = Seq(0), tlsPorts = Seq(6514, 0))
    assert(cfg.logGroup(12201) === "/prod/gelf/12201")
    assert(cfg.activePorts.sorted === Seq(514, 6514))
    assert(graft.RelayConfig().logGroup(6514) === "/kinesyslog/syslog/6514")

    val in = Files.createTempDirectory("graft_cfg_in")
    val spool = Files.createTempDirectory("graft_cfg_out")
    val ckpt = Files.createTempDirectory("graft_cfg_ck")
    writeLines(in, "c.log", Seq("<165>1 2024-01-05T10:00:10Z web01 app x"))
    val q = SyslogPipeline.spoolDirQuery(
      SyslogPipeline.parsed(spark, in.toString, gelf = false),
      spool.toString, ckpt.toString,
      config = graft.RelayConfig(groupPrefix = "/prod"), port = 514)
    q.awaitTermination(60000)
    val json = gunzip(spoolFiles(spool).head)
    assert(json.contains("\"logGroup\":\"/prod/syslog/514\""))
    assert(spoolTable(spool).select("log_group").collect()
      .map(_.getString(0)).toSeq === Seq("/prod/syslog/514"))
  }

  test("streaming dedup admits each distinct text once across batches and restarts") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_dedup_in")
    val out = Files.createTempDirectory("graft_dedup_out")
    val ckpt = Files.createTempDirectory("graft_dedup_ck")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def feed(docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.toString)
    def drain(): Unit = {
      val q = streaming.CorpusStream.dedupQuery(
        spark, in.toString, schema, out.toString, ckpt.toString)
      // a timeout must fail HERE, not as a confusing downstream
      // assertion over partial output with the query still running
      assert(q.awaitTermination(60000))
    }
    feed(Seq(1L -> "alpha beta", 2L -> "gamma  delta"))
    drain()
    // second increment: one exact dup, one whitespace-normalized dup,
    // one genuinely new doc — only the new doc may be admitted
    feed(Seq(3L -> "alpha beta", 4L -> "GAMMA DELTA", 5L -> "epsilon"))
    drain()
    val admitted = spark.read.parquet(out.toString)
    assert(admitted.count() === 3)
    assert(admitted.select("fingerprint").distinct().count() === 3)
    assert(admitted.filter(col("doc_id").isin(3L, 4L)).count() === 0)
    assert(admitted.filter(col("doc_id") === 5L).count() === 1)
  }

  test("streaming minhash-LSH flags cross-batch near-dups the batch job finds") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_mh_in")
    val out = Files.createTempDirectory("graft_mh_out")
    val ckpt = Files.createTempDirectory("graft_mh_ck")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def feed(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.toString)
    def drain(): Unit = {
      val q = streaming.MinhashStream.dedupQuery(
        spark, in.toString, schema, ckpt.toString, out.toString)
      assert(q.awaitTermination(120000))
    }
    // two increments split mid-corpus; the second drain restarts the
    // query from the checkpoint, so cross-drop collisions prove the
    // bucket-owner state survives restarts
    val (first, second) = docs.partition(_._1 < 250)
    feed(first.toSeq); drain()
    feed(second.toSeq); drain()
    val verdicts = spark.read.parquet(out.toString)
    assert(verdicts.count() === docs.length)
    // every batch-detected near-dup pair (a, b) shares at least one
    // band bucket, and the stream hashes to the SAME buckets, so the
    // larger doc must be flagged (owner <= a < b)
    val pairs = operators.Dedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val flagged = verdicts.filter(col("admitted") === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    pairs.foreach { case (a, b) =>
      assert(flagged.contains(b), s"pair ($a,$b): $b not flagged")
    }
    // the corpus is not ALL duplicates: most docs are admitted
    assert(verdicts.filter(col("admitted") === 1).count() > docs.length / 2)
    // dup_of always points at an earlier doc
    verdicts.filter(col("admitted") === 0).collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("dup_of")) < r.getLong(r.fieldIndex("doc_id")))
    }
  }

  test("gelf stream parses datagrams into the shared sink shape and spools under the gelf class") {
    val in = Files.createTempDirectory("graft_gelf_in")
    val spool = Files.createTempDirectory("graft_gelf_out")
    val ckpt = Files.createTempDirectory("graft_gelf_ck")
    writeLines(in, "dgrams.log", Seq(
      """{"version":"1.1","host":"app01","short_message":"boot ok","timestamp":1704412800,"level":6}""",
      """{"version":"1.1","host":"app01","short_message":"frac ts","timestamp":1704412800.5,"level":6}""",
      "not json at all"))
    val q = SyslogPipeline.spoolDirQuery(
      SyslogPipeline.parsed(spark, in.toString, gelf = true),
      spool.toString, ckpt.toString,
      config = RelayConfig(gelf = true), port = 12201)
    q.awaitTermination(60000)
    val json = spoolFiles(spool).map(gunzip)
      .find(_.contains("\"logStream\":\"app01\"")).get
    assert(json.contains("\"logGroup\":\"/kinesyslog/gelf/12201\""))
    assert(json.contains("\"timestamp\":1704412800000") &&
      json.contains("\"timestamp\":1704412800500"))
    val recs = spoolTable(spool)
    assert(recs.filter(col("log_stream") === "app01")
      .select("timestamp").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1704412800000L, 1704412800500L))
    // the non-JSON datagram still lands (hostname fallback + recv time)
    assert(recs.filter(col("log_stream") === "unknown").count() === 1)
  }

  test("flatMapGroupsWithState sessionization closes sessions by gap and by watermark timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.Ev
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ev(uid: Long, eid: Long, ts: Long) =
      Ev(uid, eid, ts, new java.sql.Timestamp(ts * 1000L))
    val input = MemoryStream[Ev]
    val q = Sessionize.sessions(input.toDS(), gap = 100L).writeStream
      .format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      // batch 1: user 1 has two events 50 s apart (one open session)
      input.addData(ev(1, 1, 1000), ev(1, 2, 1050))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() === 0) // still open
      // batch 2: user 1 returns past the gap -> session 1 closes inline;
      // user 2 appears (open session)
      input.addData(ev(1, 3, 2000), ev(2, 4, 2000))
      q.processAllAvailable()
      val afterGap = spark.table("sessions_out").collect()
      assert(afterGap.length === 1)
      assert(afterGap.head.getLong(0) === 1L)     // user_id
      assert(afterGap.head.getLong(1) === 1000L)  // start
      assert(afterGap.head.getLong(2) === 1050L)  // end
      assert(afterGap.head.getInt(3) === 2)       // n_events
      // batch 3: advance the watermark far past everyone's timeout ->
      // both open sessions flush via EventTimeTimeout
      input.addData(ev(3, 5, 10000))
      q.processAllAvailable()
      val all = spark.table("sessions_out").collect()
      assert(all.length === 3)
      val byUser = all.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getInt(3)))).toMap
      assert(byUser(1L) === ((2000L, 2000L, 1)))
      assert(byUser(2L) === ((2000L, 2000L, 1)))
    } finally q.stop()
  }

  test("chunked GELF reassembles across micro-batches; incomplete ids time out") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.GelfChunkStream
    import graft.streaming.GelfChunkStream.Chunk
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ch(id: Long, seq: Int, total: Int, payload: String, ts: Long) =
      Chunk(id, seq, total, payload.getBytes("UTF-8"),
        new java.sql.Timestamp(ts * 1000L))
    val input = MemoryStream[Chunk]
    val q = GelfChunkStream.assemble(input.toDS()).writeStream
      .format("memory").queryName("gelf_asm").outputMode("append").start()
    try {
      // batch 1: msg 1 half-arrived; msg 2 complete; msg 3 half-arrived
      input.addData(ch(1, 0, 2, "hel", 100), ch(2, 0, 1, "solo", 100),
        ch(3, 0, 2, "orphan-", 100))
      q.processAllAvailable()
      val b1 = spark.table("gelf_asm").collect()
      assert(b1.map(_.getLong(0)).toSet === Set(2L))
      assert(b1.head.getString(1) === "solo")
      // batch 2: msg 1's second chunk lands in a LATER micro-batch
      // (plus a duplicate of its first chunk — first arrival wins);
      // the reassembly state carried it across the boundary
      input.addData(ch(1, 1, 2, "lo", 101), ch(1, 0, 2, "XXX", 101))
      q.processAllAvailable()
      val b2 = spark.table("gelf_asm").collect()
      assert(b2.map(_.getLong(0)).toSet === Set(1L, 2L))
      assert(b2.find(_.getLong(0) == 1L).get.getString(1) === "hello")
      // batch 3: advance the watermark past msg 3's first-seen + 5 s
      input.addData(ch(9, 0, 1, "advance", 1000))
      q.processAllAvailable()
      // batch 4: a batch where id 3 has NO data -> its timeout fires
      // (keys with new data are not timeout-processed) and the partial
      // state evicts without emitting
      input.addData(ch(10, 0, 1, "advance2", 1001))
      q.processAllAvailable()
      // batch 5: the completing chunk arrives AFTER eviction — the id
      // restarts from scratch, chunk 1 alone can't assemble
      input.addData(ch(3, 1, 2, "late", 1002))
      q.processAllAvailable()
      val all = spark.table("gelf_asm").collect()
      assert(!all.map(_.getLong(0)).contains(3L))
      assert(all.map(_.getLong(0)).toSet === Set(1L, 2L, 9L, 10L))
    } finally q.stop()
  }

  test("chunked gelf stream end-to-end: datagrams spanning micro-batches reach the spool") {
    val in = Files.createTempDirectory("graft_chunk_in")
    val spool = Files.createTempDirectory("graft_chunk_out")
    val ckpt = Files.createTempDirectory("graft_chunk_ck")
    def dgram(id: Long, seq: Int, total: Int, payload: String): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + payload.length)
      bb.put(0x1e.toByte).put(0x0f.toByte).putLong(id)
        .put(seq.toByte).put(total.toByte).put(payload.getBytes("UTF-8"))
      bb.array()
    }
    val msg = """{"version":"1.1","host":"chunky","short_message":"split msg","timestamp":1704412800,"level":6}"""
    val (half1, half2) = msg.splitAt(msg.length / 2)
    // one UDP ingest file per datagram, in the listener's format
    def feed(name: String, d: Array[Byte]): Unit =
      Files.write(in.resolve(name), s"${d.length} ".getBytes("US-ASCII") ++ d)
    def drain(): Unit = assert(SyslogPipeline.spoolDirQuery(
      SyslogPipeline.parsed(spark, in.toString, gelf = true, udp = true),
      spool.toString, ckpt.toString,
      config = RelayConfig(gelf = true), port = 12201).awaitTermination(60000))
    // file 1: first half of msg 7; file 2: second half — two
    // AvailableNow runs on one checkpoint put them in separate
    // micro-batches, so the half from run 1 waits in reassembly state
    feed("udp-0-00000.dat", dgram(7, 0, 2, half1))
    drain()
    assert(spoolFiles(spool).isEmpty)
    feed("udp-0-00001.dat", dgram(7, 1, 2, half2))
    drain()
    val chunky = spoolTable(spool).filter(col("log_stream") === "chunky")
      .select("message", "timestamp").collect()
    assert(chunky.length === 1)
    assert(chunky.head.getString(0).contains("split msg"))
    assert(chunky.head.getLong(1) === 1704412800000L)
    val json = spoolFiles(spool).map(gunzip)
      .find(_.contains("\"logStream\":\"chunky\"")).get
    assert(json.contains("split msg"))
    assert(json.contains("\"timestamp\":1704412800000"))
  }

  test("parsed: receive time is the ingest file's mtime; re-reading a file yields identical record ids") {
    // 2025-01-01T00:00:05Z: "Dec 31" in that year is ≥3 days ahead, so
    // the RFC 3164 stamp falls to 2024; on the query clock (a later
    // year) it would land in a later year
    val mtime = 1735689605000L
    val syslog = Seq("<13>Dec 31 23:59:50 nyhost year turned", "<13>no header at all")
    val gelfDoc = """{"version":"1.1","host":"nostamp","short_message":"chunked, no timestamp"}"""
    val (half1, half2) = gelfDoc.splitAt(gelfDoc.length / 2)
    def dgram(seq: Int, payload: String): Array[Byte] = {
      val d = java.nio.ByteBuffer.allocate(12 + payload.length)
        .put(0x1e.toByte).put(0x0f.toByte).putLong(9L)
        .put(seq.toByte).put(2.toByte).put(payload.getBytes("UTF-8")).array()
      s"${d.length} ".getBytes("US-ASCII") ++ d
    }
    val tcpIn = Files.createTempDirectory("graft_recv_tcp")
    val udpIn = Files.createTempDirectory("graft_recv_udp")
    for ((file, bytes) <- Seq(
        tcpIn.resolve("tcp-0-conn-000000-00000.dat") ->
          syslog.map(_ + "\n").mkString.getBytes("UTF-8"),
        udpIn.resolve("udp-0-00000.dat") -> (dgram(0, half1) ++ dgram(1, half2)))) {
      Files.write(file, bytes)
      assert(file.toFile.setLastModified(mtime))
    }
    /** One spool run over both ingest dirs on fresh checkpoints:
      * message → (record id, timestamp ms). */
    def spoolRun(): Map[String, (String, Long)] = {
      val spool = Files.createTempDirectory("graft_recv_spool")
      for ((in, gelf) <- Seq(tcpIn -> false, udpIn -> true))
        assert(SyslogPipeline.spoolDirQuery(
          SyslogPipeline.parsed(spark, in.toString, gelf = gelf, udp = gelf),
          spool.toString, Files.createTempDirectory("graft_recv_ck").toString)
          .awaitTermination(60000))
      spoolTable(spool).select("message", "id", "timestamp").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    }
    val first = spoolRun()
    assert(first.keySet === (syslog :+ gelfDoc).toSet)
    assert(first(syslog(0))._2 === 1735689590000L) // 2024-12-31T23:59:50Z
    assert(first(syslog(1))._2 === mtime)           // no stamp: the file's time
    assert(first(gelfDoc)._2 === mtime)             // reassembled: its chunks' file time
    assert(spoolRun() === first)
  }

  test("chunked GELF datagram entry parses binary headers in-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.GelfChunkStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dgram(id: Long, seq: Int, total: Int, payload: String): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + payload.length)
      bb.put(0x1e.toByte).put(0x0f.toByte).putLong(id)
        .put(seq.toByte).put(total.toByte)
        .put(payload.getBytes("UTF-8"))
      bb.array()
    }
    val input = MemoryStream[(Array[Byte], Long)]
    val df = input.toDF().selectExpr("_1 AS datagram",
      "timestamp_seconds(_2) AS event_time")
    val q = GelfChunkStream.assembleDatagrams(df).writeStream
      .format("memory").queryName("gelf_dgram_asm").outputMode("append").start()
    try {
      input.addData((dgram(42, 1, 2, "world"), 100L))
      q.processAllAvailable()
      assert(spark.table("gelf_dgram_asm").count() === 0)
      input.addData((dgram(42, 0, 2, "hello "), 101L))
      q.processAllAvailable()
      val out = spark.table("gelf_dgram_asm").collect()
      assert(out.length === 1)
      assert(out.head.getLong(0) === 42L)
      assert(out.head.getString(1) === "hello world")
      assert(out.head.getInt(2) === 2)
    } finally q.stop()
  }

  test("chunked+COMPRESSED GELF decompresses after reassembly (reference protocol.py:281-287)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.GelfChunkStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dgram(id: Long, seq: Int, total: Int, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + payload.length)
      bb.put(0x1e.toByte).put(0x0f.toByte).putLong(id)
        .put(seq.toByte).put(total.toByte).put(payload)
      bb.array()
    }
    // zlib-compress the WHOLE GELF document, then chunk the compressed
    // bytes mid-stream — per-chunk decompression would see garbage;
    // only reassemble-then-sniff recovers the message
    val msg = """{"version":"1.1","host":"deflated","short_message":"compressed then chunked"}"""
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.util.zip.DeflaterOutputStream(bos)
    dos.write(msg.getBytes("UTF-8")); dos.close()
    val packed = bos.toByteArray
    val cut = packed.length / 2
    val input = MemoryStream[(Array[Byte], Long)]
    val df = input.toDF().selectExpr("_1 AS datagram",
      "timestamp_seconds(_2) AS event_time")
    val q = GelfChunkStream.assembleDatagrams(df).writeStream
      .format("memory").queryName("gelf_zchunk_asm").outputMode("append").start()
    try {
      // the two compressed halves arrive in separate micro-batches,
      // out of order; a corrupt single-chunk message (zlib magic but
      // truncated body) must be dropped, not emitted as garbage
      val corrupt = packed.take(4)
      input.addData((dgram(77, 1, 2, packed.drop(cut)), 100L),
        (dgram(78, 0, 1, corrupt), 100L))
      q.processAllAvailable()
      assert(spark.table("gelf_zchunk_asm").count() === 0)
      input.addData((dgram(77, 0, 2, packed.take(cut)), 101L))
      q.processAllAvailable()
      val out = spark.table("gelf_zchunk_asm").collect()
      assert(out.length === 1)
      assert(out.head.getLong(0) === 77L)
      assert(out.head.getString(1) === msg)
      assert(out.head.getInt(2) === 2)
    } finally q.stop()
  }

  test("streaming relay writes the real spool directory format, re-readable as a table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-relay-spool").toFile
    val spool = new java.io.File(base, "spool").getAbsolutePath
    val cp = new java.io.File(base, "cp").getAbsolutePath
    val input = MemoryStream[String]
    input.addData(
      "<13>1 2024-01-05T00:00:00Z app01 authd - - - login ok",
      "<13>1 2024-01-05T00:00:01Z app01 authd - - - login ok 2",
      "<165>1 2024-01-05T00:00:02Z db9 postgres - - - checkpoint")
    val q = graft.streaming.SyslogPipeline.spoolDirQuery(
      graft.streaming.SyslogPipeline.parseLines(input.toDF(), current_timestamp()),
      spool, cp)
    q.awaitTermination()
    val back = spark.read.format("graft-spool").load(spool)
    assert(back.count() === 3)
    // per-stream records with the RelayConfig log group and 56-digit ids
    val hosts = back.select("log_stream").distinct()
      .collect().map(_.getString(0)).sorted
    assert(hosts.toSeq === Seq("app01", "db9"))
    assert(back.select("log_group").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("/kinesyslog/syslog/6514"))
    assert(back.select("id").collect().forall(_.getString(0).length == 56))
    // event payloads survive the spool round trip
    assert(back.filter(col("message").contains("checkpoint")).count() === 1)
  }

  test("multimodal image codec reads true JPEG/PNG dimensions from fixture bytes") {
    import operators.Multimodal
    // minimal PNG: signature + IHDR chunk with width=640, height=480
    val png = (Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13) ++ "IHDR".map(_.toInt) ++
      Seq(0, 0, 0x02, 0x80, 0, 0, 0x01, 0xe0, 8, 6, 0, 0, 0)).map(_.toByte).toArray
    assert(Multimodal.imageDims(png) === Some((640, 480)))
    // minimal JPEG: SOI, APP0 (JFIF), then SOF0 with height=480, width=640
    val jpeg = (Seq(0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x10) ++ "JFIF".map(_.toInt) ++
      Seq(0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00) ++
      Seq(0xff, 0xc0, 0x00, 0x11, 0x08, 0x01, 0xe0, 0x02, 0x80, 0x03,
        0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01))
      .map(_.toByte).toArray
    assert(Multimodal.imageDims(jpeg) === Some((640, 480)))
    // progressive JPEG (SOF2) parses too; text bytes do not
    val jpeg2 = jpeg.updated(21, 0xc2.toByte)
    assert(Multimodal.imageDims(jpeg2) === Some((640, 480)))
    assert(Multimodal.imageDims("plain text payload".getBytes("UTF-8")) === None)
    // end-to-end through the batched mapPartitions decode
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png),
      Multimodal.MediaRow(2L, "image", jpeg),
      Multimodal.MediaRow(3L, "image", "not an image".getBytes("UTF-8"))).toDS()
    val out = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(out(0).width === 640 && out(0).height === 480)
    assert(out(1).width === 640 && out(1).height === 480)
    // unrecognizable payload falls back to bounded stub dims
    assert(out(2).width >= 1 && out(2).width <= 1920)
  }

  test("multimodal audio/video codecs read true WAV/MP4 headers from fixture bytes") {
    import operators.Multimodal
    def u32le(v: Long): Seq[Int] =
      Seq((v & 0xff).toInt, ((v >> 8) & 0xff).toInt,
        ((v >> 16) & 0xff).toInt, ((v >> 24) & 0xff).toInt)
    def u16le(v: Int): Seq[Int] = Seq(v & 0xff, (v >> 8) & 0xff)
    // minimal WAV: RIFF/WAVE + a JUNK chunk before fmt (walker must skip)
    val fmt = u16le(1) ++ u16le(2) ++ u32le(44100L) ++ u32le(176400L) ++
      u16le(4) ++ u16le(16)
    val wav = ("RIFF".map(_.toInt) ++ u32le(60) ++ "WAVE".map(_.toInt) ++
      "JUNK".map(_.toInt) ++ u32le(4) ++ Seq(0, 0, 0, 0) ++
      "fmt ".map(_.toInt) ++ u32le(16) ++ fmt).map(_.toByte).toArray
    assert(Multimodal.wavMeta(wav) === Some((44100, 2)))
    assert(Multimodal.wavMeta("RIFFnope".getBytes("US-ASCII")) === None)

    def u32be(v: Long): Seq[Int] =
      Seq(((v >> 24) & 0xff).toInt, ((v >> 16) & 0xff).toInt,
        ((v >> 8) & 0xff).toInt, (v & 0xff).toInt)
    def box(tpe: String, payload: Seq[Int]): Seq[Int] =
      u32be(8L + payload.length) ++ tpe.map(_.toInt) ++ payload
    // minimal MP4: ftyp + moov(trak(tkhd v0 with 1280x720 at 16.16))
    val tkhdPayload = Seq(0, 0, 0, 0) ++ // version 0 + flags
      Seq.fill(72)(0) ++ // creation..matrix (width is at +76)
      u32be(1280L << 16) ++ u32be(720L << 16)
    val mp4 = (box("ftyp", "isom".map(_.toInt) ++ Seq.fill(8)(0)) ++
      box("moov", box("trak", box("tkhd", tkhdPayload))))
      .map(_.toByte).toArray
    assert(Multimodal.mp4Dims(mp4) === Some((1280, 720)))
    assert(Multimodal.mp4Dims("not a video".getBytes("US-ASCII")) === None)

    // kind routing end-to-end through the batched decode
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav),
      Multimodal.MediaRow(2L, "video", mp4),
      Multimodal.MediaRow(3L, "audio", "static noise".getBytes("UTF-8"))).toDS()
    val out = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(out(0).width === 44100 && out(0).height === 2)
    assert(out(1).width === 1280 && out(1).height === 720)
    assert(out(2).width >= 1 && out(2).width <= 1920) // stub fallback
  }

  test("multimodal decode keeps batch shape and deterministic metadata") {
    val out = operators.Multimodal.multimodalMeta(spark, sf)
    val docs = Tables.load(spark, sf, "documents").count()
    assert(out.count() === docs)
    assert(out.filter(col("width") < 1 || col("width") > 1920).count() === 0)
    assert(out.filter(col("height") < 1 || col("height") > 1080).count() === 0)
    val again = operators.Multimodal.multimodalMeta(spark, sf)
    assert(out.exceptAll(again).count() === 0)
    assert(out.select("kind").distinct().count() === 3)
  }

  test("media_resize: real PNG decode feeds aspect-preserved integer fits") {
    val rows = operators.Multimodal.mediaResize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, w, h, ow, oh) =>
      // dims came from the real IHDR parse of the synthesized header
      assert(w === (id % 1920 + 32).toInt && h === (id % 1080 + 32).toInt)
      assert(math.max(ow, oh) === operators.Multimodal.ResizeBox)
      assert(ow >= 1 && oh >= 1)
      // aspect preserved under truncating integer scaling
      if (w >= h) assert(oh === math.max(1, h * operators.Multimodal.ResizeBox / w))
      else assert(ow === math.max(1, w * operators.Multimodal.ResizeBox / h))
    }
  }

  test("media_frames: stride covers [0, n_frames) exactly") {
    val byDoc = operators.Multimodal.mediaFrames(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (_, rs) =>
      val n = rs.head._2
      val idx = rs.map(_._3).sorted.toSeq
      assert(idx === (0L until n by operators.Multimodal.FrameStride.toLong).toSeq)
    }
  }

  test("media_features: histogram mass equals payload bytes") {
    val feats = operators.Multimodal.mediaFeatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val mass = feats.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._3).sum }
    val sizes = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), expr("octet_length(CAST(text AS BINARY))").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mass.nonEmpty)
    mass.foreach { case (d, m) => assert(m === sizes(d), s"doc $d") }
    feats.foreach { case (_, bin, _) => assert(bin >= 0 && bin < 16) }
  }

  test("streaming LM scoring replays batch surprisal exactly; OOV floors at c=1") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_lm_in")
    val out = Files.createTempDirectory("graft_lm_out")
    val ckpt = Files.createTempDirectory("graft_lm_ck")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def feed(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.toString)
    def drain(): Unit = {
      val q = streaming.SurprisalStream.scoreQuery(
        spark, in.toString, schema, sf, out.toString, ckpt.toString)
      assert(q.awaitTermination(120000))
    }
    // replay the training corpus across two drains (restart from
    // checkpoint) — frozen-model scores must equal the batch op's
    val (first, second) = docs.partition(_._1 < 250)
    feed(first.toSeq); drain()
    feed(second.toSeq); drain()
    val got = spark.read.parquet(out.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val expected = functions.TextFunctions.surprisal(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === expected)
    // an unseen token scores at the add-1 floor c = 1: per-token
    // surprisal = log2fp(N) exactly
    val Q = functions.TextFunctions.LogQ
    val table = (0 until Q).map(i => math.floor(
      Q * (StrictMath.log((Q + i).toDouble / Q) / StrictMath.log(2.0))).toLong)
    def lg(x: Long): Long = {
      val qb = 63 - java.lang.Long.numberOfLeadingZeros(x)
      Q.toLong * qb + table(((x * Q) / (1L << qb) - Q).toInt)
    }
    val n = functions.TextFunctions.unigramVocab(spark, sf)
      .agg(sum(col("c"))).head.getLong(0)
    feed(Seq(999999L -> "zzzzz qqqqq")); drain()
    val oov = spark.read.parquet(out.toString)
      .filter(col("doc_id") === 999999L).collect().head
    assert(oov.getLong(1) === 2L)
    assert(oov.getLong(2) === 2L * lg(n))
  }
}
