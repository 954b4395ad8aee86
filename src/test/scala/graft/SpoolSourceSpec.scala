package graft

import java.io.{File, FileOutputStream}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

object SpoolTableSchemaFixture {
  import org.apache.spark.sql.types._
  def withTimestampAs(dt: DataType): StructType =
    StructType(graft.sources.SpoolTable.Schema.fields.map {
      case f if f.name == "timestamp" => f.copy(dataType = dt)
      case f => f
    })
}

/** Spool-record builders shared with [[HttpTransportSpec]]. */
object SpoolSourceSpec {
  def record(group: String, stream: String,
             events: Seq[(String, String, Long)]): String = {
    val evs = events.map { case (id, msg, ts) =>
      s"""{"id":"$id","message":"$msg","timestamp":$ts}"""
    }.mkString(",")
    s"""{"owner":"000000000000","logGroup":"$group","logStream":"$stream",""" +
      s""""subscriptionFilters":["$group"],"messageType":"DATA_MESSAGE",""" +
      s""""logEvents":[$evs]}"""
  }

  def writeGz(dir: File, name: String, body: String): Unit = {
    val out = new GZIPOutputStream(new FileOutputStream(new File(dir, name)))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }
}

/** DataSourceV2 spool reader + writer (SURVEY §2 #69/#72). */
class SpoolSourceSpec extends SparkSpec {
  import SpoolSourceSpec.{record, writeGz}

  private lazy val fixture: File = {
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-spec-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    writeGz(dir, "a-514-0.gz", record("graft/syslog/514", "10.0.0.1",
      Seq(("001", "<13>m1", 1000L), ("002", "<14>m2", 2000L))))
    writeGz(dir, "b-601-0.gz", record("graft/syslog/601", "10.0.0.2",
      Seq(("003", "<15>m3", 3000L))))
    writeGz(dir, "ignored.txt", record("x", "y", Seq(("9", "z", 9L))))
    new File(dir, "ignored.txt").delete() // only *.gz are spool files
    dir
  }

  test("spool source reads records and explodes logEvents") {
    val df = spark.read.format("graft-spool").load(fixture.getAbsolutePath)
    assert(df.schema.fieldNames.toSeq === Seq("owner", "log_group",
      "log_stream", "message_type", "subscription_filters", "id",
      "message", "timestamp", "src_file"))
    val rows = df.orderBy("id")
      .select("id", "log_stream", "log_group", "message", "timestamp")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(rows.toSeq === Seq(
      ("001", "10.0.0.1", "graft/syslog/514", "<13>m1", 1000L),
      ("002", "10.0.0.1", "graft/syslog/514", "<14>m2", 2000L),
      ("003", "10.0.0.2", "graft/syslog/601", "<15>m3", 3000L)))
    val subs = df.orderBy("id").select("subscription_filters")
      .collect().map(_.getSeq[String](0))
    assert(subs.forall(_.length == 1))
  }

  test("column pruning reaches the scan") {
    val df = spark.read.format("graft-spool").load(fixture.getAbsolutePath)
      .select("message")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.output.map(_.name) === Seq("message"))
    assert(df.collect().map(_.getString(0)).sorted ===
      Array("<13>m1", "<14>m2", "<15>m3"))
  }

  test("header filters push down and skip whole records") {
    val df = spark.read.format("graft-spool").load(fixture.getAbsolutePath)
      .filter(col("log_stream") === "10.0.0.2")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    // the scan advertises the pushed header filter
    assert(scan.scan.description().contains("log_stream"))
    assert(df.select("id").collect().map(_.getString(0)).toSeq === Seq("003"))
  }

  test("bin-packing bounds the partition count") {
    val many = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-spec-many-${spark.sparkContext.applicationId}")
    many.mkdirs()
    (0 until 40).foreach(i => writeGz(many, f"r-$i%03d.gz",
      record("g", "s", Seq((f"$i%03d", "m" * 50, i.toLong)))))
    // tiny cap: partitions obey cumulative-size packing, files stay whole
    val df = spark.read.format("graft-spool")
      .option("maxPartitionBytes", "400")
      .load(many.getAbsolutePath)
    val parts = df.rdd.getNumPartitions
    assert(parts > 1 && parts < 40, s"expected packed partitions, got $parts")
    assert(df.count() === 40)
    // default cap: all 40 tiny files in ONE partition
    val one = spark.read.format("graft-spool").load(many.getAbsolutePath)
    assert(one.rdd.getNumPartitions === 1)
  }

  test("V2 writer: record cap respected, round-trip lossless") {
    import spark.implicits._
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-write-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val events = (1 to 200).map(i =>
      ("o", s"g/${i % 2}", s"s${i % 3}", "DATA_MESSAGE",
        Seq(s"g/${i % 2}"), f"$i%03d", s"msg-$i-" + "x" * 40, i.toLong))
      .toDF("owner", "log_group", "log_stream", "message_type",
        "subscription_filters", "id", "message", "timestamp")
    events.repartition(2, col("log_group"), col("log_stream"))
      .write.format("graft-spool").option("maxRecordBytes", "600")
      .mode("append").save(dir.getAbsolutePath)
    // multiple capped files, none over ~600B of JSON (gz smaller)
    val files = dir.listFiles().filter(_.getName.endsWith(".gz"))
    assert(files.length > 6, s"expected many capped records, got ${files.length}")
    val back = spark.read.format("graft-spool").load(dir.getAbsolutePath)
    assert(back.count() === 200)
    // every event survives with its header intact
    val got = back.select("id", "log_group", "log_stream", "message", "timestamp")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    val want = (1 to 200).map(i => (f"$i%03d", s"g/${i % 2}", s"s${i % 3}",
      s"msg-$i-" + "x" * 40, i.toLong)).sortBy(_._1)
    assert(got.toSeq === want)
    // no record file exceeds the cap after gunzip
    files.foreach { f =>
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      val body = try in.readAllBytes() finally in.close()
      val rec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      val evJson = rec.get("logEvents").toString
      assert(evJson.length <= 600 + 2, s"${f.getName}: ${evJson.length}")
    }
  }

  test("write schema validation rejects missing/mistyped columns") {
    import org.apache.spark.sql.types._
    val missing = StructType(Seq(StructField("id", StringType)))
    assert(intercept[IllegalArgumentException] {
      graft.sources.SpoolWrite.requireWritable(missing)
    }.getMessage.contains("graft-spool"))
    val mistyped = SpoolTableSchemaFixture.withTimestampAs(StringType)
    assert(intercept[IllegalArgumentException] {
      graft.sources.SpoolWrite.requireWritable(mistyped)
    }.getMessage.contains("bigint"))
  }

  test("micro-batch stream tails the directory; restart resumes from checkpoint") {
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-stream-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val cp = new File(dir, "_cp").getAbsolutePath
    writeGz(dir, "0001.gz", record("g", "s1", Seq(("001", "m1", 1L))))
    writeGz(dir, "0002.gz", record("g", "s1", Seq(("002", "m2", 2L))))

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def start() = spark.readStream.format("graft-spool")
      .load(dir.getAbsolutePath)
      .select("id", "message")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => seen.add(r.getString(0))); ()
      }
      .option("checkpointLocation", cp).start()

    val q1 = start()
    q1.processAllAvailable()
    assert(seen.toArray(Array.empty[String]).sorted === Array("001", "002"))
    // a new spool file arrives mid-stream → exactly its events append
    writeGz(dir, "0003.gz", record("g", "s2", Seq(("003", "m3", 3L))))
    q1.processAllAvailable()
    assert(seen.size() === 3)
    q1.stop()
    // restart from the checkpoint: only files past the watermark run
    seen.clear()
    writeGz(dir, "0004.gz", record("g", "s2", Seq(("004", "m4", 4L))))
    val q2 = start()
    q2.processAllAvailable()
    val second = seen.toArray(Array.empty[String])
    assert(second.sorted === Array("004"), second.mkString(","))
    q2.stop()
  }

  test("AvailableNow drain latches the listing at query start; later files wait for the next pass") {
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-avnow-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val cp = new File(dir, "_cp").getAbsolutePath
    writeGz(dir, "0001.gz", record("g", "s1", Seq(("001", "m1", 1L))))
    writeGz(dir, "0002.gz", record("g", "s1", Seq(("002", "m2", 2L))))

    // unit level (deterministic concurrent-publisher interleave): the
    // prepare latch pins the watermark BEFORE the new file lands, so
    // the admission-control offset and the planned batch exclude it
    val stream = new graft.sources.SpoolMicroBatchStream(
      dir.getAbsolutePath, graft.sources.SpoolTable.Schema,
      Array.empty[org.apache.spark.sql.sources.Filter], 128L * 1024 * 1024)
    stream.prepareForTriggerAvailableNow()
    writeGz(dir, "0003.gz", record("g", "s1", Seq(("003", "m3", 3L))))
    val latched = stream.latestOffset(stream.initialOffset(),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(latched.asInstanceOf[graft.sources.SpoolOffset].watermark === "0002.gz")
    val planned = stream.planInputPartitions(stream.initialOffset(), latched)
      .flatMap(_.asInstanceOf[graft.sources.SpoolInputPartition].files)
    assert(planned.length === 2 && planned.forall(!_.endsWith("0003.gz")),
      planned.mkString(","))

    // e2e: an AvailableNow pass drains everything up to ITS latch and
    // self-terminates (no deprecated single-batch fallback — that path
    // cannot terminate cleanly with data still pending); the file
    // published after the unit-level latch above is simply part of
    // this query's own snapshot
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft-spool")
        .load(dir.getAbsolutePath)
        .select("id")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getString(0))); ()
        }
        .option("checkpointLocation", cp).start()
      assert(q.awaitTermination(120000), "AvailableNow drain must self-terminate")
    }
    drainOnce()
    assert(seen.toArray(Array.empty[String]).sorted === Array("001", "002", "003"))
    // nothing new → a fresh pass is a clean no-op; then a late file
    // drains exactly once on the pass AFTER it publishes
    writeGz(dir, "0004.gz", record("g", "s2", Seq(("004", "m4", 4L))))
    drainOnce()
    assert(seen.toArray(Array.empty[String]).sorted ===
      Array("001", "002", "003", "004"))
  }

  test("sealed-epoch drain: whole epochs only, unsealed files invisible until their seal lands") {
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-seal-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val cp = new File(dir, "_cp").getAbsolutePath
    def seal(e: Long): Unit =
      new FileOutputStream(
        new File(dir, graft.sources.SpoolMicroBatchStream.sealName(e))).close()
    // epoch 1 published OUT of name order by "two tasks": the larger
    // part name lands first — under a name watermark the second file
    // would be skipped forever; under sealed epochs neither is
    // visible until the seal, then BOTH drain
    writeGz(dir, "epoch-000001-part-00003-9-00000.gz",
      record("g", "s1", Seq(("011", "m11", 1L))))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-spool")
        .load(dir.getAbsolutePath)
        .select("id")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getString(0))); ()
        }
        .option("checkpointLocation", cp).start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    assert(seen.isEmpty, "unsealed epoch must not drain")
    writeGz(dir, "epoch-000001-part-00001-7-00000.gz",
      record("g", "s1", Seq(("012", "m12", 2L))))
    seal(1L)
    drain()
    assert(seen.toArray(Array.empty[String]).sorted === Array("011", "012"))
    // restart from checkpoint: a later sealed epoch drains exactly once
    seen.clear()
    writeGz(dir, "epoch-000002-part-00001-8-00000.gz",
      record("g", "s1", Seq(("021", "m21", 3L))))
    seal(2L)
    drain()
    assert(seen.toArray(Array.empty[String]).toSeq === Seq("021"))
  }

  test("streaming sink epoch commit writes the seal marker the drain keys on") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-sealw-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val cp = new File(dir, "_cp").getAbsolutePath
    val input = MemoryStream[(String, String, Long)]
    val q = input.toDF().toDF("id", "message", "timestamp")
      .withColumn("owner", lit("o"))
      .withColumn("log_group", lit("g/1"))
      .withColumn("log_stream", lit("s1"))
      .withColumn("message_type", lit("DATA_MESSAGE"))
      .writeStream.format("graft-spool")
      .option("checkpointLocation", cp)
      .start(dir.getAbsolutePath)
    input.addData(("001", "m1", 1L))
    q.processAllAvailable()
    input.addData(("002", "m2", 2L))
    q.processAllAvailable()
    q.stop()
    val names = dir.listFiles().map(_.getName)
    val seals = names.filter(_.endsWith(".sealed")).sorted
    assert(seals.length === 2, names.mkString(","))
    // every published data file's epoch is covered by a seal
    val dataEpochs = names.filter(_.endsWith(".gz"))
      .flatMap(n => graft.sources.SpoolMicroBatchStream.EpochFileRe
        .findFirstMatchIn(n).map(_.group(1).toLong)).toSet
    val sealedEpochs = seals
      .flatMap(n => graft.sources.SpoolMicroBatchStream.SealRe
        .findFirstMatchIn(n).map(_.group(1).toLong)).toSet
    assert(dataEpochs.subsetOf(sealedEpochs), names.mkString(","))
    // and the sealed directory round-trips through the streaming drain
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cp2 = new File(dir, "_cp2").getAbsolutePath
    val q2 = spark.readStream.format("graft-spool")
      .load(dir.getAbsolutePath)
      .select("id")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => seen.add(r.getString(0))); ()
      }
      .option("checkpointLocation", cp2).start()
    q2.processAllAvailable(); q2.stop()
    assert(seen.toArray(Array.empty[String]).sorted === Array("001", "002"))
  }

  test("streaming sink epoch commit refuses a fresh-checkpoint restart into a sealed dir") {
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-restart-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    // a previous run sealed up to epoch 5
    new File(dir, graft.sources.SpoolMicroBatchStream.sealName(5L)).createNewFile()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("owner", "string").add("log_group", "string")
      .add("log_stream", "string").add("message_type", "string")
      .add("id", "string").add("message", "string").add("timestamp", "long")
    val w = new graft.sources.SpoolWrite(dir.getAbsolutePath, schema, 1000L,
      graft.sources.SerializableHadoopConf.fromSession())
    // a fresh checkpoint restarts epochs at 0: committing below the
    // existing max seal would publish epochs the drain never reads
    val none = Array.empty[org.apache.spark.sql.connector.write.WriterCommitMessage]
    val e = intercept[IllegalStateException] { w.commit(0L, none) }
    assert(e.getMessage.contains("epoch 5"), e.getMessage)
    // replay of the max epoch is idempotent; advancing past it is normal
    w.commit(5L, none)
    w.commit(6L, none)
    assert(new File(dir, graft.sources.SpoolMicroBatchStream.sealName(6L)).exists())
  }

  test("streaming sink: writeStream spools micro-batches, batch read returns them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-ssink-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val cp = new File(dir, "_cp").getAbsolutePath

    val input = MemoryStream[(String, String, Long)]
    val q = input.toDF().toDF("id", "message", "timestamp")
      .withColumn("owner", lit("o"))
      .withColumn("log_group", lit("g/1"))
      .withColumn("log_stream", lit("s1"))
      .withColumn("message_type", lit("DATA_MESSAGE"))
      .withColumn("subscription_filters", array(lit("g/1")))
      .writeStream.format("graft-spool")
      .option("checkpointLocation", cp)
      .start(dir.getAbsolutePath)
    input.addData(("001", "m1", 1L), ("002", "m2", 2L))
    q.processAllAvailable()
    input.addData(("003", "m3", 3L))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format("graft-spool").load(dir.getAbsolutePath)
    assert(back.select("id").collect().map(_.getString(0)).sorted ===
      Array("001", "002", "003"))
    // two epochs → epoch-prefixed, collision-free file names
    val files = dir.listFiles().filter(_.getName.endsWith(".gz")).map(_.getName)
    assert(files.forall(_.startsWith("epoch-")), files.mkString(","))
    assert(files.map(_.take(12)).distinct.length === 2, files.mkString(","))
  }

  test("reported statistics let Catalyst broadcast a small spool side") {
    import spark.implicits._
    val big = (1 to 5000).map(i => (s"10.0.0.${i % 9}", i.toLong))
      .toDF("log_stream", "n")
    val spoolDf = spark.read.format("graft-spool").load(fixture.getAbsolutePath)
      .select("log_stream", "message")
    val joined = big.join(spoolDf, "log_stream")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("spool_source query matches spool_read on the same inputs") {
    val viaSource = SparkEntry.queries("spool_source")(spark, sf).collect()
    val viaPlan = SparkEntry.queries("spool_read")(spark, sf).collect()
    assert(viaSource.map(_.toSeq).toSeq === viaPlan.map(_.toSeq).toSeq)
  }

  test("streaming drain packs spool files under both caps, exactly once across restarts") {
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-drain-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val out = new File(dir, "_drainlog").getAbsolutePath
    val cp = new File(dir, "_cp").getAbsolutePath
    // an always-accepting transport: the drain log alone shows packing
    val transport = new streaming.FilesystemTransport(
      new File(dir, "_delivered").getAbsolutePath, Set.empty)
    val retryDir = new File(dir, "_retry")
    retryDir.mkdirs()
    val maxCount = 4
    def drain(maxSize: Long): Unit = {
      val q = streaming.SpoolDrainStream.shipQuery(
        spark, dir.getAbsolutePath, cp, out, transport,
        retryDir.getAbsolutePath, maxCount, maxSize)
      q.awaitTermination(60000)
    }
    // a first run over the still-empty spool must leave a checkpoint
    // that later runs resume (its watermark is the empty string)
    drain(Long.MaxValue)
    (1 to 9).foreach(i => writeGz(dir, f"r$i%03d.gz",
      record("g/a", s"s$i", Seq((f"$i%03d", "m" + "x" * 50, i.toLong)))))
    val sizes = dir.listFiles().filter(_.getName.endsWith(".gz"))
      .map(f => f.getName -> f.length()).toMap
    // caps chosen so neither bound alone explains the packing: at most
    // 4 records AND at most 3.5 record-sizes per batch
    val maxSize = (sizes.values.max * 7) / 2
    drain(maxSize)
    val log1 = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(log1.map(_._3).sum === 9L) // every record drained once
    log1.foreach { case (_, _, n, bytes) =>
      assert(n <= maxCount)
      assert(bytes <= maxSize)
    }
    assert(log1.length >= 3) // 9 records can't fit fewer batches than ⌈9/4⌉
    // new spool files after the first drain: only THEY enter the next
    // micro-batch (checkpointed watermark), drained under the same caps
    (10 to 12).foreach(i => writeGz(dir, f"r$i%03d.gz",
      record("g/a", s"s$i", Seq((f"$i%03d", "m" + "x" * 50, i.toLong)))))
    drain(maxSize)
    val log2 = spark.read.parquet(out).collect()
    assert(log2.map(r => r.getLong(2)).sum === 12L)
  }

  test("shipping drain: partial failures re-spool, re-drain, deliver exactly once") {
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft-spool-ship-${spark.sparkContext.applicationId}")
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val shipDir = new File(dir, "_delivered")
    val out = new File(dir, "_shiplog").getAbsolutePath
    val cp = new File(dir, "_cp").getAbsolutePath
    (1 to 9).foreach(i => writeGz(dir, f"r$i%03d.gz",
      record("g/a", s"s$i", Seq((f"$i%03d", "m" + "x" * 50, i.toLong)))))
    val retryDir = new File(dir, "_retry")
    retryDir.mkdirs()
    // 3 of 9 records rejected on their first attempt only (their
    // retry1- reincarnations are different part_ids and succeed)
    val failOnce = Set("r002.gz", "r005.gz", "r007.gz")
    val transport = new streaming.FilesystemTransport(
      shipDir.getAbsolutePath, failOnce)
    def drain(spool: File, checkpoint: String): Unit = {
      val q = streaming.SpoolDrainStream.shipQuery(
        spark, spool.getAbsolutePath, checkpoint, out, transport,
        retryDir.getAbsolutePath, 4, Long.MaxValue)
      q.awaitTermination(60000)
    }
    drain(dir, cp) // all 9 ship; 3 fail and re-spool into the retry dir
    val log1 = spark.read.parquet(out)
      .select("n_records", "n_failed").collect()
    assert(log1.map(_.getLong(0)).sum === 9L)
    assert(log1.map(_.getLong(1)).sum === 3L)
    // only *.gz names are spool files (Hadoop's LocalFileSystem also
    // writes .crc sidecars next to the retry copies; the source and
    // the size poll both ignore them)
    val retries = retryDir.listFiles().map(_.getName)
      .filter(_.endsWith(".gz")).sorted
    assert(retries.toSeq === Seq("retry1-r002.gz", "retry1-r005.gz",
      "retry1-r007.gz"))
    // retry drain: its own spool + checkpoint; all 3 succeed
    drain(retryDir, new File(dir, "_cp_retry").getAbsolutePath)
    val log2 = spark.read.parquet(out)
      .select("n_records", "n_failed").collect()
    assert(log2.map(_.getLong(0)).sum === 12L) // 9 + 3 retries
    assert(log2.map(_.getLong(1)).sum === 3L)  // no new failures
    // delivery audit: every record accepted EXACTLY once across both
    // drains, counting a record and its retry generations as one
    val delivered = shipDir.listFiles().filter(_.getName.endsWith(".txt"))
      .flatMap(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").filter(_.nonEmpty))
      .map(n => streaming.BatchTransport.parseRetry(n)._1)
    assert(delivered.length === 9, delivered.mkString(","))
    assert(delivered.distinct.sorted.toSeq ===
      (1 to 9).map(i => f"r$i%03d"), delivered.sorted.mkString(","))
  }
}
