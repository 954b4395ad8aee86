package graft

import java.io.File
import java.net.ServerSocket
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources._
import graft.streaming.{BatchTransport, ShipRecord, SpoolDrainStream}

object SpoolManifestSpec {
  /** (dest, batch id, part ids) of every ship() call, in call order. */
  val shipped = new ConcurrentLinkedQueue[(String, Long, Seq[String])]()

  class RecordingTransport extends BatchTransport {
    override def ship(dest: String, batchId: Long, attempt: String,
                      records: Seq[ShipRecord]): Seq[Boolean] = {
      shipped.add((dest, batchId, records.map(_.partId)))
      records.map(_ => true)
    }
  }

  /** One event: (log group, log stream, id, message, timestamp). */
  type Ev = (String, String, String, Option[String], Option[Long])
}

/** Spool manifests: the streaming spool sink's per-writer epoch
  * manifests, the `graft-spool-files` table the ship query reads, and
  * the driver-side facts the stats scrape sums. */
class SpoolManifestSpec extends SparkSpec {
  import SpoolManifestSpec._

  private val writeSchema = new StructType()
    .add("owner", "string").add("log_group", "string")
    .add("log_stream", "string").add("message_type", "string")
    .add("id", "string").add("message", "string").add("timestamp", "long")

  private def freshDir(name: String): File = {
    val d = new File(sys.props("java.io.tmpdir"),
      s"graft-manifest-$name-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d
  }

  private def fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())

  /** Spool `epochs` through the streaming sink, one micro-batch each. */
  private def spoolEpochs(dir: File, epochs: Seq[Seq[Ev]], cap: Long = 420L): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = input.toDF().toDF("log_group", "log_stream", "id", "message", "timestamp")
      .withColumn("owner", lit("000000000000"))
      .withColumn("message_type", lit("DATA_MESSAGE"))
      .repartition(2, col("log_stream"))
      .writeStream.format("graft-spool")
      .option("checkpointLocation", new File(dir.getParentFile,
        dir.getName + "_cp").getAbsolutePath)
      .option("maxRecordBytes", cap.toString)
      .start(dir.getAbsolutePath)
    try epochs.foreach { evs => input.addData(evs); q.processAllAvailable() }
    finally q.stop()
  }

  private val events: Seq[Seq[Ev]] = Seq(
    (1 to 12).map(i => ("/g/514", s"s${i % 2}", f"$i%03d",
      Some(s"message $i " + "x" * (i * 7)), Some(1000L - i))) ++ Seq(
      ("/g/514", "s0", "100", None, Some(5L)),
      ("/g/601", "s2", "101", Some("astral 😀 𝄞 ok"), None)),
    (13 to 20).map(i => ("/g/601", s"s${i % 3}", f"$i%03d",
      Some("é" * i + "\"\\\n"), Some(2000L + i))))

  /** Epoch `epochId` of query `writer`: one task's files, committed. */
  private def commitEpoch(dir: File, epochId: Long, writer: String, taskId: Long,
                          evs: Seq[Ev]): Unit = {
    val conf = SerializableHadoopConf.fromSession()
    val w = new SpoolStreamingWriterFactory(dir.getAbsolutePath, writeSchema, 1000L, conf)
      .createWriter(0, taskId, epochId)
    def u(s: String) = UTF8String.fromString(s)
    evs.foreach { case (g, s, id, m, ts) =>
      w.write(InternalRow(u("o"), u(g), u(s), u("DATA_MESSAGE"), u(id),
        m.map(u).orNull, ts.map(Long.box).orNull))
    }
    new SpoolWrite(dir.getAbsolutePath, writeSchema, 1000L, conf, writer)
      .commit(epochId, Array(w.commit()))
  }

  private def listing(dir: File) = SpoolListing.of(fs, new Path(dir.getAbsolutePath))

  private def readBack(dir: File): Map[String, SpoolFileFacts] =
    listing(dir).data.map(s => s.getPath.getName ->
      SpoolFiles.factsOf(fs, s.getPath, s.getLen)).toMap

  /** The old stats scrape: a Spark group-by over every spooled event. */
  private def scanCounters(dir: File): Map[(String, String), (Long, Long)] =
    spark.read.format("graft-spool").load(dir.getAbsolutePath)
      .groupBy("log_group", "log_stream")
      .agg(count(lit(1)), coalesce(sum(length(col("message")).cast("long")), lit(0L)))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  test("manifest rows equal the facts read back from their files; every file listed once") {
    val dir = freshDir("rows")
    spoolEpochs(dir, events)
    val l = listing(dir)
    val rows = l.manifests.flatMap(m => SpoolManifest.read(fs, m.getPath))
    val files = readBack(dir)
    // several files per stream under the small record cap
    assert(files.values.groupBy(f => (f.logGroup, f.logStream)).values
      .exists(_.size > 2), files.keys.toSeq.sorted.mkString(","))
    assert(rows.map(_.file).sorted === files.keys.toSeq.sorted) // each once
    rows.foreach(r => assert(r === files(r.file)))
    // one manifest per sealed epoch, published under the writer's name
    val manifestEpochs = l.manifests.map(_.getPath.getName).map {
      case SpoolManifest.NameRe(e, _) => e.toLong
    }
    assert(manifestEpochs.sorted === l.sealedEpochs.toSeq.sorted)
    // the null message counts as an event with no characters; the
    // astral code points count once each, as length(message) does
    assert(scanCounters(dir) === rows.groupMapReduce(f => (f.logGroup, f.logStream))(
      f => (f.events, f.chars)) { case ((a, b), (c, d)) => (a + c, b + d) })
  }

  test("two writers committing one epoch number both keep their manifests") {
    val dir = freshDir("twowriters")
    def evs(stream: String): Seq[Ev] =
      (1 to 3).map(i => ("/g/1", stream, s"$stream$i", Some(s"m$i"), Some(i.toLong)))
    commitEpoch(dir, 0L, "queryA", 7L, evs("a"))
    commitEpoch(dir, 0L, "queryB", 8L, evs("b"))
    val l = listing(dir)
    assert(l.manifests.map(_.getPath.getName).sorted ===
      Seq(SpoolManifest.name(0L, "queryA"), SpoolManifest.name(0L, "queryB")))
    assert(l.sealedEpochs === Set(0L))
    val rows = l.manifests.flatMap(m => SpoolManifest.read(fs, m.getPath))
    assert(rows.map(_.logStream).sorted === Seq("a", "b"))
    assert(rows.map(r => r.file -> r).toMap === readBack(dir))
    // the driver-side facts take both writers' rows from their manifests
    assert(new SpoolFactsCache(dir.getAbsolutePath, spark.sessionState.newHadoopConf()).facts()
      .sortBy(_.file) === rows.sortBy(_.file))
  }

  private def freePort(): Int = {
    val s = new ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  test("metricsText counters equal the old spool scan, and a scrape runs no Spark job") {
    val fresh = freshDir("metrics-new")
    spoolEpochs(fresh, events)
    // a spool dir written before manifests existed: empty seals only
    val parent = freshDir("metrics-parent")
    spoolEpochs(parent, events)
    parent.listFiles().filter(_.getName.endsWith(".manifest")).foreach(_.delete())
    assert(listing(parent).manifests.isEmpty && listing(parent).sealedEpochs.nonEmpty)

    val scrapeJobs = new AtomicInteger(0)
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val phase = Option(e.properties).map(_.getProperty("spoolspec.phase")).orNull
        if (phase == "scrape") scrapeJobs.incrementAndGet()
        else if (phase == "fence") fence.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try Seq(fresh, parent).zipWithIndex.foreach { case (dir, k) =>
      val config = RelayConfig(tcpPorts = Seq(freePort()), tlsPorts = Seq(0),
        spoolDir = dir.getAbsolutePath)
      val root = freshDir(s"metrics-root-$k")
      val relay = new tools.RelayMain.Relay(spark, config,
        tools.RelayMain.RelayDirs(root.getAbsolutePath),
        new streaming.FilesystemTransport(new File(root, "delivered").getAbsolutePath))
      relay.start()
      val text = try {
        spark.sparkContext.setLocalProperty("spoolspec.phase", "scrape")
        try { relay.metricsText(); relay.metricsText() }
        finally spark.sparkContext.setLocalProperty("spoolspec.phase", null)
      } finally relay.stop()
      val counters = text.split("\n").toSeq.flatMap { line =>
        val m = "^kinesyslog_message_(count|bytes)_total\\{group=\"([^\"]*)\",source=\"([^\"]*)\",stream=\"[^\"]*\"\\} (\\d+)$".r
        line match {
          case m(kind, g, s, v) => Some(((g, s), kind, v.toLong))
          case _ => None
        }
      }
      val got = counters.groupBy(_._1).view.mapValues { cs =>
        (cs.find(_._2 == "count").get._3, cs.find(_._2 == "bytes").get._3)
      }.toMap
      assert(got === scanCounters(dir), dir.getName)
    } finally {
      spark.sparkContext.setLocalProperty("spoolspec.phase", "fence")
      spark.range(1).count()
      spark.sparkContext.setLocalProperty("spoolspec.phase", null)
      assert(fence.await(30, TimeUnit.SECONDS))
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(scrapeJobs.get === 0)
  }

  test("a ship checkpoint written over the event table resumes: nothing twice, nothing skipped") {
    val dir = freshDir("resume")
    val cp = new File(dir.getParentFile, dir.getName + "_ship").getAbsolutePath
    spoolEpochs(dir, events)
    val before = listing(dir).data.map(_.getPath.getName).toSet
    // the ship query as it read the spool before the files table: the
    // event table under the same checkpoint, one AvailableNow pass
    val seen = new ConcurrentLinkedQueue[String]()
    spark.readStream.format("graft-spool").load(dir.getAbsolutePath)
      .select("log_group", "log_stream", "src_file", "timestamp")
      .writeStream.option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("src_file").distinct().collect()
          .foreach(r => seen.add(new Path(r.getString(0)).getName)); ()
      }.start().awaitTermination(60000)
    assert(seen.asScala.toSet === before)
    val offsets = new File(cp, "offsets").listFiles().filterNot(_.getName.startsWith("."))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(offsets.exists(_.contains("e:1")), offsets.mkString("|"))
    // a later epoch, then the manifest-reading ship query on that checkpoint
    commitEpoch(dir, 2L, "later", 9L, Seq(("/g/514", "s9", "900", Some("late"), Some(9L))))
    val after = listing(dir).data.map(_.getPath.getName).toSet -- before
    assert(after.nonEmpty)
    shipped.clear()
    SpoolDrainStream.shipQuery(spark, dir.getAbsolutePath, cp,
      new File(dir.getParentFile, dir.getName + "_log").getAbsolutePath,
      new RecordingTransport, freshDir("resume-retry").getAbsolutePath)
      .awaitTermination(60000)
    val parts = shipped.asScala.toSeq.flatMap(_._3)
    assert(parts.sorted === after.toSeq.sorted)
  }

  test("delivered batches equal the event-scan drain's, with and without manifests") {
    import SpoolSourceSpec.{record, writeGz}
    val streamed = freshDir("batches-streamed")
    spoolEpochs(streamed, events)
    val plain = freshDir("batches-plain")
    (1 to 9).foreach(i => writeGz(plain, f"r$i%03d.gz", record(s"g/${i % 2}", s"s${i % 4}",
      (1 to i).map(k => (f"$i%03d$k", "m" * (k * 3), (100L * i) - k)))))
    // a record without events ships nothing, as the event scan never saw it
    writeGz(plain, "r010.gz", record("g/0", "s0", Nil))
    Seq(streamed, plain).foreach { dir =>
      val sizes = listing(dir).data.map(s => s.getPath.getName -> s.getLen)
      val maxCount = 3
      val maxSize = sizes.map(_._2).max * 2
      // the drain as it was: group the events by file, join sizes
      import spark.implicits._
      val records = spark.read.format("graft-spool").load(dir.getAbsolutePath)
        .withColumn("fname", element_at(split(col("src_file"), "/"), -1))
        .groupBy("fname")
        .agg(first("log_group").as("dest"), first("log_stream").as("source"),
          min("timestamp").as("first_event"))
        .join(sizes.toDF("fname", "part_bytes"), Seq("fname"))
        .select(col("source"), col("dest"), col("fname").as("part_id"),
          col("part_bytes"), col("first_event"))
      val expected = graft.operators.Envelope.packRecords(records, maxCount, maxSize)
        .groupBy("dest", "batch_id").agg(array_sort(collect_list("part_id")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).toSet
      shipped.clear()
      SpoolDrainStream.shipQuery(spark, dir.getAbsolutePath,
        new File(dir.getParentFile, dir.getName + "_ship").getAbsolutePath,
        new File(dir.getParentFile, dir.getName + "_log").getAbsolutePath,
        new RecordingTransport, freshDir(dir.getName + "-retry").getAbsolutePath,
        maxCount, maxSize).awaitTermination(60000)
      val got = shipped.asScala.toSeq.map { case (d, b, ps) => (d, b, ps.sorted) }
      assert(got.size === expected.size, dir.getName)
      assert(got.toSet === expected, dir.getName)
      assert(expected.size > 2, dir.getName)
    }
  }
}
