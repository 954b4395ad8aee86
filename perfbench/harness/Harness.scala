package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, ServerSocket, URL}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.RelayConfig
import graft.streaming.{BatchTransport, FilesystemTransport, ShipRecord}
import graft.tools.RelayMain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** JVM side of the benchmark: drives the real relay or the composed
  * training pipelines and writes what it saw to `<work>/harness.json`
  * (plus the ship ledger and, when tracing, the span file). The
  * program is only called through its public API; every layer is
  * timed from outside, around those calls.
  *
  *   java -cp <classes>:<spark jars> perfbench.Harness \
  *     workload=relay_burst work=<dir> seconds=10 trace=0 seed=1 \
  *     cpus=4 python=python3 gen=perfbench/gen.py data=<dir> queries=<q,...>
  */
object Harness {

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** One `BatchTransport.ship` call, seen from the outside. */
  final case class Call(startUs: Long, endUs: Long, parts: Seq[String],
                        ok: Seq[Boolean])

  /** Executor-side calls land here (local mode: one JVM). */
  val calls = new ConcurrentLinkedQueue[Call]()

  /** Wraps the program's own FilesystemTransport; records every call. */
  final class LedgerTransport(inner: BatchTransport) extends BatchTransport {
    override def ship(dest: String, batchId: Long, attempt: String,
                      records: Seq[ShipRecord]): Seq[Boolean] = {
      val t0 = nowUs
      val ok = inner.ship(dest, batchId, attempt, records)
      val t1 = nowUs
      calls.add(Call(t0, t1, records.map(_.partId), ok))
      if (tracing) spans.add(Span("ship_call", t0, t1))
      ok
    }
  }

  // ---- spans (trace mode only) ---------------------------------------

  final case class Span(name: String, startUs: Long, endUs: Long,
                        attrs: Map[String, String] = Map.empty)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var tracing = false
  /** The timed part (epoch ms); listener counts skip everything else. */
  @volatile var timedSinceMs = Long.MaxValue
  @volatile var timedUntilMs = Long.MaxValue
  private def timedAt(ms: Long) = ms >= timedSinceMs && ms <= timedUntilMs

  def startTimed(out: mutable.Map[String, Any]): Unit = {
    timedSinceMs = System.currentTimeMillis()
    out("first_op_us") = nowUs
  }

  def stopTimed(out: mutable.Map[String, Any]): Unit = {
    timedUntilMs = System.currentTimeMillis()
    out("end_us") = nowUs
  }

  def timed[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    val t0 = nowUs
    try body
    finally if (tracing) spans.add(Span(name, t0, nowUs, attrs))
  }

  // ---- Spark listeners -------------------------------------------------

  /** Counters per phase tag (the `perfbench.phase` local property of
    * the thread that submitted the job; "" when unset). */
  final class PhaseStats {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var gcMs = 0L
  }

  final class JobListener extends SparkListener {
    val byPhase = mutable.Map.empty[String, PhaseStats]
    private val stagePhase = mutable.Map.empty[Int, String]
    private val jobStart = mutable.Map.empty[Int, (Long, String)]
    private val scrapeExecs = mutable.Set.empty[String]
    var scrapeJobs = 0L
    private def stats(p: String) = byPhase.getOrElseUpdate(p, new PhaseStats)

    override def onJobStart(e: SparkListenerJobStart): Unit = if (timedAt(e.time)) synchronized {
      val phase = Option(e.properties)
        .flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("")
      e.stageIds.foreach(stagePhase(_) = phase)
      stats(phase).jobs += 1
      if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .exists(scrapeExecs.contains)) scrapeJobs += 1
      jobStart(e.jobId) = (e.time, phase)
    }
    /** SQL executions whose call site is the /metrics render. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
          if x.details.contains("metricsText") =>
        synchronized(scrapeExecs += x.executionId.toString)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, phase) =>
        spans.add(Span("job", t0 * 1000, e.time * 1000, Map("phase" -> phase)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && timedAt(e.taskInfo.finishTime)) {
        val s = stats(stagePhase.getOrElse(e.stageId, ""))
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }
    def total: PhaseStats = synchronized {
      val t = new PhaseStats
      byPhase.values.foreach { s =>
        t.jobs += s.jobs; t.tasks += s.tasks; t.runMs += s.runMs
        t.cpuNs += s.cpuNs; t.shuffleBytes += s.shuffleBytes
        t.spillBytes += s.spillBytes; t.gcMs += s.gcMs
      }
      t
    }
  }

  /** Streaming progress: one record per micro-batch, kind assigned by
    * the order drainOnce starts its queries (spool per port, then
    * ship, then retry); onQueryStarted runs synchronously with start. */
  final class ProgressListener(nSpool: Int) extends StreamingQueryListener {
    private val kindOf = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    private val startedInPass = new AtomicLong(0)
    val batches = new ConcurrentLinkedQueue[(String, Map[String, Long], Long, Long)]()
    val failures = new AtomicLong(0)
    def newPass(): Unit = startedInPass.set(0)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val i = startedInPass.getAndIncrement()
      kindOf.put(e.id, if (i < nSpool) "spool" else if (i == nSpool) "ship" else "retry")
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val kind = Option(kindOf.get(p.id)).getOrElse("other")
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      batches.add((kind, d, p.numInputRows, startUs))
      val total = d.getOrElse("triggerExecution", 0L)
      spans.add(Span(s"${kind}_batch", startUs, startUs + total * 1000,
        Map("rows" -> p.numInputRows.toString)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.exception.isDefined) failures.incrementAndGet()
  }

  // ---- process-level gauges ------------------------------------------

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def freePort(): Int = {
    val s = new ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  // ---- JSON output -----------------------------------------------------

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productIterator.toSeq)
    case o => json(o.toString)
  }

  def writeFile(path: String, text: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(text) finally w.close()
  }

  // ---- main ------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val o = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val work = new File(o("work")).getAbsolutePath
    tracing = o.getOrElse("trace", "0") == "1"
    val out = mutable.LinkedHashMap.empty[String, Any]
    val spark = graft.GraftSession.builder(o.getOrElse("cpus", "4"))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobListener
    if (tracing) spark.sparkContext.addSparkListener(jobs)
    try {
      o("workload") match {
        case "relay_burst" | "relay_rotate" | "relay_steady" =>
          new RelayRun(spark, o, work, out).run()
        case "train_pipelines" => new TrainRun(spark, o, work, out).run()
        case w => sys.error(s"unknown workload $w")
      }
      out("peak_rss_mb") = peakRssMb
      if (tracing) {
        val t = jobs.total
        out("spark") = Map("jobs" -> t.jobs, "tasks" -> t.tasks,
          "task_run_s" -> t.runMs / 1000.0, "task_cpu_s" -> t.cpuNs / 1e9,
          "shuffle_bytes" -> t.shuffleBytes, "spill_bytes" -> t.spillBytes,
          "gc_s" -> t.gcMs / 1000.0, "scrape_jobs" -> jobs.scrapeJobs,
          "phases" -> jobs.synchronized(jobs.byPhase.map { case (k, s) =>
            k -> Map("jobs" -> s.jobs, "task_cpu_s" -> s.cpuNs / 1e9,
              "shuffle_bytes" -> s.shuffleBytes)
          }.toMap))
        writeFile(s"$work/spans.json", json(spans.asScala.toSeq.map(s =>
          Map("name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
            "attrs" -> s.attrs))))
      }
      writeFile(s"$work/harness.json", json(out))
    } finally spark.stop()
    // stray non-daemon threads (listener connections) must not keep
    // the process alive
    sys.exit(0)
  }

  // ---- relay workloads -------------------------------------------------

  final class RelayRun(spark: SparkSession, o: Map[String, String], work: String,
                       out: mutable.Map[String, Any]) {
    private val steady = o("workload") == "relay_steady"
    /** relay_burst: 3 bursts of 60k, each connection under 3 MiB, so no
      * ingest file reaches the 4 MiB rotation. relay_rotate: 3 bursts
      * of 120k (~4.8 MB per sender), one connection per sender, so
      * each sender's file rotates once per burst. */
    private val (burstCount, connBytes) =
      if (o("workload") == "relay_rotate") (120000L, 0) else (60000L, 3 << 20)
    private val seconds = o("seconds").toDouble
    private val seed = o("seed")
    private val tcpPort = freePort()
    private val udpPort = if (steady) freePort() else 0
    private val config = RelayConfig(
      deliveryStream = "bench",
      tcpPorts = Seq(tcpPort), udpPorts = Seq(udpPort), tlsPorts = Seq(0),
      prometheusPorts = Seq(freePort()), address = "127.0.0.1",
      spoolDir = s"$work/spool")
    private val dirs = RelayMain.RelayDirs(s"$work/relay")
    private val relay = new RelayMain.Relay(spark, config, dirs,
      new LedgerTransport(new FilesystemTransport(s"$work/relay/delivered")))
    private val progress = new ProgressListener(if (steady) 2 else 1)
    private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val scrapes = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val gens = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    private var expectBytes = 0L
    private var expectDgrams = 0L

    /** Starts the generator as its own process. */
    private def generate(args: String*): Process = {
      val cmd = Seq(o("python"), o("gen")) ++ args ++
        Seq("--seed", seed, "--tcp-port", tcpPort.toString)
      new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    }

    private def finish(p: Process, ledger: String, tag: String): mutable.Map[String, Any] = {
      val text = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val rc = p.waitFor()
      val line = text.linesIterator.find(_.startsWith("GEN ")).getOrElse(
        sys.error(s"generator failed (rc=$rc): $text"))
      val Array(_, msgs, bytes, dgrams) = line.split(" ")
      expectBytes += bytes.toLong
      expectDgrams += dgrams.toLong
      val g = mutable.LinkedHashMap[String, Any]("ledger" -> ledger, "tag" -> tag,
        "msgs" -> msgs.toLong)
      gens += g
      g
    }

    /** Block until the listeners have read every byte the generator
      * reports sent (UDP: until the count stops growing). */
    private def awaitIngest(): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (relay.bytesIn < expectBytes && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      var last = -1L
      while (relay.datagramsIn < expectDgrams && relay.datagramsIn != last &&
          System.currentTimeMillis() < deadline) {
        last = relay.datagramsIn
        Thread.sleep(100)
      }
    }

    private def pass(tag: String): Boolean = {
      progress.newPass()
      val before = calls.size
      val t0 = nowUs
      var failure: String = null
      try timed("pass")(relay.drainOnce())
      catch { case e: Exception => failure = s"${e.getClass.getName}: ${e.getMessage}" }
      val shipped = calls.asScala.drop(before).map(_.parts.size).sum
      passes += Map("tag" -> tag, "start_us" -> t0, "end_us" -> nowUs,
        "records" -> shipped, "failure" -> failure)
      shipped > 0
    }

    /** Passes until one ships nothing (a pass that fails after its
      * ship step still counts what it shipped). */
    private def drain(tag: String, max: Int = 6): Unit = {
      var k = 0
      while (k < max && pass(tag)) k += 1
    }

    private def scrape(tag: String): Unit = {
      val t0 = nowUs
      var code = -1
      try {
        timed("scrape") {
          val c = new URL(s"http://127.0.0.1:${relay.statsPorts.head}/metrics")
            .openConnection().asInstanceOf[HttpURLConnection]
          c.setConnectTimeout(5000); c.setReadTimeout(120000)
          code = c.getResponseCode
          val s = if (code == 200) c.getInputStream else c.getErrorStream
          if (s != null) s.readAllBytes()
          c.disconnect()
        }
      } catch { case _: Exception => () }
      scrapes.add(Map("tag" -> tag, "start_us" -> t0, "end_us" -> nowUs, "code" -> code))
    }

    def run(): Unit = {
      if (tracing) spark.streams.addListener(progress)
      val poller = if (tracing) Some(new IngestPoller(dirs.ingestRoot)) else None
      poller.foreach(_.start())
      relay.start()
      if (steady) {
        // as RelayMain.run(): the first pass starts once the listeners bind
        pass("warmup")
      } else {
        // one small warm-up burst: its first pass compiles. The next
        // pass still runs ~10% slower than the ones after it, which
        // the median over the timed bursts leaves out. It does not
        // rotate: a split warm-up row would match nothing.
        burst("warmup", 9000000000L, 20000L, 3 << 20)
      }
      startTimed(out)
      val cpu0 = cpuNs
      val t0 = System.nanoTime()
      if (steady) runSteady() else runBursts(t0)
      out("timed_cpu_s") = (cpuNs - cpu0) / 1e9
      stopTimed(out)
      out("disk_bytes") = dirBytes(new File(dirs.root)) + dirBytes(new File(config.spoolDir))
      out("spool_files") = Option(new File(config.spoolDir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".gz")).map(_.length()).size
      out("spool_bytes") = Option(new File(config.spoolDir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".gz")).map(_.length()).sum
      out("bytes_in") = relay.bytesIn
      out("datagrams_in") = relay.datagramsIn
      relay.stop()
      poller.foreach { p => p.halt(); out("ingest_files") = p.summary }
      if (tracing) {
        out("batches") = progress.batches.asScala.toSeq.map { case (k, d, rows, s) =>
          Map("kind" -> k, "rows" -> rows, "start_us" -> s, "ms" -> d) }
        out("query_failures") = progress.failures.get
      }
      out("passes") = passes.toSeq
      out("scrapes") = scrapes.asScala.toSeq
      out("generators") = gens.toSeq
      out("spool_dir") = config.spoolDir
      out("retry_dir") = dirs.retryDir
      writeLedger()
    }

    /** At least three bursts, more while `seconds` has not elapsed. */
    private def runBursts(t0: Long): Unit = {
      var k = 0
      while (k < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
        burst(s"burst$k", k * burstCount, burstCount, connBytes)
        k += 1
      }
    }

    /** One burst: send, drain, scrape. */
    private def burst(tag: String, firstSeq: Long, count: Long, maxConnBytes: Int): Unit = {
      val cpu0 = cpuNs
      val ledger = s"$work/gen-$firstSeq.npz"
      val p = generate("burst", "--first-seq", firstSeq.toString,
        "--count", count.toString, "--conns", "4", "--conn-bytes", maxConnBytes.toString,
        "--ledger", ledger)
      val g = finish(p, ledger, tag)
      awaitIngest()
      drain(tag)
      // an unshipped message of this burst is censored here
      g("drained_us") = nowUs
      scrape(tag)
      g("cpu_s") = (cpuNs - cpu0) / 1e9
    }

    private def runSteady(): Unit = {
      val ledger = s"$work/gen-steady.npz"
      val p = generate("steady", "--udp-port", udpPort.toString, "--conns", "2",
        "--tcp-rate", "4000", "--udp-rate", "2000", "--seconds", seconds.toString,
        "--ledger", ledger)
      @volatile var done = false
      val scraper = new Thread(() => {
        while (!done) {
          scrape("steady")
          val next = System.currentTimeMillis() + 2000
          while (!done && System.currentTimeMillis() < next) Thread.sleep(20)
        }
      }, "perfbench-scraper")
      scraper.start()
      // passes back to back while the generator runs; a failed pass is
      // counted, not fatal
      while (p.isAlive) pass("steady")
      val g = finish(p, ledger, "steady")
      awaitIngest()
      // connections are closed: every ingest file is published
      drain("final", max = 4)
      g("drained_us") = nowUs
      done = true
      scraper.join()
    }

    private def writeLedger(): Unit = {
      val w = new PrintWriter(s"$work/ship-ledger.tsv", "UTF-8")
      try calls.asScala.foreach { c =>
        w.println(s"${c.startUs}\t${c.endUs}\t" +
          c.parts.zip(c.ok).map { case (p, ok) => s"$p:${if (ok) 1 else 0}" }.mkString(","))
      } finally w.close()
    }
  }

  /** Polls the ingest dirs: when each file appeared as a temp file,
    * how its size grew, and when it was published (renamed .dat). */
  final class IngestPoller(root: String) extends Thread("perfbench-ingest-poller") {
    @volatile private var running = true
    private val growth = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    private val published = mutable.Map.empty[String, Long]
    setDaemon(true)
    override def run(): Unit = while (running) {
      val t = nowUs
      Option(new File(root).listFiles()).toSeq.flatten.foreach { d =>
        Option(d.listFiles()).toSeq.flatten.foreach { f =>
          val n = f.getName
          if (n.endsWith(".tmp")) {
            val key = s"${d.getName}/${n.stripPrefix(".").stripSuffix(".tmp")}"
            growth.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ((t, f.length()))
          } else if (n.endsWith(".dat")) {
            val key = s"${d.getName}/${n.stripSuffix(".dat")}"
            if (!published.contains(key)) {
              published(key) = t
              growth.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ((t, f.length()))
            }
          }
        }
      }
      Thread.sleep(20)
    }
    def halt(): Unit = { running = false; join() }
    def summary: Seq[Map[String, Any]] = published.toSeq.map { case (k, t) =>
      Map("file" -> k, "published_us" -> t,
        "growth" -> growth.getOrElse(k, Nil).map { case (a, b) => Seq(a, b) })
    }
  }

  // ---- training pipelines ---------------------------------------------

  /** Order-independent digest: sum and xor of per-row hashes of a
    * canonical rendering (doubles to 9 significant digits, so float
    * noise from summation order cannot flip a digest). */
  def digest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case x => x.toString
    }
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val c = canon(r)
      val h = scala.util.hashing.MurmurHash3.stringHash(c).toLong
      val h2 = scala.util.hashing.MurmurHash3.stringHash(c, 0x5bd1e995).toLong
      val v = (h << 32) ^ (h2 & 0xffffffffL)
      sum += v
      xor ^= v
    }
    f"$sum%016x$xor%016x"
  }

  final class TrainRun(spark: SparkSession, o: Map[String, String], work: String,
                       out: mutable.Map[String, Any]) {
    private val dir = o("data")
    private val queries = o("queries").split(",").toSeq
    private val seconds = o("seconds").toDouble
    private val sc = spark.sparkContext

    private def phase[T](q: String, p: String)(body: => T): (T, Double) = {
      sc.setLocalProperty("perfbench.phase", s"$q/$p")
      val t0 = System.nanoTime()
      val r = timed(p, Map("query" -> q))(body)
      sc.setLocalProperty("perfbench.phase", null)
      (r, (System.nanoTime() - t0) / 1e9)
    }

    /** One query execution: build, plan, noop write; all timed.
      * Returns the record and the built frame (None if it threw). */
    private def execute(q: String): (Map[String, Any], Option[DataFrame]) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = nowUs
      try {
        timed("query", Map("query" -> q)) {
          val (df, build) = phase(q, "build")(graft.SparkEntry.queries(q)(spark, dir))
          val (_, plan) = phase(q, "plan")(df.queryExecution.executedPlan)
          val (_, exec) = phase(q, "exec")(
            df.write.format("noop").mode("overwrite").save())
          (Map("query" -> q, "start_us" -> t0, "end_us" -> nowUs, "build_s" -> build,
            "plan_s" -> plan, "exec_s" -> exec, "error" -> null), Some(df))
        }
      } catch {
        case e: Exception =>
          (Map("query" -> q, "start_us" -> t0, "end_us" -> nowUs,
            "error" -> s"${e.getClass.getName}: ${e.getMessage}"), None)
      }
    }

    /** The timed passes start cold: a pipeline run as a batch job pays
      * JIT and code generation on every run, so no warm-up pass runs
      * first. Each query of the first pass is then collected (untimed)
      * for its output digest. */
    def run(): Unit = {
      val rng = new scala.util.Random(o("seed").toLong)
      startTimed(out)
      val cpu0 = cpuNs
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[Seq[(Map[String, Any], Option[DataFrame])]]
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        val order = rng.shuffle(queries)
        passes += timed("pass")(order.map(execute))
      }
      out("timed_cpu_s") = (cpuNs - cpu0) / 1e9
      stopTimed(out)
      out("digests") = passes.head.map { case (rec, df) =>
        rec("query") -> df.map { d =>
          try {
            val rows = d.collect()
            Map("rows" -> rows.length, "digest" -> digest(rows))
          } catch { case e: Exception => Map("error" -> e.toString) }
        }.getOrElse(Map("error" -> rec("error")))
      }.toMap
      out("passes") = passes.toSeq.map(_.map(_._1))
    }
  }
}
