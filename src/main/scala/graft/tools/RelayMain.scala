package graft.tools

import java.io.File

import graft.RelayConfig
import graft.sources.SocketIngest
import graft.streaming.{BatchTransport, FilesystemTransport, SpoolDrainStream, SyslogPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one-command relay runner (reference init.py:148-280 `listen` +
  * commands.py CLI): assembles the already-spec-proven components —
  * [[SocketIngest]] listeners, [[SyslogPipeline]] parse + spool,
  * [[SpoolDrainStream]] ship with retry, [[StatsServer]] — into the
  * reference's operational identity from ONE [[RelayConfig]]. Until
  * round 12 only RelayLiveSpec wired this chain by hand; `Relay` is
  * that wiring as a library object, and `main` is the CLI face with
  * the reference's own flag names.
  *
  * Reference → graft mapping, listener by listener (init.py:193-208):
  *  - `--tcp-port`  → [[SocketIngest.TcpIngest]]: the connection's
  *    bytes into the port's ingest dir, de-framed by
  *    [[SyslogPipeline.parsed]] (RFC 6587 octet counting or LF/NUL/CR
  *    terminators; syslog or GELF per `--gelf`)
  *  - `--tls-port`  → the same TcpIngest over an `SSLServerSocket`
  *    built from `--cert`/`--key` (server.py:46-52 SecureServer)
  *  - `--udp-port`  → [[SocketIngest.UdpIngest]]; each datagram is
  *    octet-count framed, recovered by the #11 auto de-framer
  *  - `--proxy-protocol` → the listener peels each connection's
  *    PROXY v1 OR v2 preamble ([[SocketIngest.ProxyPreamble]], which
  *    rides the oracle-verified #13/#14 parse kernels) and the
  *    ADVERTISED peer becomes the message source → logStream, the
  *    reference's actual semantics (proxy.wrap rewrites peername,
  *    proxy.py:118-215; sink.py:163) — not merely header stripping
  *  - `--prometheus-port` → [[StatsServer]] serving live per-stream
  *    counters aggregated FROM THE SPOOL (the reference's StatsSink
  *    counts at the same point: messages that reached the sink)
  *  - spool → drain → Firehose (`--stream`) → the graft-spool sink +
  *    [[SpoolDrainStream.shipQuery]] through a pluggable
  *    [[BatchTransport]]. `main` uses [[FilesystemTransport]] — this
  *    container is zero-egress; a production deployment implements
  *    BatchTransport.ship with the PutRecordBatch call and changes
  *    nothing else.
  *
  * Processing model: the reference flushes its sink every FLUSH_TIME
  * seconds (constant.py); `run()` mirrors that as a drain pass every
  * `flushSeconds` — each pass runs every streaming query with
  * `Trigger.AvailableNow` against the queries' durable checkpoints,
  * which is the same exactly-once incremental semantics as a
  * continuously-running trigger and lets one pass be driven
  * deterministically in tests ([[drainOnce]]).
  */
object RelayMain {

  /** Everything the relay lays on disk, rooted at one work dir (the
    * spool dir itself comes from [[RelayConfig.spoolDir]]). */
  final case class RelayDirs(root: String) {
    val ingestRoot = s"$root/ingest"
    val checkpointRoot = s"$root/checkpoints"
    val shipLogDir = s"$root/shiplog"
    val retryDir = s"$root/retryspool"
    def ingestDir(kind: String, port: Int) = s"$ingestRoot/$kind-$port"
  }

  final class Relay(spark: SparkSession, config: RelayConfig,
                    dirs: RelayDirs, transport: BatchTransport) {

    private val tlsCtx: Option[javax.net.ssl.SSLContext] =
      if (config.tlsPorts.exists(_ != 0)) {
        val cert = config.certFile.getOrElse(
          sys.error("TLS port configured but no certFile (--cert)"))
        val key = config.keyFile.getOrElse(
          sys.error("TLS port configured but no keyFile (--key)"))
        Some(SocketIngest.tlsContext(cert, key))
      } else None

    /** (kind, requestedPort, ingestDir, listener) — TCP and TLS share
      * the TcpIngest byte mover; kind names the ingest dir and the
      * spool checkpoint. */
    val tcpListeners: Seq[(String, Int, String, SocketIngest.TcpIngest)] =
      (config.tcpPorts.filter(_ != 0).map(("tcp", _)) ++
        config.tlsPorts.filter(_ != 0).map(("tls", _))).map {
        case (kind, port) =>
          val d = dirs.ingestDir(kind, port)
          new File(d).mkdirs()
          (kind, port, d, new SocketIngest.TcpIngest(port, d,
            tls = if (kind == "tls") tlsCtx else None,
            address = config.address,
            proxyProtocol = config.proxyProtocolPorts.contains(port)))
      }

    val udpListeners: Seq[(Int, String, SocketIngest.UdpIngest)] =
      config.udpPorts.filter(_ != 0).map { port =>
        val d = dirs.ingestDir("udp", port)
        new File(d).mkdirs()
        (port, d, new SocketIngest.UdpIngest(port, d, address = config.address))
      }

    require(tcpListeners.nonEmpty || udpListeners.nonEmpty,
      "No valid servers configured - you must enable at least one " +
        "UDP, TCP, or TLS port") // init.py:216-218, message included

    private var statsServers: Seq[StatsServer] = Nil

    def start(): Unit = {
      new File(config.spoolDir).mkdirs()
      new File(dirs.retryDir).mkdirs()
      tcpListeners.foreach(_._4.start())
      udpListeners.foreach(_._3.start())
      statsServers = config.prometheusPorts.filter(_ != 0).map { p =>
        val s = new StatsServer(p, () => metricsText())
        s.start()
        s
      }
    }

    /** Live bound ports (ephemeral binds resolve after start). */
    def boundPorts: Map[String, Seq[Int]] =
      (tcpListeners.groupBy(_._1).view.mapValues(_.map(_._4.boundPort)) ++
        Map("udp" -> udpListeners.map(_._3.boundPort))).toMap
    def statsPorts: Seq[Int] = statsServers.map(_.boundPort)

    /** Total listener connection bytes — a shutdown/drain sequence
      * polls this to confirm in-flight traffic landed (the listeners
      * read on their own threads). */
    def bytesIn: Long = tcpListeners.map(_._4.bytesIn).sum
    def datagramsIn: Long = udpListeners.map(_._3.received).sum

    /** One flush pass: every listener's ingest dir → parse → spool
      * files, then spool → pack → ship (+ one retry generation), all
      * incremental against durable checkpoints. Returns the drain-log
      * directory for inspection. */
    def drainOnce(): String = {
      // local binding: `config.streamForGroup` eta-expanded inside a
      // task closure would capture `this.config`, dragging the whole
      // (non-serializable) Relay into the ship task — the local pins
      // the closure to the serializable RelayConfig alone
      val routing = config
      val streamFor: String => String = routing.streamForGroup
      // start EVERY port's spool query before awaiting any: the
      // queries are independent (distinct checkpoints, task-unique
      // spool file names), so a multi-port relay drains its ports
      // concurrently instead of serializing AvailableNow passes
      val spoolQs =
        (tcpListeners.map { case (kind, port, dir, l) =>
          (kind, port, dir, l.boundPort)
        } ++ udpListeners.map { case (port, dir, l) =>
          ("udp", port, dir, l.boundPort)
        }).map { case (kind, port, dir, bound) =>
          SyslogPipeline.spoolDirQuery(
            SyslogPipeline.parsed(spark, dir, config.gelf, udp = kind == "udp",
                proxy = config.proxyProtocolPorts.contains(port))
              .repartition(col("hostname")),
            config.spoolDir,
            s"${dirs.checkpointRoot}/spool-$kind-$port",
            config, port = bound,
            maxRecordBytes = config.maxRecordSize.toLong)
        }.toList
      spoolQs.foreach(q => require(q.awaitTermination(300000),
        "spool query did not finish its AvailableNow pass"))
      val ship = SpoolDrainStream.shipQuery(
        spark, config.spoolDir, s"${dirs.checkpointRoot}/ship",
        dirs.shipLogDir, transport, dirs.retryDir,
        maxCount = config.maxBatchCount,
        maxSize = config.maxBatchSize.toLong,
        streamFor = streamFor)
      require(ship.awaitTermination(300000),
        "ship query did not finish its AvailableNow pass")
      // one retry generation per pass: re-pack + re-ship records the
      // transport failed; gen-major names keep the retry spool
      // name-ordered across generations (#53)
      val retry = SpoolDrainStream.shipQuery(
        spark, dirs.retryDir, s"${dirs.checkpointRoot}/retry",
        dirs.shipLogDir, transport, dirs.retryDir,
        maxCount = config.maxBatchCount,
        maxSize = config.maxBatchSize.toLong,
        streamFor = streamFor)
      require(retry.awaitTermination(300000),
        "retry query did not finish its AvailableNow pass")
      dirs.shipLogDir
    }

    /** Listener-level health gauges (VERDICT r13 #6): per-port bytes
      * in and PROXY preamble rejections, straight from the listeners'
      * own atomics — no Spark job, so these stay live even while a
      * drain pass is running. The reference's prometheus.py serves
      * sink-side counters only; a live relay also needs the front
      * door observable (rejected preambles are otherwise just stderr
      * lines). */
    def listenerMetricsText(): String = {
      val tcp = tcpListeners.flatMap { case (kind, _, _, l) =>
        val port = l.boundPort
        Seq(
          s"""kinesyslog_listener_bytes_total{kind="$kind",port="$port"} ${l.bytesIn}""",
          s"""kinesyslog_listener_proxy_errors_total{kind="$kind",port="$port"} ${l.proxyErrors}""")
      }
      val udp = udpListeners.map { case (_, _, l) =>
        s"""kinesyslog_listener_datagrams_total{port="${l.boundPort}"} ${l.received}"""
      }
      (tcp ++ udp).mkString("\n")
    }

    /** Prometheus exposition over the live spool: per-(group, stream)
      * message counts/bytes — the reference's StatsSink counts at the
      * same point (messages that reached the sink) — prefixed with the
      * listener gauges so one scrape sees both the front door and the
      * sink. */
    def metricsText(): String = {
      val spooled = spark.read.format("graft-spool").load(config.spoolDir)
      // stream label = the group's resolved delivery stream: a
      // multi-stream relay's per-stream counters separate on the
      // same rule the drain routes by (driver-side map over the
      // already-collapsed group rows — no UDF in a Spark plan)
      val sink = spooled
        .groupBy("log_group", "log_stream")
        .agg(count(lit(1)).as("n"),
          sum(length(col("message")).cast("long")).as("b"))
        .orderBy("log_group", "log_stream")
        .collect().map { r =>
          val (g, s) = (r.getString(0), r.getString(1))
          val stream = config.streamForGroup(g)
          s"""kinesyslog_message_count_total{group="$g",source="$s",stream="$stream"} ${r.getLong(2)}""" +
            "\n" +
            s"""kinesyslog_message_bytes_total{group="$g",source="$s",stream="$stream"} ${r.getLong(3)}"""
        }.mkString("\n")
      val listeners = listenerMetricsText()
      if (listeners.isEmpty) sink else listeners + "\n" + sink
    }

    def stop(): Unit = {
      tcpListeners.foreach(_._4.stop())
      udpListeners.foreach(_._3.stop())
      statsServers.foreach(_.stop())
    }

    /** Foreground loop: a drain pass every flushSeconds, forever —
      * the reference's run_until_complete + FLUSH_TIME timer. */
    def run(): Nothing = {
      sys.addShutdownHook(stop())
      while (true) {
        drainOnce()
        Thread.sleep(config.flushSeconds * 1000L)
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Transport resolution from CLI flags + environment — the
    * init.py:57-68 twin (`--endpoint`/`--region`/`--profile` →
    * boto3 client). `--endpoint` wins; `--region` alone derives the
    * public Firehose endpoint through
    * [[graft.streaming.AwsConfig.firehoseEndpoint]] (honoring the
    * AWS_ENDPOINT_URL[_FIREHOSE] overrides), and credentials resolve
    * through the standard chain (explicit `--profile` → shared file;
    * else env vars, then the file's [default]). Factored over an
    * injected env map so the spec drives the full chain — temp
    * credentials file, NO explicit endpoint — without touching
    * process env. */
  private[graft] def resolveTransport(opts: Map[String, List[String]],
      env: Map[String, String], spoolDirs: Seq[String],
      deliveredDir: String): BatchTransport = {
    val region = opts.get("region").map(_.head)
    val profile = opts.get("profile").map(_.head)
    // a profile without a region would silently skip SigV4 (signing
    // needs a region scope) and ship unsigned — the one thing a user
    // who explicitly picked credentials cannot mean; fail loudly
    // instead (an --endpoint WITHOUT --profile/--region is still the
    // documented unsigned stub path)
    if (profile.isDefined && region.isEmpty)
      sys.error("--profile requires --region: SigV4 signing is scoped " +
        "to a region, so credentials without one cannot be used")
    val endpoint = opts.get("endpoint").map(_.head)
      .orElse(region.map(r =>
        graft.streaming.AwsConfig.firehoseEndpoint(r, env)))
    endpoint match {
      case Some(url) =>
        val signing = region.map { r =>
          val creds = graft.streaming.AwsConfig
            .resolveCredentials(env, profile)
            .fold(msg => sys.error(s"--region set but $msg"), identity)
          (creds, r)
        }
        new graft.streaming.HttpTransport(url, spoolDirs, signing = signing)
      case None => new FilesystemTransport(deliveredDir)
    }
  }

  /** CLI with the reference's flag names (init.py option decorators;
    * repeatable flags repeat here too). `--delivered-dir` replaces
    * the implicit Firehose endpoint: the zero-egress analogue of
    * `--stream`'s delivery destination.
    *
    *   sbt "runMain graft.tools.RelayMain --stream mylogs
    *     --spool-dir /var/spool/graft --tcp-port 6601
    *     --tls-port 6514 --cert server.pem --key server.key
    *     --prometheus-port 9100 --work-dir /var/lib/graft
    *     --delivered-dir /var/lib/graft/delivered"
    */
  /** Every option the CLI accepts; also the set of KINESYSLOG_* env
    * fallbacks. The reference declares `envvar=KINESYSLOG_<OPTION>` on
    * every click option (init.py:30-145) and its packaged systemd unit
    * configures the daemon through exactly those variables, so a flag
    * that can't come from env is a deployment seam. Flags without a
    * value (`--gelf`) follow click's BOOL envvar conversion. */
  private val OptionNames = Seq(
    "stream", "group-prefix", "gelf", "udp-port", "tcp-port", "tls-port",
    "proxy-protocol", "prometheus-port", "address", "cert", "key",
    "spool-dir", "region", "profile", "endpoint", "work-dir",
    "delivered-dir", "port-stream")
  /** multiple=True in the reference — ONLY these split their env value
    * on whitespace (click passes nargs=1 env values through raw, so a
    * spool path with a space must survive intact). */
  private val RepeatableNames = Set("udp-port", "tcp-port", "tls-port",
    "proxy-protocol", "prometheus-port", "port-stream")
  private val FlagNames = Set("gelf")
  private val EnvTrue = Set("1", "true", "t", "yes", "y", "on")
  private val EnvFalse = Set("0", "false", "f", "no", "n", "off")

  /** CLI flags win; otherwise KINESYSLOG_<NAME> fills in (repeatable
    * options split on whitespace, click's multiple=True envvar rule;
    * an unrecognizable flag value is a startup error like click's
    * BadParameter, never a silent false). */
  private[graft] def withEnvDefaults(cli: Map[String, List[String]],
      env: Map[String, String]): Map[String, List[String]] =
    OptionNames.foldLeft(cli) { (acc, name) =>
      // Locale.ROOT: a tr/az default locale would dot the capital I in
      // SPOOL_DIR/REGION/... and silently miss the real env var
      val key = "KINESYSLOG_" +
        name.toUpperCase(java.util.Locale.ROOT).replace('-', '_')
      if (acc.contains(name)) acc
      else env.get(key).map(_.trim).filter(_.nonEmpty) match {
        case Some(v) if FlagNames(name) =>
          val lv = v.toLowerCase(java.util.Locale.ROOT)
          if (EnvTrue(lv)) acc.updated(name, List("true"))
          else if (EnvFalse(lv)) acc
          else sys.error(s"$key: '$v' is not a boolean " +
            s"(accepted: ${(EnvTrue ++ EnvFalse).toSeq.sorted.mkString("/")})")
        case Some(v) if RepeatableNames(name) =>
          acc.updated(name, v.split("\\s+").toList)
        case Some(v) => acc.updated(name, List(v))
        case None => acc
      }
    }

  def main(args: Array[String]): Unit = {
    def parse(a: List[String], acc: Map[String, List[String]]): Map[String, List[String]] =
      a match {
        case Nil => acc
        case "--gelf" :: rest =>
          parse(rest, acc.updated("gelf", List("true")))
        case flag :: value :: rest if flag.startsWith("--") =>
          parse(rest, acc.updated(flag.drop(2),
            acc.getOrElse(flag.drop(2), Nil) :+ value))
        case other :: _ =>
          sys.error(s"unparseable argument '$other' (flags are --name value)")
      }
    val opts = withEnvDefaults(parse(args.toList, Map.empty), sys.env)
    def ports(name: String, default: Seq[Int]): Seq[Int] =
      opts.get(name).map(_.map(_.toInt)).getOrElse(default)
    val workDir = opts.get("work-dir").map(_.head)
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-relay")
    // `--port-stream 6601=audit` (repeatable): route a port's records
    // to a different Firehose stream than `--stream`'s default
    val portStreams = opts.getOrElse("port-stream", Nil).map { kv =>
      kv.split("=", 2) match {
        // toInt via Try, not forall(isDigit): an empty port string is
        // vacuously all-digits and an over-Int port would throw past
        // the usage error; the 1-65535 range check catches the typo'd
        // port that no listener could ever bind (which would silently
        // route everything to the default stream)
        case Array(p, name) if name.nonEmpty &&
            scala.util.Try(p.toInt).toOption
              .exists(v => v > 0 && v <= 65535) =>
          p.toInt -> name
        case _ => sys.error(s"--port-stream wants PORT=STREAM, got '$kv'")
      }
    }.toMap
    val config = RelayConfig(
      deliveryStream = opts.get("stream").map(_.head).getOrElse("kinesyslog"),
      portStreams = portStreams,
      groupPrefix = opts.get("group-prefix").map(_.head).getOrElse("/kinesyslog"),
      gelf = opts.contains("gelf"),
      udpPorts = ports("udp-port", Seq(0)),
      tcpPorts = ports("tcp-port", Seq(0)),
      tlsPorts = ports("tls-port", Seq(6514)),
      proxyProtocolPorts = ports("proxy-protocol", Seq(0)),
      certFile = opts.get("cert").map(_.head),
      keyFile = opts.get("key").map(_.head),
      prometheusPorts = ports("prometheus-port", Seq(0)),
      address = opts.get("address").map(_.head).getOrElse("0.0.0.0"),
      spoolDir = opts.get("spool-dir").map(_.head)
        .getOrElse(System.getProperty("java.io.tmpdir")))
    val spark = graft.GraftSession.create()
    val dirs = RelayDirs(workDir)
    // `--endpoint`/`--region`/`--profile` = the reference's boto3
    // client selection (init.py:57-68): ship real PutRecordBatch JSON
    // over HTTP ([[graft.streaming.HttpTransport]]); without any of
    // them, delivery is the filesystem manifest under --delivered-dir
    val transport: BatchTransport = resolveTransport(opts, sys.env,
      Seq(config.spoolDir, dirs.retryDir),
      opts.get("delivered-dir").map(_.head).getOrElse(s"$workDir/delivered"))
    val relay = new Relay(spark, config, dirs, transport)
    relay.start()
    println(s"[relay] listening: ${relay.boundPorts}, stats: ${relay.statsPorts}")
    relay.run()
  }
}
