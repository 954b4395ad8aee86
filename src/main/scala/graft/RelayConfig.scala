package graft

/** Library analogue of the reference relay's configuration surface
  * (reference: kinesyslog/init.py:30-170 — CLI/env options). A user of
  * the reference maps each option onto a field here; the ingestion
  * tier ([[graft.sources.SocketIngest]]) consumes the socket-level
  * options (bind address, TLS cert/key), and
  * [[graft.tools.RelayMain]] assembles the whole relay from one of
  * these. Privilege drop (`--user`/`--group`) stays OS-level and has
  * no JVM analogue.
  *
  * Defaults mirror the reference's (`--group-prefix /kinesyslog`,
  * `--tls-port 6514`, flush constants from constant.py).
  */
case class RelayConfig(
    /** Firehose delivery stream (`--stream`). */
    deliveryStream: String = "kinesyslog",
    /** Per-PORT delivery-stream overrides (`--port-stream
      * PORT=NAME`, repeatable): one relay fanning into multiple
      * Firehose streams. The reference ships one stream per process
      * (init.py `--stream`); the port is already the routing key the
      * logGroup composition carries (sink.py:163), so the map rides
      * the existing plumbing. Ports absent from the map use
      * [[deliveryStream]]. */
    portStreams: Map[Int, String] = Map.empty,
    /** LogGroup prefix (`--group-prefix`). */
    groupPrefix: String = "/kinesyslog",
    /** GELF mode instead of syslog (`--gelf`) — selects the message
      * class used in logGroup composition and the parse path. */
    gelf: Boolean = false,
    /** Listener ports (`--udp-port`/`--tcp-port`/`--tls-port`); port 0
      * disables, matching the reference. */
    udpPorts: Seq[Int] = Seq(0),
    tcpPorts: Seq[Int] = Seq(0),
    tlsPorts: Seq[Int] = Seq(6514),
    /** Ports with PROXY protocol enabled (`--proxy-protocol`). */
    proxyProtocolPorts: Seq[Int] = Seq(0),
    /** TLS certificate chain / private key (`--cert`/`--key`; PEM,
      * key PKCS#8 — see [[graft.sources.SocketIngest.tlsContext]]).
      * Required when any tlsPort is active. */
    certFile: Option[String] = None,
    keyFile: Option[String] = None,
    /** Prometheus exposition ports (`--prometheus-port`); 0 disables. */
    prometheusPorts: Seq[Int] = Seq(0),
    /** Bind address (`--address`). */
    address: String = "0.0.0.0",
    /** Spool directory (`--spool-dir`). */
    spoolDir: String = System.getProperty("java.io.tmpdir"),
    /** Sink flush semantics (constant.py:12-17). */
    flushSeconds: Int = Constants.FlushTime,
    maxRecordSize: Int = Constants.MaxRecordSize,
    maxBatchCount: Int = Constants.MaxBatchCount,
    maxBatchSize: Int = Constants.MaxBatchSize) {

  def messageClass: String = if (gelf) "gelf" else "syslog"

  /** logGroup for a destination port:
    * `{prefix}/{message_class}/{port}` (sink.py:163). */
  def logGroup(port: Int): String = s"$groupPrefix/$messageClass/$port"

  def activePorts: Seq[Int] =
    (udpPorts ++ tcpPorts ++ tlsPorts).filter(_ != 0).distinct

  /** Delivery stream for a spool record's logGroup: the group's last
    * segment is the destination port ([[logGroup]]'s own grammar), so
    * routing needs no extra record state. Unparseable groups (foreign
    * spool content) fall back to the default stream. */
  def streamForGroup(group: String): String = {
    val last = group.substring(group.lastIndexOf('/') + 1)
    scala.util.Try(last.toInt).toOption
      .flatMap(portStreams.get).getOrElse(deliveryStream)
  }
}
