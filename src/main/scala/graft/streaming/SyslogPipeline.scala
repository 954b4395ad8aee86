package graft.streaming

import graft.Constants
import graft.functions.BinaryFunctions.decompress_auto
import graft.functions.GelfFunctions.gelf_chunk_parse
import graft.functions.SyslogFunctions._
import graft.operators.Framing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming re-expression of the relay pipeline
  * (SURVEY §2 #20): listener → frame → parse → envelope → sink.
  *
  * The reference is an asyncio socket server: per-connection framing,
  * per-message parse, (source,dest)-keyed buffers flushed at 4 MiB /
  * 60 s into gzip spool records (reference: kinesyslog/server.py,
  * sink.py:120-217). Spark-first mapping:
  *
  *  - listener        → [[parsed]]: a `binaryFile` stream over the
  *                      listener's ingest directory, one row per
  *                      connection file, de-framed by the RFC 6587
  *                      automaton `Framing.syslogFrames` — the same
  *                      read for TCP, TLS and UDP
  *  - parse/envelope  → the SAME codegen'd column functions the batch
  *                      path uses (SyslogFunctions) — one
  *                      implementation, two execution modes
  *  - gzip spool      → the `graft-spool` streaming sink
  *                      ([[spoolDirQuery]]): per (source, dest), build
  *                      the CloudWatch record JSON, gzip it at level 9
  *                      and publish one spool file per record
  *
  * Scale: de-framing and parse are a stateless map; the only stateful
  * operator is GELF-over-UDP chunk reassembly ([[GelfChunkStream]]),
  * whose state the reassembly-window watermark bounds. No driver-side
  * buffering.
  */
object SyslogPipeline {

  /** binaryFile's fixed schema, stated because a streaming source
    * infers none. */
  private val IngestSchema = new StructType()
    .add("path", "string").add("modificationTime", "timestamp")
    .add("length", "long").add("content", "binary")

  /** Ingest files per micro-batch, the same for every listener kind. */
  private val MaxFilesPerTrigger = 16

  /** The one ingest read: every file in `ingestDir` is one
    * connection's bytes (TCP/TLS) or a run of `<len> <datagram>`
    * frames (UDP), and the RFC 6587 automaton de-frames both
    * (octet counting, else LF/NUL/CR terminators). Syslog frames keep
    * the 6144-byte cap; GELF frames are uncapped. With `gelf` and
    * `udp`, each datagram goes through the reference's GELF datagram
    * dispatch (protocol.py:281-300): a chunk (magic 0x1e0f) joins
    * [[GelfChunkStream]]'s cross-micro-batch reassembly, anything
    * else is one document, inflated when zlib/gzip. GELF over TCP has
    * no chunking, so that query stays stateless.
    *
    * A closed connection's last message often has no terminator: a
    * blob whose last byte is not LF/NUL/CR gets one NUL appended, so
    * the automaton frames that tail instead of waiting for more bytes.
    * NUL rather than LF, because the automaton prefers LF to NUL: an
    * appended LF would glue an unterminated NUL-framed tail into one
    * message.
    *
    * `proxy` (reference proxy.wrap + init.py:199-205): the listener
    * peeled each connection's PROXY preamble and put the advertised
    * peer in the file name (`-src-<addr>-`), which here replaces the
    * parsed hostname as the message source (→ logStream, sink.py:163)
    * via a map-side path extract. An untagged file (v2 LOCAL, or a
    * UDP file) falls back to the parsed hostname.
    *
    * Receive time: every line carries its ingest file's
    * `modificationTime` (the listener's last write to it) as
    * `received`, and parse uses it where the reference uses the
    * message's receipt time — the RFC 3164 year inference and the
    * fallback for a missing or unparseable timestamp. A reassembled
    * GELF chunk message carries its first chunk's file time. The time
    * comes from the data, not from the micro-batch clock, so re-reading
    * the same file yields the same timestamps and record ids, and the
    * generated code holds no per-batch literal (a `current_timestamp()`
    * is inlined into the code as a constant, which made every relay
    * pass compile its parse stage again). */
  def parsed(spark: SparkSession, ingestDir: String, gelf: Boolean,
             udp: Boolean = false, proxy: Boolean = false): DataFrame = {
    val content = col("content")
    val closed = when(substring(content, -1, 1).isin(
        Array[Byte](0x0a), Array[Byte](0x00), Array[Byte](0x0d)), content)
      .otherwise(concat(content, lit(Array[Byte](0x00))))
    def frames: DataFrame =
      spark.readStream.format("binaryFile").schema(IngestSchema)
        .option("maxFilesPerTrigger", MaxFilesPerTrigger).load(ingestDir)
        .select(explode(Framing.syslogFrames(closed,
            if (gelf) Int.MaxValue else Constants.MaxMessageLength)).as("datagram"),
          col("modificationTime").as("event_time"), col("path"))
    val lines =
      if (gelf && udp) gelfDatagrams(frames)
      else frames.select(col("datagram").cast("string").as("value"), col("path"),
        col("event_time").as("received"))
    // [^/]+ keeps the capture in the basename: a work dir whose PATH
    // contains "-src-" must never fabricate a tag
    val tag = regexp_extract(col("path"), "-src-([^/]+)-\\d{5}\\.dat$", 1)
    val source = Option.when(proxy)(when(tag =!= "", translate(tag, "_", ":")))
    if (gelf) parseGelfLines(lines, col("received"), source)
    else parseLines(lines, col("received"), source)
  }

  /** GELF datagrams → one JSON document each: chunks reassembled,
    * whole documents inflated when compressed. `frames` is read once
    * per arm: the query has two sources, and a restart from a
    * checkpoint must keep its source count. */
  private def gelfDatagrams(frames: => DataFrame): DataFrame = {
    val isChunk = gelf_chunk_parse(col("datagram")).isNotNull
    val whole = frames.filter(!isChunk)
      .select(decompress_auto(col("datagram")).cast("string").as("value"),
        col("path"), col("event_time").as("received"))
    val assembled = GelfChunkStream.assembleDatagrams(frames.filter(isChunk))
      .toDF().select(col("message").as("value"), lit(null).cast("string").as("path"),
        col("received"))
    whole.unionAll(assembled)
  }

  /** Shared with tests (works on both streaming and batch frames).
    * `sourceOverride`: a Column evaluated against `lines` that, when
    * non-null, REPLACES the parsed hostname as the message source —
    * the PROXY-protocol path (reference proxy.py rewrites peername so
    * the sink's logStream carries the advertised client, sink.py:163);
    * null/absent falls back to the parsed hostname. `received`: the
    * receipt time (a timestamp Column evaluated against `lines`) that
    * infers an RFC 3164 stamp's year and, at whole-second precision,
    * replaces a missing or unparseable timestamp; [[parsed]] passes
    * the ingest file's time. */
  def parseLines(lines: DataFrame, received: org.apache.spark.sql.Column,
                 sourceOverride: Option[org.apache.spark.sql.Column] = None): DataFrame =
    lines
      .withColumn("h", parseHeader(col("value")))
      .withColumn("prio", coalesce(col("h.pri"), lit(Constants.DefaultPri)))
      .withColumn("ts_ms",
        when(col("h.version") === 1, ts5424Millis(col("h.ts_raw")))
          .when(col("h.version") === 0,
            ts3164(col("h.ts_raw"), unix_timestamp(received))
              .getField("parsed_s") * 1000))
      .select(
        col("value").as("message"),
        col("prio"),
        (col("prio") / 8).cast("int").as("facility"),
        (col("prio") % 8).as("severity"),
        coalesce((sourceOverride.toSeq :+ col("h.hostname") :+
          lit("unknown")): _*).as("hostname"),
        col("h.content").as("content"),
        coalesce(col("ts_ms"), unix_timestamp(received) * 1000).as("ts_ms"))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))

  /** Shared with tests (works on both streaming and batch frames).
    * `sourceOverride` and `received` as in [[parseLines]]. */
  def parseGelfLines(lines: DataFrame, received: org.apache.spark.sql.Column,
                     sourceOverride: Option[org.apache.spark.sql.Column] = None): DataFrame =
    lines
      .withColumn("j", org.apache.spark.sql.functions.from_json(
        col("value"), graft.operators.Gelf.GelfSchema))
      .select(
        col("value").as("message"),
        coalesce((sourceOverride.toSeq :+ col("j.host") :+
          lit("unknown")): _*).as("hostname"),
        col("j.short_message").as("content"),
        coalesce(round(col("j.timestamp") * 1000).cast("long"),
          unix_timestamp(received) * 1000).as("ts_ms"))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))

  /** Spool sink: the parsed stream written as REAL spool files
    * through the `graft-spool` streaming sink — one gzip CloudWatch
    * record per file (the spool file body the reference writes at
    * sink.py:211-217), flushed per (log_group, log_stream) whenever
    * the accumulated JSON would breach the record cap
    * (sink.py:167-186). Record shape (logGroup prefix/class/port)
    * comes from [[graft.RelayConfig]]. The directory is the
    * reference's own on-disk format: readable back with
    * `spark.read.format("graft-spool")`, tail-able with `readStream`,
    * closing the relay → spool → drain loop end to end.
    * Record ids are deterministic (md5 of message ⊕ timestamp,
    * left-padded to the reference's 56 digits) — the documented
    * divergence from the reference's random ids. */
  def spoolDirQuery(parsed: DataFrame, spoolDir: String,
                    checkpointDir: String,
                    config: graft.RelayConfig = graft.RelayConfig(),
                    port: Int = 6514,
                    maxRecordBytes: Long = Constants.MaxRecordSize): StreamingQuery =
    parsed.select(
        lit("000000000000").as("owner"),
        lit(config.logGroup(port)).as("log_group"),
        col("hostname").as("log_stream"),
        lit("DATA_MESSAGE").as("message_type"),
        array(lit(config.logGroup(port))).as("subscription_filters"),
        lpad(conv(substring(md5(concat_ws("|", col("message"),
          col("ts_ms"))), 1, 15), 16, 10), 56, "0").as("id"),
        col("message"),
        col("ts_ms").as("timestamp"))
      .writeStream.format("graft-spool")
      .option("checkpointLocation", checkpointDir)
      .option("maxRecordBytes", maxRecordBytes.toString)
      .trigger(Trigger.AvailableNow())
      .start(spoolDir)
}
