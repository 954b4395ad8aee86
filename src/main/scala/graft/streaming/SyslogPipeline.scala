package graft.streaming

import graft.Constants
import graft.functions.SyslogFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming re-expression of the relay pipeline
  * (SURVEY §2 #20): listener → frame → parse → envelope → sink.
  *
  * The reference is an asyncio socket server: per-connection framing,
  * per-message parse, (source,dest)-keyed buffers flushed at 4 MiB /
  * 60 s into gzip spool records (reference: kinesyslog/server.py,
  * sink.py:120-217). Spark-first mapping:
  *
  *  - listener        → `readStream` file/socket source (one line per
  *                      framed message; framing of raw byte streams is
  *                      the batch operator `Framing.syslogFrames`)
  *  - parse/envelope  → the SAME codegen'd column functions the batch
  *                      path uses (SyslogFunctions) — one
  *                      implementation, two execution modes
  *  - FLUSH_TIME 60 s → 60-second event-time tumbling window with a
  *                      2-minute watermark (late messages join their
  *                      window until the watermark passes; the relay's
  *                      timer flush becomes watermark-driven emission)
  *  - gzip spool      → the `graft-spool` streaming sink
  *                      ([[spoolDirQuery]]): per (source, dest), build
  *                      the CloudWatch record JSON, gzip it at level 9
  *                      and publish one spool file per record
  *
  * Scale: stateless map for parse; the only stateful operator is the
  * windowed aggregation, keyed (window, hostname) — state size is
  * bounded by watermark horizon × key cardinality, and Spark evicts
  * state past the watermark. No driver-side buffering.
  */
object SyslogPipeline {

  /** File-based listener: every file is a connection's framed output,
    * one message per line. */
  def parsedStream(spark: SparkSession, inputDir: String): DataFrame = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", 16)
      .text(inputDir)
    parseLines(lines)
  }

  /** Shared with tests (works on both streaming and batch frames).
    * `sourceOverride`: a Column evaluated against `lines` that, when
    * non-null, REPLACES the parsed hostname as the message source —
    * the PROXY-protocol path (reference proxy.py rewrites peername so
    * the sink's logStream carries the advertised client, sink.py:163);
    * null/absent falls back to the parsed hostname. */
  def parseLines(lines: DataFrame,
                 sourceOverride: Option[org.apache.spark.sql.Column] = None): DataFrame =
    lines
      .withColumn("h", parseHeader(col("value")))
      .withColumn("prio", coalesce(col("h.pri"), lit(Constants.DefaultPri)))
      .withColumn("ts_ms",
        when(col("h.version") === 1, ts5424Millis(col("h.ts_raw")))
          .when(col("h.version") === 0,
            ts3164(col("h.ts_raw"), unix_timestamp(current_timestamp()))
              .getField("parsed_s") * 1000))
      .select(
        col("value").as("message"),
        col("prio"),
        (col("prio") / 8).cast("int").as("facility"),
        (col("prio") % 8).as("severity"),
        coalesce((sourceOverride.toSeq :+ col("h.hostname") :+
          lit("unknown")): _*).as("hostname"),
        col("h.content").as("content"),
        coalesce(col("ts_ms"),
          (unix_timestamp(current_timestamp()) * 1000)).as("ts_ms"))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))

  /** GELF listener: newline-framed GELF JSON datagrams (the
    * reference's TCP GELF framing after decompression,
    * protocol.py:246-261); parse + the reference's timestamp fallback
    * chain, projected to the same (message, hostname, ts_ms,
    * event_time) shape the sinks consume — one sink implementation
    * serves both message classes, exactly as the reference's
    * MessageSink does. */
  def parsedGelfStream(spark: SparkSession, inputDir: String): DataFrame = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", 16)
      .text(inputDir)
    parseGelfLines(lines)
  }

  /** Chunked-GELF listener: binary chunk datagrams (12-byte headers)
    * reassembled ACROSS micro-batches by [[GelfChunkStream]] keyed
    * state, then parsed into the same shared sink shape — so a
    * message whose chunks land in different micro-batches is no
    * longer dropped (reference accumulates chunks across datagrams,
    * protocol.py:289-300). Input: parquet stream of (datagram binary,
    * event_time timestamp). */
  def parsedChunkedGelfStream(spark: SparkSession, inputDir: String,
                              maxFilesPerTrigger: Int = 16): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("datagram", org.apache.spark.sql.types.BinaryType)
      .add("event_time", org.apache.spark.sql.types.TimestampType)
    val dgrams = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    val assembled = GelfChunkStream.assembleDatagrams(dgrams)
    parseGelfLines(assembled.toDF().select(col("message").as("value")))
  }

  /** Shared with tests (works on both streaming and batch frames).
    * `sourceOverride` as in [[parseLines]]. */
  def parseGelfLines(lines: DataFrame,
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
          unix_timestamp(current_timestamp()) * 1000).as("ts_ms"))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))

  /** FLUSH_TIME-shaped windowed aggregation with watermark; the
    * window length follows RelayConfig.flushSeconds. */
  def windowedCounts(parsed: DataFrame,
                     flushSeconds: Int = graft.Constants.FlushTime): DataFrame =
    parsed
      .withWatermark("event_time", s"${2 * flushSeconds} seconds")
      .groupBy(
        window(col("event_time"), s"$flushSeconds seconds"),
        col("hostname"))
      .agg(
        count(lit(1)).as("n_messages"),
        sum(length(col("message")).cast("long")).as("n_bytes"))
      .select(
        col("window.start").cast("long").as("window_start_s"),
        col("hostname"), col("n_messages"), col("n_bytes"))

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

  /** Windowed-count sink for tests/metrics (in-memory table). */
  def countsQuery(parsed: DataFrame, tableName: String): StreamingQuery =
    windowedCounts(parsed).writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
}
