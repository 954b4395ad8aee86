package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DataSourceV2 writer for the spool directory format — the SINK
  * direction of `graft-spool`:
  *
  *   df.write.format("graft-spool").mode("append").save(dir)
  *
  * Input schema is the event-level view (the same columns the reader
  * emits, minus `src_file`): (owner, log_group, log_stream,
  * message_type, subscription_filters?, id, message, timestamp).
  * Each writer task re-implements the reference sink's flush rule
  * (sink.py:148-217): events buffer per (log_group, log_stream)
  * header and a CloudWatch record file is flushed whenever the
  * accumulated UTF-8 JSON — record envelope included — would exceed
  * the record cap (`maxRecordBytes` option, default the Firehose
  * per-record limit MAX_RECORD_SIZE = 1,024,000, reference
  * constant.py) — so no spool file ever outgrows the Firehose record
  * limit, no matter how hot a stream is.
  *
  * Scale: writers are per-task (no driver funnel); a task's state is
  * bounded by (#headers in its partition × record cap). Partition the
  * frame by (log_group, log_stream) upstream to get one writer per
  * stream and per-stream file locality. Files are written to a
  * dot-prefixed temp name and RENAMED into their final task-unique
  * name (`part-{pid}-{tid}-{seq}.gz`) on close, so a concurrently
  * tailing drain never lists a partial gzip; speculative duplicates
  * cannot collide; abort() removes the task's published files (an
  * unrenamed temp from a hard crash is invisible to readers — the
  * listing filters on the `.gz` suffix).
  *
  * Each task counts what it flushes and returns every file's facts
  * (log group and stream, events, message characters, first event,
  * gzip bytes: [[SpoolFileFacts]]) in its commit message. The
  * streaming commit publishes them as the epoch's manifest, so nothing
  * downstream re-reads a file to learn them; a batch write publishes
  * none, and its files are read for their facts
  * ([[SpoolFiles.factsOf]]).
  */
class SpoolWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder {
  override def build(): Write = new SpoolWrite(path, info.schema(),
    Option(info.options.get("maxRecordBytes")).map(_.toLong)
      .getOrElse(graft.Constants.MaxRecordSize.toLong),
    SerializableHadoopConf.fromSession(), info.queryId())
}

/** `writer` names this write's epoch manifests ([[SpoolManifest]]): the
  * streaming query's id, which survives restarts from its checkpoint. */
class SpoolWrite(path: String, schema: StructType, maxRecordBytes: Long,
                 conf: SerializableHadoopConf,
                 writer: String = java.util.UUID.randomUUID().toString)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  SpoolWrite.requireWritable(schema)
  /** Max epoch seal known present in the dir; None until the first
    * streaming commit lists the directory (see commit's Scaladoc).
    * Driver-only state — StreamingWrite commits run serially there. */
  private var sealHighWater: Option[Long] = None
  // both parent traits default this; re-state to disambiguate
  override def useCommitCoordinator(): Boolean = true
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SpoolWriterFactory(path, schema, maxRecordBytes, conf)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()

  /** Streaming sink: each epoch's tasks spool their records with
    * epoch-unique file names. Semantics are the reference spool's —
    * at-least-once (an epoch replayed after a crash re-spools; the
    * downstream drain already tolerates duplicate records, which is
    * why the reference keys records with unique ids). Exactly-once
    * would need a commit log the spool format deliberately lacks. */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = this
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new SpoolStreamingWriterFactory(path, schema, maxRecordBytes, conf)

  /** Seal the epoch: runs on the DRIVER strictly after every task of
    * the epoch has published its files, so the marker's presence
    * guarantees no epoch-N file can still appear — the invariant the
    * drain's sealed-epoch watermark rests on (SpoolTailStream).
    * Overwrite makes a replayed commit idempotent.
    *
    * Before the seal, the epoch's manifest lists every file the tasks
    * published with its facts, as `epoch-NNNNNN.<writer>.manifest`
    * ([[SpoolManifest]]): the drain and the stats scrape read those
    * instead of the files. The seal is shared by every writer of the
    * epoch number; the manifest is this writer's own, so two queries
    * that commit the same epoch number into one dir both keep theirs.
    *
    * Restart guard: epochIds are per-checkpoint, so a query restarted
    * with a FRESH checkpoint into a non-empty spool dir starts again
    * at epoch 0 — its seals land below the dir's existing max, and a
    * drain whose watermark is already past that max would silently
    * never pick the new epochs up. That is data loss by
    * configuration, so committing an epoch at or below an existing
    * higher seal fails loudly instead: resume from the original
    * checkpoint, or point the fresh query at a fresh spool dir.
    *
    * The guard's directory listing runs ONCE, on the first commit of
    * this writer's lifetime: seals and data files accumulate for the
    * stream's life, so an every-epoch listStatus would make commit
    * latency grow with the directory (pathological on object stores).
    * After that first check this writer is the only seal producer, so
    * an in-memory high-water mark carries the invariant forward. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    val dir = new Path(path)
    val maxSealed = sealHighWater.getOrElse(
      SpoolListing.of(fs, dir).sealedEpochs.foldLeft(-1L)(math.max))
    if (maxSealed > epochId)
      throw new IllegalStateException(
        s"graft-spool: committing epoch $epochId but $path already holds " +
          s"seals up to epoch $maxSealed — this query was restarted with a " +
          "fresh checkpoint into a non-empty spool dir, and a sealed-epoch " +
          "drain past the old watermark would never read the new epochs. " +
          "Resume from the original checkpoint or use a fresh spool dir.")
    val files = messages.toSeq.flatMap {
      case c: SpoolCommit => c.files
      case _ => Nil
    }
    if (files.nonEmpty) SpoolManifest.write(fs, dir, epochId, writer, files)
    val p = new Path(path, SpoolMicroBatchStream.sealName(epochId))
    val out = fs.create(p, true)
    out.close()
    sealHighWater = Some(math.max(maxSealed, epochId))
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class SpoolStreamingWriterFactory(path: String, schema: StructType,
                                  maxRecordBytes: Long,
                                  conf: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new SpoolDataWriter(path, schema, maxRecordBytes, partitionId, taskId,
      namePrefix = f"epoch-$epochId%06d-", conf)
}

object SpoolWrite {
  val Required: Seq[(String, DataType)] = Seq(
    "owner" -> StringType, "log_group" -> StringType,
    "log_stream" -> StringType, "message_type" -> StringType,
    "id" -> StringType, "message" -> StringType, "timestamp" -> LongType)

  def requireWritable(schema: StructType): Unit =
    Required.foreach { case (name, dt) =>
      val f = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"graft-spool write needs column `$name`; got ${schema.simpleString}"))
      require(f.dataType == dt,
        s"graft-spool column `$name` must be ${dt.simpleString}, " +
          s"got ${f.dataType.simpleString}")
    }
}

class SpoolWriterFactory(path: String, schema: StructType, maxRecordBytes: Long,
                         conf: SerializableHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SpoolDataWriter(path, schema, maxRecordBytes, partitionId, taskId,
      namePrefix = "", conf)
}

/** A data writer's published files, each with the facts the drain and
  * the stats scrape need ([[SpoolFileFacts]]). */
case class SpoolCommit(files: Seq[SpoolFileFacts]) extends WriterCommitMessage

class SpoolDataWriter(path: String, schema: StructType, maxRecordBytes: Long,
                      partitionId: Int, taskId: Long, namePrefix: String,
                      serConf: SerializableHadoopConf)
    extends DataWriter[InternalRow] {

  private val Array(ownerIdx, groupIdx, streamIdx, typeIdx, idIdx, msgIdx, tsIdx) =
    SpoolWrite.Required.map { case (n, _) => schema.fieldIndex(n) }.toArray
  private val subsIdx = schema.fields.indexWhere(_.name == "subscription_filters")

  private case class Header(owner: String, group: String, stream: String,
                            msgType: String, subs: Seq[String])
  /** One header's buffered event JSON fragments, the record's UTF-8
    * size so far (rendered envelope included) and the facts its file
    * will carry. */
  private final class Pending(val envelopeBytes: Long) {
    val events = mutable.ArrayBuffer.empty[String]
    var bytes: Long = envelopeBytes
    var chars = 0L
    var firstEvent = Long.MaxValue
    var hasTimestamp = false
  }
  private val buf = mutable.LinkedHashMap.empty[Header, Pending]
  private val written = mutable.ArrayBuffer.empty[SpoolFileFacts]
  private var seq = 0
  private val conf: Configuration = serConf.value

  private def needsEscape(c: Char): Boolean = c == '"' || c == '\\' || c < ' '

  /** `s` itself when nothing in it needs escaping. */
  private def jsonEscape(s: String): String = {
    var i = 0
    while (i < s.length && !needsEscape(s.charAt(i))) i += 1
    if (i == s.length) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8).append(s, 0, i)
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '"') sb.append("\\\"")
        else if (c == '\\') sb.append("\\\\")
        else if (c < ' ') sb.append(f"\\u${c.toInt}%04x")
        else sb.append(c)
        i += 1
      }
      sb.toString
    }
  }

  /** JSON string or literal null (Spark's append path fills columns
    * the frame omits with nulls — never crash on them). */
  private def jstr(s: String): String =
    if (s == null) "null" else "\"" + jsonEscape(s) + "\""

  /** `s.getBytes("UTF-8").length` without the copy (an unpaired
    * surrogate encodes as one replacement byte there too). */
  private def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1
        else if (c < 0x800) 2
        else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
            Character.isLowSurrogate(s.charAt(i + 1))) { i += 1; 4 }
        else if (Character.isSurrogate(c)) 1
        else 3)
      i += 1
    }
    n
  }

  override def write(row: InternalRow): Unit = {
    def str(i: Int): String =
      if (row.isNullAt(i)) null else row.getUTF8String(i).toString
    val subs =
      if (subsIdx < 0 || row.isNullAt(subsIdx)) Seq.empty[String]
      else {
        val a = row.getArray(subsIdx)
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
    val h = Header(str(ownerIdx), str(groupIdx), str(streamIdx),
      str(typeIdx), subs)
    val message = str(msgIdx)
    val hasTs = !row.isNullAt(tsIdx)
    val ts = if (hasTs) row.getLong(tsIdx) else 0L
    val ev = s"""{"id":${jstr(str(idIdx))},""" +
      s""""message":${jstr(message)},"timestamp":${if (hasTs) ts.toString else "null"}}"""
    // size in UTF-8 BYTES (non-ASCII payloads are up to 4 bytes/char —
    // char counting would let a buffer serialize past the cap), and
    // the buffer starts at the rendered envelope's size so the
    // flushed record NEVER exceeds maxRecordBytes, wrapper included
    val evBytes = utf8Length(ev)
    var p = buf.getOrElseUpdate(h, new Pending(envelopeBytes(h)))
    // flush-before-append keeps every record under the cap (the
    // reference sizes the gzipped record; uncompressed JSON is the
    // deterministic, strictly-conservative bound); the header then
    // re-enters the buffer last, as a new one would
    if (p.events.nonEmpty && p.bytes + evBytes + 1 > maxRecordBytes) {
      flush(h, p)
      p = new Pending(p.envelopeBytes)
      buf.put(h, p)
    }
    p.events += ev
    p.bytes += evBytes + 1
    // code points of the decoded message: what `length(message)`
    // counts on the read-back
    if (message != null) p.chars += message.codePointCount(0, message.length)
    if (hasTs) { p.hasTimestamp = true; p.firstEvent = math.min(p.firstEvent, ts) }
  }

  private def render(h: Header, eventsJson: String): String = {
    val subsJson = h.subs.map(jstr).mkString(",")
    s"""{"owner":${jstr(h.owner)},"logGroup":${jstr(h.group)},""" +
      s""""logStream":${jstr(h.stream)},"subscriptionFilters":[$subsJson],""" +
      s""""messageType":${jstr(h.msgType)},""" +
      s""""logEvents":[$eventsJson]}"""
  }

  private def envelopeBytes(h: Header): Long =
    render(h, "").getBytes("UTF-8").length.toLong

  private def flush(h: Header, p: Pending): Unit = {
    buf.remove(h)
    if (p.events.nonEmpty) {
      val record = render(h, p.events.mkString(","))
      val name = f"${namePrefix}part-$partitionId%05d-$taskId-$seq%05d.gz"
      seq += 1
      val bos = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(bos) { `def`.setLevel(Deflater.BEST_COMPRESSION) }
      gz.write(record.getBytes("UTF-8")); gz.close()
      // write to a dot-prefixed temp and rename: publication is atomic
      // on local/HDFS filesystems, so a concurrently tailing drain can
      // never open a half-written gzip (the listing filter also skips
      // non-.gz names, covering filesystems with copy-based rename)
      val tmp = new Path(path, s".$name.tmp")
      val fin = new Path(path, name)
      val fs = tmp.getFileSystem(conf)
      val out = fs.create(tmp, false)
      try out.write(bos.toByteArray) finally out.close()
      if (!fs.rename(tmp, fin))
        throw new java.io.IOException(s"spool publish failed: $tmp -> $fin")
      written += SpoolFileFacts(name, h.group, h.stream, p.events.size.toLong,
        p.chars, if (p.hasTimestamp) Some(p.firstEvent) else None, bos.size.toLong)
    }
  }

  override def commit(): WriterCommitMessage = {
    buf.toSeq.foreach { case (h, p) => flush(h, p) }
    SpoolCommit(written.toSeq)
  }

  override def abort(): Unit = {
    written.foreach { f =>
      val p = new Path(path, f.file)
      p.getFileSystem(conf).delete(p, false); ()
    }
  }

  override def close(): Unit = ()
}
