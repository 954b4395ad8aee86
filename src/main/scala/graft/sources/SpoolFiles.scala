package graft.sources

import java.util.zip.GZIPInputStream

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** What the drain and the stats scrape need to know about one spool
  * file, without its events: the record header's log group and log
  * stream, the event count, the message characters (code points, what
  * `length(message)` counts on the read-back; null messages add 0),
  * the smallest event timestamp (None when no event has one) and the
  * gzip size on disk. `file` is the bare name inside the spool dir. */
final case class SpoolFileFacts(file: String, logGroup: String,
                                logStream: String, events: Long,
                                chars: Long, firstEvent: Option[Long],
                                bytes: Long)

/** The per-writer epoch manifest: the streaming spool sink's commit
  * lists every file the epoch's tasks published, with its facts, in
  * `epoch-NNNNNN.<writer>.manifest` (one JSON object per line) before
  * it publishes the epoch's seal. `<writer>` is the streaming query's
  * id, which survives restarts, so a replayed commit overwrites its
  * own manifest; two queries spooling into one dir never share one.
  * The file is written to a dot-prefixed temp and renamed, so no
  * reader ever sees half of one. A manifest is a cache of facts the
  * files themselves hold: a row counts only while its `bytes` equal
  * the listed file's length, and a file no manifest lists (seals
  * written before manifests existed, batch-written and retry dirs) is
  * read through [[SpoolFiles.factsOf]]. */
object SpoolManifest {
  val NameRe: scala.util.matching.Regex = "^epoch-(\\d+)\\.([^.]+)\\.manifest$".r

  def name(epochId: Long, writer: String): String =
    f"epoch-$epochId%06d.$writer.manifest"

  private[sources] val mapper = new ObjectMapper()

  def write(fs: FileSystem, dir: Path, epochId: Long, writer: String,
            files: Seq[SpoolFileFacts]): Unit = {
    val n = JsonNodeFactory.instance
    val body = files.map { f =>
      val o = n.objectNode()
      o.put("file", f.file).put("log_group", f.logGroup)
        .put("log_stream", f.logStream).put("events", f.events)
        .put("chars", f.chars).put("bytes", f.bytes)
      f.firstEvent match {
        case Some(t) => o.put("first_event", t)
        case None => o.putNull("first_event")
      }
      mapper.writeValueAsString(o) + "\n"
    }.mkString
    val fin = new Path(dir, name(epochId, writer))
    val tmp = new Path(dir, s".${fin.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // a replayed commit replaces its own manifest (rename does not
    // overwrite); between the two steps a reader falls back to the files
    if (fs.exists(fin)) fs.delete(fin, false)
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"spool manifest publish failed: $tmp -> $fin")
  }

  /** A manifest's rows; none when a replayed commit is replacing it
    * right now (its files are then read for their facts). */
  def read(fs: FileSystem, p: Path): Seq[SpoolFileFacts] = {
    val in = try fs.open(p) catch { case _: java.io.FileNotFoundException => return Nil }
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val o = mapper.readTree(line)
      val t = o.get("first_event")
      SpoolFileFacts(o.get("file").asText(), SpoolFiles.text(o, "log_group"),
        SpoolFiles.text(o, "log_stream"), o.get("events").asLong(),
        o.get("chars").asLong(),
        if (t == null || t.isNull) None else Some(t.asLong()),
        o.get("bytes").asLong())
    }
  }
}

/** The `graft-spool-files` table: one row per spool file with its
  * [[SpoolFileFacts]] —
  *
  *   spark.readStream.format("graft-spool-files").load(spoolDir)
  *
  * It tails the directory with the event table's offsets (sealed epoch
  * or file name, [[SpoolTailStream]]), so a checkpoint written by a
  * `graft-spool` stream resumes here at the same file. Facts come from
  * the manifests on the driver at planning time; only files no
  * manifest lists are opened, by the tasks, one read each. It is a
  * streaming table only: a driver-side caller reads the same facts
  * through [[SpoolFactsCache]]. */
class SpoolFilesDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-spool-files"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SpoolFiles.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new SpoolFilesTable(properties.get("path"))
}

object SpoolFiles {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("log_group", StringType),
    StructField("log_stream", StringType),
    StructField("events", LongType, nullable = false),
    StructField("chars", LongType, nullable = false),
    StructField("first_event", LongType),
    StructField("bytes", LongType, nullable = false)))

  private[sources] def text(n: JsonNode, field: String): String = {
    val v = n.get(field)
    if (v == null || v.isNull) null else v.asText()
  }

  /** A file's facts read from the file itself: gunzip, parse the
    * record, count. The one place that does so — the fallback of the
    * files table's tasks and of [[SpoolFactsCache]]. */
  def factsOf(fs: FileSystem, p: Path, len: Long): SpoolFileFacts = {
    val in = new GZIPInputStream(fs.open(p))
    val rec = try SpoolManifest.mapper.readTree(in) finally in.close()
    val le = rec.get("logEvents")
    var events, chars = 0L
    var first: Option[Long] = None
    if (le != null && le.isArray) le.elements().forEachRemaining { ev =>
      events += 1
      val m = text(ev, "message")
      if (m != null) chars += m.codePointCount(0, m.length)
      val t = ev.get("timestamp")
      if (t != null && !t.isNull)
        first = Some(first.fold(t.asLong())(math.min(_, t.asLong())))
    }
    SpoolFileFacts(p.getName, text(rec, "logGroup"), text(rec, "logStream"),
      events, chars, first, len)
  }

  /** Manifest rows by file name. */
  def listed(fs: FileSystem, manifests: Seq[FileStatus]): Map[String, SpoolFileFacts] =
    manifests.flatMap(m => SpoolManifest.read(fs, m.getPath)).map(f => f.file -> f).toMap

  /** Split `files` into the facts a manifest row gives and the files no
    * manifest row of the same length lists. */
  def resolve(files: Seq[FileStatus], listed: Map[String, SpoolFileFacts])
      : (Seq[SpoolFileFacts], Seq[FileStatus]) =
    files.partitionMap(s =>
      listed.get(s.getPath.getName).filter(_.bytes == s.getLen).toLeft(s))

  /** Planned partitions of `files`: the rows of their epochs' manifests
    * in one, the unlisted files bin-packed by size like the event
    * table's. */
  def partitions(fs: FileSystem, files: Seq[FileStatus],
                 manifests: Seq[FileStatus],
                 maxPartitionBytes: Long): Array[InputPartition] = {
    val epochs = files.flatMap(s => SpoolTailStream.epochOf(s.getPath.getName)).toSet
    val (known, unread) = resolve(files, listed(fs, manifests.filter(m =>
      m.getPath.getName match {
        case SpoolManifest.NameRe(e, _) => epochs(e.toLong)
        case _ => false
      })))
    val head = if (known.isEmpty) Nil
      else Seq(SpoolFilesPartition(known.toArray, Array.empty))
    (head ++ SpoolScan.binPack(unread.map(s => (s.getPath.toString, s.getLen)),
      maxPartitionBytes).map(g => SpoolFilesPartition(Array.empty, g))).toArray
  }

  def row(f: SpoolFileFacts): InternalRow = InternalRow(
    UTF8String.fromString(f.file), UTF8String.fromString(f.logGroup),
    UTF8String.fromString(f.logStream), f.events, f.chars,
    f.firstEvent.map(Long.box).orNull, f.bytes)
}

class SpoolFilesTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-spool-files:$path"
  override def schema(): StructType = SpoolFiles.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new SpoolFilesScan(path)
}

class SpoolFilesScan(path: String) extends Scan {
  override def readSchema(): StructType = SpoolFiles.Schema
  override def description(): String = s"graft-spool-files $path"
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SpoolFilesMicroBatchStream(path)
}

class SpoolFilesMicroBatchStream(path: String) extends SpoolTailStream(path) {
  override protected def plan(fs: FileSystem, batch: Seq[FileStatus],
                              listing: SpoolListing): Array[InputPartition] =
    SpoolFiles.partitions(fs, batch, listing.manifests, SpoolScan.DefaultMaxPartitionBytes)
  override def createReaderFactory(): PartitionReaderFactory =
    new SpoolFilesReaderFactory(SerializableHadoopConf.fromSession())
}

/** `known` rows come from manifests; `unread` files (path, length) are
  * read by [[SpoolFiles.factsOf]] in the task. */
case class SpoolFilesPartition(known: Array[SpoolFileFacts],
                               unread: Array[(String, Long)]) extends InputPartition

class SpoolFilesReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[SpoolFilesPartition]
    val rows = part.known.iterator ++ part.unread.iterator.map { case (f, len) =>
      val p = new Path(f)
      SpoolFiles.factsOf(p.getFileSystem(conf.value), p, len)
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        rows.hasNext && { current = SpoolFiles.row(rows.next()); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Driver-side facts of every spool file now in `dir`, for a stats
  * scrape that runs no Spark job: one directory listing per call, each
  * manifest read once (a published manifest never changes; a replayed
  * commit's rewrite shows as a new length or modification time), and
  * each file no manifest lists read once through
  * [[SpoolFiles.factsOf]]. Thread-safe; entries of files and manifests
  * that leave the directory are dropped. */
final class SpoolFactsCache(dir: String, conf: Configuration) {
  private type Key = (String, Long, Long) // name, length, mtime
  private val manifests = mutable.Map.empty[Key, Seq[SpoolFileFacts]]
  private val unlisted = mutable.Map.empty[Key, SpoolFileFacts]
  private def key(s: FileStatus): Key =
    (s.getPath.getName, s.getLen, s.getModificationTime)

  def facts(): Seq[SpoolFileFacts] = synchronized {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val l = SpoolListing.of(fs, p)
    val mKeys = l.manifests.map(key).toSet
    manifests.filterInPlace((k, _) => mKeys(k))
    val (known, unread) = SpoolFiles.resolve(l.data, l.manifests.flatMap(m =>
      manifests.getOrElseUpdate(key(m), SpoolManifest.read(fs, m.getPath)))
      .map(f => f.file -> f).toMap)
    val uKeys = unread.map(key).toSet
    unlisted.filterInPlace((k, _) => uKeys(k))
    known ++ unread.map(s =>
      unlisted.getOrElseUpdate(key(s), SpoolFiles.factsOf(fs, s.getPath, s.getLen)))
  }
}
