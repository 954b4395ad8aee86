package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Cross-micro-batch chunked-GELF reassembly (SURVEY §2 #8, streaming
  * form): the reference accumulates chunks per message id across
  * datagrams with a shared dict and emits when all parts arrived
  * (kinesyslog/gelf.py:11-50, protocol.py:289-300). The batch operator
  * (operators.Gelf.gelfChunks) reassembles complete-within-the-batch
  * ids; THIS operator holds partial messages in keyed state so a
  * message whose chunks span micro-batches still assembles.
  *
  * Discard semantics: GELF specifies dropping chunks older than 5
  * seconds (the reference leaves this as an upstream TODO and keeps
  * them forever, protocol.py:292-300); here the event-time watermark
  * passing `first_seen + ReassemblySeconds` evicts the partial state —
  * bounded state, no driver timer.
  *
  * Scale: state is one in-flight message per key (id), sized by its
  * arrived payload bytes, partitioned by id — the 8-byte message id is
  * uniform by construction (sender-random), so the shuffle cannot
  * skew. Completed and timed-out ids leave the store immediately.
  */
object GelfChunkStream {

  case class Chunk(id: Long, seq: Int, total: Int, payload: Array[Byte],
                   event_time: java.sql.Timestamp)
  case class ChunkState(parts: Map[Int, Array[Byte]], total: Int,
                        first_ms: Long)
  /** A completed message; `received` is its first chunk's
    * `event_time`, the receipt time parse falls back to. */
  case class Assembled(id: Long, message: String, n_chunks: Int,
                       received: java.sql.Timestamp)

  /** GELF chunk-reassembly window (protocol.py:292 / GELF spec). */
  val ReassemblySeconds = 5L

  private def step(id: Long, chunks: Iterator[Chunk],
                   state: GroupState[ChunkState]): Iterator[Assembled] =
    if (state.hasTimedOut) {
      // incomplete past the reassembly window: discard (never emit)
      state.remove()
      Iterator.empty
    } else {
      var st = state.getOption.getOrElse(ChunkState(Map.empty, 0, 0L))
      chunks.foreach { c =>
        st = ChunkState(
          // duplicate seq: first arrival wins (reference dict insert)
          if (st.parts.contains(c.seq)) st.parts
          else st.parts + (c.seq -> c.payload),
          math.max(st.total, c.total),
          if (st.first_ms == 0L) c.event_time.getTime else st.first_ms)
      }
      if (st.total > 0 && (0 until st.total).forall(st.parts.contains)) {
        state.remove()
        // the REASSEMBLED buffer goes back through the magic sniff —
        // graylog senders compress the whole GELF document and chunk
        // the COMPRESSED bytes, so decompression must follow
        // reassembly (reference protocol.py:281-287 → 217-224); a
        // payload whose magic matches but fails to inflate is dropped
        // exactly as the reference logs-and-drops it
        val blob = java.nio.ByteBuffer
          .allocate((0 until st.total).map(st.parts(_).length).sum)
        (0 until st.total).foreach(i => blob.put(st.parts(i)))
        val raw = blob.array()
        val out = graft.functions.BinaryFunctions.autoDecompress(raw)
        // protocol context: a compressed-looking payload that came
        // back verbatim failed to inflate → drop (the corpus surface
        // keeps the pass-through; GELF senders never emit such bytes)
        Option(out)
          .filterNot(b => (b eq raw) &&
            graft.functions.BinaryFunctions.looksCompressed(raw))
          .map(b => Assembled(id, new String(b, "UTF-8"), st.total,
            new java.sql.Timestamp(st.first_ms)))
          .iterator
      } else {
        state.update(st)
        // clamp above the current watermark: Spark THROWS on a timeout
        // below it (killing the whole query), and a partial whose
        // first chunk lags the watermark by more than the window —
        // late first chunks reach flatMapGroupsWithState unfiltered —
        // would otherwise be that poison pill; the clamp expires it at
        // the next watermark tick instead
        state.setTimeoutTimestamp(
          math.max(st.first_ms + ReassemblySeconds * 1000L,
            state.getCurrentWatermarkMs() + 1L))
        Iterator.empty
      }
    }

  /** Append-mode assembly: one output row per COMPLETED message; state
    * keyed on the chunk id survives micro-batch boundaries. */
  def assemble(chunks: Dataset[Chunk]): Dataset[Assembled] = {
    implicit val outEnc = Encoders.product[Assembled]
    implicit val stEnc = Encoders.product[ChunkState]
    implicit val keyEnc = Encoders.scalaLong
    chunks
      .withWatermark("event_time", "0 seconds")
      .groupByKey(_.id)
      .flatMapGroupsWithState[ChunkState, Assembled](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(step)
  }

  /** Datagram-level entry: parse the 12-byte binary chunk headers with
    * the SAME codegen'd expression the batch path uses, then assemble.
    * Payloads stay BINARY through reassembly (a compressed chunk is
    * not valid UTF-8 — a string round-trip would corrupt it before the
    * post-reassembly sniff). Input: (datagram binary, event_time). */
  def assembleDatagrams(datagrams: DataFrame): Dataset[Assembled] = {
    import datagrams.sparkSession.implicits._
    val chunks = datagrams
      .select(graft.functions.GelfFunctions.gelf_chunk_parse(col("datagram")).as("c"),
        col("event_time"))
      .filter(col("c").isNotNull)
      .select(col("c.id").as("id"), col("c.seq").cast("int").as("seq"),
        col("c.total").cast("int").as("total"),
        col("c.payload").as("payload"), col("event_time"))
      .as[Chunk]
    assemble(chunks)
  }
}
