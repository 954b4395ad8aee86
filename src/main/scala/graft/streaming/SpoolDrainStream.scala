package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming Firehose drain (SURVEY §2 #87) — the reference uploader
  * loop (spool.py:105-130 + 199-211) as a streaming query over the
  * spool directory: `readStream.format("graft-spool-files")` tails the
  * spool exactly as the drain thread polls it, one row per spool file,
  * and each micro-batch's records are packed into put-record batches
  * under the SAME ≤ count / ≤ bytes caps with the SAME oracle-verified
  * greedy fold the batch operator uses
  * ([[graft.operators.Envelope.packRecords]]).
  *
  * A record's destination, source, first event and size (the spool
  * file's gzip bytes: the reference packs by gzip size, sink.py:179)
  * come from the spool writer's epoch manifests — facts the writer
  * recorded when it flushed the file — so a micro-batch reads no event.
  * Only files no manifest lists (the retry dir, batch-written dirs,
  * seals written before manifests existed) are opened, once each
  * ([[graft.sources.SpoolFiles.factsOf]]); a file without events ships
  * nothing. The drain log appends one row per put batch; at-least-once
  * across restarts comes from the source's checkpointed watermark,
  * which is the `graft-spool` event table's, so a checkpoint written
  * over that table resumes here (a record never re-enters a later
  * micro-batch, matching the reference's unlink-after-success
  * contract).
  */
object SpoolDrainStream {

  /** The drain made shippable (VERDICT r10 #4): each micro-batch's
    * spool files are packed, then each put batch goes through a pluggable
    * [[BatchTransport]] ON THE EXECUTORS, and per-record partial
    * failures re-spool into `retryDir` as `retry<gen>-` files — a
    * second `shipQuery` over `retryDir` (its own checkpoint) re-packs
    * and re-ships them (#53's retry path, end to end) while
    * already-delivered records never ship twice.
    *
    * `retryDir` must be a DIFFERENT directory from `spoolDir`: the
    * source's watermark is a lexicographic name high-water mark, and
    * retry names interleaved into the main spool would sort below
    * already-drained names and be skipped forever. The retry spool
    * itself stays name-ordered across generations (gen-major names,
    * see [[BatchTransport.retryName]]), so one retry dir + one retry
    * drain serve every generation.
    *
    * Scale shape: ship parallelism is one task per put batch (the
    * natural unit — a batch is one PutRecordBatch call); only the
    * FAILED record names return to the driver for re-spooling,
    * bounded by the micro-batch's file count, never by events.
    * Records that exhaust `maxRetries` generations stay in the drain
    * log with ok=false and are NOT re-spooled — a dead-letter query
    * away, never silently dropped. */
  def shipQuery(spark: SparkSession, spoolDir: String,
                checkpointDir: String, outDir: String,
                transport: BatchTransport, retryDir: String,
                maxCount: Int = graft.operators.Envelope.TestBatchCount,
                maxSize: Long = graft.operators.Envelope.TestBatchSize,
                maxRetries: Int = 3,
                // logGroup → delivery stream (multi-stream relays;
                // identity keeps the single-stream shape where dest
                // doubles as the stream name). Must be serializable —
                // it ships in the task closure.
                streamFor: String => String = identity): StreamingQuery =
    spark.readStream.format("graft-spool-files").load(spoolDir)
      .where(col("events") > 0)
      .select(col("log_stream").as("source"), col("log_group").as("dest"),
        col("file").as("part_id"), col("bytes").as("part_bytes"),
        col("first_event"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (records: DataFrame, batchId: Long) =>
        val sess = records.sparkSession
        import sess.implicits._
        // stable across replays of this micro-batch, distinct across
        // queries: the transport's idempotency key component
        val attempt =
          f"q${math.abs(checkpointDir.hashCode.toLong)}%x-mb$batchId"
        // pack, then ship one task per batch; array_sort pins the
        // in-batch record order (collect_list order is not
        // deterministic, ship order must be)
        val statuses = graft.operators.Envelope
          .packRecords(records, maxCount, maxSize)
          .groupBy(col("dest"), col("batch_id"))
          .agg(array_sort(collect_list(struct(
            col("part_id"), col("source"), col("part_bytes")))).as("rs"))
          .as[(String, Long, Seq[(String, String, Long)])]
          .flatMap { case (dest, bid, rs) =>
            val recs = rs.map { case (pid, src, b) => ShipRecord(src, pid, b) }
            // batching stays per logGroup (finer than per stream, so
            // a batch can never straddle streams); the transport sees
            // the RESOLVED delivery stream, statuses keep the group
            val ok = transport.ship(streamFor(dest), bid, attempt, recs)
            require(ok.length == recs.length,
              s"transport returned ${ok.length} flags for ${recs.length} records")
            recs.zip(ok).map { case (r, o) =>
              ShipStatus(dest, bid, r.partId, r.partBytes, o)
            }
          }
          // two consumers (drain log + failed-name collect): cache so
          // the transport ships once per micro-batch, not per action.
          // One row per spool FILE — always tiny relative to events.
          .cache()
        try {
          statuses.groupBy(col("dest"), col("batch_id"))
            .agg(count(lit(1)).as("n_records"),
              sum("part_bytes").as("batch_bytes"),
              sum(when(!col("ok"), 1L).otherwise(0L)).as("n_failed"))
            .withColumn("micro_batch", Admission.batchValue(batchId))
            .write.mode("append").parquet(outDir)
          // re-spool failures for the next drain generation; only
          // failed NAMES cross to the driver
          val failed = statuses.filter(s => !s.ok).map(_.part_id).collect()
          val fs = new Path(spoolDir).getFileSystem(sess.sparkContext.hadoopConfiguration)
          failed.foreach { pid =>
            val (_, gen) = BatchTransport.parseRetry(pid)
            if (gen < maxRetries) {
              val src = new Path(spoolDir, pid)
              val dst = new Path(retryDir, BatchTransport.retryName(pid))
              val in = fs.open(src)
              try {
                val out = fs.create(dst, true) // overwrite: replay-safe
                try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
                finally out.close()
              } finally in.close()
            }
          }
        } finally statuses.unpersist()
      }
      .start()
}
