package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.{call_function, element_at, lit, udf}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The first-writer claim protocol every streaming admission gate
  * shares — the reference relay's admit-each-message-once rule
  * carried over to documents, assets and URLs — and the verdict-log
  * shell ([[batchLog]]) every single-output streaming query records
  * through.
  *
  * The protocol ([[claimFirst]]): rows are grouped by bucket key in
  * one keyed-state operator (Append, NoTimeout). A bucket with no
  * state is claimed by the SMALLEST id among its rows in that
  * micro-batch, so the owner does not depend on arrival order inside
  * the batch. The claim writes the claimant's snapshot to state once
  * and state is never re-written: the owner of a bucket is its first
  * claimant for good, across micro-batches and restarts, and a later
  * arrival with a smaller id still reports the earlier owner. Every
  * row, the claimant included, then emits one observation against the
  * owner's snapshot — the owner id and how closely the row matches it
  * (owner == the row's own id means the row claimed the bucket).
  *
  * A band or fingerprint collision is only a candidate; each gate
  * verifies it against the owner's snapshot with its batch twin's
  * confirm rule ([[agreement]] for MinHash signatures, [[hamming]]
  * for perceptual hashes, none for exact keys) and documents its own
  * state bound and horizon knob.
  */
object Admission {

  /** A claimed bucket's state: the claimant's id and the signature
    * later arrivals verify against (MinHash slots or hash words; empty
    * where the key alone is the verdict). */
  case class BucketOwner(owner: Long, sig: Array[Long])

  /** The first-writer kernel: groups `rows` by `key`, lets the
    * smallest `id` of an unclaimed group claim it with `claim(row)` as
    * the state snapshot, and maps every row through `emit(row, owner
    * snapshot)`. State is one snapshot per claimed key. */
  def claimFirst[R, K: Encoder, S: Encoder, O: Encoder](rows: Dataset[R])(
      key: R => K, id: R => Long, claim: R => S)(
      emit: (R, S) => O): Dataset[O] =
    rows.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (_, rs, state) =>
        val sorted = rs.toVector.sortBy(id)
        val owner =
          if (state.exists) state.get
          else {
            val s = claim(sorted.head)
            state.update(s)
            s
          }
        sorted.iterator.map(emit(_, owner))
      }

  /** Signature slots where `a` agrees with `b`: the MinHash verify
    * score (matches·2 ≥ seeds is the batch job's est J ≥ 0.5). */
  def agreement(a: Array[Long], b: Array[Long]): Int = {
    var m = 0
    var i = 0
    while (i < a.length) {
      if (a(i) == b(i)) m += 1
      i += 1
    }
    m
  }

  /** Bit Hamming distance between `a` and `b` over the words
    * [from, until): the perceptual-hash verify score. */
  def hamming(a: Array[Long], b: Array[Long], from: Int, until: Int): Int = {
    var d = 0
    var i = from
    while (i < until) {
      d += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1
    }
    d
  }

  /** Bit `idx` (0-based, long) of a packed ARRAY<BIGINT> bit-set
    * column: the lookup both stateless bloom probes (curation
    * decontamination, crawl seen-set) run per row. The words ship as a
    * one-row broadcast frame, never a plan literal, so the bit-set is
    * not serialized into every micro-batch's task binary. */
  private[streaming] def bitAt(words: Column, idx: Column): Column =
    call_function("shiftright",
      element_at(words, call_function("shiftright", idx, lit(6)).cast("int") + lit(1)),
      (idx % 64L).cast("int")).bitwiseAND(lit(1L)) === lit(1L)

  /** `value` as a non-null bigint column that reaches the plan through
    * a closure, not a literal: Spark inlines a primitive literal into
    * the generated source, and its codegen cache is keyed on that
    * source, so stamping a micro-batch id with `lit` compiled the
    * stage again on every batch. Through the closure the source is the
    * same on every batch and the compiled class is reused. */
  private[streaming] def batchValue(value: Long): Column = udf(() => value).apply()

  /** The verdict-log shell every single-output `foreachBatch` query in
    * graft.streaming writes through: admission gates, frozen-model
    * scorers and the streaming sketches. It drains everything
    * available (AvailableNow) in the caller's output `mode` and
    * records each micro-batch's `collapse`, stamped with a bigint
    * `batch_id` data column, as flat parquet files directly under
    * `outDir` — the query's record, read back with
    * `spark.read.parquet(outDir)`.
    *
    * Exactly-once: `foreachBatch` is at-least-once (a crash between
    * the write and the commit log replays the batch with the same
    * id), so batch k is staged in the hidden `outDir/_batch-<k>/`
    * (skipped by parquet readers and file-stream sources), any
    * `outDir/batch-<k>-*` files a previous attempt left are deleted,
    * and the staged parts are renamed to `outDir/batch-<k>-<part>`.
    * A replayed batch therefore replaces its own files instead of
    * adding a second copy; part names drop the write's job UUID, so a
    * chained file-stream reader that already consumed batch k sees the
    * same paths again and skips them. Flat files from earlier
    * append-only runs resume in place.
    *
    * Fails fast at query start when `outDir` holds `batch_id=*` or
    * `batch=*` directories (the former by-batch layout): flat files
    * next to partition directories are silently dropped on read.
    *
    * Queries that stay on their own `foreachBatch`: the URL and
    * classifier curation stages (`urlAdmissionQuery`,
    * `clfAdmissionQuery`) write two outputs per batch; the crawl
    * scheduler stamps `cycle_id`; the crawl quota gates' rows carry
    * their upstream `batch_id`, which a second stamp would overwrite;
    * `CorpusStream` rides the built-in file sink; the spool drain's
    * ship and spool queries are relay paths. */
  def batchLog[T](rows: Dataset[T], checkpointDir: String, outDir: String,
                  mode: OutputMode)(
      collapse: Dataset[T] => DataFrame): StreamingQuery = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    require(!fs.exists(out) || !fs.listStatus(out).exists(s => s.isDirectory &&
        Seq("batch_id=", "batch=").exists(s.getPath.getName.startsWith)),
      s"$outDir holds batch_id=/batch= directories from the by-batch " +
        "layout, and flat files written next to them are dropped on read; " +
        "migrate it once by writing spark.read.parquet(outDir) with " +
        "batch_id (or a gap-quantile log's batch) cast to a bigint " +
        "batch_id column as flat parquet to a new outDir")
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode(mode)
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        val staged = new Path(out, s"_batch-$batchId")
        collapse(batch)
          .withColumn("batch_id", batchValue(batchId))
          .write.mode("overwrite").parquet(staged.toString)
        fs.globStatus(new Path(out, s"batch-$batchId-*"))
          .foreach(s => fs.delete(s.getPath, false))
        fs.listStatus(staged).map(_.getPath)
          .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
          .foreach { p =>
            val part = p.getName.replaceFirst(
              "-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "")
            val dst = new Path(out, s"batch-$batchId-$part")
            if (!fs.rename(p, dst))
              throw new java.io.IOException(s"batch log: rename $p -> $dst failed")
          }
        fs.delete(staged, true)
        ()
      }
      .start()
  }
}
