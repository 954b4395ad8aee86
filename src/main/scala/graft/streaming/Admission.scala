package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The first-writer claim protocol every streaming admission gate
  * shares — the reference relay's admit-each-message-once rule
  * carried over to documents, assets and URLs — and the verdict-log
  * query shell around it.
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

  /** The verdict-log shell: drains everything available (AvailableNow)
    * and appends each micro-batch's `collapse`, stamped with its
    * `batch_id`, to the parquet log at `outDir` — the admission
    * record. At-least-once: a crash between the append and the commit
    * log replays the batch and appends its verdict rows twice (the
    * `foreachBatch` contract). */
  def appendLog[T](rows: Dataset[T], checkpointDir: String, outDir: String)(
      collapse: Dataset[T] => DataFrame): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        collapse(batch)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .start()
}
