package graft.streaming

import graft.operators.MediaHash.{Bands, HamMax}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming perceptual-hash media dedup at ingest (SURVEY §2 #188) —
  * the streaming twin of batch `MediaHash.mediaAhashDedup`, shaped
  * exactly like the #82 MinhashStream: assets arrive in micro-batches
  * and each is flagged against every asset seen BEFORE it (this batch
  * or earlier, across restarts). This is the LAION-style ingest gate
  * — don't store an image whose perceptual hash is within the
  * duplicate radius of one already kept.
  *
  * A stream must not shuffle per byte, so the hash folds INSIDE the
  * row: [[graft.operators.MediaHash.ahashBands]] — the batch kernel's
  * own per-asset JVM fold (r17; see [[bandRows]] for why the earlier
  * HOF expression spelling was replaced). The HOF spelling
  * ([[graft.operators.MediaHash.ahashInRowSql]]) remains spec-pinned
  * equal on every corpus asset as the SQL-expression cross-check.
  *
  * Admission is the [[Admission.claimFirst]] protocol over (band,
  * band_val) buckets. Keyed state is one owner per claimed bucket —
  * its doc id PLUS its full 4-band hash (a band collision is only a
  * CANDIDATE; the verify is exact Hamming ≤ [[HamMax]] against the
  * owner's full hash, the batch confirm rule — without it, 16-bit
  * band collisions would falsely reject unique assets at stream
  * scale). State is ≤ Bands
  * rows per distinct asset admitted; the 100 TB horizon knob is the
  * same as #82's (swap NoTimeout for an ingest-time timeout past the
  * dedup window).
  */
object MediaHashStream {

  case class BandRow(doc_id: Long, band: Int, band_val: Long,
                     hash: Array[Long])
  /** One row per (incoming asset, band): the bucket's owner and the
    * full-hash Hamming distance to it. */
  case class BandObs(doc_id: Long, band: Int, owner: Long, hamming: Int)

  /** Per-row hash + band rows — no shuffle, stream-safe. Expects
    * (doc_id, content: binary) rows. The hash is the SHARED JVM fold
    * ([[graft.operators.MediaHash.ahashBands]] — the batch kernel's
    * own per-asset function, so stream and batch can never hash
    * divergently); the earlier `ahashInRowSql` HOF spelling cost
    * O(bytes · 64) slot copies per asset and walled the measured
    * ingest at ~1.3–3k assets/s — the array fold is the same
    * row-local, shuffle-free shape at ~64× less work (it remains
    * spec-pinned equal as the SQL-expression cross-check). */
  def bandRows(assets: DataFrame): Dataset[BandRow] = {
    import assets.sparkSession.implicits._
    assets
      .select(col("doc_id"), col("content").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val hash = graft.operators.MediaHash.ahashBands(bytes)
          hash.iterator.zipWithIndex.map { case (v, b) =>
            BandRow(id, b, v, hash)
          }
        }
      }
  }

  /** [[Admission.claimFirst]] over (band, band_val) buckets: the
    * claim snapshots the full hash, and every asset reports the owner
    * and its full-hash Hamming distance to it. */
  def bandObservations(assets: DataFrame): Dataset[BandObs] = {
    import assets.sparkSession.implicits._
    Admission.claimFirst(bandRows(assets))(r => (r.band, r.band_val),
      _.doc_id, r => Admission.BucketOwner(r.doc_id, r.hash)) { (r, st) =>
      BandObs(r.doc_id, r.band, st.owner,
        Admission.hamming(r.hash, st.sig, 0, r.hash.length))
    }
  }

  /** The per-batch verdict collapse: band observations → one row per
    * asset (dup_of = smallest confirmed colliding owner, admitted
    * flag). Shared by [[dedupQuery]] and the soak harness so the
    * long-horizon run exercises the production collapse verbatim. */
  def verdicts(batch: Dataset[BandObs]): DataFrame =
    batch.toDF()
      .groupBy("doc_id")
      .agg(min(when(col("owner") =!= col("doc_id") &&
          col("hamming") <= HamMax, col("owner")))
        .as("dup_of"))
      .withColumn("admitted", col("dup_of").isNull.cast("int"))

  /** File-based ingest: per-band observations collapse to one verdict
    * row per asset — `dup_of` = smallest colliding owner within the
    * batch confirm radius (an unverified band collision is a
    * candidate, not a duplicate), null = ADMITTED. batch_id stamps
    * the increment (the parquet log is the admission record).
    *
    * Rejection chains are TRANSITIVE: a bucket's owner is claimed once
    * and never re-assigned, so `dup_of` names the bucket's FIRST
    * claimant — which may itself have been rejected through a
    * different bucket. At the Hamming radius boundary this can differ
    * from the batch clusters' canonical-keeper labels (#187 names the
    * component-min admitted keeper); downstream consumers needing the
    * admitted representative resolve the chain with
    * [[graft.operators.MediaHash.dupResolve]] (#199 — the admitted
    * root of every chain via the component kernel; bounded because
    * each hop strictly decreases ARRIVAL TIME — an owner was always
    * claimed before its dups — not doc_id, which out-of-order file
    * arrival can invert). The
    * drift is inherent to causal first-writer admission — storing only
    * admitted owners instead would let the SECOND near-twin of a
    * rejected asset through the gate. */
  def dedupQuery(spark: SparkSession, inputDir: String, schema: StructType,
                 checkpointDir: String, outDir: String): StreamingQuery =
    Admission.batchLog(bandObservations(
      spark.readStream.schema(schema).parquet(inputDir)),
      checkpointDir, outDir, OutputMode.Append())(verdicts)
}
