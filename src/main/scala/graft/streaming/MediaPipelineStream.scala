package graft.streaming

import graft.operators.{MediaHash, MediaPipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming composed media-curation admission (SURVEY §2 #193) — the
  * #155 CurationStream shape for ASSETS, the streaming twin of the
  * #190 batch pipeline: each arriving asset gets ONE verdict —
  * `dup_of` (perceptual duplicate of an earlier arrival), `too_small`
  * / `bad_aspect` / `low_entropy` (the stages-2–4 gate battery), or
  * `admitted` — with the batch composition's own precedence: dedup
  * FIRST (an asset rejected as a duplicate never pays decode or the
  * histogram), gates after, exactly #190's stage order.
  *
  * The dedup gate is #188's [[Admission.claimFirst]] protocol over BOTH
  * perceptual folds (round 20, the #190 stage-1 union's streaming
  * twin): each arrival hashes with the shared [[MediaHash.ahashBands]]
  * AND [[MediaHash.ghashBands]] JVM folds and claims 8 buckets —
  * bands 0–3 key the aHash words, 4–7 the gHash words — with the
  * exact-Hamming confirm computed PER MODALITY against the owner's
  * matching fold (a gHash band collision confirms on gHash distance,
  * the #207 radius; an aHash collision on aHash, the #180 radius), so
  * a cropped re-upload rejects through the gHash side exactly as the
  * batch union cuts it at stage 1. The gates are STATELESS pure
  * functions of (doc_id, content) — the single-sourced
  * [[MediaPipeline.gateFrame]] battery, so stream and batch can never
  * gate divergently (the spec pins per-asset gate equality and the
  * #188 owner-vs-canonical divergence note carries over for dups).
  *
  * Payload transport: the band rows carry the asset content through
  * the stateful operator (the #172 UrlDoc pattern), which moves each
  * asset's bytes 2·Bands× through one shuffle inside the dedup window.
  * A production ingest at 100 TB carries a STORAGE POINTER here
  * instead (the asset is already landed; doc_id is the pointer) and
  * re-reads bytes only for gate-stage survivors — the shape is
  * identical, only the column width changes; at test scale the
  * payload ride keeps the chain one query instead of a
  * pointer-rejoin drain per batch.
  *
  * State = ≤ 2·Bands rows per distinct admitted asset (the 8-word
  * dual hash + owner id, never content — the claim snapshot drops the
  * payload), NoTimeout ↔ ingest-window timeout is the 100 TB horizon
  * knob, exactly #188.
  */
object MediaPipelineStream {

  case class AssetRow(doc_id: Long, band: Int, band_val: Long,
                      hash: Array[Long], content: Array[Byte])
  /** Per-(asset, band) observation: bucket owner + Hamming distance,
    * content carried through for the gate stages. */
  case class AssetObs(doc_id: Long, band: Int, owner: Long, hamming: Int,
                      content: Array[Byte])

  /** The #188 first-writer bucket protocol ([[Admission.claimFirst]])
    * over BOTH folds (8 buckets per asset — the batch union's
    * admission twin) with the payload riding along; state stores
    * owner + the 8-word hash only. The verify is per-modality Hamming
    * over the CONCATENATED hash (words 0–3 aHash, 4–7 gHash): a band's
    * collision is confirmed against its OWN fold's distance — summing
    * across modalities would mix radii and reject nothing either
    * detector confirms. */
  def observations(assets: DataFrame): Dataset[AssetObs] = {
    import assets.sparkSession.implicits._
    val rows = assets
      .select(col("doc_id"), col("content").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val hash = MediaHash.ahashBands(bytes) ++
            MediaHash.ghashBands(bytes)
          hash.iterator.zipWithIndex.map { case (v, b) =>
            AssetRow(id, b, v, hash, bytes)
          }
        }
      }
    Admission.claimFirst(rows)(r => (r.band, r.band_val), _.doc_id,
      r => Admission.BucketOwner(r.doc_id, r.hash)) { (r, st) =>
      val off = if (r.band < MediaHash.Bands) 0 else MediaHash.Bands
      AssetObs(r.doc_id, r.band, st.owner,
        Admission.hamming(r.hash, st.sig, off, off + MediaHash.Bands),
        r.content)
    }
  }

  /** The per-batch verdict collapse: observations → one verdict row
    * per asset, duplicates first (never paying decode), survivors
    * through the single-sourced gate battery. Shared by
    * [[admissionQuery]] and the soak harness so the long-horizon run
    * exercises the production collapse verbatim. */
  def verdicts(batch: Dataset[AssetObs]): DataFrame = {
    // PINNED: the dup branch and the gate branch both read this frame,
    // and inside foreachBatch each action re-executes the micro-batch
    // plan INCLUDING the upstream stateful operator — unpinned, the
    // whole hash+shuffle+state pass ran twice per trigger (caught by
    // the r18 soak: state-op metrics reported exactly 2× the bucket
    // rows). Claim semantics are idempotent so results were identical;
    // the pin halves the per-batch work.
    val perAsset = graft.Checkpoints.pin(batch.toDF()
      .groupBy("doc_id")
      .agg(
        min(when(col("owner") =!= col("doc_id") &&
          col("hamming") <= MediaHash.HamMax, col("owner")))
          .as("dup_of"),
        first(col("content")).as("content")))
    val dups = perAsset.filter(col("dup_of").isNotNull)
      .select(col("doc_id"), lit("dup").as("verdict"), col("dup_of"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("int").as("out_w"),
        lit(null).cast("int").as("out_h"),
        lit(null).cast("int").as("top_bin"),
        lit(null).cast("long").as("top_share_permille"))
    val gated = MediaPipeline.gateFrame(
      perAsset.filter(col("dup_of").isNull).select("doc_id", "content"))
      .select(col("doc_id"),
        when(col("gate") === "ok", "admitted")
          .otherwise(col("gate")).as("verdict"),
        lit(null).cast("long").as("dup_of"),
        col("width"), col("height"), col("out_w"), col("out_h"),
        col("top_bin"), col("top_share_permille"))
    dups.unionByName(gated)
  }

  /** File-based composed admission: per-band observations collapse to
    * one row per asset, duplicates verdict first (batch stage order),
    * survivors run the single-sourced gate battery; one verdict row
    * per asset — (doc_id, verdict, dup_of, width, height, out_w,
    * out_h, top_bin, top_share_permille, batch_id) appended to
    * `outDir`, the admission record (gate columns are null on dups —
    * a rejected duplicate never pays decode). */
  def admissionQuery(spark: SparkSession, inputDir: String,
                     schema: StructType, checkpointDir: String,
                     outDir: String): StreamingQuery =
    Admission.batchLog(observations(
      spark.readStream.schema(schema).parquet(inputDir)),
      checkpointDir, outDir, OutputMode.Append())(verdicts)
}
