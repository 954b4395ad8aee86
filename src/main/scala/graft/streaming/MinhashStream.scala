package graft.streaming

import graft.operators.Dedup.{Bands, MinhashSeeds}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming MinHash-LSH near-dup admission (SURVEY §2 #82) — the
  * streaming twin of the batch `Dedup.dedupMinhash`: documents arrive
  * in micro-batches and each is flagged against every document seen
  * BEFORE it (this batch or any earlier one, across restarts).
  *
  * The batch job computes signatures with a map-side-combined
  * aggregate (explode + 32 min-aggs); a stream must not shuffle per
  * token, so here the signature folds INSIDE the row (HOF over the
  * shingle array) using the IDENTICAL hash algebra — xxhash64(tok)
  * then xxhash64(seed, base), banded as xxhash64(band, slice) — so a
  * doc hashes to the same (band, band_hash) buckets in both engines
  * (spec-asserted: every batch-detected pair collides in the stream).
  *
  * Admission is the [[Admission.claimFirst]] protocol over (band,
  * band_hash) buckets. Keyed state is one owner per CLAIMED LSH
  * bucket — its doc-id PLUS its 32-long signature (≈264
  * bytes/bucket, ≤ `Bands` buckets per distinct document seen),
  * hash-partitioned by bucket exactly like the batch band join's
  * shuffle. The signature rides along because a
  * band collision is only a CANDIDATE: the batch job verifies every
  * candidate pair with the signature-agreement filter
  * (matches·2 ≥ seeds, est J ≥ 0.5 — Dedup.scala), and without the
  * same verify here any 1-of-8-band collision (p ≈ 1% per dissimilar
  * pair) would falsely reject unique documents at stream scale.
  * Verification is against the bucket OWNER (the cluster's streaming
  * representative) — the one admission-semantics divergence from the
  * batch all-pairs candidate set. At 100 TB the horizon is the knob:
  * swap NoTimeout for an ingest-time timeout so buckets expire past
  * the dedup window (the batch LSH pass over the spooled corpus owns
  * history beyond it).
  */
object MinhashStream {

  case class BandRow(doc_id: Long, band: Int, band_hash: Long,
                     sig: Array[Long])
  /** One row per (incoming doc, band): which doc owns the bucket this
    * band landed in (owner == doc_id means this doc claimed it) and
    * how many signature slots agree with that owner. */
  case class BandObs(doc_id: Long, band: Int, owner: Long, matches: Int)

  private val RowsPerBand = MinhashSeeds / Bands

  /** Adds the in-row 32-slot signature over a frame that already
    * carries a non-empty `toks` shingle array — the shared algebra
    * (identical to the batch job's hash chain), reused by the
    * composed curation admission stream ([[CurationStream]]). */
  private[streaming] def withSignature(df: DataFrame): DataFrame =
    df.withColumn("base", expr("transform(toks, t -> xxhash64(t))"))
      .withColumn("sig", expr(
        s"""transform(sequence(0, ${MinhashSeeds - 1}),
           |  i -> array_min(transform(base, h -> xxhash64(i, h))))""".stripMargin))
      .drop("base")

  /** One row per LSH band for a frame carrying `sig`, keeping every
    * other column: (band, band_hash) from the batch job's banding. */
  private[streaming] def explodeBands(df: DataFrame): DataFrame =
    df.select(df.columns.map(col) :+ posexplode(expr(
      s"""transform(sequence(0, ${Bands - 1}),
         |  b -> xxhash64(b, slice(sig, b * $RowsPerBand + 1, $RowsPerBand)))""".stripMargin))
      .as(Seq("band", "band_hash")): _*)

  /** Per-row signature + band rows — no shuffle, stream-safe. */
  def bandRows(docs: DataFrame): Dataset[BandRow] = {
    import docs.sparkSession.implicits._
    explodeBands(withSignature(
      docs
        .withColumn("toks", array_distinct(
          graft.functions.TextFunctions.word_ngrams(
            graft.functions.TextFunctions.normText(col("text")), 2)))
        .filter(size(col("toks")) > 0))
      .select("doc_id", "sig"))
      .select(col("doc_id"), col("band").cast("int").as("band"),
        col("band_hash"), col("sig"))
      .as[BandRow]
  }

  /** [[Admission.claimFirst]] over (band, band_hash) buckets: the
    * claim snapshots the signature, and every doc reports the owner
    * and its signature agreement with it. */
  def bandObservations(docs: DataFrame): Dataset[BandObs] = {
    import docs.sparkSession.implicits._
    Admission.claimFirst(bandRows(docs))(r => (r.band, r.band_hash),
      _.doc_id, r => Admission.BucketOwner(r.doc_id, r.sig)) { (r, st) =>
      BandObs(r.doc_id, r.band, st.owner, Admission.agreement(r.sig, st.sig))
    }
  }

  /** The per-batch verdict collapse: band observations → one row per
    * doc — `dup_of` = smallest colliding owner whose signature
    * agreement passes the batch job's verify threshold (matches·2 ≥
    * seeds, est J ≥ 0.5; an unverified band collision is a candidate,
    * not a duplicate), null means the doc is ADMITTED. */
  def verdicts(batch: Dataset[BandObs]): DataFrame =
    batch.toDF()
      .groupBy("doc_id")
      .agg(min(when(col("owner") =!= col("doc_id") &&
          col("matches") * 2 >= MinhashSeeds, col("owner")))
        .as("dup_of"))
      .withColumn("admitted", col("dup_of").isNull.cast("int"))

  /** File-based ingest: each increment's [[verdicts]] append to
    * `outDir` through [[Admission.batchLog]] (batch_id stamps the
    * increment; the parquet log is the admission record). */
  def dedupQuery(spark: SparkSession, inputDir: String, schema: StructType,
                 checkpointDir: String, outDir: String): StreamingQuery =
    Admission.batchLog(bandObservations(
      spark.readStream.schema(schema).parquet(inputDir)),
      checkpointDir, outDir, OutputMode.Append())(verdicts)
}
