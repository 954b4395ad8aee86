package graft.streaming

import graft.operators.{AnnIndex, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming ANN serving against the PERSISTED index (SURVEY §2
  * #175) — the ONLINE half of the index lifecycle the batch family
  * closed in round 16 (build #168 → query → freshness #170 → append
  * #173 → serve): query vectors ARRIVE (a retrieval endpoint, a
  * dedup-at-ingest probe, a recommendation fan-out) and each
  * micro-batch is answered from the frozen on-disk index, never a
  * retrain — the same pattern every production vector store runs
  * (FAISS read_index once, search per request batch).
  *
  * One algebra with batch: each micro-batch rides
  * [[Similarity.annIvfPqTopKFor]] — the SAME probe → LUT → ADC →
  * exact-rerank plan the oracle-verified batch paths execute, with
  * the arriving batch as the query frame — so a streamed query's
  * top-k equals the batch answer for the same vector EXACTLY
  * (spec-pinned). The model frames (centroids, codebooks) are read
  * and pinned ONCE at stream construction (the frozen-artifact
  * pattern of #140/#149/#166); the corpus-scale codes/norms tables
  * are read per batch from their cid-partitioned parquet — with each
  * batch's probed-cid set pushed as a static partition filter, a
  * micro-batch touches only the directories its queries probe.
  *
  * Scale: serving is STATELESS (no streaming state at all — the
  * index IS the state, on disk, maintained by #173's append); per
  * batch the driver collects only the model-sized probed-cid set.
  */
object AnnStream {

  /** Score ONE batch of raw query vectors (vec_id, embedding) against
    * the index at `indexDir`, corpus at `dir`. */
  def scoreBatch(spark: SparkSession, batch: DataFrame, dir: String,
                 indexDir: String,
                 nProbe: Int = Similarity.NProbe): DataFrame = {
    val qs = batch
      .select(col("vec_id"), expr(graft.Constants.QuantizeExprSql).as("q"))
      .withColumn("nn", graft.functions.VectorFunctions.norm_sq_l(col("q")))
    // static per-batch list pruning: probed cids are model-sized and
    // known before the codes scan (the #168 move, per micro-batch)
    val pruned = AnnIndex.prunedToProbes(qs,
      AnnIndex.readIvfPq(spark, indexDir), nProbe)
    Similarity.annIvfPqTopKFor(spark, dir, qs, pruned, nProbe)
  }

  /** File-based serving: parquet drops of query vectors in `inputDir`
    * are answered into `outDir` through [[Admission.batchLog]]; the
    * index is ensured once at query start. */
  def serveQuery(spark: SparkSession, inputDir: String, schema: StructType,
                 dir: String, outDir: String,
                 checkpointDir: String): StreamingQuery = {
    val indexDir = AnnIndex.ensureIvfPq(spark, dir)
    Admission.batchLog(spark.readStream.schema(schema).parquet(inputDir),
      checkpointDir, outDir, OutputMode.Append())(
      scoreBatch(spark, _, dir, indexDir))
  }
}
