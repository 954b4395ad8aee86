package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming unigram-LM admission scoring against a FROZEN model —
  * the admission-time twin of batch `TextFunctions.surprisal`
  * (#136): a curation pipeline trains the LM on yesterday's corpus
  * snapshot, then scores every arriving document WITHOUT retraining
  * per micro-batch (retraining would make admission verdicts depend
  * on arrival order — the same document would score differently in
  * batch 1 vs batch 50).
  *
  * The model is the single-sourced `TextFunctions.unigramVocab`
  * frame + its total, so streaming and batch can never tokenize or
  * count divergently; on a replay of the training corpus itself the
  * stream reproduces the batch scores EXACTLY (spec-pinned). Unseen
  * tokens — impossible in the self-trained batch op, routine at
  * admission time — score at the add-1 floor c = 1, the most
  * surprising value the trained range contains.
  *
  * Scale: scoring is stateless (the only streaming state is source
  * progress in the checkpoint); each micro-batch runs the batch
  * scoring plan — explode, vocab join (AQE broadcasts the vocab at
  * test scale; corpus-wide vocabs shuffle-join exactly as in #136),
  * per-doc aggregate. The per-batch work is the batch operator's, so
  * every #136 scale property carries over verbatim. `foreachBatch`
  * is the right harness (the BatchTransport pattern): a per-doc
  * aggregate inside `writeStream` would demand watermarked stateful
  * aggregation for what is a row-bounded, batch-local computation.
  */
object SurprisalStream {

  /** Frozen-model scoring of one (micro-)batch: same columns as the
    * batch op (doc_id, n_toks, bits_q10, mean_bits). `nTotal` is the
    * model's token count — a train-time constant, never recomputed
    * per batch. */
  def scoreBatch(docs: DataFrame, vocab: DataFrame, nTotal: Long): DataFrame = {
    val lg = graft.functions.TextFunctions.log2fpExpr _
    docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.normText(col("text")).as("norm"))
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .join(vocab, Seq("tok"), "left")
      .withColumn("c1", coalesce(col("c"), lit(1L)))
      .withColumn("sbits", expr(lg(nTotal.toString)) - expr(lg("c1")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("sbits")).as("bits_q10"))
      .withColumn("mean_bits",
        col("bits_q10").cast("double") /
          (col("n_toks") * graft.functions.TextFunctions.LogQ))
  }

  /** File-based admission scorer: train the frozen model on
    * `modelDir`'s documents table once at query start, then score
    * each parquet drop in `inputDir` and record the per-doc scores
    * under `outDir` through [[Admission.batchLog]]. */
  def scoreQuery(spark: SparkSession, inputDir: String, schema: StructType,
                 modelDir: String, outDir: String,
                 checkpointDir: String): StreamingQuery = {
    val vocab = graft.functions.TextFunctions.unigramVocab(spark, modelDir)
    val nTotal = vocab.agg(sum(col("c"))).head.getLong(0)
    Admission.batchLog(spark.readStream.schema(schema).parquet(inputDir),
      checkpointDir, outDir, OutputMode.Append())(
      scoreBatch(_, vocab, nTotal))
  }
}
