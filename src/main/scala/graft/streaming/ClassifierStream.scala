package graft.streaming

import graft.operators.Classifier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming classifier admission against a FROZEN Naive-Bayes model —
  * the admission-time twin of batch #177 (the #140 SurprisalStream
  * shape with the learned gate): a curation pipeline trains the
  * classifier on its labeled snapshot, then every arriving crawl
  * document gets a keep/drop verdict WITHOUT retraining per
  * micro-batch (retraining would make a document's verdict depend on
  * arrival order).
  *
  * The model is the single-sourced [[Classifier.model]] frame —
  * streaming and batch can never tokenize, spike, or count
  * divergently — loaded ONCE at query start by [[frozenModel]], the
  * one loader every streaming classifier stage calls: the vocab-sized
  * weight table is pinned (Checkpoints.pin), so every micro-batch
  * joins its blocks and never re-derives it, and the two scalar
  * log-odds constants collect to the driver (2 longs — the
  * frozen-artifact pattern).
  * Tokens unseen in training — routine at admission time — contribute
  * log2fp(1) − log2fp(1) = 0 to the weight sum, with the
  * class-denominator asymmetry still carried per token by the
  * n_toks·dd_fp term, exactly the batch scorer's smoothing algebra.
  *
  * Scale: scoring is STATELESS (the only streaming state is source
  * progress); each micro-batch runs the batch scoring plan — explode,
  * model join (AQE broadcasts at test scale; corpus-wide vocabs
  * shuffle-join as in #177), per-doc aggregate — so every #177 scale
  * property carries over verbatim.
  */
object ClassifierStream {

  /** A frozen classifier: the pinned (tok, w_fp) weight table, the two
    * fixed-point log-odds constants, and whether training saw only one
    * class (the curation stage then passes every doc through). */
  case class FrozenModel(w: DataFrame, ddFp: Long, pdFp: Long,
                         oneClass: Boolean)

  /** Trains the frozen model on `modelDir`'s documents, once. */
  def frozenModel(spark: SparkSession, modelDir: String): FrozenModel = {
    val w = graft.Checkpoints.pin(
      Classifier.model(spark, modelDir).select("tok", "w_fp"))
    val cst = Classifier.constants(spark, modelDir).head()
    FrozenModel(w, cst.getLong(0), cst.getLong(1),
      cst.getLong(2) == 0L || cst.getLong(3) == 0L)
  }

  /** Frozen-model scoring of one (micro-)batch of (doc_id, text,
    * source) rows: per doc n_toks, fixed-point log-odds, predicted
    * class, and the admission verdict (keep = predicted curated, the
    * GPT-3 filter rule). */
  def scoreBatch(docs: DataFrame, m: FrozenModel): DataFrame =
    Classifier.tokensFrom(docs)
      .join(m.w, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("w_fp"), lit(0L))).as("sum_w"))
      .withColumn("score_fp",
        col("sum_w") - col("n_toks") * lit(m.ddFp) + lit(m.pdFp))
      .select(col("doc_id"), col("n_toks"), col("score_fp"),
        when(col("score_fp") > 0, "curated").otherwise("crawl").as("pred"),
        (col("score_fp") > 0).cast("int").as("admitted"))

  /** File-based admission gate: train the frozen model on `modelDir`'s
    * documents once at query start, then score each parquet drop in
    * `inputDir` into per-doc verdicts under `outDir` through
    * [[Admission.batchLog]]. */
  def scoreQuery(spark: SparkSession, inputDir: String, schema: StructType,
                 modelDir: String, outDir: String,
                 checkpointDir: String): StreamingQuery = {
    val m = frozenModel(spark, modelDir)
    Admission.batchLog(spark.readStream.schema(schema).parquet(inputDir),
      checkpointDir, outDir, OutputMode.Append())(scoreBatch(_, m))
  }
}
