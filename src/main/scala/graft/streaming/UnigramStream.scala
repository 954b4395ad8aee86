package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming fertility-gated admission against a FROZEN unigram
  * tokenizer (#166) — the admission-time twin of the #163–165 family,
  * and the tokenizer-lens quality gate a production pipeline runs at
  * ingest: a document the frozen vocabulary serves badly (fertility
  * near character fallback, or words whose characters the inventory
  * has never seen) is gibberish / wrong-language / OOD relative to
  * the training distribution — the same signal CCNet reads from LM
  * perplexity (#140), read here from tokenizer economy instead. Both
  * gates freeze yesterday's model so a verdict can never depend on
  * arrival order.
  *
  * Model and DP are single-sourced from the batch family
  * ([[graft.operators.Unigram.pieceMapFrame]] / `dpExprSql`), so
  * stream and batch can never segment divergently; on a replay of
  * the training corpus the stream reproduces the batch family's
  * per-doc piece counts EXACTLY (spec-pinned).
  *
  * OOV semantics (impossible in the self-trained batch ops, routine
  * at admission): a word containing a character absent from the
  * inventory cannot segment — its DP is NULL by construction (every
  * candidate crossing the character is a missing-map lookup) — and
  * words at/over the EncBase length guard are treated the same.
  * Such words count as `n_oov_words`; fertility is computed over the
  * segmentable words, and admission requires BOTH gates:
  * oov share ≤ [[OovMaxPermille]] AND fertility ≤
  * [[FertilityMaxPermille]].
  *
  * Scale: scoring is STATELESS (the only streaming state is source
  * progress) — per batch: a batch-local word-type collapse (the #127
  * move, so the DP runs once per type per batch, not per occurrence),
  * the broadcast model map, one per-doc aggregate.
  */
object UnigramStream {

  /** Admission gates (integer permille, floor division — exact in
    * any engine). Fertility 2500‰ ≈ 2.5 pieces/word: past it the
    * vocab is mostly falling back to fragments. */
  val FertilityMaxPermille = 2500L
  val OovMaxPermille = 100L

  /** Frozen-model scoring of one (micro-)batch: per doc —
    * n_words, n_oov_words, pieces (over segmentable words),
    * fertility_permille (NULL when nothing segments), admitted.
    *
    * Every input doc gets exactly ONE verdict row, including docs
    * whose normalized text yields zero words (empty/whitespace-only):
    * the word explode produces no rows for them, so the per-doc
    * aggregate is left-joined back to the batch's doc ids and such
    * docs emit an explicit n_words=0 / fertility NULL / admitted=0
    * row — a wordless doc carries no tokenizer-economy signal, so it
    * is rejected, but downstream exactly-once consumers counting
    * verdicts still see it. */
  def scoreBatch(docs: DataFrame, pm: DataFrame): DataFrame = {
    val uni = graft.operators.Unigram
    val words = docs
      .select(col("doc_id"),
        explode(split(graft.functions.TextFunctions.normText(col("text")), " "))
          .as("word"))
      .filter(col("word") =!= "")
    val types = words.select("word").distinct()
      .filter(length(col("word")) < uni.EncBase.toInt)
      .crossJoin(broadcast(pm))
      .withColumn("best", expr(uni.dpExprSql))
      .select(col("word"), expr(s"best % ${uni.EncBase}").as("n_pieces"))
    val perDoc = words.join(types, Seq("word"), "left") // left: over-length words → NULL
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("n_pieces").isNull, 1L).otherwise(0L)).as("n_oov_words"),
        sum(coalesce(col("n_pieces"), lit(0L))).as("pieces"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_oov_words"), lit(0L)).as("n_oov_words"),
        coalesce(col("pieces"), lit(0L)).as("pieces"))
      .withColumn("fertility_permille",
        expr("pieces * 1000L div nullif(n_words - n_oov_words, 0L)"))
      .withColumn("admitted",
        (col("n_oov_words") * 1000L <= lit(OovMaxPermille) * col("n_words") &&
          coalesce(col("fertility_permille") <= FertilityMaxPermille, lit(false)))
          .cast("int"))
  }

  /** File-based admission scorer: freeze the piece model on
    * `modelDir`'s documents once at query start, then score each
    * parquet drop in `inputDir` into `outDir` through
    * [[Admission.batchLog]]. */
  def admitQuery(spark: SparkSession, inputDir: String, schema: StructType,
                 modelDir: String, outDir: String,
                 checkpointDir: String): StreamingQuery = {
    // pinned: the model is trained ONCE at query start (eager
    // materialization) — an unpinned frame would re-run the whole
    // inventory aggregation inside every micro-batch's crossJoin
    val pm = graft.Checkpoints.pin(
      graft.operators.Unigram.pieceMapFrame(spark, modelDir))
    Admission.batchLog(spark.readStream.schema(schema).parquet(inputDir),
      checkpointDir, outDir, OutputMode.Append())(scoreBatch(_, pm))
  }
}
