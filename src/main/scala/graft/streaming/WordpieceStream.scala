package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming fertility-gated admission against a FROZEN WordPiece
  * vocabulary (SURVEY §2 #192) — the #166 UnigramStream pattern for
  * the third subword family, completing the three-family streaming
  * symmetry (#140 LM surprisal, #166 unigram, now WordPiece): a
  * document the frozen vocabulary serves badly — high fertility, or
  * words whose characters the inventory has never seen — is
  * gibberish / wrong-language / OOD relative to the tokenizer's
  * training distribution, and an ingest gate reads that signal
  * without retraining per batch (a retrain would make verdicts
  * arrival-order-dependent).
  *
  * Inventory and greedy march are single-sourced from the batch
  * family ([[graft.operators.Wordpiece.frozenInventory]] /
  * `segFoldSql` — BERT's greedy longest-match, Wu et al. 2016 §4.1),
  * so stream and batch can never segment divergently; on a replay of
  * the training corpus the stream reproduces #182's per-word piece
  * counts EXACTLY (spec-pinned).
  *
  * OOV semantics (impossible in the self-trained batch ops, routine
  * at admission): a word containing a character absent from the
  * inventory cannot complete the greedy march — the fold's position
  * sticks below length+1 (no `l ≥ 1` symbol matches at the stuck
  * position) — and such words count as `n_oov_words`; fertility is
  * computed over the marchable words. Unlike the unigram DP there is
  * NO length guard: the march is O(len · maxPieceLen) per word TYPE,
  * linear in the word, so arbitrarily long words segment (their
  * fertility then trips the gate if they are junk). Admission
  * requires BOTH gates, the #166 thresholds: oov share ≤
  * [[OovMaxPermille]] AND fertility ≤ [[FertilityMaxPermille]].
  *
  * Scale: scoring is STATELESS (the only streaming state is source
  * progress) — per batch: a batch-local word-type collapse (the #127
  * move, so the fold runs once per type per batch, not per
  * occurrence), the broadcast inventory literal (model-sized: ≤
  * alphabet + TrainRounds symbols), one per-doc aggregate.
  */
object WordpieceStream {

  /** Admission gates (integer permille, floor division — exact in
    * any engine). The fertility line is FAMILY-CALIBRATED, not #166's
    * 2500: a TrainRounds-merge WordPiece vocabulary segments its own
    * training corpus at ≈ 3850‰ (the #183 audit) with per-doc peaks
    * near the char-fallback ceiling (≈ 5100‰ = mean word length at
    * spec scale), so the junk line sits just above the self-corpus
    * band — a doc past 5.5 pieces/word is beyond even this small
    * vocabulary's worst honest text. The OOV gate matches #166. */
  val FertilityMaxPermille = 5500L
  val OovMaxPermille = 100L

  /** Frozen-vocabulary scoring of one (micro-)batch: per doc —
    * n_words, n_oov_words, pieces (over marchable words),
    * fertility_permille (NULL when nothing marches), admitted.
    * Wordless docs (empty/whitespace text) emit an explicit
    * n_words=0 / admitted=0 row — no tokenizer-economy signal, but
    * exactly-once consumers still see one verdict per doc. */
  def scoreBatch(docs: DataFrame, inv: Seq[String], maxL: Int): DataFrame = {
    val wp = graft.operators.Wordpiece
    val words = docs
      .select(col("doc_id"),
        explode(split(graft.functions.TextFunctions.normText(col("text")), " "))
          .as("word"))
      .filter(col("word") =!= "")
    val types = words.select("word").distinct()
      .withColumn("inv", typedlit(inv))
      .withColumn("seg", expr(wp.segFoldSql(maxL)))
      // an incomplete march (stuck position) is the OOV signal: NULL
      .select(col("word"),
        when(expr("seg.pos") === length(col("word")) + 1,
          expr("CAST(seg.n AS BIGINT)")).as("n_pieces"))
    val perDoc = words.join(types, Seq("word"), "left")
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
          coalesce(col("fertility_permille") <= FertilityMaxPermille,
            lit(false)))
          .cast("int"))
  }

  /** File-based admission scorer: freeze the WordPiece inventory on
    * `modelDir`'s documents once at query start (driver-collected —
    * model-sized by the vocabulary cap, the typedlit broadcast every
    * batch plan reuses), then score each parquet drop in `inputDir`
    * into `outDir` through [[Admission.batchLog]]. */
  def admitQuery(spark: SparkSession, inputDir: String, schema: StructType,
                 modelDir: String, outDir: String,
                 checkpointDir: String): StreamingQuery = {
    val (inv, maxL) = graft.operators.Wordpiece.frozenInventory(spark, modelDir)
    Admission.batchLog(spark.readStream.schema(schema).parquet(inputDir),
      checkpointDir, outDir, OutputMode.Append())(scoreBatch(_, inv, maxL))
  }
}
