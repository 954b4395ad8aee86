package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer segmentation (SURVEY §2 #163) — the OTHER
  * major subword family next to BPE (#127/#128/#150): SentencePiece's
  * unigram model (Kudo 2018) segments each word into the
  * minimum-total-cost sequence of vocabulary pieces via Viterbi DP,
  * where a piece's cost is its negative log probability. This
  * implementation keeps the model deterministic and cross-engine
  * exact instead of EM-trained:
  *
  *  - piece inventory = every corpus character (l=1, guaranteeing
  *    every word segments) + the top [[SubK]] substrings of length
  *    2..[[MaxPieceLen]] by corpus occurrence weight (ties: piece
  *    asc) — the count-based seeding SentencePiece itself starts EM
  *    from;
  *  - cost(p) = log2fp(N) − log2fp(c(p)) in 2⁻¹⁰-bit integer units
  *    (the #136 kernel — no transcendental crosses an engine
  *    boundary), N = Σc over the kept inventory;
  *  - Viterbi: dp[i] = min over piece lengths L of dp[i−L] +
  *    cost(word[i−L+1..i]), both (cost, piece-count) carried in ONE
  *    encoded BIGINT (cost·1024 + n_pieces, n_pieces < 1024), so the
  *    lexicographic (cost, fewest-pieces) optimum is a plain integer
  *    MIN — ties yield equal encodings, making the output unique
  *    regardless of which optimal path an engine prefers. `least()`
  *    skips NULL candidates in BOTH engines, and a missing piece
  *    lookup is NULL by construction (try_element_at / map_extract).
  *
  * Scale shape: the corpus collapses to its word VOCABULARY before
  * any per-word work (the #127 move — bounded by the language, not
  * the corpus); the piece model is chars + SubK rows → ONE broadcast
  * map; the DP is a per-word fold over ≤ word-length steps with
  * MaxPieceLen candidate lookups each — map-only over the vocabulary,
  * no shuffle beyond the two model aggregates. The oracle replays
  * inventory, costs, and the full DP (as a recursive CTE carrying the
  * dp list — the corpus_pack fold pattern) and value-matches the
  * encoded optimum per word.
  */
object Unigram {

  /** Multi-char inventory cap (chars are always kept). */
  val SubK = 256
  /** Longest piece considered (SentencePiece default trims similarly;
    * bounds the DP fan-in and the candidate explosion). */
  val MaxPieceLen = 4
  /** n_pieces bits in the encoded DP value (words are far shorter). */
  val EncBase = 1024L

  private def norm = graft.functions.TextFunctions.normText _

  /** (word, cnt) vocabulary of the corpus. */
  private def wordVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(split(norm(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Kept piece inventory with integer q10 costs: all chars + top-SubK
    * multi-char substrings, weighted by word count × occurrences. */
  private def pieceCosts(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val words = wordVocab(spark, dir)
    // substrings of length 1..MaxPieceLen at every position, with
    // duplicates (each occurrence weighs): the slice guard caps the
    // position list at max(len-l+1, 0) entries so short words emit
    // nothing for long l (Spark's sequence(1, 0) would run DESCENDING)
    val subs = words.select(col("cnt"), explode(expr(
      s"""flatten(transform(sequence(1, $MaxPieceLen), l ->
         |  slice(transform(sequence(1, greatest(length(word) - l + 1, 1)),
         |                  s -> substring(word, s, l)),
         |        1, greatest(length(word) - l + 1, 0))))""".stripMargin))
      .as("piece"))
      .groupBy("piece").agg(sum("cnt").as("c"))
    val chars = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece")).limit(SubK)
    val kept = chars.unionAll(multi)
    // n_total as an unpartitioned window over the MODEL-sized kept
    // frame. Frame bound: ≤ distinct chars + SubK rows (`multi` is
    // limited to SubK above) — the waterFill/NTILE precedent,
    // r21: the former scalar-aggregate + crossJoin made `kept` a
    // two-consumer frame, so the whole substring-explode aggregation
    // chain above ran TWICE per evaluation (once for the total, once
    // for the output rows)
    kept
      .withColumn("n_total", sum("c").over(
        org.apache.spark.sql.expressions.Window
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(col("piece"), col("c"),
        (expr(tf.log2fpExpr("n_total")) - expr(tf.log2fpExpr("c")))
          .as("cost_q10"))
  }

  /** #164 vocab_unigram — the trained piece inventory as a query: the
    * model ARTIFACT a production pipeline exports and ships to its
    * streaming/tokenizing consumers (exactly what vocab_train #127
    * is to the BPE family). One row per kept piece with its corpus
    * weight and q10 cost. */
  def vocabUnigram(spark: SparkSession, dir: String): DataFrame =
    pieceCosts(spark, dir)
      .select(col("piece"), col("c"), col("cost_q10"))
      .orderBy("piece")

  /** Per-position candidate: dp[i−L] + cost(word[i−L+1..i]) encoded,
    * NULL when the prefix is too short or the piece is unknown. */
  private def candSql(l: Int): String =
    s"""CASE WHEN i - $l >= 0
       |  THEN element_at(acc, i - $l + 1)
       |       + try_element_at(pm, substring(word, i - $l + 1, $l)) * $EncBase + 1
       |  ELSE NULL END""".stripMargin

  /** Unordered per-word segmentation frame (word, cnt, n_pieces,
    * cost_q10) — shared by the #163 query (which adds its output
    * sort) and #165's per-language rollup (whose join/group stages
    * destroy ordering; the surprisalUnordered lesson). */
  /** The frozen model as a 1-row (pm: MAP<piece, cost>) frame — the
    * broadcast artifact the batch DP and the streaming admission twin
    * ([[graft.streaming.UnigramStream]]) both consume. */
  private[graft] def pieceMapFrame(spark: SparkSession, dir: String): DataFrame =
    pieceCosts(spark, dir)
      .agg(map_from_entries(collect_list(struct(col("piece"), col("cost_q10"))))
        .as("pm"))

  /** The per-word Viterbi as a SQL fragment over columns `word` and
    * `pm` — ONE definition for the batch segmentation and the
    * streaming scorer. NULL when any character lacks a piece (an
    * admission-time possibility; impossible on the training corpus
    * whose chars all enter the inventory). */
  private[graft] def dpExprSql: String = dpFoldSql(
    "acc -> element_at(acc, size(acc))")

  private def dpFoldSql(finish: String): String = {
    val cands = (1 to MaxPieceLen).map(candSql).mkString("least(\n", ",\n", ")")
    s"""aggregate(sequence(1, length(word)), array(CAST(0 AS BIGINT)),
       |  (acc, i) -> array_append(acc, $cands),
       |  $finish)""".stripMargin
  }

  private def segmented(spark: SparkSession, dir: String): DataFrame = {
    val pm = pieceMapFrame(spark, dir)
    wordVocab(spark, dir)
      // encoding guard: n_pieces ≤ word length must stay below EncBase
      // or it would bleed into the cost bits — a 1024+-char "word" is
      // boilerplate/garbage at web scale (SentencePiece caps input the
      // same way); both engines drop it identically
      .filter(length(col("word")) < EncBase.toInt)
      .crossJoin(broadcast(pm))
      .withColumn("best", expr(dpExprSql))
      .select(col("word"), col("cnt").as("w_cnt"),
        expr(s"best % $EncBase").as("n_pieces"),
        expr(s"best div $EncBase").as("cost_q10"))
  }

  def unigramTokens(spark: SparkSession, dir: String): DataFrame =
    segmented(spark, dir).orderBy("word")

  /** #165 vocab_unigram_fertility — the unigram twin of #150's BPE
    * fertility audit, making the two tokenizer families directly
    * comparable per language: word OCCURRENCES rejoin their type's
    * segmentation (the vocabulary-collapsed DP never reruns per
    * occurrence), then one #langs-row aggregate derives fertility
    * (1000·pieces/words) and chars-per-piece. The segmentation side
    * is model-bounded (word types), so at scale the join broadcasts;
    * integer floor ratios with NULLIF guards, exactly #150's
    * contract. */
  def unigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.load(spark, dir, "documents")
      .select(col("lang"), explode(split(norm(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    occ.join(segmented(spark, dir).select("word", "n_pieces"), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("words"),
        sum(length(col("word")).cast("long")).as("chars"),
        sum(col("n_pieces")).as("pieces"))
      .withColumn("fertility_permille",
        expr("pieces * 1000L div nullif(words, 0L)"))
      .withColumn("chars_per_piece_permille",
        expr("chars * 1000L div nullif(pieces, 0L)"))
      .orderBy("lang")
  }

  /** Shared DuckDB DP CTEs (piece map + recursive Viterbi fold + the
    * per-word segmentation results) appended to [[modelCtes]]. */
  private def dpCtes: String = {
    def duckCand(l: Int): String =
      s"""CASE WHEN i + 1 - $l >= 0
         |  THEN acc[i + 1 - $l + 1]
         |       + map_extract(pm, substr(word, i + 1 - $l + 1, $l))[1] * $EncBase + 1
         |  ELSE NULL END""".stripMargin
    val cands = (1 to MaxPieceLen).map(duckCand).mkString("least(\n", ",\n", ")")
    s""", pmap AS (
       |  SELECT map(list(piece ORDER BY piece), list(cost_q10 ORDER BY piece)) AS pm
       |  FROM costs
       |), dp AS (
       |  -- encoding guard mirrored from the Spark side: segment only
       |  -- words shorter than EncBase (piece stats above stay global)
       |  SELECT word, cnt, 0 AS i, [CAST(0 AS BIGINT)] AS acc FROM w
       |  WHERE length(word) < $EncBase
       |  UNION ALL
       |  SELECT word, cnt, i + 1,
       |    list_append(acc, $cands)
       |  FROM dp, pmap
       |  WHERE i < length(word)
       |), seg AS (
       |  SELECT word, cnt,
       |    acc[length(word) + 1] % $EncBase AS n_pieces,
       |    acc[length(word) + 1] // $EncBase AS cost_q10
       |  FROM dp
       |  WHERE i = length(word)
       |)""".stripMargin
  }

  val unigramTokensSql: String =
    s"""WITH RECURSIVE $modelCtes$dpCtes
       |SELECT word, cnt AS w_cnt, n_pieces, cost_q10
       |FROM seg
       |ORDER BY word""".stripMargin

  val unigramFertilitySql: String = {
    val normSql = graft.functions.TextFunctions.normTextSql
    s"""WITH RECURSIVE $modelCtes$dpCtes, occ AS (
       |  SELECT lang, word FROM (
       |    SELECT lang, unnest(string_split($normSql, ' ')) AS word FROM documents)
       |  WHERE word <> ''
       |)
       |SELECT lang, COUNT(*) AS words,
       |  CAST(SUM(length(word)) AS BIGINT) AS chars,
       |  CAST(SUM(n_pieces) AS BIGINT) AS pieces,
       |  CAST(SUM(n_pieces) AS BIGINT) * 1000
       |    // NULLIF(COUNT(*), 0) AS fertility_permille,
       |  CAST(SUM(length(word)) AS BIGINT) * 1000
       |    // NULLIF(CAST(SUM(n_pieces) AS BIGINT), 0) AS chars_per_piece_permille
       |FROM occ JOIN seg USING (word)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** Shared DuckDB CTE prefix (vocab → substrings → kept inventory →
    * costs) — rendered once so #163's oracle and #164's can never
    * disagree on the model. */
  private def modelCtes: String = {
    val tf = graft.functions.TextFunctions
    s"""w AS (
       |  SELECT word, COUNT(*) AS cnt FROM (
       |    SELECT unnest(string_split(${tf.normTextSql}, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word
       |), subs AS (
       |  SELECT piece, SUM(cnt) AS c FROM (
       |    SELECT cnt, unnest(flatten(list_transform(range(1, ${MaxPieceLen + 1}), l ->
       |      list_transform(range(1, length(word) - l + 2), s -> substr(word, s, l))))) AS piece
       |    FROM w)
       |  GROUP BY piece
       |), kept AS (
       |  SELECT piece, c FROM subs WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rk
       |    FROM subs WHERE length(piece) > 1)
       |  WHERE rk <= $SubK
       |), tot AS (SELECT SUM(c) AS n_total FROM kept
       |), costs AS (
       |  SELECT piece, c,
       |    (${tf.log2fpSqlDuck("n_total")} - ${tf.log2fpSqlDuck("c")}) AS cost_q10
       |  FROM kept, tot
       |)""".stripMargin
  }

  val vocabUnigramSql: String =
    s"""WITH $modelCtes
       |SELECT piece, CAST(c AS BIGINT) AS c, cost_q10
       |FROM costs
       |ORDER BY piece""".stripMargin

  // ---------------------------------------------------------------------
  // #173 vocab_unigram_em — EM-refined inventory (the step SentencePiece
  // actually trains with, Kudo 2018 §3.2), giving the unigram family
  // training parity with BPE's iterative #127
  // ---------------------------------------------------------------------

  /** EM rounds over the count-seeded inventory. */
  val EmIters = 2
  /** Per-round prune: keep the top 4/5 of USED multi-char pieces
    * (Kudo prunes a fixed fraction per round toward the target vocab;
    * integer 4/5 keeps the ratio engine-exact). Chars are never
    * pruned — they are the guarantee that every word segments. */
  val EmKeepNum = 4L
  val EmKeepDen = 5L

  /** Per-position candidate with the CHOSEN LENGTH in the low 2 bits:
    * ((dp[i−l] + cost·EncBase + 1)) · MaxPieceLen + (l−1), where the
    * prefix optimum is read back as `div MaxPieceLen`. `least` over
    * the candidates then minimizes (cost, n_pieces, l)
    * lexicographically — the same dp optimum as [[candSql]], with the
    * SHORTEST-length tie-break the former back-walk re-derived by
    * probing the piece map per length per position. The length bits
    * are what the r22 walk reads instead (EM is the only consumer of
    * the full array, so the streaming/tokenizing [[dpExprSql]] fold
    * keeps its unannotated encoding). */
  private def candLenSql(l: Int): String =
    s"""CASE WHEN i - $l >= 0
       |  THEN ((element_at(acc, i - $l + 1) div $MaxPieceLen)
       |       + try_element_at(pm, substring(word, i - $l + 1, $l)) * $EncBase + 1)
       |       * $MaxPieceLen + ${l - 1}
       |  ELSE NULL END""".stripMargin

  private def dpAccsLenSql: String = {
    val cands = (1 to MaxPieceLen).map(candLenSql).mkString("least(\n", ",\n", ")")
    s"""aggregate(sequence(1, length(word)), array(CAST(0 AS BIGINT)),
       |  (acc, i) -> array_append(acc, $cands),
       |  acc -> acc)""".stripMargin
  }

  /** Viterbi BACK-WALK over the length-annotated dp array: from the
    * word's end, the chosen piece at position i is the length the dp
    * fold recorded in dp[i]'s low bits (= the shortest length whose
    * candidate reproduces the optimum — `least` ties break toward
    * smaller length because the length occupies the LOW bits, exactly
    * the former probe-every-length walk's pick). Yields the best
    * path's pieces — the hard-EM sufficient statistics — with three
    * array reads per position instead of up to MaxPieceLen piece-map
    * probes (r22). */
  private def backWalkSql: String = {
    def len = s"(CAST(element_at(accs, st.i + 1) % $MaxPieceLen AS INT) + 1)"
    s"""aggregate(sequence(1, length(word)),
       |  named_struct('i', CAST(length(word) AS INT),
       |               'ps', CAST(array() AS ARRAY<STRING>)),
       |  (st, x) -> CASE WHEN st.i <= 0 THEN st ELSE
       |    named_struct('i', st.i - $len,
       |      'ps', array_append(st.ps,
       |        substring(word, st.i - $len + 1, $len))) END,
       |  st -> st.ps)""".stripMargin
  }

  /** One hard-EM round: segment the word vocabulary under the current
    * costs, re-estimate piece counts from the best paths (weighted by
    * word frequency), prune the bottom 1/5 of used multi-char pieces,
    * recost over the survivors. Chars keep a count floor of 1 so
    * every cost stays finite and every word keeps segmenting. */
  private def emRound(words: DataFrame, inv: DataFrame): DataFrame = {
    val tf = graft.functions.TextFunctions
    val pm = inv
      .agg(map_from_entries(collect_list(struct(col("piece"), col("cost_q10"))))
        .as("pm"))
    val counts = words
      .crossJoin(broadcast(pm))
      .withColumn("accs", expr(dpAccsLenSql))
      .select(col("cnt"), explode(expr(backWalkSql)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("c"))
    val chars = inv.filter(length(col("piece")) === 1).select("piece")
      .join(counts, Seq("piece"), "left")
      .select(col("piece"),
        greatest(coalesce(col("c"), lit(0L)), lit(1L)).as("c"))
    val mc = counts.filter(length(col("piece")) > 1)
    // model-sized global windows. Frame bound: every counted piece
    // comes from `inv`, the previous model (≤ distinct chars + SubK
    // rows), so `mc` has ≤ SubK rows and `kept` ≤ chars + SubK — the
    // same single-partition sort pieceCosts' top-SubK limit does. r21:
    // the multi-piece count rides the SAME window pass (count over
    // the whole frame) instead of a separate scalar aggregate +
    // crossJoin whose subplan re-ran the DP/back-walk counts chain.
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val multi = mc
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("piece"))))
      .withColumn("nm", count(lit(1)).over(wAll))
      .filter(col("rk") <=
        expr(s"greatest(nm * $EmKeepNum div $EmKeepDen, 1L)"))
      .select("piece", "c")
    val kept = chars.unionByName(multi)
    // n_total as a window over the model-sized kept frame — the
    // scalar-aggregate + crossJoin spelling evaluated the whole
    // segmentation chain TWICE per round (see pieceCosts, r21)
    kept
      .withColumn("n_total", sum("c").over(wAll))
      .select(col("piece"), col("c"),
        (expr(tf.log2fpExpr("n_total")) - expr(tf.log2fpExpr("c")))
          .as("cost_q10"))
  }

  /** #173's inventory: [[EmIters]] hard-EM rounds from the count
    * seed. Each round's model is pinned ([[graft.Checkpoints]]) —
    * only O(model) rows ever materialize, the kmeans/#127 pattern. */
  private[graft] def emInventory(spark: SparkSession, dir: String): DataFrame = {
    val words = graft.Checkpoints.pin(
      wordVocab(spark, dir).filter(length(col("word")) < EncBase.toInt))
    var inv = pieceCosts(spark, dir)
    for (_ <- 1 to EmIters)
      inv = graft.Checkpoints.pin(emRound(words, inv))
    inv
  }

  def vocabUnigramEm(spark: SparkSession, dir: String): DataFrame =
    emInventory(spark, dir)
      .select(col("piece"), col("c"), col("cost_q10"))
      .orderBy("piece")

  /** The oracle replays every round: dp under the previous inventory
    * (recursive CTE), the back-walk (recursive CTE choosing the
    * shortest matching length — the Spark tie-break verbatim),
    * counts, prune, recost. The #127 iterative-oracle precedent,
    * with two recursive CTEs per round. */
  private def emRoundCtes(t: Int): String = {
    val prev = s"einv${t - 1}"
    def cand(l: Int): String =
      s"""CASE WHEN i + 1 - $l >= 0
         |  THEN acc[i + 1 - $l + 1]
         |       + map_extract(pm, substr(word, i + 1 - $l + 1, $l))[1] * $EncBase + 1
         |  ELSE NULL END""".stripMargin
    val cands = (1 to MaxPieceLen).map(cand).mkString("least(\n", ",\n", ")")
    def bwCond(l: Int): String =
      s"""i - $l >= 0 AND acc[i - $l + 1]
         |  + map_extract(pm, substr(word, i - $l + 1, $l))[1] * $EncBase + 1
         |  = acc[i + 1]""".stripMargin
    val bwLen = (1 to MaxPieceLen)
      .map(l => s"WHEN ${bwCond(l)} THEN $l").mkString("CASE ", " ", " END")
    val bwPiece = (1 to MaxPieceLen)
      .map(l => s"WHEN ${bwCond(l)} THEN substr(word, i - $l + 1, $l)")
      .mkString("CASE ", " ", " END")
    s"""epm$t AS MATERIALIZED (
       |  SELECT map(list(piece ORDER BY piece), list(cost_q10 ORDER BY piece)) AS pm
       |  FROM $prev
       |), edp$t AS (
       |  SELECT word, cnt, 0 AS i, [CAST(0 AS BIGINT)] AS acc FROM w
       |  WHERE length(word) < $EncBase
       |  UNION ALL
       |  SELECT word, cnt, i + 1, list_append(acc, $cands)
       |  FROM edp$t, epm$t
       |  WHERE i < length(word)
       |), ebw$t AS (
       |  SELECT word, cnt, length(word) AS i, acc, CAST(NULL AS VARCHAR) AS piece
       |  FROM edp$t WHERE i = length(word)
       |  UNION ALL
       |  SELECT word, cnt, i - ($bwLen), acc, $bwPiece
       |  FROM ebw$t, epm$t
       |  WHERE i > 0
       |), ecnt$t AS (
       |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
       |  FROM ebw$t WHERE piece IS NOT NULL GROUP BY piece
       |), ekept$t AS (
       |  SELECT k.piece, CAST(GREATEST(COALESCE(c.c, 0), 1) AS BIGINT) AS c
       |  FROM (SELECT piece FROM $prev WHERE length(piece) = 1) k
       |  LEFT JOIN ecnt$t c USING (piece)
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c,
       |      row_number() OVER (ORDER BY c DESC, piece) AS rk,
       |      COUNT(*) OVER () AS nm
       |    FROM ecnt$t WHERE length(piece) > 1)
       |  WHERE rk <= GREATEST(nm * $EmKeepNum // $EmKeepDen, 1)
       |), etot$t AS (SELECT SUM(c) AS n_total FROM ekept$t
       |), einv$t AS MATERIALIZED (
       |  SELECT piece, c,
       |    (${graft.functions.TextFunctions.log2fpSqlDuck("n_total")}
       |     - ${graft.functions.TextFunctions.log2fpSqlDuck("c")}) AS cost_q10
       |  FROM ekept$t, etot$t
       |)""".stripMargin
  }

  val vocabUnigramEmSql: String =
    s"""WITH RECURSIVE $modelCtes, einv0 AS MATERIALIZED (
       |  SELECT piece, c, cost_q10 FROM costs
       |),
       |${(1 to EmIters).map(emRoundCtes).mkString(",\n")}
       |SELECT piece, CAST(c AS BIGINT) AS c, cost_q10
       |FROM einv$EmIters
       |ORDER BY piece""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_unigram_tokens" -> ((s: SparkSession, d: String) => unigramTokens(s, d)),
    "vocab_unigram" -> ((s: SparkSession, d: String) => vocabUnigram(s, d)),
    "vocab_unigram_em" -> ((s: SparkSession, d: String) => vocabUnigramEm(s, d)),
    "vocab_unigram_fertility" ->
      ((s: SparkSession, d: String) => unigramFertility(s, d)))

  def oracle: Map[String, String] = Map(
    "text_unigram_tokens" -> unigramTokensSql,
    "vocab_unigram" -> vocabUnigramSql,
    "vocab_unigram_em" -> vocabUnigramEmSql,
    "vocab_unigram_fertility" -> unigramFertilitySql)
}
