package graft.functions

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Exprs
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for training-data pipelines
  * (SURVEY §2 #35–38): language ID, quality scoring, token counting,
  * document fingerprinting. All pure column compositions (regexp,
  * HOFs, set ops) — codegen'd, map-only, scan-bound at 100 TB.
  *
  * Cross-engine determinism rules: counts and hashes are integers;
  * ratios are single IEEE divisions of integers (bit-identical in
  * DuckDB); the rolling hash runs mod 1e9+7 so every intermediate
  * stays far below 2^63 in both engines.
  */
object TextFunctions {

  /** THE corpus text normalization (lowercase, trim, collapse
    * whitespace). Public and single-sourced: exact dedup, streaming
    * dedup, the content-keyed split, and PII/repetition scoring all
    * key on this normalization — independent copies drifting apart
    * would silently break dedup/split co-location, so every operator
    * references these two definitions (Scala + DuckDB). */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")
  val normTextSql: String =
    "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  private def norm(c: Column): Column = normText(c)
  private val normSql = normTextSql

  // ---------------------------------------------------------------------
  // #35 language ID — stopword-lexicon hits, argmax with fixed order
  // ---------------------------------------------------------------------

  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  /** Unordered langid predictions — shared by the #35 query (which
    * adds its deterministic output sort) and #100's confusion matrix
    * (whose join + groupBy destroy ordering, so inheriting the global
    * sort would be a wasted corpus-wide range shuffle per eval run). */
  private def langIdUnordered(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), norm(col("text")).as("norm"))
      .withColumn("toks", array_distinct(split(col("norm"), " ")))
    val withHits = Lexicons.foldLeft(d) { case (df, (lang, words)) =>
      df.withColumn(s"${lang}_hits",
        size(array_intersect(col("toks"), array(words.map(lit): _*))))
    }
    val maxHits = greatest(Lexicons.map { case (l, _) => col(s"${l}_hits") }: _*)
    val pred = Lexicons.foldRight(lit("und"): Column) { case ((l, _), acc) =>
      when(col(s"${l}_hits") === maxHits && maxHits > 0, l).otherwise(acc)
    }
    // foldRight gives en > es > de > fr tie preference
    withHits
      .select((Seq(col("doc_id"), pred.as("pred_lang")) ++
        Lexicons.map { case (l, _) => col(s"${l}_hits").as(s"${l}_hits") }): _*)
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdUnordered(spark, dir).orderBy("doc_id")

  val langIdSql: String = {
    val lex = Lexicons.map { case (l, ws) =>
      s"len(list_intersect(toks, [${ws.map(w => s"'$w'").mkString(", ")}])) AS ${l}_hits"
    }.mkString(",\n    ")
    val maxExpr = Lexicons.map { case (l, _) => s"${l}_hits" }
      .mkString("GREATEST(", ", ", ")")
    val predCase = Lexicons.map { case (l, _) =>
      s"WHEN ${l}_hits = mx AND mx > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""WITH d AS (
      |  SELECT doc_id, list_distinct(string_split($normSql, ' ')) AS toks
      |  FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    $lex
      |  FROM d
      |), m AS (SELECT *, $maxExpr AS mx FROM h)
      |SELECT doc_id, $predCase AS pred_lang,
      |  CAST(en_hits AS INT) AS en_hits, CAST(es_hits AS INT) AS es_hits,
      |  CAST(de_hits AS INT) AS de_hits, CAST(fr_hits AS INT) AS fr_hits
      |FROM m
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #36 quality scoring
  // ---------------------------------------------------------------------

  private val EnStop = Lexicons.head._2

  /** Stopword-token count as ONE codegen'd regexp_count: lookaround
    * anchors (` `-padded norm) match whole tokens without consuming
    * the separating space, so adjacent stopwords both count — the
    * same integers as filtering the token array, minus the
    * interpreted-HOF cost (filter/array_contains lambdas never enter
    * whole-stage codegen and dominated this map-only scan ~2×). */
  private[graft] val StopTokRe = s"(?<= )(${EnStop.mkString("|")})(?= )"

  def quality(spark: SparkSession, dir: String): DataFrame = {
    // orderBy the bare scan FIRST: the range-partitioner's sampling
    // pass then re-executes only the column read, not the regex work.
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .withColumn("norm", norm(col("text")))
    d.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(split(col("norm"), " ")).as("n_words"),
        regexp_count(col("norm"), lit("[^a-z0-9 ]")).as("n_punct"),
        regexp_count(concat(lit(" "), col("norm"), lit(" ")), lit(StopTokRe))
          .as("n_stop"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_words"))
      .withColumn("quality_ok",
        (col("n_words") >= 10 && col("stop_ratio") < 0.5 &&
          col("n_punct") * 5 <= col("n_words")).cast("int"))
  }

  val qualitySql: String = {
    val lex = EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH d AS (
      |  SELECT doc_id, text, $normSql AS norm,
      |    string_split($normSql, ' ') AS toks
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars,
      |  CAST(len(toks) AS INT) AS n_words,
      |  CAST(len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS INT) AS n_punct,
      |  CAST(len(list_filter(toks, t -> list_contains($lex, t))) AS INT) AS n_stop,
      |  CAST(len(list_filter(toks, t -> list_contains($lex, t))) AS DOUBLE)
      |    / len(toks) AS stop_ratio,
      |  CAST(CASE WHEN len(toks) >= 10
      |        AND CAST(len(list_filter(toks, t -> list_contains($lex, t))) AS DOUBLE) / len(toks) < 0.5
      |        AND len(regexp_extract_all(norm, '[^a-z0-9 ]')) * 5 <= len(toks)
      |       THEN 1 ELSE 0 END AS INT) AS quality_ok
      |FROM d
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #37 token counting
  // ---------------------------------------------------------------------

  private val BpeIsh = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), norm(col("text")).as("norm"))
      .select(
        col("doc_id"),
        size(split(col("norm"), " ")).as("ws_tokens"),
        regexp_count(col("norm"), lit(BpeIsh)).as("re_tokens"),
        length(col("norm")).as("n_chars_norm"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents)
      |SELECT doc_id,
      |  CAST(len(string_split(norm, ' ')) AS INT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(norm, '$BpeIsh')) AS INT) AS re_tokens,
      |  CAST(length(norm) AS INT) AS n_chars_norm
      |FROM d
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // #38 document fingerprint — rolling polynomial hash + md5
  // ---------------------------------------------------------------------

  /** acc' = (acc·131 + charcode) mod 1e9+7 over the normalized text,
    * via the codegen'd [[SketchFunctions.PolyHash]] kernel (the
    * interpreted `aggregate(split(…))` HOF computes the same value
    * ~50× slower on document-length strings). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), norm(col("text")).as("norm"))
      .select(
        col("doc_id"),
        SketchFunctions.poly_hash(col("norm")).as("poly_hash"),
        md5(col("norm")).as("md5_fp"),
        length(col("norm")).as("n_chars_norm"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents)
      |SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(norm, ''), ch -> CAST(ord(ch) AS BIGINT))),
      |    (acc, c) -> (acc * 131 + c) % 1000000007) AS poly_hash,
      |  md5(norm) AS md5_fp,
      |  CAST(length(norm) AS INT) AS n_chars_norm
      |FROM d
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // word n-grams as ONE codegen'd expression
  // ---------------------------------------------------------------------

  /** Static so generated code can call it: space-joined word n-grams
    * of a (normalized, single-spaced) string in one pass. Value-equal
    * to the chained `zip_with(concat)` + null-filter formulation, but
    * those 4 HOF lambdas are interpreted per ELEMENT (the same class
    * of cost as every other HOF hot path this library has replaced);
    * this loop splits once and builds each gram with one StringBuilder
    * sweep. Mirrors `split(s, ' ')` semantics exactly (trailing empty
    * tokens kept, empty input → [""] → no n-grams for n > 1). */
  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val words = s.toString.split(" ", -1)
    val m = words.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ARRAY<STRING> of the space-joined word n-grams of a string. */
  case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      wordNgrams(v.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.TextFunctions$$.MODULE$$.wordNgrams($a, $n)")
    override protected def withNewChildInternal(c: Expression): WordNgrams =
      copy(child = c)
  }

  def word_ngrams(c: Column, n: Int): Column =
    Exprs.toColumn(WordNgrams(Exprs.toExpression(c), n))

  /** #100 Language-ID evaluation: confusion matrix of the n-gram
    * classifier's predictions against the labeled `lang` column —
    * the quality-measurement step a corpus pipeline runs before
    * trusting langid-based filtering. One extra shuffle over #35
    * (the tiny (label, pred) key space); the label join is by doc_id
    * on the same single-sourced scan, so Catalyst collapses it to
    * one pass over documents. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.load(spark, dir, "documents").select("doc_id", "lang")
    langIdUnordered(spark, dir).join(labels, "doc_id")
      .groupBy(col("lang").as("label_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label_lang", "pred_lang")
  }

  val langIdEvalSql: String =
    s"""WITH p AS (
      |$langIdSql
      |)
      |SELECT d.lang AS label_lang, p.pred_lang, COUNT(*) AS n
      |FROM p JOIN documents d USING (doc_id)
      |GROUP BY 1, 2
      |ORDER BY label_lang, pred_lang""".stripMargin

  // ---------------------------------------------------------------------
  // #136 text_surprisal — unigram-LM cross-entropy quality signal
  // (CCNet, Wenzek et al. 2020 filter web text by LM perplexity; this
  // is the self-trained unigram member of that family). The reference
  // has no analogue; it joins the quality battery (#36, #83) as the
  // corpus-statistics-driven scorer — a doc of globally-rare tokens
  // scores high surprisal (gibberish / boilerplate IDs), a doc of
  // common function words scores low.
  // ---------------------------------------------------------------------

  /** Fixed-point log2 of a positive integer, exact and
    * engine-independent: log2fp(x) = Q·⌊log2 x⌋ + T[mantissa], in
    * units of 2⁻¹⁰ bits (Q = 1024). ⌊log2 x⌋ is binary-digit count −
    * 1 (`bin()` renders the same string in Spark and DuckDB); the
    * mantissa is the next 10 bits of x extracted by integer
    * shift/divide; T is a 1024-entry table of ⌊Q·log2(1 + i/Q)⌋
    * precomputed in Scala (StrictMath — one libm call at PLAN BUILD
    * time) and embedded as the SAME literal array in the Spark plan
    * and the generated DuckDB oracle, so both engines evaluate pure
    * integer arithmetic on identical constants. This is how LM-style
    * scoring stays inside the no-transcendentals rule every
    * oracle-compared pipeline here follows (libm ln/log2 may round
    * differently per engine; IEEE +,−,×,÷ may not): ~0.002-bit
    * quantization instead of the whole-bit floor that flattens a
    * natural-language frequency spectrum to a constant.
    * Monotone non-decreasing in x; log2fp(1) = 0; valid domain
    * 1 ≤ x < 2⁶³ (the full positive BIGINT range): the mantissa is
    * extracted by shifting x DOWN to 11 significant bits (divide by
    * 2^(bits−11), or multiply up only when bits < 11, where x < 2¹⁰),
    * so no intermediate ever exceeds x itself — the earlier `x·Q`
    * formulation silently wrapped past x > 2⁵³ in non-ANSI mode
    * (round-11 advisory). Bit-identical to the old formula on its
    * whole old domain: ⌊x/2^(b−11)⌋ = ⌊x·2¹⁰/2^(b−1)⌋ exactly. */
  val LogQ = 1024
  private val logTable: IndexedSeq[Long] =
    (0 until LogQ).map(i => math.floor(
      LogQ * (StrictMath.log((LogQ + i).toDouble / LogQ) / StrictMath.log(2.0))).toLong)

  /** Scala rendering of the same formula — the driver-side twin for
    * operators whose training loop runs locally under a vocab cap
    * (the Bpe.localTrain pattern). Bit-identical to the SQL kernels:
    * same table, same shift/divide mantissa extraction. */
  def log2fpLong(x: Long): Long = {
    require(x >= 1, s"log2fp domain: $x")
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val mant =
      if (bits > 11) x / (1L << (bits - 11)) else x * (1L << (11 - bits))
    LogQ.toLong * (bits - 1) + logTable((mant - LogQ).toInt)
  }

  /** Spark-SQL rendering of log2fp over expression `x` (must be a
    * duplication-safe fragment — a column name or cheap arithmetic). */
  def log2fpExpr(x: String): String = {
    val t = logTable.mkString(", ")
    s"(CAST($LogQ AS BIGINT) * (length(bin($x)) - 1) + element_at(array($t), " +
      s"CAST((CASE WHEN length(bin($x)) > 11 " +
      s"THEN ($x) div shiftleft(CAST(1 AS BIGINT), length(bin($x)) - 11) " +
      s"ELSE ($x) * shiftleft(CAST(1 AS BIGINT), 11 - length(bin($x))) END) " +
      s"- $LogQ AS INT) + 1))"
  }

  /** DuckDB rendering of the same formula — same table constant,
    * dialect-only differences (`//` integer division, `<<` shift,
    * 1-based list indexing). */
  def log2fpSqlDuck(x: String): String = {
    val t = logTable.mkString(", ")
    s"(CAST($LogQ AS BIGINT) * (length(bin($x)) - 1) + [$t]" +
      s"[CAST((CASE WHEN length(bin($x)) > 11 " +
      s"THEN ($x) // (CAST(1 AS BIGINT) << (length(bin($x)) - 11)) " +
      s"ELSE ($x) * (CAST(1 AS BIGINT) << (11 - length(bin($x)))) END) " +
      s"- $LogQ AS INT) + 1])"
  }

  /** Per-doc unigram surprisal: token surprisal is
    * log2fp(N) − log2fp(c(tok)) ≈ log2(N / c(tok)) in 2⁻¹⁰-bit
    * units, where c is the corpus-wide occurrence count and N the
    * total token count — the corpus IS the language model, no
    * held-out training set. `mean_bits` converts to real bits per
    * token with one exact IEEE division.
    *
    * Scale shape: one token explode (the same frame the vocab
    * aggregate consumes — Catalyst reuses the scan), a
    * map-side-combined vocab count, a token→vocab shuffle join (the
    * vocab is corpus-wide so it canNOT be broadcast at 100 TB — AQE
    * broadcasts it at test scale on its own), and a per-doc aggregate.
    * The 1-row total crosses as a broadcast cross join, never a
    * driver-side scalar job. */
  /** Unordered per-doc surprisal frame — shared by the #136 query
    * (which adds its deterministic output sort) and #138's tercile
    * bucketing (whose rank/join stages destroy ordering, so
    * inheriting the global sort would be a wasted corpus-wide range
    * shuffle — the langIdUnordered lesson). */
  /** The corpus unigram model: (tok, c) occurrence counts over the
    * whitespace tokens of the normalized text — the single-sourced
    * "training" artifact shared by batch surprisal and the streaming
    * admission scorer ([[graft.streaming.SurprisalStream]]), so the
    * two can never train on divergent tokenizations. */
  private[graft] def unigramVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), norm(col("text")).as("norm"))
      .select(explode(split(col("norm"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))

  private[graft] def surprisalUnordered(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), norm(col("text")).as("norm"))
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // the token total rides a window over the vocabulary-sized frame
    // (r21): the scalar-aggregate + crossJoin spelling made `vocab` a
    // two-consumer node — the corpus token explode + vocab aggregate
    // ran twice per evaluation. Frame bound (unpartitioned window):
    // one row per distinct normalized token, so the vocabulary, not
    // the corpus, sizes its one partition — the same frame BPE
    // training collects whole to the driver
    val vocab = unigramVocab(spark, dir)
      .withColumn("n_total", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
    toks.join(vocab, "tok")
      .withColumn("sbits",
        expr(log2fpExpr("n_total")) - expr(log2fpExpr("c")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("sbits")).as("bits_q10"))
      .withColumn("mean_bits",
        col("bits_q10").cast("double") / (col("n_toks") * LogQ))
  }

  def surprisal(spark: SparkSession, dir: String): DataFrame =
    surprisalUnordered(spark, dir).orderBy("doc_id")

  val surprisalSql: String = {
    val sb = s"(${log2fpSqlDuck("n_total")} - ${log2fpSqlDuck("c")})"
    s"""WITH t AS (
      |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, tok FROM t WHERE tok <> ''
      |), v AS (
      |  SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok
      |), tot AS (
      |  SELECT SUM(c) AS n_total FROM v
      |)
      |SELECT doc_id, COUNT(*) AS n_toks,
      |  CAST(SUM($sb) AS BIGINT) AS bits_q10,
      |  CAST(SUM($sb) AS DOUBLE) / (COUNT(*) * $LogQ) AS mean_bits
      |FROM tk JOIN v USING (tok) CROSS JOIN tot
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_langid" -> langId,
    "text_langid_eval" -> langIdEval,
    "text_quality" -> quality,
    "text_tokens" -> tokenCounts,
    "text_fingerprint" -> fingerprint,
    "text_surprisal" -> surprisal)

  val oracle: Map[String, String] = Map(
    "text_langid" -> langIdSql,
    "text_langid_eval" -> langIdEvalSql,
    "text_quality" -> qualitySql,
    "text_tokens" -> tokenCountsSql,
    "text_fingerprint" -> fingerprintSql,
    "text_surprisal" -> surprisalSql)
}
