package graft.operators

import graft.Tables
import graft.functions.SketchFunctions.{kmin_values, poly_hash, PolyP}
import graft.functions.TextFunctions.{normText, normTextSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #63 sketch_distinct — per-source distinct-token estimation with the
  * bounded-state KMV sketch ([[graft.functions.SketchFunctions]]).
  *
  * The exact `count_distinct` column rides along as the accuracy
  * witness: at the test SFs both are cheap, and the oracle checking
  * est vs exact side by side documents the sketch's error honestly.
  * At 100 TB you would keep only the sketch column — the whole point
  * is that its shuffle traffic is k·8 bytes per (group, map task)
  * while exact distinct expands every (source, token) pair.
  *
  * DuckDB oracle: the k smallest distinct hashes per group via
  * DISTINCT + window rank, then the identical integer estimate
  * formula — the sketch's merge algebra is exactly "min-k of the
  * union", so a sorted-rank reformulation reproduces it bit-for-bit.
  */
object Sketch {

  val K = 64

  def sketchDistinct(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(normText(col("text")), " ")).as("tok"))
      .withColumn("hv", poly_hash(col("tok")))
    toks.groupBy("source")
      .agg(
        kmin_values(col("hv"), K).as("kmins"),
        count_distinct(col("tok")).as("n_exact"))
      .select(
        col("source"),
        size(col("kmins")).as("n_kept"),
        when(size(col("kmins")) >= K, element_at(col("kmins"), K))
          .otherwise(lit(-1L)).as("kth_min"),
        when(size(col("kmins")) < K, size(col("kmins")).cast("long"))
          .otherwise(expr(s"CAST(${K - 1} AS BIGINT) * ${PolyP}L div element_at(kmins, $K)"))
          .as("distinct_est"),
        col("n_exact"))
      .orderBy("source")
  }

  val sketchDistinctSql: String =
    s"""WITH toks AS (
      |  SELECT source, unnest(string_split($normTextSql, ' ')) AS tok
      |  FROM documents
      |), h AS (
      |  SELECT DISTINCT source,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(tok, ''), ch -> CAST(ord(ch) AS BIGINT))),
      |      (acc, c) -> (acc * 131 + c) % $PolyP) AS hv
      |  FROM toks
      |), r AS (
      |  SELECT source, hv,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
      |  FROM h
      |), k AS (
      |  SELECT source, COUNT(*) AS n_kept,
      |    MAX(CASE WHEN rn = $K THEN hv END) AS hk
      |  FROM r WHERE rn <= $K GROUP BY source
      |), x AS (
      |  SELECT source, COUNT(DISTINCT tok) AS n_exact FROM toks GROUP BY source
      |)
      |SELECT k.source,
      |  CAST(k.n_kept AS INT) AS n_kept,
      |  COALESCE(k.hk, -1) AS kth_min,
      |  CAST(CASE WHEN k.n_kept < $K THEN k.n_kept
      |            ELSE (CAST(${K - 1} AS BIGINT) * $PolyP) // k.hk END AS BIGINT) AS distinct_est,
      |  x.n_exact
      |FROM k JOIN x ON k.source = x.source
      |ORDER BY k.source""".stripMargin

  // ---------------------------------------------------------------------
  // #81 sketch_heavy — Count-Min heavy hitters under fixed memory
  // ---------------------------------------------------------------------

  /** Count-Min geometry: d×w cells of 8 bytes is the WHOLE sketch
    * state — 4×512 here. The affine row-hash family
    * ((2j+3)·hv + 13j+5) mod P mod w reuses the minhash permutation
    * family (P prime, multipliers non-zero mod P). */
  val CmsRows = 4
  val CmsWidth = 512
  val CmsTopK = 20

  /** Top-`CmsTopK` tokens by Count-Min estimate, with the exact count
    * riding along as the accuracy witness (CMS only ever
    * OVER-estimates: est ≥ exact, spec-asserted).
    *
    * Scale: token occurrences collapse to (tok, count) with one
    * map-side-combined aggregate; the sketch itself aggregates to
    * d·w = 2048 cells — the partial-agg state per task is bounded by
    * the CELL count, not the token count, which is the entire point
    * of CMS: at 100 TB the cells frame is still 2048 rows and
    * broadcast back to the estimate join for free. The final top-k is
    * a TakeOrderedAndProject (never a full sort). */
  /** (tok, cnt_exact, hv) → one row per (tok, hash row j) with its
    * cell coordinate. */
  private[graft] def cmsRows(occ: DataFrame): DataFrame =
    occ.select(col("tok"), col("cnt_exact"), col("hv"),
        explode(expr(s"sequence(0, ${CmsRows - 1})")).as("j"))
      .withColumn("bucket",
        ((col("hv") * (col("j") * 2 + 3) + (col("j") * 13 + 5)) % PolyP)
          % CmsWidth)

  /** The sketch itself: d×w cells. Partial-agg state per task is
    * bounded by the CELL count — ScaleSpec measures the exchange
    * above the partial aggregate to prove it. */
  private[graft] def cmsCellsOf(rows: DataFrame): DataFrame =
    rows.groupBy("j", "bucket").agg(sum("cnt_exact").as("cell"))

  def sketchHeavy(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.load(spark, dir, "documents")
      .select(explode(split(normText(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt_exact"))
      .withColumn("hv", poly_hash(col("tok")))
    val rows = cmsRows(occ)
    val cells = cmsCellsOf(rows)
    rows
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("tok", "cnt_exact").agg(min("cell").as("est"))
      .select(col("tok"), col("est").cast("long").as("est"),
        col("cnt_exact").cast("long").as("cnt_exact"))
      .orderBy(col("est").desc, col("tok"))
      .limit(CmsTopK)
  }

  val sketchHeavySql: String =
    s"""WITH toks AS (
      |  SELECT unnest(string_split($normTextSql, ' ')) AS tok FROM documents
      |), occ AS (
      |  SELECT tok, COUNT(*) AS cnt_exact FROM toks GROUP BY tok
      |), h AS (
      |  SELECT tok, cnt_exact,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(tok, ''), ch -> CAST(ord(ch) AS BIGINT))),
      |      (acc, c) -> (acc * 131 + c) % $PolyP) AS hv
      |  FROM occ
      |), rows_ AS (
      |  SELECT tok, cnt_exact, hv, j,
      |    ((hv * (2*j + 3) + (13*j + 5)) % $PolyP) % $CmsWidth AS bucket
      |  FROM h CROSS JOIN (SELECT unnest(range(0, $CmsRows)) AS j)
      |), cells AS (
      |  SELECT j, bucket, SUM(cnt_exact) AS cell FROM rows_ GROUP BY j, bucket
      |), est AS (
      |  SELECT r.tok, r.cnt_exact, MIN(c.cell) AS est
      |  FROM rows_ r JOIN cells c ON c.j = r.j AND c.bucket = r.bucket
      |  GROUP BY r.tok, r.cnt_exact
      |)
      |SELECT tok, CAST(est AS BIGINT) AS est, CAST(cnt_exact AS BIGINT) AS cnt_exact
      |FROM est
      |ORDER BY est DESC, tok
      |LIMIT $CmsTopK""".stripMargin

  // ---------------------------------------------------------------------
  // #102 sketch_hll — HyperLogLog-style register sketch (per source)
  // ---------------------------------------------------------------------

  /** Register count m = 2^6. With poly-hash values < PolyP ≈ 2^30,
    * the suffix w = hv div 64 carries < 2^24, so ρ ∈ [1, 24] and 25
    * is the w=0 sentinel. */
  val HllRegisters = 64
  val HllMaxRho = 25
  /** 2^HllMaxRho: scaling Σ2^-ρ by this turns the harmonic-mean
    * denominator into an exact BIGINT sum (order-independent —
    * a raw double Σ2^-ρ would round differently under Spark's
    * nondeterministic add order vs DuckDB's). */
  val HllScale = 1L << HllMaxRho

  /** HyperLogLog cardinality registers per source: register j takes
    * the max over tokens of ρ = 1 + trailing-zeros of the hash
    * suffix. Everything is integer algebra — the lowest set bit is
    * isolated with w & −w and matched against exact powers of two,
    * and the estimate denominator is the scaled BIGINT sum — so both
    * engines produce bit-identical registers AND estimates. Unlike
    * KMV (#63) the sketch state is a FIXED 64-byte register file per
    * group regardless of k or cardinality; the shuffle after the
    * partial max carries ≤ m rows per (source, task). The exact
    * distinct count deliberately does NOT ride along here — at
    * 100 TB the register file is the whole shuffle. */
  /** HLL register file per key group: max-of-ρ per (keys, register).
    * This is the MERGEABLE partial form — registers for a finer key
    * split merge into the coarser sketch by plain register-max
    * (spec-proven), which is exactly how 100 TB re-aggregation or
    * day→month sketch rollups work without touching raw data. */
  private[graft] def hllRegistersOf(toks: DataFrame, keys: String*): DataFrame = {
    val rhoCol = (1 until HllMaxRho).foldRight(lit(HllMaxRho): org.apache.spark.sql.Column) {
      case (k, acc) => when(col("lb") === lit(1L << (k - 1)), lit(k)).otherwise(acc)
    }
    toks
      .withColumn("hv", poly_hash(col("tok")))
      .withColumn("j", col("hv") % HllRegisters)
      .withColumn("w", expr(s"hv div $HllRegisters"))
      .withColumn("lb", col("w").bitwiseAND(-col("w")))
      .withColumn("rho", rhoCol)
      .groupBy(keys.head, keys.tail :+ "j": _*).agg(max("rho").as("r"))
  }

  def sketchHll(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    // NULL text contributes no token (split of NULL explodes to
    // nothing, as the oracle's unnest does), so the source grid comes
    // from the documents, not the sketch: a source whose texts are all
    // NULL keeps its m register rows at r = 0
    val regs = hllRegistersOf(
      docs.select(col("source"),
        explode(split(normText(col("text")), " ")).as("tok")),
      "source")
    val grid = docs.select("source").distinct()
      .crossJoin(broadcast(
        spark.range(HllRegisters).select(col("id").as("j"))))
    val win = Window.partitionBy("source")
    grid.join(regs, Seq("source", "j"), "left")
      .na.fill(0, Seq("r"))
      .withColumn("term", expr(s"shiftright(CAST($HllScale AS BIGINT), CAST(r AS INT))"))
      .withColumn("ssum", sum("term").over(win))
      .withColumn("zeros", sum(when(col("r") === 0, 1L).otherwise(0L)).over(win))
      .withColumn("est_hll",
        lit(0.709) * lit((HllRegisters.toLong * HllRegisters).toDouble) * lit(HllScale.toDouble) / col("ssum").cast("double"))
      .select(col("source"), col("j"), col("r").cast("long").as("r"),
        col("zeros"), col("est_hll"))
      .orderBy("source", "j")
  }

  val sketchHllSql: String = {
    val ladder = (1 until HllMaxRho)
      .map(k => s"WHEN lb = ${1L << (k - 1)} THEN $k").mkString(" ")
    s"""WITH toks AS (
      |  SELECT source, unnest(string_split($normTextSql, ' ')) AS tok
      |  FROM documents
      |), h AS (
      |  SELECT source,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(tok, ''), ch -> CAST(ord(ch) AS BIGINT))),
      |      (acc, c) -> (acc * 131 + c) % $PolyP) AS hv
      |  FROM toks
      |), b AS (
      |  SELECT source, hv % $HllRegisters AS j, hv // $HllRegisters AS w FROM h
      |), rho AS (
      |  SELECT source, j,
      |    CASE $ladder ELSE $HllMaxRho END AS rho
      |  FROM (SELECT source, j, w, (w & (-w)) AS lb FROM b)
      |), regs AS (
      |  SELECT source, j, MAX(rho) AS r FROM rho GROUP BY 1, 2
      |), grid AS (
      |  SELECT s.source, g.j
      |  FROM (SELECT DISTINCT source FROM documents) s
      |  CROSS JOIN (SELECT unnest(range(0, $HllRegisters)) AS j) g
      |), filled AS (
      |  SELECT g.source, g.j, COALESCE(regs.r, 0) AS r
      |  FROM grid g LEFT JOIN regs ON g.source = regs.source AND g.j = regs.j
      |), s AS (
      |  SELECT *, SUM($HllScale >> r) OVER (PARTITION BY source) AS ssum,
      |    SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) OVER (PARTITION BY source) AS zeros
      |  FROM filled
      |)
      |SELECT source, j, CAST(r AS BIGINT) AS r, CAST(zeros AS BIGINT) AS zeros,
      |  CAST(0.709 AS DOUBLE) * CAST(${HllRegisters * HllRegisters} AS DOUBLE) * CAST($HllScale AS DOUBLE)
      |    / CAST(ssum AS DOUBLE) AS est_hll
      |FROM s
      |ORDER BY source, j""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #120 events_actives_hll — rolling 7-day distinct actives from
  // MERGED day sketches (the long-window scale path)
  // ---------------------------------------------------------------------

  /** Rolling 7-day distinct-active-user estimate per day from
    * MERGEABLE day-level HLL register files: the fact is scanned ONCE
    * into per-(day, j) registers — 64 longs per day is the entire
    * reduction state — and each window is a register-MAX merge of its
    * ≤7 day sketches, never a re-scan or re-shuffle of raw
    * (user, day) pairs. This is the production path when the exact
    * day-explode (#118) stops being cheap: a 90-day MAU window
    * re-aggregates 90×64 longs per day instead of fanning the thinned
    * fact ×90, and closed days' sketches are reusable indefinitely
    * (the mergeability the HLL spec proves: max-merge of finer-key
    * partials equals the coarser-key registers). Same integer-exact
    * algebra as #102: scaled-BIGINT harmonic sum (order-independent),
    * zero-register count emitted for consumer-side linear counting,
    * doubles only in the final division of identical exact inputs. */
  def eventsActivesHll(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(expr("ts_s div 86400").as("day"),
        col("user_id").cast("string").as("tok"))
    val dayRegs = hllRegistersOf(ud, "day")
    val winRegs = dayRegs
      .select(explode(sequence(col("day"), col("day") + lit(6))).as("day"),
        col("j"), col("r"))
      .groupBy("day", "j").agg(max("r").as("r"))
    // day domain from the aggregated sketches, NOT from `ud` — every
    // observed day has at least one register, so the result is
    // identical and the fact really is scanned once (a distinct() on
    // the uncached `ud` plan would re-scan the events table)
    val grid = dayRegs.select("day").distinct()
      .crossJoin(broadcast(
        spark.range(HllRegisters).select(col("id").as("j"))))
    grid.join(winRegs, Seq("day", "j"), "left")
      .na.fill(0, Seq("r"))
      .withColumn("term",
        expr(s"shiftright(CAST($HllScale AS BIGINT), CAST(r AS INT))"))
      .groupBy("day")
      .agg(sum("term").as("ssum"),
        sum(when(col("r") === 0, 1L).otherwise(0L)).as("zeros"))
      .withColumn("est_wau",
        lit(0.709) * lit((HllRegisters.toLong * HllRegisters).toDouble) *
          lit(HllScale.toDouble) / col("ssum").cast("double"))
      .select(col("day"), col("ssum"), col("zeros"), col("est_wau"))
      .orderBy("day")
  }

  val eventsActivesHllSql: String = {
    val ladder = (1 until HllMaxRho)
      .map(k => s"WHEN lb = ${1L << (k - 1)} THEN $k").mkString(" ")
    s"""WITH ud AS (
      |  SELECT epoch_ns(ts)//1000000000//86400 AS day,
      |         CAST(user_id AS VARCHAR) AS tok
      |  FROM events
      |), h AS (
      |  SELECT day,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(tok, ''), ch -> CAST(ord(ch) AS BIGINT))),
      |      (acc, c) -> (acc * 131 + c) % $PolyP) AS hv
      |  FROM ud
      |), b AS (
      |  SELECT day, hv % $HllRegisters AS j, hv // $HllRegisters AS w FROM h
      |), rho AS (
      |  SELECT day, j, CASE $ladder ELSE $HllMaxRho END AS rho
      |  FROM (SELECT day, j, w, (w & (-w)) AS lb FROM b)
      |), dayregs AS (
      |  SELECT day, j, MAX(rho) AS r FROM rho GROUP BY 1, 2
      |), winregs AS (
      |  SELECT day + off AS day, j, MAX(r) AS r
      |  FROM dayregs CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6]) AS off) o
      |  GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.day, g.j
      |  FROM (SELECT DISTINCT day FROM ud) d
      |  CROSS JOIN (SELECT unnest(range(0, $HllRegisters)) AS j) g
      |), filled AS (
      |  SELECT grid.day, grid.j, COALESCE(w.r, 0) AS r
      |  FROM grid LEFT JOIN winregs w
      |    ON grid.day = w.day AND grid.j = w.j
      |)
      |SELECT day, CAST(SUM($HllScale >> r) AS BIGINT) AS ssum,
      |  CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros,
      |  CAST(0.709 AS DOUBLE) * CAST(${HllRegisters * HllRegisters} AS DOUBLE)
      |    * CAST($HllScale AS DOUBLE)
      |    / CAST(SUM($HllScale >> r) AS DOUBLE) AS est_wau
      |FROM filled
      |GROUP BY day
      |ORDER BY day""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #121 sketch_gap_quantiles — bounded log-bucket quantile sketch
  // (HDR-histogram / DDSketch family), the scale twin of #85
  // ---------------------------------------------------------------------

  /** (event_type, key, est, cnt) log-bucket histogram of per-user
    * inter-event gaps. Bucketing is PURE INTEGER algebra so both
    * engines agree bit-for-bit (no log()/log2() — float rounding at
    * power-of-2 boundaries would flip buckets between JVMs/engines):
    * for v = gap+1, msb = length(bin(v))-1, ex = max(msb-4, 0),
    * sub = v >> ex ∈ [16,31] (v itself below 32); key = ex·16+sub is
    * monotone in v and the bucket midpoint (sub<<ex) + 2^(ex-1) is
    * within 1/32 relative of every v in the bucket. Exposed for the
    * mergeability spec: the histogram of a union is the per-key SUM
    * of the parts' histograms.
    *
    * Contract (same as the streaming twin documents): ts_s must be
    * non-decreasing in event_id within a (user, type) stream. A feed
    * that violates it yields NEGATIVE gaps, and bin() of a negative
    * long is its 64-bit two's-complement — ex=59 garbage octaves that
    * would silently skew every quantile (and both engines would agree,
    * so the oracle could never catch it). Out-of-order gaps are
    * therefore dropped (v ≥ 1) on BOTH sides rather than folded into
    * the histogram. */
  private[graft] def gapBucketsOf(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Window.partitionBy("user_id", "event_type")
      .orderBy("event_id")
    e.withColumn("prev_ts", lag("ts_s", 1).over(perUser))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_type"), (col("ts_s") - col("prev_ts") + 1).as("v"))
      .filter(col("v") >= 1)
      .withColumn("ex",
        greatest(length(bin(col("v"))).cast("long") - 5, lit(0L)))
      .withColumn("sub", expr("shiftright(v, CAST(ex AS INT))"))
      .select(col("event_type"), (col("ex") * 16 + col("sub")).as("key"),
        expr("""shiftleft(sub, CAST(ex AS INT))
               |  + shiftright(shiftleft(CAST(1 AS BIGINT), CAST(ex AS INT)), 1)
               |  - 1""".stripMargin).as("est"))
      .groupBy("event_type", "key")
      .agg(min("est").as("est"), count(lit(1)).as("cnt"))
  }

  private[graft] def gapBuckets(spark: SparkSession, dir: String): DataFrame =
    gapBucketsOf(Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_s")))

  /** The same bucket algebra as the SQL above, as a Scala kernel for
    * the streaming twin ([[graft.streaming.GapQuantileStream]]):
    * key = ex·16 + (v >> ex) with ex = max(bitlength(v) − 5, 0). The
    * synthetic-range spec recomputes bounds/midpoints independently,
    * pinning kernel ⇄ SQL equivalence. */
  private[graft] def gapBucketKey(v: Long): Long = {
    val ex = math.max(64 - java.lang.Long.numberOfLeadingZeros(v) - 5, 0)
    ex.toLong * 16 + (v >> ex)
  }

  /** Bucket midpoint estimate for a key (inverse of [[gapBucketKey]]'s
    * (ex, sub) packing), as a GAP (the v = gap+1 shift undone). */
  private[graft] def gapBucketEst(key: Long): Long = {
    val ex = math.max(key / 16 - 1, 0L)
    val sub = key - ex * 16
    (sub << ex) + ((1L << ex) >> 1) - 1
  }

  /** Approximate gap quantiles (p50/p90/p99, ≤ 1/32 relative error)
    * from the bounded histogram — the 100 TB path where #85's exact
    * per-(type, gap) histogram stops being cheap: the reduction state
    * here is ≤ 16 buckets per OCTAVE of gap range per type (a few
    * hundred rows total, independent of data size), map-side combined
    * in one shuffle; closed-period histograms are mergeable by per-key
    * sum, so a day's sketch is computed once and reused, never
    * re-scanned. Same threshold selection as the exact twin, over
    * bucket midpoints — integer-deterministic end to end. */
  def sketchGapQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = gapBuckets(spark, dir)
    val cum = hist.withColumn("cum",
      sum("cnt").over(Window.partitionBy("event_type").orderBy("key")))
    val n = hist.groupBy("event_type")
      .agg(sum("cnt").as("n"), count(lit(1)).as("n_buckets"))
    def q(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("est"))).as(s"p${p}_est")
    cum.join(n, "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n_gaps"), max("n_buckets").as("n_buckets"),
        q(50), q(90), q(99))
      .orderBy("event_type")
  }

  val sketchGapQuantilesSql: String =
    s"""WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         epoch_ns(ts)//1000000000 AS ts_s
      |  FROM events
      |), g AS (
      |  SELECT event_type,
      |    ts_s - lag(ts_s) OVER (PARTITION BY user_id, event_type
      |                           ORDER BY event_id) AS gap
      |  FROM e
      |), v AS (
      |  SELECT event_type, gap + 1 AS v FROM g
      |  WHERE gap IS NOT NULL AND gap >= 0
      |), k AS (
      |  SELECT event_type,
      |    GREATEST(CAST(length(bin(v)) AS BIGINT) - 5, 0) AS ex, v
      |  FROM v
      |), key AS (
      |  SELECT event_type, ex * 16 + (v >> ex) AS key,
      |    ((v >> ex) << ex) + ((CAST(1 AS BIGINT) << ex) >> 1) - 1 AS est
      |  FROM k
      |), hist AS (
      |  SELECT event_type, key, MIN(est) AS est, COUNT(*) AS cnt
      |  FROM key GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, key, est, cnt,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY key) AS cum
      |  FROM hist
      |), n AS (
      |  SELECT event_type, SUM(cnt) AS n, COUNT(*) AS n_buckets FROM hist
      |  GROUP BY 1
      |)
      |SELECT cum.event_type,
      |  CAST(MAX(n.n) AS BIGINT) AS n_gaps,
      |  CAST(MAX(n.n_buckets) AS BIGINT) AS n_buckets,
      |  MIN(CASE WHEN cum.cum * 100 >= n.n * 50 THEN cum.est END) AS p50_est,
      |  MIN(CASE WHEN cum.cum * 100 >= n.n * 90 THEN cum.est END) AS p90_est,
      |  MIN(CASE WHEN cum.cum * 100 >= n.n * 99 THEN cum.est END) AS p99_est
      |FROM cum JOIN n ON cum.event_type = n.event_type
      |GROUP BY cum.event_type
      |ORDER BY cum.event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_distinct" -> ((s, d) => sketchDistinct(s, d)),
    "sketch_heavy" -> ((s, d) => sketchHeavy(s, d)),
    "sketch_hll" -> ((s, d) => sketchHll(s, d)),
    "events_actives_hll" -> ((s, d) => eventsActivesHll(s, d)),
    "sketch_gap_quantiles" -> ((s, d) => sketchGapQuantiles(s, d)))

  val oracle: Map[String, String] = Map(
    "sketch_distinct" -> sketchDistinctSql,
    "sketch_heavy" -> sketchHeavySql,
    "sketch_hll" -> sketchHllSql,
    "events_actives_hll" -> eventsActivesHllSql,
    "sketch_gap_quantiles" -> sketchGapQuantilesSql)
}
