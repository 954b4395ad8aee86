package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY §2 #33–34).
  *
  * - ann_bruteforce: exact top-k cosine — the correctness baseline.
  *   The (tiny) query set is broadcast against the corpus, so the scan
  *   side never shuffles its vectors; only the k·|queries| result rows
  *   move. Integer dot/norms are exact; the ranking key
  *   dot/√(na·nb) is a single IEEE expression, identical in DuckDB.
  * - ann_lsh: random-hyperplane LSH — the 100 TB path. Hyperplane
  *   signs are derived from xxhash64(plane, dim), so the "random"
  *   projection is deterministic, shippable to any engine, and needs
  *   no stored model. Each probe touches only its 8-bit bucket
  *   (~1/256 of the corpus under ideal balance).
  *
  * Quantization contract (shared with Dedup #32): q = ⌊1000·x⌋ per
  * component — float→double is exact, ·1000 and floor are IEEE-defined,
  * so both engines derive identical integer vectors.
  */
object Similarity {

  val TopK = 10

  /** The shared ANN ranking tail over a candidate frame with columns
    * (query_id, vec_id, dot, nq, nc): exact cosine from the integer
    * dot/norms, per-query row_number with the vec_id tiebreak, keep
    * TopK, deterministic output order. ONE definition for every ANN
    * variant — a tiebreak or scoring change here cannot leave one of
    * the five pipelines behind. */
  private[operators] def rankTopK(cand: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    cand
      .withColumn("cosine",
        col("dot").cast("double") /
          sqrt(col("nq").cast("double") * col("nc").cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot"),
        col("nq"), col("nc"))
      .orderBy("query_id", "rank")
  }

  /** The shared approximate-shortlist → exact-rerank tail of the
    * quantized ANN variants (ann_int8, ann_pq, ann_ivfpq): rank the
    * candidate frame (query_id, vec_id, adot, nq, nc) by its
    * approximate cosine, keep `depth` candidates per query, re-score
    * ONLY those against the full quantized corpus `v` and finish
    * through [[rankTopK]]. `queries` is the (vec_id, q, nn) query
    * frame. The shortlist is written in the row_number ≤ k idiom,
    * which the TopKRewrite rule plans as the bounded-heap TopKPerKey
    * operator; both rerank joins broadcast the ≤ queries·depth
    * shortlist rows, so the corpus never shuffles. */
  private[operators] def rerankTopK(approx: DataFrame, depth: Int,
                                    v: DataFrame, queries: DataFrame): DataFrame = {
    val wa = Window.partitionBy("query_id")
      .orderBy(col("acos").desc, col("vec_id"))
    val shortlist = approx
      .withColumn("acos",
        col("adot").cast("double") /
          sqrt(col("nq").cast("double") * col("nc").cast("double")))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= depth)
      .select(col("query_id"), col("vec_id").as("cand_id"))
    val qvec = queries.select(col("vec_id").as("query_id"), col("q").as("qq"),
      col("nn").as("nq"))
    val candq = shortlist.join(broadcast(qvec), "query_id")
    rankTopK(v.join(broadcast(candq), col("vec_id") === col("cand_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions.dot_l(col("q"), col("qq")).as("dot"),
        col("nq"), col("nn").as("nc")))
  }

  val NumQueries = 5
  /** Planes sized so the EXPECTED BUCKET stays ~`target` vectors:
    * ceil(log2(n / target)), floored at the 4 planes the sub-10k test
    * corpora verify against (identical behavior at every tested SF —
    * the derivation only kicks in beyond ~8k vectors). The count is a
    * parquet-metadata job, not a scan. Raising planes leaves per-
    * bucket cost flat while bucket count absorbs corpus growth — the
    * knob a 100 TB corpus needs turned automatically. */
  def planesFor(n: Long, target: Long = 500): Int = {
    val buckets = math.max(1L, n / target)
    val ceilLog2 =
      if (buckets <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.max(4, ceilLog2)
  }

  /** 4 hyperplanes → 16 buckets: each probe touches ~1/16 of the
    * corpus while leaving ~30 candidates per bucket at the 500-vector
    * test scale (8 planes starve recall on near-orthogonal vectors —
    * tune planes so bucket size stays O(k·fanout) at the target SF). */
  val Planes = 4

  /** The #32 shared integer-quantization contract — single-sourced in
    * [[graft.Constants.QuantizeExprSql]] (with its DuckDB twin) so
    * Spark operators, oracles, and the SemanticStream row-side
    * quantize can never drift. */
  val QuantizeExprSql: String = graft.Constants.QuantizeExprSql

  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), expr(QuantizeExprSql).as("q"))
      .withColumn("nn", graft.functions.VectorFunctions.norm_sq_l(col("q")))

  /** Dataset-level sizing statistics, memoized per data directory.
    *
    * `planesFor` needs a scalar (row count / distinct-vector count)
    * BEFORE the plan is built, so it cannot ride inside the main job —
    * but re-running the sizing job on every invocation turned the
    * dedup_embedding_lsh hot path into two scans of the embeddings
    * table per call (VERDICT r10: the per-invocation
    * approx_count_distinct driver job was the main suspect for the
    * 6–12 s cold passes). The input directories are immutable snapshots
    * (driver-generated parquet), so the statistic is a property of the
    * path: compute once, remember. This mirrors what a production
    * deployment gets from catalog statistics (ANALYZE TABLE) — sizing
    * from a stored stat, not a fresh scan per query. Callers that
    * mutate data under a path can bypass the cache via the explicit
    * `planes` override every consumer exposes. */
  private val sizingCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Approx distinct quantized-vector count for `dir`, cached. */
  private[operators] def distinctQuantizedCount(spark: SparkSession, dir: String): Long =
    sizingCache.computeIfAbsent(
      "distinct_q:" + dir,
      _ => quantized(spark, dir)
        .agg(approx_count_distinct(col("q")).as("n")).head.getLong(0))

  /** Embeddings row count for `dir` (parquet metadata job), cached. */
  private[operators] def embeddingsCount(spark: SparkSession, dir: String): Long =
    sizingCache.computeIfAbsent(
      "count:" + dir,
      _ => Tables.load(spark, dir, "embeddings").count())

  // ---------------------------------------------------------------------
  // #33 ann_bruteforce
  // ---------------------------------------------------------------------

  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val v = quantized(spark, dir)
    val queries = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nn").as("nq"))
    rankTopK(v.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("nq"), col("nn").as("nc"),
        graft.functions.VectorFunctions.dot_l(col("q"), col("qq")).as("dot")))
  }

  val annBruteforceSql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    ${graft.Constants.QuantizeDuckSql} AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nn
      |  FROM q
      |), p AS (
      |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
      |    CAST(list_sum(list_transform(range(1, 65), i -> qs.v[i] * c.v[i])) AS BIGINT) AS dot,
      |    CAST(qs.nn AS BIGINT) AS nq, CAST(c.nn AS BIGINT) AS nc
      |  FROM n qs JOIN n c ON qs.vec_id < $NumQueries AND c.vec_id <> qs.vec_id
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
      |               vec_id) AS rank
      |  FROM p
      |)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dot, nq, nc
      |FROM r
      |WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // #34 ann_lsh — hyperplane-bucketed probe (rows+spec)
  // ---------------------------------------------------------------------

  /** Bucket code over `planes` hyperplanes: bit j set iff
    * Σ_i sign(xxhash64(j,i))·q_i > 0. Plane count is the bucket-size
    * knob — buckets ≈ corpus/2^planes, so planes must GROW with the
    * corpus (log2(n / target bucket size)) for the probe cost to stay
    * flat at 100 TB. Implemented as a codegen'd expression over a
    * cached sign matrix — the interpreted nested-HOF formulation
    * (kept below for the parity spec) re-hashed xxhash64 per element
    * per row and alone cost ~3 s on the bench corpus. */
  def codeExpr(planes: Int): Column =
    graft.functions.VectorFunctions.hyperplane_code(col("q"), planes)

  /** The original SQL-HOF formulation of the same code — slow path,
    * retained ONLY so the spec can assert the expression derives
    * bit-identical codes. */
  def codeExprHof(planes: Int): Column = expr(
    s"""aggregate(sequence(0, ${planes - 1}), CAST(0 AS INT),
       |  (acc, j) -> acc | IF(
       |    aggregate(sequence(0, size(q) - 1), CAST(0 AS BIGINT),
       |      (s, i) -> s + IF((xxhash64(j, i) & 1) = 1,
       |                       element_at(q, i + 1),
       |                       -element_at(q, i + 1))) > 0,
       |    shiftleft(1, j), 0))""".stripMargin)

  def lshCodes(spark: SparkSession, dir: String,
               planes: Int = Planes): DataFrame =
    quantized(spark, dir).withColumn("code", codeExpr(planes))

  /** Multi-probe: each query also probes the `Planes` buckets at
    * hamming distance 1 from its own code — the standard recall
    * recovery for hyperplane LSH (a vector near a hyperplane lands on
    * either side). Probe fan-out rides on the tiny broadcast query
    * side; the corpus is still touched once per matching bucket. */
  def annLsh(spark: SparkSession, dir: String,
             planesOverride: Int = 0): DataFrame = {
    // self-scaling bucket count (identical to the fixed 4 planes at
    // every tested SF; grows as ceil(log2(n/500)) past ~8k vectors);
    // a positive override pins it for LshSweep's operating curves
    val planes =
      if (planesOverride > 0) planesOverride
      else planesFor(embeddingsCount(spark, dir))
    val v = lshCodes(spark, dir, planes)
    val probes = array((0 to planes).map(i =>
      if (i == 0) col("code") else col("code").bitwiseXOR(lit(1 << (i - 1)))): _*)
    val queries = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nn").as("nq"), explode(probes).as("qcode"))
    rankTopK(v.join(broadcast(queries),
        col("code") === col("qcode") && col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"), col("nq"), col("nn").as("nc"),
        graft.functions.VectorFunctions.dot_l(col("q"), col("qq")).as("dot")))
  }

  // ---------------------------------------------------------------------
  // #34b ann_lsh_poly — the SAME hyperplane-bucket + 1-bit multi-probe
  // + exact-rerank pipeline with a PORTABLE sign family
  // (((j+1)·73856093 + d·19349663) mod 1e9+7) mod 2 for plane j and
  // 1-based dim d — integer math both engines compute identically, so
  // the whole ANN bucketing algebra is DuckDB-verifiable END TO END
  // (the ANN analogue of the minhash/simhash poly twins). The
  // xxhash64-sign variant above stays the fast path.
  // ---------------------------------------------------------------------

  private val SignP = 1000000007L
  private val SignA = 73856093L
  private val SignB = 19349663L

  private def polyCodeExpr(planes: Int): Column = expr(
    s"""aggregate(sequence(0, ${planes - 1}), CAST(0 AS INT),
       |  (acc, j) -> acc | IF(
       |    aggregate(sequence(1, size(q)), CAST(0 AS BIGINT),
       |      (s, d) -> s + IF(
       |        ((CAST(j AS BIGINT) + 1) * ${SignA}L
       |          + CAST(d AS BIGINT) * ${SignB}L) % ${SignP}L % 2 = 1,
       |        element_at(q, d), -element_at(q, d))) > 0,
       |    shiftleft(1, j), 0))""".stripMargin)

  def annLshPoly(spark: SparkSession, dir: String): DataFrame = {
    val v = quantized(spark, dir).withColumn("code", polyCodeExpr(Planes))
    val probes = array((0 to Planes).map(i =>
      if (i == 0) col("code") else col("code").bitwiseXOR(lit(1 << (i - 1)))): _*)
    val queries = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nn").as("nq"), explode(probes).as("qcode"))
    rankTopK(v.join(broadcast(queries),
        col("code") === col("qcode") && col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"), col("nq"), col("nn").as("nc"),
        graft.functions.VectorFunctions.dot_l(col("q"), col("qq")).as("dot")))
  }

  val annLshPolySql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    ${graft.Constants.QuantizeDuckSql} AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn
      |  FROM q
      |), codes AS (
      |  SELECT vec_id, v, nn,
      |    CAST(list_sum(list_transform(range(0, $Planes), j ->
      |      CASE WHEN list_sum(list_transform(range(1, 65), d ->
      |        CASE WHEN ((j + 1) * $SignA + d * $SignB) % $SignP % 2 = 1
      |             THEN v[d] ELSE -v[d] END)) > 0
      |      THEN (1 << j) ELSE 0 END)) AS INT) AS code
      |  FROM n
      |), probes AS (
      |  SELECT vec_id AS query_id, v AS qv, nn AS nq,
      |    CASE WHEN p = 0 THEN code ELSE xor(code, (1 << (p - 1))) END AS qcode
      |  FROM codes CROSS JOIN (SELECT unnest(range(0, ${Planes + 1})) AS p)
      |  WHERE vec_id < $NumQueries
      |), cand AS (
      |  SELECT DISTINCT c.vec_id, p.query_id, p.qv, p.nq, c.v, c.nn AS nc
      |  FROM codes c JOIN probes p
      |    ON c.code = p.qcode AND c.vec_id <> p.query_id
      |), scored AS (
      |  SELECT query_id, vec_id, nq, nc,
      |    CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i])) AS BIGINT) AS dot
      |  FROM cand
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
      |               vec_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dot, nq, nc
      |FROM r
      |WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // #48 ann_ivf — inverted-file probe (coarse quantizer + short list)
  // ---------------------------------------------------------------------

  /** Deterministic coarse quantizer seed: 16 corpus vectors (ids
    * 100–115) seed k-means, which then runs KmeansIters Lloyd
    * iterations — each one assignment join (broadcast centroids, one
    * min-struct aggregate) + one groupBy-average (posexplode by
    * dimension, shuffle on (cid, dim) — uniform by construction).
    * Centroid updates are floor(sum/count) per component: integer
    * sums are exact in IEEE doubles, so Spark and DuckDB derive
    * bit-identical centroids and the whole trained index stays
    * oracle-reproducible. */
  val CentroidBase = 100L
  val Centroids = 16
  val KmeansIters = 2
  /** Probe the 4 nearest inverted lists: each query touches ~1/4 of
    * the corpus under balanced assignment (vs 1 list ≈ 1/16 — recall
    * against latency is the nprobe knob, exactly as in FAISS-style
    * IVF). */
  val NProbe = 4

  /** Corpus vector → nearest centroid in `cents` (integer L2²; ties
    * break on cid). The k-row centroid table collapses to ONE
    * broadcast struct-array row and the argmin runs as a compiled
    * per-vector fold ([[graft.functions.VectorFunctions.NearestCidL]])
    * — assignment is a MAP over the corpus, no shuffle at all (r22;
    * the former crossJoin + min-struct groupBy re-shuffled the whole
    * (vec_id, q, nn) corpus once per consumer — per Lloyd iteration,
    * per encode — for an argmin over ≤ k broadcast rows). The fold's
    * explicit (d2, cid) lexicographic min is the exact algebra of the
    * min(struct(d2, cid)) aggregate it replaces, independent of the
    * collect_list order; the null filter reproduces the empty-centroid
    * crossJoin's zero rows. */
  private[operators] def assignTo(v: DataFrame, cents: DataFrame): DataFrame = {
    val ca = cents
      .agg(collect_list(struct(col("cid"), col("cq"), col("cn"))).as("ca"))
    v.crossJoin(broadcast(ca))
      .select(col("vec_id"),
        graft.functions.VectorFunctions
          .nearest_cid_l(col("q"), col("nn"), col("ca")).as("cid"),
        col("q"), col("nn"))
      .filter(col("cid").isNotNull)
  }

  /** Lloyd iterations over the quantized corpus: assign, then replace
    * each centroid with the per-component floor-average of its
    * members (empty clusters drop out, same as the SQL GROUP BY).
    *
    * Each iteration's k-row centroid table is PINNED
    * ([[graft.Checkpoints]]): without it, every downstream reference
    * (the next iteration, the final assignment, the probe ranking)
    * replays the whole training chain from the seed — measured 3
    * extra corpus passes at 2 iterations. Only the O(k) centroids are
    * ever materialized, never corpus-sized data, so the pattern is
    * safe at 100 TB (it is exactly what a k-means fit materializes
    * between iterations). The pin deliberately bypasses `.cache()`:
    * CacheManager keys on the canonicalized plan, so a re-built
    * identical query (another bench pass, a second operator sharing
    * the training chain) would silently REUSE the first run's
    * centroids — mistimed benchmarks plus a stream of "already
    * cached" warnings — where checkpointed blocks are private to
    * this call. */
  def kmeansCentroids(spark: SparkSession, dir: String,
                      iters: Int = KmeansIters): DataFrame =
    kmeansCentroidsFrom(quantized(spark, dir), iters)

  /** The same Lloyd kernel over an arbitrary quantized (vec_id, q, nn)
    * frame — the 'From'-style seam (pqCodebooksFrom's pattern), so the
    * index-freshness audit can train on a historical SNAPSHOT of the
    * corpus (the vectors that existed at index-build time) with the
    * same oracle-proven algebra. The seed window must be inside the
    * frame (ids [CentroidBase, CentroidBase+Centroids)). */
  private[operators] def kmeansCentroidsFrom(v: DataFrame,
                                             iters: Int = KmeansIters): DataFrame = {
    var cents = v
      .filter(col("vec_id") >= CentroidBase &&
        col("vec_id") < CentroidBase + Centroids)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nn").as("cn"))
    for (_ <- 1 to iters) {
      val sums = assignTo(v, cents)
        .select(col("cid"), posexplode(col("q")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
        .select(col("cid"), col("dim"),
          floor(col("s").cast("double") / col("cnt")).cast("long").as("c"))
      cents = graft.Checkpoints.pin(sums.groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)")
          .as("cq"))
        .withColumn("cn", graft.functions.VectorFunctions.norm_sq_l(col("cq")))
        .select(col("cid"), col("cq"), col("cn")))
    }
    cents
  }

  /** Corpus vector → nearest TRAINED centroid. */
  def ivfAssignments(spark: SparkSession, dir: String,
                     iters: Int = KmeansIters): DataFrame =
    assignTo(quantized(spark, dir), kmeansCentroids(spark, dir, iters))

  /** IVF probe: rank centroids per query, scan the NProbe nearest
    * inverted lists, exact-rerank the short list. At scale the
    * candidate join shuffles on cid only; hot lists are bounded by
    * raising Centroids (list size ≈ corpus/K) or salting. */
  def annIvf(spark: SparkSession, dir: String,
             iters: Int = KmeansIters, nProbe: Int = NProbe): DataFrame = {
    val cents = kmeansCentroids(spark, dir, iters)
    val v = quantized(spark, dir)
    val assigned = assignTo(v, cents)
    val wProbe = Window.partitionBy("vec_id")
      .orderBy(col("d2"), col("cid"))
    val probes = v.filter(col("vec_id") < NumQueries)
      .crossJoin(broadcast(cents))
      .withColumn("d2", col("nn") + col("cn") -
        lit(2) * graft.functions.VectorFunctions.dot_l(col("q"), col("cq")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nn").as("nq"), col("cid"))
    rankTopK(assigned.join(broadcast(probes),
        assigned("cid") === probes("cid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("nq"), col("nn").as("nc"),
        graft.functions.VectorFunctions.dot_l(col("q"), col("qq")).as("dot")))
  }

  /** Shared DuckDB CTE chain for k-means training: quantized vectors
    * (q, n), seed centroids (cen0), KmeansIters Lloyd iterations
    * (cen1..cenN) — one Lloyd iteration assigns to cen{k-1} then
    * takes the per-component floor-average (exact in IEEE doubles on
    * integer sums, so trained centroids are bit-identical to the
    * Spark side's). Used by both annIvfSql and corpusDiversitySql. */
  private def kmeansSqlCtes: String = kmeansSqlCtesTrainedOn("TRUE")

  /** The k-means CTE chain with training restricted to `pred` (over
    * `n`'s columns): the freshness audit trains on the index-build
    * snapshot (vec_id < cutoff) while the assignment CTEs that follow
    * still read the FULL `n`. With pred=TRUE this is the classic
    * chain — `ntr` = `n` — so every existing oracle keeps its
    * values. */
  private[operators] def kmeansSqlCtesTrainedOn(pred: String): String = {
    def iterBlock(k: Int): String = {
      val prev = s"cen${k - 1}"
      s"""dst$k AS (
        |  SELECT n.vec_id, n.v, n.nn, c.cid,
        |    n.nn + c.cn
        |      - 2 * CAST(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) AS BIGINT)
        |      AS d2
        |  FROM ntr n CROSS JOIN $prev c
        |), asn$k AS (
        |  SELECT vec_id, v, nn, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM dst$k)
        |  WHERE rn = 1
        |), mu$k AS (
        |  SELECT cid, i, CAST(floor(CAST(SUM(v[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        |  FROM asn$k CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |  GROUP BY cid, i
        |), cen$k AS (
        |  SELECT cid, cv, CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cn
        |  FROM (SELECT cid, list(c ORDER BY i) AS cv FROM mu$k GROUP BY cid)
        |)""".stripMargin
    }
    val training = (1 to KmeansIters).map(iterBlock).mkString(",\n")
    s"""q AS (
      |  SELECT vec_id,
      |    ${graft.Constants.QuantizeDuckSql} AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn
      |  FROM q
      |), ntr AS (
      |  SELECT * FROM n WHERE $pred
      |), cen0 AS (
      |  SELECT vec_id AS cid, v AS cv, nn AS cn FROM ntr
      |  WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + Centroids}
      |),
      |$training""".stripMargin
  }

  val annIvfSql: String = {
    val fin = s"cen$KmeansIters"
    s"""WITH $kmeansSqlCtes,
      |dist AS (
      |  SELECT n.vec_id, n.v, n.nn, c.cid,
      |    n.nn + c.cn
      |      - 2 * CAST(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) AS BIGINT)
      |      AS d2
      |  FROM n CROSS JOIN $fin c
      |), assign AS (
      |  SELECT vec_id, v, nn, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM dist)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS query_id, v AS qv, nn AS nq, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM dist WHERE vec_id < $NumQueries)
      |  WHERE rn <= $NProbe
      |), cand AS (
      |  SELECT p.query_id, a.vec_id, p.nq, a.nn AS nc,
      |    CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * p.qv[i])) AS BIGINT) AS dot
      |  FROM assign a JOIN probes p ON a.cid = p.cid AND a.vec_id <> p.query_id
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
      |               vec_id) AS rank
      |  FROM cand
      |)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dot, nq, nc
      |FROM r
      |WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #80 ann_int8 — scalar-quantized (SQ8) approximate pass + exact
  // rerank, the FAISS-SQ recipe as a relational plan
  // ---------------------------------------------------------------------

  /** Rerank depth: the approximate pass keeps this many candidates
    * per query before the exact pass re-scores them. */
  val Int8Rerank = 50

  /** Per-vector symmetric int8 codes from the SHARED integer
    * quantization contract: scale s = max(1, max_i |q_i|), code
    * c_i = ⌊q_i·127 / s⌋ ∈ [−127, 127]. The floor-div is spelled in
    * pure integer algebra — (a − ((a % s + s) % s)) / s — because
    * truncated `%` on negatives is engine-defined-identical (C
    * semantics in both Spark and DuckDB) while a double division
    * could round differently at quotient boundaries. */
  private[graft] def int8Codes(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .withColumn("sc",
        greatest(lit(1L), expr("array_max(transform(q, x -> abs(x)))")))
      .withColumn("c8", expr(
        "transform(q, x -> (x * 127 - (((x * 127) % sc) + sc) % sc) div sc)"))
      .withColumn("n8", graft.functions.VectorFunctions.norm_sq_l(col("c8")))

  /** SQ8 ANN: the candidate scan reads only (vec_id, c8, n8) — at
    * scale that is the 8×-smaller codes sidecar, not the vector
    * column — ranks by approximate int8 cosine, keeps `Int8Rerank`
    * candidates per query, and re-scores ONLY those against the full
    * quantized vectors ([[rerankTopK]]). Both ranking keys (approx
    * and exact cosine) are single IEEE expressions computed
    * identically by the DuckDB oracle, so the entire encode →
    * approx-rank → rerank pipeline is verified end to end. */
  def annInt8(spark: SparkSession, dir: String): DataFrame = {
    val c = int8Codes(spark, dir)
    val cq = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("c8").as("q8"),
        col("n8").as("n8q"))
    val approx = c.select(col("vec_id"), col("c8"), col("n8"))
      .join(broadcast(cq), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions.dot_l(col("c8"), col("q8")).as("adot"),
        col("n8q").as("nq"), col("n8").as("nc"))
    val v = quantized(spark, dir)
    rerankTopK(approx, Int8Rerank, v, v.filter(col("vec_id") < NumQueries))
  }

  val annInt8Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    ${graft.Constants.QuantizeDuckSql} AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nn
      |  FROM q
      |), s AS (
      |  SELECT vec_id, v, nn,
      |    GREATEST(1, list_max(list_transform(v, x -> abs(x)))) AS sc
      |  FROM n
      |), c AS (
      |  SELECT vec_id, nn,
      |    list_transform(v, x -> (x * 127 - (((x * 127) % sc) + sc) % sc) // sc) AS c8
      |  FROM s
      |), cn AS (
      |  SELECT vec_id, c8, list_sum(list_transform(c8, x -> x * x)) AS n8
      |  FROM c
      |), p AS (
      |  SELECT qs.vec_id AS query_id, cc.vec_id AS vec_id,
      |    list_sum(list_transform(range(1, 65), i -> qs.c8[i] * cc.c8[i])) AS adot,
      |    qs.n8 AS n8q, cc.n8 AS n8c
      |  FROM cn qs JOIN cn cc ON qs.vec_id < $NumQueries AND cc.vec_id <> qs.vec_id
      |), ar AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(n8q AS DOUBLE) * CAST(n8c AS DOUBLE)) DESC,
      |               vec_id) AS arank
      |  FROM p
      |), cand AS (
      |  SELECT query_id, vec_id FROM ar WHERE arank <= $Int8Rerank
      |), x AS (
      |  SELECT cand.query_id, cand.vec_id,
      |    CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
      |    CAST(a.nn AS BIGINT) AS nq, CAST(b.nn AS BIGINT) AS nc
      |  FROM cand
      |  JOIN n a ON a.vec_id = cand.query_id
      |  JOIN n b ON b.vec_id = cand.vec_id
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
      |               vec_id) AS rank
      |  FROM x
      |)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dot, nq, nc
      |FROM r
      |WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // #99 corpus_diversity — cluster-balanced diversity selection (the
  // SemDeDup-style curation step: cap how much of the corpus any one
  // embedding mode contributes)
  // ---------------------------------------------------------------------

  /** Per-cluster representative quota. */
  val DiversityQuota = 16

  /** Cluster-balanced subsampling over the trained k-means space:
    * every vector is assigned to its nearest trained centroid
    * (broadcast k-row table, map-side argmin), then each cluster
    * keeps its `DiversityQuota` most central members (d2 ASC, vec_id
    * tiebreak). The rank is the `row_number ≤ k` idiom with the rank
    * KEPT in the output (the oracle checks it), which is exactly the
    * case plans/TopKRewrite.scala's guard must skip — instead Spark's
    * own WindowGroupLimit kicks in: a PARTIAL group-limit above each
    * task caps pre-shuffle state at quota rows per cluster, so a
    * skewed mode that captures half the corpus still ships ≤
    * quota·partitions rows (PlanSpec asserts the partial limit).
    *
    * 100 TB path: training touches the corpus KmeansIters+1 times
    * (all map-side against broadcast centroids + one (cid,dim)
    * shuffle per iteration); selection adds one bounded top-k
    * exchange. Nothing corpus-sized is ever collected or cached. */
  def corpusDiversity(spark: SparkSession, dir: String): DataFrame = {
    val v = quantized(spark, dir)
    val cents = kmeansCentroids(spark, dir)
    val d = v.crossJoin(broadcast(cents))
      .withColumn("d2", col("nn") + col("cn") -
        lit(2) * graft.functions.VectorFunctions.dot_l(col("q"), col("cq")))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))
    val w = Window.partitionBy("cid").orderBy(col("d2"), col("vec_id"))
    d.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= DiversityQuota)
      .select(col("cid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("d2"))
      .orderBy("cid", "rank")
  }

  val corpusDiversitySql: String = {
    val fin = s"cen$KmeansIters"
    s"""WITH $kmeansSqlCtes,
      |dist AS (
      |  SELECT n.vec_id, c.cid,
      |    n.nn + c.cn
      |      - 2 * CAST(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) AS BIGINT)
      |      AS d2
      |  FROM n CROSS JOIN $fin c
      |), assign AS (
      |  SELECT vec_id, cid, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM dist)
      |  WHERE rn = 1
      |), r AS (
      |  SELECT cid, vec_id, d2,
      |    row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rank
      |  FROM assign
      |)
      |SELECT cid, CAST(rank AS BIGINT) AS rank, vec_id, d2
      |FROM r
      |WHERE rank <= $DiversityQuota
      |ORDER BY cid, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #130 ann_recall — recall@k of the approximate paths vs brute force
  // ---------------------------------------------------------------------

  /** Recall@k measurement of BOTH approximate ANN paths (hyperplane
    * LSH #34b, IVF #48) against the exact brute-force top-k (#33) —
    * the acceptance gate every ANN deployment runs before trusting
    * the approximate index, here as a first-class query rather than
    * an offline notebook: per query point, how many of the true top-k
    * the approximate result recovered, in integer permille.
    *
    * Scale: recall evaluation always runs on a bounded query SAMPLE
    * (NumQueries points × TopK rows per path), so every frame here is
    * eval-set-sized regardless of corpus size; the expensive inputs
    * are the three already-scale-audited ANN queries themselves. The
    * oracle nests all three paths' full SQL as materialized CTEs —
    * the recall algebra on top is engine-exact integer counting. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = annBruteforce(spark, dir).select("query_id", "vec_id")
    val lsh = annLshPoly(spark, dir).select("query_id", "vec_id")
    val ivf = annIvf(spark, dir).select("query_id", "vec_id")
    val pq = annPq(spark, dir).select("query_id", "vec_id")
    val ipq = annIvfPq(spark, dir).select("query_id", "vec_id")
    val k = exact.groupBy("query_id").agg(count(lit(1)).as("k"))
    val lh = exact.join(lsh, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("lsh_hits"))
    val ih = exact.join(ivf, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("ivf_hits"))
    val ph = exact.join(pq, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("pq_hits"))
    val iph = exact.join(ipq, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("ivfpq_hits"))
    k.join(lh, Seq("query_id"), "left")
      .join(ih, Seq("query_id"), "left")
      .join(ph, Seq("query_id"), "left")
      .join(iph, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("lsh_hits"), lit(0L)).as("lsh_hits"),
        coalesce(col("ivf_hits"), lit(0L)).as("ivf_hits"),
        coalesce(col("pq_hits"), lit(0L)).as("pq_hits"),
        coalesce(col("ivfpq_hits"), lit(0L)).as("ivfpq_hits"))
      .withColumn("lsh_recall_permille", expr("lsh_hits * 1000 div k"))
      .withColumn("ivf_recall_permille", expr("ivf_hits * 1000 div k"))
      .withColumn("pq_recall_permille", expr("pq_hits * 1000 div k"))
      .withColumn("ivfpq_recall_permille", expr("ivfpq_hits * 1000 div k"))
      .orderBy("query_id")
  }

  // lazy: references annPqSql, which is defined further down the
  // object — a strict val would capture null at init order
  lazy val annRecallSql: String =
    s"""WITH exact AS MATERIALIZED ($annBruteforceSql),
      |lshr AS MATERIALIZED ($annLshPolySql),
      |ivfr AS MATERIALIZED ($annIvfSql),
      |pqr AS MATERIALIZED ($annPqSql),
      |ipqr AS MATERIALIZED ($annIvfPqSql),
      |kk AS (SELECT query_id, COUNT(*) AS k FROM exact GROUP BY query_id),
      |lh AS (
      |  SELECT e.query_id, COUNT(*) AS lsh_hits
      |  FROM exact e JOIN lshr l
      |    ON e.query_id = l.query_id AND e.vec_id = l.vec_id
      |  GROUP BY e.query_id
      |), ih AS (
      |  SELECT e.query_id, COUNT(*) AS ivf_hits
      |  FROM exact e JOIN ivfr v
      |    ON e.query_id = v.query_id AND e.vec_id = v.vec_id
      |  GROUP BY e.query_id
      |), ph AS (
      |  SELECT e.query_id, COUNT(*) AS pq_hits
      |  FROM exact e JOIN pqr p
      |    ON e.query_id = p.query_id AND e.vec_id = p.vec_id
      |  GROUP BY e.query_id
      |), iph AS (
      |  SELECT e.query_id, COUNT(*) AS ivfpq_hits
      |  FROM exact e JOIN ipqr p
      |    ON e.query_id = p.query_id AND e.vec_id = p.vec_id
      |  GROUP BY e.query_id
      |)
      |SELECT kk.query_id, kk.k,
      |  COALESCE(lh.lsh_hits, 0) AS lsh_hits,
      |  COALESCE(ih.ivf_hits, 0) AS ivf_hits,
      |  COALESCE(ph.pq_hits, 0) AS pq_hits,
      |  COALESCE(iph.ivfpq_hits, 0) AS ivfpq_hits,
      |  COALESCE(lh.lsh_hits, 0) * 1000 // kk.k AS lsh_recall_permille,
      |  COALESCE(ih.ivf_hits, 0) * 1000 // kk.k AS ivf_recall_permille,
      |  COALESCE(ph.pq_hits, 0) * 1000 // kk.k AS pq_recall_permille,
      |  COALESCE(iph.ivfpq_hits, 0) * 1000 // kk.k AS ivfpq_recall_permille
      |FROM kk
      |LEFT JOIN lh ON kk.query_id = lh.query_id
      |LEFT JOIN ih ON kk.query_id = ih.query_id
      |LEFT JOIN ph ON kk.query_id = ph.query_id
      |LEFT JOIN iph ON kk.query_id = iph.query_id
      |ORDER BY kk.query_id""".stripMargin

  // ---------------------------------------------------------------------
  // #139 ann_pq — product quantization with ADC scoring (Jégou et
  // al. 2011, "Product Quantization for Nearest Neighbor Search"),
  // completing the classic ANN index family next to LSH (#34), IVF
  // (#48) and SQ8 (#80): vectors compress to M one-byte codewords, a
  // per-query lookup table scores the whole corpus from code bytes
  // alone — at scale the candidate scan reads the M-byte codes
  // sidecar, never the vector column (PQ's memory win is 64·4 bytes
  // → M bytes per vector).
  // ---------------------------------------------------------------------

  /** Subspace layout: 64 dims → 4 × 16-dim subspaces, 32 codewords
    * each (~1M distinct codes; real deployments raise PqCodewords to
    * 256 for byte codes, the plan shape is K-independent). Seeds are
    * the same deterministic corpus-vector window the IVF coarse
    * quantizer uses. The ADC pass keeps PqRerank candidates per query
    * for the exact rerank (the FAISS ADC+rerank recipe, mirroring
    * #80's Int8Rerank).
    *
    * K=32 / rerank=100 is the measured knee of the r12 LshSweep
    * curves (VERDICT r12 #8): 0.74 recall on the adversarial
    * uniform-random sf0.001 corpus vs 0.44 at the previous
    * K=16/rerank=50, at equal wall-clock — on these corpora PQ cost
    * is Lloyd training, not the code scan, so rerank depth is nearly
    * free and K dominates only the (broadcast) codebook/LUT sizes. */
  val PqSub = 4
  val PqSubDim = 16
  val PqCodewords = 32
  val PqIters = 2
  val PqRerank = 100

  /** Lloyd training runs on the deterministic `vec_id % PqTrainMod
    * == 0` subset (the classic PQ recipe — FAISS trains on a sample,
    * not the corpus; codebooks are a density summary, so a 25% sample
    * moves centroids negligibly while cutting the two training jobs'
    * input 4×). Deterministic-by-id keeps the oracle a literal mirror
    * (same predicate in SQL) — no RNG, no sampling seed drift. Encode
    * /ADC/rerank still cover EVERY vector; only the centroid fit is
    * sampled, and the #130 recall gate pins the quality. */
  val PqTrainMod = 4

  /** (…, m, sq, sn): the m-th 16-dim slice of each vector `q` with
    * its sub-norm, every other column of `v` riding along ((vec_id,
    * nn) for a quantized frame, (vec_id, cid) for residuals) — M slim
    * rows per vector, ONE frame for every training/encode/probe
    * consumer, so all M codebooks train inside the same two Lloyd
    * jobs instead of M separate k-means loops. */
  private[operators] def subVectors(v: DataFrame): DataFrame = {
    val rest = v.columns.filter(_ != "q").map(col).toSeq
    v.select(rest :+
      explode(expr(s"transform(sequence(0, ${PqSub - 1}), m -> " +
        s"named_struct('m', m, 'sq', slice(q, m * $PqSubDim + 1, $PqSubDim)))")).as("s"): _*)
      .select(rest :+ col("s.m").as("m") :+ col("s.sq").as("sq"): _*)
      .withColumn("sn", graft.functions.VectorFunctions.norm_sq_l(col("sq")))
  }

  /** Per-(vector, subspace) nearest codeword `code` in `cw` (integer
    * L2², (d2, cid) tie-break), added to the sub-vector frame `sv`
    * (training reads it as the cluster id, encoding as the code). The
    * ≤ M·K-row codebook collapses to one
    * struct-array row PER SUBSPACE; the broadcast join on m attaches
    * the right codebook and the argmin runs as a compiled per-row
    * fold — no shuffle of the sub-vector frame ([[assignTo]]'s r22
    * map-only shape, which this mirrors per m: the former min-struct
    * groupBy re-shuffled all M·corpus sub-vector rows per training
    * iteration and per encode). */
  private def pqAssign(sv: DataFrame, cw: DataFrame): DataFrame = {
    val caByM = cw.groupBy("m")
      .agg(collect_list(struct(col("cid"), col("cq"), col("cn"))).as("ca"))
    sv.join(broadcast(caByM), "m")
      .withColumn("code", graft.functions.VectorFunctions
        .nearest_cid_l(col("sq"), col("sn"), col("ca")))
      .drop("ca")
      .filter(col("code").isNotNull)
  }

  /** Lloyd-trained PQ codebooks (m, cid, cq, cn): floor-average
    * updates per (m, cid, dim) — integer sums are exact in IEEE
    * doubles, so Spark and DuckDB derive bit-identical codebooks (the
    * IVF proof, per subspace). Each iteration's ≤ M·K-row table is
    * pinned ([[graft.Checkpoints]]) for the same reason the IVF
    * centroids are: only O(M·K) codewords ever materialize. */
  def pqCodebooks(spark: SparkSession, dir: String,
                  iters: Int = PqIters,
                  codewords: Int = PqCodewords): DataFrame =
    pqCodebooksFrom(subVectors(quantized(spark, dir)), iters, codewords)

  /** The same Lloyd kernel over an arbitrary (vec_id, nn, m, sq, sn)
    * sub-vector frame — the 'From'-style seam (mixRankFrom's pattern)
    * shared by #139's plain-vector codebooks and #161's RESIDUAL
    * codebooks, so the training algebra has one definition. */
  private[graft] def pqCodebooksFrom(sv: DataFrame,
                                     iters: Int = PqIters,
                                     codewords: Int = PqCodewords): DataFrame = {
    // training subset: see PqTrainMod — the only consumer of the full
    // sv here is the seed window, which is id-selected either way
    val svTrain = sv.filter(pmod(col("vec_id"), lit(PqTrainMod)) === 0)
    var cw = sv
      .filter(col("vec_id") >= CentroidBase &&
        col("vec_id") < CentroidBase + codewords)
      .select(col("m"), (col("vec_id") - CentroidBase).as("cid"),
        col("sq").as("cq"), col("sn").as("cn"))
    for (it <- 1 to iters) {
      val mu = pqAssign(svTrain, cw)
        .select(col("m"), col("code").as("cid"),
          posexplode(col("sq")).as(Seq("dim", "x")))
        .groupBy("m", "cid", "dim")
        .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
        .select(col("m"), col("cid"), col("dim"),
          floor(col("s").cast("double") / col("cnt")).cast("long").as("c"))
      val next = mu.groupBy("m", "cid")
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)")
          .as("cq"))
        .withColumn("cn", graft.functions.VectorFunctions.norm_sq_l(col("cq")))
        .select(col("m"), col("cid"), col("cq"), col("cn"))
      // pin ONLY the final table (round 12): the codebook's post-loop
      // consumers (encode, norm tables, LUT) must never re-run training, but
      // intermediate iterations have exactly ONE consumer — the next
      // assignment — so pinning them bought lineage truncation at the
      // price of a full checkpoint job per iteration (the job-count
      // overhead the ann_pq trace showed dominates this query). With
      // two iterations the inlined lineage is 2 assign stages in one
      // job — cheaper than a pin round-trip, and byte-identical.
      cw = if (it == iters) graft.Checkpoints.pin(next) else next
    }
    cw
  }

  /** PQ ANN with asymmetric distance computation + exact rerank:
    * encode every vector to M codewords, score it against each
    * query's M·K-entry sub-dot lookup table as Σ_m LUT[m, code_m]
    * (the ADC approximation of the full dot product) over the
    * codeword-reconstructed norm, keep the PqRerank-deep ADC shortlist
    * per query, then re-score ONLY the shortlist against the full
    * quantized vectors (the FAISS ADC+rerank recipe — #80 does the
    * same over SQ8 codes).
    *
    * PQ is IVF-PQ (#161) with one inverted list (Jégou et al. 2011:
    * ADC is IVFADC with a single coarse cell): under [[oneList]] the
    * residual is the vector itself, so the residual codebooks are the
    * plain PQ codebooks (same sub-vectors, same seed window), the
    * query-centroid dot is 0, and build, encode, ADC scan, rerank and
    * the persisted store ([[AnnIndex]]'s `pq` kind) are all #161's.
    * The one difference from a standalone PQ fold is #161's
    * max(‖x̂‖², 1) norm clamp, which only touches a vector whose
    * codewords are all zero. The oracle recomputes the plain PQ
    * pipeline, training included. */
  def annPq(spark: SparkSession, dir: String,
            codewords: Int = PqCodewords,
            rerank: Int = PqRerank): DataFrame = {
    annIvfPqQueryFrom(spark, dir,
      ivfPqArtifactsFrom(quantized(spark, dir), oneList(spark), codewords),
      rerank = rerank)
  }

  /** The fixed one-row coarse quantizer that turns IVF-PQ into plain
    * PQ: list 0, an all-zero centroid, norm 0. */
  private[operators] def oneList(spark: SparkSession): DataFrame =
    spark.range(1).select(lit(0L).as("cid"),
      array_repeat(lit(0L), PqSub * PqSubDim).as("cq"), lit(0L).as("cn"))

  val annPqSql: String = {
    val D = PqSubDim
    def iterBlock(k: Int): String = {
      val prev = s"cw${k - 1}"
      s"""pd$k AS (
        |  SELECT s.vec_id, s.m, s.sq, c.cid,
        |    s.sn + c.cn
        |      - 2 * CAST(list_sum(list_transform(range(1, ${D + 1}), i -> s.sq[i] * c.cq[i])) AS BIGINT)
        |      AS d2
        |  FROM svn s JOIN $prev c ON s.m = c.m
        |  WHERE s.vec_id % $PqTrainMod = 0
        |), pa$k AS (
        |  SELECT vec_id, m, sq, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |    FROM pd$k)
        |  WHERE rn = 1
        |), pm$k AS (
        |  SELECT m, cid, i, CAST(floor(CAST(SUM(sq[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        |  FROM pa$k CROSS JOIN (SELECT unnest(range(1, ${D + 1})) AS i)
        |  GROUP BY m, cid, i
        |), cw$k AS (
        |  SELECT m, cid, cq, CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS cn
        |  FROM (SELECT m, cid, list(c ORDER BY i) AS cq FROM pm$k GROUP BY m, cid)
        |)""".stripMargin
    }
    val fin = s"cw$PqIters"
    s"""WITH q AS (
      |  SELECT vec_id,
      |    ${graft.Constants.QuantizeDuckSql} AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn
      |  FROM q
      |), svn AS (
      |  SELECT vec_id, nn, m,
      |    list_slice(v, m * $D + 1, m * $D + $D) AS sq,
      |    CAST(list_sum(list_transform(list_slice(v, m * $D + 1, m * $D + $D),
      |      x -> x * x)) AS BIGINT) AS sn
      |  FROM n CROSS JOIN (SELECT unnest(range(0, $PqSub)) AS m)
      |), cw0 AS (
      |  SELECT m, vec_id - $CentroidBase AS cid, sq AS cq, sn AS cn
      |  FROM svn
      |  WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + PqCodewords}
      |),
      |${(1 to PqIters).map(iterBlock).mkString(",\n")},
      |codes AS (
      |  SELECT vec_id, m, cid FROM (
      |    SELECT s.vec_id, s.m, c.cid,
      |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
      |        s.sn + c.cn
      |          - 2 * CAST(list_sum(list_transform(range(1, ${D + 1}), i -> s.sq[i] * c.cq[i])) AS BIGINT),
      |        c.cid) AS rn
      |    FROM svn s JOIN $fin c ON s.m = c.m)
      |  WHERE rn = 1
      |), ncode AS (
      |  SELECT codes.vec_id, CAST(SUM(c.cn) AS BIGINT) AS nc
      |  FROM codes JOIN $fin c USING (m, cid)
      |  GROUP BY codes.vec_id
      |), lut AS (
      |  SELECT s.vec_id AS query_id, s.nn AS nq, s.m, c.cid,
      |    CAST(list_sum(list_transform(range(1, ${D + 1}), i -> s.sq[i] * c.cq[i])) AS BIGINT) AS pdot
      |  FROM svn s JOIN $fin c ON s.m = c.m
      |  WHERE s.vec_id < $NumQueries
      |), adc AS (
      |  SELECT l.query_id, codes.vec_id,
      |    CAST(SUM(l.pdot) AS BIGINT) AS adot, MIN(l.nq) AS nq
      |  FROM codes JOIN lut l ON codes.m = l.m AND codes.cid = l.cid
      |  WHERE codes.vec_id <> l.query_id
      |  GROUP BY l.query_id, codes.vec_id
      |), ar AS (
      |  SELECT a.query_id, a.vec_id,
      |    row_number() OVER (PARTITION BY a.query_id
      |      ORDER BY CAST(a.adot AS DOUBLE) / sqrt(CAST(a.nq AS DOUBLE) * CAST(ncode.nc AS DOUBLE)) DESC,
      |               a.vec_id) AS arank
      |  FROM adc a JOIN ncode USING (vec_id)
      |), shortlist AS (
      |  SELECT query_id, vec_id FROM ar WHERE arank <= $PqRerank
      |), ex AS (
      |  SELECT s.query_id, s.vec_id,
      |    CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * qv.v[i])) AS BIGINT) AS dot,
      |    qv.nn AS nq, a.nn AS nc
      |  FROM shortlist s
      |  JOIN n a ON a.vec_id = s.vec_id
      |  JOIN n qv ON qv.vec_id = s.query_id
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
      |               vec_id) AS rank
      |  FROM ex
      |)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dot, nq, nc
      |FROM r
      |WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #161 ann_ivfpq — the PRODUCTION composition of the index family
  // (FAISS IVFPQ, Jégou et al. 2011 §V): the coarse quantizer (#48)
  // bounds WHAT is scanned (NProbe inverted lists, ~nprobe/K of the
  // corpus), product quantization on the RESIDUAL v − c bounds the
  // BYTES per scanned vector (M codes, never the vector column).
  // Residual encoding is what makes the composition better than
  // either part: residuals are centered near zero, so the same K
  // codewords quantize them far more finely than raw vectors.
  // ---------------------------------------------------------------------

  /** ADC scoring against a residual-encoded corpus, exact in integer
    * parts: dot(q, x̂) = dot(q, c_cid) + Σ_m LUT[m, code_m] where the
    * LUT holds dot(q_sub, residual-codeword); ‖x̂‖² = cn(cid) +
    * 2·Σ_m cross(cid, m, code) + Σ_m cn_code(m, code) — cross is the
    * (cid, m, code) dot table between coarse-centroid slices and
    * residual codewords, O(K·M·Kc) rows, broadcast. Every term is an
    * exact integer in both engines; the only FP is the final cosine
    * division (IEEE, bit-identical).
    *
    * Scale shape: coarse centroids, residual codebooks, the cross
    * table and each query's LUT are all O(model)-sized broadcasts.
    * The corpus-side frame is one (m, code) array row per vector —
    * the ADC scan keeps only probed lists' rows and never touches the
    * vector column; the exact rerank ([[rerankTopK]]) joins the
    * ≤ queries·PqRerank shortlist back broadcast-only. */
  def annIvfPq(spark: SparkSession, dir: String,
               nProbe: Int = NProbe,
               rerank: Int = PqRerank,
               codewords: Int = PqCodewords): DataFrame = {
    val v = quantized(spark, dir)
    annIvfPqQueryFrom(spark, dir,
      ivfPqArtifactsFrom(v, kmeansCentroidsFrom(v), codewords), nProbe, rerank)
  }

  /** The IVF-PQ index's build-side artifacts (everything FAISS's
    * write_index serializes for an IVFPQ index): coarse centroids,
    * residual codebooks, the per-vector residual codes, and the
    * (vec_id, cid, nc_hat) sidecar that carries both the
    * inverted-list assignment and the encode-time reconstructed norm.
    * [[annIvfPq]] and [[annPq]] derive them in-query; [[AnnIndex]]
    * persists them and serves [[annIvfPqQueryFrom]] from the prebuilt
    * read. */
  private[operators] final case class IvfPqArtifacts(
      cents: DataFrame, cw: DataFrame, codes: DataFrame, nhat: DataFrame)

  /** The build over a quantized (vec_id, q, nn) frame and a coarse
    * quantizer `cents` (cid, cq, cn) — k-means centroids for IVF-PQ,
    * [[oneList]] for PQ. Taking the frame lets [[AnnIndex]] build on a
    * historical corpus snapshot (its freshness audit freezes the
    * index at a cutoff) with identical training algebra. The seed
    * windows and the PqTrainMod training subset must be inside the
    * frame. */
  private[operators] def ivfPqArtifactsFrom(v: DataFrame, cents: DataFrame,
                                            codewords: Int = PqCodewords)
      : IvfPqArtifacts = {
    // assigned stays LAZY deliberately (re-measured r21): pinning it
    // and the residual frame removed the repeated assign→residual→
    // explode recompute but cost two sequential checkpoint jobs, and
    // the in-query build measured ~20% SLOWER under a controlled A/B —
    // the same result the r12 codes-persist experiment recorded. The
    // build-once path (AnnIndex) materializes the artifacts instead.
    val assigned = assignTo(v, cents) // (vec_id, cid, q, nn)
    val cw = pqCodebooksFrom(residualSubVectors(assigned, cents),
      codewords = codewords) // residual codebooks
    val (codes, nhat) = ivfPqEncode(cents, cw, assigned)
    IvfPqArtifacts(cents, cw, codes, nhat)
  }

  /** Residuals r = q − c_cid of an assigned frame, exploded to PQ
    * sub-vectors (vec_id, cid, m, sq, sn) — the frame residual-codebook
    * TRAINING and vector ENCODING both read. */
  private def residualSubVectors(assigned: DataFrame, cents: DataFrame): DataFrame =
    subVectors(assigned.join(broadcast(cents), "cid")
      .select(col("vec_id"), col("cid"),
        expr("zip_with(q, cq, (a, b) -> a - b)").as("q")))

  /** ENCODE an assigned vector frame under a (possibly FROZEN) model
    * (cents, cw): the per-vector codes and the reconstructed-norm
    * sidecar. Factored from the build so [[AnnIndex.appendIvfPq]] can
    * encode post-build arrivals with the snapshot-trained model — the
    * incremental index-maintenance path (FAISS add_with_ids after
    * read_index: assignment and codes come from the frozen quantizers,
    * never a retrain). */
  private[operators] def ivfPqEncode(cents: DataFrame, cw: DataFrame,
                                     assigned: DataFrame)
      : (DataFrame, DataFrame) = {
    // codes carry their inverted-list id: (vec_id, cid, m, code) IS
    // the persisted layout (partitioned by cid, a probe reads only
    // its lists' directories)
    val codes = pqAssign(residualSubVectors(assigned, cents), cw)
      .select(col("vec_id"), col("cid"), col("m"), col("code"))
    // reconstructed-norm sidecar: one integer per vector, encode-time
    val nhat = withNcHat(codeLists(codes), cents, cw)
      .select(col("vec_id"), col("cid"), col("nc_hat"))
    (codes, nhat)
  }

  /** One row per (vector, list) holding its (m, code) structs — the
    * input of both kernels ([[graft.functions.VectorFunctions.ivfPqAdc]],
    * [[graft.functions.VectorFunctions.ivfPqNcHat]]), which look each
    * code up by its own m. */
  private def codeLists(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"), col("cid").cast("long").as("cid"))
      .agg(collect_list(struct(col("m").cast("long").as("m"),
        col("code").cast("long").as("code"))).as("cds"))

  /** Adds ‖x̂‖² (`nc_hat`) to a [[codeLists]] frame by the in-row norm
    * kernel over two broadcast rows: the (cid, m, code, xdot, ccn)
    * cross table — xdot = dot(c_cid[m], codeword), ccn = ‖codeword‖²,
    * O(K·M·Kc) entries — and the (cid, cn) centroid norms. */
  private def withNcHat(cds: DataFrame, cents: DataFrame,
                        cw: DataFrame): DataFrame = {
    val crxRow = cents.crossJoin(broadcast(cw.select(col("m"),
        col("cid").as("code"), col("cq").as("ccq"), col("cn").as("ccn"))))
      .select(col("cid"), col("m"), col("code"),
        graft.functions.VectorFunctions.dot_l(
          expr(s"slice(cq, m * $PqSubDim + 1, $PqSubDim)"), col("ccq"))
          .as("xdot"),
        col("ccn"))
      .agg(expr("array_sort(collect_list(struct(CAST(cid AS BIGINT) AS cid, " +
        "CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code, xdot, ccn)))")
        .as("crx"))
    val cenRow = cents.agg(expr(
      "array_sort(collect_list(struct(CAST(cid AS BIGINT) AS cid, cn)))")
      .as("cen"))
    cds.crossJoin(broadcast(crxRow)).crossJoin(broadcast(cenRow))
      .withColumn("nc_hat", graft.functions.VectorFunctions
        .ivf_pq_nc_hat_l(col("cds"), col("cid"), col("crx"), col("cen")))
      .drop("crx", "cen")
  }

  /** Encode arbitrary quantized vectors under a frozen model — the
    * append path's entry (assignment included). */
  private[operators] def ivfPqEncodeFrozen(cents: DataFrame, cw: DataFrame,
                                           v: DataFrame): (DataFrame, DataFrame) = {
    val assigned = assignTo(v, cents)
    ivfPqEncode(cents, cw, assigned)
  }

  /** Probe side of the IVF family over an arbitrary QUERY frame
    * (vec_id, q, nn): each query's nProbe nearest lists with the
    * query-centroid dot carried along. Model-sized output
    * (≤ queries·nProbe rows) — collectable for static list pruning. */
  private[operators] def ivfProbes(queries: DataFrame, cents: DataFrame,
                                   nProbe: Int = NProbe): DataFrame = {
    val wProbe = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
    queries
      .crossJoin(broadcast(cents))
      .withColumn("qcdot",
        graft.functions.VectorFunctions.dot_l(col("q"), col("cq")))
      .withColumn("d2", col("nn") + col("cn") - lit(2) * col("qcdot"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("vec_id").as("query_id"), col("nn").as("nq"),
        col("cid"), col("qcdot"))
  }

  /** The query-side half of #161 (and of #139, its one-list case):
    * probe the nProbe nearest lists, LUT + ADC over only the probed
    * lists' codes, exact rerank. The list assignment comes from the
    * artifacts — the query never touches the build chain. */
  private[graft] def annIvfPqQueryFrom(spark: SparkSession, dir: String,
                                           a: IvfPqArtifacts,
                                           nProbe: Int = NProbe,
                                           rerank: Int = PqRerank): DataFrame =
    annIvfPqTopKFor(spark, dir,
      quantized(spark, dir).filter(col("vec_id") < NumQueries),
      a, nProbe, rerank)

  /** Top-k for an ARBITRARY query frame (vec_id, q, nn) against the
    * (possibly prebuilt) index — the SERVING seam:
    * [[graft.streaming.AnnStream]] scores each micro-batch of
    * arriving query vectors through it, and the batch #139/#161/#168
    * paths are the corpus-member special case. A query sharing an id
    * with a corpus vector is excluded from its own neighbor list (the
    * classic self-match rule); disjoint-id queries — the serving
    * case — match against the whole corpus. */
  private[graft] def annIvfPqTopKFor(spark: SparkSession, dir: String,
                                     queries: DataFrame,
                                     a: IvfPqArtifacts,
                                     nProbe: Int = NProbe,
                                     rerank: Int = PqRerank): DataFrame = {
    // r22: the probe filter, the ADC sum and the reconstructed norm all
    // run as per-vector compiled folds over broadcast tables: the
    // vector's M codes collect to one array row keyed by its list — a
    // single slim exchange — and a query emits a score row iff its
    // probe set contains that list (the inner probe-join semantics).
    // The norm is recomputed in-row by the kernel the encode uses, so
    // the scan never reads the nhat artifact (it stays the prebuilt
    // store's contract).
    val lutsRow = ivfProbes(queries, a.cents, nProbe)
      .groupBy("query_id", "nq")
      .agg(expr("array_sort(collect_list(struct(CAST(cid AS BIGINT) AS cid, " +
        "qcdot)))").as("prb"))
      .join(subVectors(queries)
        .join(broadcast(a.cw), "m")
        .select(col("vec_id").as("query_id"), col("m"),
          col("cid").as("code"),
          graft.functions.VectorFunctions.dot_l(col("sq"), col("cq")).as("pdot"))
        .groupBy("query_id")
        .agg(expr("array_sort(collect_list(struct(CAST(m AS BIGINT) AS m, " +
          "CAST(code AS BIGINT) AS code, pdot)))").as("pda")), "query_id")
      .agg(collect_list(struct(col("query_id"), col("nq"), col("prb"),
        col("pda"))).as("luts"))
    val adc = withNcHat(codeLists(a.codes), a.cents, a.cw)
      .crossJoin(broadcast(lutsRow))
      .select(col("vec_id"), col("nc_hat"),
        explode(graft.functions.VectorFunctions
          .ivf_pq_adc_l(col("cds"), col("cid"), col("luts"))).as("s"))
      .filter(col("vec_id") =!= col("s.query_id"))
      .select(col("s.query_id").as("query_id"), col("vec_id"),
        col("s.adot").as("adot"), col("s.nq").as("nq"), col("nc_hat").as("nc"))
    rerankTopK(adc, rerank, quantized(spark, dir), queries)
  }

  val annIvfPqSql: String = annIvfPqSqlTrainedOn("TRUE")

  /** The #161 oracle with every TRAINING input (k-means corpus,
    * residual-codebook sample) restricted to `pred` while encode /
    * probe / ADC / rerank still cover the full corpus — the frozen-
    * snapshot replay [[AnnIndex]]'s append path verifies against.
    * `pred` must contain the seed windows (ids 100–131). */
  private[operators] def annIvfPqSqlTrainedOn(pred: String): String =
    s"""WITH ${annIvfPqCtesTrainedOn(pred)}
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dot, nq, nc
      |FROM r
      |WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin

  /** The #161 chain as a CTE PREFIX (through `r`), so consumers other
    * than the top-k select can read intermediate relations — the
    * index-status oracle reads `n` (corpus) and `asg` (list
    * assignment); unreferenced tail CTEs cost nothing (DuckDB
    * evaluates only what the final select reaches). */
  private[graft] def annIvfPqCtesTrainedOn(pred: String): String = {
    val D = PqSubDim
    val fin = s"cen$KmeansIters"
    // residual-PQ Lloyd iterations: the #139 iterBlock over rsvn
    def iterBlock(k: Int): String = {
      val prev = s"rcw${k - 1}"
      s"""rpd$k AS (
        |  SELECT s.vec_id, s.m, s.sq, c.cid,
        |    s.sn + c.cn
        |      - 2 * CAST(list_sum(list_transform(range(1, ${D + 1}), i -> s.sq[i] * c.cq[i])) AS BIGINT)
        |      AS d2
        |  FROM rsvn s JOIN $prev c ON s.m = c.m
        |  WHERE s.vec_id % $PqTrainMod = 0 AND ($pred)
        |), rpa$k AS (
        |  SELECT vec_id, m, sq, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |    FROM rpd$k)
        |  WHERE rn = 1
        |), rpm$k AS (
        |  SELECT m, cid, i, CAST(floor(CAST(SUM(sq[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        |  FROM rpa$k CROSS JOIN (SELECT unnest(range(1, ${D + 1})) AS i)
        |  GROUP BY m, cid, i
        |), rcw$k AS (
        |  SELECT m, cid, cq, CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS cn
        |  FROM (SELECT m, cid, list(c ORDER BY i) AS cq FROM rpm$k GROUP BY m, cid)
        |)""".stripMargin
    }
    val rfin = s"rcw$PqIters"
    s"""${kmeansSqlCtesTrainedOn(pred)},
      |dist AS (
      |  SELECT n.vec_id, n.v, n.nn, c.cid,
      |    n.nn + c.cn
      |      - 2 * CAST(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) AS BIGINT)
      |      AS d2,
      |    CAST(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) AS BIGINT) AS qcdot
      |  FROM n CROSS JOIN $fin c
      |), asg AS (
      |  SELECT vec_id, v, nn, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM dist)
      |  WHERE rn = 1
      |), res AS (
      |  SELECT a.vec_id, a.cid AS list_id,
      |    list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS v
      |  FROM asg a JOIN $fin c ON a.cid = c.cid
      |), rsvn AS (
      |  SELECT vec_id, m,
      |    list_slice(v, m * $D + 1, m * $D + $D) AS sq,
      |    CAST(list_sum(list_transform(list_slice(v, m * $D + 1, m * $D + $D),
      |      x -> x * x)) AS BIGINT) AS sn
      |  FROM res CROSS JOIN (SELECT unnest(range(0, $PqSub)) AS m)
      |), rcw0 AS (
      |  SELECT m, vec_id - $CentroidBase AS cid, sq AS cq, sn AS cn
      |  FROM rsvn
      |  WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + PqCodewords}
      |),
      |${(1 to PqIters).map(iterBlock).mkString(",\n")},
      |codes AS (
      |  SELECT vec_id, m, cid AS code FROM (
      |    SELECT s.vec_id, s.m, c.cid,
      |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
      |        s.sn + c.cn
      |          - 2 * CAST(list_sum(list_transform(range(1, ${D + 1}), i -> s.sq[i] * c.cq[i])) AS BIGINT),
      |        c.cid) AS rn
      |    FROM rsvn s JOIN $rfin c ON s.m = c.m)
      |  WHERE rn = 1
      |), crs AS (
      |  SELECT c.cid, w.m, w.cid AS code,
      |    CAST(list_sum(list_transform(range(1, ${D + 1}),
      |      i -> c.cv[w.m * $D + i] * w.cq[i])) AS BIGINT) AS xdot,
      |    w.cn AS ccn
      |  FROM $fin c CROSS JOIN $rfin w
      |), nhat AS (
      |  SELECT t.vec_id, t.cid, GREATEST(c2.cn + t.rpart, 1) AS nc_hat
      |  FROM (
      |    SELECT codes.vec_id, a.cid,
      |      CAST(2 * SUM(x.xdot) + SUM(x.ccn) AS BIGINT) AS rpart
      |    FROM codes
      |    JOIN asg a ON codes.vec_id = a.vec_id
      |    JOIN crs x ON x.cid = a.cid AND x.m = codes.m AND x.code = codes.code
      |    GROUP BY codes.vec_id, a.cid) t
      |  JOIN $fin c2 ON t.cid = c2.cid
      |), probes AS (
      |  SELECT vec_id AS query_id, nn AS nq, cid, qcdot FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM dist WHERE vec_id < $NumQueries)
      |  WHERE rn <= $NProbe
      |), qsvn AS (
      |  SELECT vec_id, m,
      |    list_slice(v, m * $D + 1, m * $D + $D) AS sq
      |  FROM n CROSS JOIN (SELECT unnest(range(0, $PqSub)) AS m)
      |  WHERE vec_id < $NumQueries
      |), lut AS (
      |  SELECT s.vec_id AS query_id, s.m, c.cid AS code,
      |    CAST(list_sum(list_transform(range(1, ${D + 1}), i -> s.sq[i] * c.cq[i])) AS BIGINT) AS pdot
      |  FROM qsvn s JOIN $rfin c ON s.m = c.m
      |), adc AS (
      |  SELECT p.query_id, codes.vec_id,
      |    CAST(MIN(p.qcdot) + SUM(l.pdot) AS BIGINT) AS adot,
      |    MIN(p.nq) AS nq
      |  FROM codes
      |  JOIN asg a ON codes.vec_id = a.vec_id
      |  JOIN probes p ON p.cid = a.cid
      |  JOIN lut l ON l.query_id = p.query_id AND l.m = codes.m AND l.code = codes.code
      |  WHERE codes.vec_id <> p.query_id
      |  GROUP BY p.query_id, codes.vec_id
      |), ar AS (
      |  SELECT a.query_id, a.vec_id,
      |    row_number() OVER (PARTITION BY a.query_id
      |      ORDER BY CAST(a.adot AS DOUBLE) / sqrt(CAST(a.nq AS DOUBLE) * CAST(nhat.nc_hat AS DOUBLE)) DESC,
      |               a.vec_id) AS arank
      |  FROM adc a JOIN nhat ON a.vec_id = nhat.vec_id
      |), shortlist AS (
      |  SELECT query_id, vec_id FROM ar WHERE arank <= $PqRerank
      |), ex AS (
      |  SELECT s.query_id, s.vec_id,
      |    CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * qv.v[i])) AS BIGINT) AS dot,
      |    qv.nn AS nq, a.nn AS nc
      |  FROM shortlist s
      |  JOIN n a ON a.vec_id = s.vec_id
      |  JOIN n qv ON qv.vec_id = s.query_id
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
      |               vec_id) AS rank
      |  FROM ex
      |)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #148 dedup_semantic — SemDeDup cluster-then-prune semantic dedup
  // ---------------------------------------------------------------------

  /** Keeper-side participant cap per cluster (the dedup_fuzzy 256-block
    * precedent): only the first `SemKeeperCap` members in keeper order
    * can knock out later ones, so a degenerate cluster costs
    * cap·size comparisons, never size². Test clusters (~125 members)
    * never reach it. */
  val SemKeeperCap = 256

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    * the embeddings, then prune within each cluster — two documents
    * whose embeddings pass the cosine gate are semantic duplicates,
    * and only one survives. The three design choices, each from the
    * paper or the repo's established contracts:
    *
    *  - CLUSTERING reuses the #48 trained coarse quantizer verbatim
    *    ([[kmeansCentroids]]: deterministic seed, floor-average Lloyd
    *    iterations, bit-identical in DuckDB) — SemDeDup's step 1 IS
    *    a k-means fit, so the oracle-proven one serves.
    *  - KEEPER ORDER: the paper keeps the member with the LOWEST
    *    cosine similarity to its centroid (§3: low-similarity
    *    examples are the least prototypical, dropping the redundant
    *    core); with integer vectors that is d2 DESC, vec_id tiebreak.
    *    A later-ranked member is dropped if ANY earlier-ranked
    *    capped-keeper passes the gate with it. Within keeper coverage
    *    (clusters ≤ SemKeeperCap members) the surviving set is
    *    pairwise non-duplicate by construction — two kept members
    *    can't pass the gate, or the earlier would have dropped the
    *    later. Beyond the cap, members ranked past SemKeeperCap can
    *    no longer drop each other (only the capped keepers prune), so
    *    the independence guarantee is scoped to the cap: at
    *    deployment, cluster COUNT is the knob that keeps cluster size
    *    inside coverage (the paper's 50k clusters at LAION scale),
    *    and the cap is the skew fuse for degenerate clusters, not the
    *    expected operating regime.
    *  - The COSINE GATE shares #32 dedup_embedding's exact integer
    *    test (cos ≥ 0.35 ⟺ dot ≥ 0 ∧ 400·dot² ≥ 49·na·nb), so
    *    precision against the exact pair set is 1.0 by construction
    *    and the spec can measure which exact pairs clustering splits.
    *
    * Scale shape: the only corpus shuffle is on cid (the pair join
    * co-locates each cluster), within-cluster work is cap-bounded,
    * and cluster count K grows with the corpus (the paper runs 50k
    * clusters at LAION scale) so cluster size — and with it both the
    * join fan-out and any skew — is a knob, not a risk. Emits every
    * vector with its cluster and kept verdict (kept = 1/0), so the
    * downstream filter is one predicate. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    val v = quantized(spark, dir)
    // assignment keeping d2 (assignTo drops it; keeper rank needs it)
    val assigned = v.crossJoin(broadcast(cents))
      .withColumn("d2", col("nn") + col("cn") -
        lit(2) * graft.functions.VectorFunctions.dot_l(col("q"), col("cq")))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"),
        first("q").as("q"), first("nn").as("nn"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"),
        col("q"), col("nn"))
    val wc = Window.partitionBy("cid").orderBy(col("d2").desc, col("vec_id"))
    val ranked = assigned.withColumn("rk", row_number().over(wc))
    val slim = ranked.select("vec_id", "cid", "rk", "q", "nn")
    // LEFT SEMI with the gate IN the condition: the hash semi join
    // stops probing a candidate at its FIRST gating keeper — on a
    // dup-heavy corpus that's ~1 keeper probe per dropped row (a
    // materialize-all-pairs-then-filter shape measured 1.6× slower at
    // ×100). The gate is the fused [[graft.functions.VectorFunctions
    // .CosineGateL]] expression (the round-11 fix for this exact
    // trap), so the 64-multiply kernel runs ONCE per probed pair —
    // spelling it as column arithmetic in a join condition would run
    // it three times (no common-subexpression elimination there).
    val droppedIds = slim.as("b").join(slim.as("a"),
        col("a.cid") === col("b.cid") && col("a.rk") < col("b.rk") &&
          col("a.rk") <= SemKeeperCap &&
          graft.functions.VectorFunctions.cosine_gate_l(
            col("a.q"), col("b.q"), col("a.nn"), col("b.nn"),
            graft.Constants.CosGateNum, graft.Constants.CosGateThr),
        "left_semi")
      .select(col("vec_id"), lit(0).as("kept"))
    ranked.select(col("vec_id"), col("cid"))
      .join(droppedIds, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("kept"), lit(1)).as("kept"))
      .orderBy("vec_id")
  }

  val dedupSemanticSql: String = {
    val fin = s"cen$KmeansIters"
    s"""WITH $kmeansSqlCtes,
      |dist AS (
      |  SELECT n.vec_id, n.v, n.nn, c.cid,
      |    n.nn + c.cn
      |      - 2 * CAST(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) AS BIGINT)
      |      AS d2
      |  FROM n CROSS JOIN $fin c
      |), assign AS (
      |  SELECT vec_id, v, nn, cid, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM dist)
      |  WHERE rn = 1
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY cid ORDER BY d2 DESC, vec_id) AS rk
      |  FROM assign
      |), pair AS (
      |  SELECT b.vec_id,
      |    CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
      |    a.nn AS na, b.nn AS nb
      |  FROM rk a JOIN rk b
      |    ON a.cid = b.cid AND a.rk < b.rk AND a.rk <= $SemKeeperCap
      |), drp AS (
      |  SELECT DISTINCT vec_id FROM pair
      |  WHERE dot >= 0 AND ${graft.Constants.CosGateNum} * dot * dot >= ${graft.Constants.CosGateThr} * na * nb
      |)
      |SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cid,
      |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
      |FROM rk r LEFT JOIN drp d ON r.vec_id = d.vec_id
      |ORDER BY r.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #156-era corpus_decontaminate_embed — SEMANTIC decontamination:
  // flag training vectors whose embedding cosine against ANY held-out
  // eval vector clears the shared #32 gate. Verbatim/bloom/fuzzy
  // decontamination (#55/#84/#119) catch token overlap; this catches
  // paraphrased eval content the way SemDeDup catches paraphrased
  // duplicates — the fourth decontamination modality.
  // ---------------------------------------------------------------------

  /** Eval side = vec_id ≡ 0 (mod 10), the held-out benchmark suite.
    *
    * Scale shape — the frozen-artifact pattern of #84's bloom bits and
    * #140's LM: a benchmark suite is a BOUNDED artifact (thousands of
    * vectors, fixed as the corpus grows), so it is collected into ONE
    * broadcast row and probed per-row with higher-order functions —
    * map-only over the corpus, zero shuffle, no groupBy. Each probe is
    * the same exact integer cosine gate as #32
    * (Constants.CosGateNum/Thr over ⌊1000x⌋ quantization), so batch
    * dedup, semantic dedup, and semantic decontamination share ONE
    * numerology. If the eval suite ever outgrew broadcast, the #32b
    * LSH-bucket candidate path is the drop-in — same gate, bucketed
    * candidates.
    *
    * Output: one row per TRAIN vector — n_hits (eval vectors gated),
    * witness (smallest hitting eval id, NULL when clean), contaminated
    * flag. */
  def corpusDecontaminateEmbed(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), expr(graft.Constants.QuantizeExprSql).as("q"))
      .withColumn("nn", graft.functions.VectorFunctions.norm_sq_l(col("q")))
    val evalRow = v.filter(col("vec_id") % 10 === 0)
      .agg(collect_list(struct(col("vec_id").as("e_id"), col("q").as("eq"),
        col("nn").as("enn"))).as("evs"))
    // one compiled pass per train vector over the broadcast suite
    // (EvalHitsL — the HOF spelling of the same probe paid
    // interpreted-lambda cost per element: 266 s vs ~10 s at the ×32
    // sweep's 369M probes); returns the gating e_ids
    v.filter(col("vec_id") % 10 =!= 0)
      .crossJoin(broadcast(evalRow))
      .withColumn("hits", graft.functions.VectorFunctions.eval_hits_l(
        col("q"), col("nn"), col("evs"),
        graft.Constants.CosGateNum, graft.Constants.CosGateThr))
      .select(col("vec_id"),
        size(col("hits")).cast("long").as("n_hits"),
        array_min(col("hits")).as("witness"),
        (size(col("hits")) > 0).cast("int").as("contaminated"))
      .orderBy("vec_id")
  }

  /** #167 corpus_decontaminate_embed_lsh — the 100 TB path #160's
    * scaladoc promises: when the eval suite outgrows broadcast, the
    * suite becomes the bucketed INDEX side of the #32b asymmetric
    * multi-probe (suite vectors land once in their exact hyperplane
    * bucket, capped; train vectors fan probe rows across the
    * radius-2 masks) and the SAME exact integer gate verifies the
    * bucket-collided candidates — precision 1.0 by construction
    * (every reported hit passed the #160 gate; only recall trades
    * against the probe radius). Plane count sizes to the EVAL suite
    * (the side being partitioned), and the train side collapses to
    * distinct-q reps first (the #32b duplicate-collapse move — a
    * twin-amplified corpus probes each distinct vector once, then
    * verdicts rejoin through the rep tag). Output schema = #160's,
    * so the two are drop-in interchangeable; the spec measures recall
    * against #160 and proves per-vector hit containment. Rows-only
    * (xxhash64 buckets, the #32b adjudication). */
  def corpusDecontaminateEmbedLsh(spark: SparkSession, dir: String,
                                  radius: Int = Dedup.EmbedLshProbe): DataFrame = {
    val v = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), expr(graft.Constants.QuantizeExprSql).as("q"))
      .withColumn("nn", graft.functions.VectorFunctions.norm_sq_l(col("q")))
    val ev = v.filter(col("vec_id") % 10 === 0)
    // plan-BUILD-time count: query construction is deliberately eager
    // here — the contract is an eval-side-BOUNDED suite (a benchmark
    // artifact, thousands of rows), so the sizing scan is model-sized;
    // the corpus side stays lazy and is never counted
    val p = planesFor(math.max(1L, ev.count()))
    val indexed = Dedup.capPerBucket(
      ev.withColumn("bucket", codeExpr(p))
        .select(col("vec_id").as("e_id"), col("q").as("eq"),
          col("nn").as("enn"), col("bucket")),
      Seq("bucket"), Dedup.BandBucketCap, idCol = "e_id")
    // train side: collapse byte-identical vectors to one rep — the
    // rep probes, every twin inherits its verdict. Pinned: the
    // tagged frame feeds the rep branch AND the verdict join-back,
    // and the q-keyed sort window is the dominant repeated cost when
    // re-run per consumer (the #32b finding). Checkpoints.pin rather
    // than persist(): a raw persist has no unpersist point in a lazy
    // plan, so repeated invocations (bench passes, sweeps) accumulate
    // corpus-scale cached copies until session end — the pin's blocks
    // are private to this call and carry no CacheManager entry.
    val tagged = graft.Checkpoints.pin(v.filter(col("vec_id") % 10 =!= 0)
      .withColumn("rep", min("vec_id").over(Window.partitionBy("q"))))
    val reps = tagged.filter(col("vec_id") === col("rep"))
      .withColumn("code", codeExpr(p))
    val masks = Dedup.probeMasks(p, radius)
    val probed = reps.select(col("vec_id").as("t_id"), col("q"), col("nn"),
      explode(array(masks.map(m => col("code").bitwiseXOR(lit(m))): _*))
        .as("bucket"))
    // per (train, eval) pair the code XOR equals exactly ONE mask, so
    // each pair collides at most once — no pair dedup needed (#32b)
    val hits = probed.join(indexed, "bucket")
      .filter(graft.functions.VectorFunctions.cosine_gate_l(
        col("q"), col("eq"), col("nn"), col("enn"),
        graft.Constants.CosGateNum, graft.Constants.CosGateThr))
      .groupBy("t_id")
      .agg(count(lit(1)).as("n_hits"), min(col("e_id")).as("witness"))
    tagged.select(col("vec_id"), col("rep"))
      .join(hits, col("rep") === col("t_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("witness"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy("vec_id")
  }

  val corpusDecontaminateEmbedSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, ${graft.Constants.QuantizeDuckSql} AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nn FROM q
       |), ev AS (
       |  SELECT vec_id AS e_id, v AS evv, nn AS enn FROM n WHERE vec_id % 10 = 0
       |), tr AS (
       |  SELECT vec_id, v, nn FROM n WHERE vec_id % 10 <> 0
       |), p AS (
       |  SELECT tr.vec_id, ev.e_id,
       |    list_sum(list_transform(range(1, 65), i -> tr.v[i] * ev.evv[i])) AS dot,
       |    tr.nn AS na, ev.enn AS enn
       |  FROM tr CROSS JOIN ev
       |), hits AS (
       |  SELECT vec_id, e_id FROM p
       |  WHERE dot >= 0 AND ${graft.Constants.CosGateNum} * dot * dot >= ${graft.Constants.CosGateThr} * na * enn
       |)
       |SELECT tr.vec_id, CAST(COUNT(h.e_id) AS BIGINT) AS n_hits,
       |  MIN(h.e_id) AS witness,
       |  CASE WHEN COUNT(h.e_id) > 0 THEN 1 ELSE 0 END AS contaminated
       |FROM tr LEFT JOIN hits h ON tr.vec_id = h.vec_id
       |GROUP BY tr.vec_id
       |ORDER BY tr.vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_decontaminate_embed" ->
      ((s: SparkSession, d: String) => corpusDecontaminateEmbed(s, d)),
    "corpus_decontaminate_embed_lsh" ->
      ((s: SparkSession, d: String) => corpusDecontaminateEmbedLsh(s, d)),
    "dedup_semantic" -> ((s: SparkSession, d: String) => dedupSemantic(s, d)),
    "ann_ivfpq" -> ((s: SparkSession, d: String) => annIvfPq(s, d)),
    "ann_pq" -> ((s: SparkSession, d: String) => annPq(s, d)),
    "ann_recall" -> ((s: SparkSession, d: String) => annRecall(s, d)),
    "ann_bruteforce" -> annBruteforce,
    "ann_lsh" -> ((s: SparkSession, d: String) => annLsh(s, d)),
    "ann_lsh_poly" -> annLshPoly,
    "ann_ivf" -> ((s: SparkSession, d: String) => annIvf(s, d)),
    "ann_int8" -> annInt8,
    "corpus_diversity" -> corpusDiversity)

  val oracle: Map[String, String] = Map(
    "corpus_decontaminate_embed" -> corpusDecontaminateEmbedSql,
    "dedup_semantic" -> dedupSemanticSql,
    "ann_ivfpq" -> annIvfPqSql,
    "ann_pq" -> annPqSql,
    "ann_recall" -> annRecallSql,
    "ann_bruteforce" -> annBruteforceSql,
    "ann_lsh_poly" -> annLshPolySql,
    "ann_ivf" -> annIvfSql,
    "ann_int8" -> annInt8Sql,
    "corpus_diversity" -> corpusDiversitySql)
}
