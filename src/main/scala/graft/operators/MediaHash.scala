package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual-hash near-duplicate detection for media assets
  * (SURVEY §2 #179–180).
  *
  * Image dedup in LAION-style multimodal pipelines runs on perceptual
  * hashes: a fixed-length bit signature of the DECODED content whose
  * Hamming distance tracks visual similarity (average-hash/pHash —
  * the published dedup key of LAION-5B's url+text and img2dataset's
  * near-dup tooling). The text/embedding dedup families here (#28–32)
  * key on tokens or float vectors; media assets are opaque bytes, so
  * they need the byte-content analogue. This family supplies it:
  *
  *   - #179 `media_ahash`: the average-hash kernel. The asset's byte
  *     stream (standing in for the decoded 8×8 grayscale raster — the
  *     raster decode is this container's stubbed stage, exactly as in
  *     #112's resize) folds into 64 cells by byte position mod 64;
  *     bit_i = cell_i > mean, spelled 64·cell_i > total so NO division
  *     ever rounds; the 64 bits assemble into four 16-bit bands (the
  *     hash is stored banded — see below — and band values stay far
  *     from BIGINT sign trouble).
  *   - #180 `media_ahash_dedup`: banded near-dup join. Pairs agreeing
  *     on ≥ 1 of 4 bands are candidates (pigeonhole: Hamming ≤ 3 over
  *     64 bits leaves ≥ 1 of the 4 bands IDENTICAL — the banding is
  *     provably lossless at the radius it serves, the #31
  *     prefix-filter discipline); candidates confirm by exact Hamming
  *     ≤ 3 over the full hash. Buckets are capped at [[BucketCap]]
  *     members (min-doc_id keepers via ROW_NUMBER, deterministic and
  *     oracle-replayable), so a degenerate hot bucket — a million
  *     identical thumbnails — costs cap²/2, never corpus² (#29's
  *     BandBucketCap rule).
  *
  * Unlike SimHash (#30, xxhash64-seeded, rows-only with an
  * oracle-green poly twin), every number here is plain integer
  * arithmetic over the asset bytes, so BOTH family members are fully
  * DuckDB-verifiable — the hex-nibble byte extraction is the #114
  * byte-histogram oracle pattern.
  *
  * Near-twin synthesis: docs ≡ 6 (mod 11) carry the PREVIOUS doc's
  * bytes with one byte appended (a re-encode/metadata-touch of the
  * same image) — raw bytes differ, cells shift by one byte's worth,
  * and the pair lands within the Hamming radius; both engines build
  * the same assets from the same join, so the oracle verifies the
  * hash and join algebra, not the synthesis.
  *
  * Scale shape (100 TB): the kernel is ONE scan — per-asset work
  * linear in asset bytes collapsing to a 4-short signature
  * (map-side-combined aggregate on (doc_id, cell), then (doc_id));
  * assets never shuffle, signatures do. The dedup join shuffles
  * 10-byte band keys, capped buckets bound every task, and the
  * confirm pass touches only candidate pairs. This is the #29
  * MinHash-LSH plan with a 64-bit integer signature.
  */
object MediaHash {

  /** Hash width in bits / cells. */
  val Bits = 64
  /** Bands (16 bits each): Hamming ≤ Bands − 1 is pigeonhole-complete. */
  val Bands = 4
  /** Confirm radius: pairs with Hamming ≤ HamMax are duplicates. */
  val HamMax = 3
  /** Band-bucket membership cap (the #29 hot-bucket bound). */
  val BucketCap = 256

  /** Near-twin residue: doc_id ≡ TwinRes (mod TwinMod) re-encodes the
    * previous doc's asset. */
  val TwinMod = 11L
  val TwinRes = 6L

  // --- shared synthesis: (doc_id, content) with planted near-twins.
  // Spark renders it as a self-join DataFrame, DuckDB as the same join
  // in a CTE; `concat(text, 'x')` is the one-byte re-encode touch.
  // Synthesis edge (not detector semantics): a twin whose predecessor
  // id is absent — the block-leading ids of ×N id-shifted stress
  // corpora — drops out of the inner join identically in BOTH engines
  // (×32: 159,997 of 160,000 assets, oracle-matched).
  private val srcIdSql: String =
    s"CASE WHEN doc_id % $TwinMod = $TwinRes THEN doc_id - 1 ELSE doc_id END"

  /** Asset corpus (doc_id, content). The SLIM pre-join side carries
    * the explicit executor-width spread (r22): the text join's output
    * then inherits that width in every join regime — broadcast text
    * probes the repartitioned base; a sort-merge join at scale reads
    * both sides co-partitioned at the (coalesce-exempt) explicit
    * count — so the hash kernels fold in place and the content bytes
    * cross at most ONE exchange (the join's own, and none at all when
    * the text side broadcasts). The former per-kernel
    * repartition(doc_id) re-shuffled the assembled content once per
    * fold — two extra corpus byte-moves for the union/pipeline paths
    * that run both kernels over one pinned corpus. */
  private[graft] def assets(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val base = d.select(col("doc_id"), expr(srcIdSql).as("src_id"),
      (col("doc_id") % TwinMod === TwinRes).as("is_twin"))
      .repartition(spark.sparkContext.defaultParallelism, col("src_id"))
    base.join(d.select(col("doc_id").as("src_id"), col("text")), Seq("src_id"))
      .select(col("doc_id"),
        when(col("is_twin"), concat(col("text"), lit("x")))
          .otherwise(col("text")).as("content"))
  }

  private val assetsCte: String =
    s"""a0 AS MATERIALIZED (
       |  SELECT doc_id, $srcIdSql AS src_id,
       |    doc_id % $TwinMod = $TwinRes AS is_twin
       |  FROM documents
       |), assets AS MATERIALIZED (
       |  SELECT a0.doc_id,
       |    CASE WHEN a0.is_twin THEN concat(d.text, 'x') ELSE d.text END AS content
       |  FROM a0 JOIN documents d ON d.doc_id = a0.src_id
       |)""".stripMargin

  // --- per-doc banded hash (doc_id, b0..b3), both engines.

  /** Spark frame (doc_id, band, band_val) from the asset bytes. */
  private[graft] def bandsDf(spark: SparkSession, dir: String): DataFrame = {
    val bytes = assets(spark, dir)
      // the per-byte fold is the op's whole CPU cost (~bytes × conv);
      // spread assets across the cluster's core count before it — a
      // small-SF corpus arrives as ONE parquet split and would
      // otherwise fold on a single core (at 100 TB the scan is
      // already wide and this shuffle moves only the asset bytes
      // once, ~free vs the fold). Width = defaultParallelism, not a
      // literal: a hardcoded 32 would coalesce a 1000-executor scan
      // down to 32 tasks. The width is pinned AT ALL because AQE
      // sizes a bare repartition by INPUT bytes (MBs of text) and
      // would coalesce it back to one task, blind to the ~200× row
      // fan-out the fold does downstream
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), hex(col("content").cast("binary")).as("hx"))
      // ONE linear pass chunks the hex into 2-char byte strings; the
      // earlier substring(hx, 2j-1, 2) spelling was O(j) per byte
      // (UTF8String indexes by codepoint scan), i.e. quadratic per
      // asset — measured 30 µs/byte vs ~1 µs here
      .select(col("doc_id"),
        posexplode(split(col("hx"), "(?<=\\G..)")).as(Seq("p", "ch")))
      .select(col("doc_id"),
        expr("CAST(conv(ch, 16, 10) AS BIGINT)").as("bv"),
        expr(s"p % $Bits").as("cell"))
    val cells = bytes.groupBy("doc_id", "cell").agg(sum("bv").as("cs"))
    val tot = cells.groupBy("doc_id").agg(sum("cs").as("total"))
    cells.join(tot, "doc_id")
      .select(col("doc_id"), expr(s"cell div 16").as("band"),
        expr(s"CASE WHEN $Bits * cs > total THEN " +
          "shiftleft(CAST(1 AS BIGINT), CAST(cell % 16 AS INT)) " +
          "ELSE CAST(0 AS BIGINT) END").as("bit"))
      .groupBy("doc_id", "band").agg(sum("bit").as("band_val"))
  }

  /** In-row aHash over a binary `content` expression: the SAME
    * cell/threshold/band algebra as [[bandsDf]] folded inside one row
    * (HOF chain, no explode/shuffle) — the streaming admission twin
    * ([[graft.streaming.MediaHashStream]]) must hash per arriving
    * asset without a per-byte shuffle, exactly the MinhashStream
    * in-row signature move. Returns ARRAY<BIGINT>[4] = (b0..b3);
    * spec-pinned equal to the batch hash on every corpus asset. The
    * fold costs O(bytes · 64) slot copies per asset — bounded,
    * row-local, and the stream's whole per-asset CPU. */
  private[graft] def ahashInRowSql(content: String): String = {
    // let-bindings emulated by transform over a singleton array
    // (element_at(transform(array(v), x -> body), 1) — no scalar
    // subquery can correlate inside a Spark expression)
    // the fold runs over sequence(1, octet_length) — the REAL byte
    // count — not size(ch): the \G split keeps one trailing '' chunk
    // (limit −1 semantics) whose conv('') is NULL; the batch kernel's
    // SUM silently skips that NULL, but an in-row `v + NULL` would
    // poison the whole cell array
    val cellsOf =
      s"""aggregate(sequence(1, octet_length($content)),
         |  array_repeat(CAST(0 AS BIGINT), $Bits),
         |  (acc, i) -> transform(acc, (v, k) ->
         |    CASE WHEN (i - 1) % $Bits = k
         |         THEN v + CAST(conv(element_at(ch, i), 16, 10) AS BIGINT)
         |         ELSE v END))""".stripMargin
    val bandsOf =
      s"""element_at(transform(array(aggregate(cells, CAST(0 AS BIGINT), (a, x) -> a + x)),
         |  total -> transform(sequence(0, ${Bands - 1}), b ->
         |    aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, j) ->
         |      acc + CASE WHEN $Bits * element_at(cells, b * 16 + j + 1) > total
         |            THEN shiftleft(CAST(1 AS BIGINT), j)
         |            ELSE CAST(0 AS BIGINT) END))), 1)""".stripMargin
    s"""CASE WHEN octet_length($content) = 0
       |THEN array_repeat(CAST(0 AS BIGINT), $Bands)
       |ELSE element_at(transform(array(split(hex($content), '(?<=\\\\G..)')), ch ->
       |  element_at(transform(array($cellsOf), cells -> $bandsOf), 1)), 1)
       |END""".stripMargin
  }

  /** The per-asset fold itself: bytes → 4 banded hash words. Shared
    * by the batch kernel and the streaming ingest gate
    * ([[graft.streaming.MediaHashStream.bandRows]]) so they can never
    * hash divergently; spec-pinned equal to the explode/aggregate and
    * HOF spellings. */
  private[graft] def ahashBands(bytes: Array[Byte]): Array[Long] = {
    val cells = new Array[Long](Bits)
    var i = 0
    while (i < bytes.length) {
      cells(i % Bits) += (bytes(i) & 0xff); i += 1
    }
    var total = 0L
    i = 0
    while (i < Bits) { total += cells(i); i += 1 }
    val bands = new Array[Long](Bands)
    i = 0
    while (i < Bits) {
      if (Bits * cells(i) > total) bands(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bands
  }

  /** The production hash kernel: ONE mapPartitions pass folding each
    * asset's bytes into the 64 cells and assembling the 4 bands
    * in-task — the #114 batched-iterator shape. The [[bandsDf]]
    * explode/aggregate spelling fans each asset out to ~1 row per
    * byte through two aggregates; this kernel keeps the fold row-local
    * (no fan-out, no per-byte shuffle state), which is the same
    * argument that put the streaming twin on [[ahashInRowSql]] — and
    * unlike the HOF fold it runs at array speed, no per-step slot
    * copies. Spec-pinned value-equal to the explode/aggregate kernel
    * on every corpus asset; the DuckDB oracle keeps the hex-fold
    * spelling ([[hashCtes]]) as the independent replay.
    *
    * Input-width contract: the kernel folds IN PLACE, with no
    * repartition, so it runs on exactly the partitions of `assets`
    * (doc_id, content), which must already be spread to executor
    * width. [[assets]]/[[gAssets]] meet it on their slim pre-join
    * side, so the assembled content bytes are never re-shuffled per
    * fold (a repartition(doc_id) here cost one full content move per
    * kernel, two for the union/pipeline paths that fold one pinned
    * corpus twice). A frame with fewer partitions than
    * `defaultParallelism` folds on that many cores: spread it before
    * calling. [[ghashKernel]] has the same contract. */
  private[graft] def ahashKernel(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets
      .select(col("doc_id"), col("content").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val bands = ahashBands(bytes)
          (id, bands(0), bands(1), bands(2), bands(3))
        }
      }.toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** Spark frame (doc_id, b0, b1, b2, b3). Cells with no bytes (assets
    * shorter than 64 bytes) simply never set their bit — the sum over
    * present cells is the whole hash. */
  private[graft] def hashesFrom(bands: DataFrame): DataFrame =
    bands.groupBy("doc_id")
      .agg(
        sum(when(col("band") === 0, col("band_val")).otherwise(0L)).as("b0"),
        sum(when(col("band") === 1, col("band_val")).otherwise(0L)).as("b1"),
        sum(when(col("band") === 2, col("band_val")).otherwise(0L)).as("b2"),
        sum(when(col("band") === 3, col("band_val")).otherwise(0L)).as("b3"))

  /** DuckDB CTEs ending in `h(doc_id, b0..b3)` — the #114 hex-nibble
    * byte extraction feeding the same cell/bit/band algebra. `h`
    * drives from `assets` (LEFT JOIN, zero-coalesced) so EVERY asset
    * reports a hash row — a zero-byte asset hashes to (0,0,0,0),
    * exactly what [[ahashBands]] computes for an empty byte array. */
  /** The byte-extraction prefix alone (assets → hex → per-byte rows),
    * shared by the aHash chain and the #205 gHash oracle. */
  private val bytesCtes: String =
    s"""$assetsCte, bx AS MATERIALIZED (
       |  SELECT doc_id, hex(encode(content)) AS hx FROM assets
       |), by2 AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(range(1, length(hx) // 2 + 1)) AS j, hx
       |  FROM bx
       |)""".stripMargin

  private val hashCtes: String =
    s"""$bytesCtes, bv AS MATERIALIZED (
       |  SELECT doc_id, (j - 1) % $Bits AS cell,
       |    CAST(16 * (strpos('0123456789ABCDEF', substring(hx, CAST(2*j-1 AS INT), 1)) - 1)
       |       + (strpos('0123456789ABCDEF', substring(hx, CAST(2*j AS INT), 1)) - 1) AS BIGINT) AS b
       |  FROM by2
       |), cells AS MATERIALIZED (
       |  SELECT doc_id, cell, CAST(SUM(b) AS BIGINT) AS cs FROM bv GROUP BY doc_id, cell
       |), tot AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS total FROM cells GROUP BY doc_id
       |), bits AS MATERIALIZED (
       |  SELECT cells.doc_id, cell // 16 AS band,
       |    CASE WHEN $Bits * cs > total
       |         THEN (CAST(1 AS BIGINT) << CAST(cell % 16 AS INT))
       |         ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM cells JOIN tot ON cells.doc_id = tot.doc_id
       |), bnd AS MATERIALIZED (
       |  SELECT doc_id, band, CAST(SUM(bit) AS BIGINT) AS band_val
       |  FROM bits GROUP BY doc_id, band
       |), h AS MATERIALIZED (
       |  SELECT a.doc_id,
       |    CAST(COALESCE(SUM(CASE WHEN band = 0 THEN band_val END), 0) AS BIGINT) AS b0,
       |    CAST(COALESCE(SUM(CASE WHEN band = 1 THEN band_val END), 0) AS BIGINT) AS b1,
       |    CAST(COALESCE(SUM(CASE WHEN band = 2 THEN band_val END), 0) AS BIGINT) AS b2,
       |    CAST(COALESCE(SUM(CASE WHEN band = 3 THEN band_val END), 0) AS BIGINT) AS b3
       |  FROM assets a LEFT JOIN bnd ON bnd.doc_id = a.doc_id
       |  GROUP BY a.doc_id
       |)""".stripMargin

  // ---------------------------------------------------------------------
  // #179 media_ahash — the hash export (per-asset banded signature)
  // ---------------------------------------------------------------------

  def mediaAhash(spark: SparkSession, dir: String): DataFrame =
    ahashKernel(assets(spark, dir))
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"))
      .orderBy("doc_id")

  val mediaAhashSql: String =
    s"""WITH $hashCtes
       |SELECT doc_id, b0, b1, b2, b3 FROM h ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // #180 media_ahash_dedup — banded join + exact Hamming confirm
  // ---------------------------------------------------------------------

  def mediaAhashDedup(spark: SparkSession, dir: String): DataFrame =
    dedupFrom(assets(spark, dir))

  /** The #180 chain over a caller-supplied (doc_id, content) frame —
    * the corpus query above plus the spec's crafted short/empty-asset
    * corpora ride the ONE spelling. */
  private[graft] def dedupFrom(assetsDf: DataFrame): DataFrame =
    // the byte-fold kernel feeds every consumer (both bucket sides +
    // both pair sides) — pin its signature frame so the corpus-scale
    // fold runs ONCE (Checkpoints discipline); the per-band bucket
    // rows then derive from the pinned 1-row-per-asset frame for free.
    dedupFromHashes(graft.Checkpoints.pin(ahashKernel(assetsDf)))

  /** Banded candidates + exact-Hamming confirm over a PINNED
    * (doc_id, b0..b3) hash frame — the one detector-join spelling the
    * aHash (#180) and gHash (#207) modalities share.
    * posexplode of the 4-word hash emits ALL 4 band rows per asset —
    * a zero-valued band (any asset < 49 bytes leaves band 3's cells
    * empty; an empty asset leaves all 4) still buckets, mirrored by
    * the oracle's `hb` CTE. */
  private[graft] def dedupFromHashes(h: DataFrame): DataFrame = {
    val bands = h.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "band_val")))
    // bucket membership, capped: ROW_NUMBER over (band, band_val)
    val buckets = bands
      .withColumn("rn", expr(
        "row_number() OVER (PARTITION BY band, band_val ORDER BY doc_id)"))
      .filter(col("rn") <= BucketCap)
      .select(col("band"), col("band_val"), col("doc_id"))
    val pairs = buckets.alias("x")
      .join(buckets.alias("y"),
        expr("x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(h.toDF("doc_a", "a0", "a1", "a2", "a3"), Seq("doc_a"))
      .join(h.toDF("doc_b", "c0", "c1", "c2", "c3"), Seq("doc_b"))
      .withColumn("hamming", expr(
        "CAST(bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3) AS INT)"))
      .filter(col("hamming") <= HamMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Banded-join + confirm chain ending in `ham(doc_a, doc_b,
    * hamming)` — shared by the #180 pair query and the #187 cluster
    * canonicalization. Bucket rows derive from the HASH frame (`hb`:
    * always [[Bands]] rows per asset, zero-valued bands included) —
    * the exact mirror of Spark's posexplode over the pinned hash
    * frame. Deriving them from `bnd` (bands with ≥ 1 present CELL)
    * would drop band 3 for assets shorter than 49 bytes and all
    * bands for empty assets, silently shrinking the candidate set on
    * short media; spec-pinned by the short/empty-asset corpus legs. */
  private[graft] val dedupCtes: String =
    s"""$hashCtes, hb AS MATERIALIZED (
       |  SELECT h.doc_id, g.band,
       |    CASE g.band WHEN 0 THEN h.b0 WHEN 1 THEN h.b1
       |                WHEN 2 THEN h.b2 ELSE h.b3 END AS band_val
       |  FROM h, (SELECT unnest(range(0, $Bands)) AS band) g
       |), buckets AS MATERIALIZED (
       |  SELECT band, band_val, doc_id FROM (
       |    SELECT band, band_val, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY band, band_val ORDER BY doc_id) AS rn
       |    FROM hb
       |  ) WHERE rn <= $BucketCap
       |), pairs AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
       |), ham AS MATERIALIZED (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
       |         bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INT) AS hamming
       |  FROM pairs p
       |  JOIN h a ON a.doc_id = p.doc_a
       |  JOIN h b ON b.doc_id = p.doc_b
       |)""".stripMargin

  val mediaAhashDedupSql: String =
    s"""WITH $dedupCtes
       |SELECT doc_a, doc_b, hamming FROM ham
       |WHERE hamming <= $HamMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // #187 media_ahash_clusters — duplicate-set canonicalization
  // ---------------------------------------------------------------------

  /** Cluster canonicalization over the #180 pair graph — what an image
    * dedup actually SHIPS: one canonical asset per duplicate set plus
    * the set size (LAION's dedup keeps one representative per
    * perceptual cluster). Components via the #79 alternating
    * large-star/small-star kernel (Dedup.connectedComponents — ONE
    * component algebra in the repo); labels converge to the min
    * doc_id, which is the keeper rule (#28's discipline). Every asset
    * reports (cluster_id, n_members, is_canonical, n_bytes); the
    * dedup decision is `is_canonical`, and Σ n_bytes over canonicals
    * is the post-dedup storage bill. Oracle: the #180 chain + a
    * recursive reachability closure (the #79 oracle pattern). */
  def mediaAhashClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(assets(spark, dir),
      mediaAhashDedup(spark, dir).select("doc_a", "doc_b"))
      .orderBy("doc_id")

  /** The #187 canonicalization kernel over a CALLER-SUPPLIED pair
    * graph (factored in round 20 so the #190 pipeline's stage 1 can
    * cluster the aHash ∪ gHash union through the ONE component
    * algebra): components via the #79 alternating star kernel, labels
    * converge to the min doc_id (the keeper rule), every asset
    * reports (cluster_id, n_members, is_canonical, n_bytes). */
  private[graft] def clustersFromPairs(assetsDf: DataFrame,
                                       pairs: DataFrame): DataFrame = {
    val labels = Dedup.connectedComponents(pairs)
      .withColumnRenamed("doc_id", "d")
    val base = assetsDf
      .select(col("doc_id"),
        expr("octet_length(CAST(content AS BINARY))").cast("int").as("n_bytes"))
    val labelled = base
      .join(labels, col("doc_id") === col("d"), "left")
      .select(col("doc_id"), col("n_bytes"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    val sizes = labelled.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    labelled.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_canonical"),
        col("n_bytes"))
  }

  /** The #187 closure chain (requires WITH RECURSIVE): #180's pair
    * graph → reachability → min-label components → sizes; ends in
    * `lbls(doc_id, cluster_id)` + `sizes(cluster_id, n_members)`.
    * Shared with the #190 media pipeline oracle. */
  private[graft] val clusterCtes: String =
    s"""$dedupCtes, hits AS (
       |  SELECT doc_a, doc_b FROM ham WHERE hamming <= $HamMax
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM hits
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM hits
       |), reach(doc_id, r) AS (
       |  SELECT doc_id, doc_id FROM assets
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
       |), lbls AS MATERIALIZED (
       |  SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
       |), sizes AS MATERIALIZED (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
       |  FROM lbls GROUP BY cluster_id
       |)""".stripMargin

  val mediaAhashClustersSql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT l.doc_id, l.cluster_id, s.n_members,
       |  CAST(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END AS INT)
       |    AS is_canonical,
       |  CAST(octet_length(encode(a.content)) AS INT) AS n_bytes
       |FROM lbls l
       |JOIN sizes s ON s.cluster_id = l.cluster_id
       |JOIN assets a ON a.doc_id = l.doc_id
       |ORDER BY l.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // #198 media_ahash_recall — the acceptance gate for the perceptual
  // family (the #130 shape): planted byte-level transformations with
  // exact Hamming ground truth, recall measured AT the production
  // gate (shared band + confirm radius), justifying HamMax by data.
  // ---------------------------------------------------------------------

  /** Additive per-byte shift — the brightness/gain analogue on the
    * byte fold. aHash bits are mean-relative (bit i = 64·cells[i] >
    * total), so a uniform shift moves numerator and denominator
    * together: bits flip only where a cell's byte count deviates from
    * len/64 near the threshold — the invariance pixel aHash is built
    * for, here exercised on the byte-stream analogue. */
  val RecallGainShift = 8
  /** Leading bytes dropped — the crop/translation analogue. Realigns
    * every byte's cell (position mod 64), so recall collapses unless
    * content is 64-periodic: the documented NEGATIVE control. aHash
    * does not survive crops (pixel aHash doesn't either — LAION's
    * answer to geometric transforms is embedding-space dedup, #148
    * SemDeDup); the gate row states that boundary instead of letting
    * the radius imply robustness it doesn't have. */
  val RecallCropBytes = 8
  /** One appended byte — the re-encode touch (#180's planted-twin
    * edit, 'x' = 120): the transformation the corpus twins exercise,
    * measured here over EVERY asset rather than the 1-in-11 plant. */
  val RecallReencodeByte = 120

  /** The [[ahashBands]] fold over an already-widened value stream
    * (transforms emit weights outside 0–255, e.g. gain-shifted
    * bytes). Kept separate from the hot byte-array kernel. */
  private[graft] def ahashBandsVals(vals: Iterator[Int]): Array[Long] = {
    val cells = new Array[Long](Bits)
    var i = 0
    while (vals.hasNext) { cells(i % Bits) += vals.next(); i += 1 }
    var total = 0L
    i = 0
    while (i < Bits) { total += cells(i); i += 1 }
    val bands = new Array[Long](Bands)
    i = 0
    while (i < Bits) {
      if (Bits * cells(i) > total) bands(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bands
  }

  /** One row per (asset, transform): exact Hamming distance between
    * the base hash and the transformed asset's hash, plus whether the
    * pair still SHARES a band (the #180 candidate condition). One
    * mapPartitions pass computes all four folds per asset — map-only,
    * no pair join: the ground-truth pair is (asset, transform(asset))
    * by construction. */
  private[graft] def recallRows(assetsDf: DataFrame): DataFrame = {
    val spark = assetsDf.sparkSession
    import spark.implicits._
    assetsDf
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("content").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (_, bytes) =>
          val base = ahashBands(bytes)
          def row(name: String, t: Array[Long]): (String, Int, Int) = {
            var ham = 0; var hit = false; var i = 0
            while (i < Bands) {
              ham += java.lang.Long.bitCount(base(i) ^ t(i))
              if (base(i) == t(i)) hit = true
              i += 1
            }
            (name, ham, if (hit) 1 else 0)
          }
          Iterator(
            row("gain", ahashBandsVals(
              bytes.iterator.map(b => (b & 0xff) + RecallGainShift))),
            row("crop", ahashBandsVals(
              bytes.iterator.drop(RecallCropBytes).map(_ & 0xff))),
            row("reencode", ahashBandsVals(
              bytes.iterator.map(b => b & 0xff) ++ Iterator(RecallReencodeByte))))
        }
      }.toDF("transform", "hamming", "band_hit")
  }

  /** #198 media_ahash_recall — per-transform recall at the production
    * gate. `n_banded` = pairs still sharing ≥ 1 exact band (would
    * enter the #180 candidate join), `n_radius` = pairs within the
    * confirm radius, `n_detected` = both (the gate actually firing);
    * `recall_permille` = n_detected·1000 div n_assets. Integer-exact:
    * DuckDB reproduces the COUNTS, not just the rates. */
  def mediaAhashRecall(spark: SparkSession, dir: String): DataFrame =
    recallRows(assets(spark, dir))
      .groupBy("transform")
      .agg(count(lit(1)).as("n_assets"),
        sum(when(col("hamming") <= HamMax, 1L).otherwise(0L)).as("n_radius"),
        sum(col("band_hit").cast("long")).as("n_banded"),
        sum(when(col("band_hit") === 1 && col("hamming") <= HamMax, 1L)
          .otherwise(0L)).as("n_detected"),
        max(col("hamming")).cast("int").as("max_hamming"))
      .withColumn("recall_permille",
        expr("n_detected * 1000 div n_assets"))
      .select(col("transform"), col("n_assets"), col("n_radius"),
        col("n_banded"), col("n_detected"), col("recall_permille"),
        col("max_hamming"))
      .orderBy("transform")

  /** Per-byte rows keyed by POSITION (bv keeps only the cell), so the
    * transforms can re-map cells: gain shifts the value, crop shifts
    * the alignment, re-encode appends the twin-touch byte. */
  private def recallTransformChain(sfx: String, bvSql: String): String =
    s"""bv_$sfx AS MATERIALIZED (
       |  $bvSql
       |), cells_$sfx AS MATERIALIZED (
       |  SELECT doc_id, cell, CAST(SUM(b) AS BIGINT) AS cs
       |  FROM bv_$sfx GROUP BY doc_id, cell
       |), tot_$sfx AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS total
       |  FROM cells_$sfx GROUP BY doc_id
       |), bits_$sfx AS MATERIALIZED (
       |  SELECT cells_$sfx.doc_id, cell // 16 AS band,
       |    CASE WHEN $Bits * cs > total
       |         THEN (CAST(1 AS BIGINT) << CAST(cell % 16 AS INT))
       |         ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM cells_$sfx JOIN tot_$sfx ON cells_$sfx.doc_id = tot_$sfx.doc_id
       |), bnd_$sfx AS MATERIALIZED (
       |  SELECT doc_id, band, CAST(SUM(bit) AS BIGINT) AS band_val
       |  FROM bits_$sfx GROUP BY doc_id, band
       |), h_$sfx AS MATERIALIZED (
       |  SELECT a.doc_id,
       |    CAST(COALESCE(SUM(CASE WHEN band = 0 THEN band_val END), 0) AS BIGINT) AS b0,
       |    CAST(COALESCE(SUM(CASE WHEN band = 1 THEN band_val END), 0) AS BIGINT) AS b1,
       |    CAST(COALESCE(SUM(CASE WHEN band = 2 THEN band_val END), 0) AS BIGINT) AS b2,
       |    CAST(COALESCE(SUM(CASE WHEN band = 3 THEN band_val END), 0) AS BIGINT) AS b3
       |  FROM assets a LEFT JOIN bnd_$sfx ON bnd_$sfx.doc_id = a.doc_id
       |  GROUP BY a.doc_id
       |), cmp_$sfx AS MATERIALIZED (
       |  SELECT a.doc_id,
       |    CAST(bit_count(xor(a.b0, t.b0)) + bit_count(xor(a.b1, t.b1)) +
       |         bit_count(xor(a.b2, t.b2)) + bit_count(xor(a.b3, t.b3)) AS INT)
       |      AS hamming,
       |    CASE WHEN a.b0 = t.b0 OR a.b1 = t.b1 OR a.b2 = t.b2 OR a.b3 = t.b3
       |         THEN 1 ELSE 0 END AS band_hit
       |  FROM h a JOIN h_$sfx t ON t.doc_id = a.doc_id
       |)""".stripMargin

  private def recallSummary(name: String): String =
    s"""SELECT '$name' AS transform, CAST(COUNT(*) AS BIGINT) AS n_assets,
       |  CAST(SUM(CASE WHEN hamming <= $HamMax THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_radius,
       |  CAST(SUM(band_hit) AS BIGINT) AS n_banded,
       |  CAST(SUM(CASE WHEN band_hit = 1 AND hamming <= $HamMax THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_detected,
       |  CAST(SUM(CASE WHEN band_hit = 1 AND hamming <= $HamMax THEN 1 ELSE 0 END)
       |    * 1000 // COUNT(*) AS BIGINT) AS recall_permille,
       |  CAST(MAX(hamming) AS INT) AS max_hamming
       |FROM cmp_$name""".stripMargin

  /** The aHash recall chains (bvj + per-transform folds, ending in
    * cmp_gain/cmp_crop/cmp_reencode) — shared by the #198 gate SQL
    * and the #209 radius-sweep SQL. */
  private lazy val ahashRecallCtes: String = {
    val bvj =
      s"""bvj AS MATERIALIZED (
         |  SELECT doc_id, j,
         |    CAST(16 * (strpos('0123456789ABCDEF', substring(hx, CAST(2*j-1 AS INT), 1)) - 1)
         |       + (strpos('0123456789ABCDEF', substring(hx, CAST(2*j AS INT), 1)) - 1) AS BIGINT) AS b
         |  FROM by2
         |)""".stripMargin
    val gain = recallTransformChain("gain",
      s"SELECT doc_id, (j - 1) % $Bits AS cell, b + $RecallGainShift AS b FROM bvj")
    val crop = recallTransformChain("crop",
      s"SELECT doc_id, (j - ${RecallCropBytes + 1}) % $Bits AS cell, b FROM bvj " +
        s"WHERE j > $RecallCropBytes")
    val reenc = recallTransformChain("reencode",
      s"SELECT doc_id, (j - 1) % $Bits AS cell, b FROM bvj " +
        s"UNION ALL SELECT doc_id, (length(hx) // 2) % $Bits AS cell, " +
        s"CAST($RecallReencodeByte AS BIGINT) AS b FROM bx")
    s"$bvj, $gain, $crop, $reenc"
  }

  val mediaAhashRecallSql: String =
    s"""WITH $hashCtes, $ahashRecallCtes
       |${Seq("crop", "gain", "reencode").map(recallSummary)
           .mkString("\nUNION ALL\n")}
       |ORDER BY transform""".stripMargin

  // ---------------------------------------------------------------------
  // #199 media_dup_resolve — streaming dup_of chains resolved to their
  // admitted roots (the VERDICT r17 "what's wrong #1" consumer view)
  // ---------------------------------------------------------------------

  /** Resolve first-writer `dup_of` chains to admitted roots. Input:
    * one verdict row per asset (doc_id, dup_of nullable — null =
    * admitted), the shape MediaHashStream/MediaPipelineStream log per
    * batch. The streaming gates reject TRANSITIVELY (a bucket's owner
    * is claimed once and may itself be rejected through another
    * bucket), so `dup_of` can name a rejected asset; consumers
    * building a keep-list need the admitted ancestor. Chains form a
    * forest whose hops strictly decrease ARRIVAL TIME (an owner was
    * always claimed before its dups), but not necessarily doc_id —
    * files can land out of order, so a bucket's owner may carry a
    * LARGER id than a later-arriving smaller-id dup. Resolution is
    * therefore pointer DOUBLING on the parent map (root ← root∘root
    * until fixpoint; admitted nodes self-loop, so composition is
    * idempotent there): O(log chain) bounded rounds at any scale,
    * ordering-free — a min-label component pass would need the
    * id-ordered special case. Output adds `root` = the admitted
    * representative (doc_id itself for admitted rows). */
  def dupResolve(verdicts: DataFrame): DataFrame = {
    val parent = graft.Checkpoints.pin(
      verdicts.select(col("doc_id"),
        coalesce(col("dup_of"), col("doc_id")).as("root")))
    // fail fast on dangling parents: the doubling round's inner
    // self-join silently DROPS a row whose dup_of names a doc_id
    // absent from the input, and the final left-join coalesce would
    // then mislabel the dropped row root = doc_id — an "admitted"
    // root that was never admitted. A well-formed stream log can't
    // produce one (every owner was an arrival), so an absent parent
    // means the caller fed a truncated/filtered log; say so instead
    // of resolving it wrong (r18 ADVICE).
    val dangling = parent.filter(col("root") =!= col("doc_id"))
      .join(parent.select(col("doc_id").as("p")),
        col("root") === col("p"), "left_anti")
    require(dangling.isEmpty,
      "dupResolve: dup_of names doc_ids absent from the input (e.g. " +
        dangling.select("doc_id", "root").limit(3).collect().mkString(", ") +
        ") — the verdict log is truncated or pre-filtered; resolve over " +
        "the full log")
    var cur = parent
    var converged = false
    var rounds = 0
    while (!converged && rounds < 64) {
      // r21: the round's composition join already sees old root (a.root)
      // and new root (r_root) side by side, so the changed flag rides
      // the SAME pinned frame — the former convergence probe re-joined
      // next against cur (one more shuffle + eager job per round) to
      // recover exactly this comparison.
      val next = graft.Checkpoints.pin(
        cur.alias("a")
          .join(cur.select(col("doc_id").as("r_id"), col("root").as("r_root"))
            .alias("b"), col("a.root") === col("b.r_id"))
          .select(col("a.doc_id"), col("r_root").as("root"),
            (col("a.root") =!= col("r_root")).as("chg")))
      converged = next.filter(col("chg")).isEmpty
      cur = next.drop("chg")
      rounds += 1
    }
    require(converged, "dupResolve: dup_of chains did not converge in " +
      "64 doubling rounds — a cycle means the input is not a stream log")
    verdicts.join(cur.withColumnRenamed("doc_id", "rid"),
        col("doc_id") === col("rid"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNull.cast("int").as("admitted"),
        coalesce(col("root"), col("doc_id")).as("root"))
  }

  /** Batch reproduction of the streaming gate's verdicts under
    * doc_id-ordered arrival (the spec corpora's order): a bucket's
    * first claimant is its global min doc_id, and an arrival is
    * `dup_of` the smallest of its band OWNERS (not all members —
    * the stream compares to owners only) within the confirm radius.
    * This is the stream's protocol as one plan, so the resolution
    * view is oracle-checkable without a live stream. */
  private[graft] def firstClaimVerdicts(spark: SparkSession,
                                        dir: String): DataFrame = {
    val h = graft.Checkpoints.pin(ahashKernel(assets(spark, dir)))
    val bands = h.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "band_val")))
    val owners = bands.groupBy("band", "band_val")
      .agg(min("doc_id").as("owner"))
    val cand = bands.join(owners, Seq("band", "band_val"))
      .filter(col("owner") =!= col("doc_id"))
      .select("doc_id", "owner").distinct()
    val confirmed = cand
      .join(h.toDF("doc_id", "a0", "a1", "a2", "a3"), Seq("doc_id"))
      .join(h.toDF("owner", "o0", "o1", "o2", "o3"), Seq("owner"))
      .filter(expr(
        "bit_count(a0 ^ o0) + bit_count(a1 ^ o1) + " +
          s"bit_count(a2 ^ o2) + bit_count(a3 ^ o3) <= $HamMax"))
      .groupBy("doc_id").agg(min("owner").as("dup_of"))
    h.select("doc_id").join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"))
  }

  /** #199 media_dup_resolve — every asset's streaming verdict with
    * its admitted root: (doc_id, dup_of, admitted, root). The spec
    * asserts every root is admitted (the chain walk never ends on a
    * rejected asset) and matches an independent sequential walk. */
  def mediaDupResolve(spark: SparkSession, dir: String): DataFrame =
    dupResolve(firstClaimVerdicts(spark, dir)).orderBy("doc_id")

  /** Oracle: the same first-claim protocol in CTEs + a recursive
    * chain walk (hops strictly decrease, so MIN over the walk's
    * ancestors is the admitted root). */
  val mediaDupResolveSql: String =
    s"""WITH RECURSIVE $hashCtes, hb AS MATERIALIZED (
       |  SELECT h.doc_id, g.band,
       |    CASE g.band WHEN 0 THEN h.b0 WHEN 1 THEN h.b1
       |                WHEN 2 THEN h.b2 ELSE h.b3 END AS band_val
       |  FROM h, (SELECT unnest(range(0, $Bands)) AS band) g
       |), own AS MATERIALIZED (
       |  SELECT band, band_val, MIN(doc_id) AS owner
       |  FROM hb GROUP BY band, band_val
       |), cand AS MATERIALIZED (
       |  SELECT DISTINCT hb.doc_id, o.owner
       |  FROM hb JOIN own o ON o.band = hb.band AND o.band_val = hb.band_val
       |  WHERE o.owner <> hb.doc_id
       |), conf AS MATERIALIZED (
       |  SELECT c.doc_id, MIN(c.owner) AS dup_of
       |  FROM cand c
       |  JOIN h a ON a.doc_id = c.doc_id
       |  JOIN h o ON o.doc_id = c.owner
       |  WHERE bit_count(xor(a.b0, o.b0)) + bit_count(xor(a.b1, o.b1)) +
       |        bit_count(xor(a.b2, o.b2)) + bit_count(xor(a.b3, o.b3))
       |        <= $HamMax
       |  GROUP BY c.doc_id
       |), v AS MATERIALIZED (
       |  SELECT h.doc_id, conf.dup_of
       |  FROM h LEFT JOIN conf ON conf.doc_id = h.doc_id
       |), walk(doc_id, cur) AS (
       |  SELECT doc_id, dup_of FROM v WHERE dup_of IS NOT NULL
       |  UNION ALL
       |  SELECT w.doc_id, v2.dup_of
       |  FROM walk w JOIN v v2 ON v2.doc_id = w.cur
       |  WHERE v2.dup_of IS NOT NULL
       |), rt AS (
       |  SELECT doc_id, MIN(cur) AS root FROM walk GROUP BY doc_id
       |)
       |SELECT v.doc_id, v.dup_of,
       |  CAST(CASE WHEN v.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS admitted,
       |  COALESCE(rt.root, v.doc_id) AS root
       |FROM v LEFT JOIN rt ON rt.doc_id = v.doc_id
       |ORDER BY v.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // #205 media_ghash_recall — the crop-robust perceptual modality
  // (VERDICT r18 missing #3): #198 MEASURED that the position-keyed
  // aHash fold catches gain/re-encode (982/966‰) and misses crops
  // entirely (0‰). The obvious candidate — dHash on a resampled grid,
  // the pHash/dHash family — was built and MEASURED first: crop
  // recall is ALSO 0 on 1-D byte streams, because a leading-bytes
  // crop is a TRANSLATION, not a scale change (the shift is
  // crop·Cells/len ≈ 1.7 grid cells at the corpus's ~300-byte
  // assets), and byte content is high-frequency, so shifted cells
  // decorrelate — the grid family's crop robustness is an
  // image-domain property (2-D smoothness + resize-normalized scale)
  // that does not transfer to byte folds. The modality that DOES
  // transfer is position-FREE: a histogram over local 4-byte shingle
  // hashes — the byte-stream analogue of the texture/color histogram
  // that gives content-based image retrieval its translation
  // invariance. Dropping 8 of ~300 bytes removes 8 of ~300 shingles;
  // the bin counts barely move; threshold bits survive.
  // ---------------------------------------------------------------------

  /** Shingle width of the gHash fold. With the shared poly base 131
    * and 64 bins, the fold is EXACTLY invariant to uniform +v gains
    * with 40·v ≡ 0 (mod 64) — i.e. v ≡ 0 (mod 8), which includes the
    * gate's +8 — because Σ131^k ≡ 40 (mod 64) over the 4-byte window
    * shifts every shingle hash by a multiple of 64 (up to the ~2%
    * of shingles whose hash wraps past P, shifting them by P mod 64 =
    * 7 bins). Stated as arithmetic, not luck: the gate's gain row
    * measures this invariance, and a +7 gain would break it. */
  val GramW = 4

  /** The gHash fold: 4-byte rolling shingles hashed with the shared
    * poly base into [[Bits]] bins; bit_i = bin i's count above the
    * mean occupancy (the aHash threshold rule over the HISTOGRAM
    * rather than the position fold); bands as in aHash. One pass,
    * O(bytes · W) — row-local, stream-safe, the ahashBands shape. */
  private[graft] def ghashBands(vals: Iterator[Int]): Array[Long] = {
    val P = graft.functions.SketchFunctions.PolyP
    val bins = new Array[Long](Bits)
    val win = new Array[Int](GramW)
    var n = 0L
    var cnt = 0L
    while (vals.hasNext) {
      win((n % GramW).toInt) = vals.next()
      n += 1
      if (n >= GramW) {
        var h = 0L
        var k = 0
        while (k < GramW) {
          h = (h * 131 + win(((n - GramW + k) % GramW).toInt)) % P
          k += 1
        }
        bins((h % Bits).toInt) += 1
        cnt += 1
      }
    }
    val bands = new Array[Long](Bands)
    var i = 0
    while (i < Bits) {
      if (Bits * bins(i) > cnt) bands(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bands
  }

  /** The same fold over a raw byte array — the hot-path spelling the
    * batch kernel and the streaming gate run (r21): an unboxed while
    * loop with a ROLLING window hash (drop the outgoing byte's
    * 131^(W−1) term, shift, add the incoming byte — exact modular
    * algebra, 2 mult-mods per byte instead of re-running the W-term
    * Horner per window) in place of the boxed Iterator[Int] walk.
    * Value-identical to [[ghashBands(vals:Iterator[Int])*]] by the
    * same residue arithmetic (both reduce each window to
    * Σ b_k·131^(W−1−k) mod P); spec-pinned equal on every corpus
    * asset plus the short/empty edge cases. The Iterator spelling
    * stays for the recall gate's TRANSFORMED value streams. */
  private[graft] def ghashBands(bytes: Array[Byte]): Array[Long] = {
    val P = graft.functions.SketchFunctions.PolyP
    var cOut = 1L // 131^(GramW-1) mod P — weight of the outgoing byte
    var t = 0
    while (t < GramW - 1) { cOut = cOut * 131 % P; t += 1 }
    val bins = new Array[Long](Bits)
    var cnt = 0L
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      if (i >= GramW)
        h = (h + P - (bytes(i - GramW) & 0xff) * cOut % P) % P
      h = (h * 131 + (bytes(i) & 0xff)) % P
      if (i >= GramW - 1) { bins((h % Bits).toInt) += 1; cnt += 1 }
      i += 1
    }
    val bands = new Array[Long](Bands)
    var j = 0
    while (j < Bits) {
      if (Bits * bins(j) > cnt) bands(j / 16) |= 1L << (j % 16)
      j += 1
    }
    bands
  }

  /** One row per (asset, transform) — the #198 shape over the gHash
    * fold: all four folds per asset in one map-only pass. */
  private[graft] def ghashRecallRows(assetsDf: DataFrame): DataFrame = {
    val spark = assetsDf.sparkSession
    import spark.implicits._
    assetsDf
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("content").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (_, bytes) =>
          val base = ghashBands(bytes.iterator.map(_ & 0xff))
          def row(name: String, t: Array[Long]): (String, Int, Int) = {
            var ham = 0; var hit = false; var i = 0
            while (i < Bands) {
              ham += java.lang.Long.bitCount(base(i) ^ t(i))
              if (base(i) == t(i)) hit = true
              i += 1
            }
            (name, ham, if (hit) 1 else 0)
          }
          Iterator(
            row("gain", ghashBands(
              bytes.iterator.map(b => (b & 0xff) + RecallGainShift))),
            row("crop", ghashBands(
              bytes.iterator.drop(RecallCropBytes).map(_ & 0xff))),
            row("reencode", ghashBands(
              bytes.iterator.map(b => b & 0xff) ++ Iterator(RecallReencodeByte))))
        }
      }.toDF("transform", "hamming", "band_hit")
  }

  /** The shared recall-gate aggregate (#198's columns) over a
    * per-(asset, transform) row frame. */
  private def recallGate(rows: DataFrame): DataFrame =
    rows.groupBy("transform")
      .agg(count(lit(1)).as("n_assets"),
        sum(when(col("hamming") <= HamMax, 1L).otherwise(0L)).as("n_radius"),
        sum(col("band_hit").cast("long")).as("n_banded"),
        sum(when(col("band_hit") === 1 && col("hamming") <= HamMax, 1L)
          .otherwise(0L)).as("n_detected"),
        max(col("hamming")).cast("int").as("max_hamming"))
      .withColumn("recall_permille",
        expr("n_detected * 1000 div n_assets"))
      .select(col("transform"), col("n_assets"), col("n_radius"),
        col("n_banded"), col("n_detected"), col("recall_permille"),
        col("max_hamming"))
      .orderBy("transform")

  /** #205 media_ghash_recall — per-transform recall of the gHash
    * modality at the production gate (shared band + confirm radius).
    * The row this family was missing: crop recall is NON-ZERO (838‰
    * at sf0.01) where both position-keyed folds measure 0. */
  def mediaGhashRecall(spark: SparkSession, dir: String): DataFrame =
    recallGate(ghashRecallRows(assets(spark, dir)))

  /** gHash chain over a (doc_id, j, b) byte relation (j 1-based,
    * renumbered per transform): 4-byte windows via lead(), the shared
    * poly fold, 64-bin histogram, threshold bits, 4 bands.
    * `assetsCte` names the per-doc driving relation (the recall gate
    * reads the #180 `assets`, the #207 dedup its crop-twin variant). */
  private def ghashChain(sfx: String, bvSql: String,
                         assetsCte: String = "assets"): String = {
    val p = graft.functions.SketchFunctions.PolyP
    s"""gbv_$sfx AS MATERIALIZED (
       |  $bvSql
       |), gwin_$sfx AS MATERIALIZED (
       |  SELECT doc_id, b AS b0,
       |    lead(b, 1) OVER (PARTITION BY doc_id ORDER BY j) AS b1,
       |    lead(b, 2) OVER (PARTITION BY doc_id ORDER BY j) AS b2,
       |    lead(b, 3) OVER (PARTITION BY doc_id ORDER BY j) AS b3
       |  FROM gbv_$sfx
       |), gh_$sfx AS MATERIALIZED (
       |  SELECT doc_id,
       |    (((((b0 * 131 + b1) % $p) * 131 + b2) % $p * 131 + b3) % $p)
       |      % $Bits AS bin
       |  FROM gwin_$sfx WHERE b3 IS NOT NULL
       |), gcnt_$sfx AS MATERIALIZED (
       |  SELECT doc_id, bin, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM gh_$sfx GROUP BY doc_id, bin
       |), gtot_$sfx AS MATERIALIZED (
       |  SELECT a.doc_id, CAST(COALESCE(SUM(c), 0) AS BIGINT) AS total
       |  FROM $assetsCte a LEFT JOIN gcnt_$sfx g ON g.doc_id = a.doc_id
       |  GROUP BY a.doc_id
       |), gbits_$sfx AS MATERIALIZED (
       |  SELECT t.doc_id, g.bin // 16 AS band,
       |    CASE WHEN $Bits * COALESCE(c.c, 0) > t.total
       |         THEN (CAST(1 AS BIGINT) << CAST(g.bin % 16 AS INT))
       |         ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM gtot_$sfx t
       |  CROSS JOIN (SELECT unnest(range(0, $Bits)) AS bin) g
       |  LEFT JOIN gcnt_$sfx c ON c.doc_id = t.doc_id AND c.bin = g.bin
       |), ghh_$sfx AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(COALESCE(SUM(CASE WHEN band = 0 THEN bit END), 0) AS BIGINT) AS b0,
       |    CAST(COALESCE(SUM(CASE WHEN band = 1 THEN bit END), 0) AS BIGINT) AS b1,
       |    CAST(COALESCE(SUM(CASE WHEN band = 2 THEN bit END), 0) AS BIGINT) AS b2,
       |    CAST(COALESCE(SUM(CASE WHEN band = 3 THEN bit END), 0) AS BIGINT) AS b3
       |  FROM gbits_$sfx GROUP BY doc_id
       |)""".stripMargin
  }

  private def ghashCmp(sfx: String): String =
    s"""gcmp_$sfx AS MATERIALIZED (
       |  SELECT a.doc_id,
       |    CAST(bit_count(xor(a.b0, t.b0)) + bit_count(xor(a.b1, t.b1)) +
       |         bit_count(xor(a.b2, t.b2)) + bit_count(xor(a.b3, t.b3)) AS INT)
       |      AS hamming,
       |    CASE WHEN a.b0 = t.b0 OR a.b1 = t.b1 OR a.b2 = t.b2 OR a.b3 = t.b3
       |         THEN 1 ELSE 0 END AS band_hit
       |  FROM ghh_base a JOIN ghh_$sfx t ON t.doc_id = a.doc_id
       |)""".stripMargin

  private def ghashSummary(name: String): String =
    s"""SELECT '$name' AS transform, CAST(COUNT(*) AS BIGINT) AS n_assets,
       |  CAST(SUM(CASE WHEN hamming <= $HamMax THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_radius,
       |  CAST(SUM(band_hit) AS BIGINT) AS n_banded,
       |  CAST(SUM(CASE WHEN band_hit = 1 AND hamming <= $HamMax THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_detected,
       |  CAST(SUM(CASE WHEN band_hit = 1 AND hamming <= $HamMax THEN 1 ELSE 0 END)
       |    * 1000 // COUNT(*) AS BIGINT) AS recall_permille,
       |  CAST(MAX(hamming) AS INT) AS max_hamming
       |FROM gcmp_$name""".stripMargin

  /** The gHash recall chains (gbvj + base + per-transform folds +
    * gcmp_* compares) — shared by #205's gate SQL and the #209
    * radius-sweep SQL. */
  private lazy val ghashRecallCtes: String = {
    val bvj =
      s"""gbvj AS MATERIALIZED (
         |  SELECT doc_id, j,
         |    CAST(16 * (strpos('0123456789ABCDEF', substring(hx, CAST(2*j-1 AS INT), 1)) - 1)
         |       + (strpos('0123456789ABCDEF', substring(hx, CAST(2*j AS INT), 1)) - 1) AS BIGINT) AS b
         |  FROM by2
         |)""".stripMargin
    val base = ghashChain("base", "SELECT doc_id, j, b FROM gbvj")
    val gain = ghashChain("gain",
      s"SELECT doc_id, j, b + $RecallGainShift AS b FROM gbvj")
    val crop = ghashChain("crop",
      s"SELECT doc_id, j - $RecallCropBytes AS j, b FROM gbvj " +
        s"WHERE j > $RecallCropBytes")
    val reenc = ghashChain("reencode",
      s"SELECT doc_id, j, b FROM gbvj " +
        s"UNION ALL SELECT doc_id, length(hx) // 2 + 1 AS j, " +
        s"CAST($RecallReencodeByte AS BIGINT) AS b FROM bx")
    s"""$bvj, $base, $gain, $crop, $reenc,
       |${Seq("gain", "crop", "reencode").map(ghashCmp).mkString(",\n")}""".stripMargin
  }

  val mediaGhashRecallSql: String =
    s"""WITH $bytesCtes, $ghashRecallCtes
       |${Seq("crop", "gain", "reencode").map(ghashSummary)
           .mkString("\nUNION ALL\n")}
       |ORDER BY transform""".stripMargin

  // ---------------------------------------------------------------------
  // #207 media_ghash_dedup — the crop-twin DETECTOR join: #205 measures
  // that gHash survives crops; this puts the modality where aHash
  // already is (#180's banded candidates + exact-Hamming confirm), so
  // a media pipeline catches cropped re-uploads end-to-end instead of
  // only measuring that it could.
  // ---------------------------------------------------------------------

  /** Crop-twin residue: doc_id ≡ GTwinRes (mod GTwinMod) carries the
    * PREVIOUS doc's bytes with the first [[RecallCropBytes]]
    * characters dropped — the cropped re-upload of the same asset,
    * the transform class #205's gate measured at 838‰. The %11
    * re-encode twins stay planted too (shared residue rules with
    * #180, re-encode precedence on the rare overlap), so the detector
    * must catch BOTH transform classes in one pass. */
  val GTwinMod = 13L
  val GTwinRes = 7L

  private val gSrcIdSql: String =
    s"CASE WHEN doc_id % $TwinMod = $TwinRes THEN doc_id - 1 " +
      s"WHEN doc_id % $GTwinMod = $GTwinRes THEN doc_id - 1 " +
      "ELSE doc_id END"

  private[graft] def gAssets(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    // slim-side width spread before the text join — see [[assets]]
    val base = d.select(col("doc_id"), expr(gSrcIdSql).as("src_id"),
      (col("doc_id") % TwinMod === TwinRes).as("is_reenc"),
      (col("doc_id") % TwinMod =!= TwinRes &&
        col("doc_id") % GTwinMod === GTwinRes).as("is_crop"))
      .repartition(spark.sparkContext.defaultParallelism, col("src_id"))
    base.join(d.select(col("doc_id").as("src_id"), col("text")), Seq("src_id"))
      .select(col("doc_id"),
        when(col("is_reenc"), concat(col("text"), lit("x")))
          .when(col("is_crop"),
            expr(s"substring(text, ${RecallCropBytes + 1})"))
          .otherwise(col("text")).as("content"))
  }

  private val gAssetsCte: String =
    s"""g0 AS MATERIALIZED (
       |  SELECT doc_id, $gSrcIdSql AS src_id,
       |    doc_id % $TwinMod = $TwinRes AS is_reenc,
       |    doc_id % $TwinMod <> $TwinRes
       |      AND doc_id % $GTwinMod = $GTwinRes AS is_crop
       |  FROM documents
       |), gassets AS MATERIALIZED (
       |  SELECT g0.doc_id,
       |    CASE WHEN g0.is_reenc THEN concat(d.text, 'x')
       |         WHEN g0.is_crop THEN substring(d.text, ${RecallCropBytes + 1})
       |         ELSE d.text END AS content
       |  FROM g0 JOIN documents d ON d.doc_id = g0.src_id
       |)""".stripMargin

  /** The gHash production kernel: one mapPartitions pass per asset
    * (the ahashKernel shape over [[ghashBands]], folding in place).
    * Input-width contract as in [[ahashKernel]]: `assets` must already
    * be spread to executor width; the output keeps its partitions. */
  private[graft] def ghashKernel(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets
      .select(col("doc_id"), col("content").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val bands = ghashBands(bytes)
          (id, bands(0), bands(1), bands(2), bands(3))
        }
      }.toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** #207 media_ghash_dedup — banded gHash candidates + exact-Hamming
    * confirm over the crop-twin corpus (the SHARED detector join,
    * [[dedupFromHashes]] — same caps, same confirm radius, different
    * signature). Scale shape identical to #180: the fold is one scan,
    * signatures shuffle 10-byte band keys, buckets capped. */
  def mediaGhashDedup(spark: SparkSession, dir: String): DataFrame =
    dedupFromHashes(graft.Checkpoints.pin(ghashKernel(gAssets(spark, dir))))

  /** Per-byte rows over the crop-twin corpus (gassets → hex → (doc_id,
    * j, b)) — shared by the #207 oracle and the #211 union chain. */
  private val gByteCtes: String =
    s"""bxg AS MATERIALIZED (
       |  SELECT doc_id, hex(encode(content)) AS hx FROM gassets
       |), by2g AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(range(1, length(hx) // 2 + 1)) AS j, hx
       |  FROM bxg
       |), gbvj AS MATERIALIZED (
       |  SELECT doc_id, j,
       |    CAST(16 * (strpos('0123456789ABCDEF', substring(hx, CAST(2*j-1 AS INT), 1)) - 1)
       |       + (strpos('0123456789ABCDEF', substring(hx, CAST(2*j AS INT), 1)) - 1) AS BIGINT) AS b
       |  FROM by2g
       |)""".stripMargin

  val mediaGhashDedupSql: String = {
    val bvj = gByteCtes
    s"""WITH $gAssetsCte, $bvj,
       |${ghashChain("base", "SELECT doc_id, j, b FROM gbvj", "gassets")},
       |hbg AS MATERIALIZED (
       |  SELECT h.doc_id, g.band,
       |    CASE g.band WHEN 0 THEN h.b0 WHEN 1 THEN h.b1
       |                WHEN 2 THEN h.b2 ELSE h.b3 END AS band_val
       |  FROM ghh_base h, (SELECT unnest(range(0, $Bands)) AS band) g
       |), bucketsg AS MATERIALIZED (
       |  SELECT band, band_val, doc_id FROM (
       |    SELECT band, band_val, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY band, band_val ORDER BY doc_id) AS rn
       |    FROM hbg
       |  ) WHERE rn <= $BucketCap
       |), pairsg AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bucketsg x JOIN bucketsg y
       |    ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
       |)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
       |       bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INT)
       |    AS hamming
       |FROM pairsg p
       |JOIN ghh_base a ON a.doc_id = p.doc_a
       |JOIN ghh_base b ON b.doc_id = p.doc_b
       |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
       |      bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= $HamMax
       |ORDER BY p.doc_a, p.doc_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #209 media_radius_sweep — the confirm radius justified by
  // measurement for BOTH perceptual modalities in one table: #198 and
  // #205 report recall at the PRODUCTION radius; this sweeps radius
  // 0..7 so the knee (and the pigeonhole boundary) are measured, not
  // asserted. n_within = pairs inside the radius; n_detected = the
  // banded gate firing (band_hit AND within) — pigeonhole says
  // detected == within for radius ≤ Bands−1 = 3, and the sweep SHOWS
  // detection falling behind truth exactly past radius 3, which is
  // the measured argument for 4×16 banding at HamMax 3.
  // ---------------------------------------------------------------------

  /** Radii swept (0..MaxSweepRadius); the production HamMax sits at
    * the pigeonhole boundary Bands − 1 inside this range. */
  val MaxSweepRadius = 7

  def mediaRadiusSweep(spark: SparkSession, dir: String): DataFrame = {
    val a = assets(spark, dir)
    val rows = recallRows(a).withColumn("modality", lit("ahash"))
      .unionByName(ghashRecallRows(a).withColumn("modality", lit("ghash")))
    val grid = spark.range(0, MaxSweepRadius + 1L)
      .select(col("id").cast("int").as("radius"))
    rows.crossJoin(broadcast(grid))
      .groupBy("modality", "transform", "radius")
      .agg(count(lit(1)).as("n_assets"),
        sum(when(col("hamming") <= col("radius"), 1L).otherwise(0L))
          .as("n_within"),
        sum(when(col("band_hit") === 1 && col("hamming") <= col("radius"), 1L)
          .otherwise(0L)).as("n_detected"))
      .withColumn("recall_permille", expr("n_detected * 1000 div n_assets"))
      .select(col("modality"), col("transform"), col("radius"),
        col("n_assets"), col("n_within"), col("n_detected"),
        col("recall_permille"))
      .orderBy("modality", "transform", "radius")
  }

  val mediaRadiusSweepSql: String = {
    val pieces = Seq(
      ("ahash", "gain", "cmp_gain"), ("ahash", "crop", "cmp_crop"),
      ("ahash", "reencode", "cmp_reencode"),
      ("ghash", "gain", "gcmp_gain"), ("ghash", "crop", "gcmp_crop"),
      ("ghash", "reencode", "gcmp_reencode"))
      .map { case (m, t, cte) =>
        s"SELECT '$m' AS modality, '$t' AS transform, hamming, band_hit FROM $cte"
      }.mkString("\nUNION ALL\n")
    s"""WITH $hashCtes, $ahashRecallCtes,
       |$ghashRecallCtes, sweep_rows AS MATERIALIZED (
       |$pieces
       |)
       |SELECT modality, transform, CAST(g.radius AS INT) AS radius,
       |  CAST(COUNT(*) AS BIGINT) AS n_assets,
       |  CAST(SUM(CASE WHEN hamming <= g.radius THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_within,
       |  CAST(SUM(CASE WHEN band_hit = 1 AND hamming <= g.radius
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
       |  CAST(SUM(CASE WHEN band_hit = 1 AND hamming <= g.radius
       |       THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
       |    AS recall_permille
       |FROM sweep_rows
       |CROSS JOIN (SELECT unnest(range(0, ${MaxSweepRadius + 1})) AS radius) g
       |GROUP BY modality, transform, g.radius
       |ORDER BY modality, transform, radius""".stripMargin
  }

  // ---------------------------------------------------------------------
  // #211 media_dedup_union — the DUAL-modality detector (round 20,
  // VERDICT r19 #1): #180 catches re-encodes, #207 catches crops; the
  // composed pipeline must cut BOTH, so its stage 1 keeps canonicals
  // over the UNION of the two pair graphs. This row is that union as
  // its own oracle surface — one row per detected pair with
  // per-modality provenance, over the crop-twin corpus both detectors
  // already share.
  // ---------------------------------------------------------------------

  /** Both modalities' confirmed pair sets over [[gAssets]], outer-
    * merged: (doc_a, doc_b, in_ahash, in_ghash). Each side is the
    * SHARED [[dedupFromHashes]] chain over its own pinned signature
    * frame — same caps, same radius, different fold — so the union
    * costs two signature scans and two 10-byte-band-key joins, never
    * a second corpus read beyond the folds themselves. NOT a bench
    * headliner: it composes the two already-benched detector joins
    * (#180/#207) and would double-count their cost. */
  def mediaDedupUnion(spark: SparkSession, dir: String): DataFrame = {
    // r21: pin the crop-twin corpus so the two folds read one
    // materialization instead of each re-running the documents
    // self-join (the MediaPipeline stage-0 rationale)
    val g = graft.Checkpoints.pin(gAssets(spark, dir))
    val ap = dedupFromHashes(graft.Checkpoints.pin(ahashKernel(g)))
      .select("doc_a", "doc_b").withColumn("in_ahash", lit(1))
    val gp = dedupFromHashes(graft.Checkpoints.pin(ghashKernel(g)))
      .select("doc_a", "doc_b").withColumn("in_ghash", lit(1))
    ap.join(gp, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("in_ahash"), lit(0)).as("in_ahash"),
        coalesce(col("in_ghash"), lit(0)).as("in_ghash"))
      .orderBy("doc_a", "doc_b")
  }

  /** The aHash CTE chain over an arbitrary assets relation, all names
    * prefixed — the [[hashCtes]] algebra parameterized so the #211
    * union and the #190 pipeline oracle can hash the CROP-TWIN corpus
    * (gassets) without forking the spelling. Ends in
    * `${pfx}h(doc_id, b0..b3)`. */
  private def ahashChainCtes(pfx: String, assetsRel: String): String =
    s"""${pfx}bx AS MATERIALIZED (
       |  SELECT doc_id, hex(encode(content)) AS hx FROM $assetsRel
       |), ${pfx}by2 AS MATERIALIZED (
       |  SELECT doc_id, unnest(range(1, length(hx) // 2 + 1)) AS j, hx
       |  FROM ${pfx}bx
       |), ${pfx}bv AS MATERIALIZED (
       |  SELECT doc_id, (j - 1) % $Bits AS cell,
       |    CAST(16 * (strpos('0123456789ABCDEF', substring(hx, CAST(2*j-1 AS INT), 1)) - 1)
       |       + (strpos('0123456789ABCDEF', substring(hx, CAST(2*j AS INT), 1)) - 1) AS BIGINT) AS b
       |  FROM ${pfx}by2
       |), ${pfx}cells AS MATERIALIZED (
       |  SELECT doc_id, cell, CAST(SUM(b) AS BIGINT) AS cs
       |  FROM ${pfx}bv GROUP BY doc_id, cell
       |), ${pfx}tot AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS total
       |  FROM ${pfx}cells GROUP BY doc_id
       |), ${pfx}bits AS MATERIALIZED (
       |  SELECT ${pfx}cells.doc_id, cell // 16 AS band,
       |    CASE WHEN $Bits * cs > total
       |         THEN (CAST(1 AS BIGINT) << CAST(cell % 16 AS INT))
       |         ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM ${pfx}cells JOIN ${pfx}tot
       |    ON ${pfx}cells.doc_id = ${pfx}tot.doc_id
       |), ${pfx}bnd AS MATERIALIZED (
       |  SELECT doc_id, band, CAST(SUM(bit) AS BIGINT) AS band_val
       |  FROM ${pfx}bits GROUP BY doc_id, band
       |), ${pfx}h AS MATERIALIZED (
       |  SELECT a.doc_id,
       |    CAST(COALESCE(SUM(CASE WHEN band = 0 THEN band_val END), 0) AS BIGINT) AS b0,
       |    CAST(COALESCE(SUM(CASE WHEN band = 1 THEN band_val END), 0) AS BIGINT) AS b1,
       |    CAST(COALESCE(SUM(CASE WHEN band = 2 THEN band_val END), 0) AS BIGINT) AS b2,
       |    CAST(COALESCE(SUM(CASE WHEN band = 3 THEN band_val END), 0) AS BIGINT) AS b3
       |  FROM $assetsRel a LEFT JOIN ${pfx}bnd ON ${pfx}bnd.doc_id = a.doc_id
       |  GROUP BY a.doc_id
       |)""".stripMargin

  /** The [[dedupCtes]] banded-candidate + confirm chain parameterized
    * over the hash relation: ends in `${pfx}ham(doc_a, doc_b,
    * hamming)` — the exact mirror of [[dedupFromHashes]]. */
  private def bandedDedupCtes(pfx: String, hashRel: String): String =
    s"""${pfx}hb AS MATERIALIZED (
       |  SELECT h.doc_id, g.band,
       |    CASE g.band WHEN 0 THEN h.b0 WHEN 1 THEN h.b1
       |                WHEN 2 THEN h.b2 ELSE h.b3 END AS band_val
       |  FROM $hashRel h, (SELECT unnest(range(0, $Bands)) AS band) g
       |), ${pfx}buckets AS MATERIALIZED (
       |  SELECT band, band_val, doc_id FROM (
       |    SELECT band, band_val, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY band, band_val ORDER BY doc_id) AS rn
       |    FROM ${pfx}hb
       |  ) WHERE rn <= $BucketCap
       |), ${pfx}pairs AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM ${pfx}buckets x JOIN ${pfx}buckets y
       |    ON x.band = y.band AND x.band_val = y.band_val
       |    AND x.doc_id < y.doc_id
       |), ${pfx}ham AS MATERIALIZED (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
       |         bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INT)
       |      AS hamming
       |  FROM ${pfx}pairs p
       |  JOIN $hashRel a ON a.doc_id = p.doc_a
       |  JOIN $hashRel b ON b.doc_id = p.doc_b
       |)""".stripMargin

  /** Both detector chains over the crop-twin corpus, ending in
    * `uaham` (aHash) and `ugham` (gHash) — shared by the #211 oracle
    * and the #190/#191 pipeline oracle's stage-1 union closure. */
  private[graft] lazy val unionDetectorCtes: String =
    s"""$gAssetsCte, ${ahashChainCtes("ua", "gassets")}, $gByteCtes,
       |${ghashChain("base", "SELECT doc_id, j, b FROM gbvj", "gassets")},
       |${bandedDedupCtes("ua", "uah")},
       |${bandedDedupCtes("ug", "ghh_base")}""".stripMargin

  val mediaDedupUnionSql: String =
    s"""WITH $unionDetectorCtes,
       |uap AS (SELECT doc_a, doc_b FROM uaham WHERE hamming <= $HamMax),
       |ugp AS (SELECT doc_a, doc_b FROM ugham WHERE hamming <= $HamMax)
       |SELECT COALESCE(uap.doc_a, ugp.doc_a) AS doc_a,
       |  COALESCE(uap.doc_b, ugp.doc_b) AS doc_b,
       |  CAST(CASE WHEN uap.doc_a IS NOT NULL THEN 1 ELSE 0 END AS INT)
       |    AS in_ahash,
       |  CAST(CASE WHEN ugp.doc_a IS NOT NULL THEN 1 ELSE 0 END AS INT)
       |    AS in_ghash
       |FROM uap FULL OUTER JOIN ugp
       |  ON uap.doc_a = ugp.doc_a AND uap.doc_b = ugp.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_ahash" -> mediaAhash,
    "media_ahash_dedup" -> mediaAhashDedup,
    "media_ahash_clusters" -> mediaAhashClusters,
    "media_ahash_recall" -> mediaAhashRecall,
    "media_ghash_recall" -> mediaGhashRecall,
    "media_ghash_dedup" -> mediaGhashDedup,
    "media_dedup_union" -> mediaDedupUnion,
    "media_radius_sweep" -> mediaRadiusSweep,
    "media_dup_resolve" -> mediaDupResolve)

  val oracle: Map[String, String] = Map(
    "media_ahash" -> mediaAhashSql,
    "media_ahash_dedup" -> mediaAhashDedupSql,
    "media_ahash_clusters" -> mediaAhashClustersSql,
    "media_ahash_recall" -> mediaAhashRecallSql,
    "media_ghash_recall" -> mediaGhashRecallSql,
    "media_ghash_dedup" -> mediaGhashDedupSql,
    "media_dedup_union" -> mediaDedupUnionSql,
    "media_radius_sweep" -> mediaRadiusSweepSql,
    "media_dup_resolve" -> mediaDupResolveSql)
}
