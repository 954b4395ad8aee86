package graft

import org.apache.spark.sql.functions._

/** Diagnostic main: measured recall/cost operating curves for the four
  * LSH-bucketed families (VERDICT r7 #8), so a user choosing
  * bands/chunks/planes/probes has data rather than constants:
  *
  *  - embedding near-dup: (planes, probe radius) vs the exact
  *    all-pairs cosine result;
  *  - minhash: band count (match-window length) vs the TRUE
  *    shingle-Jaccard ≥ 0.5 pair set (end-to-end recall: signature
  *    estimation error + banding misses, the number a user sees);
  *  - simhash: chunk count vs the true hamming ≤ MaxHamming pair set
  *    (k chunks pigeonhole-cover hamming ≤ k−1);
  *  - ANN: hyperplane plane count and IVF probe depth vs the
  *    brute-force top-k.
  *
  * Recall is computed at `recallDir` (small enough for exact
  * all-pairs ground truth); cost is a timed pass at `timeDir`
  * (bench SF or a Stress-generated corpus).
  *
  *   sbt "runMain graft.LshSweep [recallDir] [timeDir]"
  */
object LshSweep {

  /** Cost of one operating point: the min of two timed passes. */
  private def timed(spark: org.apache.spark.sql.SparkSession)(
      f: => org.apache.spark.sql.DataFrame): Double =
    tools.Profile.timedPasses(spark, 2)(_ => tools.Profile.noop(f)).min

  /** ANN-only sweep over a CLUSTERED corpus (VERDICT r14 #3: measure
    * the production PQ operating point instead of arguing it). The
    * testdata embeddings are near-uniform, so K ≥ 64 codebooks can't
    * train honestly there; `Stress genclustered` plants 1k centers +
    * noise at ≥ 50k vectors and this mode runs the K∈{32..256} ×
    * rerank=100 PQ curve, IVF probe depths, and the #130 recall gate
    * on it — recall AND cost on the SAME corpus.
    *
    *   sbt "runMain graft.LshSweep ann [clusteredDir]"
    */
  def annOnly(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairSet(operators.Similarity.annBruteforce(spark, dir))
    def recallOf(got: Set[(Long, Long)]): Double =
      if (truth.isEmpty) 1.0 else (truth & got).size.toDouble / truth.size
    val n = Tables.load(spark, dir, "embeddings").count()
    println(s"[sweep] ann corpus: $n vectors (clustered), truth=${truth.size}")
    for (k <- Seq(32, 64, 128, 256)) {
      spark.catalog.clearCache()
      val rec = recallOf(pairSet(
        operators.Similarity.annPq(spark, dir, codewords = k, rerank = 100)))
      val secs = timed(spark)(
        operators.Similarity.annPq(spark, dir, codewords = k, rerank = 100))
      println(f"[sweep] ann_pq codewords=$k rerank=100 recall=$rec%.3f time=$secs%.2f s")
    }
    for (np <- Seq(1, 2, 4)) {
      spark.catalog.clearCache()
      val rec = recallOf(pairSet(
        operators.Similarity.annIvf(spark, dir, nProbe = np)))
      val secs = timed(spark)(operators.Similarity.annIvf(spark, dir, nProbe = np))
      println(f"[sweep] ann_ivf nprobe=$np recall=$rec%.3f time=$secs%.2f s")
    }
    // the composed IVF-PQ index (#161): nprobe × codewords grid — the
    // production question is "how much recall does residual PQ give
    // back at a fixed probe budget"
    for (np <- Seq(1, 2, 4); k <- Seq(32, 64)) {
      spark.catalog.clearCache()
      val rec = recallOf(pairSet(operators.Similarity.annIvfPq(
        spark, dir, nProbe = np, rerank = 100, codewords = k)))
      val secs = timed(spark)(operators.Similarity.annIvfPq(
        spark, dir, nProbe = np, rerank = 100, codewords = k))
      println(f"[sweep] ann_ivfpq nprobe=$np codewords=$k rerank=100 " +
        f"recall=$rec%.3f time=$secs%.2f s")
    }
    // the #130 acceptance gate on the clustered corpus
    spark.catalog.clearCache()
    operators.Similarity.annRecall(spark, dir).collect().foreach { r =>
      println(s"[sweep] ann_recall gate: ${r.mkString(", ")}")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("ann")) {
      val spark = GraftSession.create()
      annOnly(spark, args.lift(1).getOrElse("/tmp/graft-stress-clustered"))
      spark.stop()
      return
    }
    val recallDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val timeDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.create()

    def pairSet(df: org.apache.spark.sql.DataFrame,
                a: String, b: String): Set[(Long, Long)] =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(got: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
      if (truth.isEmpty) 1.0 else (truth & got).size.toDouble / truth.size

    // --- embedding near-dup: (planes, radius) ------------------------
    val exactEmb = pairSet(
      operators.Dedup.dedupEmbedding(spark, recallDir), "vec_a", "vec_b")
    Seq((4, 2), (6, 2), (6, 3), (8, 3), (10, 3)).foreach { case (p, r) =>
      val rec = recallOf(pairSet(
        operators.Dedup.dedupEmbeddingLsh(spark, recallDir, p, r),
        "vec_a", "vec_b"), exactEmb)
      val secs = timed(spark)(operators.Dedup.dedupEmbeddingLsh(spark, timeDir, p, r))
      println(f"[sweep] embedding planes=$p radius=$r recall=$rec%.3f time=$secs%.2f s")
    }

    // --- minhash: band count vs true Jaccard >= 0.5 ------------------
    val sh = operators.Dedup.shingled(spark, recallDir)
    val jTruth = pairSet(sh.as("a").crossJoin(sh.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(array_intersect(col("a.toks"), col("b.toks"))).cast("long").as("shared"),
        size(col("a.toks")).cast("long").as("na"),
        size(col("b.toks")).cast("long").as("nb"))
      // J = shared/(na+nb-shared) >= 1/2  <=>  2*shared >= na+nb-shared
      .where(col("shared") * 2 >= col("na") + col("nb") - col("shared")),
      "doc_a", "doc_b")
    Seq(4, 8, 16).foreach { b =>
      val rec = recallOf(pairSet(
        operators.Dedup.dedupMinhash(spark, recallDir, b), "doc_a", "doc_b"), jTruth)
      val secs = timed(spark)(operators.Dedup.dedupMinhash(spark, timeDir, b))
      println(f"[sweep] minhash bands=$b recall=$rec%.3f time=$secs%.2f s (truth=${jTruth.size})")
    }

    // --- simhash: chunk count vs true hamming <= MaxHamming ----------
    val sig = operators.Dedup.simhashSignatures(spark, recallDir)
    val hTruth = pairSet(sig.as("a").crossJoin(sig.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .where(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
        <= operators.Dedup.MaxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")),
      "doc_a", "doc_b")
    Seq(2, 4, 8).foreach { c =>
      val rec = recallOf(pairSet(
        operators.Dedup.dedupSimhash(spark, recallDir, c), "doc_a", "doc_b"), hTruth)
      val secs = timed(spark)(operators.Dedup.dedupSimhash(spark, timeDir, c))
      println(f"[sweep] simhash chunks=$c recall=$rec%.3f time=$secs%.2f s (truth=${hTruth.size})")
    }

    // --- ANN: hyperplane planes and IVF probe depth vs brute force ---
    val annTruth = pairSet(
      operators.Similarity.annBruteforce(spark, recallDir), "query_id", "vec_id")
    Seq(2, 4, 6).foreach { p =>
      val rec = recallOf(pairSet(
        operators.Similarity.annLsh(spark, recallDir, p), "query_id", "vec_id"),
        annTruth)
      val secs = timed(spark)(operators.Similarity.annLsh(spark, timeDir, p))
      println(f"[sweep] ann_lsh planes=$p recall=$rec%.3f time=$secs%.2f s")
    }
    Seq(1, 2, 4).foreach { np =>
      val rec = recallOf(pairSet(
        operators.Similarity.annIvf(spark, recallDir, nProbe = np),
        "query_id", "vec_id"), annTruth)
      val secs = timed(spark)(operators.Similarity.annIvf(spark, timeDir, nProbe = np))
      println(f"[sweep] ann_ivf nprobe=$np recall=$rec%.3f time=$secs%.2f s")
    }
    // --- PQ: codebook size and rerank depth vs brute force ---
    for (k <- Seq(8, 16, 32); r <- Seq(10, 50, 100)) {
      val rec = recallOf(pairSet(
        operators.Similarity.annPq(spark, recallDir, codewords = k, rerank = r),
        "query_id", "vec_id"), annTruth)
      val secs = timed(spark)(
        operators.Similarity.annPq(spark, timeDir, codewords = k, rerank = r))
      println(f"[sweep] ann_pq codewords=$k rerank=$r recall=$rec%.3f time=$secs%.2f s")
    }
    spark.stop()
  }
}
