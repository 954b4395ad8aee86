package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence harness (VERDICT r7 #1): synthesize a ×N id-shifted
  * stress corpus from sf0.1 in a SCRATCH dir (never the read-only
  * testdata), then run the skew-sensitive operator set against it,
  * reporting wall time, output rows, and per-task peaks (execution
  * memory, shuffle read/write) so "the caps hold beyond sf0.1" is a
  * measured claim, not an asserted one.
  *
  * The union-of-shifted-copies construction is deliberately MORE
  * adversarial than a real ×N corpus: every document gains N−1
  * byte-identical twins, so every minhash/simhash band bucket, fuzzy
  * block and connected component is ×N hotter than organic growth
  * would make it — exactly the skew the caps and the O(log d)
  * components were built for.
  *
  *   sbt "runMain graft.tools.Stress gen   [srcDir] [outDir] [copies] [tables]"
  *   sbt "runMain graft.tools.Stress sweep [outDir] [queries]"
  *
  * `tables` (comma-separated, default all) bounds generation to a
  * subset — the ×100 events sweep needs 10M events, not 60M lineitem
  * rows alongside them. */
object Stress {

  /** Per-copy id shifts, far above any real id at sf0.1 (doc_id < 5e3,
    * o_orderkey < 6e5, o_custkey < 1.5e4, vec_id < 2e3,
    * event_id ≤ 1e5, user_id < 2e3, s_suppkey ≤ 1e3, p_partkey ≤ 2e4). */
  val ShiftDoc = 1000000L
  val ShiftOrder = 10000000L
  val ShiftCust = 1000000L
  val ShiftVec = 1000000L
  val ShiftEvent = 1000000000L
  val ShiftUser = 1000000L
  val ShiftSupp = 1000000L
  val ShiftPart = 1000000L

  /** The skew-sensitive set the r7 verdict named, plus the LSH/ANN
    * embedding path, the jaccard inverted index (both cap/prefix
    * bounded, both quadratic if those bounds ever broke), and the
    * events-family state/skew operators: event_type keeps its 5 hot
    * values while rows multiply, so the salted collect's hot key and
    * the session/active/path state scale are stressed directly. */
  val SweepQueries: Seq[String] = Seq(
    "dedup_minhash_poly", "dedup_minhash", "dedup_simhash_poly",
    "dedup_jaccard", "dedup_fuzzy", "dedup_clusters",
    "dedup_embedding_lsh", "dedup_semantic", "basket_pairs", "customers_rfm",
    "corpus_decontaminate_fuzzy",
    "skew_salted_collect", "events_sessions", "events_actives",
    "events_paths", "events_funnel", "events_anomaly",
    "events_gap_quantiles", "sketch_gap_quantiles",
    "dedup_keep_best", "corpus_overlap", "corpus_profile",
    "vocab_train", "text_bpe_tokens", "corpus_token_budget",
    "dedup_lsh_recall", "corpus_exact_substr", "corpus_exact_substr_scrub",
    "text_surprisal", "corpus_dsir", "corpus_ccnet_buckets", "ann_pq",
    // the composed curation recipe (r15): every stage cap and window
    // under one plan, measured as the product's actual workload —
    // plus its per-stage attrition audit (same frames, second plan)
    "corpus_pipeline", "corpus_pipeline_audit",
    // round-15 additions: URL-identity dedup (hash groupBy on short
    // string keys), temperature mixing (per-lang rank window), split
    // drift (one token aggregate + top-k), embedding decontamination
    // (broadcast eval suite, map-only probe)
    "corpus_url_dedup", "text_url_canon", "corpus_mix_temperature",
    "corpus_drift", "corpus_decontaminate_embed", "corpus_decontaminate_embed_lsh", "ann_ivfpq",
    "corpus_url_filter", "text_unigram_tokens", "vocab_unigram",
    "vocab_unigram_fertility",
    // round-16 additions: EM training (model-bounded DP rounds), the
    // flipped decontamination aggregate (broadcast join, match-bounded
    // expand), and the prebuilt-index query paths (fingerprint-keyed
    // build on first touch, probed-directory reads after)
    "vocab_unigram_em", "corpus_leak_report",
    "ann_ivfpq_q", "ann_index_append",
    // round-16 continuation: the learned NB gate (vocab-sized model
    // join), frontier PageRank (corpus→domain-graph collapse), aHash
    // near-dup (id-shifted twins make every band bucket ×N hotter —
    // the cap's designed-for case), and the WordPiece family (the
    // vocabulary is invariant under id-shift; training must stay flat)
    "corpus_classifier_score", "corpus_pagerank",
    "media_ahash", "media_ahash_dedup",
    "vocab_wordpiece", "text_wordpiece_tokens", "vocab_wordpiece_fertility",
    "corpus_url_seen_bloom", "corpus_frontier_rank",
    "media_ahash_clusters",
    // round-17 additions: the composed media recipe (cluster keeper →
    // size/aspect/content gates — id-shifted twins make stage 1's
    // buckets xN hotter), and the pagerank convergence audit (the
    // domain graph is invariant under id-shift; deltas must stay flat)
    "media_pipeline", "media_pipeline_audit", "corpus_pagerank_converge",
    // the TPC-H join family (VERDICT r11 #7): the O(SF)-dims-to-AQE
    // policy a decade past sf0.1 — at ×100 the dims are too big to
    // broadcast and AQE must settle shuffle joins with bounded tasks
    "q1_pricing", "q3_shipping", "q5_local", "q9_profit",
    "q18_large", "q21_blame",
    // the relay/parse family (VERDICT r13 #2): synthesis → parse is
    // map-only (message.py:95-124 is per-message in the reference),
    // so ×100 linearity is EXPECTED — these rows prove it measured,
    // the last benched family without decade-up evidence
    "syslog_parse", "syslog_normalize", "frame_octet", "gelf_parse",
    "relay_end_to_end",
    // the envelope/spool family (VERDICT r14 #5): the grouping shuffle
    // and the size-split window were the last non-map stages without a
    // decade row; the sink/source pair round-trips real gzip record
    // files through the DSv2 writer+reader at ×100
    "record_envelope", "record_split", "firehose_batches",
    "firehose_retry", "spool_read", "spool_sink", "spool_source",
    // round-18 additions: the composed crawl scheduler (id-shifted
    // twins make the URL-dedup keeper and every bloom bucket xN
    // hotter; the sized bloom must GROW with the history where #185's
    // fixed M saturates), the sizing row itself, the perceptual
    // recall gate (map-only per-asset folds - xN linearity expected),
    // dup-chain resolution (the component kernel over xN-hotter
    // forests), and the compacted-index serve path
    "crawl_pipeline", "crawl_pipeline_audit", "corpus_url_bloom_sized",
    "media_ahash_recall", "media_dup_resolve", "ann_index_compact",
    // round-19 additions: the multi-cycle frontier walk (id-shifted
    // twins make every cycle's dedup keeper and the advancing bloom
    // xN hotter, and the capacity-sized geometry must GROW with the
    // corpus) and the crop-robust shingle-histogram recall gate
    // (map-only per-asset folds - xN linearity expected, measured)
    "crawl_frontier_cycles", "media_ghash_recall",
    // the crop-twin detector join: id-shifted twins make every gHash
    // band bucket xN hotter - the BucketCap's designed-for case on
    // the second signature family
    "media_ghash_dedup", "media_radius_sweep",
    // round-20 additions: the dual-modality union detector (both
    // folds' band buckets xN hotter at once; the re-shaped media
    // pipeline rides the existing media_pipeline entry) and the
    // rank-tiered politeness report (xN-hotter per-domain queues
    // against frozen-snapshot budgets)
    "media_dedup_union", "crawl_quota_tiers")

  def gen(spark: SparkSession, src: String, out: String, copies: Int,
          tables: Option[Set[String]] = None): Unit = {
    def wanted(t: String): Boolean = tables.forall(_.contains(t))
    def build(table: String, shifts: Map[String, Long]): Unit = if (wanted(table)) {
      val base = Tables.load(spark, src, table)
      (0 until copies)
        .map { i =>
          shifts.foldLeft(base) { case (df, (c, s)) =>
            df.withColumn(c, col(c) + lit(i * s))
          }
        }
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[stress] wrote $out/$table.parquet (${copies}x $src)")
    }
    build("documents", Map("doc_id" -> ShiftDoc))
    // The TPC-H family shifts EVERY join key consistently per copy, so
    // a ×N corpus is a true SF-scaled instance: facts AND dims
    // multiply together and every join keeps its per-copy selectivity
    // (shifting only the fact keys would orphan copies 1..N−1 at the
    // dim joins and measure a plan that drops 99% of its rows at the
    // first probe). nation/region are genuinely fixed (25/5 rows at
    // every SF) and copy through unshifted via the sweep's source dir.
    build("lineitem", Map("l_orderkey" -> ShiftOrder,
      "l_suppkey" -> ShiftSupp, "l_partkey" -> ShiftPart))
    build("orders", Map("o_orderkey" -> ShiftOrder, "o_custkey" -> ShiftCust))
    build("customer", Map("c_custkey" -> ShiftCust))
    build("supplier", Map("s_suppkey" -> ShiftSupp))
    build("part", Map("p_partkey" -> ShiftPart))
    // fixed-cardinality dims + any other table the sweep's queries
    // read: copy through once so the stress dir is self-contained
    Seq("nation", "region").filter(wanted).foreach { t =>
      Tables.load(spark, src, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[stress] wrote $out/$t.parquet (1x $src)")
    }
    build("embeddings", Map("vec_id" -> ShiftVec))
    // events carries TIMESTAMP(NANOS) parquet — go through
    // Tables.events (nanosAsLong) and write ts back as the raw ns
    // long, which Tables.events reads identically. user_id shifts per
    // copy (per-user streams stay intact, users multiply); event_type
    // and ts deliberately do NOT shift, so the 5 hot type keys and the
    // time range stay fixed while rows multiply — maximal key skew and
    // window density.
    if (wanted("events")) {
      val ev = Tables.events(spark, src).drop("ts_s")
      (0 until copies)
        .map(i => ev
          .withColumn("event_id", col("event_id") + lit(i * ShiftEvent))
          .withColumn("user_id", col("user_id") + lit(i * ShiftUser)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      println(s"[stress] wrote $out/events.parquet (${copies}x $src)")
    }
  }

  /** DISTINCT-text stress corpus (round 12): ×N documents where every
    * copy is Caesar-rotated by its copy index, so copies share no
    * ≥25-char window (only all-digit/punct spans survive rotation).
    * The twin-amplified `gen` corpus is the DUP-heavy extreme (every
    * window trivially duplicated via its text's N copies); this is
    * the opposite frontier — a corpus of mostly-unique text where
    * dup detection must prune, the case the exact-substr hash
    * candidate pass exists for. N caps at 26 rotations. */
  def genDistinct(spark: SparkSession, src: String, out: String,
                  copies: Int): Unit = {
    require(copies <= 26, "only 26 distinct Caesar rotations exist")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val base = Tables.load(spark, src, "documents")
    (0 until copies).map { i =>
      val rl = lower.drop(i) + lower.take(i)
      base
        .withColumn("doc_id", col("doc_id") + lit(i * ShiftDoc))
        .withColumn("text",
          translate(col("text"), lower + upper, rl + rl.toUpperCase))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[stress] wrote $out/documents.parquet (${copies}x rotated $src)")
  }

  /** CLUSTERED embedding corpus (VERDICT r14 #3): the testdata
    * embeddings are near-uniform random vectors, so a K=256 product-
    * quantization codebook cannot train honestly there (the sf0.01
    * Lloyd sample is 125 vectors) and quantization noise swamps the
    * cosine structure. Real embedding corpora are CLUSTERED; this
    * plants `nCenters` hash-derived centers in 64-dim and draws each
    * vector as its center plus small hash noise — deterministic
    * (pure xxhash64 arithmetic, no RNG state), distributed (one
    * map-only range scan), and separable enough that recall\@10 is a
    * meaningful signal rather than noise-ranking. Written as the
    * standard embeddings table so every ANN operator and the #130
    * recall gate run on it unchanged. */
  def genClustered(spark: SparkSession, out: String,
                   nVectors: Int, nCenters: Int,
                   noisePermille: Int = 300): Unit = {
    val dim = 64
    val noise = noisePermille / 1000.0
    spark.range(nVectors.toLong)
      .select(col("id").as("vec_id"),
        expr(
          s"""transform(sequence(0, ${dim - 1}), d -> CAST(
             |  CAST(xxhash64(id % $nCenters, d) % 1000000 AS DOUBLE) / 1000000.0
             |  + $noise * (CAST(xxhash64(id, d) % 1000000 AS DOUBLE) / 1000000.0)
             |  AS FLOAT))""".stripMargin).as("embedding"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[stress] wrote $out/embeddings.parquet " +
      s"($nVectors vectors, $nCenters planted centers, noise=$noise)")
  }

  def sweep(spark: SparkSession, dir: String,
            subset: Option[Set[String]] = None): Unit = {
    // subset corpora (e.g. the ×100 events-only gen) carry only the
    // tables their queries read — absent tables print as "-"
    def tryCount(t: String): String =
      scala.util.Try(
        if (t == "events") Tables.events(spark, dir).count()
        else Tables.load(spark, dir, t).count()
      ).map(_.toString).getOrElse("-")
    println(s"[stress] corpus: documents=${tryCount("documents")} " +
      s"lineitem=${tryCount("lineitem")} events=${tryCount("events")}")
    var failed = List.empty[String]
    SweepQueries.filter(q => subset.forall(_.contains(q))).foreach { name =>
      try {
        // One timed pass of the same noop-format write Bench uses:
        // count() would let Catalyst drop final sorts and prune
        // columns, so the timed plan (and the task peaks below) would
        // be lighter than the benchmarked one. The row count comes
        // from a separate untimed pass, after the profile, so its
        // lighter tasks cannot inflate the reported peaks. The total
        // shuffle write is a sum over tasks: a slimmed shuffle key
        // shows up there even when per-task maxima stay flat.
        val fn = SparkEntry.queries(name)
        val r = Profile.run(spark, 1)(fn(spark, dir))
        val st = r.pass(1)
        val rows = fn(spark, dir).count()
        println(f"[stress] $name: ${r.seconds.head}%.1f s, $rows rows, " +
          f"taskPeakMem=${st.peakMem / 1048576} MiB, " +
          f"maxTaskShufRead=${st.maxTaskShuffleRead / 1048576} MiB, " +
          f"maxTaskShufWrite=${st.maxTaskShuffleWrite / 1048576} MiB, " +
          f"totalShufWrite=${st.shuffleWrite / 1048576} MiB")
      } catch {
        case e: Throwable =>
          println(s"[stress] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          failed ::= name
      }
    }
    if (failed.nonEmpty) {
      println(s"[stress] FAILED: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("sweep")
    val spark = GraftSession.create()
    mode match {
      case "gen" =>
        gen(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"),
          args.lift(2).getOrElse("/tmp/graft-stress"),
          args.lift(3).map(_.toInt).getOrElse(10),
          args.lift(4).map(_.split(",").toSet))
      case "gendistinct" =>
        genDistinct(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"),
          args.lift(2).getOrElse("/tmp/graft-stress-distinct"),
          args.lift(3).map(_.toInt).getOrElse(26))
      case "genclustered" =>
        genClustered(spark,
          args.lift(1).getOrElse("/tmp/graft-stress-clustered"),
          args.lift(2).map(_.toInt).getOrElse(50000),
          args.lift(3).map(_.toInt).getOrElse(1000),
          args.lift(4).map(_.toInt).getOrElse(300))
      case "sweep" =>
        sweep(spark, args.lift(1).getOrElse("/tmp/graft-stress"),
          args.lift(2).map(_.split(",").toSet))
      case other => sys.error(s"unknown mode $other (gen|sweep)")
    }
    spark.stop()
  }
}
