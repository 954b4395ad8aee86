package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the SURVEY §6 headliner queries against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Harness rules (VERDICT r1 + r3 fixes):
  *  - one discarded warmup pass per query (JVM/codegen/IO warmup no
  *    longer lands on whichever query runs first);
  *  - MIN OF 3 timed passes per query: single-pass numbers swung
  *    3.9×/4.3× between rounds on unchanged code, and the r5 median
  *    still reported 18×/7× one-off blowups on unchanged code (a
  *    transient contention/GC episode poisons all three passes of a
  *    query equally). The minimum is the standard contention-robust
  *    estimator (cf. Python timeit docs): slower passes measure the
  *    machine, not the plan, and a real regression slows every pass
  *    including the fastest;
  *  - each timed pass materializes every row via the `noop` datasource
  *    — unlike `.count()`, this cannot let Spark prune final sorts or
  *    limits out of the measured plan;
  *  - failures are NOT swallowed: a failed query reports -1 and the
  *    process exits non-zero so the driver sees a broken bench.
  */
object Bench {
  /** SURVEY §6 headliner set; filtered against SparkEntry.queries so
    * the bench runs whatever subset exists. Embedding near-dup
    * headlines the LSH-bucketed scale path — the all-pairs
    * dedup_embedding variant stays oracle-only, since a cartesian is
    * not a plan worth measuring (VERDICT r3). */
  val headliners: Seq[String] = Seq(
    "q1_pricing", "q3_shipping", "q5_local", "q6_forecast",
    "q18_large", "q7_volume", "q4_priority", "q22_global",
    "events_window", "events_tumbling", "events_sessions",
    "events_asof", "events_funnel",
    "syslog_parse", "syslog_normalize", "frame_octet", "record_envelope",
    "gelf_parse", "relay_end_to_end",
    "dedup_exact", "dedup_minhash", "dedup_embedding_lsh", "ann_bruteforce",
    "ann_ivf", "text_quality", "text_tokens", "text_pii_scrub",
    "corpus_ngrams", "text_keywords", "sketch_distinct",
    "corpus_passage_dedup", "corpus_domain_topk", "corpus_pack",
    "dedup_clusters", "ann_int8", "sketch_heavy",
    "q17_smallqty", "events_pivot", "events_retention", "corpus_chunks",
    "q10_returns", "q9_profit", "q8_share", "q1_rollup", "corpus_diversity",
    "q21_blame", "q16_partcount",
    "customers_rfm", "events_paths", "sketch_hll", "dedup_fuzzy",
    "media_features", "basket_pairs", "events_actives",
    "corpus_decontaminate_fuzzy", "events_actives_hll",
    "gelf_chunks_packed", "sketch_gap_quantiles",
    "dedup_keep_best", "corpus_overlap", "corpus_profile",
    "vocab_train", "text_bpe_tokens", "corpus_token_budget",
    "corpus_exact_substr", "text_surprisal", "corpus_dsir",
    "corpus_ccnet_buckets", "ann_pq",
    "dedup_semantic", "vocab_fertility", "corpus_pipeline",
    "corpus_url_dedup", "corpus_mix_temperature", "corpus_drift",
    "corpus_decontaminate_embed", "ann_ivfpq", "corpus_url_filter",
    "text_unigram_tokens", "vocab_unigram", "vocab_unigram_fertility",
    "vocab_unigram_em",
    "corpus_decontaminate_embed_lsh",
    // prebuilt-index query paths: the warmup pass pays the one-time
    // build (ensure* reuses the fingerprint-keyed index after it), so
    // the timed passes measure the QUERY-ONLY wall — the per-query
    // cost a deployment sees, vs the in-query twins that retrain
    "ann_ivfpq_q", "ann_pq_q", "ann_index_freshness", "ann_index_append",
    "corpus_leak_report",
    // round-16 continuation: the learned quality gate (score subsumes
    // train — benching both would double-count the training pass),
    // frontier PageRank, and the aHash near-dup join (subsumes the
    // media_ahash kernel the same way)
    "corpus_classifier_score", "corpus_pagerank", "media_ahash_dedup",
    // round-17: the composed media recipe (the product workload the
    // aHash/resize/features stages exist for); corpus_pagerank_converge
    // is deliberately NOT a headliner — it replays pagerank's rounds
    // (benching it would double-count the iteration cost)
    "media_pipeline",
    "vocab_wordpiece", "text_wordpiece_tokens", "vocab_wordpiece_fertility",
    // corpus_frontier_rank is deliberately NOT a headliner: like
    // ann_recall it composes two already-benched paths (urlFilter +
    // pagerank) — benching it would double-count their cost
    "corpus_url_seen_bloom",
    // round-18: the composed crawl scheduler (the frontier's product
    // workload; its audit shares the frames, like the other audits
    // deliberately NOT benched), the sized bloom row (the production
    // geometry vs #185's fixed-M), the perceptual recall gate
    // (map-only folds), dup-chain resolution (component rounds over
    // the first-claim forest), and the compacted-index serve path
    // (the post-maintenance per-query wall vs ann_index_append's
    // fragmented store)
    "crawl_pipeline", "corpus_url_bloom_sized", "media_ahash_recall",
    "media_dup_resolve", "ann_index_compact",
    // round-19: the multi-cycle frontier walk (3 chained
    // dedup→rules→bloom→schedule cycles with advancing history — the
    // iteration cost a recrawl loop pays, NOT double-counting
    // crawl_pipeline: the single-cycle plan measures one increment,
    // this measures the cycle-over-cycle state advance), and the
    // crop-robust shingle-histogram recall gate (a second independent
    // per-asset fold — the aHash gate measures the position fold, this
    // measures the position-free one)
    "crawl_frontier_cycles", "media_ghash_recall",
    // the crop-twin detector join (the gHash fold + the shared banded
    // candidate/confirm chain over its own planted-crop corpus — the
    // join is the cost, not the fold, so it does not double-count the
    // recall gate)
    "media_ghash_dedup")
  // round-20: media_dedup_union is deliberately NOT a headliner — it
  // composes the two already-benched detector joins (media_ahash_dedup
  // + media_ghash_dedup) and would double-count their cost; the
  // re-shaped media_pipeline headliner now carries the union's real
  // product cost (two folds + two banded joins + one component pass)
  // inside its stage-1 number.
  // ann_recall / dedup_lsh_recall are deliberately NOT headliners:
  // like dedup_jaccard (sweep-covered) they are acceptance gates
  // composing already-benched paths — ann_recall re-runs all three
  // ANN queries, lsh_recall re-runs the detector plus an exact-truth
  // pass — so benching them would double-count their inputs' cost.
  // Both stay in the Stress sweep and the oracle battery.

  val TimedPasses = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    // optional arg: comma-separated headliner subset (local iteration —
    // the Verify subset convention); the driver's no-arg run is unchanged
    val subset = args.headOption.map(_.split(",").toSet)
    val names = headliners.filter(SparkEntry.queries.contains)
      .filter(n => subset.forall(_.contains(n)))
    var failed = List.empty[String]
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val sec =
        try tools.Profile.timedPasses(spark, TimedPasses)(_ =>
          tools.Profile.noop(fn(spark, sfDir))).min
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            failed ::= name
            -1.0
        }
      name -> sec
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // the same line as a FILE artifact: log-scraping the metric out of
    // an sbt/log4j-interleaved stdout is fragile (the driver's parsed
    // field came back null two rounds running), a file is not
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    // The parse contract (SURVEY §6), in preference order:
    //  1. bench.json (written above via SPARK_GRAFT_BENCH_OUT) — a
    //     file is immune to log interleaving and line clipping;
    //  2. the GRAFT_BENCH_JSON: marker line — grep the token, parse
    //     the remainder (full per-query map);
    //  3. the SHORT summary line below, which IS the last stdout line.
    //     r12 post-mortem: the full line grew to 2,029 chars and the
    //     driver's tail-capture window is 2,000, so the line's head
    //     clipped mid-number and the parse nulled (BENCH_r12.json).
    //     The final line must therefore stay FIXED-SIZE (~170 chars)
    //     no matter how many queries the bench grows: total + count +
    //     a pointer to the full map. A tail window of any plausible
    //     size captures it whole.
    println("GRAFT_BENCH_JSON:" + json)
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"queries_file":"$outFile","sf":"$sfDir"}"""
    println(summary)
    System.out.flush()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] failed queries: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
