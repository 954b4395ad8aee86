package graft

import org.apache.spark.sql.functions._

/** ANN (#33–34) and text-analysis (#35–38) invariants. */
class SimilarityTextSpec extends SparkSpec {

  test("planesFor: fixed 4 at test scales, ceil-log2 growth beyond") {
    import operators.Similarity.planesFor
    assert(planesFor(500) === 4)    // sf0.001/sf0.01 corpus
    assert(planesFor(2000) === 4)   // sf0.1 corpus
    assert(planesFor(8499) === 4)   // ≤ 16 buckets
    assert(planesFor(8500) === 5)   // 17 buckets → 5 planes
    assert(planesFor(1000000) === 11)
    assert(planesFor(1000000000L) === 21) // 100 TB-ish corpus: 2M buckets
  }

  test("brute-force top-k is k rows per query, cosine-descending") {
    val out = operators.Similarity.annBruteforce(spark, sf).collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.keySet === (0L until operators.Similarity.NumQueries).toSet)
    byQuery.values.foreach { rows =>
      assert(rows.length === operators.Similarity.TopK)
      val cos = rows.sortBy(_.getLong(1)).map(r =>
        r.getLong(3).toDouble / math.sqrt(r.getLong(4).toDouble * r.getLong(5).toDouble))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lsh candidates are within one probe bit of the query bucket") {
    val codes = operators.Similarity.lshCodes(spark, sf)
      .select("vec_id", "code").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = operators.Similarity.annLsh(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ham = Integer.bitCount(codes(r.getLong(0)) ^ codes(r.getLong(2)))
      assert(ham <= 1)
    }
  }

  test("multi-probe lsh recall covers a majority of brute-force top-k") {
    val bf = operators.Similarity.annBruteforce(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.Similarity.annLsh(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.3, s"recall=$recall") // 5 of 16 buckets probed
  }

  test("ivf assigns every vector to exactly one centroid list") {
    val a = operators.Similarity.ivfAssignments(spark, sf)
    assert(a.count() === Tables.load(spark, sf, "embeddings").count())
    assert(a.filter(
      col("cid") < operators.Similarity.CentroidBase ||
      col("cid") >= operators.Similarity.CentroidBase +
        operators.Similarity.Centroids).count() === 0)
    // with the untrained seed (iters = 0), each seed vector belongs to
    // its own list (d2 = 0 beats everything)
    val a0 = operators.Similarity.ivfAssignments(spark, sf, iters = 0)
    assert(a0.filter(col("vec_id") === col("cid")).count() ===
      operators.Similarity.Centroids)
  }

  test("ivf probe recall covers a majority of brute-force top-k") {
    val bf = operators.Similarity.annBruteforce(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = operators.Similarity.annIvf(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.3, s"recall=$recall") // 4 of 16 lists probed
  }

  test("k-means-trained centroids do not lose recall vs the fixed seed") {
    val bf = operators.Similarity.annBruteforce(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(iters: Int): Double = {
      val ivf = operators.Similarity.annIvf(spark, sf, iters)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & ivf).size.toDouble / bf.size
    }
    val fixed = recall(0)
    val trained = recall(operators.Similarity.KmeansIters)
    assert(trained >= fixed, s"trained=$trained fixed=$fixed")
  }

  test("portable-sign ann twin recalls a majority of brute-force top-k") {
    val bf = operators.Similarity.annBruteforce(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val poly = operators.Similarity.annLshPoly(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(poly.nonEmpty)
    val recall = (bf & poly).size.toDouble / bf.size
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("codegen'd hyperplane codes are bit-identical to the SQL-HOF formulation") {
    for (planes <- Seq(4, 8)) {
      val base = operators.Similarity.lshCodes(spark, sf, planes)
      val both = base
        .withColumn("code_hof", operators.Similarity.codeExprHof(planes))
      assert(both.filter(col("code") =!= col("code_hof")).count() === 0,
        s"planes=$planes")
    }
  }

  test("lsh buckets partition the corpus") {
    val codes = operators.Similarity.lshCodes(spark, sf)
    assert(codes.count() === Tables.load(spark, sf, "embeddings").count())
    val n = codes.select("code").distinct().count()
    assert(n > 1 && n <= (1 << operators.Similarity.Planes))
  }

  test("langid predicts a language iff a lexicon hit exists") {
    val out = functions.TextFunctions.langId(spark, sf)
    val bad = out.filter(
      (col("pred_lang") === "und" &&
        greatest(col("en_hits"), col("es_hits"), col("de_hits"), col("fr_hits")) > 0) ||
      (col("pred_lang") =!= "und" &&
        greatest(col("en_hits"), col("es_hits"), col("de_hits"), col("fr_hits")) === 0))
    assert(bad.count() === 0)
  }

  test("token counts: regex tokens >= whitespace tokens on clean text") {
    val out = functions.TextFunctions.tokenCounts(spark, sf)
    assert(out.filter(col("re_tokens") < col("ws_tokens")).count() === 0)
    assert(out.count() === Tables.load(spark, sf, "documents").count())
  }

  test("fingerprint is deterministic and collision-free on distinct docs") {
    val out = functions.TextFunctions.fingerprint(spark, sf)
    val n = out.count()
    assert(out.select("md5_fp").distinct().count() === n)
    // poly hash mod 1e9+7 may collide in theory; not on 500 docs
    assert(out.select("poly_hash").distinct().count() === n)
  }

  test("quality flags require minimum length") {
    val out = functions.TextFunctions.quality(spark, sf)
    assert(out.filter(col("quality_ok") === 1 && col("n_words") < 10).count() === 0)
  }

  test("int8 codes stay in [-127, 127] and reranked scores are exact") {
    val codes = operators.Similarity.int8Codes(spark, sf)
      .select(expr("array_max(transform(c8, x -> abs(x)))").as("mx"))
    assert(codes.agg(max("mx")).head.getLong(0) <= 127L)
    val exact = operators.Similarity.annBruteforce(spark, sf)
      .select("query_id", "vec_id", "dot", "nq", "nc").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val sq = operators.Similarity.annInt8(spark, sf).collect()
    assert(sq.length === operators.Similarity.NumQueries * operators.Similarity.TopK)
    // the rerank pass re-scores with FULL vectors: any (query, vec)
    // shared with brute force must carry identical dot/norms
    var overlap = 0
    sq.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      exact.get(key).foreach { case (d, nq, nc) =>
        overlap += 1
        assert(r.getLong(3) === d)
        assert(r.getLong(4) === nq)
        assert(r.getLong(5) === nc)
      }
    }
    // SQ8 at 127 levels + 50-deep rerank recovers nearly all of the
    // exact top-k (recall here is over all 5 queries jointly)
    assert(overlap.toDouble / exact.size >= 0.8, s"recall=${overlap.toDouble / exact.size}")
  }

  test("ann_recall: hits bounded by k, permille algebra exact, one row per query") {
    val out = operators.Similarity.annRecall(spark, sf).collect()
    val nq = operators.Similarity.annBruteforce(spark, sf)
      .select("query_id").distinct().count()
    assert(out.length.toLong === nq)
    out.foreach { r =>
      val (k, lh, ih, ph, iph) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      val (lpm, ipm, ppm, ippm) =
        (r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
      assert(lh >= 0 && lh <= k); assert(ih >= 0 && ih <= k)
      assert(ph >= 0 && ph <= k); assert(iph >= 0 && iph <= k)
      assert(lpm === lh * 1000 / k); assert(ipm === ih * 1000 / k)
      assert(ppm === ph * 1000 / k); assert(ippm === iph * 1000 / k)
    }
  }

  test("map-side nearestCid equals the min(struct(d2, cid)) aggregate") {
    // deterministic vectors with planted exact ties: vectors 0 and 1
    // are equidistant from centroids 3 and 7 (identical cq), so the
    // (d2, cid) tie-break must pick cid 3 — the aggregate's algebra
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val twin = Array.fill(8)(2L)
    val vecs = (0L until 40L).map { i =>
      val q = if (i == 0L) twin // planted: ties 3 vs 7 at d2 = 0
              else Array.fill(8)((rnd.nextInt(19) - 9).toLong)
      (i, q, q.map(x => x * x).sum)
    }.toDF("vec_id", "q", "nn")
    val cents = ((0L until 10L).map { c =>
      val cq = if (c == 3L || c == 7L) twin
               else Array.fill(8)((rnd.nextInt(19) - 9).toLong)
      (c, cq, cq.map(x => x * x).sum)
    }).toDF("cid", "cq", "cn")
    val ca = cents
      .agg(collect_list(struct(col("cid"), col("cq"), col("cn"))).as("ca"))
    val got = vecs.crossJoin(broadcast(ca))
      .select(col("vec_id"), functions.VectorFunctions
        .nearest_cid_l(col("q"), col("nn"), col("ca")).as("cid"))
      .filter(col("cid").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = vecs.crossJoin(broadcast(cents))
      .withColumn("d2", col("nn") + col("cn") -
        lit(2) * functions.VectorFunctions.dot_l(col("q"), col("cq")))
      .groupBy("vec_id").agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got.values.exists(_ == 3L)) // the tie pair is reachable
    assert(!got.values.exists(_ == 7L)) // and always resolves low
    // empty codebook array: null cid, filtered to zero rows like the
    // empty-centroid crossJoin the fold replaces
    val caEmpty = cents.filter(col("cid") < 0)
      .agg(collect_list(struct(col("cid"), col("cq"), col("cn"))).as("ca"))
    assert(vecs.crossJoin(broadcast(caEmpty))
      .select(functions.VectorFunctions
        .nearest_cid_l(col("q"), col("nn"), col("ca")).as("cid"))
      .filter(col("cid").isNotNull).count() === 0L)
  }

  test("one-list IVF-PQ ADC/norm kernels equal the join+aggregate ADC spelling") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val M = 3; val K = 5
    // sparse codebook: (m=2, cid=4) deliberately absent — an absent
    // pair must contribute 0, like the inner join it replaces
    val cw = (for (m <- 0 until M; c <- 0 until K
                   if !(m == 2 && c == 4))
      yield (m.toLong, c.toLong, rnd.nextInt(100).toLong))
      .toDF("m", "cid", "cn")
    // vector 20 has no code for subspace 1: the kernels look codes up
    // by their stored m, so only that term drops (a positional fold
    // would read its m=2 code as m=1)
    val codes = ((for (v <- 0L until 20L; m <- 0 until M)
      yield (v, m.toLong, rnd.nextInt(K).toLong)) ++
      Seq((20L, 0L, 3L), (20L, 2L, 1L))).toDF("vec_id", "m", "cid")
    val lut = (for (q <- 0L until 4L; m <- 0 until M; c <- 0 until K
                    if !(m == 2 && c == 4))
      yield (q, 1000L + q, m.toLong, c.toLong, (rnd.nextInt(200) - 100).toLong))
      .toDF("query_id", "nq", "m", "cid", "pdot")
    // reference: the former join + SUM spelling
    val wantAdc = codes.join(lut, Seq("m", "cid"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pdot").as("adot")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wantNc = codes.join(cw, Seq("m", "cid"))
      .groupBy("vec_id").agg(sum("cn").as("nc")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the kernels in the one-list case: every vector in list 0, whose
    // zero centroid gives qcdot = 0, xdot = 0 and cn = 0
    val cds = codes.groupBy("vec_id")
      .agg(expr("collect_list(struct(m, cid AS code))").as("cds"))
    val lutRow = lut.groupBy("query_id", "nq")
      .agg(expr("array_sort(collect_list(struct(m, cid AS code, pdot)))").as("pda"))
      .withColumn("prb", expr("array(struct(0L AS cid, 0L AS qcdot))"))
      .agg(collect_list(struct(col("query_id"), col("nq"), col("prb"),
        col("pda"))).as("luts"))
    val crxRow = cw.agg(expr("array_sort(collect_list(struct(0L AS cid, m, " +
      "cid AS code, 0L AS xdot, cn AS ccn)))").as("crx"))
    val cenRow = Seq(1).toDF("x")
      .select(expr("array(struct(0L AS cid, 0L AS cn))").as("cen"))
    val got = cds.crossJoin(broadcast(lutRow)).crossJoin(broadcast(crxRow))
      .crossJoin(broadcast(cenRow))
      .select(col("vec_id"),
        functions.VectorFunctions.ivf_pq_nc_hat_l(col("cds"), lit(0L),
          col("crx"), col("cen")).as("nc"),
        explode(functions.VectorFunctions.ivf_pq_adc_l(col("cds"), lit(0L),
          col("luts"))).as("s"))
      .select(col("vec_id"), col("nc"), col("s.query_id"), col("s.nq"), col("s.adot"))
      .collect()
    assert(got.length === 21 * 4)
    assert(got.exists(_.getLong(0) == 20L))
    got.foreach { r =>
      val (v, nc, q, nq, adot) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nq === 1000L + q)
      // join-spelling reference, absent pairs contributing 0
      assert(adot === wantAdc.getOrElse((q, v), 0L), s"adot q=$q v=$v")
      // the norm kernel clamps ‖x̂‖² at 1 (the cosine-division guard)
      assert(nc === math.max(wantNc.getOrElse(v, 0L), 1L), s"nc v=$v")
    }
  }
}
