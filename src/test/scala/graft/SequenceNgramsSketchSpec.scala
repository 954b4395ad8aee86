package graft

import graft.functions.SketchFunctions
import graft.operators.{Ngrams, Sequence, Sketch}
import org.apache.spark.sql.functions._

/** Correctness specs for the round-5 additions: as-of join, funnel,
  * corpus n-grams, keyword extraction, KMV distinct sketch. Each is
  * checked against an independent brute-force recomputation on the
  * collected sf0.001 data (the DuckDB oracle re-checks at sf0.01). */
class SequenceNgramsSketchSpec extends SparkSpec {

  private def normalize(s: String): String =
    s.trim.toLowerCase.replaceAll("\\s+", " ")

  private lazy val rawEvents: Array[(Long, Long, String, Long)] =
    Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)

  private lazy val docs: Array[(Long, String)] =
    Tables.load(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), normalize(r.getString(1))))

  test("events_asof matches a brute-force per-user scan") {
    val expected = rawEvents.filter(_._3 == "purchase").map {
      case (eid, uid, _, ts) =>
        val prior = rawEvents.filter(e =>
          e._2 == uid && e._1 < eid && e._3 == "click")
        if (prior.isEmpty) (eid, uid, ts, -1L, -1L, -1L)
        else {
          val cid = prior.map(_._1).max
          val cts = prior.map(_._4).max
          (eid, uid, ts, cid, cts, ts - cts)
        }
    }
    val got = Sequence.eventsAsof(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === expected.toSeq)
  }

  test("events_funnel matches a brute-force stage walk") {
    val expected = rawEvents.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (uid, es) =>
        val t1 = es.filter(_._3 == "view").map(_._1).minOption
        val t2 = t1.flatMap(t =>
          es.filter(e => e._3 == "click" && e._1 > t).map(_._1).minOption)
        val t3 = t2.flatMap(t =>
          es.filter(e => e._3 == "purchase" && e._1 > t).map(_._1).minOption)
        val stage = if (t3.isDefined) 3 else if (t2.isDefined) 2
          else if (t1.isDefined) 1 else 0
        (uid, t1.getOrElse(-1L), t2.getOrElse(-1L), t3.getOrElse(-1L), stage)
    }
    val got = Sequence.eventsFunnel(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got.toSeq === expected)
  }

  test("events_range_join matches a brute-force inequality scan") {
    val gap = Sequence.RangeGapS
    val expected = (for {
      p <- rawEvents if p._3 == "purchase"
      x <- rawEvents
      if x._3 == "error" && x._2 == p._2 &&
        x._4 > p._4 && x._4 - p._4 <= gap
    } yield (p._1, x._1, p._2, x._4 - p._4)).sortBy(t => (t._1, t._2))
    val got = Sequence.eventsRangeJoin(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected.toSeq)
  }

  test("corpus_ngrams matches brute-force 5-gram counting") {
    val grams = docs.flatMap { case (docId, norm) =>
      val w = norm.split(" ")
      w.sliding(Ngrams.N).filter(_.length == Ngrams.N)
        .map(g => (g.mkString(" "), docId)).toSeq
    }
    val expected = grams.groupBy(_._1).map { case (g, hits) =>
      (g, hits.length.toLong, hits.map(_._2).distinct.length.toLong)
    }.toSeq.sortBy { case (g, n, _) => (-n, g) }.take(Ngrams.TopK)
    val got = Ngrams.corpusNgrams(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expected)
  }

  test("text_keywords matches brute-force tf/df ranking") {
    val toks = docs.flatMap { case (d, n) => n.split(" ").map(t => (d, t)) }
    val tf = toks.groupBy(identity).map { case ((d, t), xs) =>
      (d, t) -> xs.length.toLong }
    val df = toks.distinct.groupBy(_._2).map { case (t, xs) =>
      t -> xs.length.toLong }
    val expected = toks.map(_._1).distinct.sorted.flatMap { d =>
      val ranked = tf.collect { case ((`d`, t), f) => (t, f, df(t)) }.toSeq
        .sortBy { case (t, f, dfv) => (-f, dfv, t) }.take(3)
      ranked.zipWithIndex.map { case ((t, f, dfv), i) =>
        (d, i + 1, t, f, dfv) }
    }
    val got = Ngrams.textKeywords(spark, sf).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expected.toSeq)
  }

  test("corpus_sample matches brute-force salted-md5 thresholding") {
    import java.security.MessageDigest
    val langOf = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rates = graft.operators.Corpus.SampleRates.toMap
    val expected = docs.flatMap { case (d, norm) =>
      val md = MessageDigest.getInstance("MD5")
        .digest(("sample:" + norm).getBytes("UTF-8"))
      val bucket = (((md(0) & 0xff) << 8) | (md(1) & 0xff)) % 1000
      val rate = rates.getOrElse(langOf(d), graft.operators.Corpus.DefaultRate)
      if (bucket < rate) Some((d, langOf(d), bucket, rate)) else None
    }.sortBy(_._1)
    val got = graft.operators.Corpus.corpusSample(spark, sf).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq === expected.toSeq)
    // sampling must actually thin the dominant languages
    assert(got.length < docs.length)
  }

  test("events_paths matches brute-force per-user triple counting") {
    val triples = rawEvents.groupBy(_._2).toSeq.flatMap { case (_, es) =>
      val types = es.sortBy(_._1).map(_._3)
      types.sliding(3).filter(_.length == 3).map(_.mkString(">"))
    }
    val expected = triples.groupBy(identity)
      .map { case (p, xs) => (p, xs.length.toLong) }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(Sequence.PathTopK)
    val got = Sequence.eventsPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === expected)
  }

  test("events_actives matches brute-force rolling 7-day distinct actives") {
    val ud = rawEvents.map(e => (e._2, e._4 / 86400)).distinct
    val expected = ud.map(_._2).distinct.sorted.map { d =>
      val dau = ud.count(_._2 == d).toLong
      val wau = ud.filter(p => p._2 >= d - 6 && p._2 <= d)
        .map(_._1).distinct.length.toLong
      (d, dau, wau, dau * 1000 / wau)
    }
    val got = Sequence.eventsActives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected.toSeq)
    got.foreach { case (_, dau, wau, s) =>
      assert(wau >= dau && s >= 0 && s <= 1000)
    }
  }

  test("hll registers merge: per-(source,lang) partials max-merge into the per-source sketch") {
    // the mergeability property that makes HLL the 100 TB rollup
    // sketch: registers built on a FINER key split, merged by plain
    // register-max, equal the registers built directly on the coarser
    // key — no raw-data re-scan needed for re-aggregation
    val toksFine = Tables.load(spark, sf, "documents")
      .select(col("source"), col("lang"),
        explode(split(graft.functions.TextFunctions.normText(col("text")), " ")).as("tok"))
    val fine = Sketch.hllRegistersOf(toksFine, "source", "lang")
    val merged = fine.groupBy("source", "j").agg(max("r").as("r"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val direct = Sketch.hllRegistersOf(
        toksFine.select(col("source"), col("tok")), "source")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(merged === direct)
  }

  test("events_actives_hll: window registers are exactly the max-merge of day registers") {
    val toks = Tables.events(spark, sf)
      .select(expr("ts_s div 86400").as("day"),
        col("user_id").cast("string").as("tok"))
    val dayRegs = Sketch.hllRegistersOf(toks, "day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val m = Sketch.HllRegisters.toLong
    val expected = dayRegs.map(_._1).distinct.sorted.map { d =>
      val regs = dayRegs.filter(p => p._1 >= d - 6 && p._1 <= d)
        .groupBy(_._2).map { case (j, xs) => j -> xs.map(_._3).max }
      val ssum = (0L until m).map(j => Sketch.HllScale >> regs.getOrElse(j, 0)).sum
      val zeros = (0L until m).count(j => regs.getOrElse(j, 0) == 0).toLong
      (d, ssum, zeros)
    }
    val got = Sketch.eventsActivesHll(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expected.toSeq)
    // the corrected estimate tracks the exact rolling WAU (#118):
    // m=64 gives ~13% standard error, LC covers the small range
    val exact = Sequence.eventsActives(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (d, _, zeros, raw) =>
      val est =
        if (zeros > 0 && raw <= 2.5 * m) m * math.log(m.toDouble / zeros)
        else raw
      val ex = exact(d).toDouble
      assert(est > 0.5 * ex && est < 2.0 * ex, s"day $d est $est exact $ex")
    }
  }

  test("events_anomaly matches a brute-force exact-moment 3-sigma scan") {
    val vals = Tables.events(spark, sf)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toBigInt))
    val byType = vals.groupBy(_._2)
    val expected = vals.filter { case (_, t, v) =>
      val g = byType(t)
      val n = BigInt(g.length)
      val s = g.map(_._3).sum
      val q = g.map(x => x._3 * x._3).sum
      val d = (n * v - s).toDouble
      d * d > 9.0 * (n.toDouble * q.toDouble - s.toDouble * s.toDouble)
    }.map(x => (x._1, x._2, x._3.toLong)).sortBy(_._1)
    val got = Sequence.eventsAnomaly(spark, sf).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === expected.toSeq)
    // a 3-sigma cut must be selective but non-vacuous on skewed values
    assert(got.nonEmpty && got.length < vals.length / 20)
  }

  test("vocab_merges matches brute-force BPE pair counting") {
    val wordCnt = docs.flatMap(_._2.split(" "))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
      .filter(_._1.length >= 2)
    val pairStats = wordCnt.toSeq.flatMap { case (w, c) =>
      (0 until w.length - 1).map(i => (w.substring(i, i + 2), w, c))
    }.groupBy(_._1).map { case (p, xs) =>
      (p, xs.map(_._3).sum, xs.map(_._2).distinct.length.toLong)
    }
    val expected = pairStats.toSeq
      .sortBy { case (p, tot, _) => (-tot, p) }.take(Ngrams.MergeTopK)
    val got = Ngrams.vocabMerges(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expected)
  }

  private def refPolyHash(s: String): Long = {
    var acc = 0L
    s.foreach(ch => acc = (acc * 131 + ch.toLong) % SketchFunctions.PolyP)
    acc
  }

  test("PolyHash expression equals the HOF aggregate formulation") {
    import spark.implicits._
    val sample = docs.take(50).flatMap(_._2.split(" ")).distinct.toSeq
    val d = sample.toDF("tok")
    val both = d.select(
      col("tok"),
      SketchFunctions.poly_hash(col("tok")).as("fast"),
      expr(s"""aggregate(split(tok, ''), CAST(0 AS BIGINT),
        (acc, ch) -> (acc * 131 + ascii(ch)) % ${SketchFunctions.PolyP})""").as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), r.getString(0))
      assert(r.getLong(1) === refPolyHash(r.getString(0)), r.getString(0))
    }
  }

  test("KMinValues keeps exactly the k smallest distinct values through update and merge") {
    import spark.implicits._
    // duplicated + shuffled values across many partitions forces both
    // the distinct semantics and the partial-merge path
    val vals = (1L to 200L) ++ (1L to 200L) ++ (150L to 400L)
    val d = vals.toDF("v").repartition(7)
    val got = d.agg(SketchFunctions.kmin_values(col("v"), 16).as("k"))
      .collect().head.getSeq[Long](0)
    assert(got === (1L to 16L))
  }

  test("streaming sketch folds increments into checkpointed state across restarts") {
    import spark.implicits._
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft_sketch_in")
    val ckpt = Files.createTempDirectory("graft_sketch_ck")
    val out = Files.createTempDirectory("graft_sketch_out")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("source", "string").add("text", "string")
    val k = 8
    def feed(docs: Seq[(String, String)]): Unit =
      docs.toDF("source", "text").coalesce(1)
        .write.mode("append").parquet(in.toString)
    def drain(): Map[String, (Int, Long, Long)] = {
      val q = streaming.SketchStream.sketchQuery(
        spark, in.toString, schema, k, ckpt.toString, out.toString)
      q.awaitTermination(60000)
      // latest update per key wins (batch_id stamps the update log)
      spark.read.parquet(out.toString).collect()
        .map(r => (r.getAs[String]("source"),
          (r.getAs[Int]("nKept"), r.getAs[Long]("kthMin"),
            r.getAs[Long]("distinctEst"), r.getAs[Long]("batch_id"))))
        .groupBy(_._1)
        .map { case (s, xs) =>
          val l = xs.maxBy(_._2._4)._2
          s -> ((l._1, l._2, l._3))
        }
    }
    // words chosen so srcA exceeds k distinct tokens only after the
    // SECOND increment — the estimate must then reflect BOTH batches
    val batch1 = Seq(
      "srcA" -> "a b c d e f", "srcB" -> "x y")
    val batch2 = Seq(
      "srcA" -> "g h i j k l", "srcB" -> "x z")
    feed(batch1)
    val r1 = drain()
    assert(r1("srcA") === ((6, -1L, 6L))) // exact regime below k
    assert(r1("srcB") === ((2, -1L, 2L)))
    feed(batch2)
    // fresh query from the SAME checkpoint: state must carry over
    val r2 = drain()
    val allA = (batch1 ++ batch2).filter(_._1 == "srcA")
      .flatMap(_._2.split(" ")).distinct.map(refPolyHash).sorted
    assert(r2("srcA")._1 === k)
    assert(r2("srcA")._2 === allA(k - 1)) // kth-min over the UNION
    assert(r2("srcA")._3 ===
      (k - 1).toLong * SketchFunctions.PolyP / allA(k - 1))
    assert(r2("srcB") === ((3, -1L, 3L)))
  }

  test("sketch_distinct: exact below k, kth-min/estimate reproducible above k") {
    val bySource = docs.map { case (d, n) => (d, n) }
    val srcOf = Tables.load(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hvs = bySource.flatMap { case (d, n) =>
      n.split(" ").map(t => (srcOf(d), refPolyHash(t))) }
      .distinct.groupBy(_._1).map { case (s, xs) =>
        s -> xs.map(_._2).sorted }
    val got = Sketch.sketchDistinct(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val src = r.getString(0)
      val mins = hvs(src)
      val nKept = r.getInt(1)
      if (mins.length < Sketch.K) {
        assert(nKept === mins.length)
        assert(r.getLong(3) === mins.length.toLong) // exact regime
        assert(r.getLong(2) === -1L)
      } else {
        assert(nKept === Sketch.K)
        val hk = mins(Sketch.K - 1)
        assert(r.getLong(2) === hk)
        assert(r.getLong(3) === (Sketch.K - 1).toLong * SketchFunctions.PolyP / hk)
        // estimator sanity: within 50% of the true distinct count
        val est = r.getLong(3).toDouble
        assert(math.abs(est - mins.length) / mins.length < 0.5,
          s"$src est=$est exact=${mins.length}")
      }
    }
  }

  test("text_bigram_score matches brute-force corpus bigram statistics") {
    val perDoc = docs.map { case (id, norm) =>
      id -> norm.split(" ").toList.sliding(2).collect {
        case List(a, b) => s"$a $b"
      }.toList
    }.filter(_._2.nonEmpty)
    val corpus = perDoc.flatMap(_._2).groupBy(identity).map {
      case (bg, xs) => bg -> xs.length.toLong
    }
    val expected = perDoc.map { case (id, bgs) =>
      id -> ((bgs.length.toLong, bgs.map(corpus).sum,
        bgs.count(bg => corpus(bg) == 1L).toLong))
    }.toMap
    val out = operators.Ngrams.textBigramScore(spark, sf).collect()
    assert(out.length === expected.size)
    out.foreach { r =>
      val (n, cfSum, uniq) = expected(r.getLong(0))
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === cfSum)
      assert(r.getLong(3) === uniq)
      assert(r.getInt(4) === (if (uniq * 5 <= n) 1 else 0))
    }
  }

  test("events_gap_quantiles matches brute-force rank selection") {
    val gapsByType = rawEvents
      .groupBy(e => (e._2, e._3)) // (user_id, event_type)
      .toSeq.flatMap { case ((_, tpe), es) =>
        es.sortBy(_._1).map(_._4).toList.sliding(2).collect {
          case List(a, b) => tpe -> (b - a)
        }
      }
      .groupBy(_._1).map { case (tpe, xs) => tpe -> xs.map(_._2).sorted }
    def pick(sorted: Seq[Long], p: Int): Long =
      sorted((sorted.length * p + 99) / 100 - 1)
    val out = operators.Sequence.eventsGapQuantiles(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val tpe = r.getString(0)
      val sorted = gapsByType(tpe)
      assert(r.getLong(1) === sorted.length.toLong)
      assert(r.getLong(2) === pick(sorted, 50), s"$tpe p50")
      assert(r.getLong(3) === pick(sorted, 90), s"$tpe p90")
      assert(r.getLong(4) === pick(sorted, 99), s"$tpe p99")
    }
    assert(out.map(_.getString(0)).toSet === gapsByType.keySet)
  }

  test("count-min heavy hitters: est >= exact, descending, and finds the true top tokens") {
    val out = Sketch.sketchHeavy(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length === Sketch.CmsTopK)
    // CMS only ever over-counts (collisions add, never subtract)
    out.foreach { case (tok, est, exact) =>
      assert(est >= exact, s"$tok est=$est < exact=$exact")
    }
    // output is (est DESC, tok) ordered
    out.sliding(2).foreach { case Array((ta, ea, _), (tb, eb, _)) =>
      assert(ea > eb || (ea == eb && ta < tb))
    }
    // with 2048 cells over a ~30-word vocabulary collisions are rare:
    // the estimate's top set must contain the true top-5 tokens
    val trueTop = Tables.load(spark, sf, "documents")
      .select(explode(split(graft.functions.TextFunctions.normText(col("text")), " ")).as("tok"))
      .groupBy("tok").count()
      .orderBy(col("count").desc, col("tok")).limit(5)
      .collect().map(_.getString(0)).toSet
    assert(trueTop.subsetOf(out.map(_._1).toSet))
  }

  test("sketch_hll: full register grid, valid rho range, estimate within HLL error") {
    val out = Sketch.sketchHll(spark, sf).collect()
    val bySource = out.groupBy(_.getString(0))
    // every source has the complete m-register grid
    bySource.foreach { case (src, rows) =>
      assert(rows.length === Sketch.HllRegisters, src)
      assert(rows.map(_.getLong(1)).sorted.toSeq ===
        (0L until Sketch.HllRegisters).toSeq, src)
      rows.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(2) <= Sketch.HllMaxRho))
    }
    // the estimate is a per-source constant and lands within ~3σ of
    // the exact distinct-token count (σ ≈ 1.04/√64 = 13%)
    val exact = Tables.load(spark, sf, "documents")
      .select(col("source"),
        explode(split(graft.functions.TextFunctions.normText(col("text")), " ")).as("tok"))
      .groupBy("source").agg(countDistinct("tok").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, rows) =>
      val ests = rows.map(_.getDouble(4)).distinct
      assert(ests.length === 1, s"$src estimate not constant")
      val zeros = rows.head.getLong(3)
      assert(zeros === rows.count(_.getLong(2) == 0).toLong)
      // the standard HLL small-range correction (linear counting) is
      // applied by the CONSUMER from the emitted zeros column — the
      // operator itself stays pure integer+fixed-double algebra so the
      // oracle never has to reproduce a transcendental bit-for-bit
      val m = Sketch.HllRegisters.toDouble
      val corrected =
        if (ests.head <= 2.5 * m && zeros > 0) m * math.log(m / zeros)
        else ests.head
      val n = exact(src).toDouble
      assert(math.abs(corrected - n) <= 0.40 * n + 10,
        s"$src est=${ests.head} corrected=$corrected exact=$n")
    }
  }

  test("sketch_hll: NULL text adds no token; an all-NULL source keeps an empty grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hll_null").toString
    Seq[(Long, String, String)](
      (1L, "allnull", null), (2L, "allnull", null),
      (3L, "mixed", "alpha beta gamma"), (4L, "mixed", null),
      (5L, "mixed", "beta delta"),
      (6L, "clean", "alpha beta gamma"), (7L, "clean", "beta delta"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val bySource = Sketch.sketchHll(spark, dir).collect()
      .groupBy(_.getString(0)).map { case (src, rows) =>
        src -> rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).sortBy(_._1).toSeq }
    assert(bySource.keySet === Set("allnull", "mixed", "clean"))
    // the all-NULL source keeps its full register grid, every register
    // empty (the oracle's grid comes from the documents' sources)
    val allNull = bySource("allnull")
    assert(allNull.map(_._1) === (0L until Sketch.HllRegisters).toSeq)
    assert(allNull.forall(_._2 == 0L), allNull.filter(_._2 != 0L))
    assert(allNull.head._3 === Sketch.HllRegisters.toLong)
    // NULL rows contribute nothing: the mixed source's sketch equals
    // the sketch of its non-NULL texts alone (no phantom '' token)
    assert(bySource("mixed") === bySource("clean"))
  }

  test("sketch_gap_quantiles: within bucket error of exact quantiles, bounded state") {
    val gapsByType = rawEvents
      .groupBy(e => (e._2, e._3))
      .toSeq.flatMap { case ((_, tpe), es) =>
        es.sortBy(_._1).map(_._4).toList.sliding(2).collect {
          case List(a, b) => tpe -> (b - a)
        }
      }
      .groupBy(_._1).map { case (tpe, xs) => tpe -> xs.map(_._2).sorted }
    def pick(sorted: Seq[Long], p: Int): Long =
      sorted((sorted.length * p + 99) / 100 - 1)
    val out = Sketch.sketchGapQuantiles(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getString(0)).toSet === gapsByType.keySet)
    out.foreach { r =>
      val tpe = r.getString(0)
      val sorted = gapsByType(tpe)
      assert(r.getLong(1) === sorted.length.toLong, s"$tpe n_gaps")
      // bounded reduction state: 16 sub-buckets per octave of gap
      // range — a few hundred rows at ANY data size
      assert(r.getLong(2) <= 700, s"$tpe n_buckets=${r.getLong(2)}")
      def ok(est: Long, p: Int): Unit = {
        val exact = pick(sorted, p)
        // the exact rank-value lands inside the selected bucket, so
        // the midpoint is within a half-width: 1/32 relative (+1 slack
        // for the integer midpoint of odd-width buckets)
        assert(math.abs(est - exact) <= (exact + 1) / 32 + 1,
          s"$tpe p$p est=$est exact=$exact")
      }
      ok(r.getLong(3), 50); ok(r.getLong(4), 90); ok(r.getLong(5), 99)
    }
  }

  test("gap-bucket histograms merge by per-key sum; bucket algebra sound on a wide synthetic range") {
    // mergeability on real data: user_id-parity split keeps per-user
    // sequences intact, so part histograms must sum to the full one
    val e = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_s")
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val full = toMap(Sketch.gapBucketsOf(e).collect())
    val parts = Seq(0, 1).map(p =>
      toMap(Sketch.gapBucketsOf(e.filter(col("user_id") % 2 === p)).collect()))
    val merged = parts.flatMap(_.toSeq)
      .groupBy(_._1)
      .map { case (k, vs) => k -> (vs.head._2._1, vs.map(_._2._2).sum) }
    assert(merged === full)
    // synthetic single-user stream with gaps 0..5000 (v spans 12
    // octaves): per-bucket counts, midpoints and bounds recomputed
    // exactly in Scala from the published integer algebra
    import spark.implicits._
    val gaps = (0 to 5000).map(_.toLong)
    val ts = gaps.scanLeft(0L)(_ + _).tail
    val syn = ts.zipWithIndex
      .map { case (t, i) => (i.toLong + 1, 1L, "t", t) }
      .toDF("event_id", "user_id", "event_type", "ts_s")
    val hist = Sketch.gapBucketsOf(syn).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(hist.values.map(_._2).sum === gaps.length.toLong - 1)
    hist.foreach { case (key, (est, cnt)) =>
      val ex = math.max(key / 16 - 1, 0L)
      val sub = key - ex * 16
      val low = sub << ex
      val up = ((sub + 1) << ex) - 1
      assert(est === low + ((1L << ex) >> 1) - 1, s"key=$key midpoint")
      val expect = gaps.tail.map(_ + 1).count(v => v >= low && v <= up)
      assert(cnt === expect.toLong, s"key=$key [$low,$up]")
    }
  }

  test("gap buckets drop out-of-order (negative) gaps instead of folding garbage octaves") {
    import spark.implicits._
    // ts NOT monotone in event_id: events 1→2→3 have ts 100→50→150,
    // producing gaps -50 and +100. bin() of a negative long is its
    // 64-bit two's complement, so an unguarded pipeline would emit an
    // ex=59 octave bucket; the guard must keep ONLY the +100 gap
    val syn = Seq(
      (1L, 1L, "t", 100L), (2L, 1L, "t", 50L), (3L, 1L, "t", 150L))
      .toDF("event_id", "user_id", "event_type", "ts_s")
    val hist = Sketch.gapBucketsOf(syn).collect()
    assert(hist.map(_.getLong(3)).sum === 1L, hist.mkString(","))
    val key = hist.head.getLong(1)
    assert(key === Sketch.gapBucketKey(101L), s"key=$key") // v = gap+1
  }

  test("streaming gap buckets: increments sum to the batch histogram across a restart") {
    import spark.implicits._
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft_gap_in")
    val ckpt = Files.createTempDirectory("graft_gap_ck")
    val out = Files.createTempDirectory("graft_gap_out")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("user_id", "long")
      .add("event_type", "string").add("ts_s", "long")
    // two users × two types, gap magnitudes spanning several octaves;
    // the LAST event of each drop-1 sequence pairs with the FIRST of
    // drop 2, so correctness REQUIRES the carried (event_id, ts)
    // state — a stateless recompute of drop 2 alone would miss those
    // cross-drop gaps
    val gapsOf = Map(
      (1L, "a") -> Seq(3L, 17L, 250L, 4000L, 9L),
      (1L, "b") -> Seq(1L, 1L, 70000L, 2L),
      // the -3 regression pins batch/stream parity on the
      // out-of-order guard: both sides must DROP that gap
      (2L, "a") -> Seq(0L, 31L, -3L, 32L, 1023L, 1024L, 5L))
    val all = gapsOf.toSeq.flatMap { case ((uid, tpe), gs) =>
      val ts = gs.scanLeft(1000L)(_ + _)
      ts.zipWithIndex.map { case (t, i) =>
        // per-user-type monotone event ids, disjoint across keys
        (uid * 1000 + tpe.hashCode.abs % 100 * 10 + i.toLong, uid, tpe, t)
      }
    }
    def feed(rows: Seq[(Long, Long, String, Long)]): Unit =
      rows.toDF("event_id", "user_id", "event_type", "ts_s").coalesce(1)
        .write.mode("append").parquet(in.toString)
    def drain(): Unit = {
      val q = streaming.GapQuantileStream.gapQuery(
        spark, in.toString, schema, ckpt.toString, out.toString)
      q.awaitTermination(60000)
    }
    val (drop1, drop2) = all.partition { case (eid, _, _, _) => eid % 10 < 3 }
    feed(drop1); drain()
    feed(drop2); drain() // fresh query, SAME checkpoint: state carries
    val streamed = spark.read.parquet(out.toString).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("key")) ->
        (r.getAs[Long]("est"), r.getAs[Long]("cnt")))
      .groupBy(_._1)
      .map { case (k, xs) => k -> (xs.head._2._1, xs.map(_._2._2).sum) }
    val batch = Sketch.gapBucketsOf(
      all.toDF("event_id", "user_id", "event_type", "ts_s")).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }
}
