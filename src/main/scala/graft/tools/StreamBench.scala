package graft.tools

import java.io.File
import java.util.UUID

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming throughput micro-bench (VERDICT r10 #2): the 9 streaming
  * rows are correctness-proven but the reference's whole identity is a
  * relay LOOP (protocol.py:96-240, spool.py:105-130) with a measured
  * 80k msg/s single-thread hot path (BASELINE.md). This main measures
  * the two streaming pipelines that mirror that loop:
  *
  *  - `syslog_spool`: pre-rendered LF-terminated syslog files (the
  *    listener's ingest files) → [[graft.streaming.SyslogPipeline.parsed]]
  *    (the relay's one ingest read: RFC 6587 de-framing, then parse) →
  *    REAL spool files via `spoolDirQuery` — listener → parse →
  *    envelope → gzip spool, the reference's full relay loop.
  *  - `gelf_reassembly`: a parquet stream of binary chunk datagrams →
  *    [[graft.streaming.GelfChunkStream]] keyed-state reassembly →
  *    `parseGelfLines` → noop sink — the stateful path, without the
  *    ingest read.
  *
  * Harness: input is rendered to files UP FRONT (setup, untimed — the
  * reference harness also parses pre-rendered lines); each pipeline
  * runs `Passes` times with a fresh checkpoint + output dir per pass
  * (AvailableNow reprocesses everything), reporting the min like
  * Bench. Prints ONE JSON line; also written to
  * SPARK_GRAFT_STREAMBENCH_OUT (default streambench.json).
  *
  *   sbt "runMain graft.tools.StreamBench [sfDir]"
  */
object StreamBench {

  val Passes = 3

  // -------------------------------------------------------------------
  // Soak mode (VERDICT r14 #2): the "state bounded by the model, runs
  // forever" claims for the stateful streams rest on 2-3 micro-batch
  // specs; this drives a few hundred micro-batches through each and
  // records the state store's rows/bytes PER BATCH. Flat late-half
  // curves = the claim measured, not asserted:
  //  - gelf_reassembly: every batch ships complete 2-chunk messages
  //    plus deliberate stragglers (one chunk only, never completed)
  //    with event time advancing per batch — completion evicts the
  //    finished ids immediately and the 5 s watermark timeout evicts
  //    the stragglers, so state stays at one batch's in-flight size
  //    no matter how many batches run;
  //  - minhash_admission: doc batches cycle a FIXED distinct-text
  //    pool (new doc_ids, repeated content — the dedup stream's
  //    steady state); bucket state saturates at pool×bands rows and
  //    stops growing, because duplicate content claims no new bucket;
  //  - semantic_admission: vector batches cycle the embedding pool;
  //    keeper state saturates at ≤ cap×K triples (the MODEL bound);
  //  - curation_admission (#155): doc batches cycle the same fixed
  //    text pool through the COMPOSED gate stream (quality → exact +
  //    LSH buckets in one stateful op, stateless bloom probe); bucket
  //    state saturates at pool×(bands+1) rows — repeated content
  //    claims nothing new in either key space;
  //  - classifier_admission (#184) / wordpiece_admission (#192):
  //    STATELESS frozen-model scorers — the model-bound claim is
  //    zero state rows, so the measurement is the flat-ZERO curve
  //    with the full scoring plan run per batch;
  //  - media_hash_ingest (#188) / media_pipeline_admission (#193):
  //    asset batches cycle the fixed content pool; each distinct
  //    content claims ≤ 4 band buckets (#188, aHash) or ≤ 8 (#193,
  //    the round-20 dual-modality gate: 4 aHash + 4 gHash) on first
  //    sight and repeats claim nothing, so state saturates at the
  //    pool's distinct-bucket count — the per-admitted-asset
  //    band-row bound a 100 TB ingest lives on; both run the
  //    production per-batch verdict collapse (the composed gate also
  //    pays decode/histogram on survivors).
  //
  //   sbt "runMain graft.tools.StreamBench soak [sfDir] [nBatches]"
  // -------------------------------------------------------------------

  private case class SoakPoint(batch: Long, stateRows: Long, stateBytes: Long)

  /** Drive `n` micro-batches via add(); sample state metrics from the
    * query progress after each. `requireState = false` admits
    * stateless streams (frozen-model scorers whose measured bound IS
    * zero state rows — the flat-zero curve is the evidence). */
  private def soakRun(q: org.apache.spark.sql.streaming.StreamingQuery,
                      n: Int, add: Int => Unit,
                      requireState: Boolean = true): Seq[SoakPoint] = {
    val out = Seq.newBuilder[SoakPoint]
    var lastBatch = -1L
    (0 until n).foreach { i =>
      add(i)
      q.processAllAvailable()
      // recentProgress may include no-data entries; take the newest
      // progress that has a state operator and advances the batch id
      q.recentProgress.reverseIterator
        .find(p => (p.stateOperators.nonEmpty || !requireState) &&
          p.batchId > lastBatch)
        .foreach { p =>
          lastBatch = p.batchId
          out += SoakPoint(p.batchId,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
        }
    }
    out.result()
  }

  private def soakSummary(name: String, pts: Seq[SoakPoint]): String = {
    if (pts.isEmpty) {
      // a stream that never reported stateful progress must not crash
      // the whole soak after the other legs already ran — surface it
      // as an explicit failure row instead
      println(s"[soak] $name: NO stateful progress points collected")
      return s""""$name":{"batches":0,"late_half_rows_flat":false}"""
    }
    val late = pts.drop(pts.length / 2)
    val flatRows = late.map(_.stateRows).distinct.length == 1
    val s =
      s""""$name":{"batches":${pts.length},""" +
        s""""rows_first":${pts.head.stateRows},"rows_mid":${pts(pts.length / 2).stateRows},""" +
        s""""rows_last":${pts.last.stateRows},"rows_max":${pts.map(_.stateRows).max},""" +
        s""""bytes_last":${pts.last.stateBytes},"bytes_max":${pts.map(_.stateBytes).max},""" +
        s""""late_half_rows_flat":$flatRows}"""
    println(s"[soak] $name: ${pts.length} batches, rows " +
      s"first=${pts.head.stateRows} mid=${pts(pts.length / 2).stateRows} " +
      s"last=${pts.last.stateRows} max=${pts.map(_.stateRows).max}, " +
      s"bytes last=${pts.last.stateBytes} max=${pts.map(_.stateBytes).max}, " +
      s"lateHalfFlat=$flatRows")
    s
  }

  /** Every soak leg name, in output order — the leg-subset argument
    * validates against this list so a typo fails loudly BEFORE any
    * leg runs (and before the output file is overwritten), instead of
    * silently disabling every leg and clobbering the previous
    * artifact with an empty streams object (r19 ADVICE). */
  val SoakLegs: Seq[String] = Seq(
    "gelf_reassembly", "minhash_admission", "semantic_admission",
    "curation_admission", "classifier_admission", "wordpiece_admission",
    "media_hash_ingest", "media_pipeline_admission", "crawl_admission",
    "crawl_quota", "crawl_epoch_quota")

  def soak(spark: SparkSession, sfDir: String, nBatches: Int,
           legs: Option[Set[String]] = None): Unit = {
    // optional leg subset: the 1000-batch stretch runs ONLY the two
    // bucket-state gates without paying 10 legs x 10x batches
    legs.foreach { ls =>
      val unknown = ls -- SoakLegs.toSet
      require(unknown.isEmpty,
        s"soak: unknown leg name(s) ${unknown.toSeq.sorted.mkString(", ")} — " +
          s"known legs: ${SoakLegs.mkString(", ")}")
    }
    def want(n: String): Boolean = legs.forall(_.contains(n))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{GelfChunkStream, MinhashStream, SemanticStream}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    // ---- gelf chunk reassembly: completion + watermark eviction ------
    val gelfPts = if (!want("gelf_reassembly")) Seq.empty[SoakPoint] else {
      val input = MemoryStream[GelfChunkStream.Chunk]
      val q = GelfChunkStream.assemble(input.toDS()).writeStream
        .format("noop").outputMode("append").start()
      val MsgsPerBatch = 100
      val Stragglers = 5
      try soakRun(q, nBatches, { i =>
        val ts = new java.sql.Timestamp((1000000L + i * 10) * 1000L)
        val base = i.toLong * 1000000L
        val complete = (0 until MsgsPerBatch).flatMap { j =>
          val body = s"""{"version":"1.1","host":"h$j","short_message":"b$i m$j"}"""
          val half = body.length / 2
          Seq(
            GelfChunkStream.Chunk(base + j, 0, 2,
              body.substring(0, half).getBytes("UTF-8"), ts),
            GelfChunkStream.Chunk(base + j, 1, 2,
              body.substring(half).getBytes("UTF-8"), ts))
        }
        val stragglers = (0 until Stragglers).map { j =>
          GelfChunkStream.Chunk(base + 500000L + j, 0, 2,
            "never-completed".getBytes("UTF-8"), ts)
        }
        input.addData(complete ++ stragglers)
        ()
      }) finally q.stop()
    }

    // ---- minhash admission: fixed content pool, fresh doc ids --------
    val minhashPts = if (!want("minhash_admission")) Seq.empty[SoakPoint] else {
      val pool = graft.Tables.load(spark, sfDir, "documents")
        .select("text").limit(500).as[String].collect()
      val input = MemoryStream[(Long, String)]
      val q = MinhashStream.bandObservations(
          input.toDS().toDF("doc_id", "text")).writeStream
        .format("noop").outputMode("append").start()
      val DocsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * DocsPerBatch
        input.addData((0 until DocsPerBatch).map(j =>
          (base + j, pool(((base + j) % pool.length).toInt))))
        ()
      }) finally q.stop()
    }

    // ---- semantic admission: fixed embedding pool, fresh vec ids -----
    val semPts = if (!want("semantic_admission")) Seq.empty[SoakPoint] else {
      val pool = graft.Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding").limit(500)
        .as[(Long, Array[Float])].collect()
      val cents = SemanticStream.frozenCentroids(spark, sfDir)
      val input = MemoryStream[(Long, Array[Float])]
      val q = SemanticStream.admissions(
          input.toDS().toDF("vec_id", "embedding"), cents).writeStream
        .format("noop").outputMode("append").start()
      val VecsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * VecsPerBatch
        input.addData((0 until VecsPerBatch).map { j =>
          val (_, emb) = pool(((base + j) % pool.length).toInt)
          (1000000L + base + j, emb)
        })
        ()
      }) finally q.stop()
    }

    // ---- composed curation admission: fixed text pool, fresh ids ----
    val curPts = if (!want("curation_admission")) Seq.empty[SoakPoint] else {
      val pool = graft.Tables.load(spark, sfDir, "documents")
        .select("text").limit(500).as[String].collect()
      val bits = graft.streaming.CurationStream.evalBloomBits(spark, sfDir)
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.CurationStream.observations(
          graft.streaming.CurationStream.gateRows(
            input.toDS().toDF("doc_id", "text"), bits)).writeStream
        .format("noop").outputMode("append").start()
      val DocsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * DocsPerBatch
        input.addData((0 until DocsPerBatch).map(j =>
          (base + j, pool(((base + j) % pool.length).toInt))))
        ()
      }) finally q.stop()
    }

    // ---- classifier admission (#184): STATELESS frozen-model scorer —
    // the measured bound is zero state rows; the flat-zero 120-batch
    // curve is that claim measured, with the full scoring plan
    // (explode → model join → per-doc aggregate) run every batch
    val clfPts = if (!want("classifier_admission")) Seq.empty[SoakPoint] else {
      val pool = graft.Tables.load(spark, sfDir, "documents")
        .select("text", "source").limit(500)
        .as[(String, String)].collect()
      val m = graft.streaming.ClassifierStream.frozenModel(spark, sfDir)
      val input = MemoryStream[(Long, String, String)]
      val q = input.toDS().toDF("doc_id", "text", "source").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.ClassifierStream.scoreBatch(b, m)
            .write.format("noop").mode("overwrite").save()
        }
        .start()
      val DocsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * DocsPerBatch
        input.addData((0 until DocsPerBatch).map { j =>
          val (text, src) = pool(((base + j) % pool.length).toInt)
          (base + j, text, src)
        })
        ()
      }, requireState = false) finally q.stop()
    }

    // ---- wordpiece admission (#192): STATELESS frozen-inventory
    // scorer — same zero-state claim, measured over the linear
    // word-type march every batch
    val wpPts = if (!want("wordpiece_admission")) Seq.empty[SoakPoint] else {
      val pool = graft.Tables.load(spark, sfDir, "documents")
        .select("text").limit(500).as[String].collect()
      val (inv, maxL) =
        graft.operators.Wordpiece.frozenInventory(spark, sfDir)
      val input = MemoryStream[(Long, String)]
      val q = input.toDS().toDF("doc_id", "text").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.WordpieceStream.scoreBatch(b, inv, maxL)
            .write.format("noop").mode("overwrite").save()
        }
        .start()
      val DocsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * DocsPerBatch
        input.addData((0 until DocsPerBatch).map(j =>
          (base + j, pool(((base + j) % pool.length).toInt))))
        ()
      }, requireState = false) finally q.stop()
    }

    // ---- media-hash ingest (#188): fixed content pool, fresh asset
    // ids — each distinct content claims ≤ Bands buckets on first
    // sight, repeats claim nothing, so state saturates at the pool's
    // distinct-bucket count (≤ pool × Bands rows); the per-batch
    // verdict collapse runs so the soak is the production chain
    val mhPts = if (!want("media_hash_ingest")) Seq.empty[SoakPoint] else {
      val pool = graft.Tables.load(spark, sfDir, "documents")
        .select("text").limit(500).as[String].collect()
        .map(_.getBytes("UTF-8"))
      val input = MemoryStream[(Long, Array[Byte])]
      val q = graft.streaming.MediaHashStream.bandObservations(
          input.toDS().toDF("doc_id", "content")).writeStream
        .outputMode("append")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.MediaHashStream.BandObs],
           _: Long) =>
            graft.streaming.MediaHashStream.verdicts(b)
              .write.format("noop").mode("overwrite").save()
        }
        .start()
      val AssetsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * AssetsPerBatch
        input.addData((0 until AssetsPerBatch).map(j =>
          (base + j, pool(((base + j) % pool.length).toInt))))
        ()
      }) finally q.stop()
    }

    // ---- composed media admission (#193): same pool through the full
    // composed chain — dedup state + the stateless gate battery
    // (decode, aspect, histogram) on survivors, per batch
    val mpPts = if (!want("media_pipeline_admission")) Seq.empty[SoakPoint] else {
      val pool = graft.Tables.load(spark, sfDir, "documents")
        .select("text").limit(500).as[String].collect()
        .map(_.getBytes("UTF-8"))
      val input = MemoryStream[(Long, Array[Byte])]
      val q = graft.streaming.MediaPipelineStream.observations(
          input.toDS().toDF("doc_id", "content")).writeStream
        .outputMode("append")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.MediaPipelineStream.AssetObs],
           _: Long) =>
            graft.streaming.MediaPipelineStream.verdicts(b)
              .write.format("noop").mode("overwrite").save()
        }
        .start()
      val AssetsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * AssetsPerBatch
        input.addData((0 until AssetsPerBatch).map(j =>
          (base + j, pool(((base + j) % pool.length).toInt))))
        ()
      }) finally q.stop()
    }

    // ---- crawl-frontier admission (#200): first-claim URL state +
    // stateless rules/sized-bloom — fixed URL pool under fresh doc
    // ids, so state saturates at the pool's distinct canonical count
    val crawlPts = if (!want("crawl_admission")) Seq.empty[SoakPoint] else {
      val pool = graft.Tables.load(spark, sfDir, "documents")
        .limit(500)
        .select(expr(graft.operators.Url.crawlSynthSql("spark")).as("url"))
        .as[String].collect()
      val hb = graft.streaming.CrawlStream.historyBloom(spark, sfDir)
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.CrawlStream.observations(
          graft.streaming.CrawlStream.arrivals(
            input.toDS().toDF("doc_id", "url"))).writeStream
        .outputMode("append")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.CrawlStream.UrlObs],
           _: Long) =>
            graft.streaming.CrawlStream.verdicts(b, hb)
              .write.format("noop").mode("overwrite").save()
        }
        .start()
      val UrlsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * UrlsPerBatch
        input.addData((0 until UrlsPerBatch).map(j =>
          (base + j, pool(((base + j) % pool.length).toInt))))
        ()
      }) finally q.stop()
    }

    // ---- per-domain quota gate (#204): state = ONE long per domain —
    // fresh admitted verdict rows every batch over a FIXED 20-domain
    // pool, so state saturates at 20 rows immediately and the curve
    // must stay flat while counters only increment in place
    val quotaPts = if (!want("crawl_quota")) Seq.empty[SoakPoint] else {
      val NDomains = 20
      val input = MemoryStream[(Long, String, String, String, String,
        Option[Long], Long)]
      val q = graft.streaming.CrawlStream.quotaVerdicts(
          input.toDS().toDF("doc_id", "canon_url", "host", "domain",
            "verdict", "dup_of", "batch_id")
            .as[graft.streaming.CrawlStream.VerdictRow],
          quota = Long.MaxValue).writeStream
        .outputMode("append")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.CrawlStream.VerdictRow],
           _: Long) =>
            b.toDF().write.format("noop").mode("overwrite").save()
        }
        .start()
      val UrlsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * UrlsPerBatch
        input.addData((0 until UrlsPerBatch).map { j =>
          val id = base + j
          val dom = s"dom${id % NDomains}"
          (id, s"https://$dom.example.com/p$id", s"$dom.example.com",
            dom, "admitted", None: Option[Long], i.toLong)
        })
        ()
      }) finally q.stop()
    }

    // ---- epoch-windowed quota gate (#210): state = one long per
    // (domain, ACTIVE window) — every batch opens a fresh politeness
    // epoch over the FIXED 20-domain pool and the event-time timeout
    // evicts a window once the watermark passes its end; the +1 s
    // arrival offset puts each batch's watermark one second PAST the
    // previous window's end, so the no-data follow-up batch evicts it
    // in the same drain and the curve saturates at domains × 1 live
    // window (measured: flat at 20 rows for 120 batches) — the
    // never-grows claim of the #210 politeness-true counter lifetime
    val epochPts = if (!want("crawl_epoch_quota")) Seq.empty[SoakPoint] else {
      val NDomains = 20
      val EpochSecs = 50L
      val input = MemoryStream[(Long, String, String, String, String,
        Option[Long], Long, java.sql.Timestamp)]
      val q = graft.streaming.CrawlStream.quotaVerdictsEpoch(
          input.toDS().toDF("doc_id", "canon_url", "host", "domain",
            "verdict", "dup_of", "batch_id", "arrival_ts")
            .as[graft.streaming.CrawlStream.TimedVerdictRow],
          quota = Long.MaxValue, epochSecs = EpochSecs).writeStream
        .outputMode("append")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.CrawlStream.EpochVerdict],
           _: Long) =>
            b.toDF().write.format("noop").mode("overwrite").save()
        }
        .start()
      val UrlsPerBatch = 100
      try soakRun(q, nBatches, { i =>
        val base = i.toLong * UrlsPerBatch
        // +1 s: batch 0 must sit above the initial zero watermark
        // (the operator drops rows at/below it)
        val ts = new java.sql.Timestamp((i.toLong * EpochSecs + 1) * 1000L)
        input.addData((0 until UrlsPerBatch).map { j =>
          val id = base + j
          val dom = s"dom${id % NDomains}"
          (id, s"https://$dom.example.com/p$id", s"$dom.example.com",
            dom, "admitted", None: Option[Long], i.toLong, ts)
        })
        ()
      }) finally q.stop()
    }

    val json = "{\"metric\":\"stream_soak\",\"streams\":{" +
      Seq("gelf_reassembly" -> gelfPts,
        "minhash_admission" -> minhashPts,
        "semantic_admission" -> semPts,
        "curation_admission" -> curPts,
        "classifier_admission" -> clfPts,
        "wordpiece_admission" -> wpPts,
        "media_hash_ingest" -> mhPts,
        "media_pipeline_admission" -> mpPts,
        "crawl_admission" -> crawlPts,
        "crawl_quota" -> quotaPts,
        "crawl_epoch_quota" -> epochPts)
        .filter(l => want(l._1))
        .map(l => soakSummary(l._1, l._2)).mkString(",") +
      s"},\"sf\":\"$sfDir\"}"
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "soak.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
  }

  private def freshDir(root: File, name: String): File = {
    val d = new File(root, s"$name-${UUID.randomUUID().toString.take(8)}")
    d.mkdirs()
    d
  }

  private def timePasses(run: () => Unit): Double =
    (1 to Passes).map { _ =>
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("soak")) {
      val spark = GraftSession.create()
      soak(spark,
        args.lift(1).getOrElse(
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")),
        args.lift(2).map(_.toInt).getOrElse(300),
        args.lift(3).map(_.split(",").toSet))
      spark.stop()
      return
    }
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.create()
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-streambench-${spark.sparkContext.applicationId}")
    root.mkdirs()

    // ---- setup (untimed): render inputs to files ---------------------
    // 256 distinct sources: the realistic relay shape (the reference
    // baseline measures ONE stream; one host per event would make the
    // run measure spool FILE CREATION — one gzip per (host, task) —
    // instead of the pipeline)
    // ×4 the rendered lines: a single AvailableNow run carries ~1 s of
    // fixed planning/checkpoint overhead, so the measured rate should
    // amortize it over enough rows to reflect the pipeline
    val syslogIn = freshDir(root, "syslog-in")
    val lines = graft.operators.Syslog.rawLines(spark, sfDir, hostMod = 256)
      .select("value")
    lines.unionAll(lines).unionAll(lines).unionAll(lines)
      .repartition(16)
      .write.mode("overwrite").text(syslogIn.getAbsolutePath)
    val nSyslog = spark.read.text(syslogIn.getAbsolutePath).count()

    val gelfIn = freshDir(root, "gelf-in")
    chunkDatagrams(spark, sfDir)
      .repartition(16)
      .write.mode("overwrite").parquet(gelfIn.getAbsolutePath)
    val nMessages = spark.read.parquet(gelfIn.getAbsolutePath)
      .select("id").distinct().count()
    val dgramSchema = new org.apache.spark.sql.types.StructType()
      .add("datagram", org.apache.spark.sql.types.BinaryType)
      .add("event_time", org.apache.spark.sql.types.TimestampType)

    // ---- syslog relay loop: listener → parse → spool files -----------
    // repartition by stream before the sink (the SpoolWriter contract:
    // one writer per stream → per-stream file locality, file count
    // bounded by streams, not streams × tasks)
    val syslogSec = timePasses { () =>
      val spool = freshDir(root, "spool")
      val cp = freshDir(root, "cp-syslog")
      val q = graft.streaming.SyslogPipeline.spoolDirQuery(
        graft.streaming.SyslogPipeline.parsed(
            spark, syslogIn.getAbsolutePath, gelf = false)
          .repartition(col("hostname")),
        spool.getAbsolutePath, cp.getAbsolutePath)
      q.awaitTermination(600000)
      ()
    }

    // ---- chunked GELF: keyed-state reassembly + parse ----------------
    val gelfSec = timePasses { () =>
      val cp = freshDir(root, "cp-gelf")
      val dgrams = spark.readStream.schema(dgramSchema)
        .option("maxFilesPerTrigger", 16).parquet(gelfIn.getAbsolutePath)
      val q = graft.streaming.SyslogPipeline.parseGelfLines(
          graft.streaming.GelfChunkStream.assembleDatagrams(dgrams)
            .toDF().select(col("message").as("value"), col("received")),
          col("received"))
        .writeStream
        .format("noop")
        .option("checkpointLocation", cp.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(600000)
      ()
    }

    // ---- semantic admission: frozen-centroid stateful dedup (#149) ---
    // ×32 shifted copies so the pass amortizes fixed overhead; every
    // copy is an exact twin, so the keeper gates fire on ~31/32 of
    // arrivals — the admission path's worst case, not its best
    val semIn = freshDir(root, "sem-in")
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    (0 until 32).map(i => emb.withColumn("vec_id",
        col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .repartition(16)
      .write.mode("overwrite").parquet(semIn.getAbsolutePath)
    val nVec = spark.read.parquet(semIn.getAbsolutePath).count()
    val semSchema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("embedding", "array<float>")
    val cents = graft.streaming.SemanticStream.frozenCentroids(spark, sfDir)
    val semSec = timePasses { () =>
      val cp = freshDir(root, "cp-sem")
      val q = graft.streaming.SemanticStream.admissions(
          spark.readStream.schema(semSchema)
            .parquet(semIn.getAbsolutePath), cents)
        .writeStream
        .format("noop")
        .option("checkpointLocation", cp.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(600000)
      ()
    }

    // ---- composed curation admission (#155): N twin generations ----
    // every copy past the first is an exact twin, so the exact gate
    // rejects ~(N-1)/N of arrivals — the composed stream's worst case
    // (every gate row still hashes, signs and probes), not its best.
    // SPARK_GRAFT_STREAM_COPIES widens the decade for scale sweeps
    // (default 32 keeps round-over-round numbers comparable)
    val copies = sys.env.getOrElse("SPARK_GRAFT_STREAM_COPIES", "32").toInt
    val curIn = freshDir(root, "cur-in")
    val docsDf = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    (0 until copies).map(i => docsDf.withColumn("doc_id",
        col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .repartition(16)
      .write.mode("overwrite").parquet(curIn.getAbsolutePath)
    val nDocs = spark.read.parquet(curIn.getAbsolutePath).count()
    val curSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val curBits = graft.streaming.CurationStream.evalBloomBits(spark, sfDir)
    val curSec = timePasses { () =>
      val cp = freshDir(root, "cp-cur")
      val curOut = freshDir(root, "cur-out")
      val q = graft.streaming.CurationStream.admissionQuery(spark,
        curIn.getAbsolutePath, curSchema, cp.getAbsolutePath,
        curOut.getAbsolutePath, curBits)
      q.awaitTermination(600000)
      ()
    }

    // ---- ANN serving (#175): OOD query vectors vs the prebuilt index
    // 256 requests per drop under fresh ids (the serving case — the
    // arrivals are requests, not corpus members); the index build is
    // paid once by the first pass's ensure, so min-of-passes reports
    // the steady-state serving wall a deployment sees
    val annIn = freshDir(root, "ann-in")
    graft.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
      .filter(col("vec_id") < 256)
      .withColumn("vec_id", col("vec_id") + lit(5000000L))
      .coalesce(1).write.mode("overwrite").parquet(annIn.getAbsolutePath)
    val nQueries = spark.read.parquet(annIn.getAbsolutePath).count()
    val annSchema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("embedding", "array<float>")
    val annSec = timePasses { () =>
      val cp = freshDir(root, "cp-ann")
      val ao = freshDir(root, "ann-out")
      val q = graft.streaming.AnnStream.serveQuery(spark,
        annIn.getAbsolutePath, annSchema, sfDir, ao.getAbsolutePath,
        cp.getAbsolutePath)
      q.awaitTermination(600000)
      ()
    }

    // ---- classifier admission (#184): frozen-NB stateless scoring ----
    // the same ×copies corpus as the curation leg; scoring is
    // stateless, so the leg measures the per-doc cost of explode +
    // model join + per-doc aggregate at admission time
    val clsIn = freshDir(root, "cls-in")
    val clsSrc = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    (0 until copies).map(i => clsSrc.withColumn("doc_id",
        col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .repartition(16)
      .write.mode("overwrite").parquet(clsIn.getAbsolutePath)
    val nCls = spark.read.parquet(clsIn.getAbsolutePath).count()
    val clsSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add("source", "string")
    val clsSec = timePasses { () =>
      val cp = freshDir(root, "cp-cls")
      val co = freshDir(root, "cls-out")
      val q = graft.streaming.ClassifierStream.scoreQuery(spark,
        clsIn.getAbsolutePath, clsSchema, sfDir, co.getAbsolutePath,
        cp.getAbsolutePath)
      q.awaitTermination(600000)
      ()
    }

    // ---- media ingest gate (#188): in-row aHash + claim-and-verify --
    // ×copies exact twins: ~(copies−1)/copies of arrivals reject at
    // Hamming 0 against first-generation owners — the ingest gate's
    // worst case (every asset still pays the full in-row fold)
    val mediaIn = freshDir(root, "media-in")
    val mediaSrc = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    (0 until copies).map(i => mediaSrc.withColumn("doc_id",
        col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .repartition(16)
      .write.mode("overwrite").parquet(mediaIn.getAbsolutePath)
    val nAssets = spark.read.parquet(mediaIn.getAbsolutePath).count()
    val mediaSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("content", "binary")
    val mediaSec = timePasses { () =>
      val cp = freshDir(root, "cp-media")
      val mo = freshDir(root, "media-out")
      val q = graft.streaming.MediaHashStream.dedupQuery(spark,
        mediaIn.getAbsolutePath, mediaSchema, cp.getAbsolutePath,
        mo.getAbsolutePath)
      q.awaitTermination(600000)
      ()
    }

    // ---- crawl-frontier admission (#200): ×copies re-discoveries --
    // every copy past the first re-sends the SAME url under a fresh
    // doc id, so ~(copies−1)/copies of arrivals reject at the URL
    // dedup state — the recrawl-storm worst case; survivors still pay
    // rules + the sized bloom probe in-row
    val crawlIn = freshDir(root, "crawl-in")
    val crawlSrc = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(graft.operators.Url.crawlSynthSql("spark")).as("url"))
    (0 until copies).map(i => crawlSrc.withColumn("doc_id",
        col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
      .repartition(16)
      .write.mode("overwrite").parquet(crawlIn.getAbsolutePath)
    val nUrls = spark.read.parquet(crawlIn.getAbsolutePath).count()
    val crawlSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("url", "string")
    val crawlBloom = graft.streaming.CrawlStream.historyBloom(spark, sfDir)
    val crawlSec = timePasses { () =>
      val cp = freshDir(root, "cp-crawl")
      val co = freshDir(root, "crawl-out")
      val q = graft.streaming.CrawlStream.admissionQuery(spark,
        crawlIn.getAbsolutePath, crawlSchema, crawlBloom,
        cp.getAbsolutePath, co.getAbsolutePath)
      q.awaitTermination(600000)
      ()
    }

    // ---- composed media admission (#193): dedup + gate battery ----
    // the same xcopies asset corpus; the delta over media_ingest is
    // the payload ride through the bucket shuffle plus the stateless
    // decode/aspect/histogram gates on non-dup survivors
    val mpipeSec = timePasses { () =>
      val cp = freshDir(root, "cp-mpipe")
      val mo = freshDir(root, "mpipe-out")
      val q = graft.streaming.MediaPipelineStream.admissionQuery(spark,
        mediaIn.getAbsolutePath, mediaSchema, cp.getAbsolutePath,
        mo.getAbsolutePath)
      q.awaitTermination(600000)
      ()
    }

    val syslogRate = (nSyslog / syslogSec).toLong
    val gelfRate = (nMessages / gelfSec).toLong
    val semRate = (nVec / semSec).toLong
    val curRate = (nDocs / curSec).toLong
    val annRate = (nQueries / annSec).toLong
    val clsRate = (nCls / clsSec).toLong
    val mediaRate = (nAssets / mediaSec).toLong
    val mpipeRate = (nAssets / mpipeSec).toLong
    val crawlRate = (nUrls / crawlSec).toLong
    val json =
      s"""{"metric":"stream_total","value":${syslogSec + gelfSec + semSec + curSec + annSec + clsSec + mediaSec + mpipeSec + crawlSec},"unit":"sec","streams":{""" +
        s""""syslog_spool":{"rows":$nSyslog,"sec":$syslogSec,"rows_per_sec":$syslogRate},""" +
        s""""gelf_reassembly":{"messages":$nMessages,"sec":$gelfSec,"msgs_per_sec":$gelfRate},""" +
        s""""semantic_admission":{"rows":$nVec,"sec":$semSec,"rows_per_sec":$semRate},""" +
        s""""curation_admission":{"rows":$nDocs,"sec":$curSec,"rows_per_sec":$curRate},""" +
        s""""classifier_admission":{"rows":$nCls,"sec":$clsSec,"rows_per_sec":$clsRate},""" +
        s""""media_ingest":{"assets":$nAssets,"sec":$mediaSec,"assets_per_sec":$mediaRate},""" +
        s""""media_pipeline_admission":{"assets":$nAssets,"sec":$mpipeSec,"assets_per_sec":$mpipeRate},""" +
        s""""crawl_admission":{"urls":$nUrls,"sec":$crawlSec,"urls_per_sec":$crawlRate},""" +
        s""""ann_serving":{"queries":$nQueries,"sec":$annSec,"queries_per_sec":$annRate}},""" +
        s""""sf":"$sfDir"}"""
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "streambench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(json) // last stdout line survives shutdown-log interleaving
    System.out.flush()
  }

  /** Chunked-GELF input: one GELF JSON document per event, split into
    * 2 chunks with real 12-byte binary headers (the same header
    * grammar as the #8 batch operator), plus the event time the
    * watermark advances on. Every message completes — the bench
    * measures reassembly throughput, not drop bookkeeping. */
  private[tools] def chunkDatagrams(spark: SparkSession, dir: String) = {
    val d = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_s"))
      .withColumn("body", format_string(
        "{\"version\":\"1.1\",\"host\":\"host-%d\",\"short_message\":\"ev %d\",\"timestamp\":%d}",
        col("user_id"), col("event_id"), col("ts_s")))
    d.select(col("event_id").as("id"), col("body"), col("ts_s"),
        explode(sequence(lit(0), lit(1))).as("seq"))
      .withColumn("half", (length(col("body")) / 2).cast("int"))
      .withColumn("payload",
        when(col("seq") === 0, col("body").substr(lit(1), col("half")))
          .otherwise(col("body").substr(col("half") + 1,
            length(col("body")) - col("half"))))
      .withColumn("hex",
        concat(lit("1E0F"),
          lpad(hex(col("id")), 16, "0"),
          lpad(hex(col("seq")), 2, "0"),
          lpad(hex(lit(2)), 2, "0")))
      .select(col("id"),
        concat(unhex(col("hex")), col("payload").cast("binary")).as("datagram"),
        timestamp_seconds(col("ts_s")).as("event_time"))
  }
}
