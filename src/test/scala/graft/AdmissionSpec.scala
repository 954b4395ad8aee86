package graft

import java.nio.file.{Files, Path}

import graft.streaming.Admission
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}

/** The first-writer claim kernel every streaming admission gate runs
  * on: in-batch arrival-order independence and never-re-claimed state,
  * through [[Admission.claimFirst]] directly; and the verdict-log
  * shell ([[Admission.batchLog]]): a replayed micro-batch leaves one
  * verdict row per doc, and a by-batch directory layout fails fast. */
class AdmissionSpec extends SparkSpec {

  private val docSchema = new StructType()
    .add("doc_id", "long").add("text", "string").add("source", "string")

  /** Drains two file drops of sf documents through `start`, then
    * deletes the last commit-log entry (and its checksum) and drains
    * again on the same checkpoint, which replays that batch under its
    * own id. Asserts the replay leaves the log's doc set as it was,
    * one row per doc, with a bigint `batch_id`; returns the doc count
    * fed and the count logged. */
  private def assertReplayOnce(name: String)(
      start: (String, String, String) => StreamingQuery): (Long, Long) = {
    import spark.implicits._
    val in = Files.createTempDirectory(s"graft_${name}_in")
    val out = Files.createTempDirectory(s"graft_${name}_out")
    val ckpt = Files.createTempDirectory(s"graft_${name}_ck")
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source").orderBy("doc_id").limit(120)
      .as[(Long, String, String)].collect().toSeq
    def drain(): Unit =
      assert(start(in.toString, out.toString, ckpt.toString)
        .awaitTermination(120000))
    def logged(): Seq[Long] =
      spark.read.parquet(out.toString).select("doc_id").as[Long].collect().toSeq
    val (first, second) = docs.splitAt(docs.length / 2)
    for (drop <- Seq(first, second)) {
      drop.toDF("doc_id", "text", "source").coalesce(1)
        .write.mode("append").parquet(in.toString)
      drain()
    }
    val before = logged()
    val commits = ckpt.resolve("commits")
    val last = Files.list(commits).toArray.map(_.asInstanceOf[Path]
      .getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    drain()
    val after = logged()
    assert(before.nonEmpty && before.distinct.size === before.size)
    assert(after.size === before.size,
      "the replayed batch must replace its verdict rows, not add to them")
    assert(after.sorted === before.sorted,
      "the replayed batch must replace its verdict rows, not add to them")
    assert(spark.read.parquet(out.toString).schema("batch_id").dataType ===
      LongType)
    (docs.length.toLong, after.size.toLong)
  }

  test("batchLog: a replayed stateful batch (minhash dedup) leaves one verdict per doc") {
    assertReplayOnce("replay_mh") { (in, out, ck) =>
      streaming.MinhashStream.dedupQuery(spark, in, docSchema, ck, out)
    }
  }

  test("batchLog: a replayed stateless batch (classifier scoring) leaves one verdict per doc") {
    val (fed, logged) = assertReplayOnce("replay_clf") { (in, out, ck) =>
      streaming.ClassifierStream.scoreQuery(spark, in, docSchema, sf, out, ck)
    }
    assert(logged === fed)
  }

  test("batchLog: an outDir holding batch_id= directories fails at start with the migration message") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_guard_in")
    val out = Files.createTempDirectory("graft_guard_out")
    val ckpt = Files.createTempDirectory("graft_guard_ck")
    Seq((1L, "alpha beta", "src0")).toDF("doc_id", "text", "source")
      .write.mode("append").parquet(in.toString)
    Seq((1L, 1)).toDF("doc_id", "admitted")
      .write.parquet(out.resolve("batch_id=0").toString)
    val e = intercept[IllegalArgumentException] {
      streaming.MinhashStream.dedupQuery(spark, in.toString, docSchema,
        ckpt.toString, out.toString).stop()
    }
    assert(e.getMessage.contains("batch_id=/batch= directories"))
    assert(e.getMessage.contains("migrate it once"))
  }

  test("claimFirst: smallest id claims whatever the arrival order; state is never re-claimed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val obs = Admission.claimFirst(input.toDS())(_._2, _._1, _._1) {
      (r, owner) => (r._1, r._2, owner)
    }
    val q = obs.writeStream.format("memory").queryName("claim_first_out")
      .outputMode("append").start()
    def owners(): Map[Long, (String, Long)] =
      spark.table("claim_first_out").as[(Long, String, Long)].collect()
        .map { case (id, k, o) => id -> ((k, o)) }.toMap
    def stateRows(): Long =
      q.recentProgress.filter(_.stateOperators.nonEmpty).last
        .stateOperators.map(_.numRowsTotal).sum
    try {
      // trigger 1: three rows on one key, the smallest id arriving
      // second — it claims, and every row reports it
      input.addData((5L, "a"), (3L, "a"), (9L, "a"))
      q.processAllAvailable()
      assert(owners() === Map(5L -> (("a", 3L)), 3L -> (("a", 3L)),
        9L -> (("a", 3L))))
      assert(stateRows() === 1L)
      // trigger 2: a smaller id on the claimed key reports the first
      // claimant; a new key is claimed by its own smallest id
      input.addData((1L, "a"), (8L, "b"), (4L, "b"))
      q.processAllAvailable()
      val all = owners()
      assert(all.size === 6)
      assert(all(1L) === (("a", 3L)))
      assert(all(8L) === (("b", 4L)))
      assert(all(4L) === (("b", 4L)))
      assert(stateRows() === 2L, "one state row per distinct key")
    } finally q.stop()
  }
}
