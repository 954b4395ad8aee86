package graft

import graft.streaming.Admission

/** The first-writer claim kernel every streaming admission gate runs
  * on: in-batch arrival-order independence and never-re-claimed state,
  * through [[Admission.claimFirst]] directly. */
class AdmissionSpec extends SparkSpec {

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
