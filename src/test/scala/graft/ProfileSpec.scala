package graft

import org.apache.spark.sql.functions.col

import graft.tools.Profile

/** [[Profile]] attributes every job to the layer that submitted it and
  * leaves no listener behind. */
class ProfileSpec extends SparkSpec {

  /** Listeners on the context's bus (the accessor is Spark-internal). */
  private def listenerCount(): Int = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
  }

  private def jobs(r: Profile.Report, layer: String): Long = r.layers.map(_(layer).jobs).sum

  test("jobs split into build, plan and execute layers; the listener is removed") {
    // loaded once, outside the profile: a parquet load infers its
    // schema with a job, which would otherwise land in every build
    val orders = Tables.load(spark, sf, "orders")
    // Spark registers its own session listeners on first use
    orders.limit(1).collect()
    val before = listenerCount()
    val perCustomer = orders.groupBy("o_custkey").count()
    val pinned = Profile.run(spark, 2)(
      Checkpoints.pin(perCustomer).groupBy("count").count())
    val unpinned = Profile.run(spark, 2)(perCustomer.where(col("count") > 1))
    assert(listenerCount() === before)
    assert(jobs(pinned, "build") >= 1)
    assert(jobs(unpinned, "build") === 0L)
    for (r <- Seq(pinned, unpinned)) {
      assert(jobs(r, "execute") >= 1)
      assert(Profile.Layers.map(jobs(r, _)).sum === r.totalJobs)
      assert(r.seconds.length === 2)
      assert(r.hazards.exists(_.contains("exchanges=")), r.hazards)
    }
  }
}
