package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: every graft entry point (Verify, Bench,
  * tests, user code) gets the same scale-oriented defaults.
  *
  * - `spark.sql.shuffle.partitions` sized to the local core count (on a
  *   real cluster this would be ~2-3× total cores; AQE coalesces down).
  * - AQE on: runtime broadcast conversion, skew-join splitting,
  *   partition coalescing — the mechanism that keeps the TPC-H-shaped
  *   joins scale-safe without hard `broadcast()` hints.
  * - `spark.sql.legacy.parquet.nanosAsLong`: the driver-generated
  *   `events` table is parquet TIMESTAMP(NANOS), which the vectorized
  *   reader otherwise rejects. Set once here at construction (it is a
  *   session-global flag — see Tables.events) so no operator needs to
  *   mutate config mid-session.
  * - UTC so timestamp→string formatting matches the DuckDB oracle.
  * - `spark.sql.artifact.isolation.enabled` off: every streaming query
  *   start clones the session, and with isolation on each clone gets
  *   its own executor class loader. Spark's codegen cache is keyed on
  *   (class loader, source), so every AvailableNow pass of the relay
  *   recompiled its generated classes and the JIT warmed them again
  *   from scratch (45 compilations per relay_burst burst). With it
  *   off the clones share one loader and a pass reuses the classes the
  *   first one compiled. graft adds no session artifacts (jars, files,
  *   archives), so isolation bought nothing. Spark reads the flag only
  *   when a session is created, hence here and not at run time.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions) // SQL functions + band-join rewrite
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")

  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
