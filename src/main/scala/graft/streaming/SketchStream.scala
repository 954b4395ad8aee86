package graft.streaming

import graft.functions.SketchFunctions
import graft.functions.TextFunctions.normText
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming twin of the KMV distinct sketch (SURVEY §2 #66): a
  * per-source running distinct-token estimate that folds each
  * micro-batch into keyed state and emits the refreshed estimate.
  *
  * State per key is the bounded min-k array — k longs, independent of
  * stream length — checkpointed by Structured Streaming, so estimates
  * survive restarts and the update rule is literally the same
  * [[SketchFunctions.addBounded]] the batch aggregate uses (merge of
  * a KMV with a batch of values IS the streaming fold; that algebra
  * being associative+idempotent is what makes the sketch
  * restart-safe).
  */
object SketchStream {

  case class TokHash(source: String, hv: Long)
  case class SketchState(mins: Array[Long])
  case class SketchUpdate(source: String, nKept: Int, kthMin: Long,
                          distinctEst: Long)

  def tokenHashes(docs: DataFrame): Dataset[TokHash] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("source"),
        explode(split(normText(col("text")), " ")).as("tok"))
      .select(col("source"), SketchFunctions.poly_hash(col("tok")).as("hv"))
      .as[TokHash]
  }

  /** Fold a micro-batch of hashes into the keyed sketch state. */
  def sketchUpdates(docs: DataFrame, k: Int): Dataset[SketchUpdate] = {
    import docs.sparkSession.implicits._
    tokenHashes(docs)
      .groupByKey(_.source)
      .mapGroupsWithState[SketchState, SketchUpdate](
        GroupStateTimeout.NoTimeout) { (source, rows, state) =>
        val set = new java.util.TreeSet[java.lang.Long]()
        if (state.exists) state.get.mins.foreach(v => set.add(v))
        rows.foreach(r => SketchFunctions.addBounded(set, r.hv, k))
        val mins = new Array[Long](set.size)
        val it = set.iterator()
        var i = 0
        while (it.hasNext) { mins(i) = it.next(); i += 1 }
        state.update(SketchState(mins))
        SketchUpdate(source, mins.length,
          if (mins.length >= k) mins(k - 1) else -1L,
          SketchFunctions.kmvEstimate(mins, k))
      }
  }

  /** File-based ingest: each parquet drop in `inputDir` is a feed
    * increment; refreshed per-source estimates are recorded through
    * [[Admission.batchLog]] in Update mode (the parquet sink cannot
    * write it): the latest batch_id per key wins. */
  def sketchQuery(spark: SparkSession, inputDir: String, schema: StructType,
                  k: Int, checkpointDir: String,
                  outDir: String): StreamingQuery =
    Admission.batchLog(
      sketchUpdates(spark.readStream.schema(schema).parquet(inputDir), k),
      checkpointDir, outDir, OutputMode.Update())(_.toDF())
}
