package graft.streaming

import graft.operators.Sketch
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming twin of the log-bucket gap-quantile sketch (SURVEY §2
  * #121): per-(user, event_type) keyed state holds ONE row — the last
  * seen (event_id, ts_s) — and each micro-batch emits bucket-count
  * INCREMENTS for the gaps it completes, including the gap that spans
  * a batch boundary (the whole point of the state).
  *
  * The increments are the histogram's merge algebra made literal: the
  * batch histogram is the per-key SUM of any partition of the feed
  * into increments, so a consumer folds this stream by plain
  * `GROUP BY key, SUM(cnt)` and gets bit-identical buckets to the
  * batch operator on the same events — the restart-tested spec
  * asserts exactly that equality. Bucketing is the same integer
  * kernel ([[Sketch.gapBucketKey]]) the batch SQL algebra reduces to.
  *
  * Feed contract: per-user `event_id` is monotone across drops (an
  * append log, the same order the batch window sorts by); rows WITHIN
  * a micro-batch arrive unsorted and are sorted in the fold.
  *
  * Scale: state is 2 longs per (user, type) key — independent of
  * stream length — and each batch's output is bounded by the bucket
  * key space (≤ 16 rows per octave per type), not by its row count.
  */
object GapQuantileStream {

  case class Ev(event_id: Long, user_id: Long, event_type: String, ts_s: Long)
  case class GapState(lastEventId: Long, lastTs: Long)
  case class BucketInc(event_type: String, key: Long, est: Long, cnt: Long)

  def bucketIncrements(events: DataFrame): Dataset[BucketInc] = {
    import events.sparkSession.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_s"))
      .as[Ev]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[GapState, BucketInc](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((_, tpe), rows, state) =>
          val sorted = rows.toArray.sortBy(_.event_id)
          val counts = scala.collection.mutable.LongMap.empty[Long]
          var last: Option[GapState] =
            if (state.exists) Some(state.get) else None
          sorted.foreach { e =>
            last.foreach { st =>
              // same out-of-order guard as the batch operator
              // (Sketch.gapBucketsOf): a ts regression yields v < 1,
              // whose bin() is a garbage octave — drop the gap, still
              // advance the state, exactly like batch lag() does
              val v = e.ts_s - st.lastTs + 1
              if (v >= 1) {
                val key = Sketch.gapBucketKey(v)
                counts(key) = counts.getOrElse(key, 0L) + 1L
              }
            }
            last = Some(GapState(e.event_id, e.ts_s))
          }
          last.foreach(state.update)
          counts.iterator.map { case (k, c) =>
            BucketInc(tpe, k, Sketch.gapBucketEst(k), c)
          }
      }
  }

  /** File-based ingest: each parquet drop in `inputDir` is a feed
    * increment; each micro-batch's bucket increments are recorded
    * through [[Admission.batchLog]] (Update mode), which keeps a
    * replayed batch from double-counting an increment. */
  def gapQuery(spark: SparkSession, inputDir: String, schema: StructType,
               checkpointDir: String, outDir: String): StreamingQuery =
    Admission.batchLog(
      bucketIncrements(spark.readStream.schema(schema).parquet(inputDir)),
      checkpointDir, outDir, OutputMode.Update())(_.toDF())
}
