package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming SemDeDup admission (SURVEY §2 #149) — the streaming twin
  * of the batch `Similarity.dedupSemantic` (#148), following the
  * frozen-model pattern of #140 (SurprisalStream): the k-means
  * centroids are TRAINED ONCE in batch over a reference corpus (the
  * oracle-verified `kmeansCentroids`, a K-row table — collected and
  * shipped in the task closure like any broadcast model) and the
  * stream admits or rejects each arriving embedding against them.
  *
  * Keyed state is one cluster's KEEPER set: at most
  * [[Similarity.SemKeeperCap]] (vec_id, quantized-vector, norm)
  * triples per centroid (~256 × 520 B ≈ 133 KiB ceiling per cluster,
  * K clusters total — state is bounded by the MODEL size, never the
  * stream length, so the query runs forever at any rate). An arrival
  * is rejected iff it passes the batch operator's exact integer
  * cosine gate with an existing keeper of its cluster (`dup_of`
  * records which); otherwise it is admitted, and becomes a keeper
  * itself while the cluster has keeper room.
  *
  * Semantics vs the batch operator (the same kind of divergence
  * #82's MinhashStream documents): a stream cannot reorder history,
  * so arrival order replaces the batch's global keeper order —
  * within one micro-batch rows are processed in the batch operator's
  * (d2 DESC, vec_id) order, so a whole-corpus single-batch run is
  * deterministic and directly comparable. The stream verifies
  * against KEPT members only (greedy admission), while the batch
  * drops on ANY earlier gate-partner (dominance): dominance drops a
  * superset, so every batch-KEPT vector is stream-admitted when the
  * orders coincide — the containment SemanticStreamSpec asserts —
  * and within keeper coverage (a cluster's arrivals ≤ SemKeeperCap
  * admitted members) the stream-admitted set is pairwise
  * non-duplicate per cluster by construction. Once a cluster's
  * keeper set saturates, later admissions are no longer enrolled and
  * so cannot reject THEIR later duplicates — the same cap scoping as
  * the batch operator: at deployment the cluster count keeps cluster
  * size inside coverage, and the cap is the bounded-state fuse for
  * degenerate clusters, not the operating regime.
  */
object SemanticStream {

  final case class Keeper(vec_id: Long, q: Array[Long], nn: Long)
  final case class SemState(keepers: Array[Keeper])
  final case class VecRow(vec_id: Long, cid: Long, d2: Long,
                          q: Array[Long], nn: Long)
  final case class Verdict(vec_id: Long, cid: Long, admitted: Int,
                           dup_of: Option[Long])

  /** The #32/#148 shared gate on the integer quantization contract
    * (cos ≥ 0.35): numerology single-sourced in [[graft.Constants]]
    * so the stream can never diverge from the batch operators. */
  private def gate(a: Array[Long], na: Long, b: Array[Long], nb: Long): Boolean = {
    var dot = 0L
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    dot >= 0 && graft.Constants.CosGateNum * dot * dot >=
      graft.Constants.CosGateThr * na * nb
  }

  /** Train-once model load: the #48 centroids collected to the driver
    * — K rows (16 at test scale, config at deployment), bounded by
    * the model, never the corpus. */
  def frozenCentroids(spark: SparkSession, refDir: String): Array[Keeper] =
    Similarity.kmeansCentroids(spark, refDir)
      .select("cid", "cq", "cn").collect()
      .map(r => Keeper(r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_.vec_id)

  /** Per-row quantize + nearest-frozen-centroid assignment — pure
    * map, no shuffle, the centroid array rides the task closure. Ties
    * break on cid ascending, matching the batch min-struct. */
  def assigned(vecs: DataFrame, cents: Array[Keeper]): Dataset[VecRow] = {
    import vecs.sparkSession.implicits._
    vecs
      .select(col("vec_id"), expr(Similarity.QuantizeExprSql).as("q"))
      .as[(Long, Array[Long])]
      .map { case (id, q) =>
        var nn = 0L
        var i = 0
        while (i < q.length) { nn += q(i) * q(i); i += 1 }
        var bestCid = -1L
        var bestD2 = Long.MaxValue
        cents.foreach { c =>
          var dot = 0L
          var j = 0
          while (j < q.length) { dot += q(j) * c.q(j); j += 1 }
          val d2 = nn + c.nn - 2 * dot
          if (d2 < bestD2 || (d2 == bestD2 && c.vec_id < bestCid)) {
            bestD2 = d2
            bestCid = c.vec_id
          }
        }
        VecRow(id, bestCid, bestD2, q, nn)
      }
  }

  /** The stateful admission: per-cluster keeper state, gate against
    * keepers, admit-or-reject with provenance. */
  def admissions(vecs: DataFrame, cents: Array[Keeper]): Dataset[Verdict] = {
    import vecs.sparkSession.implicits._
    assigned(vecs, cents)
      .groupByKey(_.cid)
      .flatMapGroupsWithState[SemState, Verdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) { (cid, rows, state) =>
        // the batch operator's keeper order within the micro-batch:
        // farthest-from-centroid first, vec_id tiebreak
        val sorted = rows.toArray.sortBy(r => (-r.d2, r.vec_id))
        // buffer, not Array :+ — appending per admission copies the
        // whole keeper array each time (O(cap^2) allocations/cluster)
        val keepers = scala.collection.mutable.ArrayBuffer.empty[Keeper]
        if (state.exists) keepers ++= state.get.keepers
        val out = sorted.map { r =>
          keepers.find(k => gate(k.q, k.nn, r.q, r.nn)) match {
            case Some(k) => Verdict(r.vec_id, cid, 0, Some(k.vec_id))
            case None =>
              if (keepers.length < Similarity.SemKeeperCap)
                keepers += Keeper(r.vec_id, r.q, r.nn)
              Verdict(r.vec_id, cid, 1, None)
          }
        }
        state.update(SemState(keepers.toArray))
        out.iterator
      }
  }

  /** File-based ingest: embeddings parquet lands in `inputDir`, each
    * drain admits the increment against the frozen centroids from
    * `refDir`, verdicts append to `outDir` stamped with the batch id
    * (the admission record, like #82's). */
  def admissionQuery(spark: SparkSession, inputDir: String,
                     schema: StructType, checkpointDir: String,
                     outDir: String, refDir: String): StreamingQuery =
    Admission.batchLog(admissions(
      spark.readStream.schema(schema).parquet(inputDir),
      frozenCentroids(spark, refDir)),
      checkpointDir, outDir, OutputMode.Append())(_.toDF())
}
