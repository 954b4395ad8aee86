package graft

/** Protocol/sink limit constants, matching the reference's published
  * behavior (reference: kinesyslog/constant.py:1-20).
  *
  * These are semantic constants of the data model — message truncation
  * length, record/batch size caps — not tuning knobs. Operators take
  * them as defaulted parameters so specs can exercise the limits at
  * small scale.
  */
object Constants {
  /** Max supported message length; longer messages are truncated and
    * the excess discarded (constant.py:5). */
  val MaxMessageLength: Int = 1024 * 6

  /** Sink buffer flush interval (constant.py:12). */
  val FlushTime: Int = 60

  /** Max Firehose record size, post-compression (constant.py:14). */
  val MaxRecordSize: Int = 1024 * 1000

  /** Firehose put-record-batch caps (constant.py:16-17). */
  val MaxBatchCount: Int = 500
  val MaxBatchSize: Int = 1024 * 1024 * 4

  /** Framing magics (constant.py:6-11). */
  val ZlibMagic: Byte = 0x78.toByte
  val GzipMagic: Array[Byte] = Array(0x1f.toByte, 0x8b.toByte)
  val GelfMagic: Array[Byte] = Array(0x1e.toByte, 0x0f.toByte)

  /** Missing-PRI default: facility 1 (user), severity 5 (notice)
    * (reference: message.py:103-104). */
  val DefaultPri: Int = 13

  // --- shared embedding-similarity numerology (#32 contract) -----------
  // One definition for every consumer — batch operators (Dedup,
  // Similarity), their DuckDB oracles, and the streaming admission
  // twin — so neither the quantization scale nor the cosine threshold
  // can drift between engines or between batch and stream.

  /** Integer quantization scale: q = ⌊QuantizeScale·x⌋ per component. */
  val QuantizeScale: Long = 1000L

  /** Spark + DuckDB spellings of the SAME quantization expression. */
  val QuantizeExprSql: String =
    s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QuantizeScale) AS BIGINT))"
  val QuantizeDuckSql: String =
    s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QuantizeScale) AS BIGINT))"

  /** #32 cosine gate: cos ≥ 0.35 ⟺ dot ≥ 0 ∧ CosGateNum·dot² ≥
    * CosGateThr·na·nb (0.35² = 49/400 exactly — all-integer, bit-exact
    * in both engines; overflow headroom proven in Dedup's scaladoc). */
  val CosGateNum: Long = 400L
  val CosGateThr: Long = 49L
}
