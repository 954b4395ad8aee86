package graft.operators

import graft.{Constants, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType}

/** RFC6587 stream de-framing (SURVEY §2 #9–11).
  *
  * The reference runs ONE framing automaton per TCP connection
  * (reference: kinesyslog/protocol.py:149-213): octet-counted when the
  * next byte is a digit (§3.4.1), skip bare terminators, otherwise
  * non-transparent terminator scan (§3.4.2, protocol.py:92-104).
  * Spark-first re-expression: the unit of parallelism is the
  * connection byte-stream as ONE row (blob); [[SyslogFrames]] unrolls
  * the automaton over the blob and returns the framed messages as an
  * array, which callers `posexplode`. De-framing is therefore a
  * map-only stage — no shuffle, perfectly partition-parallel at 100 TB
  * (one connection's stream never spans rows).
  *
  * Automaton semantics preserved exactly:
  *  - digit prefix + space + N bytes; N > 6144 → keep first 6144
  *    bytes, discard the rest (protocol.py:196-206, constant.py:5)
  *  - digits-then-space that fail integer parse → treated as a
  *    non-compliant line, terminator-framed (protocol.py:190-194)
  *  - terminator scan order is LF anywhere, else NUL anywhere, else CR
  *    anywhere (constant.py:TERMS; protocol.py:96-104) — note a CR
  *    inside an LF-terminated chunk stays inside the message
  *  - empty messages (consecutive terminators) are skipped
  *    (protocol.py:155-166: leading terminator bytes are consumed)
  *  - an incomplete trailing frame (missing bytes or no terminator) is
  *    dropped — in the relay it would wait for more data; on a bounded
  *    blob the stream is complete by construction
  *  - every emitted message is capped at `max` bytes, by default
  *    6144 (protocol.py:168); GELF ingest passes no cap, because a
  *    GELF chunk datagram may carry up to 8192 bytes
  */
object Framing {

  private val Lf: Byte = 0x0a
  private val Nul: Byte = 0x00
  private val Cr: Byte = 0x0d

  /** Pure automaton over a complete stream blob. */
  def frameStream(buf: Array[Byte],
                  max: Int = Constants.MaxMessageLength): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var pos = 0
    val n = buf.length

    def findTermFrom(p: Int): Int = {
      var lf = -1; var nul = -1; var cr = -1
      var i = p
      while (i < n && lf == -1) {
        val b = buf(i)
        if (b == Lf) lf = i
        else if (b == Nul && nul == -1) nul = i
        else if (b == Cr && cr == -1) cr = i
        i += 1
      }
      if (lf != -1) lf else if (nul != -1) nul else cr
    }

    var done = false
    while (pos < n && !done) {
      val b = buf(pos)
      if (b == Lf || b == Nul || b == Cr) {
        pos += 1 // bare terminator: consume
      } else if (b >= '0' && b <= '9') {
        // octet-counted candidate: digits up to the first space
        var sp = pos
        while (sp < n && buf(sp) != ' ') sp += 1
        if (sp >= n) done = true // no space yet: incomplete, wait
        else {
          val prefix = new String(buf, pos, sp - pos, "US-ASCII")
          val lenOpt = prefix.toIntOption
          lenOpt match {
            case None =>
              // noncompliant digit-start line → terminator framing
              val t = findTermFrom(pos)
              if (t == -1) done = true
              else {
                if (t > pos) out += buf.slice(pos, pos + math.min(t - pos, max))
                pos = t + 1
              }
            case Some(len0) =>
              // Long sums: an octet count near Int.MaxValue must not
              // overflow into a negative position
              val keep = math.min(len0, max)
              val start = sp + 1
              if (start.toLong + keep > n) {
                done = true // not enough bytes buffered for the message
              } else {
                if (keep > 0) out += buf.slice(start, start + keep)
                // a discard tail cut short by the blob's end: consume
                // what exists
                pos = math.min(start.toLong + len0, n.toLong).toInt
              }
          }
        }
      } else {
        val t = findTermFrom(pos)
        if (t == -1) done = true
        else {
          if (t > pos) out += buf.slice(pos, pos + math.min(t - pos, max))
          pos = t + 1
        }
      }
    }
    out.result()
  }

  /** [[frameStream]] boxed for Catalyst — shared by the interpreted
    * eval and the generated code. */
  def frameStreamData(buf: Array[Byte], max: Int): GenericArrayData =
    new GenericArrayData(frameStream(buf, max).toArray)

  /** Catalyst expression: BINARY blob → ARRAY<BINARY> of messages.
    * The automaton is iterative JVM code, but doGenCode keeps the
    * stage in whole-stage codegen as a static call (a CodegenFallback
    * here forced an InternalRow materialization + interpreted eval on
    * the relay's hottest map stage). */
  case class SyslogFrames(child: Expression,
                          max: Int = Constants.MaxMessageLength) extends UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      frameStreamData(v.asInstanceOf[Array[Byte]], max)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.operators.Framing$$.MODULE$$.frameStreamData($c, $max)")
    override protected def withNewChildInternal(c: Expression): SyslogFrames =
      copy(child = c)
  }

  def syslogFrames(c: Column, max: Int = Constants.MaxMessageLength): Column =
    org.apache.spark.sql.graft.Exprs.toColumn(
      SyslogFrames(org.apache.spark.sql.graft.Exprs.toExpression(c), max))

  /** GELF datagram framing dispatch (reference: protocol.py:221-261):
    * `{` → newline-framed JSON messages; zlib (0x78) / gzip (0x1f8b)
    * magic → the whole datagram decompresses to ONE message; bare
    * terminators skipped; anything else is a protocol error → empty.
    * In THIS context (a GELF datagram, never arbitrary text) an
    * uninflatable magic-led datagram is a protocol error, so the
    * decompress result must be non-null AND differ from the input —
    * equality means [[graft.functions.BinaryFunctions.autoDecompress]]
    * took its corpus-oriented pass-through fallback, which here is
    * the error arm (a real zlib/gzip stream never inflates to
    * itself). The decompress is bound ONCE per row through a
    * 1-element array (repeating the expression would inflate the
    * datagram once per reference — subexpression elimination is not
    * guaranteed inside conditional branches).
    * Composes the existing decompress expression with a LF split —
    * map-only, codegen'd except the decompress eval. */
  def gelfFrames(c: Column): Column = {
    import graft.functions.BinaryFunctions.decompress_auto
    val first = substring(c, 1, 1)
    val asStr = c.cast("string")
    when(first === lit(Array[Byte]('{')),
        filter(split(asStr, "[\\n\\x00\\r]"), m => length(m) > 0))
      .when(first === lit(Array(graft.Constants.ZlibMagic)) ||
            substring(c, 1, 2) === lit(graft.Constants.GzipMagic),
        transform(
          filter(array(decompress_auto(c)),
            d => d.isNotNull && d =!= c),
          d => d.cast("string")))
      .otherwise(array().cast("array<string>"))
  }

  // ---------------------------------------------------------------------
  // Queries. Streams are synthesized per user_id (one "connection" per
  // user): messages ordered by event_id, concatenated with the framing
  // under test. The oracle recomputes the expected per-message output
  // directly from the events ground truth.
  // ---------------------------------------------------------------------

  private val msg = format_string("<%d>%s id=%d",
    col("event_id") % 192, col("event_type"), col("event_id"))
  /** Every 97th message is padded past MAX_MESSAGE_LENGTH to exercise
    * the truncate+discard path. */
  private val paddedMsg = when(col("event_id") % 97 === 0,
    concat(msg, lit(" "), repeat(lit("x"), 7000))).otherwise(msg)

  private def orderedConcat(framed: Column): Column =
    array_join(
      transform(array_sort(collect_list(struct(col("event_id"), framed.as("f")))),
        x => x.getField("f")), "")

  /** #9 octet-counted stream per user → de-framed messages. */
  def frameOctet(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), paddedMsg.as("m"))
      .withColumn("frame", concat(length(col("m")).cast("string"), lit(" "), col("m")))
    val blobs = e.groupBy("user_id").agg(orderedConcat(col("frame")).as("blob"))
    blobs
      .select(col("user_id"),
        posexplode(syslogFrames(col("blob").cast("binary"))).as(Seq("seq", "b")))
      .select(col("user_id"), col("seq").cast("long").as("seq"),
        col("b").cast("string").as("message"))
      .orderBy("user_id", "seq")
  }

  val frameOctetSql: String =
    """WITH m AS (
      |  SELECT user_id, event_id,
      |    printf('<%d>%s id=%d', event_id % 192, event_type, event_id) AS base
      |  FROM events
      |)
      |SELECT user_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS seq,
      |  CASE WHEN event_id % 97 = 0
      |       THEN substr(base || ' ' || repeat('x', 7000), 1, 6144)
      |       ELSE base END AS message
      |FROM m
      |ORDER BY user_id, seq""".stripMargin

  /** #10 non-transparent (LF) stream per user; every 13th message is
    * followed by an extra empty line, which the automaton skips. */
  def frameLines(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), msg.as("m"))
      .withColumn("frame",
        concat(col("m"), lit("\n"),
          when(col("event_id") % 13 === 0, "\n").otherwise(lit(""))))
    val blobs = e.groupBy("user_id").agg(orderedConcat(col("frame")).as("blob"))
    blobs
      .select(col("user_id"),
        posexplode(syslogFrames(col("blob").cast("binary"))).as(Seq("seq", "b")))
      .select(col("user_id"), col("seq").cast("long").as("seq"),
        col("b").cast("string").as("message"))
      .orderBy("user_id", "seq")
  }

  val frameLinesSql: String =
    """SELECT user_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS seq,
      |  printf('<%d>%s id=%d', event_id % 192, event_type, event_id) AS message
      |FROM events
      |ORDER BY user_id, seq""".stripMargin

  /** #11 MIXED auto framing, oracle-checked: even event_ids arrive
    * octet-counted, odd ones LF-terminated, interleaved in the same
    * connection blob — the automaton's per-message auto-detection
    * (digit → octet-counted, else terminator, protocol.py:175-191)
    * must recover every message either way. The oracle is the same
    * ground-truth projection as #10: framing style never changes the
    * recovered payloads. */
  def frameMixed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), msg.as("m"))
      .withColumn("frame",
        when(col("event_id") % 2 === 0,
          concat(length(col("m")).cast("string"), lit(" "), col("m")))
          .otherwise(concat(col("m"), lit("\n"))))
    val blobs = e.groupBy("user_id").agg(orderedConcat(col("frame")).as("blob"))
    blobs
      .select(col("user_id"),
        posexplode(syslogFrames(col("blob").cast("binary"))).as(Seq("seq", "b")))
      .select(col("user_id"), col("seq").cast("long").as("seq"),
        col("b").cast("string").as("message"))
      .orderBy("user_id", "seq")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "frame_octet" -> frameOctet,
    "frame_lines" -> frameLines,
    "frame_mixed" -> frameMixed)

  val oracle: Map[String, String] = Map(
    "frame_octet" -> frameOctetSql,
    "frame_lines" -> frameLinesSql,
    "frame_mixed" -> frameLinesSql)
}
