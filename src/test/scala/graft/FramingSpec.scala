package graft

import graft.operators.Framing.frameStream

/** Hand-computed fixtures for the RFC6587 framing automaton
  * (SURVEY §2 #9–11), including the mixed auto-dispatch path that has
  * no DuckDB analogue. */
class FramingSpec extends SparkSpec {

  private def frames(s: String): Vector[String] =
    frameStream(s.getBytes("UTF-8")).map(new String(_, "UTF-8"))

  test("octet-counted frames split on declared lengths") {
    assert(frames("5 hello5 world") === Vector("hello", "world"))
  }

  test("octet-counted message may contain terminators") {
    assert(frames("11 hello\nworld3 abc") === Vector("hello\nworld", "abc"))
  }

  test("non-transparent LF framing with empty-line skip") {
    assert(frames("x\n\n\ny\n") === Vector("x", "y"))
  }

  test("mixed auto dispatch: digit prefix vs terminator framing") {
    assert(frames("5 hello<1>plain line\n3 foo") ===
      Vector("hello", "<1>plain line", "foo"))
  }

  test("digit-start noncompliant line falls back to terminator framing") {
    assert(frames("12ab noise\n5 hello") === Vector("12ab noise", "hello"))
  }

  test("terminator preference: LF anywhere beats earlier NUL/CR") {
    // protocol.py:96-104 searches LF over the whole buffer first
    assert(frames("a\rb\nc\n") === Vector("a\rb", "c"))
  }

  test("NUL then CR framing when no LF exists") {
    assert(frames("a" + "\u0000" + "b\rc") === Vector("a", "b"))
  }

  test("overlength octet message truncates to 6144 and discards excess") {
    val big = "y" * 7000
    val out = frames(s"7000 ${big}5 after")
    assert(out.length === 2)
    assert(out(0) === "y" * 6144)
    assert(out(1) === "after")
  }

  test("uncapped framing (GELF ingest) keeps 7000-byte messages whole") {
    val big = "y" * 7000
    def uncapped(s: String): Vector[String] =
      frameStream(s.getBytes("UTF-8"), Int.MaxValue).map(new String(_, "UTF-8"))
    assert(uncapped(s"7000 ${big}5 after") === Vector(big, "after"))
    assert(uncapped(s"$big\nok\n") === Vector(big, "ok"))
  }

  test("an octet count near Int.MaxValue is an incomplete tail, capped or not") {
    val s = "5 hello2147483647 xyz"
    assert(frames(s) === Vector("hello"))
    assert(frameStream(s.getBytes("UTF-8"), Int.MaxValue)
      .map(new String(_, "UTF-8")) === Vector("hello"))
  }

  test("incomplete octet tail is dropped") {
    assert(frames("100 short") === Vector.empty)
    assert(frames("123") === Vector.empty)
  }

  test("unterminated trailing line is dropped") {
    assert(frames("a\nb") === Vector("a"))
  }

  test("long non-transparent message truncates to 6144") {
    val big = "z" * 7000
    assert(frames(s"$big\nok\n") === Vector("z" * 6144, "ok"))
  }

  test("gelf datagram dispatch: JSON newline-framed, compressed, garbage") {
    import graft.functions.BinaryFunctions.zlib_compress
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("""{"version":"1.1","short_message":"a"}""" + "\n" +
        """{"version":"1.1","short_message":"b"}""" + "\n")
      .toDF("s").withColumn("d", col("s").cast("binary"))
    val json = df.select(operators.Framing.gelfFrames(col("d"))).collect()
      .head.getSeq[String](0)
    assert(json.length === 2 && json.forall(_.contains("version")))

    val z = Seq("""{"version":"1.1"}""").toDF("s")
      .withColumn("d", zlib_compress(col("s").cast("binary")))
    val unz = z.select(operators.Framing.gelfFrames(col("d"))).collect()
      .head.getSeq[String](0)
    assert(unz === Seq("""{"version":"1.1"}"""))

    val bad = Seq("plain garbage").toDF("s").withColumn("d", col("s").cast("binary"))
    assert(bad.select(operators.Framing.gelfFrames(col("d"))).collect()
      .head.getSeq[String](0).isEmpty)
  }
}
