package graft

import java.io.File
import java.net.Socket
import java.nio.file.Files

import graft.streaming.Admission
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Repeated AvailableNow passes reuse the generated code of the first:
  * the per-query session clones share one executor class loader (the
  * codegen cache is keyed on loader and source), and no per-batch
  * value reaches the generated source as a literal. A pass that
  * compiles again shows as growth of Spark's codegen compilation
  * count while it runs. */
class CompileOnceSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Codegen compilations made while `body` ran. */
  private def compiled(body: => Unit): Long = {
    val c0 = compiles
    body
    compiles - c0
  }

  test("relay: the third drainOnce pass over fresh TCP traffic compiles no generated code") {
    import TlsTestSupport.freePort
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-compile-once-${spark.sparkContext.applicationId}")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    val spoolDir = new File(root, "spool")
    val config = RelayConfig(tcpPorts = Seq(freePort()), tlsPorts = Seq(0),
      spoolDir = spoolDir.getAbsolutePath, maxBatchCount = 3)
    val relay = new tools.RelayMain.Relay(spark, config,
      tools.RelayMain.RelayDirs(root.getAbsolutePath),
      new streaming.FilesystemTransport(new File(root, "delivered").getAbsolutePath))
    val ingest = new File(relay.tcpListeners.head._3)
    relay.start()
    /** Sends pass `i`'s messages on a new connection, waits until the
      * listener has published its file, and returns the compilations
      * of one drain pass. */
    def pass(i: Int): Long = {
      val msgs = (1 to 12).map { j =>
        if (j % 2 == 0) s"<13>Feb  5 17:32:${10 + j} host-${j % 3} pass $i id $j"
        else s"<14>1 2024-01-05T10:00:${10 + j}Z host-${j % 3} app - - - pass $i id $j"
      }
      val s = new Socket("127.0.0.1", relay.boundPorts("tcp").head)
      try s.getOutputStream.write(msgs.map(_ + "\n").mkString.getBytes("UTF-8"))
      finally s.close()
      val deadline = System.currentTimeMillis() + 15000
      def published = Option(ingest.list()).getOrElse(Array.empty[String])
        .count(_.endsWith(".dat"))
      while (published < i && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(published === i)
      compiled(relay.drainOnce())
    }
    try {
      pass(1)
      pass(2)
      assert(pass(3) === 0L, "a warm drain pass must reuse the compiled classes")
      // every pass landed and shipped: 36 messages spooled, every
      // spool file in the drain log, one ship micro-batch per pass
      assert(spark.read.format("graft-spool").load(spoolDir.getAbsolutePath)
        .count() === 36L)
      val log = spark.read.parquet(tools.RelayMain.RelayDirs(root.getAbsolutePath).shipLogDir)
      val spoolFiles = spoolDir.listFiles().count(_.getName.endsWith(".gz"))
      assert(log.agg(org.apache.spark.sql.functions.sum("n_records")).head.getLong(0) ===
        spoolFiles.toLong)
      assert(log.select("micro_batch").distinct().count() === 3L)
    } finally relay.stop()
  }

  test("batchLog: the second micro-batch of a restarted query compiles no generated code") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_compile_once_in").toString
    val out = Files.createTempDirectory("graft_compile_once_out").toString
    val ckpt = Files.createTempDirectory("graft_compile_once_ck").toString
    val schema = new StructType().add("doc_id", "long").add("text", "string")
    def drop(ids: Range): Unit =
      ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
    def drain(): Long = compiled {
      assert(Admission.batchLog(spark.readStream.schema(schema).parquet(in),
          ckpt, out, OutputMode.Append()) { batch =>
        batch.toDF().select(col("doc_id"), length(col("text")).as("n"))
      }.awaitTermination(60000))
    }
    drop(1 to 10)
    drain()
    drop(11 to 20)
    assert(drain() === 0L, "batch 1 must reuse batch 0's compiled classes")
    val log = spark.read.parquet(out)
    assert(log.select("batch_id").as[Long].collect().toSet === Set(0L, 1L))
    assert(log.count() === 20L)
  }
}
