package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import graft.{GraftSession, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The diagnostic main: profile `SparkEntry.queries` entries layer by
  * layer.
  *
  * Each pass of a query runs three layers, and every Spark job is
  * attributed to the layer whose driver code submitted it (the
  * [[TagKey]] local property, which Spark copies into each job's
  * properties):
  *  - build: the query function itself, including its eager pins and
  *    collects;
  *  - plan: `executedPlan` of the built frame, with the planner's
  *    phase times;
  *  - execute: the `noop` write that materializes every row.
  *
  * It prints one line per layer per pass (wall, jobs, stages, tasks,
  * task run and CPU time, GC, shuffle read/write, spill, peak task
  * memory, codegen compilations), the fastest pass's top stages by
  * task time, and one plan-hazard line counted on the plan the `noop`
  * write actually ran (post-AQE). With `planOutDir` it also writes each query's formatted
  * plan to `<planOutDir>/<query>.txt`.
  *
  *   sbt "runMain graft.tools.Profile <q1,q2,...> [sfDir] [passes] [planOutDir]"
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`, `passes` to 3.
  */
object Profile {
  /** Local property carrying a job's `<pass>/<layer>` tag. */
  private val TagKey = "graft.profile.layer"
  val Layers: Seq[String] = Seq("build", "plan", "execute")
  private val Fence = "fence"

  /** Materialize every row: unlike `.count()`, the `noop` sink cannot
    * let Spark prune final sorts or limits out of the measured plan. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The timed pass every harness shares. Drops cached frames and
    * collects garbage first, so a previous query's caches and dead
    * blobs are not paid inside this query's passes; runs `pass(0)` as
    * a discarded warm-up (JIT, codegen, IO); then returns the wall
    * seconds of `pass(1)` … `pass(passes)`. Callers report the min:
    * slower passes measure the machine, and a real regression slows
    * every pass including the fastest. */
  def timedPasses(spark: SparkSession, passes: Int)(pass: Int => Unit): Seq[Double] = {
    spark.catalog.clearCache()
    System.gc()
    pass(0)
    (1 to passes).map { i =>
      val t0 = System.nanoTime()
      pass(i)
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** One layer of one pass: sums over its tasks, plus max-over-task
    * peaks (a cap that stopped holding shows up as a task whose peak
    * memory or shuffle volume grows with the corpus squared).
    * `compiles` counts the codegen compilations (Janino cache misses)
    * the JVM made while the layer ran: a repeat pass of an unchanged
    * query should make none, so a non-zero count there is compile
    * churn. */
  final class Stats {
    var wallS = 0.0
    var jobs, stages, tasks, runMs, cpuNs, gcMs, compiles = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    var peakMem, maxTaskShuffleRead, maxTaskShuffleWrite = 0L
    /** Planner phase name → ms (plan layer only). */
    var phases: Map[String, Long] = Map.empty

    def add(o: Stats): Stats = {
      wallS += o.wallS; jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; compiles += o.compiles
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
      peakMem = math.max(peakMem, o.peakMem)
      maxTaskShuffleRead = math.max(maxTaskShuffleRead, o.maxTaskShuffleRead)
      maxTaskShuffleWrite = math.max(maxTaskShuffleWrite, o.maxTaskShuffleWrite)
      this
    }

    override def toString: String = {
      def mib(b: Long) = f"${b / 1048576.0}%.1f"
      f"$wallS%7.3f s  jobs $jobs%3d  stages $stages%3d  tasks $tasks%4d  " +
        f"task ${runMs / 1e3}%7.3f s  cpu ${cpuNs / 1e9}%7.3f s  gc ${gcMs / 1e3}%6.3f s  " +
        s"shuffle r/w ${mib(shuffleRead)}/${mib(shuffleWrite)} MiB  " +
        s"spill ${mib(spill)} MiB  peak task mem ${mib(peakMem)} MiB  compiles $compiles" +
        phases.map { case (k, v) => s"  $k $v ms" }.mkString
    }
  }

  /** The one listener: job, stage and task metrics keyed by the
    * submitting thread's [[TagKey]], and the last plan each SQL
    * execution reported. Jobs submitted without a tag land under "". */
  private final class Listener extends SparkListener {
    private val byTag = mutable.LinkedHashMap.empty[String, Stats]
    private val stageTag = mutable.Map.empty[Int, String]
    private val execTag = mutable.Map.empty[Long, String]
    private val plans = mutable.Map.empty[Long, SparkPlanInfo]
    /** stage id → (tag, name, task run ms, tasks). */
    private val stageTime = mutable.LinkedHashMap.empty[Int, (String, String, Long, Int)]
    private var jobsSeen = 0L
    private var fenceJob = -1
    private var fenceDone = new CountDownLatch(0)

    private def stats(tag: String) = byTag.getOrElseUpdate(tag, new Stats)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
      e.stageIds.foreach(stageTag(_) = tag)
      if (tag == Fence) fenceJob = e.jobId
      else {
        jobsSeen += 1
        stats(tag).jobs += 1
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execTag(id.toLong) = tag)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == fenceJob) fenceDone.countDown()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val tag = stageTag.getOrElse(e.stageId, "")
      if (m != null && tag != Fence) {
        val s = stats(tag)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.maxTaskShuffleRead = math.max(s.maxTaskShuffleRead, m.shuffleReadMetrics.totalBytesRead)
        s.maxTaskShuffleWrite = math.max(s.maxTaskShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val tag = stageTag.getOrElse(info.stageId, "")
      if (tag != Fence) {
        stats(tag).stages += 1
        stageTime(info.stageId) = (tag, info.name.takeWhile(_ != '\n'),
          info.taskMetrics.executorRunTime, info.numTasks)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(plans(s.executionId) = s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        synchronized(plans(u.executionId) = u.sparkPlanInfo)
      case _ => ()
    }

    /** Runs `body` with its jobs tagged `tag` and adds its wall time
      * and codegen compilations to that tag's stats. The compilation
      * count is JVM-wide, so it also holds whatever else compiled
      * meanwhile. */
    def layer[T](spark: SparkSession, tag: String)(body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, tag)
      val t0 = System.nanoTime()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try body
      finally {
        sc.setLocalProperty(TagKey, prev)
        synchronized {
          val s = stats(tag)
          s.wallS += (System.nanoTime() - t0) / 1e9
          s.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        }
      }
    }

    /** Blocks until every event posted before this call has reached
      * this listener. The bus has no public flush, so this runs a
      * one-task job and waits for its end event, which the bus
      * delivers after every earlier event. */
    def settle(spark: SparkSession): Unit = {
      val done = new CountDownLatch(1)
      synchronized { fenceDone = done }
      layer(spark, Fence)(spark.sparkContext.parallelize(Seq(0), 1).count())
      done.await(60, TimeUnit.SECONDS)
    }

    /** Jobs seen, tagged or not (the fence excluded). */
    def totalJobs: Long = synchronized(jobsSeen)

    def statsFor(tag: String): Stats = synchronized(byTag.getOrElse(tag, new Stats))

    /** Pass `pass`'s `n` stages with the most task time, one line each. */
    def topStages(pass: Int, n: Int): Seq[String] = synchronized {
      stageTime.toSeq.filter(_._2._1.startsWith(s"$pass/")).sortBy(-_._2._3).take(n).map {
        case (id, (t, name, ms, nt)) =>
          val layer = t.drop(t.indexOf('/') + 1)
          f"stage $id%4d  ${ms / 1e3}%8.3f s task-time  tasks=$nt%3d  $layer%-7s  $name"
      }
    }

    /** The last plan reported by the newest SQL execution tagged `tag`. */
    def lastPlan(tag: String): Option[SparkPlanInfo] = synchronized {
      execTag.collect { case (id, t) if t == tag => id }.maxOption.flatMap(plans.get)
    }
  }

  /** PlanDump's hazard counts: nodes whose description names each
    * operator. */
  private val Hazards = Seq("exchanges" -> "Exchange", "wholestage" -> "WholeStageCodegen",
    "cartesian" -> "CartesianProduct", "bnlj" -> "BroadcastNestedLoopJoin",
    "smj" -> "SortMergeJoin", "bhj" -> "BroadcastHashJoin",
    "singlePartition" -> "SinglePartition")

  private def hazards(plan: SparkPlanInfo): String = {
    def nodes(p: SparkPlanInfo): Seq[String] = p.simpleString +: p.children.flatMap(nodes)
    val ns = nodes(plan)
    Hazards.map { case (k, sub) => s"$k=${ns.count(_.contains(sub))}" }.mkString(" ")
  }

  /** One query's profile. `layers(p)` holds pass `p`'s stats per layer,
    * pass 0 being the warm-up; `seconds(p - 1)` is timed pass `p`'s
    * wall and `fastest` the pass with the least. `topStages` and
    * `hazards` describe the fastest pass; `df` is the frame the last
    * pass built. */
  final case class Report(seconds: Seq[Double], fastest: Int, layers: Seq[Map[String, Stats]],
                          totalJobs: Long, topStages: Seq[String], hazards: Option[String],
                          df: DataFrame) {
    /** Pass `p`'s layers combined. */
    def pass(p: Int): Stats = layers(p).values.foldLeft(new Stats)(_ add _)
  }

  /** Profiles `passes` timed passes (after a warm-up) of the query
    * `build` returns. The listener is registered for this call only. */
  def run(spark: SparkSession, passes: Int)(build: => DataFrame): Report = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val listener = new Listener
    val sc = spark.sparkContext
    var last: DataFrame = null
    sc.addSparkListener(listener)
    try {
      val seconds = timedPasses(spark, passes) { p =>
        val df = listener.layer(spark, s"$p/build")(build)
        val qe = df.queryExecution
        listener.layer(spark, s"$p/plan")(qe.executedPlan)
        listener.statsFor(s"$p/plan").phases =
          qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
        listener.layer(spark, s"$p/execute")(noop(df))
        last = df
      }
      listener.settle(spark)
      val layers = (0 to passes).map(p => Layers.map(l => l -> listener.statsFor(s"$p/$l")).toMap)
      val best = seconds.indexOf(seconds.min) + 1
      Report(seconds, best, layers, listener.totalJobs, listener.topStages(best, 12),
        listener.lastPlan(s"$best/execute").map(hazards), last)
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q1_pricing").split(",").toSeq
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      sys.error("usage: Profile <q1,q2,...> [sfDir] [passes] [planOutDir]; " +
        "sfDir defaults to SPARK_GRAFT_SF_DIR"))
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val planOut = args.lift(3)
    val spark = GraftSession.create()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val r = run(spark, passes)(fn(spark, dir))
      for (p <- 0 to passes; l <- Layers) {
        val label = if (p == 0) "warm-up" else s"pass $p"
        println(f"[profile] $name $label%-7s $l%-7s ${r.layers(p)(l)}")
      }
      println(f"[profile] $name min ${r.seconds.min}%.3f s (pass ${r.fastest} of $passes) " +
        f"@ $dir, ${r.totalJobs} jobs in all")
      println(s"-- $name: top stages by task time (pass ${r.fastest}) --")
      r.topStages.foreach(println)
      println(s"[plan] $name: ${r.hazards.getOrElse("no plan reached the execute layer")}")
      planOut.foreach { out =>
        Files.createDirectories(Paths.get(out))
        val formatted = r.df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val file = Paths.get(out, s"$name.txt")
        Files.write(file, (s"== $name @ $dir ==\n" + formatted).getBytes("UTF-8"))
        println(s"[profile] wrote $file (${formatted.linesIterator.size} lines)")
      }
    }
    spark.stop()
  }
}
