package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.Shim

import graft.{Json, Sessions, SparkEntry}

/** The one profiling harness for `SparkEntry` queries: per query, one
  * untimed run, then `reps` timed runs to Spark's `noop` sink (the whole
  * plan executes — `.count()` lets Catalyst prune joins the query's
  * users pay for), with every cache released after each run. Prints one
  * JSON line per query: every run's wall time, then — for the fastest
  * run — the engine's counters under perfbench's `spark.*` names, the
  * slowest stages with their callsites and operator scopes, and the
  * formatted final (AQE) physical plan.
  *
  * Width is `SPARK_GRAFT_CPUS` (default: every core); a core-scaling
  * check is two runs at two widths, a scale check is one run on the
  * directory `ScaleUp` prints.
  *
  * Usage: `runMain graft.tools.Profile <q1,q2,...> [dataDir] [reps]`
  */
object Profile {

  /** One completed stage; times in epoch ms, sizes in bytes. */
  final case class Stage(id: Int, submitMs: Long, doneMs: Long, shuffleMap: Boolean,
                         tasks: Int, runMs: Long, cpuNs: Long, inputBytes: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long, callsite: String, ops: String)

  /** Every job start and completed stage since the last [[reset]], plus
    * the latest plan description of the newest SQL execution.
    */
  final class Listener extends SparkListener {
    private val jobCount = new AtomicInteger
    private val stageQ = new ConcurrentLinkedQueue[Stage]()
    @volatile private var lastPlan: (Long, String) = (-1L, "")

    def reset(): Unit = { jobCount.set(0); stageQ.clear(); lastPlan = (-1L, "") }
    def jobs: Int = jobCount.get
    def stages: Seq[Stage] = stageQ.asScala.toSeq
    def plan: String = lastPlan._2
    def spillBytes: Long = stages.map(_.spillBytes).sum

    override def onJobStart(e: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      for (a <- i.submissionTime; b <- i.completionTime if m != null)
        stageQ.add(Stage(i.stageId, a, b, Shim.isShuffleMap(i), i.numTasks,
          m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, i.name,
          i.rddInfos.flatMap(_.scope).map(_.name).distinct.take(8).mkString(",")))
      ()
    }

    // AQE posts the re-planned description after every stage and once
    // for the final plan, under the execution's id
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => keepPlan(s.executionId, s.physicalPlanDescription)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        keepPlan(u.executionId, u.physicalPlanDescription)
      case _ => ()
    }

    private def keepPlan(id: Long, desc: String): Unit =
      if (id >= lastPlan._1) lastPlan = (id, desc)
  }

  /** One timed run: wall time, its `[fromMs, toMs]` window, and what the
    * listener saw inside it.
    */
  final case class Run(wallS: Double, fromMs: Long, toMs: Long, jobs: Int,
                       stages: Seq[Stage], plan: String) {
    /** Wall time not covered by any stage interval: planning, job setup
      * and blocking collects between jobs.
      */
    def driverGapS: Double = {
      val spans = stages.map(s => (math.max(s.submitMs, fromMs), math.min(s.doneMs, toMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      val (covered, _) = spans.foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
      }
      math.min(wallS, math.max(0.0, wallS - covered / 1e3))
    }
  }

  private def timedRun(spark: SparkSession, listener: Listener)(body: => Unit): Run = {
    Shim.waitForListenerBus(spark)
    listener.reset()
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (wallS, toMs) =
      try { body; ((System.nanoTime() - t0) / 1e9, System.currentTimeMillis()) }
      finally Sessions.clearAll(spark)
    Shim.waitForListenerBus(spark)
    Run(wallS, fromMs, toMs, listener.jobs, listener.stages, listener.plan)
  }

  /** Profile one query; returns its JSON line. */
  def profile(spark: SparkSession, name: String, dir: String, reps: Int): String = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val q = SparkEntry.queries(name)
    def run(): Unit = q(spark, dir).write.format("noop").mode("overwrite").save()
    try run() finally Sessions.clearAll(spark)
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    val runs = try (1 to reps).map(_ => timedRun(spark, listener)(run()))
      finally spark.sparkContext.removeSparkListener(listener)
    val best = runs.minBy(_.wallS)
    val st = best.stages
    def f(x: Double) = f"$x%.3f"
    val slowest = st.sortBy(s => -(s.doneMs - s.submitMs)).take(10).map { s =>
      s"""{"stage":${s.id},"wall_s":${f((s.doneMs - s.submitMs) / 1e3)},""" +
        s""""executor_run_s":${f(s.runMs / 1e3)},"tasks":${s.tasks},""" +
        s""""callsite":${Json.str(s.callsite)},"ops":${Json.str(s.ops)}}"""
    }
    Seq(
      "query" -> Json.str(name),
      "data_dir" -> Json.str(dir),
      "cpus" -> spark.sparkContext.defaultParallelism.toString,
      "wall_s" -> runs.map(r => f(r.wallS)).mkString("[", ",", "]"),
      "spark.jobs" -> best.jobs.toString,
      "spark.stages" -> st.size.toString,
      "spark.shuffle_stages" -> st.count(_.shuffleMap).toString,
      "spark.driver_gap_s" -> f(best.driverGapS),
      "spark.executor_run_s" -> f(st.map(_.runMs).sum / 1e3),
      "spark.executor_cpu_s" -> f(st.map(_.cpuNs).sum / 1e9),
      "spark.input_bytes" -> st.map(_.inputBytes).sum.toString,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum.toString,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toString,
      "spark.spill_bytes" -> st.map(_.spillBytes).sum.toString,
      "slowest_stages" -> slowest.mkString("[", ",", "]"),
      "plan" -> Json.str(best.plan)
    ).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    // f"" formats with the default locale; a comma-decimal one would
    // break the JSON
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.nonEmpty, "usage: Profile <q1,q2,...> [dataDir] [reps]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    val dir = args.lift(1).getOrElse(graft.Bench.DefaultSfDir)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Sessions.local(Sessions.toolCpus, "graft-profile")
    try names.foreach(n => println(profile(spark, n, dir, reps)))
    finally spark.stop()
  }
}
