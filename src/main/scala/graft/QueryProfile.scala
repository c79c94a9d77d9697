package graft

import java.lang.management.ManagementFactory

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBusBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layered profile of one body of engine work: where its wall time
  * went, split by layer, in the `per_layer` vocabulary of
  * `BENCHMARK.json` so an engine profile and a perfbench trace use the
  * same words.
  *
  *   - scheduler / executor / shuffle / driver: a `SparkListener` sums
  *     jobs, stages, tasks, task deserialization, executor run vs CPU
  *     vs GC time (`executor.offcpu_s` = run − CPU: task threads
  *     blocked, not computing), shuffle read/write, spill, peak
  *     execution memory and result bytes;
  *   - planner: a `QueryExecutionListener` sums the `qe.tracker`
  *     phases of every execution;
  *   - trigger: a `StreamingQueryListener` counts micro-batches and
  *     sums their `durationMs` phases;
  *   - codegen / jvm: Janino compile count and time, GC and JIT
  *     milliseconds as deltas across the body, used heap at its end.
  *
  * Listeners see the whole SparkContext, so the profile is exact only
  * when nothing else runs on the session concurrently — the case for
  * Bench and BenchOne, which time one query at a time.
  */
object QueryProfile {

  private val plannerPhases = Seq("analysis", "optimization", "planning")

  private val triggerPhases = Seq("latestOffset", "getBatch",
    "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** Every key, in emission order. */
  val keys: Seq[String] = Seq(
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.task_deser_s",
    "executor.run_s", "executor.cpu_s", "executor.offcpu_s",
    "executor.gc_s", "executor.peak_mem_bytes",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
    "driver.result_bytes",
    "queries.executions") ++
    plannerPhases.map(p => s"planner.${p}_s") ++
    Seq("codegen.compiles", "codegen.compile_s", "trigger.count") ++
    triggerPhases.map(p => s"trigger.${p}_s") ++
    Seq("jvm.gc_s", "jvm.jit_s", "jvm.heap_used_gb")

  /** Runs `body` with the three listeners attached and returns its
    * result with the profile. The listener bus is drained before the
    * attach (earlier work's events are not this body's) and after the
    * body (so its last events are counted); both drains and the reads
    * happen outside `body`, so a timer inside it measures the body
    * alone. Every listener is removed again even when `body` throws.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Map[String, Double]) = {
    val sc = spark.sparkContext
    drain(sc)
    val c = new Collector
    try {
      sc.addSparkListener(c.tasks)
      spark.listenerManager.register(c.planner)
      spark.streams.addListener(c.triggers)
      val before = JvmCounters.now()
      val result = body
      drain(sc)
      (result, c.profile(before, JvmCounters.now()))
    } finally {
      sc.removeSparkListener(c.tasks)
      spark.listenerManager.unregister(c.planner)
      spark.streams.removeListener(c.triggers)
    }
  }

  /** Flat JSON object of the profile: whole numbers bare, the rest at
    * 3 decimals.
    */
  def json(profile: Map[String, Double]): String =
    profile.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isWhole) v.toLong.toString
        else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString)
    }.mkString("{", ",", "}")

  /** A bus still busy after the timeout leaves the profile short; it
    * never fails the measured work.
    */
  private def drain(sc: SparkContext): Unit =
    try ListenerBusBridge.drain(sc)
    catch { case _: java.util.concurrent.TimeoutException =>
      println("QueryProfile: listener bus did not drain; profile is partial")
    }

  private final case class JvmCounters(
      gcMs: Long, jitMs: Long, compiles: Long, compileNs: Long)

  private object JvmCounters {
    def now(): JvmCounters = JvmCounters(
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
  }

  private final class Collector {
    private val sums = mutable.HashMap.empty[String, Double]

    private def add(k: String, v: Double): Unit = synchronized {
      sums(k) = sums.getOrElse(k, 0.0) + v
    }
    private def max(k: String, v: Double): Unit = synchronized {
      sums(k) = math.max(sums.getOrElse(k, 0.0), v)
    }

    val tasks: SparkListener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        add("scheduler.jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        add("scheduler.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("scheduler.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("scheduler.task_deser_s", m.executorDeserializeTime / 1e3)
          add("executor.run_s", m.executorRunTime / 1e3)
          add("executor.cpu_s", m.executorCpuTime / 1e9)
          add("executor.gc_s", m.jvmGCTime / 1e3)
          max("executor.peak_mem_bytes", m.peakExecutionMemory.toDouble)
          val sr = m.shuffleReadMetrics
          add("shuffle.read_bytes",
            (sr.remoteBytesRead + sr.localBytesRead).toDouble)
          add("shuffle.write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("driver.result_bytes", m.resultSize.toDouble)
        }
      }
    }

    val planner: QueryExecutionListener = new QueryExecutionListener {
      private def phases(qe: QueryExecution): Unit = {
        add("queries.executions", 1)
        val tracked = qe.tracker.phases
        plannerPhases.foreach(p => tracked.get(p).foreach(s =>
          add(s"planner.${p}_s", (s.endTimeMs - s.startTimeMs) / 1e3)))
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        phases(qe)
    }

    val triggers: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        add("trigger.count", 1)
        val d = e.progress.durationMs
        triggerPhases.foreach(p => Option(d.get(p)).foreach(ms =>
          add(s"trigger.${p}_s", ms.longValue / 1e3)))
      }
    }

    def profile(before: JvmCounters, after: JvmCounters)
        : Map[String, Double] = synchronized {
      def sum(k: String) = sums.getOrElse(k, 0.0)
      val derived = Map(
        "executor.offcpu_s" ->
          math.max(0.0, sum("executor.run_s") - sum("executor.cpu_s")),
        "codegen.compiles" -> (after.compiles - before.compiles).toDouble,
        "codegen.compile_s" -> (after.compileNs - before.compileNs) / 1e9,
        "jvm.gc_s" -> (after.gcMs - before.gcMs) / 1e3,
        "jvm.jit_s" -> (after.jitMs - before.jitMs) / 1e3,
        "jvm.heap_used_gb" -> ManagementFactory.getMemoryMXBean
          .getHeapMemoryUsage.getUsed / 1e9)
      VectorMap.from(keys.map(k => k -> derived.getOrElse(k, sum(k))))
    }
  }
}
