package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, recorded from outside the program: a
  * `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phase times) and JMX beans.
  *
  * The counters only grow; a caller takes a [[Trace.Snap]] before and
  * after the call it attributes, and keeps the difference.
  */
final class Trace(spark: SparkSession) {
  private val lock = new Object
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  /** Finished job intervals (epoch ms), for the driver-gap measure. */
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      add("scheduler.jobs", 1); jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        add("scheduler.stages", 1)
        val i = e.stageInfo
        stageSubmit((i.stageId, i.attemptNumber())) =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      lock.synchronized {
        stageSubmit.remove((e.stageId, e.stageAttemptId)).foreach { s =>
          add("scheduler.delay_ms", math.max(0L, e.taskInfo.launchTime - s))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      add("scheduler.tasks", 1)
      if (!e.taskInfo.successful) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_ms", m.executorRunTime)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.deser_ms", m.executorDeserializeTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill.mem_bytes", m.memoryBytesSpilled)
        add("spill.disk_bytes", m.diskBytesSpilled)
        add("io.read_bytes", m.inputMetrics.bytesRead)
        add("io.write_bytes", m.outputMetrics.bytesWritten)
        c("exec.peak_mem_bytes") =
          math.max(c("exec.peak_mem_bytes"), m.peakExecutionMemory.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      add("catalyst.executions", 1)
      val ph = qe.tracker.phases
      Seq("analysis" -> "catalyst.analysis_ms",
        "optimization" -> "catalyst.optimizer_ms",
        "planning" -> "catalyst.planning_ms").foreach { case (p, k) =>
        ph.get(p).foreach(s => add(k, s.durationMs))
      }
    }
  }

  /** Registers the listeners and opens a traced window; between windows
    * nothing is registered, so untraced passes run as in an untraced run. */
  def begin(): Trace.Snap = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    lock.synchronized { c("exec.peak_mem_bytes") = 0.0 }
    snap()
  }

  /** Closes the window opened by [[begin]] and returns its deltas. */
  def end(from: Trace.Snap): Map[String, Double] = {
    val to = snap()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    delta(from, to)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def snap(): Trace.Snap = {
    drain()
    lock.synchronized {
      new Trace.Snap(c.toMap, System.currentTimeMillis(), Trace.jvm(),
        jobSpans.length)
    }
  }

  /** Counter deltas between two snapshots, plus the wall time that no job
    * covered (driver barriers between jobs). */
  def delta(a: Trace.Snap, b: Trace.Snap): Map[String, Double] =
    lock.synchronized {
      val keys = a.counters.keySet ++ b.counters.keySet
      val d = keys.map { k =>
        val v = if (k == "exec.peak_mem_bytes") b.counters.getOrElse(k, 0.0)
        else b.counters.getOrElse(k, 0.0) - a.counters.getOrElse(k, 0.0)
        k -> v
      }.toMap
      val spans = jobSpans.slice(a.nSpans, b.nSpans)
        .map { case (s, e) => (math.max(s, a.wallMs), math.min(e, b.wallMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var end = a.wallMs
      spans.foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
      val wall = (b.wallMs - a.wallMs).toDouble
      d ++ Map("wall_ms" -> wall, "driver.gap_ms" -> (wall - covered),
        "jvm.jit_ms" -> (b.jvm._1 - a.jvm._1),
        "jvm.gc_ms" -> (b.jvm._2 - a.jvm._2),
        "codegen.compile_n" -> (b.jvm._3 - a.jvm._3))
    }
}

object Trace {
  final class Snap(val counters: Map[String, Double], val wallMs: Long,
                   val jvm: (Double, Double, Double), val nSpans: Int)

  /** (JIT ms, GC ms, janino compilations) so far in this JVM. */
  def jvm(): (Double, Double, Double) = {
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    (jit.toDouble, gc.toDouble,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  }

  /** The counter metrics, in report order. */
  val Counters: Seq[String] = Seq(
    "queries.build_ms", "queries.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "catalyst.executions", "codegen.compile_n",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.delay_ms", "driver.gap_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.deser_ms", "exec.gc_ms",
    "exec.util", "exec.failed_tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.mem_bytes", "spill.disk_bytes", "exec.peak_mem_bytes",
    "io.read_bytes", "io.write_bytes")

  val Streaming: Seq[String] = Seq("streaming.latest_offset_ms",
    "streaming.get_batch_ms", "streaming.query_planning_ms",
    "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "scheduler.jobs_per_batch",
    "state.rows_total", "state.rows_updated", "state.mem_bytes",
    "state.commit_ms", "state.dropped_late_rows",
    "sink.bytes", "sink.files")

  /** Whether timed pass `pass` of a traced run is traced: untraced and
    * traced passes alternate in ABBA blocks, so a warm-up trend over the
    * run does not bias `trace.overhead_pct`. */
  def tracedPass(pass: Int): Boolean = pass % 4 == 1 || pass % 4 == 2

  /** Adds one window's deltas into `sum`; the memory peak is a maximum. */
  def accumulate(sum: mutable.Map[String, Double], d: Map[String, Double]): Unit =
    d.foreach { case (k, v) =>
      sum(k) = if (k == "exec.peak_mem_bytes") math.max(sum.getOrElse(k, 0.0), v)
      else sum.getOrElse(k, 0.0) + v
    }

  /** The counters summed over the traced passes, as per-pass means (the
    * peak stays a maximum), plus executor utilization over the passes. */
  def perPass(sum: collection.Map[String, Double], passWallS: Seq[Double],
              cores: Int): mutable.LinkedHashMap[String, Double] = {
    val n = math.max(1, passWallS.size).toDouble
    val out = mutable.LinkedHashMap[String, Double]()
    (Counters ++ Seq("jvm.jit_ms", "jvm.gc_ms")).foreach { k =>
      val v = sum.getOrElse(k, 0.0)
      out(k) = if (k == "exec.peak_mem_bytes") v else v / n
    }
    out("exec.util") = sum.getOrElse("exec.run_ms", 0.0) /
      (passWallS.sum * 1000 * cores)
    out
  }
}
