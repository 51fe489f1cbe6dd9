package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one session the entry points (`Bench`, `Verify`, `Explain`,
  * `CcMemProbe`, `ScaleUp`, `StreamLatency`) run on, plus the helpers
  * they share, so the semantics the engine assumes cannot drift between
  * them.
  *
  * Env: SPARK_GRAFT_CPUS (default 4) sizes the `local[N]` master;
  * SPARK_GRAFT_MASTER replaces it, e.g. `local-cluster[4,8,6144]` (4
  * executor JVMs x 8 cores x 6 GB: real serialized shuffle fetch,
  * broadcast transport and task-dispatch RPC, SCALE.md §r18; needs
  * SPARK_HOME); SPARK_GRAFT_SHUFFLE_PARTITIONS (default the CPU count)
  * unties shuffle partitions from threads, so more, smaller partitions
  * cap per-task memory under a small heap (SCALE.md §CC memory sizing).
  */
object Harness {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Session confs for `master`. Pure, so specs check it without a
    * second session. */
  def confs(master: String, shufflePartitions: Int): Seq[(String, String)] = {
    val base = Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // null-on-failure coercion: x/0 and bad casts yield NULL, as in
      // the reference's coercers and DuckDB's float division
      "spark.sql.ansi.enabled" -> "false",
      "spark.ui.enabled" -> "false",
      // Bench runs a whole catalog sweep between two samples of one
      // query; the default 100 entries would make every timed sample
      // pay janino recompilation (measured as a uniform ~1.45x)
      "spark.sql.codegen.cache.maxEntries" -> "8192")
    if (!master.startsWith("local-cluster")) base
    else base ++ Seq(
      // executor JVMs need graft's classes and the JDK 17 module opens
      // build.sbt gives the forked driver (without them Spark falls
      // back to slow non-Unsafe paths)
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.extraJavaOptions" -> Seq("java.lang",
        "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
        .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" "))
  }

  /** The session from the environment; `extra` confs win over [[confs]]. */
  def session(extra: (String, String)*): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val parts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .fold(cpus)(_.toInt)
    val spark = (confs(master, parts) ++ extra)
      .foldLeft(SparkSession.builder().master(master)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached dataset and persisted RDD (`localCheckpoint`
    * blocks included), so storage one query leaves behind never
    * pressures the next query of a long-lived JVM. */
  def releaseStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Writes `line` to `path` unless `path` is empty. Best-effort: the
    * stdout line is the contract, so a failed write only warns. */
  def writeArtifact(path: String, line: String): Unit =
    if (path.nonEmpty)
      try {
        Files.write(Paths.get(path), (line + "\n").getBytes("UTF-8"))
        System.err.println(s"[harness] wrote $path")
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[harness] could not write $path: $e")
      }

  /** `s` as a JSON string literal. Every control character is escaped:
    * a raw tab in oracle SQL or an error message breaks `json.load`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Scheduler-side shape of what ran since the last [[reset]]: jobs,
    * completed stages, tasks, and Σ task run and CPU time. Events arrive
    * on the listener bus; drain it (`Bridge.drainListenerBus`) before
    * reading. */
  final class TaskCounters extends SparkListener {
    private val jobs, stages, tasks, runMs, cpuNs = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
      }
    }

    def reset(): Unit =
      Seq(jobs, stages, tasks, runMs, cpuNs).foreach(_.set(0L))

    /** (name, value) pairs: jobs, stages, tasks, cpu_ms, run_ms. */
    def snapshot: Seq[(String, Long)] = Seq("jobs" -> jobs.get,
      "stages" -> stages.get, "tasks" -> tasks.get,
      "cpu_ms" -> cpuNs.get / 1000000L, "run_ms" -> runMs.get)
  }
}
