package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.queries.Catalog

/** The batch workloads: pinned catalog entries, each built with `Catalog`
  * and written to the `noop` sink.
  *
  * Set-up ends with a correctness pass that starts the warm-up: every
  * entry is written once, and the result fingerprint taken on the way
  * through is compared with the pinned one. [[WarmPasses]] more passes
  * let the JIT reach its plateau before the clock starts: a pass takes
  * about 5.5 s right after the correctness pass and settles near 4 s
  * after two more (4-vCPU VM). The timed window then runs
  * whole passes over the entries, in an order drawn from the seed, until
  * `seconds` have passed. A traced run alternates untraced and traced passes
  * ([[Trace.tracedPass]]) for twice as long, so that the tracing overhead
  * is measured in the same JVM.
  */
object Batch {
  final case class Config(entries: Seq[(String, String)], seed: Long,
                          seconds: Double, trace: Boolean, root: String,
                          cores: Int)

  /** Data is pinned: the seed orders the passes, it does not change the
    * inputs the fingerprints were recorded on. */
  val DataSeed = 42L
  val WarmPasses = 2

  def run(spark: SparkSession, cfg: Config): Map[String, Any] = {
    val dir = s"${cfg.root}/data"
    Common.log("session up")
    Gen.tables(spark, dir, Gen.Mix, DataSeed)
    Common.log("inputs written")
    val queries = Catalog.queries
    var attempted = 0L
    val errors = mutable.ArrayBuffer[String]()
    val fingerprints = mutable.LinkedHashMap[String, String]()
    val rowsOut = mutable.Map[String, Long]()
    val rnd = new scala.util.Random(cfg.seed)

    def write(name: String): Unit =
      queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

    // correctness + warm-up pass
    for ((name, expected) <- rnd.shuffle(cfg.entries)) {
      attempted += 1
      if (!queries.contains(name)) errors += s"$name: not in the catalog"
      else try {
        val e0 = Common.nowMs
        val fp = Common.writeNoopFingerprint(queries(name)(spark, dir))
        fingerprints(name) = fp
        rowsOut(name) = fp.takeWhile(_ != ':').toLong
        if (expected != "-" && fp != expected)
          errors += s"$name: fingerprint $fp, pinned $expected"
        Common.log(f"$name: ${Common.nowMs - e0}%.0f ms cold")
      } catch {
        case e: Exception => errors += s"$name: ${e.toString.take(300)}"
      }
    }
    Common.log("correctness pass done")
    val runnable = cfg.entries.map(_._1).filter(rowsOut.contains)
    for (_ <- 1 to WarmPasses; name <- rnd.shuffle(runnable)) {
      attempted += 1
      try write(name)
      catch { case e: Exception => errors += s"$name (warm-up): ${e.toString.take(300)}" }
    }
    val setupS = Common.sinceLaunchS
    Common.log("warm-up done")

    val trace = if (cfg.trace) Some(new Trace(spark)) else None
    val passS = mutable.ArrayBuffer[Double]()
    val passCpuS = mutable.ArrayBuffer[Double]()
    val opMs = mutable.ArrayBuffer[Double]()
    val tracedPassS = mutable.ArrayBuffer[Double]()
    val table = mutable.ArrayBuffer[Map[String, Any]]()
    val layerSum = mutable.Map[String, Double]()
    var rowsTimed = 0L
    val window = if (cfg.trace) 2 * cfg.seconds else cfg.seconds
    val t0 = Common.nowMs
    var pass = 0
    while (pass < (if (cfg.trace) 4 else 2) || (Common.nowMs - t0) / 1000 < window) {
      val traced = cfg.trace && Trace.tracedPass(pass)
      val order = new scala.util.Random(cfg.seed * 1000003L + pass)
        .shuffle(runnable)
      val c0 = Common.cpuS
      val w0 = Common.nowMs
      val passStart = trace.filter(_ => traced).map(_.begin())
      for (name <- order) {
        attempted += 1
        val e0 = Common.nowMs
        try {
          if (traced) {
            val t = trace.get
            val s0 = t.snap()
            val df = queries(name)(spark, dir)
            val s1 = t.snap()
            df.write.format("noop").mode("overwrite").save()
            val s2 = t.snap()
            val build = t.delta(s0, s1)
            val buildLayer = Map("queries.build_ms" -> build("wall_ms"),
              "queries.build_jobs" -> build("scheduler.jobs"))
            Trace.accumulate(layerSum, buildLayer)
            table += Map("pass" -> pass, "entry" -> name) ++ t.delta(s0, s2) ++ buildLayer
          } else {
            write(name)
            opMs += Common.nowMs - e0
            rowsTimed += rowsOut(name)
          }
        } catch {
          case e: Exception =>
            errors += s"$name (pass $pass): ${e.toString.take(300)}"
        }
      }
      val wall = (Common.nowMs - w0) / 1000
      Common.log(f"pass $pass${if (traced) " (traced)" else ""}: $wall%.2f s, " +
        f"cpu ${Common.cpuS - c0}%.1f s")
      if (traced) {
        tracedPassS += wall
        Trace.accumulate(layerSum, trace.get.end(passStart.get))
      } else {
        passS += wall
        passCpuS += Common.cpuS - c0
      }
      pass += 1
    }
    val base = Map[String, Any](
      "attempted" -> attempted, "failed" -> errors.size,
      "errors" -> errors.toSeq, "setup_s" -> setupS,
      "pass_s" -> passS.toSeq, "pass_cpu_s" -> passCpuS.toSeq,
      "op_ms" -> opMs.toSeq,
      "rows_per_s" -> rowsTimed / passS.sum,
      "fingerprints" -> fingerprints,
      "peak_rss_mb" -> Common.peakRssMb)
    trace match {
      case None => base
      case Some(_) =>
        val layers = Trace.perPass(layerSum, tracedPassS.toSeq, cfg.cores)
        layers("trace.overhead_pct") =
          (Stats.median(tracedPassS.toSeq) / Stats.median(passS.toSeq) - 1) * 100
        layers("sources.scan_ms") = Probes.scanMs(spark, dir)
        layers ++= Probes.kernelMs(spark, s"${cfg.root}/kernels")
        Trace.Streaming.foreach(k => layers(k) = 0.0)
        base ++ Map("layers" -> layers, "trace_table" -> table.toSeq)
    }
  }
}
