package graft

import org.apache.spark.sql.graftbridge.Bridge

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are written to the `noop` sink — unlike
  * `.count()`, which lets Catalyst prune every computed column, noop forces
  * full evaluation of the projection, so regex/hash/vector-math queries are
  * actually measured.
  *
  * Integrity rules:
  *  - a query that throws NEVER reports a timing — it lands in `errors`
  *    (name -> exception) and is excluded from `queries`/`value`, so a
  *    broken catalog entry is visible in the emitted JSON, not silently
  *    timed as a fast no-op;
  *  - after every query the session's storage is swept (cache registry +
  *    all persistent RDDs, which includes `localCheckpoint` blocks): a
  *    single JVM runs warmup + N passes over 100 queries, and storage
  *    left behind by one query otherwise accumulates into the memory
  *    pressure / ContextCleaner churn that once killed a full run with a
  *    vanished-broadcast-block executor error.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val counters = new Harness.TaskCounters
    spark.sparkContext.addSparkListener(counters)

    def sweep(): Unit = {
      Harness.releaseStorage(spark)
      // pay collection OUTSIDE the timers: ~300 query executions in one
      // JVM accrue garbage (broadcast blocks, codegen classes, shuffle
      // buffers) faster than the ContextCleaner's weak-ref GC cadence
      // reclaims it, and a major GC landing mid-query shows up as a
      // random 3-10x single-query inflation that min-of-N can't mask
      // when both passes are taxed. One forced full GC per query keeps
      // the timed windows collection-quiet.
      System.gc()
    }

    // optional dev-loop filter: SPARK_GRAFT_ONLY=q1,q2 benches a subset
    // (unset in the driver's run -> full catalog)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // JIT/codegen warmup: run the whole catalog once at the smallest sf so
    // measured times reflect steady-state execution, not first-call JVM and
    // codegen compilation (observed 5-10x first-run inflation locally).
    // Warmup failures are ignored here — the same failure will surface,
    // recorded, in the timed run below.
    // Warmup runs at sf0.01 (sf0.001 fallback): r14 per-sample profiling
    // showed the sf0.001 warmup leaves sf0.1-shape code paths (AQE join
    // choices, bigger-batch loops) uncompiled, so each entry's first
    // timed sample carried 1.6-3.4 s of background C2 JIT — timed-window
    // JIT dropped 168-196 s -> 139-146 s per sweep when warmup moved to
    // sf0.01 (same-sitting A/B, SCALE.md §r14).
    val warmDir = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.001")
      .find(d => new java.io.File(d).isDirectory)
    warmDir.foreach { dir =>
      selected.foreach { case (_, fn) =>
        try fn(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        finally sweep()
      }
    }

    // min over (reps × passes) timings per query. Two decorrelation axes:
    //  - PASSES: back-to-back runs of the same query inside one sweep —
    //    masks GC pauses and background JIT (observed 10x+ single-run
    //    outliers);
    //  - REPS: whole-catalog sweeps, so the two timings of any one query
    //    are minutes apart. A host-level load spike (co-tenant CPU — the
    //    measured ±10-12% swing source, which taxes BOTH consecutive
    //    passes equally) lands on different queries in different sweeps,
    //    and the per-entry min across sweeps discards it. This encodes
    //    the "min-combine >= 2 fresh runs" protocol that used to be
    //    manual discipline.
    // Defaults (reps=2, passes=1) keep total timed work at two
    // executions per query, decorrelated in time; back-to-back passes of
    // one entry are SPARK_GRAFT_PASSES=N SPARK_GRAFT_BENCH_REPS=1.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "1").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val samples = scala.collection.mutable
      .LinkedHashMap[String, List[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-sample attribution, read outside the timed window and emitted
    // in the full artifact: HotSpot JIT ms, GC ms and janino codegen
    // compilations (is a slow sample taxed by background C2, a GC inside
    // the window, or a codegen-cache miss?), plus the scheduler shape
    // from [[Harness.TaskCounters]] — jobs, stages, tasks, Σ task CPU —
    // the drift-resistant units a per-entry claim can rest on
    val profiles = scala.collection.mutable
      .LinkedHashMap[String, List[Seq[(String, Long)]]]()
    def jitMs: Long = Option(java.lang.management.ManagementFactory
      .getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    def gcMs: Long = {
      var t = 0L
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }
    (1 to reps).foreach { _ =>
      selected.foreach { case (name, fn) =>
        var pass = 0
        while (pass < passes && !errors.contains(name)) {
          // drained on both sides, like ExecutedPlans.capture: events
          // of earlier queries never land in this sample's counters
          Bridge.drainListenerBus(spark)
          counters.reset()
          val (j0, g0, c0) = (jitMs, gcMs, Bridge.codegenCompileCount)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            samples(name) =
              ((System.nanoTime() - t0) / 1e9) :: samples.getOrElse(name, Nil)
            val (j, g, c) = (jitMs - j0, gcMs - g0,
              Bridge.codegenCompileCount - c0)
            Bridge.drainListenerBus(spark)
            profiles(name) = (Seq("jit_ms" -> j, "gc_ms" -> g,
              "codegen_n" -> c) ++ counters.snapshot) ::
              profiles.getOrElse(name, Nil)
          } catch {
            case e: Throwable =>
              errors(name) = s"${e.getClass.getName}: " +
                Option(e.getMessage).getOrElse("").linesIterator
                  .take(1).mkString.take(200)
          } finally sweep()
          pass += 1
        }
      }
    }
    val timings = samples.collect {
      case (name, times) if !errors.contains(name) => name -> times.min
    }
    // cross-sample spread evidence: median over entries of max/min - 1
    // (0 when only one sample per entry survives)
    val spreads = samples.collect {
      case (name, times) if !errors.contains(name) && times.size > 1 =>
        times.max / times.min - 1.0
    }.toSeq.sorted
    val spreadMed =
      if (spreads.isEmpty) 0.0 else spreads(spreads.size / 2)

    def obj[V](kvs: Iterable[(String, V)])(v: V => String): String =
      kvs.map { case (k, x) => Harness.jsonString(k) + ":" + v(x) }
        .mkString("{", ",", "}")
    val qs = obj(timings)(_.toString)
    val errs = obj(errors)(Harness.jsonString)
    val total = timings.values.sum
    // PROD-posture subtotal alongside the all-entries total: probe and
    // ref→twin rows are diagnostics the catalog itself says not to ship
    // at scale (and they keep accreting round over round — the chain
    // straggler probe alone is the single most expensive entry), so
    // round-over-round comparisons of shipping shapes track value_prod
    // while value stays the whole-catalog number.
    val prodNames = graft.queries.Catalog.all.collect {
      case (k, e) if !e.probe && e.scaleTwin.isEmpty => k
    }.toSet
    val prodTimings = timings.filter { case (k, _) => prodNames(k) }
    val prodTotal = prodTimings.values.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","value_prod":$prodTotal,"n_entries":${timings.size},"n_prod":${prodTimings.size},"queries":$qs,"failed":${errors.size},"errors":$errs,"sf":"$sfDir","reps":$reps,"passes":$passes,"spread_med":$spreadMed}"""
    println(line)
    // full-resolution artifact: the driver's BENCH_rN.json keeps only the
    // last ~4 KB of stdout, which truncates per-query timings for ~90 of
    // the catalog's entries — write the complete line to a file as well,
    // plus per-entry ALL samples (spread forensics) and their profiles.
    val ok = samples.keys.filterNot(errors.contains).toSeq
    val allSamples =
      obj(ok.map(n => n -> samples(n).reverse))(_.mkString("[", ",", "]"))
    val profJson = obj(ok.map(n => n -> profiles(n).reverse))(
      _.map(obj(_)(_.toString)).mkString("[", ",", "]"))
    Harness.writeArtifact(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json"),
      line.dropRight(1) + s""","samples":$allSamples,"profile":$profJson}""")
    spark.stop()
    // a failed query must fail the run visibly, not just in the JSON
    if (errors.nonEmpty) sys.exit(1)
  }
}
