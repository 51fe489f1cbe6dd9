package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingMetrics

/** Steady-state micro-batch latency for the speed layer at the
  * reference's 30 s publish cadence: the per-batch processing time a
  * 30 s-trigger deployment observes under a SUSTAINED input rate — the number that says whether the pipeline
  * keeps up (p95 batch duration well under the trigger interval = idle
  * headroom; approaching it = backlog forming).
  *
  * Protocol: the `rate` source emits rows at `rowsPerSecond`, shaped
  * deterministically into the events schema (ts/event_type/user_id/
  * value); [[StreamingMetrics.cogroupedMetricsSink]] — the J1 windowed
  * cogroup, the reference's flagship streaming assembly — drains to the
  * noop sink under `Trigger.ProcessingTime(triggerSec)`. Batch
  * durations come from `StreamingQueryProgress.durationMs
  * ("triggerExecution")`; the first `skip` non-empty batches are warmup
  * (state-store init + codegen) and are excluded.
  *
  * Run: `runMain graft.StreamLatency [rateA,rateB,...] [triggerSec]
  * [batches] [shape] [provider] [keyCard]` (defaults: 50000,500000
  * rows/s, 30 s, 6 measured batches after 2 warmup, shape `uniform`,
  * provider `hdfs`, keyCard 10000). Writes one JSON line to stdout
  * and, best-effort, to SPARK_GRAFT_STREAM_LAT_OUT (default
  * bench/STREAM_LATENCY.json).
  *
  * `provider` selects the state-store backend: `hdfs` is Spark's
  * default on-heap HDFSBackedStateStoreProvider; `rocksdb` is the
  * production posture for state that outgrows the heap
  * (RocksDBStateStoreProvider — native off-heap memtables + SST files,
  * the backend StreamingEventDedup's scaladoc already prescribes).
  * `keyCard` is the user-key cardinality of the synthetic feed — the
  * state-size dial: state rows ≈ live windows x keys, so raising it
  * with a small SPARK_DRIVER_MEM heap produces the
  * state-larger-than-heap cell the 100 TB posture claim needs. The
  * JSON records provider, key_card, state-store memory
  * (`memoryUsedBytes` — the provider's own figure: on-heap estimate
  * for hdfs, NATIVE memtable+block-cache bytes for rocksdb — plus the
  * pinned-block-cache custom metric as a supplement) and the JVM max
  * heap alongside the latency percentiles.
  *
  * Shape `stress` reproduces the reference feed's adversarial traits
  * instead of a uniform row spray (the tweet simulator emits 20-message
  * bursts, `twitter/stream_simulator_continuous.py:210`, and symbols are
  * Zipf-skewed): rows arrive in 20-row BURSTS that share key + a single
  * event-time instant; the user key is cube-skewed (u = ⌊10000·h³⌋ for
  * uniform h — the hottest key draws ~4.6% of ALL rows, the kind of hot
  * (window, key) group that stresses the shuffle and the state store);
  * and 10% of bursts arrive 120 s LATE — beyond the 30 s watermark, so
  * they exercise the discard-late path instead of growing state. All
  * shaping is deterministic column algebra over the rate source's
  * monotone `value`. The JSON adds per-rate state-store rows (last
  * measured batch) and watermark-dropped rows (sum over measured
  * batches) so the artifact also says what state the stress left
  * behind.
  */
object StreamLatency {
  def main(args: Array[String]): Unit = {
    val rates = args.lift(0).getOrElse("50000,500000")
      .split(",").map(_.trim.toLong).toSeq
    val triggerSec = args.lift(1).getOrElse("30").toInt
    val batches = args.lift(2).getOrElse("6").toInt
    val shape = args.lift(3).getOrElse("uniform")
    require(shape == "uniform" || shape == "stress", s"shape $shape")
    // rocksdb_changelog = RocksDB + changelog checkpointing (per-batch
    // delta upload instead of a full snapshot — the knob that moves
    // checkpoint cost out of the batch-duration critical path)
    val provider = args.lift(4).getOrElse("hdfs")
    require(Seq("hdfs", "rocksdb", "rocksdb_changelog").contains(provider),
      s"provider $provider")
    val keyCard = args.lift(5).getOrElse("10000").toLong
    val skip = 2
    val cpus = Harness.cpus
    // state shards = shuffle partitions; default ties them to the
    // thread count (the r13-r16 cells), the env override unties them so
    // "more shards" is measurable WITHOUT thread oversubscription — on
    // a cluster the two are set independently (executors x cores vs
    // spark.sql.shuffle.partitions), and the r17 64-thread cell showed
    // the tied layout conflates the two levers past the core count
    val parts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS",
      cpus.toString).toInt
    val rocksdb = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val changelog = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled" -> "true"
    val store = provider match {
      case "hdfs" => Nil
      case "rocksdb" => Seq(rocksdb)
      case _ => Seq(rocksdb, changelog)
    }
    val spark = Harness.session(
      Seq("spark.sql.shuffle.partitions" -> parts.toString) ++ store: _*)
    val root = Files.createTempDirectory("graft_streamlat").toString
    // the checkpoint scratch holds the run's full RocksDB state uploads
    // (4-10 GiB per wall-shaped run): left behind, a campaign of them
    // fills /tmp and the NEXT run dies on ENOSPC mid-batch (r18).
    // A shutdown hook covers normal exit and uncaught exceptions; a
    // hard JVM abort (the known RocksDB JNI info-logger teardown
    // SIGSEGV, SCALE.md r16) skips hooks, so campaign scripts should
    // still `rm -rf /tmp/graft_streamlat*` between runs as backstop.
    sys.addShutdownHook {
      deleteRecursively(new java.io.File(root))
    }

    // rate rows -> events shape, pure deterministic column algebra
    def source(rate: Long): DataFrame = {
      val base = spark.readStream.format("rate")
        .option("rowsPerSecond", rate.toString)
        .load()
      if (shape == "uniform")
        base.select(
          col("timestamp").as("ts"),
          element_at(
            array(lit("click"), lit("view"), lit("purchase")),
            (pmod(col("value"), lit(3)) + 1).cast("int")).as("event_type"),
          pmod(col("value"), lit(keyCard)).as("user_id"),
          (pmod(col("value"), lit(997L)).cast("double") / 10.0).as("value"))
      else {
        // burst id: 20 consecutive rows form one burst sharing key,
        // event_type and a single event-time instant (truncated to the
        // second) — the reference simulator's 20-message clump
        val bid = floor(col("value") / 20L).cast("long")
        // cube-skewed key: h uniform in [0,1) from the burst id's hash,
        // u = floor(keyCard*h^3) — at the default 10000 keys P(u=0) =
        // (1e-4)^(1/3) ~ 4.6% of rows
        val h = pmod(xxhash64(bid), lit(1000000L)).cast("double") / 1e6
        val skewedUser = floor(h * h * h * keyCard.toDouble).cast("long")
        // every 10th burst arrives 120 s late — beyond the 30 s
        // watermark, so the discard-late path runs at a steady 10%
        val late = pmod(bid, lit(10L)) === 0L
        base.select(
          when(late,
            date_trunc("second",
              col("timestamp") - expr("interval 120 seconds")))
            .otherwise(date_trunc("second", col("timestamp"))).as("ts"),
          element_at(
            array(lit("click"), lit("view"), lit("purchase")),
            (pmod(bid, lit(3)) + 1).cast("int")).as("event_type"),
          skewedUser.as("user_id"),
          (pmod(col("value"), lit(997L)).cast("double") / 10.0).as("value"))
      }
    }

    def measure(rate: Long): String = {
      val q = StreamingMetrics.cogroupedMetricsSink(
          source(rate), Seq("click", "view"), Seq("purchase"),
          "30 seconds", "30 seconds") { (df, _) =>
          df.write.format("noop").mode("overwrite").save()
        }
        .option("checkpointLocation", s"$root/ckpt_$rate")
        .trigger(Trigger.ProcessingTime(s"$triggerSec seconds"))
        .start()
      def nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      try {
        while (nonEmpty.length < skip + batches) Thread.sleep(500)
      } finally q.stop()
      val measured = nonEmpty.slice(skip, skip + batches)
      val durs = measured
        .map(_.durationMs.get("triggerExecution").toDouble).sorted
      def pct(p: Double): Double =
        durs(math.min(durs.length - 1, (p * durs.length).toInt))
      val meanRows =
        measured.map(_.numInputRows).sum / measured.length
      // state the run leaves behind: store rows after the last measured
      // batch; watermark-discarded rows summed over the measured window.
      // Drops are counted where Spark counts them — at the state
      // operator, AFTER map-side partial aggregation — so under burst
      // shaping one dropped row ≈ one late (window, key, user) partial,
      // not one raw input row
      val stateRows = measured.lastOption.toSeq
        .flatMap(_.stateOperators).map(_.numRowsTotal).sum
      val lateDropped = measured
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      // state-store memory after the last measured batch:
      // memoryUsedBytes is the provider's own figure — on-heap estimate
      // for hdfs, NATIVE memtable+block-cache usage for rocksdb — so it
      // is already the "native state vs JVM heap" number for the
      // rocksdb postures. Spark 4.1.2 exposes no
      // 'rocksdbTotalMemoryUsage' custom metric (r16 artifacts recorded
      // a constant 0 under that name); the one native-memory custom
      // metric it does expose is the pinned-block-cache slice, recorded
      // here as a supplement
      val lastOps = measured.lastOption.toSeq.flatMap(_.stateOperators)
      val stateMem = lastOps.map(_.memoryUsedBytes).sum
      val rocksMem = lastOps.map(o =>
        Option(o.customMetrics.get("rocksdbPinnedBlocksMemoryUsage"))
          .map(_.longValue).getOrElse(0L)).sum
      // total on-disk SST bytes: with memtables bounded, this is where
      // state-larger-than-heap actually lives
      val rocksSst = lastOps.map(o =>
        Option(o.customMetrics.get("rocksdbSstFileSize"))
          .map(_.longValue).getOrElse(0L)).sum
      System.err.println(f"[streamlat] rate=$rate%d p50=${pct(0.50)}%.0f " +
        f"p95=${pct(0.95)}%.0f max=${durs.last}%.0f ms " +
        f"rows/batch=$meanRows%d state_rows=$stateRows%d " +
        f"state_mem=$stateMem%d rocks_pinned=$rocksMem%d " +
        f"late_dropped=$lateDropped%d")
      s"""{"rows_per_sec":$rate,"batches":$batches,""" +
        f""""p50_ms":${pct(0.50)}%.0f,"p95_ms":${pct(0.95)}%.0f,""" +
        f""""max_ms":${durs.last}%.0f,"mean_rows_per_batch":$meanRows%d,""" +
        s""""state_rows_total":$stateRows,""" +
        s""""state_mem_bytes":$stateMem,""" +
        s""""rocksdb_pinned_mem_bytes":$rocksMem,""" +
        s""""rocksdb_sst_bytes":$rocksSst,""" +
        s""""late_dropped_rows":$lateDropped}"""
    }

    // per-rate warmup is the `skip` window above (state-store init +
    // first-ever codegen land in the excluded batches)
    val results = rates.map(measure)
    val line = s"""{"metric":"stream_batch_latency","unit":"ms",""" +
      s""""cpus":$cpus,"partitions":$parts,""" +
      s""""trigger_sec":$triggerSec,"shape":"$shape",""" +
      s""""provider":"$provider","key_card":$keyCard,""" +
      s""""heap_bytes":${Runtime.getRuntime.maxMemory},""" +
      s""""results":[${results.mkString(",")}]}"""
    println(line)
    Harness.writeArtifact(sys.env.getOrElse("SPARK_GRAFT_STREAM_LAT_OUT",
      "bench/STREAM_LATENCY.json"), line)
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
