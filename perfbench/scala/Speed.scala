package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.ops.CryptoPipeline
import graft.schemas.Schemas
import graft.streaming.{CryptoStreamJob, DriftForecaster, StreamingMetrics}

/** The speed layer as a closed loop: one client thread writes micro-batch
  * k of a seeded feed (tweets + wide price ticks), then waits until every
  * query has committed it before writing k + 1.
  *
  * Queries, all running concurrently:
  *  - `CryptoStreamJob.start`: the windowed tweets x prices cogroup into a
  *    parquet sink;
  *  - `StreamingMetrics.dedupStream` on tweet ids into a parquet sink;
  *  - `DriftForecaster.forecast` on the exploded price ticks into a
  *    parquet sink (per-symbol keyed state).
  *
  * After the loop every sink is compared with a batch recompute of the
  * same feed, split the way the stream split it.
  */
object Speed {
  final case class Config(seed: Long, seconds: Double, trace: Boolean,
                          root: String, cores: Int)

  /** The reference's price symbols (FIXTURES.md A2; its live fetcher
    * publishes three of them, BASELINE.md). */
  val Symbols: Seq[String] = Seq("ETH", "SOL", "FTM")
  /** Event-time span of one micro-batch: one 30 s window. Late rows are
    * dropped against the watermark of the batch before last, so a row
    * is surely late only when it is more than two spans plus the
    * watermark behind; [[LateMs]] is. */
  val BatchSpanMs = 30000L
  /** The reference's publish cadences (BASELINE.md): a burst of 20 tweets
    * every 4 s, one wide price message every 15 s. */
  val BurstEveryMs = 4000L
  val BurstSize = 20
  val PriceEveryMs = 15000L
  /** Out of order: back by more than one price interval (so a moved
    * price lands between two earlier ones) and less than the watermark. */
  val OutOfOrderMs = 20000L
  /** Late: past the watermark (the `StreamLatency stress` shape,
    * COVERAGE.md). */
  val LateMs = 120000L
  val T0Ms = 1704067200000L // 2024-01-01T00:00:00Z
  val WarmBatches = 6
  /** Batches per timed pass; sweep_s is the median pass wall time. */
  val PassBatches = 5
  val Watermark = "30 seconds"

  final case class Tweet(id: String, text: String, symbol: String,
                         tsMs: Long, late: Boolean)
  final case class Price(tsMs: Long, prices: Seq[Double])
  final case class FeedBatch(tweets: Seq[Tweet], prices: Seq[Price])

  /** Micro-batch k of the feed for `seed`, at the reference's rates (30 s
    * of event time: 7 or 8 bursts of 20 tweets, 2 wide price rows).
    *
    * Tweets follow the `StreamLatency stress` shape (COVERAGE.md): a burst shares one Zipf-skewed symbol and one event-time
    * instant, and one new burst in ten arrives 120 s late, past the
    * watermark. Three shares have no source in the reference and are this
    * benchmark's choice: another new burst in ten, and one price row in
    * ten, arrive 20 s out of order (inside the watermark; the same share
    * as the late one); a quarter of the bursts re-send one of the last 12
    * on-time bursts verbatim, as the reference's replay simulator loops
    * over its captured tweets, so the dedup state sees duplicates. Prices
    * are a random walk per symbol. */
  final class Feed(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val walk = Array.tabulate(Symbols.size)(i => 100.0 * (i + 1))
    private val recent = mutable.ArrayBuffer[Seq[Tweet]]()
    private val zipf = {
      val w = Symbols.indices.map(i => 1.0 / (i + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    private def symbol(): String = {
      val u = rnd.nextDouble()
      Symbols(zipf.indexWhere(_ > u).max(0))
    }
    private def text(): String =
      Seq.fill(8 + rnd.nextInt(23))(Gen.Vocab(rnd.nextInt(Gen.Vocab.size)))
        .mkString(" ")

    /** Event times of the publishes, one every `everyMs`, that fall
      * into batch k's span. */
    private def slots(k: Int, everyMs: Long): Seq[Long] = {
      def first(j: Long) = (j * BatchSpanMs + everyMs - 1) / everyMs
      (first(k) until first(k + 1L)).map(m => T0Ms + m * everyMs)
    }

    def batch(k: Int): FeedBatch = {
      val lateOk = k >= 3
      val tweets = slots(k, BurstEveryMs).zipWithIndex.flatMap { case (at, b) =>
        if (recent.nonEmpty && rnd.nextDouble() < 0.25)
          recent(rnd.nextInt(recent.size))
        else {
          val u = rnd.nextDouble()
          val shift = if (lateOk && u < 0.1) -LateMs
            else if (u < 0.2) -OutOfOrderMs else 0L
          val ts = at + shift
          val sym = symbol()
          val burst = (0 until BurstSize).map(i =>
            Tweet(s"t$k-$b-$i", text(), sym, ts, shift == -LateMs))
          if (shift == 0L) recent += burst
          burst
        }
      }
      if (recent.size > 12) recent.remove(0, recent.size - 12)
      val prices = slots(k, PriceEveryMs).map { at =>
        val ts = at - (if (rnd.nextDouble() < 0.1) OutOfOrderMs else 0L)
        Price(ts, walk.indices.map { i =>
          walk(i) = math.max(1.0, walk(i) + rnd.nextGaussian() * walk(i) * 0.001)
          math.rint(walk(i) * 100) / 100
        })
      }
      FeedBatch(tweets, prices)
    }
  }

  private def isoOf(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  def tweetsJson(b: FeedBatch): String = b.tweets.map { t =>
    s"""{"id":"${t.id}","text":"${t.text}","author_id":"a${t.id.hashCode & 1023}",""" +
      s""""crypto_key":"${t.symbol}","created_at_iso":"${isoOf(t.tsMs)}",""" +
      s""""timestamp_ms":${t.tsMs},"timestamp_sec":${t.tsMs / 1000}}"""
  }.mkString("", "\n", "\n")

  def pricesJson(b: FeedBatch): String = b.prices.map { p =>
    (s""""timestamp":${p.tsMs}""" +: Symbols.zip(p.prices).map {
      case (s, v) => s""""$s":$v""" }).mkString("{", ",", "}")
  }.mkString("", "\n", "\n")

  val PriceSchema: StructType = StructType(
    StructField("timestamp", LongType) +: Symbols.map(StructField(_, DoubleType)))

  /** File-source log offset in a progress offset string
    * (`{"logOffset":n}`); -1 before the first file. */
  private def logOffset(json: String): Long =
    Option(json).flatMap("\\d+".r.findFirstIn).map(_.toLong).getOrElse(-1L)

  /** One committed data-carrying micro-batch of one query. */
  final case class Commit(query: java.util.UUID, atMs: Double,
                          durations: Map[String, Double],
                          files: Seq[(Long, Long)])

  /** Tracks, per query and source, the last file committed. The closed
    * loop lands one file per source directory at a time, so each file is
    * one entry of the source's log and log offset k is feed batch k. */
  private final class Progress extends StreamingQueryListener {
    val committed = mutable.Map[java.util.UUID, Long]().withDefaultValue(-1L)
    val commits = mutable.ArrayBuffer[Commit]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized(notifyAll())
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        val files = p.sources.toSeq.map(s =>
          (logOffset(s.startOffset), logOffset(s.endOffset)))
        committed(p.id) = files.map(_._2).min
        val ops = p.stateOperators.toSeq
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap ++ Map(
          "state.rows_total" -> ops.map(_.numRowsTotal).sum.toDouble,
          "state.rows_updated" -> ops.map(_.numRowsUpdated).sum.toDouble,
          "state.mem_bytes" -> ops.map(_.memoryUsedBytes).sum.toDouble,
          "state.commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
          "state.dropped_late_rows" ->
            ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
        if (p.numInputRows > 0) commits += Commit(p.id, Common.nowMs, d, files)
        notifyAll()
      }
  }

  def run(spark: SparkSession, cfg: Config): Map[String, Any] = {
    import spark.implicits._
    val root = cfg.root
    val tweetsDir = s"$root/feed/tweets"
    val pricesDir = s"$root/feed/prices"
    val stage = s"$root/feed/stage"
    Seq(tweetsDir, pricesDir, stage).foreach(d => Files.createDirectories(Paths.get(d)))
    val progress = new Progress
    spark.streams.addListener(progress)
    // no extra micro-batch just to move the watermark: every batch the
    // loop waits for carries data
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // an idle query lists its sources every 100 ms (see `step`)
    spark.conf.set("spark.sql.streaming.pollingDelay", "100ms")

    val cryptoQ = CryptoStreamJob.start(spark, tweetsDir, pricesDir, Symbols,
      s"$root/sink/crypto", s"$root/ckpt/crypto")
    val tweets = StreamingMetrics.fileStream(spark, Schemas.tweetSchema, tweetsDir)
    val dedupQ = StreamingMetrics.dedupStream(
        tweets.select(col("id"), col("text"), col("crypto_key"),
          col("created_at_iso").as("event_time")),
        "event_time", Watermark, Seq("id"))
      .writeStream.format("parquet").outputMode("append")
      .option("path", s"$root/sink/dedup")
      .option("checkpointLocation", s"$root/ckpt/dedup").start()
    val ticks = CryptoPipeline.explodePrices(
        StreamingMetrics.fileStream(spark, PriceSchema, pricesDir), Symbols)
      .select(col("symbol"), timestamp_millis(col("timestamp")).as("ts"),
        col("price"))
      .as[DriftForecaster.Tick]
    val forecastQ = DriftForecaster.forecast(ticks).toDF()
      .writeStream.format("parquet").outputMode("append")
      .option("path", s"$root/sink/forecast")
      .option("checkpointLocation", s"$root/ckpt/forecast").start()
    val queries = Seq(cryptoQ, dedupQ, forecastQ)

    val feed = new Feed(cfg.seed)
    val fed = mutable.ArrayBuffer[FeedBatch]()
    var attempted = 0L
    val errors = mutable.ArrayBuffer[String]()

    /** Writes batch k and waits for every query to commit it; the latency
      * runs from the last file landing to the last commit. */
    def step(k: Int): Double = {
      val b = feed.batch(k)
      fed += b
      attempted += 1
      // Right after a commit a query lists its sources once more, then
      // sleeps for the polling delay. Landing the files inside that sleep,
      // back to back, keeps a listing from falling between them and
      // splitting the batch across two micro-batches of the cogroup.
      Thread.sleep(25)
      val files = Seq(tweetsDir -> tweetsJson(b), pricesDir -> pricesJson(b))
        .zipWithIndex.map { case ((dir, body), i) =>
          val tmp = Paths.get(stage, f"b$k%05d-$i.json")
          Files.write(tmp, body.getBytes("UTF-8"))
          tmp -> Paths.get(dir, f"b$k%05d.json")
        }
      files.foreach { case (tmp, dst) =>
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      }
      val t0 = Common.nowMs
      val deadline = t0 + 60000
      progress.synchronized {
        while (queries.exists(q => progress.committed(q.id) < k) &&
               queries.forall(_.isActive) && Common.nowMs < deadline)
          progress.wait(50)
      }
      val dead = queries.filterNot(_.isActive)
      if (dead.nonEmpty || Common.nowMs >= deadline) {
        errors += s"batch $k: " + dead.flatMap(_.exception).map(_.toString.take(300))
          .headOption.getOrElse("not committed within 60 s")
        throw new IllegalStateException(errors.last)
      }
      progress.synchronized {
        queries.map(q => progress.commits.filter(_.query == q.id).last.atMs).max - t0
      }
    }

    val trace = if (cfg.trace) Some(new Trace(spark)) else None
    val passS = mutable.ArrayBuffer[Double]()
    val passCpuS = mutable.ArrayBuffer[Double]()
    val tracedPassS = mutable.ArrayBuffer[Double]()
    val batchMs = mutable.ArrayBuffer[Double]()
    val tracedBatchMs = mutable.ArrayBuffer[Double]()
    val layerSum = mutable.Map[String, Double]()
    var rowsTimed = 0L
    var setupS = Double.NaN
    var k = 0
    try {
      Common.log("queries started")
      (0 until WarmBatches).foreach { _ =>
        val l = step(k); k += 1
        Common.log(f"warm-up batch: $l%.0f ms")
      }
      setupS = Common.sinceLaunchS
      val window = if (cfg.trace) 2 * cfg.seconds else cfg.seconds
      val t0 = Common.nowMs
      var pass = 0
      while (pass < (if (cfg.trace) 4 else 2) || (Common.nowMs - t0) / 1000 < window) {
        val traced = cfg.trace && Trace.tracedPass(pass)
        val written0 = if (traced) writtenFiles(root) else (0L, 0L)
        val c0 = Common.cpuS
        val w0 = Common.nowMs
        val s0 = trace.filter(_ => traced).map(_.begin())
        val first = fed.size
        val lat = (0 until PassBatches).map { _ => val l = step(k); k += 1; l }
        val wall = (Common.nowMs - w0) / 1000
        Common.log(f"pass $pass${if (traced) " (traced)" else ""}: " +
          f"$wall%.2f s, batches ${lat.map(l => f"$l%.0f").mkString(" ")} ms")
        if (traced) {
          tracedPassS += wall; tracedBatchMs ++= lat
          Trace.accumulate(layerSum, trace.get.end(s0.get))
          val written = writtenFiles(root)
          Trace.accumulate(layerSum, Map(
            "sink.bytes" -> (written._1 - written0._1).toDouble,
            "sink.files" -> (written._2 - written0._2).toDouble))
        } else {
          passS += wall; passCpuS += Common.cpuS - c0; batchMs ++= lat
          rowsTimed += fed.drop(first).map(b => b.tweets.size + b.prices.size).sum
        }
        pass += 1
      }
    } catch {
      case e: Exception =>
        if (!errors.contains(e.getMessage)) errors += e.toString.take(300)
    }
    if (setupS.isNaN) setupS = Common.sinceLaunchS
    val commits = progress.synchronized(progress.commits.toList)
    Common.log(s"${fed.size} batches fed, crypto committed " +
      s"${commits.count(_.query == cryptoQ.id)} micro-batches")
    queries.foreach(q => try q.stop() catch { case _: Exception => () })
    spark.streams.removeListener(progress)

    // parity with a batch recompute of the same feed
    val checks = Seq(
      "crypto" -> (() => checkCrypto(spark, root, fed.toSeq,
        commits.filter(_.query == cryptoQ.id).map(_.files))),
      "dedup" -> (() => checkDedup(spark, root, fed.toSeq)),
      "forecast" -> (() => checkForecast(spark, root, fed.toSeq)))
    if (errors.isEmpty) checks.foreach { case (name, check) =>
      Common.log(s"checking the $name sink")
      attempted += 1
      try check().foreach(m => errors += s"$name: $m")
      catch { case e: Exception => errors += s"$name: ${e.toString.take(300)}" }
    }

    val base = Map[String, Any](
      "attempted" -> attempted, "failed" -> errors.size,
      "errors" -> errors.toSeq, "setup_s" -> setupS,
      "pass_s" -> passS.toSeq, "pass_cpu_s" -> passCpuS.toSeq,
      "op_ms" -> batchMs.toSeq,
      "rows_per_s" -> rowsTimed / passS.sum,
      "peak_rss_mb" -> Common.peakRssMb)
    trace match {
      case None => base
      case Some(_) =>
        val layers = Trace.perPass(layerSum, tracedPassS.toSeq, cfg.cores)
        layers("trace.overhead_pct") =
          (Stats.median(tracedBatchMs.toSeq) / Stats.median(batchMs.toSeq) - 1) * 100
        // progress phases, per data-carrying query batch, after warm-up
        val measured = commits.filter(_.files.forall(_._2 >= WarmBatches))
          .map(_.durations)
        def med(key: String) = Stats.median(measured.map(_.getOrElse(key, 0.0)))
        Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
          "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
          "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
          .foreach { case (p, key) => layers(s"streaming.$key") = med(p) }
        layers("scheduler.jobs_per_batch") = layerSum.getOrElse("scheduler.jobs", 0.0) /
          math.max(1, tracedBatchMs.size)
        val last = queries.flatMap(q => commits.filter(_.query == q.id)
          .lastOption.map(_.durations))
        layers("state.rows_total") = last.map(_("state.rows_total")).sum
        layers("state.mem_bytes") = last.map(_("state.mem_bytes")).sum
        Seq("state.rows_updated", "state.commit_ms", "state.dropped_late_rows")
          .foreach(key => layers(key) = measured.map(_(key)).sum / (passS.size + tracedPassS.size).max(1))
        Seq("sink.bytes", "sink.files").foreach(key =>
          layers(key) = layerSum.getOrElse(key, 0.0) / tracedPassS.size.max(1))
        Gen.tables(spark, s"$root/probe", Gen.Mix, Batch.DataSeed)
        layers("sources.scan_ms") = Probes.scanMs(spark, s"$root/probe")
        layers ++= Probes.kernelMs(spark, s"$root/kernels")
        base ++ Map("layers" -> layers)
    }
  }

  /** (bytes, files) under the sinks and checkpoints. */
  private def writtenFiles(root: String): (Long, Long) = {
    val (b, f) = Common.dirBytes(new java.io.File(s"$root/sink"))
    val (cb, cf) = Common.dirBytes(new java.io.File(s"$root/ckpt"))
    (b + cb, f + cf)
  }

  private def jsonFiles(root: String, kind: String, ks: Seq[Int]): Seq[String] =
    ks.map(k => f"$root/feed/$kind/b$k%05d.json")

  /** The crypto sink against one run of `windowedCryptoMetrics` over the
    * whole feed, split the way the stream split it. `splits` holds, per
    * committed micro-batch, the (start, end] log offsets of its tweets and
    * prices sources (log offset k is file k). Each micro-batch's event
    * times are moved into an epoch of their own, a whole number of windows
    * apart, so that windows never merge across micro-batches; the epoch is
    * then taken off the window bounds. */
  def checkCrypto(spark: SparkSession, root: String, fed: Seq[FeedBatch],
                  splits: Seq[Seq[(Long, Long)]]): Option[String] = {
    val covered = splits.map(_.map(_._2)).lastOption.getOrElse(Nil)
    if (covered != Seq(fed.size - 1L, fed.size - 1L))
      return Some(s"stream committed files up to $covered of ${fed.size}")
    // micro-batch of each file, per source
    def batchOf(src: Int): Column = element_at(typedLit(splits.zipWithIndex
      .flatMap { case (s, m) => ((s(src)._1 + 1) to s(src)._2).map(_.toInt -> m) }
      .toMap), regexp_extract(input_file_name(), "b(\\d+)\\.json", 1).cast("int"))
    val epochMs = 30000L * 1000000L
    val tweets = spark.read.schema(Schemas.tweetSchema)
      .json(jsonFiles(root, "tweets", fed.indices): _*)
      .withColumn("created_at_iso", timestamp_millis(
        unix_millis(col("created_at_iso")) + batchOf(0) * epochMs))
    val prices = spark.read.schema(PriceSchema)
      .json(jsonFiles(root, "prices", fed.indices): _*)
      .withColumn("timestamp", col("timestamp") + batchOf(1) * epochMs)
    val batch = CryptoStreamJob.envelope(tweets, prices, Symbols)
    val metrics = CryptoPipeline.windowedCryptoMetrics(
      batch.filter(col("kind") === "tweet")
        .select(col("event_time").as("created_at_iso"),
          lit(null).cast("string").as("created_at_raw"),
          lit(null).cast("long").as("timestamp_ms"),
          col("symbol").as("crypto_key"), col("text")),
      batch.filter(col("kind") === "price")
        .select(col("symbol"), col("price"),
          unix_millis(col("event_time")).as("timestamp")),
      "30 seconds")
    val epochOff = ((unix_millis(col("window_start")) - T0Ms + epochMs / 2) / epochMs)
      .cast("long") * epochMs
    compare(spark.read.parquet(s"$root/sink/crypto"), metrics
      .withColumn("_off", epochOff)
      .withColumn("window_start", timestamp_millis(unix_millis(col("window_start")) - col("_off")))
      .withColumn("event_timestamp",
        timestamp_millis(unix_millis(col("event_timestamp")) - col("_off")))
      .drop("_off"))
  }

  /** The dedup sink against a batch dedup over the on-time tweets: every
    * replay lands within the watermark of its first copy, so keeping one
    * row per id is what the within-watermark dedup promises. */
  def checkDedup(spark: SparkSession, root: String,
                 fed: Seq[FeedBatch]): Option[String] = {
    import spark.implicits._
    val onTime = fed.flatMap(_.tweets).filterNot(_.late)
      .map(t => (t.id, t.text, t.symbol, new Timestamp(t.tsMs)))
      .toDF("id", "text", "crypto_key", "event_time")
    compare(spark.read.parquet(s"$root/sink/dedup"), onTime.dropDuplicates("id"))
  }

  /** The forecast sink against `DriftForecaster.step` folded over each
    * micro-batch's ticks in event-time order, per symbol. */
  def checkForecast(spark: SparkSession, root: String,
                    fed: Seq[FeedBatch]): Option[String] = {
    import spark.implicits._
    val state = mutable.Map[String, DriftForecaster.State]()
    val out = fed.flatMap { b =>
      b.prices.flatMap(p => Symbols.zip(p.prices).map { case (s, v) => (s, p.tsMs, v) })
        .groupBy(_._1).toSeq.flatMap { case (sym, ts) =>
          ts.sortBy(_._2).map { case (_, ms, price) =>
            val (next, fc) = DriftForecaster.step(state.get(sym), price)
            state(sym) = next
            DriftForecaster.Forecast(sym, new Timestamp(ms), price, fc)
          }
        }
    }
    compare(spark.read.parquet(s"$root/sink/forecast"), out.toDF())
  }

  private def compare(actual: DataFrame, expected: DataFrame): Option[String] = {
    val a = Common.fingerprint(actual.select(expected.columns.map(col).toSeq: _*))
    val e = Common.fingerprint(expected)
    if (a == e) None else Some(s"sink $a, recompute $e")
  }
}
