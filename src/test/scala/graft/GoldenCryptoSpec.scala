package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import graft.ops.CryptoPipeline
import graft.schemas.Schemas
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import scala.jdk.CollectionConverters._

/** Golden-file test of the reference's own flagship slice
  * (`build_windowed_metrics`, batch_to_mongo.py:201-238) over
  * reference-shaped fixtures (FIXTURES.md §A schemas; fixture data is our
  * own, shaped to the reference's record layout).
  */
class GoldenCryptoSpec extends SparkSpec {

  import spark.implicits._

  private def res(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed crypto metrics over JSON fixtures match golden rows") {
    val tweets = Sources.jsonArray(spark, Schemas.tweetSchema,
      res("tweets.json"))
    assert(tweets.count() === 5)
    val wide = spark.read.json(res("prices_wide.jsonl"))
    val prices = CryptoPipeline.explodePrices(wide,
      Seq("ETH", "SOL", "FTM", "SHIB"))
    assert(prices.count() === 6)

    val out = CryptoPipeline.windowedCryptoMetrics(tweets, prices,
      "30 seconds")
    val rows = out.collect().map { r =>
      (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("symbol")) ->
        (r.getAs[Long]("tweet_volume"),
          Option(r.getAs[java.lang.Double]("avg_price")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("last_price")).map(_.doubleValue),
          Option(r.getAs[scala.collection.Seq[String]]("tweet_texts"))
            .map(_.toList))
    }.toMap

    assert(rows.size === 5)
    val w0 = "2025-12-29 15:41:00.0"
    val w1 = "2025-12-29 15:41:30.0"
    assert(rows((w0, "ETH")) === ((2L, Some(3005.0), Some(3010.0),
      Some(List("ETH looking strong", "ETH to the moon")))))
    assert(rows((w0, "SOL")) === ((1L, Some(150.0), Some(150.0),
      Some(List("selling all my SOL")))))
    assert(rows((w0, "SHIB")) === ((0L, Some(1.0e-5), Some(1.0e-5), None)))
    assert(rows((w1, "ETH")) === ((1L, Some(3020.0), Some(3020.0),
      Some(List("ETH dip incoming")))))
    assert(rows((w1, "FTM")) === ((0L, Some(0.5), Some(0.5), None)))
    // the null-crypto_key tweet (P1) is dropped: no null-symbol row
    assert(!rows.keys.exists(_._2 == null))
  }

  /** A temp root with the golden fixtures as file-stream inputs:
    * `tweets/` (one JSON line per tweet) and `prices/`. */
  private def stageFixtures(): String = {
    val root = Files.createTempDirectory("crypto_stream").toString
    Seq("tweets", "prices").foreach(d =>
      Files.createDirectories(Paths.get(root, d)))
    // tweet fixture is a JSON array; the file stream wants JSON lines
    writeTweets(root, "t", Sources.jsonArray(spark, Schemas.tweetSchema,
      res("tweets.json")))
    Files.copy(Paths.get(res("prices_wide.jsonl")),
      Paths.get(root, "prices", "p0.json"),
      StandardCopyOption.REPLACE_EXISTING)
    root
  }

  private def writeTweets(root: String, prefix: String,
                          tweets: DataFrame): Unit =
    tweets.toJSON.collect().zipWithIndex.foreach { case (line, i) =>
      Files.write(Paths.get(root, "tweets", s"$prefix$i.json"),
        line.getBytes("UTF-8"))
    }

  private def startJob(root: String) =
    graft.streaming.CryptoStreamJob.start(spark,
      s"$root/tweets", s"$root/prices",
      Seq("ETH", "SOL", "FTM", "SHIB"),
      s"$root/out", s"$root/ckpt")

  test("CryptoStreamJob runs the speed layer end-to-end on the fixtures") {
    val root = stageFixtures()
    val q = startJob(root)
    try {
      q.processAllAvailable()
      // a second micro-batch whose tweets all lack a crypto_key: no row
      // reaches a window, and the query still commits the batch
      writeTweets(root, "n", Sources.jsonArray(spark, Schemas.tweetSchema,
        res("tweets.json")).withColumn("crypto_key", lit(null).cast("string")))
      q.processAllAvailable()
      assert(q.lastProgress.batchId === 1L)
      assert(q.lastProgress.numInputRows === 5L)
    } finally q.stop()
    assert(Files.exists(Paths.get(root, "ckpt", "commits", "1")))

    val out = spark.read.parquet(s"$root/out")
    // all fixture files land in one micro-batch -> same five golden
    // windows; the empty batch adds none
    assert(out.count() === 5)
    val eth = out.filter($"symbol" === "ETH" &&
      $"window_start" === ts("2025-12-29 15:41:00")).collect().head
    assert(eth.getAs[Long]("tweet_volume") === 2L)
    assert(eth.getAs[Double]("last_price") === 3010.0)
    assert(eth.getAs[Timestamp]("event_timestamp") ===
      ts("2025-12-29 15:41:30")) // speed layer stamps window END (F7)
  }

  test("a data-carrying speed-layer micro-batch runs at most two jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val root = stageFixtures()
    // the streaming query id each job ran under ("" outside any query)
    val jobQueries = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobQueries.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .getOrElse(""))
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = startJob(root)
      try q.processAllAvailable() finally q.stop()
      Bridge.drainListenerBus(spark)
      assert(q.recentProgress.count(_.numInputRows > 0) === 1)
      val jobs = jobQueries.asScala.count(_ == q.id.toString)
      info(s"$jobs jobs in the micro-batch")
      // one aggregate: its map stage and the parquet append
      assert(jobs <= 2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("batchMetrics over the envelope equals windowedCryptoMetrics (J1)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val symbols = Seq("ETH", "SOL", "FTM", "SHIB")
    // nullable copy: one tweet below has a null text
    val tweetSchema = StructType(
      Schemas.tweetSchema.map(_.copy(nullable = true)))
    // instants on 2025-12-29 UTC, whatever the JVM's zone
    def at(hms: String) = java.time.Instant.parse(s"2025-12-29T${hms}Z")
    def tweet(id: String, key: String, text: String, iso: String = null,
              raw: String = null, ms: String = null): Row =
      Row(id, text, null, key, raw,
        Option(iso).map(i => Timestamp.from(at(i))).orNull,
        Option(ms).map(m => at(m).toEpochMilli: java.lang.Long).orNull,
        null)
    // windows w0 = 15:41:00, w1 = 15:41:30, w2 = 15:42:00, w3 = 15:42:30
    val tweets = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      tweet("a", "ETH", "ETH to the moon", iso = "15:41:05"),
      tweet("b", "ETH", "ETH looking strong", ms = "15:41:12"),
      tweet("c", "ETH", null, iso = "15:41:20"),
      tweet("d", "SOL", "selling all my SOL",
        raw = "Mon Dec 29 15:41:07 +0000 2025"),
      tweet("e", null, "no key tweet", iso = "15:41:09"),
      tweet("f", "ETH", "no time", raw = "yesterday"),
      tweet("g", "FTM", null, iso = "15:41:40"),
      tweet("h", "ETH", "ETH dip incoming", iso = "15:41:50"),
      tweet("i", "SHIB", "SHIB w2", iso = "15:42:01"),
      tweet("j", "SOL", "b text", iso = "15:42:02"),
      tweet("k", "SOL", "a text", iso = "15:42:03"),
      tweet("l", "ETH", "late", iso = "15:42:40")), 3),
      tweetSchema)
    // prices are dyadic, so every price sum is exact whatever the
    // summation order; timestamps are tie-free per (window, symbol), and
    // w0's ETH ticks arrive latest-first
    val priceSchema = StructType.fromDDL(
      "timestamp BIGINT, ETH DOUBLE, SOL DOUBLE, FTM DOUBLE, SHIB DOUBLE")
    def wide(t: String, eth: java.lang.Double, sol: java.lang.Double,
             ftm: java.lang.Double, shib: java.lang.Double): Row =
      Row(Option(t).map(x => at(x).toEpochMilli: java.lang.Long).orNull,
        eth, sol, ftm, shib)
    val prices = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      wide("15:41:25", 3010.0, null, null, null),
      wide("15:41:05", 3000.0, null, null, 0.25),
      wide("15:41:15", 3004.5, null, null, null),
      wide("15:41:45", 3020.0, null, null, null),
      wide("15:41:35", 3015.5, 151.0, null, null),
      wide("15:42:10", null, 152.25, null, 0.5),
      wide(null, 1.0, 1.0, 1.0, 1.0),
      wide("15:42:40", null, null, 0.75, null)), 3),
      priceSchema)

    val got = graft.streaming.CryptoStreamJob.batchMetrics(
      graft.streaming.CryptoStreamJob.envelope(tweets, prices, symbols),
      "30 seconds")
    val want = CryptoPipeline.windowedCryptoMetrics(tweets,
      CryptoPipeline.explodePrices(prices, symbols), "30 seconds")
    assert(got.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType))
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case t: Timestamp => t.toInstant
        case v => v
      }).sortBy(_.take(3).mkString("|"))
    val expected = rows(want)
    assert(rows(got) === expected)

    // the feed reaches every case it is built for
    val byKey = expected.map(r => (r(0), r(2)) -> r).toMap
    assert(byKey.size === 10)
    val (w0, w1) = (at("15:41:00"), at("15:41:30"))
    assert(byKey((w0, "ETH")).drop(3) ===
      Seq(3L, 3004.8333333333335, 3010.0,
        List("ETH looking strong", "ETH to the moon")))
    assert(byKey((w0, "SOL")).drop(3) ===
      Seq(1L, null, null, List("selling all my SOL")))
    assert(byKey((w0, "SHIB")).drop(3) === Seq(0L, 0.25, 0.25, null))
    assert(byKey((w1, "FTM")).drop(3) === Seq(1L, null, null, Nil))
    assert(!byKey.keys.exists(_._2 == null))
  }

  test("sentiment + forecast surfaces compose on the same fixture (X1/X2)") {
    val tweets = Sources.jsonArray(spark, Schemas.tweetSchema,
      res("tweets.json"))
    val scored = graft.ops.TextOps.sentiment(tweets,
      posWords = Seq("moon", "strong"), negWords = Seq("selling", "dip"))
    val bySignal = scored.collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("action_signal"))
      .toMap
    assert(bySignal("t1") === "buy")   // "to the moon"
    assert(bySignal("t2") === "sell")  // "selling"
    assert(bySignal("t5") === "sell")  // "dip"
  }
}
