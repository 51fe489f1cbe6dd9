package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.CryptoPipeline
import graft.schemas.Schemas

/** The reference's speed layer assembled end-to-end (SURVEY.md §3.1):
  * tweet JSON stream + wide-price JSON stream -> event-time parse ->
  * explode -> 30 s windowed metrics with the full-outer CoGroupByKey
  * semantics -> parquet sink.
  *
  * Both sources normalize into one envelope stream (kind, event_time,
  * symbol, text, price) before a single watermark. The envelope is a
  * tagged union with `kind` as the tag, so each micro-batch cogroups it
  * with one aggregate over (window, symbol) whose aggregates are
  * conditioned on the tag ([[batchMetrics]]) — Beam's own expansion of
  * `CoGroupByKey` into one `GroupByKey` over the tagged union
  * (stream_join.py:479-524), with the full-outer semantics of
  * batch_to_mongo.py:201-238 (see SURVEY.md §7 risk 1 for why this beats a
  * stream-stream outer join here). Each micro-batch runs one execution:
  * the aggregate's map stage and the parquet append. The append per batch
  * id is the idempotent at-least-once sink (T8); it is unconditional, so a
  * batch whose rows all drop before the window (every tweet with a null
  * `crypto_key`, say) may leave one schema-only part file — an emptiness
  * guard would cost a second full execution of every batch.
  *
  * Scope note: metrics are computed over each micro-batch's arrivals —
  * exactly the reference's cron-batch discipline (every run windows the
  * new files and appends). A window spanning two micro-batches yields two
  * partial rows, as two reference cron runs would; downstream compaction
  * or an update-mode stateful aggregation tightens that when needed.
  */
object CryptoStreamJob {

  def envelope(tweets: DataFrame, pricesWide: DataFrame,
               symbols: Seq[String]): DataFrame = {
    val t = tweets
      .withColumn("event_time", CryptoPipeline.parseEventTime(
        col("created_at_iso"), col("created_at_raw"), col("timestamp_ms")))
      .filter(col("event_time").isNotNull && col("crypto_key").isNotNull)
      .select(lit("tweet").as("kind"), col("event_time"),
        col("crypto_key").as("symbol"), col("text"),
        lit(null).cast("double").as("price"))
    val p = CryptoPipeline.explodePrices(pricesWide, symbols)
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .filter(col("event_time").isNotNull)
      .select(lit("price").as("kind"), col("event_time"), col("symbol"),
        lit(null).cast("string").as("text"), col("price"))
    t.unionByName(p)
  }

  /** The windowed metrics of one batch of [[envelope]] rows: the columns
    * of `CryptoPipeline.windowedCryptoMetrics` over the same tweets and
    * price ticks, in the same order, from one aggregate instead of two
    * aggregates and a full-outer join. Every row is a tweet or a price, so
    * a (window, symbol) group exists exactly when either leg has a row;
    * `tweet_texts` is null where the window has no tweet, as the join
    * leaves it.
    */
  def batchMetrics(batch: DataFrame, dur: String): DataFrame = {
    val tweet = col("kind") === "tweet"
    val price = col("kind") === "price"
    batch
      .filter(col("event_time").isNotNull && col("symbol").isNotNull)
      .groupBy(window(col("event_time"), dur), col("symbol"))
      .agg(count(when(tweet, 1)).as("tweet_volume"),
        array_sort(collect_list(when(tweet, col("text")))).as("texts"),
        avg(when(price, col("price"))).as("avg_price"),
        max_by(col("price"), when(price, col("event_time")))
          .as("last_price"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("event_timestamp"),
        col("symbol"), col("tweet_volume"), col("avg_price"),
        col("last_price"),
        when(col("tweet_volume") > 0, col("texts")).as("tweet_texts"))
  }

  /** Start the job over file-source directories; returns the running query.
    */
  def start(spark: SparkSession, tweetsDir: String, pricesDir: String,
            symbols: Seq[String], outDir: String, checkpointDir: String,
            dur: String = "30 seconds",
            watermark: String = "30 seconds"): StreamingQuery = {
    val tweets = StreamingMetrics.fileStream(spark, Schemas.tweetSchema,
      tweetsDir)
    val priceSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.LongType) +:
      symbols.map(s => org.apache.spark.sql.types.StructField(s,
        org.apache.spark.sql.types.DoubleType)))
    val prices = StreamingMetrics.fileStream(spark, priceSchema, pricesDir)
    envelope(tweets, prices, symbols)
      .withWatermark("event_time", watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batchMetrics(batch, dur).write.mode("append").parquet(outDir)
      }
      .start()
  }
}
