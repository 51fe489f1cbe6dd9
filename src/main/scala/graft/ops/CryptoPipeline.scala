package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's crypto-shaped pipeline stages, re-expressed over its own
  * record schemas (SURVEY.md §1.3; FIXTURES.md §A). These are the
  * domain-facing entry points a user of the reference would call; the
  * generic operators they compose are tested against the DuckDB oracle via
  * the query catalog.
  */
object CryptoPipeline {

  /** E1/E2: wide price record -> long (symbol, price, timestamp) ticks,
    * null prices dropped (batch_to_mongo.py:169-198; stream_join.py:217-228).
    */
  def explodePrices(wide: DataFrame, symbols: Seq[String],
                    tsCol: String = "timestamp"): DataFrame = {
    val kvs = array(symbols.map(sym =>
      struct(lit(sym).as("symbol"),
        (if (wide.columns.contains(sym)) col(sym).cast(DoubleType)
         else lit(null).cast(DoubleType)).as("price"))): _*)
    wide.select(col(tsCol).as("timestamp"), explode(kvs).as("kv"))
      .select(col("kv.symbol"), col("kv.price"), col("timestamp"))
      .filter(col("price").isNotNull)
  }

  /** F1-F5: the reference's timestamp-parse fallback chain — RFC3339 with
    * Z, "yyyy-MM-dd HH:mm:ss", Twitter's "EEE MMM dd HH:mm:ss Z yyyy",
    * epoch millis — first non-null wins (stream_join.py:34-61,
    * batch_to_mongo.py:154-165, twitter/BigData.py:55). */
  def parseEventTime(isoCol: Column, rawCol: Column, msCol: Column): Column =
    coalesce(
      to_timestamp(isoCol),
      to_timestamp(isoCol, "yyyy-MM-dd HH:mm:ss"),
      // Twitter format "Mon Dec 29 15:41:00 +0000 2025": day-of-week text
      // ('EEE') is format-only in Spark 3+'s DateTimeFormatter, so strip
      // the 4-char prefix and parse the remainder.
      to_timestamp(substring(rawCol, 5, 26), "MMM dd HH:mm:ss Z yyyy"),
      timestamp_millis(msCol))

  /** The full batch-layer windowed metrics over reference-shaped inputs:
    * tweets (A1, A4) x prices (A2, A3) per (window, symbol), full-outer —
    * `build_windowed_metrics` (batch_to_mongo.py:201-238) semantics.
    * Speed layer stamps window end, batch layer window start (F7) — this
    * emits both.
    */
  def windowedCryptoMetrics(tweets: DataFrame, prices: DataFrame,
                            dur: String): DataFrame = {
    val t = tweets
      .withColumn("event_time",
        parseEventTime(col("created_at_iso"), col("created_at_raw"),
          col("timestamp_ms")))
      // P1 semantics: null-key tweets never reach the window
      // (stream_join.py:206-214 drops them at parse)
      .filter(col("event_time").isNotNull && col("crypto_key").isNotNull)
      .groupBy(window(col("event_time"), dur), col("crypto_key").as("symbol"))
      .agg(count(lit(1)).as("tweet_volume"),
        array_sort(collect_list(col("text"))).as("tweet_texts"))
      .select(col("window"), col("symbol"), col("tweet_volume"),
        col("tweet_texts"))
    val p = prices
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .filter(col("event_time").isNotNull && col("symbol").isNotNull)
      .groupBy(window(col("event_time"), dur), col("symbol"))
      .agg(avg(col("price")).as("avg_price"),
        max_by(col("price"), col("event_time")).as("last_price"))
      .select(col("window"), col("symbol"), col("avg_price"),
        col("last_price"))
    t.join(p, Seq("window", "symbol"), "full_outer")
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("event_timestamp"),
        col("symbol"),
        coalesce(col("tweet_volume"), lit(0L)).as("tweet_volume"),
        col("avg_price"), col("last_price"), col("tweet_texts"))
  }
}
