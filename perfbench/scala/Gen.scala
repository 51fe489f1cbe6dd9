package perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the TESTDATA shapes of the tables the catalog_mix
  * entries read: `events`, `documents` and `embeddings`.
  *
  * Every value is a pure function of (seed, table salt, row id) through
  * `xxhash64`, so the tables do not depend on partitioning or thread
  * timing: the same seed and scale give the same rows on every host.
  */
object Gen {
  final case class Scale(events: Long, users: Long, docs: Long,
                         embeddings: Long)

  /** The catalog_mix inputs, about TESTDATA sf0.01. */
  val Mix = Scale(events = 10000, users = 150, docs = 1000, embeddings = 500)

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window", "cold")

  private val DayMicros = 86400L * 1000000L

  /** Writes every table of `scale` under `dir` as `<name>.parquet`, the
    * tables concurrently. */
  def tables(spark: SparkSession, dir: String, scale: Scale,
             seed: Long): Unit = {
    val g = new Gen(spark, seed)
    val writes = Seq("events" -> g.events(scale),
      "documents" -> g.documents(scale), "embeddings" -> g.embeddings(scale)
    ).map { case (name, df) =>
      Future(df.write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }
    writes.foreach(Await.result(_, Duration.Inf))
  }
}

final class Gen(spark: SparkSession, seed: Long) {
  import Gen._

  private def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  /** 64-bit hash of (seed, salt, id, extra...). */
  private def h(salt: Int, extra: Column*): Column =
    xxhash64((Seq(lit(seed), lit(salt), col("id")) ++ extra): _*)

  /** Uniform integer in [lo, lo + n). */
  private def int(salt: Int, lo: Long, n: Long, extra: Column*): Column =
    pmod(h(salt, extra: _*), lit(n)) + lit(lo)

  /** Uniform double in [0, 1). */
  private def unif(salt: Int, extra: Column*): Column =
    pmod(h(salt, extra: _*), lit(1L << 53)).cast("double") / (1L << 53).toDouble

  private def pick(values: Seq[String], salt: Int): Column =
    element_at(array(values.map(lit): _*),
      (pmod(h(salt), lit(values.size.toLong)) + 1).cast("int"))

  def events(s: Scale): DataFrame = rows(s.events).select(
    col("id").as("event_id"),
    timestamp_micros(unix_micros(to_timestamp(lit("2024-01-01"))) +
      int(61, 0, 30L * DayMicros)).as("ts"),
    int(62, 0, s.users).as("user_id"),
    pick(Seq("click", "error", "purchase", "signup", "view"), 63)
      .as("event_type"),
    round(-log(lit(1.0) - unif(64)) * 50.0, 2).as("value"),
    concat(lit("{\"k\": "), int(65, 0, 100), lit("}")).as("props"))

  /** 8-100 words from the 31-word testdata vocabulary. One doc in 50 is a
    * near-duplicate of its predecessor (one word changed) and one in 500
    * an exact copy, so the dedup operators have clusters to find. */
  def documents(s: Scale): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val kind = int(71, 0, 500)
    rows(s.docs)
      .select(col("id"),
        when(kind === 0 && col("id") > 0, lit(2))
          .when(kind < 10 && col("id") > 0, lit(1)).otherwise(lit(0))
          .as("dup_kind"))
      .withColumn("src_id",
        when(col("dup_kind") > 0, col("id") - 1).otherwise(col("id")))
      .withColumn("n_words", pmod(xxhash64(lit(seed), lit(72),
        col("src_id")), lit(93L)) + 8)
      .withColumn("mut_at", int(73, 1, 8))
      .withColumn("text", array_join(transform(
        sequence(lit(1L), col("n_words")), i =>
          element_at(vocab, (pmod(
            when(col("dup_kind") === 1 && i === col("mut_at"),
              xxhash64(lit(seed), lit(75), col("id"), i))
              .otherwise(xxhash64(lit(seed), lit(74), col("src_id"), i)),
            lit(Vocab.size.toLong)) + 1).cast("int"))), " "))
      .select(col("id").as("doc_id"), col("text"),
        when(unif(76) < 0.41, lit("en")).otherwise(
          pick(Seq("de", "es", "fr", "zh"), 77)).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** 64-d unit vectors scattered around one of ten label centroids. */
  def embeddings(s: Scale): DataFrame = {
    def gauss(salts: Seq[Int], extra: Column*): Column =
      salts.map(sa => unif(sa, extra: _*)).reduce(_ + _) - 1.5
    rows(s.embeddings)
      .withColumn("label", int(81, 0, 10).cast("int"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), j =>
        xxhash64(lit(seed), lit(82), col("label").cast("long"), j)
          .cast("double") / 9.2e18 + gauss(Seq(83, 84, 85), j) * 0.6))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float"))
          .as("embedding"),
        col("label"))
  }
}
