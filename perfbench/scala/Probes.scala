package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextHashFunctions => T, VectorFunctions => V}

/** Layer probes for the traced run: a scan-only pass over every input
  * table through the `Tables` loaders, and one kernel-only projection per
  * codegen kernel through the public column functions. Each probe reports
  * the median of three timed noop writes after one warm-up write.
  *
  * The kernel probes run on a corpus of their own ([[KernelScale]]), and
  * each takes off the fixed cost of running one Spark job over it
  * ([[kernelMs]]). */
object Probes {
  /** The kernel probes' corpus: 20 times catalog_mix's documents, 100
    * times its embeddings. */
  val KernelScale: Gen.Scale = Gen.Mix.copy(docs = 20000, embeddings = 50000)

  private def timeNoop(df: DataFrame): Double = {
    def once(): Double = {
      val t = Common.nowMs
      df.write.format("noop").mode("overwrite").save()
      Common.nowMs - t
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }

  /** A scan of every table the workload reads, through its loader. */
  def scanMs(spark: SparkSession, dir: String): Double =
    Seq(Tables.events(spark, dir), Tables.documents(spark, dir),
      Tables.embeddings(spark, dir)).map(timeNoop).sum

  /** Writes the kernel corpus under `dir`, then times every kernel on it.
    * Each figure is the kernel projection's time less that of a trivial
    * scalar over the same input column (its length or size), so the cost
    * of running one job over the cached table is taken off. */
  def kernelMs(spark: SparkSession, dir: String): Map[String, Double] = {
    val g = new Gen(spark, Batch.DataSeed)
    g.documents(KernelScale).write.parquet(s"$dir/documents.parquet")
    g.embeddings(KernelScale).write.parquet(s"$dir/embeddings.parquet")
    val docs = Tables.documents(spark, dir).select(col("text")).cache()
    val vecs = Tables.embeddings(spark, dir)
      .select(col("embedding"), V.quantize_vec(col("embedding")).as("q"))
      .cache()
    docs.count(); vecs.count()
    val vocab = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    Gen.Vocab.zipWithIndex.foreach { case (w, i) =>
      vocab.put(org.apache.spark.unsafe.types.UTF8String.fromString(w),
        java.lang.Long.valueOf(-1000000L * (i + 1)))
    }
    val text = col("text")
    val emb = col("embedding")
    val q = col("q")
    val centroids = typedLit((0 until 16).map(c =>
      (0 until 64).map(j => ((c * 64 + j) % 17 - 8) * 10000L)))
    // input column -> (cached table, trivial scalar over it)
    val inputs: Map[String, (DataFrame, Column)] = Map(
      "text" -> (docs, length(text)), "embedding" -> (vecs, size(emb)),
      "q" -> (vecs, size(q)))
    val probes: Seq[(String, String, Column)] = Seq(
      ("minhash_sigs", "text", T.minhash_sigs(text, 3, 16)),
      ("simhash64", "text", T.simhash64(text, 3)),
      ("winnow_fps", "text", T.winnow_fps(text, 5, 4)),
      ("md5_minmax", "text", T.md5_minmax(text, 5)),
      ("word_shingles", "text", T.word_shingles(text, 3)),
      ("bigram_pairs", "text", T.bigram_pairs(text)),
      ("ub_keys", "text", T.ub_keys(text)),
      ("unigram_qsum", "text", T.unigram_qsum(text, vocab, -20000000L)),
      ("dot_product", "embedding", V.dot_product(emb, emb)),
      ("quantize_vec", "embedding", V.quantize_vec(emb)),
      ("argmin_sq_dist", "q", V.argmin_sq_dist(q, centroids)))
    val baseMs = inputs.map { case (in, (df, c)) => in -> timeNoop(df.select(c.as("k"))) }
    val out = probes.map { case (name, in, c) =>
      s"functions.${name}_ms" -> (timeNoop(inputs(in)._1.select(c.as("k"))) - baseMs(in))
    }.toMap
    docs.unpersist(); vecs.unpersist()
    out
  }
}
