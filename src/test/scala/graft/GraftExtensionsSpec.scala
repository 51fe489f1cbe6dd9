package graft

import org.apache.spark.sql.FunctionRegistryAccess
import org.apache.spark.sql.functions._
import graft.functions.{TextHashFunctions, VectorFunctions, ZOrderFunctions}

/** The SQL surface: every function `GraftExtensions` injects resolves by
  * name from `spark.sql` and returns what its column builder returns. */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("all six extension functions are callable from SQL and agree " +
      "with their column builders") {
    Seq(GraftExtensions.dotProductDescriptor,
      GraftExtensions.simhash64Descriptor,
      GraftExtensions.minhashSigsDescriptor,
      GraftExtensions.md5MinMaxDescriptor,
      GraftExtensions.interleaveBitsDescriptor,
      GraftExtensions.winnowFpsDescriptor)
      .foreach(FunctionRegistryAccess.register(spark, _))
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b a b a b a b"),
      (3L, "café naïve résumé"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    docs.createOrReplaceTempView("graft_ext_docs")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |  dot_product(array(CAST(doc_id AS DOUBLE), 2.0D),
        |    array(3.0D, -4.0D)) AS dot,
        |  simhash64(text, 2) AS simhash,
        |  minhash_sigs(text, 3, 4) AS minhash,
        |  md5_minmax(text, 8) AS fp,
        |  interleave_bits(doc_id, doc_id + 1, 10) AS z,
        |  winnow_fps(text, 4, 4) AS fps
        |FROM graft_ext_docs ORDER BY doc_id""".stripMargin)
    val viaCols = docs.select($"doc_id",
      VectorFunctions.dot_product(array($"doc_id".cast("double"), lit(2.0)),
        array(lit(3.0), lit(-4.0))).as("dot"),
      TextHashFunctions.simhash64($"text", 2).as("simhash"),
      TextHashFunctions.minhash_sigs($"text", 3, 4).as("minhash"),
      TextHashFunctions.md5_minmax($"text", 8).as("fp"),
      ZOrderFunctions.zorder_key($"doc_id", $"doc_id" + 1, 10).as("z"),
      TextHashFunctions.winnow_fps($"text", 4, 4).as("fps"))
      .orderBy($"doc_id")
    assert(viaSql.schema === viaCols.schema)
    val got = viaSql.collect().toSeq
    assert(got === viaCols.collect().toSeq)
    assert(got.map(_.getDouble(1)) === Seq(-5.0, -2.0, 1.0, 4.0))
    assert(got.last.isNullAt(2) && !got.head.isNullAt(2))
  }
}
