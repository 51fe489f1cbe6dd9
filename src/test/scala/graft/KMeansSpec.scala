package graft

import graft.ops.SimilarityOps

/** Lloyd's k-means semantics: lowest-id init, exact quantized argmin,
  * mean update, convergence on a hand-checkable configuration.
  */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  test("two Lloyd iterations separate two obvious clusters") {
    // init = two lowest ids, both in the left cluster; iteration 1 pulls
    // centroid 1 toward the right mass, iteration 2's assignment then
    // splits cleanly and the final update lands on the cluster means
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(0.2f, 0.0f)),
      (3L, Array(10.0f, 10.0f)),
      (4L, Array(10.2f, 10.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.kmeansCentroids(vecs, k = 2, iters = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out((0, 0)) === ((2L, 0.1)))
    assert(out((0, 1)) === ((2L, 0.0)))
    assert(out((1, 0)) === ((2L, 10.1)))
    assert(out((1, 1)) === ((2L, 10.0)))
  }

  test("kmeansIvfTopK searches only the query's cell, ranked by cosine") {
    // two well-separated blobs; the quantizer puts them in different
    // cells, so a query near blob A must rank only blob-A members
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.9f, 0.1f)),
      (12L, Array(1.0f, 0.1f)),
      (20L, Array(-1.0f, 0.0f)), (21L, Array(-0.9f, -0.1f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.kmeansIvfTopK(queries, corpus, k = 3,
        nClusters = 2, iters = 2)
      .collect().map(r =>
        r.getAs[Long]("corpus_id") -> r.getAs[Int]("rnk")).toMap
    assert(out.keySet === Set(10L, 11L, 12L),
      s"must stay inside the query's cell, got ${out.keySet}")
    // rank 1 = highest cosine to (1.0, 0.05): vec 12 (1.0, 0.1) wins
    assert(out.filter(_._2 == 1).keySet === Set(12L))
  }

  test("k larger than distinct points keeps empty clusters out of output") {
    val vecs = Seq(
      (1L, Array(0.0f)), (2L, Array(0.0f)), (3L, Array(5.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.kmeansCentroids(vecs, k = 3, iters = 2)
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getDouble(3)))
    // centroids 0 and 1 start identical (0.0); ties go to the lower cid,
    // so cid 1 ends empty and only assigned clusters are emitted
    assert(out.toMap.keySet === Set(0, 2))
    assert(out.toMap.apply(0) === ((2L, 0.0)))
    assert(out.toMap.apply(2) === ((1L, 5.0)))
  }

  test("output schema: long-form names, types and nullability") {
    val vecs = Seq((1L, Array(0.0f, 1.0f)), (2L, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val schema = SimilarityOps.kmeansCentroids(vecs, k = 2, iters = 1)
      .schema.fields.map(f => (f.name, f.dataType.simpleString, f.nullable))
    assert(schema.toSeq === Seq(("cid", "int", true), ("dim", "int", false),
      ("n_vecs", "bigint", false), ("centroid", "double", true)))
  }
}
