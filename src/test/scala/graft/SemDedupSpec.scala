package graft

import graft.ops.SimilarityOps

/** SemDeDup semantics (cluster-then-prune): drops are decided ONLY inside
  * a k-means cell, the lowest id of a duplicate set always survives, and
  * the keep/drop decision is invariant to the input partition layout.
  */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated Euclidean blobs; ids 2/11/12 are near-parallel to a
  // lower-id mate in their own blob, id 3 is near-parallel to blob B
  // members (cos ~0.99) but Euclidean-far, so k-means keeps it in blob A
  // where nothing resembles it
  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.98f, 0.02f)),
    (3L, Array(0.6f, 0.8f)),
    (10L, Array(10.0f, 10.0f)),
    (11L, Array(10.2f, 9.8f)),
    (12L, Array(14.0f, 14.0f))
  ).toDF("vec_id", "embedding")

  test("drops within-cell near-parallels, keeps the lowest id") {
    val out = SimilarityOps.semanticDedup(vecs, threshold = 0.95,
        nClusters = 2, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cell"), r.getAs[Boolean]("is_kept"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
    // blob A = cell of id 1, blob B = cell of id 10, and they differ
    val cellA = out(1L)._1
    val cellB = out(10L)._1
    assert(cellA !== cellB)
    assert(Seq(2L, 3L).forall(out(_)._1 == cellA))
    assert(Seq(11L, 12L).forall(out(_)._1 == cellB))
    // kept = lowest id per duplicate set + the cross-cell lookalike
    assert(out.collect { case (id, (_, true, _)) => id }.toSet ===
      Set(1L, 3L, 10L))
    assert(out(2L)._3 === Some(1L))
    assert(out(11L)._3 === Some(10L))
    // 12 is similar to both 10 and 11; dup_of reports the lowest peer
    assert(out(12L)._3 === Some(10L))
    // id 3 survives despite cos(3, 10) ~ 0.99: different cell, never
    // compared — the property that makes SemDeDup sub-quadratic
    assert(out(3L)._2 === true)
  }

  test("(14,14) is exactly parallel to (10,10): dup_cos hits 1.0") {
    val row = SimilarityOps.semanticDedup(vecs, threshold = 0.95,
        nClusters = 2, iters = 2)
      .filter($"vec_id" === 12L).collect().head
    assert(row.getAs[Double]("dup_cos") === 1.0)
  }

  test("keep/drop decision is invariant to partition layout") {
    val base = SimilarityOps.semanticDedup(vecs, threshold = 0.95,
      nClusters = 2, iters = 2).collect().map(_.toString).sorted
    val repart = SimilarityOps.semanticDedup(vecs.repartition(7),
      threshold = 0.95, nClusters = 2, iters = 2)
      .collect().map(_.toString).sorted
    assert(base === repart)
    def twoLevel(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.semanticDedupTwoLevel(df, threshold = 0.95, k1 = 2,
        k2 = 2, iters = 2).collect().map(_.toString).sorted
    assert(twoLevel(vecs) === twoLevel(vecs.repartition(7)))
  }

  // four well-separated blobs, each with an exact duplicate of its
  // anchor — a two-level (2 coarse x 2 sub) assignment must co-assign
  // every duplicate pair and keep exactly the lower id of each. The two
  // LOWEST ids anchor different blobs (the coarse lowest-id init seeds
  // from them; identical seeds would collapse the coarse level).
  private def blobs4 = Seq(
    (1L, Array(0.0f, 0.0f, 1.0f)), (101L, Array(0.0f, 0.0f, 1.0f)),
    (2L, Array(0.0f, 50.0f, 0.0f)), (102L, Array(0.0f, 50.0f, 0.0f)),
    (20L, Array(50.0f, 0.0f, 0.0f)), (120L, Array(50.0f, 0.0f, 0.0f)),
    (30L, Array(50.0f, 50.0f, 50.0f)), (130L, Array(50.0f, 50.0f, 50.0f))
  ).toDF("vec_id", "embedding")

  test("two-level assignment: duplicates co-assign, lowest id survives," +
      " partition-layout invariant, schema matches the flat op") {
    def run(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.semanticDedupTwoLevel(df, threshold = 0.99,
        k1 = 2, k2 = 2, iters = 2)
    val out = run(blobs4).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cell"), r.getAs[Boolean]("is_kept"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
    assert(out.keySet ===
      Set(1L, 101L, 2L, 102L, 20L, 120L, 30L, 130L))
    // every anchor keeps, every exact duplicate drops onto its anchor
    Seq((1L, 101L), (2L, 102L), (20L, 120L), (30L, 130L)).foreach {
      case (keep, drop) =>
        assert(out(keep)._2 === true, s"anchor $keep")
        assert(out(drop)._2 === false, s"duplicate $drop")
        assert(out(drop)._3 === Some(keep))
        assert(out(keep)._1 === out(drop)._1, "duplicates co-assign")
    }
    // final cells are distinct per blob (2x2 levels resolve 4 blobs)
    assert(Seq(1L, 2L, 20L, 30L).map(out(_)._1).distinct.size === 4)
    // layout invariance (the checkpointed two-stage trajectory is exact
    // integer math end to end)
    val a = run(blobs4).collect().map(_.toString).sorted
    val b = run(blobs4.repartition(5)).collect().map(_.toString).sorted
    assert(a === b)
  }

  test("two-level on the 2-blob fixture agrees with the flat op's " +
      "keep/drop when sub-splitting cannot separate near-parallels") {
    // k1=2 coarse cells isolate the blobs; k2=1 sub-centroid per cell
    // makes the two-level cells EQUAL the flat k=2 cells, so the whole
    // output must match the flat op row for row (cell ids rescale)
    val flat = SimilarityOps.semanticDedup(vecs, threshold = 0.95,
        nClusters = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong),
        r.getAs[Any]("dup_cos"))).sortBy(_._1).toSeq
    val two = SimilarityOps.semanticDedupTwoLevel(vecs, threshold = 0.95,
        k1 = 2, k2 = 1, iters = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong),
        r.getAs[Any]("dup_cos"))).sortBy(_._1).toSeq
    assert(two === flat)
  }

  test("argminAssign fallback (broadcast-join branch) is row-identical " +
      "to the batched-kernel branch across the ops that share it") {
    val rnd = new scala.util.Random(21)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def both(f: => org.apache.spark.sql.DataFrame)
        : (Set[Seq[Any]], Set[Seq[Any]]) = {
      val kernel = rows(f)
      val saved = SimilarityOps.argminLiteralMaxElems
      SimilarityOps.argminLiteralMaxElems = 0L // force the join branch
      try { (kernel, rows(f)) }
      finally SimilarityOps.argminLiteralMaxElems = saved
    }
    val (k1, f1) = both(SimilarityOps.semanticDedup(
      vecs, threshold = 0.2, nClusters = 4, iters = 2))
    assert(k1 === f1, "semanticDedup branches diverge")
    val (k2, f2) = both(SimilarityOps.kmeansCentroids(
      vecs, k = 4, iters = 2))
    assert(k2 === f2, "kmeansCentroids branches diverge")
    val (k3, f3) = both(SimilarityOps.kmeansIvfTopK(
      vecs.filter($"vec_id" < 5), vecs.filter($"vec_id" >= 5),
      k = 3, nClusters = 3, iters = 2))
    assert(k3 === f3, "kmeansIvfTopK branches diverge")
  }
}
