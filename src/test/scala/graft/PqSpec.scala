package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.ops.SimilarityOps

/** Product-quantization ADC semantics. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  test("degenerate PQ (every vector its own centroid) is exact L2 search") {
    // codebookK = |corpus| with distinct vectors: after one Lloyd round
    // each vector sits alone in its own cluster, so the ADC distance IS
    // the exact (quantized) squared L2 distance and PQ == brute force.
    val corpus = Seq(
      (10L, vec(0, 0, 1, 1)), (11L, vec(2, 2, 2, 2)),
      (12L, vec(5, 5, 5, 5)), (13L, vec(-1, 0, 0, 1)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(0, 0, 1, 2)), (1L, vec(4, 5, 5, 5)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.pqTopK(queries, corpus, k = 4, dim = 4,
      m = 2, codebookK = 4, iters = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // query 0 nearest: 10 (d=1), then 13 (d=1+1+1=3... compute): distances
    // q0=(0,0,1,2): d(10)=0+0+0+1=1; d(13)=1+0+1+1=3; d(11)=4+4+1+0=9;
    // d(12)=25+25+16+9=75
    assert(got((0L, 1)) === ((10L, 1.0)))
    assert(got((0L, 2)) === ((13L, 3.0)))
    assert(got((0L, 3)) === ((11L, 9.0)))
    assert(got((0L, 4)) === ((12L, 75.0)))
    // q1=(4,5,5,5): d(12)=1+0+0+0=1; d(11)=4+9+9+9=31
    assert(got((1L, 1)) === ((12L, 1.0)))
    assert(got((1L, 2)) === ((11L, 31.0)))
  }

  test("ADC distance decomposes over subspaces (m=2 equals m=1)") {
    // with per-vector codebooks (degenerate case) the subspace split must
    // not change distances: sum over 2 halves == full-vector distance
    val corpus = Seq(
      (10L, vec(1, 2, 3, 4)), (11L, vec(4, 3, 2, 1)), (12L, vec(0, 0, 0, 9)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(1, 1, 1, 1))).toDF("vec_id", "embedding")
    def run(m: Int) = SimilarityOps.pqTopK(queries, corpus, k = 3, dim = 4,
      m = m, codebookK = 3, iters = 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(run(1) === run(2))
  }

  test("quantization compresses: shared codewords rank by codebook cell") {
    // two tight clusters, codebookK=2: all members of a cluster share a
    // code, so ADC distance is to the cluster centroid — within-cluster
    // members tie and rank by id
    val corpus = Seq(
      (10L, vec(0, 0)), (11L, vec(0.02, 0.02)),
      (12L, vec(10, 10)), (13L, vec(10.02, 10.02)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(0.5, 0.5))).toDF("vec_id", "embedding")
    val got = SimilarityOps.pqTopK(queries, corpus, k = 4, dim = 2,
      m = 1, codebookK = 2, iters = 1).collect()
      .sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
    // near cluster first (ids 10,11 tie on the shared centroid), far next
    assert(got.map(_._1).toSeq === Seq(10L, 11L, 12L, 13L))
    assert(got(0)._2 === got(1)._2)
    assert(got(2)._2 === got(3)._2)
    assert(got(0)._2 < got(2)._2)
  }

  test("IVF-PQ with one cell equals plain PQ") {
    val corpus = Seq(
      (10L, vec(1, 2, 3, 4)), (11L, vec(4, 3, 2, 1)),
      (12L, vec(0, 0, 0, 9)), (13L, vec(2, 2, 2, 2)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(1, 1, 1, 1))).toDF("vec_id", "embedding")
    val plain = SimilarityOps.pqTopK(queries, corpus, k = 4, dim = 4,
      m = 2, codebookK = 2, iters = 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val ivf = SimilarityOps.ivfPqTopK(queries, corpus, k = 4, dim = 4,
      nCells = 1, cellIters = 1, m = 2, codebookK = 2, pqIters = 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(ivf === plain)
  }

  test("IVF-PQ restricts candidates to the query's coarse cell") {
    // two well-separated clusters; with nCells=2 the query lands in the
    // near cluster's cell and far-cluster vectors never appear
    val corpus = Seq(
      (10L, vec(0, 0, 0, 0)), (11L, vec(0.1, 0, 0, 0.1)),
      (12L, vec(0, 0.1, 0.1, 0)),
      (20L, vec(50, 50, 50, 50)), (21L, vec(50.1, 50, 50, 50.1)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(0.05, 0.05, 0, 0))).toDF("vec_id", "embedding")
    val got = SimilarityOps.ivfPqTopK(queries, corpus, k = 5, dim = 4,
      nCells = 2, cellIters = 2, m = 2, codebookK = 3, pqIters = 1)
      .collect().map(_.getLong(1)).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(Set(10L, 11L, 12L)),
      s"far-cluster ids leaked into the probe: $got")
  }

  test("pqCodebooks + pqEncodeCodes: degenerate codes are identity ranks") {
    val corpus = Seq(
      (10L, vec(1, 2, 3, 4)), (11L, vec(4, 3, 2, 1)), (12L, vec(0, 0, 0, 9)))
      .toDF("vec_id", "embedding")
    val cb = SimilarityOps.pqCodebooks(corpus, dim = 4, m = 2,
      codebookK = 3, iters = 1)
    // degenerate training: each vector is its own centroid per subspace
    assert(cb.count() === 2 * 3 * 2) // m subs x k cids x subLen dims
    val codes = SimilarityOps.pqEncodeCodes(corpus, cb, dim = 4, m = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(10L) === Seq(0, 0))
    assert(codes(11L) === Seq(1, 1))
    assert(codes(12L) === Seq(2, 2))
  }

  test("narrow encoder matches the training-side argmin on shared cells") {
    // two tight clusters, codebookK=2: both members of a cluster get the
    // same code from the narrow projection encoder
    val corpus = Seq(
      (10L, vec(0, 0)), (11L, vec(0.02, 0.02)),
      (12L, vec(10, 10)), (13L, vec(10.02, 10.02)))
      .toDF("vec_id", "embedding")
    val cb = SimilarityOps.pqCodebooks(corpus, dim = 2, m = 1,
      codebookK = 2, iters = 1)
    val codes = SimilarityOps.pqEncodeCodes(corpus, cb, dim = 2, m = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).head).toMap
    assert(codes(10L) === codes(11L))
    assert(codes(12L) === codes(13L))
    assert(codes(10L) !== codes(12L))
  }

  test("pqEncodeCodes is a pure projection: runs on a stream") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = Seq(
      (10L, vec(0, 0)), (11L, vec(5, 5)), (12L, vec(10, 10)))
      .toDF("vec_id", "embedding")
    val cb = SimilarityOps.pqCodebooks(corpus, dim = 2, m = 1,
      codebookK = 3, iters = 1)
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = SimilarityOps.pqEncodeCodes(
      mem.toDF().toDF("vec_id", "embedding"), cb, dim = 2, m = 1)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pqenc").start()
    try {
      mem.addData((100L, vec(0.1, 0.1)), (101L, vec(9.8, 9.9)))
      q.processAllAvailable()
      mem.addData((102L, vec(5.2, 4.9)))
      q.processAllAvailable()
      val got = spark.table("pqenc").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).head).toMap
      // stream rows snap to the nearest trained centroid
      val batch = SimilarityOps.pqEncodeCodes(
        Seq((100L, vec(0.1, 0.1)), (101L, vec(9.8, 9.9)),
          (102L, vec(5.2, 4.9))).toDF("vec_id", "embedding"),
        cb, dim = 2, m = 1)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).head).toMap
      assert(got === batch)
      assert(got(100L) !== got(101L))
    } finally q.stop()
  }

  test("written IVF-PQ index: train-free probe is bit-identical to the " +
      "in-query ivfPqTopK and the codes scan partition-prunes") {
    def vecs(n: Int, seed: Int) = (0 until n).map { i =>
      (i.toLong + seed * 1000L, (0 until 16).map(d =>
        (((i * 31 + d * 17 + seed) % 13) - 6).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val corpus = vecs(50, seed = 1)
    val queries = vecs(5, seed = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    SimilarityOps.writeIvfPqIndex(corpus, dir, dim = 16, nCells = 3,
      cellIters = 2, m = 4, codebookK = 6, pqIters = 2)
    val probed = SimilarityOps.ivfPqIndexTopK(spark, dir, queries, k = 5,
      dim = 16, m = 4)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell-pruned codes scan:\n$plan")
    val inQuery = SimilarityOps.ivfPqTopK(queries, corpus, k = 5,
      dim = 16, nCells = 3, cellIters = 2, m = 4, codebookK = 6,
      pqIters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1),
        r.getDouble(2))).toMap
    assert(rows(probed) === rows(inQuery))
  }

  test("IVF-PQ index append: new vectors encode against the STORED " +
      "codebooks, land in the codes delta, probe finds them, compaction " +
      "folds and preserves results") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def vecs(n: Int, seed: Int) = (0 until n).map { i =>
      (i.toLong + seed * 1000L, (0 until 16).map(d =>
        (((i * 29 + d * 13 + seed) % 11) - 5).toFloat / 2f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_app").toString
    SimilarityOps.writeIvfPqIndex(vecs(40, seed = 1), dir, dim = 16,
      nCells = 3, cellIters = 2, m = 4, codebookK = 6, pqIters = 2)
    // append clones of the queries: ADC must surface each clone with the
    // query's own self-quantization distance, i.e. the cell minimum
    val queries = vecs(3, seed = 5)
    SimilarityOps.appendIvfPqIndex(
      queries.withColumn("vec_id", col("vec_id") + 900000L),
      dir, dim = 16, m = 4)
    val delta = Paths.get(
      graft.ops.IndexMaintenance.deltaPath(s"$dir/codes"))
    assert(Files.list(delta).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) === 1,
      "append should write exactly one codes-delta file")

    def hits() = SimilarityOps.ivfPqIndexTopK(spark, dir, queries,
        k = 50, dim = 16, m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val before = hits()
    queries.collect().map(_.getLong(0)).foreach { q =>
      val clone = before.get((q, q + 900000L))
      assert(clone.isDefined, s"query $q must find its appended clone")
      // the clone shares the query's codes, so no vector can ADC-score
      // closer than it
      val best = before.collect { case ((qq, _), d) if qq == q => d }.min
      assert(clone.contains(best), s"clone of $q must sit at the minimum")
    }
    // bounded-rewrite fold first: parity must hold through the
    // incremental path too, and the delta clears
    SimilarityOps.compactIvfPqCodesIncremental(spark, dir)
    assert(!Files.exists(delta),
      "incremental compaction should clear the codes delta")
    assert(hits() === before)
    // a follow-up full fold over the already-folded index is a no-op
    // for probe results
    SimilarityOps.compactIvfPqCodes(spark, dir)
    assert(hits() === before)
  }

  test("two-level IVF-PQ index: k1=1 degenerates bit-identically to the " +
      "flat index; k1=2,k2=2 partitions into in-range combined cells " +
      "and the probe partition-prunes") {
    def vecs(n: Int, seed: Int) = (0 until n).map { i =>
      (i.toLong + seed * 1000L, (0 until 16).map(d =>
        (((i * 31 + d * 17 + seed) % 13) - 6).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val corpus = vecs(50, seed = 1)
    val queries = vecs(5, seed = 2)

    // k1=1: the coarse level is a single cell, so the sub level IS the
    // flat quantizer — same lowest-id init ranks, same single Lloyd
    // update, same cell ids (0*k2 + sub == cid). Probes must be
    // bit-identical to the flat index with nCells = k2.
    val flatDir = java.nio.file.Files
      .createTempDirectory("ivfpq_flat").toString
    val twoDir = java.nio.file.Files
      .createTempDirectory("ivfpq_two").toString
    SimilarityOps.writeIvfPqIndex(corpus, flatDir, dim = 16, nCells = 3,
      cellIters = 1, m = 4, codebookK = 6, pqIters = 1)
    SimilarityOps.writeIvfPqIndexTwoLevel(corpus, twoDir, dim = 16,
      k1 = 1, k2 = 3, cellIters = 1, m = 4, codebookK = 6, pqIters = 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1),
        r.getDouble(2))).toMap
    assert(rows(SimilarityOps.ivfPqIndexTopKTwoLevel(spark, twoDir,
        queries, k = 5, dim = 16, m = 4)) ===
      rows(SimilarityOps.ivfPqIndexTopK(spark, flatDir, queries, k = 5,
        dim = 16, m = 4)))

    // k1=2, k2=2: combined cells live in [0, k1*k2), every corpus vector
    // is coded exactly once, and the probe's codes scan partition-prunes
    // on the combined cell
    val dir2 = java.nio.file.Files
      .createTempDirectory("ivfpq_two22").toString
    SimilarityOps.writeIvfPqIndexTwoLevel(corpus, dir2, dim = 16,
      k1 = 2, k2 = 2, cellIters = 1, m = 4, codebookK = 6, pqIters = 1)
    val codes = spark.read.parquet(
      graft.ops.IndexMaintenance.currentBase(spark, s"$dir2/codes"))
    assert(codes.count() === 50)
    val cells = codes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(cells.forall(c => c >= 0 && c < 4), cells.toString)
    val probed = SimilarityOps.ivfPqIndexTopKTwoLevel(spark, dir2,
      queries, k = 5, dim = 16, m = 4)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell-pruned codes scan:\n$plan")
    // every query gets a full top-5 from its probed cell
    val got = probed.collect()
    assert(got.map(_.getLong(0)).distinct.length === 5)
  }

  test("two-level IN-QUERY IVF-PQ: k1=1 degenerates bit-identically to " +
      "flat ivfPqTopK(nCells=k2, cellIters=1); at k1=2,k2=2 it matches " +
      "the serving index built with the same parameters") {
    def vecs(n: Int, seed: Int) = (0 until n).map { i =>
      (i.toLong + seed * 1000L, (0 until 16).map(d =>
        (((i * 31 + d * 17 + seed) % 13) - 6).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val corpus = vecs(50, seed = 1)
    val queries = vecs(5, seed = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1),
        r.getDouble(2))).toMap

    // k1=1: coarse level is one cell, so the sub level IS the flat
    // single-update quantizer — same init ranks, same Lloyd update,
    // same cell ids (0*k2 + sub == cid), same ADC
    assert(rows(SimilarityOps.ivfPqTopKTwoLevel(queries, corpus, k = 5,
        dim = 16, k1 = 1, k2 = 3, cellIters = 1, m = 4, codebookK = 6,
        pqIters = 1)) ===
      rows(SimilarityOps.ivfPqTopK(queries, corpus, k = 5, dim = 16,
        nCells = 3, cellIters = 1, m = 4, codebookK = 6, pqIters = 1)))

    // in-query vs serving: identical trained trajectory, so the
    // retrain-per-call form and the stored-index probe agree exactly
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_two_inq").toString
    SimilarityOps.writeIvfPqIndexTwoLevel(corpus, dir, dim = 16,
      k1 = 2, k2 = 2, cellIters = 1, m = 4, codebookK = 6, pqIters = 1)
    assert(rows(SimilarityOps.ivfPqTopKTwoLevel(queries, corpus, k = 5,
        dim = 16, k1 = 2, k2 = 2, cellIters = 1, m = 4, codebookK = 6,
        pqIters = 1)) ===
      rows(SimilarityOps.ivfPqIndexTopKTwoLevel(spark, dir, queries,
        k = 5, dim = 16, m = 4)))
  }

  test("pqAssign fallback (broadcast-join branch past the literal " +
      "bound) is bit-identical to the nested-literal kernel through " +
      "the full IVF-PQ pipeline") {
    def vecs(n: Int, seed: Int) = (0 until n).map { i =>
      (i.toLong + seed * 1000L, (0 until 16).map(d =>
        (((i * 29 + d * 13 + seed) % 11) - 5).toFloat / 4f))
    }.toDF("vec_id", "embedding")
    val corpus = vecs(60, seed = 1)
    val queries = vecs(4, seed = 2)
    def run() = SimilarityOps.ivfPqTopK(queries, corpus, k = 5,
        dim = 16, nCells = 3, cellIters = 2, m = 4, codebookK = 6,
        pqIters = 2)
      .collect().map(_.toSeq).toSet
    val kernel = run()
    val saved = SimilarityOps.argminLiteralMaxElems
    SimilarityOps.argminLiteralMaxElems = 0L // force both join branches
    val joined = try run()
      finally SimilarityOps.argminLiteralMaxElems = saved
    assert(kernel === joined,
      "pqAssign kernel and broadcast-join branches diverge")
  }

  test("fused trainer: job packing never changes a trajectory, and each " +
      "side keeps its own final-round empty-cluster rule") {
    // 2-D points (x, y) embedded as (x, y, x, y): both PQ subspaces see
    // the cells' geometry. k = 4 seeds cids 0 and 1 on the same point A,
    // so ties keep cid 1 empty on both sides in every round; cid 3 (seed
    // Q) first pulls in R and S, then gives Q back to cid 2 in round 2 —
    // so the trajectory depends on the round count
    def p(id: Long, x: Double, y: Double) = (id, vec(x, y, x, y))
    val qcorpus = Seq(p(1, -20, 0), p(2, -20, 0), p(3, 0, 0), p(4, 0.2, 0),
        p(5, 10, 10), p(6, 10.2, 10))
      .toDF("vec_id", "embedding")
      .select(col("vec_id").as("_vid"), graft.functions.VectorFunctions
        .quantize_vec(col("embedding")).as("_qv"))
    import SimilarityOps.{Lloyd, fusedCellPqTrain}
    val fused = fusedCellPqTrain(qcorpus, Some(Lloyd(4, 2)),
      Some(Lloyd(4, 3)), dim = 4, m = 2)
    val cellsOnly = fusedCellPqTrain(qcorpus, cells = Some(Lloyd(4, 2)))
    val pqOnly = fusedCellPqTrain(qcorpus, pq = Some(Lloyd(4, 3)),
      dim = 4, m = 2)
    val a = Seq(-20000000L, 0L)
    val pq = Seq(100000L, 0L)
    val rs = Seq(10100000L, 10000000L)
    // cells: the final update drops the empty cid 1
    assert(fused.cells ===
      Seq(0 -> (a ++ a), 2 -> (pq ++ pq), 3 -> (rs ++ rs)))
    assert(fused.cellSizes === Map(0 -> 2L, 2 -> 2L, 3 -> 2L))
    // PQ: the empty codeword 1 keeps its previous (init) centroid
    assert(fused.codebooks === (0 until 2).flatMap(j =>
      Seq((j, 0) -> a, (j, 1) -> a, (j, 2) -> pq, (j, 3) -> rs)).toMap)
    assert(cellsOnly.cells === fused.cells)
    assert(cellsOnly.cellSizes === fused.cellSizes)
    assert(cellsOnly.codebooks.isEmpty)
    assert(pqOnly.codebooks === fused.codebooks)
    assert(pqOnly.cells.isEmpty)
  }

  test("trainer family job counts stay within the recorded budget") {
    // drift-free cost line for the shared trainer: jobs per run on a
    // fixed fixture, result collect included, bounded by the counts the
    // per-trainer Lloyd loops issued before they were folded into one
    def vecs(n: Int, seed: Int) = (0 until n).map { i =>
      (i.toLong + seed * 1000L, (0 until 16).map(d =>
        (((i * 31 + d * 17 + seed) % 13) - 6).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val corpus = vecs(60, seed = 1)
    val queries = vecs(4, seed = 2)
    val runs: Seq[(String, Int, () => Unit)] = Seq(
      ("kmeansCentroids", 6, () =>
        SimilarityOps.kmeansCentroids(corpus, k = 4, iters = 2).collect()),
      ("pqCodebooks", 5, () =>
        SimilarityOps.pqCodebooks(corpus, dim = 16, m = 4, codebookK = 6,
          iters = 2).collect()),
      ("ivfPqTopK", 15, () =>
        SimilarityOps.ivfPqTopK(queries, corpus, k = 5, dim = 16,
          nCells = 3, cellIters = 2, m = 4, codebookK = 6,
          pqIters = 2).collect()),
      ("semanticDedupTwoLevel", 20, () =>
        SimilarityOps.semanticDedupTwoLevel(corpus, threshold = 0.9,
          k1 = 2, k2 = 2, iters = 2).collect()))
    val counters = new Harness.TaskCounters
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(counters)
    try runs.foreach { case (name, budget, run) =>
      counters.reset()
      run()
      Bridge.drainListenerBus(spark)
      val jobs = counters.snapshot.toMap.apply("jobs")
      info(s"$name jobs=$jobs budget=$budget")
      assert(jobs <= budget, s"$name ran $jobs jobs, budget $budget")
    } finally spark.sparkContext.removeSparkListener(counters)
  }
}
