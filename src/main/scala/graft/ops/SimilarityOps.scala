package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StructField, StructType}
import graft.functions.VectorFunctions.quantize_vec

/** Similarity search over embedding columns (north-star ops).
  *
  * Embeddings are `ARRAY<FLOAT>`; all math is done in double (explicit cast
  * before the fold) so results are engine-portable and stable. Dot products
  * use `aggregate(zip_with(...))` — codegen'd higher-order functions, no
  * UDF, no shuffle for the scalar itself.
  */
object SimilarityOps {

  /** Left-to-right dot product in double precision — the codegen'd native
    * expression (graft.functions.DotProduct); semantically identical to
    * `aggregate(zip_with(...))` but stays inside whole-stage codegen
    * instead of interpreted per-element lambda eval.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** Exact integer squared distance between 1e-6-quantized vectors — the
    * codegen'd native kernel (graft.functions.SqDistLong) behind every
    * k-means argmin leg. Cell assignment is O(n·k) distance evaluations
    * and, with k following the SemDeDup contract k ~ n/1000, it is the
    * dominant scale term — the interpreted
    * `aggregate(zip_with(...))` spelling measured as the bottleneck of
    * the contract-k scaling run. Same exact left-to-right long algebra,
    * so argmin ties (and therefore every oracle-replayed trajectory) are
    * unchanged.
    */
  private def sqDistQ(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.sq_dist_long(a, b)

  /** Literal-size bound for [[argminAssign]]'s batched branch, in matrix
    * ELEMENTS (longs): ~32 MB of centroid data riding the task binary.
    * Test-injectable so the fallback branch's parity is spec-pinned on
    * small data (ArgMinAssignSpec) — production code never mutates it.
    */
  private[graft] var argminLiteralMaxElems: Long = 4L * 1000 * 1000

  /** Nearest-centroid assignment over a `_qv` column — the one argmin
    * rule every quantized k-means/IVF leg shares, in its BATCHED form:
    * for a plan-embeddable centroid set the whole argmin is ONE
    * codegen'd [[graft.functions.ArgMinSqDist]] call per row (query
    * vector loaded into a primitive array once, scanned against the
    * whole cid-sorted matrix — no crossJoin rows, no min-struct
    * aggregation, no exchange). Past the literal-size bound (the matrix
    * rides the stage's task binary) it falls back to the broadcast
    * crossJoin + min(struct(d, cid)) spelling. Both forms break ties to
    * the lowest cid and compute identical exact integer distances, so
    * assignments — and every oracle-replayed trajectory — are
    * bit-identical. Appends `cellName` (the winning cid); all other
    * columns pass through.
    */
  private def argminAssign(df: DataFrame, id: String,
                           cells: Seq[(Int, Seq[Long])],
                           cellName: String): DataFrame = {
    val sorted = cells.sortBy(_._1)
    val nElems = sorted.iterator.map(_._2.size.toLong).sum
    if (nElems <= argminLiteralMaxElems) {
      val m = graft.functions.VectorFunctions.argmin_sq_dist(
        col("_qv"), typedLit(sorted.map(_._2)))
      df.withColumn(cellName,
        element_at(typedLit(sorted.map(_._1)),
          m.getField("c") + lit(1)))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val cdf = broadcast(sorted.toDF("_ccid", "_cqc"))
      val dist = sqDistQ(col("_qv"), col("_cqc"))
      val others = df.columns.filterNot(_ == id).toSeq
      df.crossJoin(cdf)
        .groupBy(col(id))
        .agg(min(struct(dist.as("d"), col("_ccid").as("c"))).as("_mm"),
          others.map(c => first(col(c)).as(c)): _*)
        // null-vector parity with the kernel branch: a null _qv makes
        // every distance null, and min(struct(null, cid)) would resolve
        // on cid alone — the kernel yields a NULL cell for such rows,
        // so this branch must too (quantized vectors are never null in
        // practice; this keeps the two branches bit-identical anyway)
        .withColumn(cellName,
          when(col("_qv").isNull, lit(null)).otherwise(col("_mm.c")))
        .drop("_mm")
    }
  }

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors. Baseline path — O(|Q|·|C|) similarity evaluations distributed
    * via broadcast of the (small) query side against the partitioned corpus,
    * then per-query top-k with a rank window.
    * At 100 TB corpus scale the broadcast-queries + partial top-k per
    * partition pattern holds as long as |Q| is bounded; the scale path is
    * [[ivfTopK]].
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // norms are per-row invariants: compute once per vector before the
    // |Q|x|C| join (3 array passes per pair -> 1 pass + 2 scalars)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val c = Rebalance(corpus)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        l2Norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos_sim", dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("cos_sim"), 6)
        .as("cos_sim"), col("rnk"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * anchor vector, the k corpus vectors most cosine-similar to it whose
    * LABEL differs (similar-looking but semantically wrong — the
    * negatives that actually teach an embedding model, vs easy random
    * ones). Same plan shape as [[bruteForceTopK]] (anchors broadcast
    * into one corpus scan, per-anchor heap cut); the label predicate
    * rides the join, so mismatched pairs never reach the window. Swap
    * the scoring join for [[ivfTopK]]-style bucketing at corpus scale.
    *
    * NULL-LABEL CONTRACT: "label differs" is the null-rejecting SQL
    * `<>` — a row with a NULL label can neither anchor nor serve as a
    * negative ("unknown label" cannot be shown to differ). Both sides
    * filter nulls EXPLICITLY below so the drop is a visible plan step,
    * not a silent join artifact; pre-label rows upstream (or coalesce to
    * a sentinel class) if unlabeled vectors should participate.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = anchors.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("anchor_id"),
        col(labelCol).as("_ql"), col(vecCol).as("qv"),
        l2Norm(col(vecCol)).as("qn"))
    val c = Rebalance(corpus.filter(col(labelCol).isNotNull))
      .select(col(idCol).as("negative_id"), col(labelCol).as("_cl"),
        col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("_ql") =!= col("_cl"))
      .withColumn("cos_sim", dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col("negative_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("anchor_id"), col("negative_id"),
        col("_cl").as("negative_label"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rnk"))
  }

  /** IVF-style ANN: corpus bucketed by sign-LSH (hyperplane sketch from
    * deterministic seed vectors derived off the dimension index), queries
    * probe only their own bucket (+optionally neighbors). Recall < 1,
    * runtime ~ 1/2^bits of brute force. The bucketing is a plain groupable
    * int column, so at scale the corpus can be written bucketed/partitioned
    * by it and probes become partition-pruned scans.
    */
  def lshBucket(vecCol: Column, dim: Int, bits: Int): Column = {
    // deterministic pseudo-random hyperplanes: sign of sum_i v_i * w_{b,i},
    // w from a fixed integer mix (no RNG at plan time, reproducible).
    val planes = (0 until bits).map { b =>
      val w = (0 until dim).map { i =>
        val x = (1103515245L * (b * dim + i) + 12345L) % 1000003L
        (x.toDouble / 1000003.0) * 2.0 - 1.0
      }
      val proj = dot(vecCol, typedLit(w))
      when(proj >= 0, lit(1 << b)).otherwise(lit(0))
    }
    planes.reduce((a, b) => a.bitwiseOR(b))
  }

  /** multiProbe: probe the query's own bucket plus all hamming-1 neighbor
    * buckets (flip each hyperplane sign once) — the standard recall lever:
    * (bits+1)x the candidates, still a tiny fraction of the corpus.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              bits: Int = 4, multiProbe: Boolean = false,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val primary = lshBucket(col(vecCol), dim, bits)
    val probeSet =
      if (!multiProbe) array(primary)
      else array(primary +:
        (0 until bits).map(b => primary.bitwiseXOR(lit(1 << b))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"), explode(probeSet).as("bucket"))
    val c = Rebalance(corpus)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        l2Norm(col(vecCol)).as("cn"),
        lshBucket(col(vecCol), dim, bits).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .withColumn("cos_sim", dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rnk"))
  }

  /** Per-group embedding centroids, emitted long-form as (group, dim, n,
    * centroid) — the building block for IVF coarse quantizers and cluster
    * profiling. Elements are quantized to 1e-6 before summation
    * (`sum(round(v*1e6)::long)`), making the aggregate an exact integer
    * sum — order-independent, so the result is identical on any partition
    * layout / engine (float addition is not associative; long addition is).
    * One shuffle on (group, dim); partial aggregation keeps shuffle rows
    * at O(groups * dims) regardless of corpus size.
    */
  def groupCentroids(vecs: DataFrame, byCol: String,
                     vecCol: String = "embedding"): DataFrame =
    Rebalance(vecs)
      .select(col(byCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col(byCol), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("v").cast("double") * 1e6).cast("long")).as("_q"))
      .select(col(byCol), col("dim"), col("n_vecs"),
        (col("_q").cast("double") / 1e6 / col("n_vecs")).as("centroid"))

  /** Lloyd's k-means over embeddings, the trained coarse quantizer for a
    * real IVF index (vs [[lshBucket]]'s data-independent hyperplanes).
    * Declarative per iteration: assignment is a broadcast cross join of
    * the corpus against the k centroids + an exact integer argmin;
    * the update is the same quantized-long mean as [[groupCentroids]].
    * Only the k x dim centroid table ever reaches the driver (exactly
    * what MLlib's KMeans collects per iteration), so the loop scales to
    * any corpus size; per-iteration cost is one broadcast join + one
    * (cid, dim) shuffle of k x dim partial sums.
    *
    * EVERYTHING is computed in 1e-6-quantized longs — vectors, distances
    * (sum of squared quantized diffs, exact in 64 bits for unit-scale
    * embeddings), and centroid updates (round(sum/n)) — so assignment
    * ties, iteration trajectories, and results are bit-identical on any
    * partition layout or engine: the DuckDB oracle replays the full
    * trajectory with unrolled CTEs and hash-matches. Deterministic init:
    * the k lowest-id vectors. Empty clusters keep their previous
    * centroid through the intermediate updates and are absent from the
    * output. Output long-form: (cid, dim, n_vecs, centroid) from the
    * final update ([[fusedCellPqTrain]]'s cells side).
    */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val t = withQuantizedCorpus(vecs, idCol, vecCol)(
      fusedCellPqTrain(_, cells = Some(Lloyd(k, iters))))
    val rows = t.cells.flatMap { case (cid, qc) =>
      qc.zipWithIndex.map { case (q, d) =>
        Row(cid, d, t.cellSizes(cid), q / 1e6)
      }
    }
    vecs.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), kmeansSchema)
  }

  /** [[kmeansCentroids]]' output schema: cid and centroid stay nullable,
    * as the distributed argmin and mean update type them. */
  private val kmeansSchema = StructType(Seq(
    StructField("cid", IntegerType),
    StructField("dim", IntegerType, nullable = false),
    StructField("n_vecs", LongType, nullable = false),
    StructField("centroid", DoubleType)))

  /** Centroid arrays (cid -> 1e-6-quantized vector) after `iters` exact
    * Lloyd updates — the driver-side form the IVF searchers consume, on
    * [[kmeansCentroids]]' trajectory (clusters left empty by the final
    * update are dropped, as they are absent from the long-form output).
    */
  private[graft] def kmeansCentroidArrays(vecs: DataFrame, k: Int,
      iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Int, Seq[Long])] =
    withQuantizedCorpus(vecs, idCol, vecCol)(
      fusedCellPqTrain(_, cells = Some(Lloyd(k, iters))).cells)

  /** Rows of `df` as (`id`, `_qv`): the id and its 1e-6-quantized vector,
    * the input of every argmin, trainer and PQ encoder.
    */
  private def quantized(df: DataFrame, id: String, idCol: String,
                        vecCol: String): DataFrame =
    df.select(col(idCol).as(id), quantize_vec(col(vecCol)).as("_qv"))

  /** Run `body` over the cached quantized corpus (_vid, _qv) that the
    * trainer, the corpus cell assignment and the PQ encoder all read.
    * The cache is released when `body` returns, so `body` must
    * materialize what it returns.
    */
  private def withQuantizedCorpus[T](vecs: DataFrame, idCol: String,
      vecCol: String)(body: DataFrame => T): T = {
    val qcorpus = quantized(Rebalance(vecs), "_vid", idCol, vecCol).cache()
    try body(qcorpus) finally qcorpus.unpersist()
  }

  /** One exact Lloyd mean update over assigned rows (`keys`..., `_qv`):
    * per (keys, dim), the member count and the quantized mean
    * round(sum/n), as (`keys`..., _dim, _n, _qc). The sum is a long sum,
    * so the update does not depend on partition layout.
    */
  private def meanUpdate(assigned: DataFrame, keys: String*): DataFrame =
    assigned
      .select(keys.map(col) :+
        posexplode(col("_qv")).as(Seq("_dim", "_q")): _*)
      .groupBy((keys :+ "_dim").map(col): _*)
      .agg(sum(col("_q")).as("_s"), count(lit(1)).as("_n"))
      .select(keys.map(col) ++ Seq(col("_dim"), col("_n"),
        round(col("_s").cast("double") / col("_n")).cast("long")
          .as("_qc")): _*)

  /** Driver side of a collected [[meanUpdate]] with `nKeys` int keys:
    * key -> (member count, dim-ordered centroid).
    */
  private def meansByKey(rows: Array[Row],
                         nKeys: Int): Map[Seq[Int], (Long, Seq[Long])] =
    rows.groupBy(r => (0 until nKeys).map(r.getInt)).map { case (key, rs) =>
      val byDim = rs.sortBy(_.getInt(nKeys))
      key -> ((byDim.head.getLong(nKeys + 1),
        byDim.map(_.getLong(nKeys + 2)).toSeq))
    }

  /** One side of [[fusedCellPqTrain]]: `k` clusters, `iters` updates. */
  private[graft] final case class Lloyd(k: Int, iters: Int) {
    require(k > 0 && iters > 0, s"k=$k iters=$iters")
  }

  /** [[fusedCellPqTrain]]'s result: coarse cells (cid -> centroid) with
    * their final member counts, and PQ sub-codebooks ((sub, cid) ->
    * centroid). A side that was not trained is empty.
    */
  private[graft] final case class Trained(cells: Seq[(Int, Seq[Long])],
      cellSizes: Map[Int, Long], codebooks: Map[(Int, Int), Seq[Long]])

  /** The one quantized Lloyd trainer — the IVFADC build (Jégou et al.,
    * TPAMI'11): the coarse k-means over full vectors (`cells`), the m PQ
    * sub-codebook k-means over `dim / m`-long subvectors (`pq`), or both,
    * over the cached quantized corpus (_vid, _qv). Each side's init is
    * its k lowest-id rows (one shared collect), each round assigns with
    * the exact integer argmin (ties to the lower cid) and updates with
    * [[meanUpdate]]. While both sides run, a round's two update
    * aggregates are ONE unioned job; job packing never changes a
    * trajectory (PqSpec pins it). Empty clusters keep their previous
    * centroid, except that the cells' FINAL update drops them.
    */
  private[graft] def fusedCellPqTrain(qcorpus: DataFrame,
      cells: Option[Lloyd] = None, pq: Option[Lloyd] = None,
      dim: Int = 0, m: Int = 1): Trained = {
    require(cells.nonEmpty || pq.nonEmpty, "no side to train")
    require(pq.isEmpty || dim % m == 0, s"dim=$dim not divisible by m=$m")
    val cellIters = cells.fold(0)(_.iters)
    val pqIters = pq.fold(0)(_.iters)
    val subLen = dim / m
    val init = qcorpus.orderBy(col("_vid")).limit((cells ++ pq).map(_.k).max)
      .collect().map(_.getSeq[Long](1))
    var cellC: Seq[(Int, Seq[Long])] =
      init.take(cells.fold(0)(_.k)).toSeq.zipWithIndex.map(_.swap)
    var sizes = Map.empty[Int, Long]
    var pqC: Map[(Int, Int), Seq[Long]] =
      init.take(pq.fold(0)(_.k)).zipWithIndex.flatMap { case (qv, rank) =>
        (0 until m).map(j =>
          ((j, rank), qv.slice(j * subLen, (j + 1) * subLen)))
      }.toMap
    // both updates emit (_st, _sub, _cid, _dim, _n, _qc); cells ride
    // _st = 0 with a constant _sub
    def cellUpdate: DataFrame =
      meanUpdate(argminAssign(qcorpus, "_vid", cellC, "_cid"), "_cid")
        .select(lit(0).as("_st"), lit(0).as("_sub"), col("*"))
    def pqUpdate: DataFrame =
      meanUpdate(pqAssign(pqSubForm(qcorpus, "_vid", m, subLen), pqC)
          .select(col("_sub"), col("_m.c").as("_cid"), col("_qs").as("_qv")),
        "_sub", "_cid")
        .select(lit(1).as("_st"), col("*"))
    for (r <- 1 to math.max(cellIters, pqIters)) {
      val parts = (if (r <= cellIters) Seq(cellUpdate) else Nil) ++
        (if (r <= pqIters) Seq(pqUpdate) else Nil)
      val u = meansByKey(parts.reduce(_.unionAll(_)).collect(), 3)
      if (r <= cellIters) {
        val uc = u.collect { case (Seq(0, _, cid), nq) => cid -> nq }
        cellC =
          if (r < cellIters)
            cellC.map { case (cid, old) => cid -> uc.get(cid).fold(old)(_._2) }
          else uc.toSeq.sortBy(_._1).map { case (cid, (_, qc)) => cid -> qc }
        sizes = uc.map { case (cid, (n, _)) => cid -> n }
      }
      if (r <= pqIters) {
        val up = u.collect { case (Seq(1, sub, cid), (_, qc)) =>
          (sub, cid) -> qc }
        pqC = pqC.map { case (key, old) => key -> up.getOrElse(key, old) }
      }
    }
    Trained(cellC, sizes, pqC)
  }

  /** L2 (unit-norm) embedding normalization, emitted long-form
    * (id, dim, unit_v) so values stay typed doubles end-to-end — after
    * this, cosine similarity is a plain dot product, which is what every
    * ANN index wants as input. The norm is staged as an attribute before
    * the explode so it's computed once per vector; all-zero vectors map
    * to all-zero output instead of dividing by zero. Values are rounded
    * to 6 digits (engine-stable like the cosine outputs).
    */
  def l2Normalize(vecs: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    vecs.select(col(idCol), l2Norm(col(vecCol)).as("_n"),
        posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .select(col(idCol), col("dim"),
        when(col("_n") > 0,
          round(col("_v").cast("double") / col("_n"), 6))
          .otherwise(lit(0.0)).as("unit_v"))

  /** ANN search through the trained quantizer: corpus and queries are
    * assigned to their nearest [[kmeansCentroids]] centroid with the SAME
    * exact quantized argmin used in training, then cosine top-k runs only
    * inside the query's cell — candidates shrink to ~1/nClusters of the
    * corpus, and because assignment is exact integer math the cells (and
    * so the results) are bit-identical across engines and layouts. At
    * scale the corpus is written partitioned by the (small-int) cell id,
    * turning probes into partition-pruned scans exactly like
    * [[writeIvfIndex]] does for LSH buckets.
    */
  def kmeansIvfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    nClusters: Int, iters: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroidArrays(corpus, nClusters, iters, idCol, vecCol)
    def withCell(df: DataFrame, id: String, p: String) =
      argminAssign(
          df.select(col(idCol).as(id), col(vecCol).as(p + "v"),
            l2Norm(col(vecCol)).as(p + "n"),
            quantize_vec(col(vecCol)).as("_qv")),
          id, cents, "bucket")
        .select(col(id), col(p + "v"), col(p + "n"), col("bucket"))
    val q = withCell(queries, "query_id", "q")
    val c = withCell(Rebalance(corpus), "corpus_id", "c")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .withColumn("cos_sim", dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rnk"))
  }

  /** Symmetric int8 embedding quantization (per-vector scale =
    * max|v|/127) — the 4x storage/bandwidth compression step before
    * shipping embeddings to an ANN index or training shard. Emitted as
    * (id, scale, q_csv) with the int8 codes comma-joined (string-exact in
    * any engine; reconstruct v ~ q * scale). All-zero vectors quantize to
    * all-zero codes with scale 0 rather than dividing by zero (Spark
    * would give IEEE Infinity, DuckDB NULL — both wrong). Pure codegen'd
    * Column algebra: a narrow one-pass projection, no shuffle.
    */
  def quantizeInt8(vecs: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val scale =
      array_max(transform(col(vecCol), v => abs(v))).cast("double") / 127.0
    // stage the scale as its own attribute first: referencing the
    // array_max expression from inside the per-element lambda would
    // re-evaluate it for every element (O(d^2) per vector — codegen CSE
    // does not cross lambda boundaries)
    vecs.select(col(idCol), scale.as("scale"), col(vecCol))
      .select(col(idCol), col("scale"),
        concat_ws(",", transform(col(vecCol), v =>
          when(col("scale") > 0,
            round(v.cast("double") / col("scale")).cast("int"))
            .otherwise(lit(0)).cast("string"))).as("q_csv"))
  }

  /** Materialize the IVF index: the corpus written as parquet PARTITIONED
    * BY the sign-LSH bucket. This is the physical layout that turns probes
    * into partition-pruned scans — the difference between "filter 100 TB"
    * and "read 1/2^bits of it". Rows are clustered by bucket before the
    * write (one file per directory per batch, not partitions × buckets
    * tiny files — same discipline as the MinHash index).
    */
  def writeIvfIndex(corpus: DataFrame, path: String, dim: Int, bits: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    mode: String = "overwrite"): Unit =
    graft.ops.IndexMaintenance.writeBase(
      corpus.withColumn("bucket", lshBucket(col(vecCol), dim, bits))
        .repartition(col("bucket")),
      path, partitionCol = "bucket", mode = mode)

  /** Incrementally add vectors to a written IVF index. The sign-LSH
    * bucket is a STATELESS function of (vector, dim, bits) — no trained
    * quantizer to version — so appended rows carry exactly the bucket a
    * probe for them will look in; `dim`/`bits` must match the index
    * write. Each batch lands as ONE flat file in the index's L0 delta
    * ([[graft.ops.IndexMaintenance.appendDelta]] — probes union it in);
    * [[compactIvfIndex]] folds the delta back into the bucketed base.
    */
  def appendIvfIndex(newVecs: DataFrame, path: String, dim: Int, bits: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit =
    graft.ops.IndexMaintenance.appendDelta(
      newVecs.withColumn("bucket", lshBucket(col(vecCol), dim, bits)),
      path)

  /** Fold the IVF index's delta into the bucketed base, one file per
    * bucket (see [[graft.ops.IndexMaintenance.compactBucketed]]; the id
    * dedup key makes a crash-window re-fold collapse).
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, idCol: String = "vec_id"): Unit =
    graft.ops.IndexMaintenance.compactBucketed(spark, path, Seq(idCol))

  /** [[compactIvfIndex]] with the bounded rewrite unit ([[graft.ops
    * .IndexMaintenance.compactBucketedIncremental]]); owns the index's
    * dedup-key set so streaming callers cannot drift from it.
    */
  def compactIvfIndexIncremental(spark: org.apache.spark.sql.SparkSession,
                                 path: String,
                                 idCol: String = "vec_id"): Unit =
    graft.ops.IndexMaintenance.compactBucketedIncremental(spark, path,
      Seq(idCol))

  /** Probe a written IVF index. The probe set (own bucket + optional
    * hamming-1 neighbors per query) is computed from the query vectors —
    * a driver-side literal list, which is exactly what static partition
    * pruning wants: the scan's PartitionFilters restrict it to the probed
    * bucket directories (asserted in IvfIndexSpec), so cost scales with
    * probes/2^bits of the corpus, not the corpus.
    */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, k: Int, dim: Int, bits: Int,
                   multiProbe: Boolean = false, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val primary = lshBucket(col(vecCol), dim, bits)
    val probeSet =
      if (!multiProbe) array(primary)
      else array(primary +:
        (0 until bits).map(b => primary.bitwiseXOR(lit(1 << b))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"), explode(probeSet).as("bucket"))
    val probes: Array[Int] = q.select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    // base partition-pruned + L0 delta rows (IndexMaintenance layout)
    val c = graft.ops.IndexMaintenance
      .readBucketed(spark, path, probes.toIndexedSeq)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        l2Norm(col(vecCol)).as("cn"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .withColumn("cos_sim", dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rnk"))
  }

  /** Product quantization + asymmetric-distance (ADC) top-k — the
    * memory-side of the ANN stack (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI'11): vectors compress to m
    * sub-codebook ids (m bytes at k<=256 vs 4·dim bytes raw), and query
    * scans touch only the codes plus an m×k distance table per query.
    * Composes with [[kmeansIvfTopK]] (coarse cells) as IVF-PQ.
    *
    * All m sub-codebooks train in ONE Lloyd pass over the corpus: the
    * (id, vector) rows explode to (id, sub, subvector) and the
    * assignment/update aggregate by (sub, cluster) — m separate k-means
    * for the cost (scans, shuffles) of one. Codebooks are O(m·k·dim/m)
    * driver/broadcast state. The ADC join streams the codes against a
    * broadcast distance table and map-side-aggregates the m partial
    * distances per (query, vector) — no corpus shuffle.
    *
    * Same exact-arithmetic discipline as [[kmeansCentroids]]: subvectors
    * quantize to 1e-6-grid longs, distances/updates are integer math with
    * id-tiebroken argmins, so training, codes, and rankings are
    * bit-identical across engines — the DuckDB oracle replays everything.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
             m: Int, codebookK: Int, iters: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    withQuantizedCorpus(corpus, idCol, vecCol) { qcorpus =>
      val cents = fusedCellPqTrain(qcorpus,
        pq = Some(Lloyd(codebookK, iters)), dim = dim, m = m).codebooks
      pqAdc(queries, qcorpus, cents, k, dim, m, idCol, vecCol, None)
    }

  /** Two-stage ANN serving — the standard IVF-PQ pattern: [[ivfPqTopK]]'s
    * ADC ranking nominates `rerankR` candidates per query, and ONLY those
    * ids are re-scored with exact cosine against the raw vectors. At
    * 100 TB the re-rank is a broadcast of |Q|·R candidate ids into one
    * corpus scan (a broadcast semi-join fetch, never a shuffle of the
    * corpus), recovering the ranking fidelity ADC quantization loses for
    * the cost of touching R true vectors per query.
    */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                      rerankR: Int, dim: Int, nCells: Int, cellIters: Int,
                      m: Int, codebookK: Int, pqIters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val cand = ivfPqTopK(queries, corpus, rerankR, dim, nCells, cellIters,
      m, codebookK, pqIters, idCol, vecCol)
      .select(col("query_id"), col("corpus_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = c
      .join(broadcast(cand.join(broadcast(q), Seq("query_id"))),
        Seq("corpus_id"))
      .withColumn("cos_sim", dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rnk"))
  }

  /** IVF-PQ: the coarse trained quantizer ([[kmeansCentroids]] cells)
    * composed with PQ codes — candidates shrink to ~1/nCells of the
    * corpus AND each candidate costs m code-table lookups instead of a
    * dim-wide scan. This is the standard billion-scale ANN layout
    * (FAISS IVFADC): cells prune I/O, codes prune bytes. Cell assignment
    * and PQ training both use the exact quantized-long argmin, so the
    * whole index build and search replay in the oracle. The two
    * quantizers are independent (PQ trains on raw subvectors, not
    * residuals), so they train in one [[fusedCellPqTrain]] run, and ONE
    * cached quantized corpus feeds training, cell assignment and encoding.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                nCells: Int, cellIters: Int, m: Int, codebookK: Int,
                pqIters: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    withQuantizedCorpus(corpus, idCol, vecCol) { qcorpus =>
      val t = fusedCellPqTrain(qcorpus, Some(Lloyd(nCells, cellIters)),
        Some(Lloyd(codebookK, pqIters)), dim, m)
      def cellOf(qdf: DataFrame, id: String): DataFrame =
        argminAssign(qdf, id, t.cells, "_cell").select(col(id), col("_cell"))
      pqAdc(queries, qcorpus, t.codebooks, k, dim, m, idCol, vecCol,
        Some((cellOf(qcorpus, "_vid"),
          cellOf(quantized(queries, "_qid", idCol, vecCol), "_qid"))))
    }

  /** [[ivfPqTopK]] with TWO-LEVEL (coarse-then-refine) cell assignment —
    * the last flat-O(n·k) assignment form, given the inverted-multi-index
    * treatment the serving index ([[writeIvfPqIndexTwoLevel]]) and the
    * near-dup miner ([[cosineNearDupPairsIvfTwoLevel]]) already have:
    * k1·k2 effective coarse cells cost O(n·(k1+k2)) assignment work
    * (one argmin over k1 trained coarse centroids, then one over the k2
    * sub-centroids of the row's own coarse cell), instead of the flat
    * form's O(n·k1·k2). Training, sub-init/update, tie and rounding
    * rules are the exact shared trajectory ([[fusedCellPqTrain]] +
    * [[trainSubCells]]/[[subArgmin]]); the ADC tail is [[ivfPqTopK]]'s,
    * restricted to the combined cell id c1·k2+sub. With k1=1 the
    * sub-level IS the flat single-update trainer, so results degenerate
    * bit-identically to ivfPqTopK(nCells=k2, cellIters=1) — spec-pinned.
    */
  def ivfPqTopKTwoLevel(queries: DataFrame, corpus: DataFrame, k: Int,
                        dim: Int, k1: Int, k2: Int, cellIters: Int,
                        m: Int, codebookK: Int, pqIters: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(k1 > 0 && k2 > 0, s"k1=$k1 k2=$k2")
    withQuantizedCorpus(corpus, idCol, vecCol) { qcorpus =>
      val t = fusedCellPqTrain(qcorpus, Some(Lloyd(k1, cellIters)),
        Some(Lloyd(codebookK, pqIters)), dim, m)
      // feeds sub-init, the sub update, and the final assignment
      val a1 = argminAssign(qcorpus, "_vid", t.cells, "_c1")
        .localCheckpoint(eager = true)
      val subs = subsFrame(qcorpus.sparkSession, trainSubCells(a1, k2))
      def cellOf(a: DataFrame, id: String): DataFrame =
        subArgmin(a, id, subs, k2).select(col(id), col("cell").as("_cell"))
      val qa1 = argminAssign(quantized(queries, "_qid", idCol, vecCol),
        "_qid", t.cells, "_c1")
      pqAdc(queries, qcorpus, t.codebooks, k, dim, m, idCol, vecCol,
        Some((cellOf(a1, "_vid"), cellOf(qa1, "_qid"))))
    }
  }

  /** Materialize the IVF-PQ SERVING index — train once, probe many, the
    * layout that separates the expensive build from the per-query cost
    * (FAISS's IVFADC split; every in-query entry above retrains per call
    * by design, which is the right self-contained-operator contract but
    * the wrong serving economics). On disk:
    *   - `cells/`      coarse-cell centroids (cid, dim, centroid) — O(nCells·dim)
    *   - `codebooks/`  PQ sub-codebooks (sub, cid, dim, centroid) — O(m·k·dim/m)
    *   - `codes/`      one row per corpus vector (id, codes array<int>),
    *                   parquet PARTITIONED BY its coarse cell, so probes
    *                   prune to the queried cells and read m-byte-scale
    *                   codes instead of raw vectors.
    * Training/encoding run the exact quantized-integer pipeline of
    * [[ivfPqTopK]] (same init, argmin, tie and rounding rules), so a
    * probe over the stored artifacts is bit-identical to the in-query
    * form — the same DuckDB replay verifies both.
    */
  def writeIvfPqIndex(corpus: DataFrame, path: String, dim: Int,
                      nCells: Int, cellIters: Int, m: Int, codebookK: Int,
                      pqIters: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit =
    withQuantizedCorpus(corpus, idCol, vecCol) { qcorpus =>
      val t = fusedCellPqTrain(qcorpus, Some(Lloyd(nCells, cellIters)),
        Some(Lloyd(codebookK, pqIters)), dim, m)
      writeIvfPqArtifacts(qcorpus, path, t,
        argminAssign(qcorpus, "_vid", t.cells, "cell"), dim, m, idCol)
    }

  /** [[writeIvfPqIndex]] with a TWO-LEVEL coarse quantizer — the scale
    * lever when coarse-cell count must track corpus size: bounding cell
    * occupancy needs nCells ∝ n, but the flat assignment then costs
    * O(n·nCells) distance evaluations per build. Here k1·k2 effective
    * cells cost O(n·(k1+k2)): one argmin over k1 trained coarse
    * centroids, then one argmin over the k2 sub-centroids OF THE
    * VECTOR'S OWN COARSE CELL (the inverted-multi-index discipline of
    * [[semanticDedupTwoLevel]], applied to the serving index). Stored
    * layout adds `subcells/` (c1, sub, dim, centroid) and a one-row
    * `meta/` (k2) beside the flat form's artifacts; `codes/` partitions
    * by the combined cell id c1·k2 + sub. Determinism matches
    * [[semanticDedupTwoLevel]]: coarse level is
    * [[kmeansCentroidArrays]]'s exact quantized trajectory, sub-init is
    * each coarse cell's k2 LOWEST-id members, one exact Lloyd update,
    * ties to the lower sub id — an oracle replays the whole build.
    */
  def writeIvfPqIndexTwoLevel(corpus: DataFrame, path: String, dim: Int,
                              k1: Int, k2: Int, cellIters: Int, m: Int,
                              codebookK: Int, pqIters: Int,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): Unit = {
    require(k1 > 0 && k2 > 0, s"k1=$k1 k2=$k2")
    withQuantizedCorpus(corpus, idCol, vecCol) { qcorpus =>
      val spark = qcorpus.sparkSession
      import spark.implicits._
      val t = fusedCellPqTrain(qcorpus, Some(Lloyd(k1, cellIters)),
        Some(Lloyd(codebookK, pqIters)), dim, m)
      // feeds sub-init, the sub update, and the final assignment
      val a1 = argminAssign(qcorpus, "_vid", t.cells, "_c1")
        .localCheckpoint(eager = true)
      val subs = trainSubCells(a1, k2)
      longFormDF(spark, subs, "c1", "sub")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/subcells")
      Seq(Tuple1(k2)).toDF("k2")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      writeIvfPqArtifacts(qcorpus, path, t,
        subArgmin(a1, "_vid", subsFrame(spark, subs), k2), dim, m, idCol)
    }
  }

  /** The artifacts both IVF-PQ index forms write: `cells/` (the coarse
    * centroids), `codebooks/`, and `codes/` — the cached quantized
    * corpus's PQ codes, partitioned by each row's final `cell` (`cCell`:
    * _vid, cell, ...). Centroids persist on the same 1e-6 grid they
    * trained on: q/1e6 round-trips exactly through round(x*1e6)
    * ([[pqEncodeCodes]] relies on the same identity).
    */
  private def writeIvfPqArtifacts(qcorpus: DataFrame, path: String,
                                  t: Trained, cCell: DataFrame, dim: Int,
                                  m: Int, idCol: String): Unit = {
    val spark = qcorpus.sparkSession
    import spark.implicits._
    t.cells.flatMap { case (cid, qc) =>
      qc.zipWithIndex.map { case (q, d) => (cid, d, q / 1e6) }
    }.toDF("cid", "dim", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cells")
    longFormDF(spark, t.codebooks, "sub", "cid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val codes = pqAssign(pqSubForm(qcorpus, "_vid", m, dim / m), t.codebooks)
      .groupBy(col("_vid"))
      .agg(transform(
        array_sort(collect_list(struct(col("_sub"),
          col("_m.c").as("_cid")))),
        e => e.getField("_cid")).as("codes"))
    graft.ops.IndexMaintenance.writeBase(
      codes.join(cCell.select(col("_vid"), col("cell")), Seq("_vid"))
        .select(col("_vid").as(idCol), col("codes"), col("cell"))
        .repartition(col("cell")),
      s"$path/codes", partitionCol = "cell")
  }

  /** Sub-centroids after one exact Lloyd update over a coarse-assigned
    * quantized frame `a1` (_vid, _c1, _qv, ...): init is each coarse
    * cell's k2 lowest-id members, the update is [[meanUpdate]] over a
    * [[subArgmin]] assignment — the two-level trajectory every two-level
    * op shares. Returns (c1, sub) -> centroid; coarse cells with fewer
    * than k2 members train fewer subs, and subs left empty by the update
    * vanish.
    */
  private def trainSubCells(a1: DataFrame,
                            k2: Int): Map[(Int, Int), Seq[Long]] = {
    val a = a1.select(col("_vid"), col("_c1"), col("_qv"))
    val wCell = Window.partitionBy(col("_c1")).orderBy(col("_vid"))
    val s0 = a.withColumn("_rk", row_number().over(wCell))
      .filter(col("_rk") <= k2)
      .select(col("_c1"), (col("_rk") - 1).as("_sub"), col("_qv").as("_sqc"))
    meansByKey(meanUpdate(subArgmin(a, "_vid", s0, k2), "_c1", "_sub")
        .collect(), 2)
      .map { case (key, (_, qc)) => (key(0), key(1)) -> qc }
  }

  /** Sub-centroids ((c1, sub) -> centroid) as [[subArgmin]]'s input. */
  private def subsFrame(spark: org.apache.spark.sql.SparkSession,
                        subs: Map[(Int, Int), Seq[Long]]): DataFrame = {
    import spark.implicits._
    subs.toSeq.map { case ((c1, sub), qc) => (c1, sub, qc) }
      .toDF("_c1", "_sub", "_sqc")
  }

  /** Refine coarse-assigned rows (`id`, _c1, _qv, ...) to their combined
    * two-level cell: argmin over the row's own coarse cell's
    * sub-centroids (`sdf`: _c1, _sub, _sqc, broadcast), ties to the
    * lower sub. Appends `_sub` and `cell` = _c1·k2 + sub; the other input
    * columns pass through (`first` per id).
    */
  private def subArgmin(a1: DataFrame, id: String, sdf: DataFrame,
                        k2: Int): DataFrame = {
    val others = a1.columns.filterNot(_ == id).toSeq
    a1.join(broadcast(sdf), Seq("_c1"))
      .groupBy(col(id))
      .agg(min(struct(sqDistQ(col("_qv"), col("_sqc")).as("d"),
          col("_sub").as("s"))).as("_m"),
        others.map(c => first(col(c)).as(c)): _*)
      .select(col(id) +: others.map(col) :+ col("_m.s").as("_sub") :+
        (col("_c1") * k2 + col("_m.s")).as("cell"): _*)
  }

  /** Probe a [[writeIvfPqIndexTwoLevel]] index: queries take the same
    * two-stage assignment (coarse argmin over k1 stored centroids, then
    * sub argmin within their own coarse cell), then the shared
    * cell-pruned ADC probe ranks the stored codes. Train-free, like the
    * flat [[ivfPqIndexTopK]].
    */
  def ivfPqIndexTopKTwoLevel(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame, k: Int,
                             dim: Int, m: Int, idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val subPath = new org.apache.hadoop.fs.Path(s"$path/subcells")
    require(subPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(subPath),
      s"$path has no subcells/ — it is a FLAT IVF-PQ index " +
        "(writeIvfPqIndex); probe it with ivfPqIndexTopK, or rebuild " +
        "with writeIvfPqIndexTwoLevel for the two-level probe")
    val subs = longFormCentroids(spark.read.parquet(s"$path/subcells"))
    val k2 = spark.read.parquet(s"$path/meta")
      .collect().head.getInt(0)
    val a1 = argminAssign(quantized(queries, "_qid", idCol, vecCol), "_qid",
      loadIvfPqCells(spark, path), "_c1")
    adcProbeStored(spark, path,
      subArgmin(a1, "_qid", subsFrame(spark, subs), k2), k, dim, m, idCol)
  }

  /** Stored cell centroids, back on the 1e-6 training grid. */
  private def loadIvfPqCells(spark: org.apache.spark.sql.SparkSession,
                             path: String): Seq[(Int, Seq[Long])] =
    spark.read.parquet(s"$path/cells")
      .collect().groupBy(_.getInt(0))
      .map { case (cid, rs) =>
        cid -> rs.sortBy(_.getInt(1))
          .map(r => math.round(r.getDouble(2) * 1e6)).toSeq
      }.toSeq.sortBy(_._1)

  /** Two-key long-form centroids (key1, key2, dim, centroid) — stored
    * sub-codebooks or sub-cells — back on the 1e-6 training grid.
    */
  private def longFormCentroids(df: DataFrame): Map[(Int, Int), Seq[Long]] =
    df.collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (key, rs) =>
        key -> rs.sortBy(_.getInt(2))
          .map(r => math.round(r.getDouble(3) * 1e6)).toSeq
      }

  /** Incrementally add vectors to a written IVF-PQ index WITHOUT
    * retraining: new rows encode against the STORED codebooks
    * ([[pqEncodeCodes]] — a narrow, streaming-safe projection), take
    * their coarse cell from the stored centroids, and land as one flat
    * file in the codes' L0 delta ([[graft.ops.IndexMaintenance]]);
    * probes union the delta in and [[compactIvfPqCodes]] folds it. This
    * is the standard quantizer-reuse contract: codebooks describe the
    * trained distribution and are versioned with the index — appends
    * inherit them (re-train + rebuild when the distribution drifts).
    */
  def appendIvfPqIndex(newVecs: DataFrame, path: String, dim: Int, m: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    val withCell = argminAssign(quantized(newVecs, idCol, idCol, vecCol),
        idCol, loadIvfPqCells(spark, path), "cell")
      .select(col(idCol), col("cell"))
    val codes = pqEncodeCodes(newVecs,
      spark.read.parquet(s"$path/codebooks"), dim, m, idCol, vecCol)
    graft.ops.IndexMaintenance.appendDelta(
      codes.join(withCell, Seq(idCol)), s"$path/codes")
  }

  /** Fold the codes' L0 delta into the cell-partitioned base (see
    * [[graft.ops.IndexMaintenance.compactBucketed]]).
    */
  def compactIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
                        path: String, idCol: String = "vec_id"): Unit =
    graft.ops.IndexMaintenance.compactBucketed(spark, s"$path/codes",
      Seq(idCol), partitionCol = "cell")

  /** [[compactIvfPqCodes]] with the bounded rewrite unit: only the
    * cells the appended codes touched rewrite
    * ([[graft.ops.IndexMaintenance.compactBucketedIncremental]]); owns
    * the codes index's dedup-key set like its minhash/IVF siblings.
    */
  def compactIvfPqCodesIncremental(
      spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "vec_id"): Unit =
    graft.ops.IndexMaintenance.compactBucketedIncremental(spark,
      s"$path/codes", Seq(idCol), partitionCol = "cell")

  /** Probe a written IVF-PQ index: NO training, no raw-vector scan — the
    * per-query cost is one broadcast distance table (m×codebookK integer
    * entries per query) against a cell-pruned scan of the stored codes,
    * map-side-aggregated ADC exactly as [[ivfPqTopK]]'s in-query form.
    * `dim`/`m` must match the index write. Output and ranking are
    * bit-identical to [[ivfPqTopK]] under the same build parameters.
    */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession,
                     path: String, queries: DataFrame, k: Int, dim: Int,
                     m: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val qCell = argminAssign(quantized(queries, "_qid", idCol, vecCol),
      "_qid", loadIvfPqCells(spark, path), "cell")
    adcProbeStored(spark, path, qCell, k, dim, m, idCol)
  }

  /** The stored-index ADC probe shared by the flat and two-level index
    * forms: given each query's resolved coarse cell (`qCell`: _qid,
    * cell, _qv, ...), build the per-query distance table from the stored
    * codebooks, scan only the probed cells' codes
    * (partition-pruned through [[graft.ops.IndexMaintenance]]), and
    * rank by aggregated ADC distance.
    */
  private def adcProbeStored(spark: org.apache.spark.sql.SparkSession,
                             path: String, qCell: DataFrame, k: Int,
                             dim: Int, m: Int, idCol: String): DataFrame = {
    val cents = longFormCentroids(spark.read.parquet(s"$path/codebooks"))
    val probeCells: Array[Int] = qCell.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val qdist = pqSubForm(qCell.select(col("_qid"), col("_qv")),
        "_qid", m, dim / m)
      .join(pqCentsDF(spark, cents), Seq("_sub"))
      .select(col("_qid"), col("_sub"), col("_cid"), pqSubDist.as("_d"))
      .join(qCell.select(col("_qid"), col("cell")), Seq("_qid"))
    val codes = graft.ops.IndexMaintenance
      .readBucketed(spark, s"$path/codes", probeCells.toIndexedSeq,
        partitionCol = "cell")
      .select(col(idCol).as("_vid"), col("cell"),
        posexplode(col("codes")).as(Seq("_sub", "_cid")))
    val adc = codes.join(broadcast(qdist), Seq("cell", "_sub", "_cid"))
      .groupBy(col("_qid"), col("_vid"))
      .agg(sum(col("_d")).as("_dist"))
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("_dist"), col("_vid"))
    adc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("_qid").as("query_id"), col("_vid").as("corpus_id"),
        round(col("_dist").cast("double") / 1e12, 6).as("approx_dist"),
        col("rnk"))
  }

  // --- PQ internals shared by pqTopK / ivfPqTopK / pqCodebooks /
  // pqEncodeCodes -----------------------------------------------------

  /** Long-form quantized subvectors of an (id, _qv) input: (id, _sub, _qs). */
  private def pqSubForm(qdf: DataFrame, id: String, m: Int,
                        subLen: Int): DataFrame = {
    val slices = array((0 until m).map(j =>
      slice(col("_qv"), j * subLen + 1, subLen)): _*)
    qdf.select(col(id), posexplode(slices).as(Seq("_sub", "_qs")))
  }

  private def pqCentsDF(spark: org.apache.spark.sql.SparkSession,
                        c: Map[(Int, Int), Seq[Long]]): DataFrame = {
    import spark.implicits._
    broadcast(c.toSeq.map { case ((s, cid), qc) => (s, cid, qc) }
      .toDF("_sub", "_cid", "_qc"))
  }

  /** Two-key centroids as long-form (`key1`, `key2`, dim, centroid) rows,
    * the 1e-6 grid back to doubles — [[pqCodebooks]]' output and the
    * stored `codebooks/` and `subcells/`; [[longFormCentroids]] reads
    * them back.
    */
  private def longFormDF(spark: org.apache.spark.sql.SparkSession,
                         c: Map[(Int, Int), Seq[Long]], key1: String,
                         key2: String): DataFrame = {
    import spark.implicits._
    c.toSeq.flatMap { case ((a, b), qc) =>
      qc.zipWithIndex.map { case (q, d) => (a, b, d, q / 1e6) }
    }.toDF(key1, key2, "dim", "centroid")
  }

  /** Exact integer squared distance between _qs and _qc. */
  private def pqSubDist: Column = sqDistQ(col("_qs"), col("_qc"))

  /** Nearest sub-codeword per (row, subspace) over a long-form subvector
    * frame (`_vid`, `_sub`, `_qs`): appends `_m` = struct(d, c), the
    * winning codeword's distance and cid for the ROW's own subspace —
    * the PQ twin of [[argminAssign]]'s batched form. Sub-codebooks are
    * m·codebookK·subLen = dim·codebookK elements — small by
    * construction — so the primary form rides ONE nested plan literal
    * indexed by `_sub` (all m codebooks; one codegen'd
    * [[graft.functions.ArgMinSqDist]] call per row), with positions
    * mapped back to cids through a parallel cid-sorted per-sub table.
    * Past [[argminLiteralMaxElems]] (same injectable bound as
    * [[argminAssign]], shared so the two kernels age together) it falls
    * back to a broadcast join on `_sub` + min(struct(d, cid)) regroup —
    * same tie rule (lowest cid) and exact integer distances, so
    * assignments are bit-identical (spec-pinned, PqSpec). Both branches
    * emit the SAME schema shape — input columns in input order with `_m`
    * appended, and a null `_qs` yielding a non-null `_m` with null
    * `d`/`c` FIELDS (the kernel through getField on a null argmin
    * result, the join through explicit per-field guards) — so the
    * branch taken, a pure matrix-size concern, is unobservable even to
    * positional or struct-level-null consumers.
    */
  private def pqAssign(df: DataFrame,
                       c: Map[(Int, Int), Seq[Long]]): DataFrame = {
    val bySub: Seq[Seq[(Int, Seq[Long])]] = c.groupBy(_._1._1).toSeq
      .sortBy(_._1)
      .map(_._2.toSeq.map { case ((_, cid), v) => (cid, v) }.sortBy(_._1))
    val nElems = c.valuesIterator.map(_.size.toLong).sum
    if (nElems <= argminLiteralMaxElems) {
      val mats = typedLit(bySub.map(_.map(_._2)))
      val cids = typedLit(bySub.map(_.map(_._1)))
      val m0 = graft.functions.VectorFunctions.argmin_sq_dist(
        col("_qs"), element_at(mats, col("_sub") + lit(1)))
      df.withColumn("_m0", m0)
        .withColumn("_m", struct(
          col("_m0").getField("d").as("d"),
          element_at(element_at(cids, col("_sub") + lit(1)),
            col("_m0").getField("c") + lit(1)).as("c")))
        .drop("_m0")
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val cdf = broadcast(bySub.zipWithIndex.flatMap {
        case (cents, sub) => cents.map { case (cid, v) => (sub, cid, v) }
      }.toDF("_sub", "_ccid", "_cqc"))
      val dist = sqDistQ(col("_qs"), col("_cqc"))
      val others = df.columns.filterNot(n => n == "_vid" || n == "_sub")
        .toSeq
      // normalized to the kernel branch's exact schema shape: same
      // column order (input columns + _m last) and FIELD-level nulls for
      // a null _qs (the kernel's getField on a null argmin struct yields
      // a non-null _m with null fields) — so branch choice, which is
      // purely a matrix-size concern, can never be observed positionally
      // or through a struct-level null check.
      df.join(cdf, Seq("_sub"))
        .groupBy(col("_vid"), col("_sub"))
        .agg(min(struct(dist.as("d"), col("_ccid").as("c"))).as("_mm"),
          others.map(n => first(col(n)).as(n)): _*)
        .withColumn("_m", struct(
          when(col("_qs").isNotNull, col("_mm").getField("d")).as("d"),
          when(col("_qs").isNotNull, col("_mm").getField("c")).as("c")))
        .select(df.columns.map(col) :+ col("_m"): _*)
    }
  }

  /** Train the m PQ sub-codebooks — the index-BUILD half of the PQ API
    * (pqTopK/ivfPqTopK run it internally; persist this plus
    * [[pqEncodeCodes]] output to materialize a PQ index). Long-form
    * output like [[kmeansCentroids]]: (sub, cid, dim, centroid).
    */
  def pqCodebooks(corpus: DataFrame, dim: Int, m: Int, codebookK: Int,
                  iters: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    withQuantizedCorpus(corpus, idCol, vecCol) { qcorpus =>
      longFormDF(corpus.sparkSession, fusedCellPqTrain(qcorpus,
        pq = Some(Lloyd(codebookK, iters)), dim = dim, m = m).codebooks,
        "sub", "cid")
    }

  /** Encode rows to their m PQ codes as a NARROW projection — no
    * explode, no shuffle, streaming-safe (each row folds its subvectors
    * against codebook literals; argmin = min over struct(d, cid), the
    * same tie rule as training). `codebooks` is [[pqCodebooks]] output.
    * This is the shape a 100 TB encode pass (or a streaming ingest leg)
    * wants: one scan, map-side only.
    */
  def pqEncodeCodes(df: DataFrame, codebooks: DataFrame, dim: Int, m: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val subLen = dim / m
    val cents = longFormCentroids(codebooks)
    val staged = df.select(col(idCol) +: col(vecCol) +:
      (0 until m).map(j =>
        slice(quantize_vec(col(vecCol)), j * subLen + 1, subLen)
          .as(s"_s$j")): _*)
    def code(j: Int): Column = {
      val entries = cents.collect { case ((s, cid), qc) if s == j =>
        (cid, qc) }.toSeq.sortBy(_._1)
      val candidates = entries.map { case (cid, qc) =>
        struct(sqDistQ(col(s"_s$j"), typedlit(qc)).as("d"),
          lit(cid).as("c"))
      }
      array_min(array(candidates: _*)).getField("c")
    }
    staged.select(col(idCol),
      array((0 until m).map(code): _*).as("codes"))
  }

  /** Shared PQ encode/ADC core over the cached quantized corpus
    * (_vid, _qv) and its trained sub-codebooks `cents`; `cells`
    * (corpus-cell, query-cell) restricts candidate pairs to the same
    * coarse cell (IVF-PQ). The ranking is checkpointed eagerly, before
    * the caller releases the corpus cache.
    */
  private def pqAdc(queries: DataFrame, qcorpus: DataFrame,
                    cents: Map[(Int, Int), Seq[Long]], k: Int, dim: Int,
                    m: Int, idCol: String, vecCol: String,
                    cells: Option[(DataFrame, DataFrame)]): DataFrame = {
    val subLen = dim / m
    val spark = qcorpus.sparkSession
    // encode the corpus under the trained codebooks; queries get a
    // per-(query, subspace, cluster) distance table instead
    val codes0 = pqAssign(pqSubForm(qcorpus, "_vid", m, subLen), cents)
      .select(col("_vid"), col("_sub"), col("_m.c").as("_cid"))
    val qdist0 = pqSubForm(quantized(queries, "_qid", idCol, vecCol),
        "_qid", m, subLen)
      .join(pqCentsDF(spark, cents), Seq("_sub"))
      .select(col("_qid"), col("_sub"), col("_cid"), pqSubDist.as("_d"))
    // IVF restriction: tag codes and distance-table rows with their
    // coarse cell and make the cell part of the ADC join key
    val (codes, qdist, joinKeys) = cells match {
      case Some((cCell, qCell)) =>
        (codes0.join(cCell, Seq("_vid")),
          qdist0.join(broadcast(qCell), Seq("_qid")),
          Seq("_sub", "_cid", "_cell"))
      case None => (codes0, qdist0, Seq("_sub", "_cid"))
    }
    val adc = codes.join(broadcast(qdist), joinKeys)
      .groupBy(col("_qid"), col("_vid"))
      .agg(sum(col("_d")).as("_dist"))
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("_dist"), col("_vid"))
    adc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("_qid").as("query_id"), col("_vid").as("corpus_id"),
        round(col("_dist").cast("double") / 1e12, 6).as("approx_dist"),
        col("rnk"))
      .localCheckpoint(eager = true)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold — EXACT
    * all-pairs form: self-join bounded to id_a < id_b. O(n²) similarity
    * evaluations — this is the ground-truth/verification form for bounded
    * subsets and specs; the catalog / scale path is
    * [[cosineNearDupPairsBucketed]].
    */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val a = Rebalance(vecs).select(col(idCol).as("id_a"),
      col(vecCol).as("va"), l2Norm(col(vecCol)).as("na"))
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", dot(col("va"), col("vb")) /
        (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Standard LSH parameter selection (the S-curve algebra, MMDS ch.3)
    * for [[cosineNearDupPairsBucketed]] under the 30-bit signature
    * budget: hyperplane agreement probability for a pair AT the
    * similarity floor is p = 1 - acos(sim)/π; a (bands b, bandBits r)
    * scheme catches such a pair with 1-(1-p^r)^b. Candidate volume per
    * band shrinks as 2^r grows, so pick the LARGEST r whose required
    * band count still fits r*b <= 30, where b(r) = ceil(ln(1-recall) /
    * ln(1-p^r)).
    *
    * The returned config depends only on (corpus size, floor, recall) —
    * deterministic, so an oracle can replay it. Growing n pushes r up
    * (each extra bit halves per-bucket occupancy) until the signature
    * budget binds; past that point the honest scale lever is
    * pre-clustering (the IVF/k-means path) rather than wider
    * signatures, and r is capped at ~log2(n) (buckets beyond corpus
    * size stop helping).
    */
  def autoBandConfig(n: Long, simFloor: Double,
                     targetRecall: Double = 0.9,
                     maxSigBits: Int = 30): (Int, Int) = {
    require(n > 0 && simFloor > 0 && simFloor < 1 &&
      targetRecall > 0 && targetRecall < 1)
    val p = 1.0 - math.acos(simFloor) / math.Pi
    val log2n = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt
    // Long arithmetic: for low similarity floors bandsFor saturates far
    // past Int range and an Int product would wrap negative, letting an
    // infeasible r pass the budget check
    def bandsFor(r: Int): Long = {
      val perBand = math.log(1.0 - math.pow(p, r))
      if (perBand >= 0.0) Long.MaxValue / maxSigBits
      else math.ceil(math.log(1.0 - targetRecall) / perBand).toLong.max(1L)
    }
    val feasible = (1 to math.min(maxSigBits, math.max(log2n, 1)))
      .filter(r => r.toLong * bandsFor(r) <= maxSigBits)
    val r = if (feasible.nonEmpty) feasible.max else 1
    (math.min(bandsFor(r), maxSigBits.toLong).toInt, r)
  }

  /** Cell-restricted embedding near-dup — the PRE-CLUSTERING scale path
    * past banded sign-LSH: the [[cosineNearDupPairsBucketed]] candidate
    * volume grows with n²/2^sigBits once the 30-bit signature budget
    * binds (measured exponent 0.84 at 10x data), while k-means cells
    * keep growing with the corpus (nClusters is a free parameter, not a
    * bit budget). Vectors are assigned to their nearest trained
    * centroid (the exact 1e-6-quantized argmin — identical trajectory
    * to [[kmeansCentroids]], so an oracle replays the cells) and only
    * same-cell pairs are cosine-verified at `threshold`.
    *
    * Recall tradeoff: pairs STRADDLING a cell boundary are missed
    * (exact duplicates always co-assign — distance ties break by cid).
    * This is a HIGH-similarity tool: near-identical vectors land in the
    * same cell (DedupSimSpec pins recall 1.0 on a synthetic >=0.99
    * near-dup corpus), while at a LOW floor most weakly-similar pairs
    * straddle cells (measured 285/920 = 0.31 at floor 0.3 with 8 cells
    * on the sf0.001 corpus — the catalog entry at that floor is an
    * oracle-checkable correctness fixture, not a recall claim). Raise
    * recall with fewer/larger cells, or union with the banded form
    * (standard multi-probe posture).
    */
  def cosineNearDupPairsIvf(vecs: DataFrame, threshold: Double,
                            nClusters: Int, iters: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    sameCellPairs(flatCells(vecs, nClusters, iters, idCol, vecCol),
      threshold)

  /** Embedding-space decontamination — the SEMANTIC member of the
    * decontamination family (n-gram exact set membership, Bloom
    * approximate membership, and now cosine proximity): flag every
    * train row whose embedding sits within `floor` cosine of ANY eval
    * row — paraphrased or lightly-reworded eval leakage that no n-gram
    * overlap can see. The (small, bounded) eval side broadcasts into
    * one partitioned train scan — O(|eval|·n) dot products, the same
    * shape as [[hardNegatives]]/[[anchorExactPairs]]; no shuffle except
    * the per-train-row max aggregate, which partial-aggregates
    * map-side. Output keeps every train id with its strongest eval
    * similarity and the flag (filtering vs routing is the caller's
    * policy, like [[DedupOps.bloomDecontaminate]]). At eval sets past
    * broadcast size, pre-reduce the eval side (e.g. k-means centroids
    * at a tightened floor) or run per-eval-shard and OR the flags.
    */
  def semanticDecontaminate(train: DataFrame, evalSet: DataFrame,
                            floor: Double, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val ev = evalSet.select(col(vecCol).as("_ev"),
      l2Norm(col(vecCol)).as("_en"))
    val scored = Rebalance(train)
      .select(col(idCol), col(vecCol).as("_tv"),
        l2Norm(col(vecCol)).as("_tn"))
      .crossJoin(broadcast(ev))
      .select(col(idCol), (dot(col("_tv"), col("_ev")) /
        (col("_tn") * col("_en"))).as("_cos"))
      .groupBy(col(idCol))
      .agg(max(col("_cos")).as("_maxc"))
    // LEFT join back so an EMPTY eval set (e.g. one shard of a sharded
    // sweep filtering to nothing) still yields every train id with
    // is_contaminated = false, honoring the every-row contract — the
    // cross join alone would silently drop the whole train set
    train.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), round(col("_maxc"), 6).as("max_eval_cos"),
        coalesce(col("_maxc") >= floor, lit(false)).as("is_contaminated"))
  }

  /** [[cosineNearDupPairsIvf]] with the TWO-LEVEL coarse assignment —
    * the same scale lever [[semanticDedupTwoLevel]] and
    * [[writeIvfPqIndexTwoLevel]] apply: k1·k2 effective cells at
    * O(n·(k1+k2)) assignment cost, so cell count can track corpus size
    * without the flat O(n·k) blowup. Shares [[trainSubCells]] /
    * [[subArgmin]] with the serving-index build (identical trajectory:
    * lowest-id sub-init, one exact Lloyd update, ties to the lower
    * sub), then the flat form's same-cell cosine-verify tail. The same
    * recall caveat applies doubled: pairs straddling EITHER level's
    * boundary are missed — a high-similarity tool.
    */
  def cosineNearDupPairsIvfTwoLevel(vecs: DataFrame, threshold: Double,
                                    k1: Int, k2: Int, iters: Int,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding")
      : DataFrame =
    sameCellPairs(twoLevelCells(vecs, k1, k2, iters, idCol, vecCol),
      threshold)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering the embedding space with k-means and
    * pruning WITHIN clusters only — every vector with a lower-id
    * cluster-mate at cosine >= `threshold` is marked dropped, keeping the
    * lowest id of each semantic-duplicate set. One output row per input:
    * (idCol, cell, is_kept, dup_of, dup_cos), where dup_of is the lowest
    * too-similar predecessor (null when kept) and dup_cos the strongest
    * such similarity (round 6, engine-stable).
    *
    * Scale shape is the paper's own: the only quadratic step is the
    * per-cluster self-join, and cluster sizes are controlled by k
    * (k ~ n/1000 keeps each cell's pair volume bounded as the corpus
    * grows; the join shuffles both sides on the small-int cell key). The
    * clustering reuses [[kmeansCentroidArrays]] — exact 1e-6-quantized
    * integer argmin, lowest-id init — so cells, and therefore the whole
    * keep/drop decision, are bit-identical across engines and partition
    * layouts; the DuckDB oracle replays the full trajectory. The
    * assignment frame feeds three plan branches (both self-join sides and
    * the final keep-flag join), hence the eager checkpoint.
    */
  def semanticDedup(vecs: DataFrame, threshold: Double, nClusters: Int,
                    iters: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    pruneWithinCells(flatCells(vecs, nClusters, iters, idCol, vecCol),
      threshold, idCol)

  /** SemDeDup with TWO-LEVEL (coarse-then-refine) cell assignment — the
    * scale lever past [[semanticDedup]]'s flat argmin: bounding cluster
    * size needs k ∝ n cells, but a flat assignment then costs O(n·k)
    * distance evaluations (quadratic/cellSize — SCALE.md measures the
    * flat form's exponent). Here k = k1·k2 effective cells cost only
    * O(n·(k1+k2)): one argmin over k1 trained coarse centroids, then
    * one argmin over the k2 sub-centroids OF THE VECTOR'S OWN COARSE
    * CELL (the inverted-multi-index discipline, Babenko & Lempitsky
    * 2012, applied to SemDeDup's cluster-then-prune shape).
    *
    * Determinism (oracle-replayable end to end): coarse level reuses
    * [[kmeansCentroidArrays]]'s exact quantized trajectory; sub-level
    * init is each coarse cell's k2 LOWEST-id members, one exact Lloyd
    * update (same integer mean rounding), ties to the lower sub id.
    * Final cell id = c1·k2 + sub; the within-cell prune (keep lowest
    * id at cosine >= threshold) is [[semanticDedup]]'s, unchanged.
    * Coarse cells with fewer than k2 members simply train fewer
    * sub-centroids. Output schema matches [[semanticDedup]].
    */
  def semanticDedupTwoLevel(vecs: DataFrame, threshold: Double,
                            k1: Int, k2: Int, iters: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(k1 > 0 && k2 > 0, s"k1=$k1 k2=$k2")
    pruneWithinCells(twoLevelCells(vecs, k1, k2, iters, idCol, vecCol),
      threshold, idCol)
  }

  /** Corpus rows (_vid, _v, _n, _qv) — the id, the raw vector, its norm
    * and its quantized form — with their nearest of `cents` appended as
    * `cellName` (the exact argmin the cells trained under).
    */
  private def payloadCells(vecs: DataFrame, cents: Seq[(Int, Seq[Long])],
                           cellName: String, idCol: String,
                           vecCol: String): DataFrame =
    argminAssign(
      Rebalance(vecs).select(col(idCol).as("_vid"), col(vecCol).as("_v"),
        l2Norm(col(vecCol)).as("_n"), quantize_vec(col(vecCol)).as("_qv")),
      "_vid", cents, cellName)

  /** (_vid, _v, _n, cell) under [[kmeansCentroids]]' k flat cells, the
    * input of the same-cell tails. Every tail reads it more than once
    * (both self-join sides; SemDeDup's keep-flag join too) and Spark
    * shares no common subplans, hence the eager checkpoint; its blocks
    * are swept by the harness' persistent-RDD sweep.
    */
  private def flatCells(vecs: DataFrame, k: Int, iters: Int, idCol: String,
                        vecCol: String): DataFrame =
    payloadCells(vecs, kmeansCentroidArrays(vecs, k, iters, idCol, vecCol),
        "cell", idCol, vecCol)
      .select(col("_vid"), col("_v"), col("_n"), col("cell"))
      .localCheckpoint(eager = true)

  /** [[flatCells]] under the two-level assignment: k1 coarse cells, each
    * refined to at most k2 subs by [[trainSubCells]] + [[subArgmin]];
    * cell = c1·k2 + sub.
    */
  private def twoLevelCells(vecs: DataFrame, k1: Int, k2: Int, iters: Int,
                            idCol: String, vecCol: String): DataFrame = {
    // feeds sub-init, the sub update, and the final assignment
    val a1 = payloadCells(vecs,
        kmeansCentroidArrays(vecs, k1, iters, idCol, vecCol), "_c1",
        idCol, vecCol)
      .localCheckpoint(eager = true)
    subArgmin(a1, "_vid", subsFrame(vecs.sparkSession, trainSubCells(a1, k2)),
        k2)
      .select(col("_vid"), col("_v"), col("_n"), col("cell"))
      .localCheckpoint(eager = true)
  }

  /** The cell-restricted near-dup tail shared by [[cosineNearDupPairsIvf]]
    * and [[cosineNearDupPairsIvfTwoLevel]]: over (_vid, _v, _n, cell),
    * every same-cell pair id_a < id_b at cosine >= threshold.
    */
  private def sameCellPairs(assigned: DataFrame,
                            threshold: Double): DataFrame =
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a._vid") < col("b._vid"))
      .select(col("a._vid").as("id_a"), col("b._vid").as("id_b"),
        (dot(col("a._v"), col("b._v")) /
          (col("a._n") * col("b._n"))).as("_cos"))
      .filter(col("_cos") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("_cos"), 6).as("cos_sim"))

  /** The SemDeDup within-cell prune shared by [[semanticDedup]] and
    * [[semanticDedupTwoLevel]]: over (_vid, _v, _n, cell), mark every
    * vector with a lower-id cell-mate at cosine >= threshold dropped.
    */
  private def pruneWithinCells(assigned: DataFrame, threshold: Double,
                               idCol: String): DataFrame = {
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("b._vid") < col("a._vid"))
      .select(col("a._vid").as("_vid"), col("b._vid").as("_peer"),
        (dot(col("a._v"), col("b._v")) /
          (col("a._n") * col("b._n"))).as("_cos"))
      .filter(col("_cos") >= threshold)
      .groupBy(col("_vid"))
      .agg(min(col("_peer")).as("dup_of"), max(col("_cos")).as("_maxc"))
    assigned.join(dups, Seq("_vid"), "left")
      .select(col("_vid").as(idCol), col("cell"),
        col("dup_of").isNull.as("is_kept"), col("dup_of"),
        round(col("_maxc"), 6).as("dup_cos"))
  }

  /** Embedding-cosine near-duplicate pairs via banded sign-LSH — the
    * scale form (same band shape as [[DedupOps.simhashNearDups]]): the
    * `bands * bandBits` hyperplane signature is split into `bands` bands;
    * vectors agreeing on ALL hyperplanes of any band become candidate
    * pairs, then candidates are verified with the exact cosine and cut at
    * `threshold`.
    *
    * The self-join key is (band, band_val) — small uniform buckets, so
    * candidate generation is linear-ish in n instead of the exact form's
    * O(n²) crossJoin; recall is 1 - (1 - p^bandBits)^bands with
    * p = 1 - θ/π (hyperplane agreement probability), i.e. narrow bands /
    * many bands trade candidate volume for recall (DedupSimSpec pins the
    * measured recall against [[cosineNearDupPairs]]). Hyperplanes are the
    * deterministic [[lshBucket]] mix, so the DuckDB oracle replays the
    * bucketing exactly.
    *
    * Pairs sharing several bands are emitted ONCE by their lowest shared
    * band ("first-band ownership"): both sides carry the full signature,
    * and the join filters out collisions whose earlier bands also match —
    * a few integer compares per candidate row, turning the whole operator
    * into join → filter → project with NO pair-dedup aggregate (a
    * groupBy(id_a, id_b) here would build an O(candidate-pairs) hash
    * table per task — the dominant cost at any scale).
    */
  def cosineNearDupPairsBucketed(vecs: DataFrame, threshold: Double,
                                 dim: Int, bands: Int = 8, bandBits: Int = 2,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding"): DataFrame = {
    val bits = bands * bandBits
    require(bits <= 30, s"bands*bandBits=$bits exceeds int bucket width")
    val mask = (1 << bandBits) - 1
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col("_sig"), b * bandBits).bitwiseAND(lit(mask))
        .as("band_val")))
    // signature + norm staged once per vector before the explode. Both
    // self-join sides re-evaluate this pipeline, and that is the RIGHT
    // trade: it is a narrow scan+projection (codegen'd kernel, no
    // shuffle), so recomputing beats materializing a corpus-sized
    // checkpoint — measured both ways locally, and at scale the
    // materialization would cost 1× corpus of storage to save
    // embarrassingly-parallel math
    val banded = Rebalance(vecs)
      .select(col(idCol), col(vecCol).as("_v"),
        l2Norm(col(vecCol)).as("_n"),
        lshBucket(col(vecCol), dim, bits).as("_sig"))
      .select(col(idCol), col("_v"), col("_n"), col("_sig"),
        explode(array(bandCols: _*)).as("kv"))
      .select(col(idCol), col("_v"), col("_n"), col("_sig"),
        col("kv.band"), col("kv.band_val"))
    def bandOf(side: String, k: Int): Column =
      shiftrightunsigned(col(s"$side._sig"), k * bandBits)
        .bitwiseAND(lit(mask))
    // pair owned by band b iff no band k < b also collides
    val firstBand = (0 until bands - 1).map { k =>
      (col("a.band") <= k) || (bandOf("a", k) =!= bandOf("b", k))
    }.reduceOption(_ && _).getOrElse(lit(true))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col(s"a.$idCol") < col(s"b.$idCol") && firstBand)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        (dot(col("a._v"), col("b._v")) /
          (col("a._n") * col("b._n"))).as("_cos"))
      .filter(col("_cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("_cos"), 6).as("cos_sim"))
  }

  /** Deterministic fixed-size anchor sample for recall evaluation: the
    * `m` ids with the smallest md5 of their decimal string — a total,
    * data-independent order both engines replay bit-exactly. A FIXED
    * anchor COUNT (not a fixed fraction) is the 100 TB eval posture:
    * every downstream "anchor × corpus" stage is then O(m·n) instead of
    * the all-pairs O(n²), and the eval's cost scales linearly with the
    * corpus no matter how large it grows.
    */
  def hashSampleAnchors(vecs: DataFrame, m: Int,
                        idCol: String = "vec_id"): DataFrame =
    vecs.withColumn("_h", md5(col(idCol).cast("string").cast("binary")))
      .orderBy(col("_h")).limit(m).drop("_h")

  /** EXACT similarity ground truth bounded to an anchor set: ordered
    * (anchor_id, nbr_id, cos_sim) pairs with cos >= `floor`, mined by
    * broadcasting the (small, fixed-size) anchor side into one
    * partitioned corpus scan — O(|anchors|·n) similarity evaluations,
    * the bounded-sample recall-eval posture SCALE.md prescribes (the
    * quarantined all-pairs form stays available as
    * [[cosineNearDupPairs]] for bounded subsets and specs). A pair whose
    * endpoints are BOTH anchors appears once per anchoring orientation;
    * recall ratios are unaffected (numerator and denominator count it
    * identically).
    */
  def anchorExactPairs(corpus: DataFrame, anchors: DataFrame,
                       floor: Double, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("_av"), l2Norm(col(vecCol)).as("_an"))
    val c = Rebalance(corpus).select(col(idCol).as("nbr_id"),
      col(vecCol).as("_cv"), l2Norm(col(vecCol)).as("_cn"))
    c.crossJoin(broadcast(a))
      .filter(col("anchor_id") =!= col("nbr_id"))
      .withColumn("_cos", dot(col("_av"), col("_cv")) /
        (col("_an") * col("_cn")))
      .filter(col("_cos") >= floor)
      .select(col("anchor_id"), col("nbr_id"),
        round(col("_cos"), 6).as("cos_sim"))
  }

  /** Banded sign-LSH candidate pairs bounded to an anchor set: the
    * candidates [[cosineNearDupPairsBucketed]] would generate, restricted
    * to pairs touching an anchor — the denominator-matched candidate set
    * for anchor-bounded recall evaluation. Anchor band signatures (m·
    * bands rows) broadcast into one banded corpus scan; the DISTINCT
    * collapses multi-band collisions over a candidate set bounded by
    * m · bands · (n / 2^bandBits) expected rows.
    */
  def anchorBandedCandidates(corpus: DataFrame, anchors: DataFrame,
                             dim: Int, bands: Int, bandBits: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val bits = bands * bandBits
    require(bits <= 30, s"bands*bandBits=$bits exceeds int bucket width")
    val mask = (1 << bandBits) - 1
    def banded(df: DataFrame, idAlias: String): DataFrame = {
      val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("_sig"), b * bandBits).bitwiseAND(lit(mask))
          .as("band_val")))
      df.select(col(idCol).as(idAlias),
          lshBucket(col(vecCol), dim, bits).as("_sig"))
        .select(col(idAlias), explode(array(bandCols: _*)).as("kv"))
        .select(col(idAlias), col("kv.band").as("band"),
          col("kv.band_val").as("band_val"))
    }
    banded(Rebalance(corpus), "nbr_id")
      .join(broadcast(banded(anchors, "anchor_id")),
        Seq("band", "band_val"))
      .filter(col("anchor_id") =!= col("nbr_id"))
      .select(col("anchor_id"), col("nbr_id")).distinct()
  }

  /** [[anchorBandedCandidates]] for SEVERAL (bands, bandBits) configs in
    * ONE corpus scan — the fused form a config sweep wants. The
    * hyperplanes of [[lshBucket]] depend only on their bit index, so
    * every config's signature IS the low `bands·bandBits` bits of the
    * single widest signature; one explode emits each config's band
    * values tagged with its `leg` index and one join + distinct serves
    * all legs (vs one scan+shuffle per config — measured job-count, not
    * data, dominates the per-config spelling at eval sizes).
    *
    * `restrictTo`: optional (anchor_id, nbr_id) frame — candidates are
    * semi-joined against it (broadcast) BEFORE the distinct. A recall
    * eval only consults candidates at its ground-truth pairs, so the
    * restriction is semantically free there and turns the distinct's
    * shuffle over the raw collision stream (the dominant cost: anchors ·
    * bands · n/2^bandBits rows across configs) into a broadcast filter
    * followed by a tiny distinct.
    */
  def anchorBandedCandidatesMulti(corpus: DataFrame, anchors: DataFrame,
                                  dim: Int, configs: Seq[(Int, Int)],
                                  restrictTo: Option[DataFrame] = None,
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding"): DataFrame = {
    val maxBits = configs.map { case (b, r) => b * r }.max
    require(maxBits <= 30, s"widest config needs $maxBits bits > 30")
    def banded(df: DataFrame, idAlias: String): DataFrame = {
      val combos = configs.zipWithIndex.flatMap { case ((bands, r), leg) =>
        val mask = (1 << r) - 1
        (0 until bands).map(b => struct(lit(leg).as("leg"),
          lit(b).as("band"),
          shiftrightunsigned(col("_sig"), b * r).bitwiseAND(lit(mask))
            .as("band_val")))
      }
      df.select(col(idCol).as(idAlias),
          lshBucket(col(vecCol), dim, maxBits).as("_sig"))
        .select(col(idAlias), explode(array(combos: _*)).as("kv"))
        .select(col(idAlias), col("kv.leg").as("leg"),
          col("kv.band").as("band"), col("kv.band_val").as("band_val"))
    }
    val collisions = banded(Rebalance(corpus), "nbr_id")
      .join(broadcast(banded(anchors, "anchor_id")),
        Seq("leg", "band", "band_val"))
      .filter(col("anchor_id") =!= col("nbr_id"))
    val kept = restrictTo.fold(collisions)(p => collisions.join(
      broadcast(p.select(col("anchor_id"), col("nbr_id"))),
      Seq("anchor_id", "nbr_id"), "left_semi"))
    kept.select(col("leg"), col("anchor_id"), col("nbr_id")).distinct()
  }
}
