package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale training-data pipelines
  * (north-star ops beyond the reference surface; the reference's own
  * duplicate-rate EDA is SURVEY.md A10).
  *
  * Hash choice: MD5-hex (engine-portable, identical in Spark / DuckDB /
  * any SQL engine) rather than Spark's xxhash64, so every stage is
  * oracle-checkable. Lexicographic min over hex strings is a valid
  * min-hash (uniform over the hash codomain).
  *
  * Scale notes: every variant is a groupBy/join on a hash-derived key —
  * uniformly distributed, so no skew; candidate generation via LSH bands
  * keeps the join linear-ish instead of the O(n^2) all-pairs.
  */
object DedupOps {

  /** [[bloomDecontaminate]] auto-sizing: bits per distinct eval gram
    * (~10% load at k=3) and the bitset cap (16 MiB as a plan literal). */
  val BloomBitsPerGram = 16L
  val BloomMaxBits = 1L << 27

  /** Exact dedup: keep min(doc_id) per identical text, report group size.
    * Hash-groupBy on md5(text) (not raw text) keeps shuffle rows narrow —
    * at 100 TB you shuffle 32-byte keys, not document bodies.
    */
  def exactDuplicateGroups(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    docs.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** A10: duplicate-rate per group (Milestone4 cell 9
    * `text.duplicated().mean()`): 1 - distinct/count. The double division
    * is over exact longs, so it is bit-identical across engines.
    */
  def duplicateRate(docs: DataFrame, byCol: String,
                    textCol: String = "text"): DataFrame =
    docs.groupBy(col(byCol))
      .agg(count(lit(1)).as("n_docs"),
        // distinct over md5, not bodies: the distinct-aggregate expand
        // shuffles 32-byte keys instead of full documents at scale
        countDistinct(md5(col(textCol))).as("n_distinct"))
      .withColumn("dup_rate",
        (col("n_docs") - col("n_distinct")).cast("double") / col("n_docs"))

  /** Word n-gram shingles, sorted and distinct
    * (graft.functions.WordShingles): one whole-stage-codegen call per doc
    * instead of the interpreted transform+distinct+sort lambda chain —
    * element-for-element identical output to the declarative column, kept
    * test-side as `ParityTwins.wordShingles` (TextHashExprSpec parity
    * pin).
    */
  def wordShinglesKernel(textCol: String, n: Int): Column =
    graft.functions.TextHashFunctions.word_shingles(col(textCol), n)

  /** MinHash signatures as a one-pass native kernel
    * ([[graft.functions.MinHashSigs]]): a per-doc signature is a scalar
    * function of the text, so the scale-right shape is a narrow projection —
    * no shingle explode (O(shingles) rows), no groupBy shuffle. The
    * declarative twin (`ParityTwins.minhashSignaturesDeclarative`) is the
    * oracle-shaped reference implementation.
    * Output: idCol, m0..m{k-1}.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleWords: Int, k: Int): DataFrame = {
    val sig = graft.functions.TextHashFunctions
      .minhash_sigs(col(textCol), shingleWords, k)
    val cols = col(idCol) +: (0 until k).map(i => sig.getItem(i).as(s"m$i"))
    Rebalance(docs).select(cols: _*)
  }

  /** Per-(doc, band) LSH band hashes — the shared banding stage behind
    * [[minhashCandidates]] and the on-disk [[writeMinhashIndex]] /
    * [[minhashIndexProbe]] pair. Output: (idCol, band, band_hash).
    */
  def minhashBands(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleWords: Int = 3,
                   k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    val sig = minhashSignatures(docs, idCol, textCol, shingleWords, k)
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"m$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("kv"))
      .select(col(idCol), col("kv.band"), col("kv.band_hash"))
  }

  /** MinHash + LSH near-dup candidate pairs: signature of k hashes split
    * into `bands` bands; docs sharing any band hash become a candidate
    * pair. Output: (doc_a, doc_b, n_shared_bands), doc_a < doc_b.
    * The self-join is on the band hash — uniform keys, broadcastable
    * band-bucket sizes, no quadratic blowup unless true near-dups exist.
    */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleWords: Int = 3,
                        k: Int = 16, bands: Int = 4): DataFrame =
    minhashCandidatesBands(
      minhashBands(docs, idCol, textCol, shingleWords, k, bands), idCol)

  /** [[minhashCandidates]] plus the MinHash Jaccard ESTIMATE — the
    * cheap triage stage of the standard LSH pipeline (bands nominate →
    * signature agreement estimates J → exact verification runs only on
    * what survives the estimate threshold). For each banded candidate
    * pair: n_agree = hashes where the two k-signatures match and
    * est_jaccard = n_agree/k, the unbiased MinHash estimator with
    * standard error ~sqrt(J(1-J)/k). Signatures ride the band join as
    * an array column, so the estimate is a post-aggregate projection —
    * no extra scan and no per-pair text access (at corpus scale the
    * texts never move; the k·hash arrays do).
    */
  def minhashEstimatedPairs(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text",
                            shingleWords: Int = 3,
                            k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    val sigArr = graft.functions.TextHashFunctions
      .minhash_sigs(col(textCol), shingleWords, k)
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows)
        .map(i => col("_sig").getItem(i))
      struct(lit(b).as("band"),
        md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    val banded = Rebalance(docs)
      .select(col(idCol), sigArr.as("_sig"))
      .select(col(idCol), col("_sig"),
        explode(array(bandCols: _*)).as("kv"))
      .select(col(idCol), col("_sig"), col("kv.band"),
        col("kv.band_hash"))
    val agree = (0 until k).map(i =>
      when(col("_sa").getItem(i) === col("_sb").getItem(i), 1)
        .otherwise(0)).reduce(_ + _)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"),
        first(col("a._sig")).as("_sa"), first(col("b._sig")).as("_sb"))
      .withColumn("n_agree", agree)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        col("n_agree"),
        (col("n_agree").cast("double") / k).as("est_jaccard"))
  }

  /** Estimate-TRIAGED dedup apply — the full LSH pipeline at its 100 TB
    * cost shape: bands nominate candidates, the signature estimate
    * ([[minhashEstimatedPairs]]) splits them into sure-duplicate
    * (est >= `estHi` — no text access at all), sure-distinct
    * (est <= `estLo`), and an UNCERTAIN middle band where alone the
    * exact shingle-set Jaccard is computed and cut at
    * `jaccardThreshold`. Confirmed edges (sure ∪ verified) feed the
    * pointer-doubling components and the min-id survivors filter the
    * corpus — [[dupClusters]]' apply contract, but with the expensive
    * exact-verification join bounded to the estimate's uncertainty
    * band instead of every candidate. Wrong-side triage risk is the
    * estimator's ±sqrt(J(1-J)/k) tail; widen [lo, hi] to trade verify
    * volume for certainty. `estLo`/`estHi` are calibrated in n_agree/k
    * units, so `k`/`bands` must match the signature shape the thresholds
    * were chosen for — both forward to [[minhashEstimatedPairs]].
    */
  def minhashTriageApply(docs: DataFrame, jaccardThreshold: Double,
                         estLo: Double, estHi: Double,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         shingleWords: Int = 3,
                         k: Int = 16, bands: Int = 4): DataFrame = {
    require(estLo <= estHi, s"estLo=$estLo > estHi=$estHi")
    // both triage branches read the estimate frame; without the eager
    // checkpoint each branch re-runs the whole signature+band+agreement
    // pipeline (pair-count-sized frame — cheap to hold)
    val est = minhashEstimatedPairs(docs, idCol, textCol, shingleWords,
        k, bands)
      .localCheckpoint(eager = true)
    val sure = est.filter(col("est_jaccard") >= estHi)
      .select(col("doc_a"), col("doc_b"))
    val mid = est.filter(col("est_jaccard") < estHi &&
        col("est_jaccard") > estLo)
      .select(col("doc_a"), col("doc_b"))
    val sh = docs.select(col(idCol),
      explode(wordShinglesKernel(textCol, shingleWords)).as("s"))
    val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val inter = mid
      .join(sh.select(col(idCol).as("doc_a"), col("s")), Seq("doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("s")),
        Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("_i"))
    val verified = mid
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cnt.select(col(idCol).as("doc_a"), col("_n").as("_na")),
        Seq("doc_a"))
      .join(cnt.select(col(idCol).as("doc_b"), col("_n").as("_nb")),
        Seq("doc_b"))
      .filter(coalesce(col("_i"), lit(0L)).cast("double") /
        (col("_na") + col("_nb") - coalesce(col("_i"), lit(0L)))
        >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    val clusters = dupClusters(sure.unionByName(verified))
    docs.join(clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** [[minhashCandidates]] from a precomputed (idCol, band, band_hash)
    * frame — callers that also probe an index ([[graft.streaming.StreamingDedup]])
    * compute the signatures once, persist, and feed both consumers.
    */
  def minhashCandidatesBands(banded: DataFrame,
                             idCol: String = "doc_id"): DataFrame = {
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Bucket id for the on-disk MinHash index layout: band × 16 + the
    * band hash's first hex digit — one int partition column, 16·`bands`
    * directories, uniform by construction (md5 digits are uniform). The
    * prefix width is the scale dial: one hex digit keeps directory
    * listing trivial at test scale; a 100 TB corpus widens it (2-3
    * digits → 256-4096 buckets/band) so each directory stays a bounded
    * scan unit — the pruning math is unchanged.
    */
  private def minhashBucket: Column =
    (col("band") * 16 +
      conv(substring(col("band_hash"), 1, 1), 16, 10).cast("int"))
      .as("bucket")

  /** Materialize a corpus's MinHash-LSH index: per-(doc, band) hashes
    * written as parquet PARTITIONED BY the [[minhashBucket]] id. This is
    * the incremental-ingest layout: deduplicating a new batch against a
    * 100 TB indexed corpus re-reads only the bucket directories the
    * batch's own band hashes name — never the corpus text, never the
    * full index ([[minhashIndexProbe]]). Same physical discipline as the
    * vector-side [[SimilarityOps.writeIvfIndex]].
    */
  def writeMinhashIndex(corpus: DataFrame, path: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleWords: Int = 3, k: Int = 16,
                        bands: Int = 4, mode: String = "overwrite"): Unit =
    IndexMaintenance.writeBase(
      minhashBands(corpus, idCol, textCol, shingleWords, k, bands)
        .withColumn("bucket", minhashBucket)
        // cluster rows by bucket before the partitioned write: otherwise
        // every input partition spills a file into every bucket directory
        // (files = partitions × buckets, all tiny) and probe-side listing/
        // footer overhead swamps the pruning win
        .repartition(col("bucket")),
      path, partitionCol = "bucket", mode = mode)

  /** Append precomputed (idCol, band, band_hash) rows to a written
    * MinHash index — the streaming-ingest fast path: the caller already
    * holds the batch's banded signatures (probe + self-check consumed
    * them), so the append reuses them instead of re-running the
    * signature kernel over the survivor text. The rows land as ONE flat
    * file in the index's L0 delta ([[IndexMaintenance.appendDelta]]) —
    * a dynamic-partition append into the bucket directories was measured
    * ~10× slower per micro-batch (one tiny file + committer rename per
    * touched bucket) and gets worse linearly with bucket width.
    * [[compactMinhashIndex]] folds the delta into the bucketed base.
    */
  def appendMinhashIndexBands(banded: DataFrame, path: String): Unit =
    IndexMaintenance.appendDelta(
      banded.withColumn("bucket", minhashBucket), path)

  /** Compact an appended MinHash index back to one file per bucket
    * directory. Streaming ingestion ([[graft.streaming.StreamingDedup]])
    * appends one file per touched bucket per micro-batch — LSM-style
    * write amplification that erodes the probe's
    * one-bounded-scan-per-bucket economics; periodic compaction restores
    * it. Manifest-commit swap semantics, concurrency contract, and the 100 TB
    * per-bucket variant: [[IndexMaintenance.compactBucketed]].
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, idCol: String = "doc_id"): Unit =
    // (id, band) uniquely identifies a band row — makes a crash-window
    // re-fold of delta rows collapse instead of duplicating
    IndexMaintenance.compactBucketed(spark, path, Seq(idCol, "band"))

  /** [[compactMinhashIndex]] with the bounded rewrite unit
    * ([[IndexMaintenance.compactBucketedIncremental]]): only the buckets
    * the delta touched rewrite. The dedup-key set lives HERE, with the
    * index schema — callers (the streaming in-loop cadence) must not
    * restate it.
    */
  def compactMinhashIndexIncremental(
      spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "doc_id"): Unit =
    IndexMaintenance.compactBucketedIncremental(spark, path,
      Seq(idCol, "band"))

  /** Probe a written MinHash index with a NEW batch: candidate near-dup
    * pairs between batch docs and indexed corpus docs (within-batch pairs
    * are [[minhashCandidates]]'s job). The batch's distinct bucket ids —
    * a driver-side list bounded by min(batch·bands, 16·bands) — become
    * static partition filters on the index scan, and the batch's band
    * rows ride a broadcast hash join, so probe cost scales with the
    * BATCH, not the corpus. Output: (doc_new, doc_corpus,
    * n_shared_bands). Signature params must match the index write.
    */
  def minhashIndexProbe(spark: org.apache.spark.sql.SparkSession,
                        path: String, batch: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleWords: Int = 3, k: Int = 16,
                        bands: Int = 4): DataFrame =
    minhashIndexProbeBands(spark, path,
      minhashBands(batch, idCol, textCol, shingleWords, k, bands), idCol)

  /** [[minhashIndexProbe]] from a precomputed (idCol, band, band_hash)
    * frame (see [[minhashCandidatesBands]]). The probe side is
    * batch-bounded by contract (it rides the broadcast side of the join
    * below), so it is materialized ONCE, driver-side: the signature
    * kernel runs exactly one time no matter what the caller passes, the
    * bucket list for the index's partition pruning folds from the same
    * array (no second job), and the join side becomes a LocalRelation —
    * no cache or checkpoint blocks are ever registered, so a long-lived
    * JVM probing many batches has nothing to leak and no deferred
    * ContextCleaner dependency (the earlier internal localCheckpoint
    * relied on driver GC to free its blocks). A caller-persisted frame
    * keeps its own lifecycle untouched — its cache serves the one read.
    */
  def minhashIndexProbeBands(spark: org.apache.spark.sql.SparkSession,
                             path: String, banded: DataFrame,
                             idCol: String = "doc_id"): DataFrame = {
    val proj = banded.withColumn("bucket", minhashBucket)
      .select(col(idCol).as("doc_new"), col("band"), col("band_hash"),
        col("bucket"))
    val rows = proj.collect()
    val buckets = rows.map(_.getInt(3)).distinct.toIndexedSeq
    val probeLocal = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), proj.schema)
    // base partition-pruned + L0 delta rows (IndexMaintenance layout)
    val idx = IndexMaintenance.readBucketed(spark, path, buckets)
    idx.join(broadcast(probeLocal), Seq("bucket", "band", "band_hash"))
      .groupBy(col("doc_new"), col(idCol).as("doc_corpus"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs (verification
    * stage after LSH, or direct on a bounded subset): explode shingle sets,
    * self-join on shingle, |A∩B| / (|A|+|B|-|A∩B|).
    *
    * `maxDf` caps the document frequency of join-key shingles — standard
    * candidate pruning: a shingle shared by f documents contributes f²/2
    * join rows on ONE key, so a single stopword gram ("of the") would be
    * a quadratic hot key at corpus scale. Shingles with df > maxDf are
    * dropped from the INTERSECTION counts only (set sizes stay exact), so
    * jaccard is a lower bound for pairs sharing hot shingles and exact
    * otherwise — same trade as MinHash banding. The hot-shingle list is
    * tiny by construction (few grams exceed any sane cap), so the
    * exclusion is a broadcast anti-join.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 3,
                        minJaccard: Double = 0.0,
                        maxDf: Int = Int.MaxValue): DataFrame = {
    // one evaluation of the shingle pipeline: each exploded row carries
    // its doc's FULL distinct-shingle count alongside (sizes must count
    // every shingle, including ones the df cap later drops from the
    // intersection), so neither a sizes join-back nor a second scan of
    // the projection exists
    val exploded = Rebalance(docs)
      .select(col(idCol), wordShinglesKernel(textCol, n).as("shingles"))
      .select(col(idCol), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("sh"))
    if (maxDf == Int.MaxValue) {
      // unbounded df: a hot shingle's doc list must not buffer in one
      // array — fall back to the self-join form (re-evaluates the
      // projection per side, but never OOMs a task)
      val inter = exploded.as("a")
        .join(exploded.as("b"),
          col("a.sh") === col("b.sh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .groupBy(col(s"a.$idCol").as("doc_a"), col("a.sz").as("sz_a"),
          col(s"b.$idCol").as("doc_b"), col("b.sz").as("sz_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
    } else {
      // bounded df: same shape as winnowDupPairs — ONE collect_list per
      // shingle (the cap bounds the array AND implements the hot-shingle
      // exclusion in the same aggregate) + in-array pair expansion; the
      // self-join form re-evaluates the whole explode+shingle projection
      // once per side plus once for the hot-list (measured ~2× on the
      // structurally identical winnowing op)
      val byShingle = exploded
        .groupBy(col("sh"))
        .agg(array_sort(collect_list(struct(col(idCol), col("sz"))))
          .as("ds"))
        .filter(size(col("ds")).between(2, maxDf))
      byShingle
        .select(explode(flatten(transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + 2, size(col("ds"))), y =>
            struct(x.getField(idCol).as("doc_a"),
              x.getField("sz").as("sz_a"),
              y.getField(idCol).as("doc_b"),
              y.getField("sz").as("sz_b")))))).as("p"))
        .groupBy(col("p.doc_a").as("doc_a"), col("p.sz_a").as("sz_a"),
          col("p.doc_b").as("doc_b"), col("p.sz_b").as("sz_b"))
        .agg(count(lit(1)).as("n_common"))
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
    }
  }

  /** Duplicated n-gram coverage — per-document fraction of its distinct
    * word n-grams that also occur in at least `minDf` documents corpus-wide.
    * This is the standard corpus-quality signal for boilerplate-heavy pages
    * (C4/RefinedWeb-style "duplicate n-gram fraction" filters): a doc whose
    * grams are mostly shared with the rest of the corpus is template text
    * even when no single whole-doc duplicate exists.
    *
    * Scale shape: grams travel as 60-bit md5-derived longs, never strings.
    * Document frequency is a window count over the gram hash — ONE
    * evaluation of the explode+md5 projection and one shuffle to
    * h-partitioning, where the equivalent df-aggregate+join form would
    * re-evaluate the explode per reference (Spark shares no common
    * subplans) and shuffle it twice. The window's in-partition sort is
    * over narrow (long, long) rows, far cheaper than a second md5 pass.
    * Two shuffles total (window partitioning, per-doc agg). Collision
    * bound ≈ n_distinct_grams² / 2⁶¹ — negligible below ~10⁸ grams; widen
    * the key to two longs past that. Skew note: a pathologically hot gram
    * (a boilerplate phrase in 10⁸ docs) lands its whole partition on one
    * task under window partitioning (AQE does not split window skew); the
    * df-aggregate+join form (measured SLOWER end-to-end at both sf0.1
    * [1.9 vs 1.3 s] and sf1 [14.3 vs ~7 s] — the join re-evaluates the
    * explode and shuffles it twice — but its partial aggregation absorbs
    * per-key skew map-side) or a known-boilerplate pre-filter is the
    * escape hatch at that regime. A third spelling — checkpoint the gram
    * stream once, aggregate df per hash, LEFT-join only the FILTERED
    * dup-set (df >= minDf, small, AQE-broadcastable) back onto the
    * checkpointed stream — was measured r11 and is also slower at both
    * scales (1.09 vs 0.78 s at sf0.1, 2.36 vs 1.78 s at sf1): the
    * checkpoint materialization plus the extra aggregate job cost more
    * than the window's narrow (long, long) sort. The window form is the
    * measured local optimum; its fresh sf0.1→sf1 exponent is 0.36
    * (SCALE.md — the old 0.75 row was a stale r7 measurement).
    *
    * Reference analog: the duplicate/spam text-quality filtering over tweet
    * text (/root/reference/dataflow/stream_join.py spam heuristics), lifted
    * to the corpus level.
    */
  def dupNgramCoverage(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 3,
                       minDf: Int = 2): DataFrame = {
    val grams = Rebalance(docs)
      .select(col(idCol), explode(wordShinglesKernel(textCol, n)).as("g"))
      .select(col(idCol),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
    // shingles are distinct per doc, so the per-h count == distinct-doc df
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    grams.withColumn("df", count(lit(1)).over(byGram))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_gram_frac",
        col("n_dup_grams").cast("double") / col("n_grams"))
  }

  /** Exact duplicated-substring removal — the ExactSubstr discipline of
    * Lee et al. 2021 (arXiv:2107.06499), re-expressed at word grain:
    * every n-word span that occurs anywhere else in the corpus keeps
    * only its globally FIRST occurrence (rank by (doc, position) over
    * the span hash — deterministic on any layout), the words covered by
    * later occurrences are cut, and each document reassembles from its
    * surviving words positionally. Unlike whole-doc/segment dedup this
    * removes the duplicated PASSAGE inside otherwise-unique documents —
    * the boilerplate/quotation case that inflates memorization.
    *
    * Shape at scale: one positional-gram explode (O(words) rows, 60-bit
    * uniform span hashes as shuffle keys), ONE ranked window over the
    * hash, a distinct coverage explode, and a per-doc reassembly
    * aggregation — no self-join, no all-pairs anything. Suffix-automaton
    * exactness on arbitrary-length spans is out of scope; any duplicated
    * passage of >= n words is caught because each of its n-gram
    * occurrences ranks > 1.
    *
    * Output: (idCol, n_words, kept_words, kept_text) for EVERY input doc
    * (fully-duplicated docs come back with kept_words=0, empty text).
    */
  def exactSubstrDedup(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 8): DataFrame = {
    require(n >= 2, s"n=$n")
    val w = org.apache.spark.sql.expressions.Window
    val base = Rebalance(docs)
      .select(col(idCol), split(col(textCol), " ").as("_ws"))
      .withColumn("_nw", size(col("_ws")).cast("long"))
    val grams = base.filter(col("_nw") >= n)
      .select(col(idCol), posexplode(
          transform(sequence(lit(0), col("_nw") - n),
            i => concat_ws(" ", slice(col("_ws"), i + 1, lit(n)))))
        .as(Seq("_pos", "_g")))
      .select(col(idCol), col("_pos").cast("long").as("_pos"),
        conv(substring(md5(col("_g")), 1, 15), 16, 10).cast("long")
          .as("_h"))
    val byGram = w.partitionBy(col("_h")).orderBy(col(idCol), col("_pos"))
    // rank >= 2 <=> an earlier occurrence of the same span exists
    val covered = grams.withColumn("_rk", row_number().over(byGram))
      .filter(col("_rk") >= 2)
      .select(col(idCol),
        explode(sequence(col("_pos"), col("_pos") + (n - 1))).as("_wi"))
      .distinct()
    val exploded = base.select(col(idCol),
      posexplode(col("_ws")).as(Seq("_wi", "_w")))
      .withColumn("_wi", col("_wi").cast("long"))
    val kept = exploded.join(covered, Seq(idCol, "_wi"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_words"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_wi"), col("_w")))),
          s => s.getField("_w"))).as("kept_text"))
    base.select(col(idCol), col("_nw").as("n_words"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        coalesce(col("kept_words"), lit(0L)).as("kept_words"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * local-fingerprinting algorithm): positional word n-gram hashes, a
    * sliding window of `w` consecutive hashes, and the minimum hash of
    * each window selected (leftmost on ties — any fixed rule preserves
    * the guarantee). Any passage of ≥ w+n-1 shared words between two
    * documents is GUARANTEED to contribute at least one common
    * fingerprint — the passage-level dup signal whole-doc MinHash can't
    * give (a doc that merely embeds a long quoted chunk still collides on
    * that chunk's fingerprints).
    *
    * Engine-portable selection: the minimum is by (15-char md5 prefix,
    * position), the order the string `hex15(gram) ++ zero-padded pos`
    * induces — so tie-breaks and the selected fingerprints replay exactly
    * in SQL. A per-doc fingerprint set is a pure scalar function of the
    * text, so the scale-right shape is the one-pass native kernel
    * ([[graft.functions.WinnowFps]], doGenCode): a narrow codegen'd
    * projection + explode, no shuffle, no window pass
    * (`ParityTwins.winnowFingerprintsDeclarative` is the SQL-shaped twin;
    * kernel parity pinned by TextHashExprSpec). Density ~2/(w+1) of
    * positions. Output: (idCol, fp), distinct per doc.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", n: Int = 4,
                         w: Int = 4): DataFrame =
    Rebalance(docs).select(col(idCol),
      explode(graft.functions.TextHashFunctions
        .winnow_fps(col(textCol), n, w)).as("fp"))

  /** Passage-level near-dup pairs from shared winnowing fingerprints:
    * docs sharing ≥ `minShared` selected fingerprints. Fingerprints with
    * document frequency > `maxDf` are dropped entirely (same
    * quadratic-hot-key economics as [[ngramJaccardPairs]] — a boilerplate
    * passage shared by f docs costs f²/2 pair rows).
    *
    * Because `maxDf` bounds each fingerprint's doc list, pairs come from
    * ONE `collect_list` aggregate over the fingerprint frame plus a
    * bounded in-array pair expansion — not a self-join, which would
    * re-evaluate the whole fingerprint pipeline once per join side plus
    * once for the hot-list filter (Spark shares no common subplans;
    * measured ~2× on this op). The expansion lambdas are interpreted but
    * run on ≤ maxDf-element arrays, and most fingerprints are singletons.
    * Output: (doc_a, doc_b, n_shared).
    */
  def winnowDupPairs(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", n: Int = 4, w: Int = 4,
                     minShared: Int = 1, maxDf: Int = 1000): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, n, w)
    val byFp = fps.groupBy(col("fp"))
      .agg(sort_array(collect_list(col(idCol))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
    byFp
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash (64-bit) from word shingles: per-bit majority vote over
    * 64-bit shingle hashes (first 16 md5-hex chars big-endian — engine-
    * portable, so the signature itself is oracle-checkable). Computed by
    * the one-pass native kernel ([[graft.functions.SimHash64]]) — a narrow
    * codegen'd projection with no explode and no shuffle; at 100 TB the
    * signature stage is embarrassingly parallel map work. Near-dups =
    * pairs at small Hamming distance ([[simhashNearDups]]).
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", shingleWords: Int = 2): DataFrame =
    Rebalance(docs).select(col(idCol),
      graft.functions.TextHashFunctions
        .simhash64(col(textCol), shingleWords).as("simhash"))

  /** Decontamination: drop training documents sharing any word n-gram
    * with the evaluation set (the GPT-3-style 13-gram discipline, n
    * configurable). The eval side's distinct gram set is small by
    * definition — Catalyst broadcasts it — so the train side streams
    * through a broadcast semi-join + anti-join with no big shuffle.
    */
  def decontaminate(train: DataFrame, test: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 5): DataFrame = {
    // shingles are already per-doc distinct, so repetitive docs emit
    // each gram once into the explode — no extra dedup pass needed here
    val testGrams = test
      .select(explode(wordShinglesKernel(textCol, n)).as("g"))
      .distinct()
    val contaminated = Rebalance(train)
      .select(col(idCol),
        explode(wordShinglesKernel(textCol, n)).as("g"))
      .join(broadcast(testGrams), Seq("g"))
      .select(col(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-filter decontamination — the [[decontaminate]] contract for
    * when even the eval side's distinct gram set is too big to ride a
    * broadcast hash join: the eval grams collapse into an `numBits`-bit
    * Bloom bitset (`numBits/8` bytes REGARDLESS of eval size) that ships
    * into the plan as an array-of-longs literal, and the train side
    * probes it in a NARROW scan — no join at all, each doc folds its own
    * gram array against the literal. False positives over-flag at the
    * classical (1-(1-1/m)^{kn})^k rate (sized by `numBits`); false
    * negatives are impossible, which is the correct direction for
    * decontamination.
    *
    * Portability: the k hash functions are disjoint 8-hex windows of the
    * gram's MD5 reduced mod `numBits` — deterministic and replayable by
    * any engine (the oracle checks the exact flags, false positives
    * included). Output: every train doc with `n_grams` and the
    * `bloom_hit` contamination flag (filter or route downstream).
    *
    * Sizing: `numBits = 0` (the default) sizes the bitset FROM THE EVAL
    * SIDE — one cheap distinct-gram count, then the next power of two
    * >= 16 bits/gram (k=3 at >= 16 bits/entry bounds the load at
    * 1-e^(-3/16) ~ 17% and the classical FP rate at ~0.5%), floored at
    * 64 and capped
    * at 2^27 (a 16 MiB plan literal — past that the honest scale path is
    * the broadcast-join [[decontaminate]] or a partitioned filter, not a
    * bigger literal). The doubling rule is integer-exact so an oracle
    * replays it with a recursive doubling CTE, no floating-point log2.
    * Pass an explicit power of two to pin the size instead.
    */
  def bloomDecontaminate(train: DataFrame, test: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 5, numBits: Int = 0,
                         numHashes: Int = 3): DataFrame = {
    require(numHashes >= 1 && numHashes <= 4, s"numHashes=$numHashes")
    val sizedBits =
      if (numBits > 0) numBits
      else {
        val grams = test
          .select(explode(wordShinglesKernel(textCol, n)).as("g"))
          .distinct().count()
        val target = math.min(grams * BloomBitsPerGram, BloomMaxBits)
        var b = 64L
        while (b < target) b *= 2
        b.toInt
      }
    require(sizedBits >= 64 && (sizedBits & (sizedBits - 1)) == 0,
      s"numBits=$sizedBits must be a power of two >= 64")
    // k positions from ONE md5: disjoint 8-hex windows (higher-order
    // lambdas evaluate interpreted with no common-subexpression
    // elimination, so the digest must be computed once explicitly)
    def posFromHex(h: Column): Seq[Column] = (0 until numHashes).map(i =>
      conv(substring(h, i * 8 + 1, 8), 16, 10).cast("long") % sizedBits)
    def positions(g: Column): Seq[Column] = posFromHex(md5(g))
    // build: fold eval-gram bit positions into <= numBits/64 (word, bits)
    // rows with a map-side-partial bit_or — driver/collect cost is bounded
    // by the bitset size, never by the eval corpus
    val setWords = test.select(explode(wordShinglesKernel(textCol, n)).as("g"))
      .select(explode(array(positions(col("g")): _*)).as("p"))
      .groupBy((col("p") / 64).cast("int").as("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        (col("p") % 64).cast("int"))).as("bits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val bitWords = new Array[Long](sizedBits / 64)
    setWords.foreach { case (w, bits) => bitWords(w) = bits }
    // probe side: ONE native kernel call per doc
    // ([[graft.functions.HashKernels.bloomProbe]] — codegen'd, md5 once
    // per distinct gram, early-exit on the first hit gram). The previous
    // declarative projection (`exists(transform(grams, md5), h =>
    // positions(h) all set)`) is semantically identical — same distinct
    // gram set, same md5-hex windows, same bitset test, replayed by the
    // same oracle — but higher-order lambdas evaluate INTERPRETED with a
    // string `conv` per hash per gram: measured 31 s task CPU / 2.0 s
    // wall at sf0.1 vs ~2 s / 0.7 s for the kernel (r18 optimization;
    // parity spec in DedupSimSpec).
    val probe = graft.functions.TextHashFunctions
      .bloom_probe(col(textCol), n, numHashes, sizedBits, bitWords)
    Rebalance(train)
      .select(col(idCol), probe.as("_bp"))
      .select(col(idCol), col("_bp").getField("n_grams").as("n_grams"),
        col("_bp").getField("bloom_hit").as("bloom_hit"))
  }

  /** The CC edge bucket of a vertex column: `pmod(hash(c), b)`. The one
    * definition behind both the cached edges' `_eb` tag and the
    * per-round frontier bitmap, so the frontier's buckets always name
    * the batches that hold its edges. */
  private[graft] def edgeBucket(c: Column, b: Int): Column =
    pmod(hash(c), lit(b))

  /** The CC edge-cache layout, shared by [[dupClusters]] and the
    * memory-sizing probe (`graft.CcMemProbe`): both edge directions, an
    * `_eb` bucket tag, hash(dst)-partitioned into exactly P partitions.
    * Returns (frame, B, P).
    *
    * B is snapped to a multiple of the session shuffle parallelism P:
    * `_eb` nests inside the partition (`pmod(hash(dst), P)`, the same
    * Murmur3 hash) only when P | B, and then each partition holds
    * exactly B/P distinct `_eb` values. Partitioning on dst at fill pays
    * one O(E) shuffle and deletes the per-round O(E) exchange every
    * round's dst join would otherwise insert; the count is pinned to P
    * because an AQE-coalesced count would break the nesting and the
    * reuse.
    */
  private[graft] def edgeLayout(pairs: DataFrame, edgeBuckets: Int)
      : (DataFrame, Int, Int) = {
    val P = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val B = P * math.max(1, math.round(edgeBuckets.toDouble / P).toInt)
    val frame = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .withColumn("_eb", edgeBucket(col("dst"), B))
      .repartition(P, col("dst"))
    (frame, B, P)
  }

  /** Session conf naming the CC edge cache's storage level. */
  val EdgeStorageLevelConf = "spark.graft.cc.edgeStorageLevel"

  /** Storage level for the CC edge cache: the session conf
    * [[EdgeStorageLevelConf]] (`MEMORY_AND_DISK_SER`, `DISK_ONLY`, ...),
    * default `MEMORY_AND_DISK`. `DISK_ONLY` is the governed posture for
    * heaps below the SCALE.md sizing budget; batch stats live with the
    * batch on any medium, so pruning and output are unchanged.
    */
  def edgeStorageLevel(spark: SparkSession): StorageLevel =
    StorageLevel.fromString(
      spark.conf.get(EdgeStorageLevelConf, "MEMORY_AND_DISK"))

  /** Dedup clusters: connected components over candidate pairs (doc_a <
    * doc_b) by min-label propagation with pointer doubling. Output
    * (doc_id, cluster_id = min doc id in the component). Throws
    * `IllegalStateException` if `maxIter` rounds pass without
    * convergence rather than returning a wrong clustering.
    *
    *  - Each round every vertex adopts the smallest label among itself
    *    and its neighbours, then shortcuts through its label's label
    *    (path halving, as in Hash-to-Min / GraphX CC). Labels only
    *    decrease and stay inside the component, so the propagation
    *    distance doubles per round: O(log diameter) rounds.
    *  - Delta messaging: a round joins only the edges incident to last
    *    round's changed vertices, so the dominant O(E) join shrinks as
    *    components converge; the label trajectory is identical to full
    *    messaging.
    *  - Bucket pruning: the cached edges carry `_eb` ([[edgeBucket]] of
    *    dst) and are sorted on it within partitions, so each cached
    *    batch holds a narrow `_eb` range. Once the frontier is sparse
    *    (<= B/8 buckets) the next round filters the edge side on the
    *    frontier's buckets and skips >= 7/8 of the batches. The filter
    *    is a superset of the needed edges, so output is unchanged.
    *  - Each round is eagerly checkpointed, or the nested plan (and its
    *    analysis cost) grows exponentially with rounds. With a session
    *    checkpoint directory rounds use reliable `checkpoint()` (round
    *    state survives executor loss); otherwise `localCheckpoint`, and
    *    the superseded round's blocks are freed each iteration.
    *
    * The edge cache holds 2·|pairs| rows; its storage level is the
    * session conf [[EdgeStorageLevelConf]] (SCALE.md §CC memory sizing).
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  edgeBuckets: Int = 256): DataFrame = {
    val sess = pairs.sparkSession
    // (uppercase names can't bind in a tuple pattern — they'd be read
    // as stable-identifier matches — hence the two-step)
    val layout = edgeLayout(pairs, edgeBuckets)
    val B = layout._2
    val P = layout._3
    // the within-partition _eb sort is a local sort paid once at fill; it
    // gives every cached batch the tight _eb min/max the pruning needs
    val edges = layout._1.sortWithinPartitions("_eb")
      .persist(edgeStorageLevel(sess))
    // a wide frontier prunes no batches while the OR-of-In chain still
    // costs per edge row (measured +10 s on a 14M-edge round whose
    // frontier spanned 255/256 buckets)
    def sparse(bs: Array[Int]): Boolean = bs.length <= B / 8
    // OR-of-In chunks of <= 10 literals: In/Or are what the cached-batch
    // stats pruner supports, and one big isin would optimize into InSet
    // and scan every batch
    def bucketPred(bs: Array[Int]): Column =
      bs.grouped(10).map(g =>
        col("_eb").isin(g.map(Int.box).toIndexedSeq: _*))
        .reduce(_ || _)
    // seed with min(self, neighbours): the first propagate round for the
    // price of the vertex-set aggregate
    def seedFrame = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("_nmin")).as("cluster_id"))
    // one propagate+double round; `changed` holds last round's changed
    // vertices (round 1: the whole seed)
    def roundFrame(labels: DataFrame, changed: DataFrame,
                   buckets: Option[Array[Int]]): DataFrame = {
      val edgeSide = buckets match {
        case Some(bs) if sparse(bs) => edges.where(bucketPred(bs))
        case _ => edges
      }
      // shuffle_hash builds on the frontier-bounded changed side and
      // streams the hash(dst)-partitioned cache with no exchange and no
      // sort (the SMJ default would re-sort every edge every round)
      val nbrMin = edgeSide
        .join(changed.select(col("doc_id").as("dst"),
          col("cluster_id").as("nl")).hint("shuffle_hash"), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min(col("nl")).as("nmin"))
      // the pre-round label rides along as _old, so the frontier is read
      // off this round's own action instead of an extra join job
      val prop = labels.select(col("doc_id"), col("cluster_id").as("_old"))
        .join(nbrMin.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("_old"), least(col("_old"),
          coalesce(col("nmin"), col("_old"))).as("cluster_id"))
      // pointer doubling: label(label(v)) <= label(v), same component.
      // The explicit shuffle_hash keeps sparse rounds (AQE off, below)
      // off the planner's SortMergeJoin default and its two O(V) sorts.
      prop.as("l")
        .join(prop.select(col("doc_id").as("cluster_id"),
            col("cluster_id").as("_ll")).as("p").hint("shuffle_hash"),
          Seq("cluster_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"),
            coalesce(col("_ll"), col("cluster_id"))).as("cluster_id"),
          col("_old"))
        // land each round on hash(doc_id) at exactly P partitions, the
        // edge cache's partitioning, so next round's joins reuse it
        // instead of re-exchanging O(V) rows
        .repartition(P, col("doc_id"))
    }
    val reliable = sess.sparkContext.getCheckpointDir.isDefined
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    // the frontier's bucket set rides the checkpoint action as a B-bit
    // bitmap of observed bit_or aggregates, so a round is one job. bit_or
    // is idempotent, so the reliable path's recompute cannot
    // double-count; CollectMetricsExec keeps the child partitioning.
    val nWords = (B + 63) / 64
    def frontierObserve(df: DataFrame): DataFrame = {
      val ebC = edgeBucket(col("doc_id"), B)
      val chg = col("cluster_id") < col("_old")
      val words = (0 until nWords).map { w =>
        bit_or(when(chg && ebC >= lit(w * 64) && ebC < lit(w * 64 + 64),
          call_function("shiftleft", lit(1L),
            (ebC - lit(w * 64)).cast("int")))
          .otherwise(lit(0L))).as(s"_fb$w")
      }
      df.observe("cc_frontier", words.head, words.tail: _*)
    }
    def frontierBuckets(df: DataFrame, round: Int): Array[Int] = {
      val row = df.queryExecution.observedMetrics.getOrElse("cc_frontier",
        throw new IllegalStateException(
          s"dupClusters: round $round reported no cc_frontier metric"))
      val out = Array.newBuilder[Int]
      for (w <- 0 until nWords; b <- 0 until 64)
        if (!row.isNullAt(w) && (row.getLong(w) & (1L << b)) != 0L)
          out += w * 64 + b
      out.result()
    }
    // sparse rounds run with AQE off: every join, partitioning and
    // partition count is pinned, so adaptive re-planning only splits the
    // round into one job per exchange, while its one lever (coalescing
    // the nbrMin exchange) matters only for a wide frontier. Wide rounds
    // and the seed keep the session setting (OPTIMIZATION_r18.md);
    // restored in the finally below, output identical either way.
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = sess.conf.get(aqeKey)
    var labels = ckpt(seedFrame)
    // local mode: the checkpoint `labels` lives on; each round frees the
    // superseded one now, since leaving dead rounds to the ContextCleaner
    // lets storage balloon and races running tasks
    var current = labels
    var changedSet = labels
    var buckets: Option[Array[Int]] = None
    var i = 0
    var converged = false
    try while (!converged && i < maxIter) {
      sess.conf.set(aqeKey,
        if (buckets.exists(sparse)) "false" else aqePrev)
      val roundDf = frontierObserve(roundFrame(labels, changedSet, buckets))
      val next = ckpt(roundDf)
      val frontier = frontierBuckets(roundDf, i + 1)
      if (!reliable) CheckpointLifecycle.release(current)
      current = next
      labels = next.select(col("doc_id"), col("cluster_id"))
      // labels are min-monotone: changed == strictly decreased
      changedSet = next.filter(col("cluster_id") < col("_old"))
        .select(col("doc_id"), col("cluster_id"))
      buckets = Some(frontier)
      converged = frontier.isEmpty
      i += 1
    } finally sess.conf.set(aqeKey, aqePrev)
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"dupClusters: not converged after $maxIter rounds " +
        "(component diameter > 2^maxIter is implausible; raise maxIter)")
    labels
  }

  /** Hamming distance between two simhash longs (for near-dup pairing). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via band-of-bits LSH: the 64-bit signature is
    * split into 4 x 16-bit bands; docs sharing any band become candidates
    * (pigeonhole: every pair at hamming < 4 is guaranteed caught; larger
    * distances probabilistically). Candidates are verified with the exact
    * Hamming distance. Same linear-not-quadratic shape as the MinHash
    * banding — the self-join key is a uniform 16-bit value + band id.
    */
  def simhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", shingleWords: Int = 2,
                      maxHamming: Int = 8): DataFrame =
    hammingNearDups(simhash(docs, idCol, textCol, shingleWords),
        idCol, "simhash", maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming"))

  /** Near-dup pairs over ANY 64-bit hamming-space signature column
    * (SimHash text fingerprints, aHash image fingerprints, ...) via
    * band-of-bits LSH: the signature splits into 4 x 16-bit bands; rows
    * sharing any band become candidates (pigeonhole: every pair at
    * hamming < 4 is guaranteed caught; larger distances
    * probabilistically), verified with the exact Hamming distance.
    * Linear-not-quadratic: the self-join key is a uniform 16-bit value +
    * band id. Output (id_a, id_b, hamming), id_a < id_b.
    */
  def hammingNearDups(sigs: DataFrame, idCol: String, sigCol: String,
                      maxHamming: Int): DataFrame = {
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col(sigCol), b * 16).bitwiseAND(lit(0xFFFFL))
        .as("band_val")))
    // both self-join sides re-evaluate the banding — fine: the upstream
    // is a narrow scan + signature projection (no shuffle), so recompute
    // beats materializing a checkpoint (measured for the simhash case)
    val banded = sigs.select(col(idCol), col(sigCol),
        explode(array(bandCols: _*)).as("kv"))
      .select(col(idCol), col(sigCol), col("kv.band"), col("kv.band_val"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(first(hammingDist(col(s"a.$sigCol"), col(s"b.$sigCol")))
        .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
