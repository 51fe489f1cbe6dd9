package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for pretraining pipelines (north-star
  * suite): token-budget packing, deterministic content-hash splits, and
  * text normalization. All pure Column algebra / window sums — oracle-
  * checkable and codegen'd.
  */
object CorpusOps {

  /** Token columns are LONG by contract (chunk/sequence coordinates are
    * exact long arithmetic — see the `div` notes in the packers).
    * Enforced, not coerced: a fractional token estimate would otherwise
    * be silently floored by the long cast. Driver-only schema check —
    * no job runs.
    */
  private def requireIntegralTokens(docs: DataFrame, tokenCol: Column,
                                    where: String): Unit = {
    import org.apache.spark.sql.types._
    val t = docs.select(tokenCol.as("_t")).schema.head.dataType
    val ok = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok, s"$where: token column must be integral " +
      s"(byte/short/int/long), got $t — cast explicitly if flooring a " +
      "fractional estimate is intended")
  }

  /** Pack documents into sequential token-budget chunks per group:
    * `chunk_id = floor(running_token_count_before_doc / budget)` over a
    * total order. One window shuffle per group key; at 100 TB packing
    * runs per (source, date) partition so no global sort is needed.
    * A chunk may overflow by at most one document (greedy sequential
    * packing — the standard pretraining behavior before truncation).
    *
    * `tokenCol` must be an INTEGRAL column (byte/short/int/long) — token
    * counts are long by contract and chunk ids are exact long
    * arithmetic, so a fractional token estimate is rejected here rather
    * than silently floored; callers that do want flooring cast
    * explicitly.
    */
  def tokenBudgetChunks(docs: DataFrame, idCol: String, byCol: String,
                        tokenCol: Column, budget: Int): DataFrame = {
    require(budget > 0, s"budget=$budget")
    requireIntegralTokens(docs, tokenCol, "tokenBudgetChunks")
    val w = Window.partitionBy(col(byCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    // `div` (IntegralDivide) on longs, not floor(double-divide): token
    // offsets past ~2^52/budget would round a chunk id by one under
    // double arithmetic — the batch/streaming twins contract is exact
    // long coordinates at any corpus size (offsets are non-negative, so
    // truncating division IS floor division here). The cast mirrors
    // packSequences: IntegralDivide fails analysis on a fractional
    // token column, and the contract is long token counts anyway.
    docs.withColumn("tokens", tokenCol.cast("long"))
      .withColumn("_cum0",
        sum(col("tokens")).over(w) - col("tokens"))
      .withColumn("chunk_id", expr(s"_cum0 div ${budget.toLong}L"))
      .drop("_cum0")
  }

  /** Token-level concat-and-chunk packing — the GPT-style pretraining
    * batcher: within each group the ordered documents form one
    * concatenated token stream, cut into fixed `budget`-token training
    * sequences, so a document may STRADDLE sequence boundaries (zero
    * padding waste; contrast [[tokenBudgetChunks]], the doc-granular
    * greedy form that overflows a chunk instead of splitting the doc).
    * Emits per-doc packing coordinates: `tokens`, `tok_start` (the doc's
    * position in its group's token stream), `start_seq`/`end_seq` (first/
    * last sequence the doc touches), and `head_offset` (offset inside
    * `start_seq`). Sequence composition (docs per sequence, split-doc
    * counts, fill) folds from these coordinates with a bounded
    * range-explode — `end_seq - start_seq` is at most
    * ceil(doc_tokens/budget).
    *
    * Scale: one prefix-sum window per group key, rank-free; at 100 TB
    * packing runs per (source, shard) partition — the stream order only
    * has to be deterministic within a group, so group cardinality scales
    * with data and no global sort exists. Zero-token docs are excluded
    * (they contribute nothing to the stream).
    */
  def packSequences(docs: DataFrame, idCol: String, byCol: String,
                    tokenCol: Column, budget: Int): DataFrame = {
    require(budget > 0, s"budget=$budget")
    requireIntegralTokens(docs, tokenCol, "packSequences")
    val w = Window.partitionBy(col(byCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1L)
    docs.withColumn("tokens", tokenCol.cast("long"))
      .filter(col("tokens") > 0)
      .withColumn("tok_start",
        coalesce(sum(col("tokens")).over(w), lit(0L)))
      // `div` (IntegralDivide) on longs, matching head_offset's exact
      // integer pmod and the streaming twin's pure long division:
      // floor(x / budget.toDouble) shifts a sequence id by one once
      // tok_start exceeds ~2^52/ulp, breaking the documented
      // bit-identical batch/stream coordinates contract at 100 TB
      // (tok_start >= 0, so truncating division IS floor division)
      .withColumn("start_seq", expr(s"tok_start div ${budget.toLong}L"))
      .withColumn("end_seq",
        expr(s"(tok_start + tokens - 1) div ${budget.toLong}L"))
      .withColumn("head_offset", pmod(col("tok_start"), lit(budget.toLong)))
  }

  /** Materialization manifest for [[packSequences]] — the writer shape a
    * training-data pipeline actually emits: one row per (group, sequence,
    * doc) FRAGMENT, where `slice_start`/`slice_len` are the doc-local
    * token range that lands in sequence `seq` (a straddling doc yields
    * one fragment per touched sequence). Per sequence, fragments ordered
    * by `tok_start` concatenate to exactly `budget` tokens (the final
    * sequence of a group may be shorter); per doc, fragments concatenate
    * back to [0, tokens) — both invariants spec-pinned. The explode is
    * bounded: a doc emits at most ceil(tokens/budget)+1 fragments.
    */
  def packManifest(docs: DataFrame, idCol: String, byCol: String,
                   tokenCol: Column, budget: Int): DataFrame = {
    val b = budget.toLong
    packSequences(docs, idCol, byCol, tokenCol, budget)
      .select(col(byCol), col(idCol), col("tokens"), col("tok_start"),
        explode(sequence(col("start_seq"), col("end_seq"))).as("seq"))
      .withColumn("slice_start",
        greatest(col("seq") * b - col("tok_start"), lit(0L)))
      .withColumn("slice_len",
        least(col("tokens"), (col("seq") + lit(1L)) * b - col("tok_start"))
          - col("slice_start"))
  }

  /** Salted md5 over "|"-joined parts — the portable hash the sampling/
    * sharding family shares. Null parts coalesce BEFORE concat_ws (which
    * would silently skip them) at each call site, using the
    * NUL-prefixed "null" sentinel so a null key cannot collide with any
    * real string spelling.
    */
  private def saltedMd5(parts: Column*): Column =
    md5(concat_ws("|", parts: _*))

  /** First 8 hex chars of a md5 as an unsigned-32 Long — the engine side
    * of the repo's portable hash convention (DuckDB twin:
    * `('0x' || substr(md5(...), 1, 8))::UBIGINT`). Single-sourced here:
    * the 8-char width is load-bearing for every oracle replay.
    */
  private def u32(h: Column): Column =
    conv(substring(h, 1, 8), 16, 10).cast("long")

  /** Deterministic epoch shuffle into `nShards` shards — the global
    * training-order randomizer: shard and within-shard position derive
    * from md5(epochSalt | id), a pure function of (salt, id), so every
    * re-run on any cluster layout reproduces the same global order, and
    * a different salt (= next epoch) yields an independent permutation.
    * Emits `shard` and `shard_pos` (1-based position in shard order).
    * `idCol` must be UNIQUE (it is the whole identity the order derives
    * from — duplicate ids, including multiple nulls, tie on every order
    * key and their relative positions are then layout-dependent); a null
    * id hashes via the family's NUL-prefixed sentinel.
    *
    * Scale: this is how a 100 TB corpus gets a global random order
    * WITHOUT a global sort — one hash projection, one shuffle on the
    * shard key, and a per-shard sort whose size is corpus/nShards
    * (choose nShards ∝ data to bound it); readers then consume shards
    * round-robin for an unbiased stream.
    */
  def epochShuffleShards(docs: DataFrame, idCol: String, nShards: Int,
                         epochSalt: String): DataFrame = {
    require(nShards > 0, s"nShards=$nShards")
    val h = saltedMd5(lit(epochSalt),
      coalesce(col(idCol).cast("string"), lit("\u0001null")))
    docs.withColumn("_eh", h)
      .withColumn("shard", pmod(u32(col("_eh")), lit(nShards.toLong)))
      .withColumn("shard_pos",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("_eh"), col(idCol))).cast("long"))
      .drop("_eh")
  }

  /** Deterministic train/val/test split from the content hash — the
    * CCNet-style discipline: membership depends only on the text, so
    * re-runs, resharding, and dedup upstream never move a document across
    * splits. Thresholds compare the first two md5-hex chars
    * lexicographically (256 buckets).
    */
  def deterministicSplit(docs: DataFrame, textCol: String = "text",
                         testUpper: String = "0a",
                         valUpper: String = "14"): DataFrame = {
    val h = substring(md5(col(textCol)), 1, 2)
    docs.withColumn("split",
      when(h < testUpper, "test")
        .when(h < valUpper, "val")
        .otherwise("train"))
  }

  /** Leakage-proof deterministic split: near-duplicate documents MUST
    * land in the same split — content-hash splitting alone sends two
    * paraphrases of one page to train and test, and the held-out metric
    * silently measures memorization. Split membership is therefore
    * decided by the duplicate-CLUSTER representative: docs join their
    * cluster label (from [[DedupOps.dupClusters]] — min-id connected
    * component over LSH candidate pairs), untouched docs represent
    * themselves, and the [[deterministicSplit]] 2-hex thresholds apply
    * to md5 of the representative id. One broadcast-or-shuffle join +
    * a narrow projection; the cluster frame is the dedup pass's output,
    * already computed in any pipeline that dedups before splitting.
    */
  def clusterSafeSplit(docs: DataFrame, clusters: DataFrame,
                       idCol: String = "doc_id",
                       testUpper: String = "0a",
                       valUpper: String = "14"): DataFrame = {
    val labeled = docs.join(
      clusters.select(col(idCol), col("cluster_id")), Seq(idCol), "left")
      .withColumn("rep_id", coalesce(col("cluster_id"), col(idCol)))
      .drop("cluster_id")
    val h = substring(md5(col("rep_id").cast("string")), 1, 2)
    labeled.withColumn("split",
      when(h < testUpper, "test")
        .when(h < valUpper, "val")
        .otherwise("train"))
  }

  /** Normalization for dedup/analysis: lowercase, strip non-alphanumeric
    * (keeping spaces), collapse whitespace runs, trim.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Deterministic stratified (mix) sampling — the domain-reweighting step
    * of a pretraining data recipe: each stratum keeps its own fraction of
    * documents, decided purely by a salted content-key hash. Like
    * [[deterministicSplit]], membership is a pure function of
    * (stratum, id), so re-runs and resharding keep the exact same sample;
    * unlike `df.sample`, there is no RNG and no partition-order
    * sensitivity, so the op is reproducible on any cluster layout.
    *
    * The first 8 md5-hex chars of `salt|stratum|id` are a uniform 32-bit
    * value; keep the row iff hex < floor(frac * 2^32) rendered as 8-hex.
    * String comparison on fixed-width lowercase hex == unsigned numeric
    * compare, identical in any engine. A fraction >= 1.0 keeps the whole
    * stratum unconditionally (no 8-hex threshold can exceed "ffffffff",
    * so that case short-circuits to `true` instead of comparing).
    */
  def mixSample(docs: DataFrame, stratumCol: String, idCol: String,
                fractions: Map[String, Double],
                defaultFrac: Double = 0.0): DataFrame = {
    val h = substring(
      md5(concat_ws("|", lit("mix"), col(stratumCol),
        col(idCol).cast("string"))), 1, 8)
    def keep(f: Double): Column =
      if (f >= 1.0) lit(true)
      else h < f"${math.max((f * 4294967296.0).toLong, 0L)}%08x"
    // CASE stratum WHEN ... THEN keep-predicate chain, deterministic order
    val keepRow = fractions.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), lit(false))) { case (acc, (s, f)) =>
        acc.when(col(stratumCol) === s, keep(f))
      }.otherwise(keep(defaultFrac))
    docs.filter(keepRow)
  }

  /** Sliding-window chunking with overlap — the sequence-length/stride
    * splitter for long documents (each window starts at 0, stride,
    * 2*stride, ... while the start is inside the text; the tail window may
    * be shorter than `size`). Stride < size gives overlapping context the
    * way pretraining tokenizer pipelines do; stride = size is disjoint
    * chunking. Pure explode + substring Column algebra: codegen'd, no
    * shuffle, output rows ~ total_chars/stride. Empty/null docs emit no
    * chunks.
    */
  def windowChunks(docs: DataFrame, idCol: String, textCol: String,
                   size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, s"size=$size stride=$stride")
    docs.filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0), length(col(textCol)) - 1, lit(stride)))
          .as("_cs"))
      .select(col(idCol),
        (col("_cs") / stride).cast("long").as("chunk_id"),
        col(textCol).substr(col("_cs") + 1, lit(size)).as("chunk"))
  }

  /** Within-document repetition signals — the Gopher/MassiveText quality
    * filters that catch boilerplate and looped generations: the fraction
    * of duplicated words / 2-grams / 3-grams inside each document
    * (`1 - distinct/total`). Pure Column algebra over the split word
    * array (no explode, no shuffle): n-grams are built positionally with
    * `transform(sequence(...))`, so the whole row stays inside one
    * codegen stage and the op is embarrassingly parallel at any scale.
    * Documents with fewer words than the n-gram order get null for that
    * signal (the filter is undefined there, matching the reference
    * pipelines that skip short docs).
    */
  def repetitionSignals(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    // bind the split ONCE as a projected attribute: `transform` lambda
    // bodies are interpreted (no codegen, no common-subexpression
    // elimination), so an `element_at(split(text), …)` inside them would
    // re-split the document on every element visit — O(words²) per doc
    val ws = col("_ws")
    val n = size(ws)
    def ngrams(k: Int): Column =
      transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", (0 until k).map(o => element_at(ws, i + o)): _*))
    def dupFrac(arr: Column, total: Column): Column =
      lit(1.0) - size(array_distinct(arr)).cast("double") /
        total.cast("double")
    docs.filter(length(col(textCol)) > 0)
      .select(col(idCol), split(col(textCol), " ").as("_ws"))
      .select(
        col(idCol), n.as("n_words"),
        dupFrac(ws, n).as("dup_word_frac"),
        when(n >= 2, dupFrac(ngrams(2), n - 1)).as("dup_2gram_frac"),
        when(n >= 3, dupFrac(ngrams(3), n - 2)).as("dup_3gram_frac"))
  }

  /** Corpus-wide exact segment dedup (the MassiveText / RefinedWeb
    * line-level pass, adapted to unstructured text): split each document
    * into fixed `segWords`-word segments, keep only the globally-first
    * occurrence of each distinct segment (ordered by document id, then
    * segment index), and reassemble the surviving text per document.
    *
    * Plan shape at 100 TB: one explode (narrow), one hash exchange on the
    * segment content for the first-occurrence rank — keys are near-unique
    * so there is no skew — and one exchange back on the doc id for
    * reassembly. Every document stays in the output (a fully-duplicated
    * doc surfaces with kept_segs = 0 and empty text), so the op composes
    * with downstream filters without a corrective join.
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   segWords: Int): DataFrame = {
    require(segWords > 0, s"segWords=$segWords")
    val words = split(col(textCol), " ")
    val nseg = ceil(size(words) / lit(segWords.toDouble)).cast("int")
    // empty/null-text docs carry no segments but MUST stay in the output
    // (the documented every-doc-survives contract): explode_outer keeps
    // them as one null-segment row, excluded from all counts below
    val segIdx = when(length(col(textCol)) > 0,
      sequence(lit(0), nseg - 1))
    val segs = docs
      .select(col(idCol), explode_outer(segIdx).as("seg_idx"),
        words.as("_w"))
      .select(col(idCol), col("seg_idx"),
        when(col("seg_idx").isNotNull,
          array_join(slice(col("_w"), col("seg_idx") * segWords + 1,
            lit(segWords)), " ")).as("seg"))
    val firstRank = Window.partitionBy(col("seg"))
      .orderBy(col(idCol), col("seg_idx"))
    segs.withColumn("_keep",
        col("seg").isNotNull && row_number().over(firstRank) === 1)
      .groupBy(col(idCol))
      .agg(count(col("seg")).as("total_segs"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("kept_segs"),
        // collect_list drops the nulls the when() emits for dropped
        // segments; array_sort orders by seg_idx (first struct field)
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_keep"), struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("kept_text"))
  }

  /** Paragraph-boundary exact dedup — [[segmentDedup]]'s natural-boundary
    * twin (the C4/RefinedWeb line-and-paragraph pass as published: dedup
    * units are the document's OWN paragraphs, not fixed word windows):
    * split on `sep`, keep only the globally-first occurrence of each
    * distinct non-empty paragraph (ordered by document id, then position),
    * reassemble survivors per document with `sep`. Empty paragraphs
    * (consecutive separators, leading/trailing breaks) are not dedup
    * units and never count.
    *
    * Same plan shape and every-doc-survives contract as [[segmentDedup]]:
    * one explode, one near-unique-key exchange for the first-occurrence
    * rank, one exchange back on the doc id.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val paras = split(col(textCol),
      java.util.regex.Pattern.quote(sep), -1)
    val segs = docs
      .select(col(idCol), posexplode_outer(paras).as(Seq("seg_idx", "seg")))
      // empty paragraphs are boundary artifacts, not segments: null them
      // so they fall out of counts and reassembly like missing segments
      .select(col(idCol), col("seg_idx"),
        when(length(col("seg")) > 0, col("seg")).as("seg"))
    val firstRank = Window.partitionBy(col("seg"))
      .orderBy(col(idCol), col("seg_idx"))
    segs.withColumn("_keep",
        col("seg").isNotNull && row_number().over(firstRank) === 1)
      .groupBy(col(idCol))
      .agg(count(col("seg")).as("total_segs"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("kept_segs"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_keep"), struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          sep).as("kept_text"))
  }

  /** Deterministic weighted sampling without replacement, k per stratum —
    * the Efraimidis-Spirtes A-ES scheme with the RNG replaced by a salted
    * content-key hash: each row gets u = (hash32 + 0.5) / 2^32 in (0,1)
    * and survives iff its key u^(1/w) is among the stratum's k largest
    * (ties broken by id). Higher weight => key closer to 1 => more likely
    * kept; like [[mixSample]], membership is a pure function of
    * (stratum, id, weight), so re-runs and resharding reproduce the exact
    * sample on any cluster layout.
    *
    * Selection runs through [[TopKOps.topKPerGroup]] — the bounded-heap
    * plan node — so at 100 TB the shuffle carries only
    * `partitions x strata x k` candidate rows, not the corpus. Rows with
    * weight <= 0 (or null) are excluded (A-ES is undefined there).
    */
  /** EXACT-count stratified sample — k rows per stratum, selected as the
    * k smallest salted-hash values (deterministic, content/layout
    * independent), WITHOUT a per-stratum global sort: a distributed
    * selection in two narrow passes.
    *
    *  1. Count rows per (stratum, hash-prefix bucket) — 256 buckets from
    *     the hash's top byte. The collected plan is bounded at
    *     strata × 256 rows (same boundedness class as the LM vocab cuts
    *     and k-means centroids — driver state independent of corpus
    *     size). Cumulating the sorted buckets per stratum finds, for
    *     each stratum, the BOUNDARY bucket that straddles rank k and how
    *     many of its rows to take.
    *  2. Keep every row in a bucket strictly below the boundary
    *     (no sort at all — bucket membership decides), and rank ONLY the
    *     boundary bucket's rows (~n/256 of one stratum) for the
    *     remainder. Equal hashes share a bucket, so "k smallest (hash,
    *     id)" is exactly reproduced and a plain per-stratum row_number
    *     oracle replays it.
    *
    * Versus a window row_number over each full stratum: the sort shrinks
    * from the whole corpus to 1/256 of it, and the non-boundary 255/256
    * flows through as a filter — the shape that survives a stratum with
    * billions of rows. Strata with <= k rows keep everything; a null
    * stratum is its own stratum (null-safe plan join, and the salt
    * coalesces it to a NUL-prefixed sentinel token so its hashes don't
    * collide with the no-stratum spelling of the salt).
    */
  def exactStratifiedSample(docs: DataFrame, stratumCol: String,
                            idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    val spark = docs.sparkSession
    import spark.implicits._
    val h = u32(saltedMd5(lit("esample"),
      coalesce(col(stratumCol).cast("string"), lit("\u0001null")),
      col(idCol).cast("string")))
    val hashed = docs.withColumn("_h", h)
      .withColumn("_b", shiftright(col("_h"), 24).cast("int"))
    val counts = hashed.groupBy(col(stratumCol), col("_b"))
      .agg(count(lit(1)).as("_n"))
      .collect()
      .groupBy(_.getAs[Any](stratumCol))
    // per stratum: walk buckets ascending to the one straddling rank k
    val plan = counts.toSeq.map { case (stratum, rows) =>
      val byBucket = rows.map(r => (r.getAs[Int]("_b"),
        r.getAs[Long]("_n"))).sortBy(_._1)
      var remaining = k.toLong
      var boundary = 256 // all buckets full -> nothing to rank
      var take = 0L
      byBucket.foreach { case (b, n) =>
        if (boundary == 256) {
          if (n >= remaining) { boundary = b; take = remaining }
          else remaining -= n
        }
      }
      (stratum, boundary, take)
    }
    val planDf = broadcast(spark.createDataFrame(
      plan.map(p => Row(p._1, p._2, p._3)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        docs.schema(stratumCol).copy(name = "_ps"),
        org.apache.spark.sql.types.StructField("_boundary",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_take",
          org.apache.spark.sql.types.LongType, nullable = false)))))
    val joined = hashed.join(planDf,
      col(stratumCol) <=> col("_ps"), "inner")
    val below = joined.filter(col("_b") < col("_boundary"))
    val wB = Window.partitionBy(col(stratumCol))
      .orderBy(col("_h"), col(idCol))
    val atBoundary = joined.filter(col("_b") === col("_boundary"))
      .withColumn("_rk", row_number().over(wB))
      .filter(col("_rk") <= col("_take"))
      .drop("_rk")
    below.unionByName(atBoundary)
      .drop("_h", "_b", "_ps", "_boundary", "_take")
  }

  /** Temperature-based stratum rebalancing — the multilingual-corpus
    * sampling rule of mC4/T5 and UniMax-style mixes: stratum l with n_l
    * docs gets sampling weight w_l = n_l^(1/T), and each of its rows is
    * kept independently with probability
    * q_l = min(1, target * w_l / (Z * n_l)), Z = sum_l w_l — T=1
    * reproduces the natural distribution, T->inf approaches uniform
    * across strata, and q_l caps at one full epoch of a small stratum
    * (no row duplication). The decision is the same salted-hash
    * per-row coin as [[mixSample]], so the op is a broadcast-join +
    * filter: no per-stratum rank shuffle, embarrassingly parallel at any
    * corpus size, reproducible on any layout.
    *
    * Engine-parity design: w is quantized to 1e-6 longs BEFORE summing
    * (Z is an integer, so it cannot depend on float summation order),
    * keep_frac rounds to 6 digits, and the 32-bit keep threshold is
    * floor(keep_frac * 2^32) with an explicit floor (Spark's double->
    * long cast truncates, DuckDB's rounds). Output: the input rows that
    * survive, annotated with (n_docs, keep_frac) of their stratum. A
    * null stratum is its own stratum (null-safe plan join; the salt
    * coalesces it to the family's NUL-prefixed sentinel).
    */
  def temperatureRebalance(docs: DataFrame, stratumCol: String,
                           idCol: String, temperature: Double,
                           targetTotal: Long): DataFrame = {
    require(temperature >= 1.0,
      s"temperature=$temperature (T >= 1: flatten toward uniform)")
    val alpha = 1.0 / temperature
    val counts = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("_wq",
        round(pow(col("n_docs").cast("double"), lit(alpha)) * 1e6)
          .cast("long"))
    val plan = counts
      .crossJoin(counts.agg(sum(col("_wq")).as("_z")))
      .withColumn("keep_frac", least(lit(1.0),
        round((lit(targetTotal).cast("double") * col("_wq")) /
          (col("_z").cast("double") * col("n_docs")), 6)))
      .select(col(stratumCol), col("n_docs"), col("keep_frac"))
    val h = u32(saltedMd5(lit("trebal"),
      coalesce(col(stratumCol).cast("string"), lit("\u0001null")),
      col(idCol).cast("string")))
    // null-SAFE plan join: a null stratum is a real stratum (it already
    // participates in the counts and in Z) — plain equality would drop
    // its rows while still letting it deflate everyone else's keep_frac
    docs.alias("_tl")
      .join(broadcast(plan.alias("_tr")),
        col(s"_tl.`$stratumCol`") <=> col(s"_tr.`$stratumCol`"))
      .select((docs.columns.map(c => col(s"_tl.`$c`")).toIndexedSeq :+
        col("_tr.n_docs") :+ col("_tr.keep_frac")): _*)
      .filter(h < floor(col("keep_frac") * 4294967296.0).cast("long"))
  }

  /** UniMax-style budget allocation (uniform-coverage mixing, the
    * published alternative to temperature scaling): distribute
    * `targetTotal` docs across strata as UNIFORMLY as possible, with each
    * stratum capped at `maxEpochs` passes over its rows — a small stratum
    * is never over-sampled past its cap; its unused share waterfalls to
    * the larger strata. Waterfilling: visit strata by ascending capacity
    * (ties broken by the stratum's string form, nulls last, so the walk
    * is deterministic and the oracle can replay it with a recursive
    * CTE); each takes min(cap, remaining / strata_left), quantized to
    * 1e-6 per step so the recursion state is engine-exact. The apply is
    * the family's deterministic salted coin at keep_frac =
    * min(1, quota / n) — with maxEpochs > 1 read `quota / n_docs` for
    * duplication-aware consumption (the coin itself caps at one epoch).
    *
    * The stratum walk is bounded driver state (|strata| rows — the same
    * boundedness class as temperatureRebalance's Z and the k-means
    * centroids); the apply is one broadcast join + filter. A null
    * stratum is its own stratum (null-safe join, sentinel-salted coin).
    * Output: surviving rows annotated with (n_docs, quota, keep_frac).
    * The stratum column must be a groupable/orderable type (maps are
    * not — project a map stratum to an explicit string key first; the
    * r12 native-type keying traded implicit map support for correctness
    * on strata whose string casts collide).
    */
  def unimaxRebalance(docs: DataFrame, stratumCol: String, idCol: String,
                      targetTotal: Long, maxEpochs: Double = 1.0)
      : DataFrame = {
    require(targetTotal >= 0, s"targetTotal=$targetTotal")
    require(maxEpochs > 0, s"maxEpochs=$maxEpochs")
    val spark = docs.sparkSession
    import spark.implicits._
    val coin = u32(saltedMd5(lit("unimax"),
      coalesce(col(stratumCol).cast("string"), lit("\u0001null")),
      col(idCol).cast("string")))
    // the plan frame keys on the stratum in its NATIVE type and joins
    // with <=> on the raw column (as temperatureRebalance does): keying
    // on cast(stratum as string) would merge distinct strata whose
    // string casts collide (binary, lossy float spellings) into one
    // count — and so one quota — silently. The string form survives
    // only inside the salted coin and as a walk tiebreak.
    def applyPlan(plan: DataFrame): DataFrame =
      docs.alias("_ul")
        .join(broadcast(plan.alias("_ur")),
          col(s"_ul.`$stratumCol`") <=> col("_ur._s"))
        .select((docs.columns.map(c => col(s"_ul.`$c`")).toIndexedSeq :+
          col("_ur.n_docs") :+ col("_ur.quota") :+
          col("_ur.keep_frac")): _*)
        .filter(coin < floor(col("keep_frac") * 4294967296.0).cast("long"))
    val counts = docs.groupBy(col(stratumCol).as("_s"))
      .agg(count(lit(1)).as("n_docs"))
    // deterministic walk order, ranked ENGINE-side so the driver never
    // reconstructs native values: ascending capacity, nulls last,
    // string-form tiebreak (the documented order), then the native value
    // itself so string-cast collisions still rank deterministically.
    // The waterfill consumes only (rank, n_docs); quotas rejoin the
    // native-keyed counts rows by rank. Bounded: |strata| rows.
    val wWalk = Window.orderBy(col("n_docs"), col("_s").isNull,
      col("_s").cast("string"), col("_s"))
    // eager localCheckpoint: the ranked strata frame is bounded
    // (|strata| rows) but its lineage scans the corpus — without the
    // checkpoint the returned plan would re-run that scan (the collect
    // below is one execution, applyPlan's reuse a second), and a
    // non-recompute-deterministic `docs` could even re-rank strata
    // differently from the collected walk, attaching quotas to the
    // wrong stratum
    val indexed = counts.withColumn("_si", row_number().over(wWalk))
      .localCheckpoint(true)
    val strata = indexed.select(col("_si"), col("n_docs")).collect()
      .map(r => (r.getAs[Int]("_si"), r.getAs[Long]("n_docs")))
      .sortBy(_._1)
    val k = strata.length
    var remaining = targetTotal.toDouble
    val quotas = strata.zipWithIndex.map { case ((si, n), i) =>
      val q0 = math.min(n * maxEpochs, math.max(remaining, 0.0) / (k - i))
      val q = math.round(q0 * 1e6) / 1e6
      remaining -= q
      (si, q, math.min(1.0, if (n == 0L) 0.0 else q / n))
    }.toSeq.toDF("_si", "quota", "keep_frac")
    applyPlan(indexed.join(quotas, Seq("_si"))
      .select(col("_s"), col("n_docs"), col("quota"), col("keep_frac")))
  }

  def weightedSample(docs: DataFrame, stratumCol: String, idCol: String,
                     weightCol: String, k: Int): DataFrame = {
    val h = u32(saltedMd5(lit("wsample"), col(stratumCol),
      col(idCol).cast("string")))
    val u = (h.cast("double") + 0.5) / 4294967296.0
    val key = pow(u, lit(1.0) / col(weightCol).cast("double"))
    TopKOps.topKPerGroup(
        docs.filter(col(weightCol) > 0).withColumn("_es_key", key),
        Seq(stratumCol), "_es_key", descending = true, idCol, k)
      .drop("_es_key")
  }
}
