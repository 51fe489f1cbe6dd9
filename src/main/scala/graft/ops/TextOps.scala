package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text features, sentiment algebra, and training-data text analysis
  * (SURVEY.md §2.9 F9-F12, §2.11 X1/X7, plus the north-star text-analysis
  * operators: language-ID, quality score, token counting, fingerprinting).
  *
  * Everything here is pure `Column` algebra (codegen'd built-ins) — no UDFs,
  * so the whole feature block stays inside one WholeStageCodegen span and
  * runs as a narrow (shuffle-free) projection at any scale.
  */
object TextOps {

  // --- F9-F12 / X7: basic text features (Milestone4 cell 9) ---------------

  /** Reference `basic_text_features`: length, word count, URL / mention /
    * hashtag / cashtag counts, call-to-action + contains-number flags.
    */
  def basicTextFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("text_len", length(t))
      .withColumn("n_words", size(split(t, " ")))
      .withColumn("n_urls", regexp_count(t, lit("http[s]?://|t\\.co/")))
      .withColumn("n_mentions", regexp_count(t, lit("@\\w+")))
      .withColumn("n_hashtags", regexp_count(t, lit("#\\w+")))
      .withColumn("n_cashtags", regexp_count(t, lit("\\$\\w+")))
      .withColumn("has_number",
        regexp_count(t, lit("\\b\\d+(\\.\\d+)?\\b")) > 0)
      .withColumn("has_cta",
        regexp_count(lower(t), lit("buy|sell|join|subscribe|click")) > 0)
  }

  // --- X1: sentiment algebra ---------------------------------------------

  /** Deterministic lexicon scorer with exactly the reference's
    * score->label->signal algebra (stream_join.py:231-346):
    * renormalized pos/neg class scores, `score = pos - neg`,
    * `magnitude = pos + neg`, label = argmax, `signal = score>0 ? buy :
    * sell`; empty text -> all-null row; text clipped to 10 000 chars (P12).
    * The HF TinyBERT classifier itself is swapped for a lexicon count
    * (documented divergence — model weights are not reproducible in-JVM);
    * the algebra is bit-exact.
    */
  def sentiment(df: DataFrame, textCol: String = "text",
                posWords: Seq[String] = Seq("fast", "big"),
                negWords: Seq[String] = Seq("slow", "small")): DataFrame = {
    val t = substring(lower(col(textCol)), 1, 10000)
    def hits(ws: Seq[String]) =
      ws.map(w => regexp_count(t, lit("\\b" + w + "\\b"))).reduce(_ + _)
    val pos = hits(posWords).cast("double")
    val neg = hits(negWords).cast("double")
    val total = pos + neg
    // renormalize to sum 1 (reference :327-337); 0/0 -> neutral 0.5/0.5
    val posN = when(total > 0, pos / total).otherwise(lit(0.5))
    val negN = when(total > 0, neg / total).otherwise(lit(0.5))
    val score = posN - negN
    val nonEmpty = length(col(textCol)) > 0
    df.withColumn("sentiment_score", when(nonEmpty, score))
      .withColumn("sentiment_magnitude", when(nonEmpty, posN + negN))
      .withColumn("sentiment_label",
        when(!nonEmpty, lit(null).cast("string"))
          .when(score > 0.1, "POSITIVE")
          .when(score < -0.1, "NEGATIVE")
          .otherwise("NEUTRAL"))
      .withColumn("action_signal",
        when(!nonEmpty, lit(null).cast("string"))
          .when(score > 0, "buy").otherwise("sell"))
  }

  // --- North-star: language ID (n-gram/stopword heuristic) ----------------

  /** Marker-word language scorer: counts per-language stopword hits and
    * argmaxes. Deterministic tiebreak = lexicographically-first language.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "y"),
    "fr" -> Seq("le", "la", "de", "et"),
    "de" -> Seq("der", "die", "das", "und"),
    "zh" -> Seq("de", "le", "he", "shi"))

  def languageId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = lower(col(textCol))
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      lang -> ws.map(w => regexp_count(t, lit("\\b" + w + "\\b"))).reduce(_ + _)
    }
    val best = greatest(scored.map(_._2): _*)
    // tiebreak: first language in lexicographic order achieving the max —
    // a CASE chain in fixed order, portable verbatim to the SQL oracle.
    val pred = scored.tail.foldLeft(
      when(scored.head._2 === best, scored.head._1)) {
      case (acc, (lang, s)) => acc.when(s === best, lang)
    }
    df.withColumn("lang_pred", pred).withColumn("lang_score", best)
  }

  // --- North-star: quality scoring ---------------------------------------

  /** Length / punctuation / stopword-ratio quality score in [0,1] —
    * the standard pretraining-corpus heuristics (C4/Gopher-style rules)
    * expressed as Column algebra. Ratios derive from exact integer counts,
    * divisions are IEEE-identical across engines.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("double")
    val nWords = size(split(t, " ")).cast("double")
    val nPunct = regexp_count(t, lit("[\\.,;:!\\?]")).cast("double")
    val nStop = regexp_count(lower(t),
      lit("\\b(the|a|of|and|to|in|is)\\b")).cast("double")
    val lenOk = (nChars >= 50 && nChars <= 10000).cast("double")
    val punctRatio = nPunct / greatest(nChars, lit(1.0))
    val stopRatio = nStop / greatest(nWords, lit(1.0))
    val meanWordLen = nChars / greatest(nWords, lit(1.0))
    val wordLenOk = (meanWordLen >= 2 && meanWordLen <= 12).cast("double")
    df.withColumn("n_words", nWords.cast("long"))
      .withColumn("punct_ratio", punctRatio)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("quality_score",
        (lenOk + wordLenOk + least(stopRatio * 4, lit(1.0))
          + (lit(1.0) - least(punctRatio * 10, lit(1.0)))) / 4)
  }

  // --- North-star: token counting ----------------------------------------

  /** Whitespace tokens + BPE-ish subword estimate (letter runs, digit runs,
    * punctuation singles — the GPT-2 pre-tokenizer regex family).
    */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(split(t, "\\s+")))
      .withColumn("bpe_ish_tokens",
        regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")))
  }

  /** Feature-hashing text vectorizer (HashingTF semantics on a portable
    * hash) — the deterministic documents→vectors bridge: each token maps
    * to bucket u32(md5(token)) % dim, per-(doc, bucket) term frequencies
    * L2-normalize, and the vector is emitted LONG-FORM
    * (idCol, dim_idx, weight) — sparse, joinable, and exactly what a
    * downstream ANN index or linear model ingests. No vocabulary, no
    * driver state, no model artifact: the op is a pure function of the
    * text, so it runs identically on every shard of a 100 TB corpus.
    * One shuffle for the tf aggregation + one keyed window for the norm;
    * tf and sum(tf²) stay integer-exact, so weights (round 6) hash-match
    * across engines.
    */
  def hashEmbed(docs: DataFrame, dim: Int, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(dim >= 2, s"dim=$dim")
    val tf = hashedTf(docs, dim, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    tf.withColumn("_nrm",
        sqrt(sum(col("_tf") * col("_tf")).over(w).cast("double")))
      .select(col(idCol), col("dim_idx"),
        round(col("_tf") / col("_nrm"), 6).as("weight"))
  }

  /** Per-(doc, bucket) hashed term frequencies — the shared first stage
    * of [[hashEmbed]] and [[hashTfIdf]].
    */
  private def hashedTf(docs: DataFrame, dim: Int, idCol: String,
                       textCol: String): DataFrame = {
    val tok = explode(split(col(textCol), " "))
    val bucket = pmod(conv(substring(md5(col("_tok")), 1, 8), 16, 10)
      .cast("long"), lit(dim.toLong))
    docs.select(col(idCol), tok.as("_tok"))
      .filter(col("_tok") =!= "")
      .select(col(idCol), bucket.as("dim_idx"))
      .groupBy(col(idCol), col("dim_idx"))
      .agg(count(lit(1)).as("_tf"))
  }

  /** IDF-weighted hashed vectorizer — [[hashEmbed]] with the sklearn
    * smooth-idf weighting: idf = ln((1+N)/(1+df)) + 1 over the SAME hash
    * buckets (N = docs with at least one token, df = docs containing the
    * bucket), weights L2-normalized per doc. Corpus statistics enter as
    * a dim-sized broadcast + a one-row broadcast — no second pass over
    * text. The tf frame feeds three consumers (df, N, the join), so it
    * is materialized once (bounded at docs × dim rows); tf·idf products
    * quantize to 1e-6 longs before the norm so the per-doc sum of
    * squares is integer-exact on any layout/engine.
    */
  def hashTfIdf(docs: DataFrame, dim: Int, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(dim >= 2, s"dim=$dim")
    val tf = hashedTf(docs, dim, idCol, textCol)
      .localCheckpoint(eager = true)
    val dfb = tf.groupBy(col("dim_idx")).agg(count(lit(1)).as("_df"))
    val n = tf.agg(countDistinct(col(idCol)).as("_n"))
    val idf = log((lit(1.0) + col("_n")) / (lit(1.0) + col("_df"))) +
      lit(1.0)
    val qv = tf.join(broadcast(dfb), Seq("dim_idx"))
      .crossJoin(broadcast(n))
      .withColumn("_q", round(col("_tf") * idf * lit(1e6)).cast("long"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    qv.withColumn("_nrm",
        sqrt(sum(col("_q") * col("_q")).over(w).cast("double")))
      .select(col(idCol), col("dim_idx"),
        round(col("_q") / col("_nrm"), 6).as("weight"))
  }

  // --- North-star: PII scrubbing -----------------------------------------

  /** C4-style PII redaction: emails, phone-like sequences, and long digit
    * runs replaced by typed placeholder tokens, with per-category counts
    * kept for audit. Pure codegen'd regexp algebra — narrow, shuffle-free,
    * O(bytes) at any scale.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
  val longNumRe = "[0-9]{6,}"

  def piiScrub(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(emailRe)))
      .withColumn("n_phones", regexp_count(t, lit(phoneRe)))
      .withColumn("text_scrubbed",
        regexp_replace(regexp_replace(regexp_replace(t,
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), longNumRe, "<NUM>"))
  }

  // --- North-star: unigram LM scoring ------------------------------------

  /** Unigram language-model log-probability per document — the
    * perplexity-style quality signal pretraining pipelines filter on
    * (cheap stand-in for "score every doc with a small LM").
    *
    * Model: Laplace-smoothed unigram over the corpus's own top-`topV`
    * tokens, everything else one shared OOV bucket:
    * p(t) = (cnt_t + 1) / (total_tokens + topV_actual + 1).
    *
    * Scale shape: the vocabulary build is one token-explode + groupBy
    * (map-side partial counts), truncated to topV with a deterministic
    * (count desc, token) cut and collected — O(topV) driver/broadcast
    * state. Scoring then runs as a NARROW single scan: the vocab rides a
    * map literal into the plan and each doc folds its own token array —
    * no second shuffle, no per-token rows.
    *
    * Determinism: per-token log-probs are quantized to 1e-6 longs
    * (round(ln(p)*1e6)) before summation, so the per-doc sum is exact
    * integer math — engine- and order-independent (the same trick that
    * makes the k-means trajectory replayable).
    * Output: idCol, n_tokens, avg_logprob (round 6).
    */
  def unigramLogProb(df: DataFrame, topV: Int = 20,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(explode(split(lower(col(textCol)), " ")).as("tok"))
    // r18 optimization: ONE cached count table + ONE driver action for
    // both model cuts (was: a top-topV collect AND a separate
    // toks.count() — i.e. the corpus exploded twice and two driver
    // barriers; the unionAll packs the top cut and the corpus total into
    // a single job over the cached counts). Model values are unchanged.
    val cnts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt")).cache()
    val (counts, total) = try {
      val topRows = cnts.orderBy(col("cnt").desc, col("tok")).limit(topV)
        .select(lit(0).as("_t"), col("tok"), col("cnt"))
      val totRow = cnts.agg(sum(col("cnt")).as("cnt"))
        .select(lit(1).as("_t"), lit(null).cast("string").as("tok"),
          col("cnt"))
      val rows = topRows.unionAll(totRow).collect()
      (rows.filter(_.getInt(0) == 0)
         .map(r => r.getString(1) -> r.getLong(2)),
       rows.find(_.getInt(0) == 1)
         .map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).getOrElse(0L))
    } finally cnts.unpersist()
    val vActual = counts.length
    val denom = (total + vActual + 1).toDouble
    def qlp(cnt: Long): Long =
      math.round(math.log((cnt + 1).toDouble / denom) * 1e6)
    // scoring stays the narrow map-probe fold: an explode + broadcast
    // join + doc-grain agg variant (the bigramLogProb shape) was
    // measured in r18 and is SLOWER here (1.29 vs 0.80 s at sf0.1) —
    // the unigram fold is one map probe + long add per token with no
    // exploded shuffle, which is also the better 100 TB shape. r19: the
    // fold itself is now ONE codegen kernel call per doc
    // (graft.functions.UnigramQsum, vocab as a reference object)
    // instead of the interpreted aggregate() lambda over a plan-embedded
    // map literal — long addition is associative, so qsum (and the
    // rounded output) is bit-identical; TextStatsSpec pins the twin.
    val vocabMap = {
      val m = new java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
        counts.length * 2)
      counts.foreach { case (t, c) =>
        m.put(org.apache.spark.unsafe.types.UTF8String.fromString(t),
          java.lang.Long.valueOf(qlp(c)))
      }
      m
    }
    // coalesce(-1): the old spelling's n_tokens was size(split(null)),
    // which is -1 under legacy sizeOfNull (ANSI off) — a null text must
    // keep emitting -1, not null, for bit parity (avg_logprob is null
    // either way)
    df.select(col(idCol), graft.functions.TextHashFunctions
        .unigram_qsum(col(textCol), vocabMap, qlp(0L)).as("_uq"))
      .select(col(idCol),
        coalesce(col("_uq.n_tokens"), lit(-1L)).as("n_tokens"),
        round((col("_uq.qsum").cast("double") / 1e6) /
          col("_uq.n_tokens"), 6).as("avg_logprob"))
  }

  /** Interpolated bigram language-model log-probability per document —
    * the KenLM-shaped upgrade of [[unigramLogProb]]: each in-document
    * bigram (w1,w2) scores ln(λ·p(w2|w1) + (1-λ)·p_uni(w2)), where the
    * conditional lives on the corpus's own top-`topB` bigrams (0
    * elsewhere, i.e. full backoff to the smoothed unigram), and p_uni is
    * the same Laplace-smoothed top-`topV`+OOV unigram as
    * [[unigramLogProb]].
    *
    * Scale shape: the full unigram count table is built once and CACHED
    * (O(vocab) rows); the top-`topV` cut, the corpus total, and the
    * conditioning contexts' counts are all served from it without
    * re-exploding the corpus. One more explode+groupBy builds the bigram
    * cut. Scoring then explodes each doc's (bigram, w2) pairs and runs
    * them through two BROADCAST hash joins against the O(topB)/O(topV)
    * model tables plus one hash aggregation back to doc grain — every
    * stage whole-stage-codegen'd, one shuffle on the doc id (an earlier
    * literal-map fold kept the plan shuffle-free but evaluated the
    * higher-order lambda interpreted, ~10x slower end to end).
    *
    * Determinism: all probabilities and logs are evaluated ON THE DRIVER
    * over exact integer counts, quantized to 1e-6 longs, and shipped as
    * literal model tables — the distributed plan does only integer sums,
    * so the result is order- and engine-independent (same discipline as
    * [[unigramLogProb]]).
    * Output: idCol, n_bigrams, avg_logprob (raw ratio of exact ints;
    * null when the doc has fewer than 2 words).
    */
  def bigramLogProb(df: DataFrame, topV: Int = 20, topB: Int = 40,
                    lambda: Double = 0.5, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // r19 (guide §2.3/§1.2-1): ONE corpus pass builds BOTH count tables.
    // Each doc explodes its tokens (kind 0) and its bigrams (kind 1) as
    // one combined array, so the model build scans the corpus once and
    // shuffles once (the previous spelling exploded the corpus twice —
    // two full scans and two exchanges; at 100 TB the second pass is a
    // full re-read). The combined array is ONE codegen kernel call per
    // doc (graft.functions.UnigramBigramKeys) — a declarative
    // concat-of-transforms spelling measured SLOWER than the two-scan
    // original at sf1 (2.76 vs 2.08 s: the per-element struct lambdas
    // evaluate interpreted and dominate the saved scan); the kernel
    // keeps the single-scan shape AND the codegen'd per-task work
    // (parity pinned in TextHashExprSpec). Counts are identical by
    // construction; every later cut reads the one cached table.
    val cnts = df.select(explode(graft.functions.TextHashFunctions
        .ub_keys(col(textCol))).as("_e"))
      .groupBy(col("_e._k").as("_k"), col("_e._key").as("_key"))
      .agg(count(lit(1)).as("cnt")).cache()
    try {
      // ONE driver action for all three model cuts (top-topV unigrams,
      // corpus token total, top-topB bigrams) — the unionAll packs them
      // into a single job over the cached counts (same fusion as
      // unigramLogProb's r18 change)
      val uniCut = cnts.filter(col("_k") === 0)
        .orderBy(col("cnt").desc, col("_key")).limit(topV)
        .select(lit(0).as("_t"), col("_key"), col("cnt"))
      val totCut = cnts.filter(col("_k") === 0)
        .agg(sum(col("cnt")).as("cnt"))
        .select(lit(1).as("_t"), lit(null).cast("string").as("_key"),
          col("cnt"))
      val biCut = cnts.filter(col("_k") === 1)
        .orderBy(col("cnt").desc, col("_key")).limit(topB)
        .select(lit(2).as("_t"), col("_key"), col("cnt"))
      val cutRows = uniCut.unionAll(totCut).unionAll(biCut).collect()
      val uniTop = cutRows.filter(_.getInt(0) == 0)
        .map(r => r.getString(1) -> r.getLong(2))
      val total = cutRows.find(_.getInt(0) == 1)
        .map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).getOrElse(0L)
      val biTop = cutRows.filter(_.getInt(0) == 2)
        .map(r => r.getString(1) -> r.getLong(2))
      val denom = (total + uniTop.length + 1).toDouble
      def pUni(cnt: Long): Double = (cnt + 1).toDouble / denom
      val uniMap = uniTop.toMap
      // unigram counts of the conditioning contexts (w1 of each top
      // bigram) — read from the cached count table, no corpus re-scan
      val ctxWords = biTop.map(_._1.split(" ", 2)(0)).distinct.toSeq
      val ctxCnt: Map[String, Long] =
        if (ctxWords.isEmpty) Map.empty
        else cnts.filter(col("_k") === 0 && col("_key").isin(ctxWords: _*))
          .collect().map(r => r.getString(1) -> r.getLong(2)).toMap

      def q(p: Double): Long = math.round(math.log(p) * 1e6)
      val biQlp: Seq[(String, Long)] = biTop.toSeq.map { case (bg, cb) =>
        val Array(w1, w2) = bg.split(" ", 2)
        val pb = cb.toDouble / ctxCnt(w1)
        bg -> q(lambda * pb + (1 - lambda) * pUni(uniMap.getOrElse(w2, 0L)))
      }
      val backQlp: Seq[(String, Long)] = uniTop.toSeq.map { case (w, c) =>
        w -> q((1 - lambda) * pUni(c))
      }
      val oov = lit(q((1 - lambda) * pUni(0L)))
      val bq = biQlp.toDF("_g", "_bqlp")
      val fq = backQlp.toDF("_w2", "_fqlp")

      // (bigram, w2) pair stream: one codegen kernel call per doc
      // (graft.functions.BigramPairs — the r19 replacement for the
      // interpreted when(size>=2, transform(sequence, struct(concat_ws)))
      // lambda chain; bit-for-bit parity pinned by TextHashExprSpec) +
      // explode_outer keeps 0-bigram docs as a single null pair
      // (the kernel returns null there, exactly like the old `when`)
      val pairs = graft.functions.TextHashFunctions
        .bigram_pairs(col(textCol))
      val scored = Rebalance(df).select(col(idCol), pairs.as("_ps"))
        .select(col(idCol), explode_outer(col("_ps")).as("_p"))
        .join(broadcast(bq), col("_p.g") === col("_g"), "left")
        .join(broadcast(fq), col("_p.w2") === col("_w2"), "left")
        .groupBy(col(idCol))
        .agg(count(col("_p")).as("n_bigrams"),
          sum(when(col("_p").isNotNull,
            coalesce(col("_bqlp"), col("_fqlp"), oov))).as("_qsum"))
      // raw IEEE ratio of exact ints (NOT rounded: a final round(.,6) can
      // land on a .5 boundary where Spark's shortest-decimal rounding and
      // another engine's binary rounding disagree by 1e-6)
      // safe to unpersist before evaluation: the returned plan reads only
      // the collected model literals, never the cached count table
      scored.select(col(idCol), col("n_bigrams"),
        when(col("n_bigrams") >= 1,
          (col("_qsum").cast("double") / 1e6) / col("n_bigrams"))
          .as("avg_logprob"))
    } finally cnts.unpersist()
  }

  // --- North-star: document fingerprinting -------------------------------

  /** Winnowing-style fingerprint: min/max MD5 over character shingles.
    * MD5-hex is engine-portable (identical in Spark and DuckDB), so the
    * fingerprint doubles as an oracle-checkable rolling-hash surrogate.
    * The fingerprint is a scalar of the text, so it runs as a one-pass
    * native kernel ([[graft.functions.Md5MinMaxShingles]]) in a narrow
    * codegen'd projection — no char-shingle explode (O(text length)
    * rows/doc), no groupBy shuffle, and digests are compared as bytes with
    * hex emitted once per doc. Output: idCol, fp_min, fp_max.
    */
  def fingerprint(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", shingle: Int = 8): DataFrame =
    Rebalance(df)
      .select(col(idCol), graft.functions.TextHashFunctions
        .md5_minmax(col(textCol), shingle).as("mm"))
      .select(col(idCol), col("mm.fp_min"), col("mm.fp_max"))
}
