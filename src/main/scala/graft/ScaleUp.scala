package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale a testdata SF directory up by an integer factor for local
  * scaling probes (`runMain graft.ScaleUp <inDir> <outDir> <factor>`):
  * fact tables are unioned `factor` times with disjoint id shifts so key
  * cardinalities grow with the data (not just row multiplicity), dims are
  * copied as-is (the TPC-H-ish shape: facts grow, dims stay bounded).
  *
  * Cross-copy structure is deliberately de-duplicated where it would
  * degenerate: each document copy gets a per-copy suffix token so the
  * near-dup profile stays ~constant per row instead of every doc becoming
  * a factor-sized duplicate clique; embeddings keep their values (ANN
  * cost depends on counts, not coordinates). Event/order/lineitem keys
  * shift by the observed max so joins stay consistent within each copy.
  * The optional `boundedconst` mode (see below) strengthens the de-dup
  * to a per-copy word bijection for CC scale campaigns where even the
  * residual cross-copy banding of the suffix mode distorts the
  * edge-count slope.
  */
object ScaleUp {
  /** boundedconst token space: 4-char base-36 — copy·V + rank must fit. */
  private[graft] val ConstTokenSpace: Long = 36L * 36 * 36 * 36

  /** boundedconst word encoder: the word of rank `rank` in copy `copy`
    * becomes the zero-padded 4-char base-36 numeral of
    * (copy·vocabSize + rank) — injective across (copy, rank) because
    * the numeral map is, and constant-width by the pad, so encoded doc
    * bytes depend only on the word count. Callers must keep
    * copy·vocabSize + rank < [[ConstTokenSpace]]
    * ([[constVocabRank]]'s require).
    */
  private[graft] def constToken(copy: Int, vocabSize: Int,
                                rank: Int): String = {
    val s = java.lang.Long.toString(
      copy.toLong * vocabSize + rank, 36)
    "0" * (4 - s.length) + s
  }

  /** boundedconst text encoder: every space-separated word replaced by
    * its [[constToken]]. "Word" here means every split element — an
    * EMPTY word arising from a double/leading/trailing space is looked
    * up and encoded as an ordinary vocabulary entry, not passed through
    * (the vocabulary pass in [[constVocabRank]] uses the same
    * keep-empties split semantics — Spark's `split(col, " ")` defaults
    * to limit -1 like the explicit `-1` here — so "" always has a
    * rank). Single-space separators are preserved, so the encoded byte
    * length is 5·words − 1 regardless of copy, factor or source word
    * lengths — exactly BECAUSE empties are widened to full tokens.
    */
  private[graft] def constEncode(text: String, copy: Int,
                                 rank: Map[String, Int]): String =
    text.split(" ", -1).iterator
      .map(w => constToken(copy, rank.size, rank(w))).mkString(" ")

  /** boundedconst vocabulary pass: rank the corpus's distinct words
    * (sorted, driver-side). The 36^4 token-space guard runs on a COUNT
    * of the distinct vocabulary BEFORE the driver-side collect, so an
    * over-vocab input fails with the friendly message instead of first
    * materializing an arbitrarily large word list on the driver.
    */
  private[graft] def constVocabRank(documents: DataFrame,
                                    factor: Int): Map[String, Int] = {
    val distinctWords = documents
      .select(explode(split(col("text"), " ")).as("w")).distinct()
    val v = distinctWords.count()
    require(v * factor <= ConstTokenSpace,
      s"boundedconst: vocabulary $v x factor $factor exceeds the " +
        "4-char base-36 token space")
    val words = distinctWords.collect().map(_.getString(0)).sorted
    println(s"[scaleup] boundedconst vocabulary: $v words")
    words.zipWithIndex.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 2, s"factor $factor")
    // optional 4th arg: append this many synthetic SINGLETON documents
    // (globally unique words -> no shared shingles -> every minhash band
    // bucket has one member) with ids in the doc_id % 11 == 3 stratum —
    // the high-diameter chain variant for the CC straggler-regime bench
    // (`dedup_clusters_chain` links consecutive singleton stratum ids
    // into a path; ScaleUp'd corpora otherwise band nearly every doc
    // into a cross-copy clique, leaving ~4 singletons at sf1). Injection
    // happens AFTER the copy fan-out so the injected docs are not
    // themselves near-dup'd across copies.
    val rest = args.drop(3)
    // optional literal "boundedconst" (any position after factor): the
    // CONSTANT-LENGTH bounded-clique copy mode for byte-honest CC
    // decades. The default per-copy suffix token leaves enough shared
    // shingles that copies band with their originals, so near-dup
    // cliques — and the candidate PAIR set — grow ~quadratically with
    // the factor (the r15 sf30 CC cells measured that fixture artifact,
    // not the operator). Here EVERY copy (including copy 0) has every
    // word replaced by the fixed-width base-36 encoding of
    // (copy * V + rank), where rank comes from a driver-side
    // sorted-distinct vocabulary pass (fixture vocabularies are small;
    // guarded below): an EXACT per-copy word bijection — zero collision
    // risk, within-copy shingle profile isomorphic to the source's,
    // cross-copy Jaccard 0, so edge count grows linearly with the
    // factor — with a constant 4 bytes per word regardless of factor,
    // copy index or source word length, so fixture bytes scale exactly
    // linearly with rows and a row-basis exponent IS the byte-basis
    // exponent. Chained passes compose safely: a second pass re-ranks
    // the first pass's tokens and re-encodes (a bijection of a
    // bijection), so nothing stacks and no cross-pass collision exists.
    require(!rest.contains("bounded"), "ScaleUp has no prefix-tag " +
      "'bounded' mode: use 'boundedconst' (byte-honest, no nonce, " +
      "composes across chained passes)")
    val boundedConst = rest.contains("boundedconst")
    val chainDocs = rest.filterNot(_ == "boundedconst").headOption
      .map(_.toInt).getOrElse(0)
    val spark = Harness.session(
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "CORRECTED")

    def copies(df: DataFrame, shiftCols: Seq[String],
               perCopy: (DataFrame, Int) => DataFrame = (d, _) => d)
        : DataFrame = {
      val shifts: Map[String, Long] = shiftCols.map { c =>
        val row = df.agg(max(col(c))).collect().head
        require(!row.isNullAt(0), s"empty table: cannot shift on $c")
        c -> (row.getLong(0) + 1L)
      }.toMap
      (0 until factor).map { i =>
        val shifted = shiftCols.foldLeft(df) { (d, c) =>
          d.withColumn(c, col(c) + lit(shifts(c) * i))
        }
        perCopy(shifted, i)
      }.reduce(_ unionByName _)
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    // dims: copy unchanged (facts reference them unshifted)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$inDir/$t.parquet"), t)
    }

    val orders = spark.read.parquet(s"$inDir/orders.parquet")
    write(copies(orders, Seq("o_orderkey")), "orders")

    val lineitem = spark.read.parquet(s"$inDir/lineitem.parquet")
    // cross-table shift consistency: orders and lineitem shift their
    // (shared) order key independently from each table's observed max —
    // if the maxes ever diverge (an order with no lineitems at the tail)
    // every copied lineitem would join the wrong order, silently
    val maxO = orders.agg(max(col("o_orderkey"))).collect().head.getLong(0)
    val maxL = lineitem.agg(max(col("l_orderkey"))).collect().head
      .getLong(0)
    require(maxO == maxL,
      s"orderkey max mismatch orders=$maxO lineitem=$maxL: shifted " +
        "copies would break the orders-lineitem join")
    write(copies(lineitem, Seq("l_orderkey")), "lineitem")

    // events: NANOS timestamps — must read via Tables.events' conf; keys
    // shift, timestamps stay (density grows, span fixed)
    val events = Tables.events(spark, inDir)
    write(copies(events, Seq("event_id")), "events")

    val documents = spark.read.parquet(s"$inDir/documents.parquet")
    // boundedconst: driver-side vocabulary ranking. 36^4 fixed-width
    // tokens bound copy*V+rank; the require keeps the encoding total.
    val constEnc: Option[org.apache.spark.sql.expressions
      .UserDefinedFunction] =
      if (!boundedConst) None
      else {
        val bcast = spark.sparkContext
          .broadcast(constVocabRank(documents, factor))
        // null-safe: the suffix mode passes a null text through via a
        // null-propagating SQL builtin; the UDF must match, or one
        // null-text document row crashes the whole scale-up in this
        // mode only
        Some(udf { (text: String, i: Int) =>
          if (text == null) null else constEncode(text, i, bcast.value)
        })
      }
    def perCopyText(d: DataFrame, i: Int): DataFrame =
      if (boundedConst) d
        .withColumn("text", constEnc.get(col("text"), lit(i)))
        .withColumn("n_chars", length(col("text")).cast("long"))
      else if (i == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" rep$i")))
    val docsScaled = copies(documents, Seq("doc_id"), perCopyText)
    val docsOut = if (chainDocs == 0) docsScaled else {
      // max scaled id DERIVED from the source max and the known copy
      // shift ((maxSrc+1) per copy) instead of an agg over docsScaled —
      // that agg recomputed the whole fan-out a second time before the
      // write, and getLong(0) on an empty input threw an opaque NPE
      val srcRow = documents.agg(max(col("doc_id"))).collect().head
      require(!srcRow.isNullAt(0),
        "empty documents input: cannot inject chain docs")
      val maxSrc = srcRow.getLong(0)
      val maxId = maxSrc + (maxSrc + 1L) * (factor - 1L)
      // smallest id > maxId with id % 11 == 3; step 11 keeps the whole
      // injected block inside the stratum, ids ascending
      val base = (maxId / 11 + 1) * 11 + 3
      val inject = spark.range(chainDocs.toLong).select(
          (lit(base) + col("id") * 11L).as("doc_id"),
          concat_ws(" ", (0 until 40).map(j =>
            concat(lit("chain"), col("id"), lit(s"w$j"))): _*).as("text"),
          lit("zh").as("lang"), lit("src0").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      docsScaled.unionByName(inject)
    }
    write(docsOut, "documents")

    val embeddings = spark.read.parquet(s"$inDir/embeddings.parquet")
    write(copies(embeddings, Seq("vec_id")), "embeddings")

    spark.stop()
  }
}
