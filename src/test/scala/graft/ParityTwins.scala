package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Rebalance

/** Declarative twins of the native kernels and the custom TopK plan: the
  * built-in-only spellings each kernel replaced, kept only so the parity
  * specs (TextHashExprSpec, TaOpsSpec, TopKPlanSpec, DedupSimSpec) can
  * pin the kernel against them. No operator calls them.
  */
object ParityTwins {

  // --- dedup hash signatures (DedupOps) ----------------------------------

  /** Word n-gram shingles (sorted distinct array). */
  def wordShingles(textCol: String, n: Int): Column = {
    val words = split(col(textCol), " ")
    val idx = sequence(lit(0), greatest(size(words) - n, lit(0)))
    array_sort(array_distinct(transform(idx, i =>
      concat_ws(" ", slice(words, i + 1, lit(n))))))
  }

  /** Declarative MinHash twin (explode + groupBy-min): keeps every md5
    * projection and the min aggregate in whole-stage codegen with partial
    * aggregation, at the cost of materializing the shingle explode and one
    * shuffle. It is the form a SQL-only user would write.
    */
  def minhashSignaturesDeclarative(docs: DataFrame, idCol: String,
                                   textCol: String, shingleWords: Int,
                                   k: Int): DataFrame = {
    val exploded = Rebalance(docs).select(col(idCol),
      explode(wordShingles(textCol, shingleWords)).as("s"))
    val mins = (0 until k).map(i =>
      min(md5(concat(lit(i.toString), lit("|"), col("s")))).as(s"m$i"))
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Declarative winnowing twin (posexplode + window-min): the
    * oracle-shaped reference implementation the native kernel must match
    * fingerprint-for-fingerprint (TextHashExprSpec parity). It is the
    * form a SQL-only user would write; costs a shuffle + window pass
    * the kernel doesn't.
    *
    * Hard-won structure notes: the gram array expression must be
    * referenced EXACTLY once (a sibling `size(gramArr)` in the explode's
    * select re-evaluates the interpreted transform per OUTPUT row — O(L²)
    * per doc, measured 20×); full-window detection reuses the sliding
    * frame itself (`count` over the SAME window spec as the min shares
    * one WindowExec); a lead()-built gram variant measured slower than
    * the transform lambda.
    */
  def winnowFingerprintsDeclarative(
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 4, w: Int = 4): DataFrame = {
    val words = split(col(textCol), " ")
    val gramArr = transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(n))))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, w - 1)
    Rebalance(docs)
      .select(col(idCol), posexplode(gramArr).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"),
        concat(substring(md5(col("g")), 1, 15),
          lpad(col("pos").cast("string"), 8, "0")).as("key"))
      .withColumn("sel", min(col("key")).over(win))
      .withColumn("frame_n", count(lit(1)).over(win))
      // full windows only; pos 0 also kept so a short doc (fewer than w
      // grams) still fingerprints from its one truncated window
      .filter(col("frame_n") === w || col("pos") === 0)
      .select(col(idCol), substring(col("sel"), 1, 15).as("fp"))
      .distinct()
  }

  /** Declarative SimHash twin (explode + 64 bit-vote sums): pure built-in
    * algebra, one shuffle. The 64-bit hash is assembled from the md5 hex
    * in two 32-bit halves (`conv` parses each half exactly; a single
    * 16-char parse would overflow signed long). The native kernel must
    * reproduce it bit-for-bit.
    */
  def simhashDeclarative(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", shingleWords: Int = 2): DataFrame = {
    val hx = md5(col("s"))
    val hi = conv(substring(hx, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hx, 9, 8), 16, 10).cast("long")
    val exploded = Rebalance(docs)
      .select(col(idCol),
        explode(wordShingles(textCol, shingleWords)).as("s"))
      .withColumn("_h", shiftleft(hi, 32).bitwiseOR(lo))
    val bitVotes = (0 until 64).map { b =>
      val bit = shiftrightunsigned(col("_h"), b).bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"bit_$b")
    }
    val votes = exploded.groupBy(col(idCol))
      .agg(bitVotes.head, bitVotes.tail: _*)
    val sig = (0 until 64)
      .map(b => when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    votes.select(col(idCol), sig.as("simhash"))
  }

  // --- document fingerprint (TextOps) ------------------------------------

  /** Character shingles as an array column. */
  def charShingles(textCol: String, shingle: Int): Column = expr(
    s"transform(sequence(1, greatest(length($textCol) - ${shingle - 1}, 1))," +
    s" i -> substring($textCol, i, $shingle))")

  /** Declarative fingerprint twin (explode + groupBy min/max over
    * `md5(shingle)`): the SQL-shaped reference implementation, identical
    * to the DuckDB oracle. */
  def fingerprintDeclarative(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", shingle: Int = 8): DataFrame =
    Rebalance(df)
      .select(col(idCol), explode(charShingles(textCol, shingle)).as("s"))
      .groupBy(col(idCol))
      .agg(min(md5(col("s"))).as("fp_min"), max(md5(col("s"))).as("fp_max"))

  // --- TA snapshot (TaOps) ----------------------------------------------

  /** The pre-r18 declarative fold, verbatim: the oracle-shaped reference
    * implementation the native kernel must match row-for-row (TaOpsSpec).
    */
  def taSnapshotDeclarative(df: DataFrame, keyCol: String,
                 tsCol: String, priceCol: String, volCol: String,
                 smaN: Int = 20, rsiN: Int = 14,
                 fast: Int = 12, slow: Int = 26, signalN: Int = 9,
                 vwapHours: Int = 24): DataFrame = {
    val aF = 2.0 / (fast + 1)
    val aS = 2.0 / (slow + 1)
    val aG = 2.0 / (signalN + 1)
    val aW = 1.0 / rsiN

    val collected = df.groupBy(col(keyCol)).agg(
      array_sort(collect_list(struct(
        col(tsCol).as("t"),
        col(priceCol).cast("double").as("v"),
        col(volCol).cast("double").as("w")))).as("series"))
    val series = col("series")
    val n = size(series)

    // fold element == accumulator struct: prev carries the element's own
    // price on input and the last-seen price inside the accumulator, so
    // the first element IS the init state (ef/es seeded at x_1, signal at
    // MACD_1 = 0, Wilder averages null until the first delta)
    def foldElem(v: Column): Column = struct(
      v.as("prev"), v.as("ef"), v.as("es"), lit(0.0).as("sig"),
      lit(null).cast("double").as("au"), lit(null).cast("double").as("ad"))
    val elems = transform(series, e => foldElem(e.getField("v")))
    val folded = aggregate(
      slice(elems, lit(2), n - 1),
      element_at(elems, 1),
      (acc, x) => {
        val v = x.getField("prev")
        // spelled as two subtractions (not u = max(d,0), dn = max(-d,0)):
        // b-a and -(a-b) differ in sign on a == b, and the oracle replays
        // these exact ops
        val u = greatest(v - acc.getField("prev"), lit(0.0))
        val dn = greatest(acc.getField("prev") - v, lit(0.0))
        val ef = lit(aF) * v + lit(1 - aF) * acc.getField("ef")
        val es = lit(aS) * v + lit(1 - aS) * acc.getField("es")
        val m = ef - es
        val sg = lit(aG) * m + lit(1 - aG) * acc.getField("sig")
        val au = when(acc.getField("au").isNull, u)
          .otherwise(lit(aW) * u + lit(1 - aW) * acc.getField("au"))
        val ad = when(acc.getField("ad").isNull, dn)
          .otherwise(lit(aW) * dn + lit(1 - aW) * acc.getField("ad"))
        struct(v.as("prev"), ef.as("ef"), es.as("es"), sg.as("sig"),
          au.as("au"), ad.as("ad"))
      })

    // SMA over the last min(n, smaN) prices: left fold from 0.0 — IEEE
    // 0.0 + x == x, so DuckDB's init-from-first-element reduce matches
    val smaLen = least(n, lit(smaN))
    val smaSlice = slice(series, greatest(n - smaN + 1, lit(1)), smaLen)
    val smaSum = aggregate(smaSlice, lit(0.0),
      (acc, e) => acc + e.getField("v"))

    // VWAP over ticks within vwapHours of the latest tick
    val lastT = element_at(series, -1).getField("t")
    val cutoff = lastT - expr(s"INTERVAL $vwapHours HOURS")
    val recent = filter(series, e => e.getField("t") >= cutoff)
    val sumPV = aggregate(recent, lit(0.0),
      (acc, e) => acc + e.getField("v") * e.getField("w"))
    val sumW = aggregate(recent, lit(0.0),
      (acc, e) => acc + e.getField("w"))

    val au = folded.getField("au")
    val ad = folded.getField("ad")
    val rsi = when(au.isNull, lit(null).cast("double"))
      .when(ad === 0.0 && au === 0.0, lit(null).cast("double"))
      .when(ad === 0.0, lit(100.0))
      .otherwise(least(greatest(
        lit(100.0) - lit(100.0) / (lit(1.0) + au / ad), lit(0.0)),
        lit(100.0)))
    val macd = folded.getField("ef") - folded.getField("es")
    val sig = folded.getField("sig")

    collected.select(
      col(keyCol),
      lastT.as("ts_last"),
      n.cast("long").as("n_points"),
      round(smaSum / smaLen, 6).as("sma"),
      round(rsi, 6).as("rsi"),
      round(macd, 6).as("macd"),
      round(sig, 6).as("macd_signal"),
      round(macd - sig, 6).as("macd_hist"),
      round(sumPV / nullif(sumW, lit(0.0)), 6).as("vwap24"))
  }

  // --- per-group top-k (TopKOps) ----------------------------------------

  /** The declarative twin — row_number over a window — that
    * `TopKOps.topKPerGroup` must match row for row. */
  def windowTopK(df: DataFrame, groupCols: Seq[String], orderCol: String,
                 descending: Boolean, tieCol: String, k: Int): DataFrame = {
    val o = if (descending) col(orderCol).desc else col(orderCol).asc
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(o, col(tieCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k).drop("_rn")
  }
}
