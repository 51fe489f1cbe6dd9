package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Technical-analysis indicator snapshot — the compute twin of the
  * reference's TA record type (coincap/main.py:97-108, README.md:150-163):
  * per symbol, one row carrying `sma`, `rsi`, `macd`/`macd_signal`/
  * `macd_hist` and `vwap24` at the latest observation, derived from the
  * symbol's full price/volume history. The reference fetches these values
  * from an external TA API and only ever publishes the latest snapshot
  * per poll (its simulation clamps RSI to [0, 100],
  * coincap-simulation/main.py:159-170 — we keep the clamp); this operator
  * computes the same record shape from raw ticks.
  *
  * Indicator conventions (the API's internals are a black box, so the
  * algebra is pinned here — the documented-swap pattern used for the
  * sentiment lexicon and auto_arima):
  *   - SMA-N: arithmetic mean of the last N prices.
  *   - EMA (MACD fast/slow and the signal line): `s_1 = x_1`,
  *     `s_i = a·x_i + (1−a)·s_{i−1}` with `a = 2/(span+1)` — pandas
  *     `ewm(span, adjust=False)`. MACD = EMA_fast − EMA_slow; the signal
  *     line is the EMA of the MACD series itself (seeded at MACD_1 = 0);
  *     hist = MACD − signal.
  *   - RSI-N (Wilder): up/down moves `u_i = max(Δ_i, 0)`,
  *     `d_i = max(−Δ_i, 0)`; both smoothed with `a = 1/N`,
  *     `adjust=False`, seeded at the FIRST delta. RSI = 100 − 100/(1+RS),
  *     RS = avgU/avgD; avgD = 0 → 100 when avgU > 0, NULL when the series
  *     never moved; clamped to [0, 100].
  *   - VWAP-24h: Σ(p·vol)/Σ(vol) over ticks within 24 h of the symbol's
  *     latest tick.
  *
  * Scale shape: the recursions are non-associative, so this is the same
  * collect-then-fold fan-in as [[TimeSeriesOps.ewmaLast]] — ONE shuffle to
  * group each symbol's series, then one left-to-right fold in the native
  * `ta_fold` kernel ([[graft.functions.TaFoldKernel]]) whose state holds
  * every recursive variable (prev price, both MACD EMAs, the signal EMA,
  * both Wilder averages), so the whole indicator family costs one pass
  * over each series. Per-symbol history must fit an executor (2M points ≈
  * 48 MB — comfortably true for per-symbol tick history). The fold runs
  * left-to-right in double, so results are bit-comparable across engines;
  * the element struct is the SAME type as the accumulator so DuckDB's
  * `list_reduce` (which seeds from the first element) replays the
  * identical op sequence.
  */
object TaOps {

  /** One TA snapshot row per key:
    * (key, ts_last, n_points, sma, rsi, macd, macd_signal, macd_hist,
    * vwap24). All indicator columns rounded to 6.
    */
  def taSnapshot(df: DataFrame, keyCol: String, tsCol: String,
                 priceCol: String, volCol: String,
                 smaN: Int = 20, rsiN: Int = 14,
                 fast: Int = 12, slow: Int = 26, signalN: Int = 9,
                 vwapHours: Int = 24): DataFrame = {
    require(smaN >= 1 && rsiN >= 1 && vwapHours >= 1, "periods must be >= 1")
    require(fast >= 1 && slow > fast && signalN >= 1,
      s"need 1 <= fast < slow (got fast=$fast slow=$slow)")
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

    // r18 optimization: the per-series fold runs as ONE native codegen'd
    // kernel call ([[graft.functions.TaFoldKernel.taFold]]) instead of
    // the interpreted Catalyst transform/aggregate/filter chain below
    // (higher-order lambdas evaluate interpreted, allocating a 6-field
    // struct per element — measured ~1.1 s single-task wall per snapshot
    // at sf0.1, vs ~30 ms for the kernel; the fold is the operator's
    // whole per-byte cost at scale). Op order, three-valued null logic,
    // `greatest` null/NaN rules, the 0.0 fold inits and the VWAP window
    // predicate are replicated exactly — the declarative twin is kept
    // test-side (ParityTwins.taSnapshotDeclarative) and TaOpsSpec pins
    // equality row-for-row; the DuckDB oracle replay is unchanged.
    val fold = graft.functions.TaFoldFunctions.ta_fold(series,
      aF, aS, aG, aW, smaN, vwapHours * 3600000000L)
    val withF = collected.withColumn("_f", fold)
    val smaLen = least(n, lit(smaN))
    val lastT = element_at(series, -1).getField("t")
    val au = col("_f").getField("au")
    val ad = col("_f").getField("ad")
    val rsi = when(au.isNull, lit(null).cast("double"))
      .when(ad === 0.0 && au === 0.0, lit(null).cast("double"))
      .when(ad === 0.0, lit(100.0))
      .otherwise(least(greatest(
        lit(100.0) - lit(100.0) / (lit(1.0) + au / ad), lit(0.0)),
        lit(100.0)))
    val macd = col("_f").getField("ef") - col("_f").getField("es")
    val sig = col("_f").getField("sig")
    withF.select(
      col(keyCol),
      lastT.as("ts_last"),
      n.cast("long").as("n_points"),
      round(col("_f").getField("sma_sum") / smaLen, 6).as("sma"),
      round(rsi, 6).as("rsi"),
      round(macd, 6).as("macd"),
      round(sig, 6).as("macd_signal"),
      round(macd - sig, 6).as("macd_hist"),
      round(col("_f").getField("sum_pv") /
        nullif(col("_f").getField("sum_w"), lit(0.0)), 6).as("vwap24"))
  }
}
