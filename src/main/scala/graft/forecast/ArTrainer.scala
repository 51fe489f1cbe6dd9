package graft.forecast

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** X5/A5/K4: per-key ARIMA(p,d,q) trainer — the Spark-native re-expression
  * of the reference training job (analytical_module/arima.py:298-408:
  * per-symbol `auto_arima(max_p=5, max_q=5, seasonal=False)` on a 30 s
  * resampled, forward-filled series, last-30-point holdout, MAE/MAPE/MSE,
  * serialized bundle to object storage).
  *
  * Divergences (documented, SURVEY.md §7 risk 3): pmdarima's auto_arima is
  * not reproducible in-JVM; the same ARMA(p,q)-with-differencing model
  * FAMILY is fit library-free by the Hannan–Rissanen two-stage procedure
  * (Hannan & Rissanen, Biometrika 1982): stage 1 fits a long AR by OLS to
  * estimate the innovations, stage 2 regresses x_t on lagged values AND
  * lagged innovations — both stages are small normal-equation solves.
  * Order (d, p, q) is chosen by holdout MAE over the grid
  * d in [0, maxD], p in [1, maxP], q in [0, maxQ] (auto_arima's stepwise
  * AIC search replaced by the holdout the reference evaluates with
  * anyway). Statistical sanity is tested (holdout error, MA-term
  * recovery), not bitwise parity.
  *
  * Scale: `groupByKey(symbol).mapGroups` — one shuffle keyed by symbol
  * (uniform unless one key dominates), state O(series length) per group
  * only inside the group iterator, model output O(p+q) per key. This is
  * the typed, no-RDD-drop version of the reference's
  * `grouped.rdd.map(train_row)` (arima.py:486-498).
  */
object ArTrainer {

  final case class SeriesPoint(symbol: String, bucket: Timestamp,
      value: Double)
  final case class ArModel(symbol: String, p: Int, d: Int, q: Int,
      intercept: Double, coeffs: Array[Double], maCoeffs: Array[Double],
      n_train: Int, n_test: Int,
      mae: Double, mape: Double, mse: Double)

  /** Solve the symmetric linear system A x = b by Gaussian elimination
    * with partial pivoting (tiny p x p system — no library needed).
    */
  private def solve(a: Array[Array[Double]], b: Array[Double])
      : Option[Array[Double]] = {
    val n = b.length
    val m = Array.tabulate(n)(i => a(i) :+ b(i))
    for (col <- 0 until n) {
      val piv = (col until n).maxBy(r => math.abs(m(r)(col)))
      if (math.abs(m(piv)(col)) < 1e-12) return None
      val tmp = m(col); m(col) = m(piv); m(piv) = tmp
      for (r <- col + 1 until n) {
        val f = m(r)(col) / m(col)(col)
        for (c <- col to n) m(r)(c) -= f * m(col)(c)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = m(r)(n)
      for (c <- r + 1 until n) s -= m(r)(c) * x(c)
      x(r) = s / m(r)(r)
    }
    Some(x)
  }

  /** OLS fit of x_t = c + sum_j phi_j x_{t-j}; returns (c, phi). */
  def fitAr(series: Array[Double], p: Int): Option[(Double, Array[Double])] = {
    val n = series.length - p
    if (n <= p + 1) return None
    val dim = p + 1
    val ata = Array.fill(dim, dim)(0.0)
    val atb = Array.fill(dim)(0.0)
    for (t <- p until series.length) {
      val row = 1.0 +: Array.tabulate(p)(j => series(t - 1 - j))
      for (i <- 0 until dim) {
        atb(i) += row(i) * series(t)
        for (j <- 0 until dim) ata(i)(j) += row(i) * row(j)
      }
    }
    solve(ata, atb).map(x => (x(0), x.drop(1)))
  }

  /** In-sample residuals of an AR(m) fit, index-aligned with `series`
    * (first m entries 0 — no prediction exists there).
    */
  private def arResiduals(series: Array[Double], m: Int, c: Double,
                          phi: Array[Double]): Array[Double] = {
    val e = new Array[Double](series.length)
    for (t <- m until series.length) {
      var pred = c
      for (j <- 0 until m) pred += phi(j) * series(t - 1 - j)
      e(t) = series(t) - pred
    }
    e
  }

  /** Hannan–Rissanen two-stage OLS fit of ARMA(p,q):
    * x_t = c + Σ phi_j x_{t-j} + Σ theta_k e_{t-k} + e_t.
    * Stage 1 estimates the unobservable innovations e_t with a long
    * AR(max(p,q)+2); stage 2 is plain OLS on lagged values + lagged
    * stage-1 innovations. Returns (c, phi, theta, residuals aligned with
    * `series` and recomputed under the final model — the forecaster needs
    * the last q of them). q=0 degrades to [[fitAr]].
    */
  def fitArma(series: Array[Double], p: Int, q: Int)
      : Option[(Double, Array[Double], Array[Double], Array[Double])] = {
    if (q == 0)
      return fitAr(series, p).map { case (c, phi) =>
        (c, phi, Array.empty[Double], arResiduals(series, p, c, phi))
      }
    val m = math.max(p, q) + 2
    fitAr(series, m).flatMap { case (c1, phi1) =>
      val e1 = arResiduals(series, m, c1, phi1)
      val start = m + q
      val dim = 1 + p + q
      if (series.length - start <= dim + 1) None
      else {
        val ata = Array.fill(dim, dim)(0.0)
        val atb = Array.fill(dim)(0.0)
        for (t <- start until series.length) {
          val row = new Array[Double](dim)
          row(0) = 1.0
          for (j <- 0 until p) row(1 + j) = series(t - 1 - j)
          for (k <- 0 until q) row(1 + p + k) = e1(t - 1 - k)
          for (i <- 0 until dim) {
            atb(i) += row(i) * series(t)
            var j = 0
            while (j < dim) { ata(i)(j) += row(i) * row(j); j += 1 }
          }
        }
        solve(ata, atb).map { x =>
          val c = x(0)
          val phi = x.slice(1, 1 + p)
          val theta = x.slice(1 + p, dim)
          // residuals under the FINAL model (not the stage-1 proxy):
          // filtered forward with the model's own past residuals
          val e = new Array[Double](series.length)
          for (t <- start until series.length) {
            var pred = c
            for (j <- 0 until p) pred += phi(j) * series(t - 1 - j)
            for (k <- 0 until q) pred += theta(k) * e(t - 1 - k)
            e(t) = series(t) - pred
          }
          (c, phi, theta, e)
        }
      }
    }
  }

  /** Multi-step recursive ARMA forecast: future innovations are their
    * expectation (0), known trailing residuals feed the first q steps.
    */
  def forecastArma(c: Double, phi: Array[Double], theta: Array[Double],
                   history: Array[Double], residuals: Array[Double],
                   steps: Int): Array[Double] = {
    val xs = history.takeRight(math.max(phi.length, 1)).reverse.toBuffer
    val es = residuals.takeRight(math.max(theta.length, 1)).reverse.toBuffer
    Array.fill(steps) {
      var next = c
      for (j <- phi.indices if j < xs.length) next += phi(j) * xs(j)
      for (k <- theta.indices if k < es.length) next += theta(k) * es(k)
      xs.prepend(next)
      es.prepend(0.0) // E[e_future] = 0
      next
    }
  }

  /** First difference (d=1 working series). */
  private def diff1(xs: Array[Double]): Array[Double] =
    Array.tabulate(xs.length - 1)(i => xs(i + 1) - xs(i))

  private def metrics(actual: Array[Double], pred: Array[Double])
      : (Double, Double, Double) = {
    val n = actual.length
    val errs = actual.zip(pred).map { case (a, p) => a - p }
    val mae = errs.map(math.abs).sum / n
    val mse = errs.map(e => e * e).sum / n
    val mape = actual.zip(pred).map { case (a, p) =>
      math.abs((a - p) / math.max(math.abs(a), 1e-8)) }.sum / n * 100
    (mae, mape, mse)
  }

  /** Fit + holdout-evaluate one (d, p, q) candidate: difference d times,
    * Hannan–Rissanen fit, recursive forecast (integrated back to levels
    * for d=1), error metrics on the level-scale holdout.
    */
  private def fitCandidate(sym: String, trainArr: Array[Double],
      testArr: Array[Double], d: Int, p: Int, q: Int): Option[ArModel] = {
    val work = if (d == 0) trainArr else diff1(trainArr)
    fitArma(work, p, q).map { case (c, phi, theta, resid) =>
      val predW = forecastArma(c, phi, theta, work, resid, testArr.length)
      val pred =
        if (d == 0) predW
        else { // integrate forecast differences from the last level
          var lvl = trainArr.last
          predW.map { dx => lvl += dx; lvl }
        }
      val (mae, mape, mse) = metrics(testArr, pred)
      ArModel(sym, p, d, q, c, phi, theta, trainArr.length, testArr.length,
        mae, mape, mse)
    }
  }

  /** Train one model per symbol over a regularized (resampled+ffilled)
    * series — input from TimeSeriesOps.resampleLastFfill. Holdout = last
    * `holdout` points (reference default 30, min train 50). Order search:
    * d in [0, maxD] (maxD <= 1), p in [1, maxP], q in [0, maxQ], best
    * holdout MAE wins; ties go to the simpler model (fewer d+p+q, then
    * fewer MA terms) so results are deterministic.
    */
  def train(series: Dataset[SeriesPoint], holdout: Int = 30, maxP: Int = 3,
            maxQ: Int = 2, maxD: Int = 1,
            minTrain: Int = 50): Dataset[ArModel] = {
    implicit val enc = Encoders.product[ArModel]
    val dMax = math.min(maxD, 1)
    series.groupByKey(_.symbol)(Encoders.STRING).mapGroups { (sym, it) =>
      val xs = it.toArray.sortBy(_.bucket.getTime).map(_.value)
      val (trainArr, testArr) = xs.splitAt(math.max(xs.length - holdout, 0))
      def emptyModel = ArModel(sym, 0, 0, 0, 0.0, Array.empty, Array.empty,
        trainArr.length, testArr.length,
        Double.NaN, Double.NaN, Double.NaN)
      if (trainArr.length < minTrain || testArr.isEmpty) emptyModel
      else {
        val candidates = for {
          d <- 0 to dMax
          p <- 1 to maxP
          q <- 0 to maxQ
          m <- fitCandidate(sym, trainArr, testArr, d, p, q)
        } yield m
        if (candidates.isEmpty) emptyModel
        else candidates.minBy(m => (m.mae, m.d + m.p + m.q, m.q))
      }
    }
  }

  /** K4: model bundle persistence — parquet on shared storage replaces the
    * reference's joblib-to-GCS upload (arima.py:547-553); the streaming
    * forecaster initializes per-key state from this bundle like
    * ArimaForecastFn.setup() lazily loads it (stream_join.py:355-368).
    */
  def saveBundle(models: Dataset[ArModel], path: String): Unit =
    models.write.mode("overwrite").parquet(path)

  def loadBundle(spark: SparkSession, path: String): Dataset[ArModel] = {
    implicit val enc = Encoders.product[ArModel]
    spark.read.parquet(path).as[ArModel]
  }

  /** Deterministic synthetic AR(2) fixture series — the trainer's
    * metric-envelope oracle harness (the same trick that oracle-hardened
    * the t-digest entry): a series whose GENERATING process is known lets
    * the catalog emit exact booleans ("recovered order == generating
    * order", "holdout MAE within the analytic envelope") that DuckDB can
    * pin as constants, instead of raw floats no SQL engine can replay.
    *
    * x_t = c + phi1·x_{t-1} + phi2·x_{t-2} + e_t, seeded at the process
    * mean c/(1-phi1-phi2); innovations are a salted-md5 hash coin
    * e_t = ((u32(md5("sym|t")) mod 2001) - 1000)/1000 · sigma — uniform
    * in [-sigma, sigma], a pure function of (symbol, t), so the series
    * (and therefore every trained coefficient) is bit-identical on any
    * engine, layout, or scale factor.
    *
    * Envelope math (why "MAE <= 6·sigma" is analytic, not tuned): for
    * the TRUE model the h-step forecast error is sum_{j<h} psi_j·e_{t+j}
    * with psi the AR(2) impulse weights, so |error| <= sigma·sum|psi_j|
    * <= sigma/(1 - |phi1| - |phi2|) = 5·sigma at (0.5, -0.3). The grid
    * winner's holdout MAE is <= the AR(2) candidate's, whose own MAE
    * differs from the true model's only by O(coef-estimation) slack —
    * one extra sigma covers it with margin.
    */
  def syntheticAr2(sym: String, n: Int, phi1: Double, phi2: Double,
                   c: Double, sigma: Double): IndexedSeq[(Int, Double)] = {
    require(math.abs(phi1) + math.abs(phi2) < 1.0, "stationarity")
    val md = java.security.MessageDigest.getInstance("MD5")
    def innov(t: Int): Double = {
      val h = md.digest(s"$sym|$t".getBytes("UTF-8"))
      val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      ((u % 2001L) - 1000L).toDouble / 1000.0 * sigma
    }
    val mean = c / (1.0 - phi1 - phi2)
    val xs = new Array[Double](n)
    for (t <- 0 until n) {
      val x1 = if (t >= 1) xs(t - 1) else mean
      val x2 = if (t >= 2) xs(t - 2) else mean
      xs(t) = c + phi1 * x1 + phi2 * x2 + innov(t)
    }
    (0 until n).map(t => (t, xs(t)))
  }

  /** Convenience: events-shaped DataFrame -> regularized series -> models. */
  def trainFromEvents(df: DataFrame, timeCol: String, keyCol: String,
                      valCol: String, stepSeconds: Int,
                      holdout: Int = 30): Dataset[ArModel] = {
    import graft.ops.TimeSeriesOps
    val reg = TimeSeriesOps
      .resampleLastFfill(df, timeCol, keyCol, valCol, stepSeconds)
      .select(col(keyCol).as("symbol"), col("bucket"),
        col("value_ffill").as("value"))
      .filter(col("value").isNotNull)
    implicit val enc = Encoders.product[SeriesPoint]
    train(reg.as[SeriesPoint])
  }
}
