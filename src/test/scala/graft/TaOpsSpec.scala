package graft

import java.sql.Timestamp
import graft.ops.TaOps

/** TA-indicator snapshot semantics (TaOps scaladoc conventions):
  * EMA/Wilder recursions replayed by an independent plain-Scala loop,
  * plus the degenerate series edge cases the fold must survive.
  */
class TaOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  private def snap(rows: Seq[(String, Timestamp, Double, Double)],
                   vwapHours: Int = 24) =
    TaOps.taSnapshot(rows.toDF("sym", "t", "p", "vol"),
        "sym", "t", "p", "vol", vwapHours = vwapHours)
      .collect().map(r => r.getString(0) -> r).toMap

  test("EMA chain and Wilder RSI match an independent scalar replay") {
    val prices = Seq(10.0, 12.0, 11.0, 15.0, 9.0, 14.0, 13.5)
    val rows = prices.zipWithIndex.map { case (p, i) =>
      ("btc", ts(i), p, 2.0 + i)
    }
    // independent replay of the documented recursions
    val aF = 2.0 / 13; val aS = 2.0 / 27; val aG = 2.0 / 10
    val aW = 1.0 / 14
    var ef = prices.head; var es = prices.head; var sig = 0.0
    var au = Option.empty[Double]; var ad = Option.empty[Double]
    var prev = prices.head
    prices.tail.foreach { p =>
      ef = aF * p + (1 - aF) * ef
      es = aS * p + (1 - aS) * es
      sig = aG * (ef - es) + (1 - aG) * sig
      val u = math.max(p - prev, 0.0); val d = math.max(prev - p, 0.0)
      au = Some(au.fold(u)(a => aW * u + (1 - aW) * a))
      ad = Some(ad.fold(d)(a => aW * d + (1 - aW) * a))
      prev = p
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = snap(rows)("btc")
    assert(out.getAs[Long]("n_points") === prices.length)
    assert(out.getAs[Double]("macd") === r6(ef - es))
    assert(out.getAs[Double]("macd_signal") === r6(sig))
    assert(out.getAs[Double]("macd_hist") === r6((ef - es) - sig))
    val expectedRsi = 100.0 - 100.0 / (1 + au.get / ad.get)
    assert(out.getAs[Double]("rsi") === r6(expectedRsi))
    assert(out.getAs[Double]("sma") === r6(prices.sum / prices.length))
    val pv = rows.map(r => r._3 * r._4).sum
    assert(out.getAs[Double]("vwap24") === r6(pv / rows.map(_._4).sum))
    assert(out.getAs[Timestamp]("ts_last") === ts(prices.length - 1))
  }

  test("single-point series: indicators at rest, RSI undefined") {
    val out = snap(Seq(("x", ts(0), 42.0, 3.0)))("x")
    assert(out.getAs[Long]("n_points") === 1L)
    assert(out.getAs[Double]("sma") === 42.0)
    assert(out.isNullAt(out.fieldIndex("rsi")))
    assert(out.getAs[Double]("macd") === 0.0)
    assert(out.getAs[Double]("macd_signal") === 0.0)
    assert(out.getAs[Double]("macd_hist") === 0.0)
    assert(out.getAs[Double]("vwap24") === 42.0)
  }

  test("flat series: RSI undefined (never moved); monotone rise: RSI 100") {
    val flat = (0 until 5).map(i => ("flat", ts(i), 7.0, 1.0))
    val up = (0 until 5).map(i => ("up", ts(i), 10.0 + i, 1.0))
    val out = snap(flat ++ up)
    assert(out("flat").isNullAt(out("flat").fieldIndex("rsi")))
    assert(out("flat").getAs[Double]("macd") === 0.0)
    assert(out("up").getAs[Double]("rsi") === 100.0)
  }

  test("VWAP window drops ticks older than the trailing window") {
    // 1-hour window: first tick 2h before the last -> excluded
    val rows = Seq(
      ("y", Timestamp.valueOf("2024-01-01 00:00:00"), 100.0, 10.0),
      ("y", Timestamp.valueOf("2024-01-01 01:30:00"), 10.0, 1.0),
      ("y", Timestamp.valueOf("2024-01-01 02:00:00"), 20.0, 3.0))
    val out = snap(rows, vwapHours = 1)("y")
    assert(out.getAs[Double]("vwap24") === (10.0 * 1 + 20.0 * 3) / 4.0)
  }

  test("zero total volume in the window yields NULL vwap") {
    val rows = Seq(("z", ts(0), 5.0, 0.0), ("z", ts(1), 6.0, 0.0))
    val out = snap(rows)("z")
    assert(out.isNullAt(out.fieldIndex("vwap24")))
  }

  test("native ta_fold kernel matches the declarative fold row-for-row, " +
       "including null volumes, a cutting VWAP window, flat / monotone / " +
       "single-point series") {
    // r18 parity pin: taSnapshot moved from the interpreted Catalyst
    // transform/aggregate/filter fold to TaFoldKernel; the old fold is
    // kept as ParityTwins.taSnapshotDeclarative and must agree
    // bit-for-bit — including the three-valued-logic poison a null
    // volume injects into the VWAP sums (the reference's
    // get_json_object-missing case).
    val rows: Seq[(String, Timestamp, Double, java.lang.Double)] = Seq(
      ("a", ts(0), 10.0, java.lang.Double.valueOf(2.0)),
      ("a", ts(1), 12.0, null),
      ("a", ts(2), 11.0, java.lang.Double.valueOf(1.5)),
      ("a", ts(3), 15.0, java.lang.Double.valueOf(4.0)),
      ("b", Timestamp.valueOf("2024-01-01 00:00:00"), 100.0,
        java.lang.Double.valueOf(10.0)),
      ("b", Timestamp.valueOf("2024-01-02 05:00:00"), 10.0,
        java.lang.Double.valueOf(1.0)),
      ("b", Timestamp.valueOf("2024-01-02 06:00:00"), 20.0,
        java.lang.Double.valueOf(3.0)),
      ("c", ts(0), 7.0, java.lang.Double.valueOf(1.0)),
      ("c", ts(1), 7.0, java.lang.Double.valueOf(1.0)),
      ("d", ts(5), 42.0, java.lang.Double.valueOf(3.0))) ++
      (0 until 40).map(i => ("e", ts(i), 10.0 + (i % 7) * 1.3 - (i % 3),
        java.lang.Double.valueOf(1.0 + i)))
    val df = rows.toDF("sym", "t", "p", "vol")
    def dump(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getString(0) ->
        (1 until r.length).map(i =>
          if (r.isNullAt(i)) null else r.get(i)).toList).toMap
    val kernel = dump(TaOps.taSnapshot(df, "sym", "t", "p", "vol"))
    val declarative = dump(
      ParityTwins.taSnapshotDeclarative(df, "sym", "t", "p", "vol"))
    assert(kernel === declarative)
    // the null vol poisons symbol a's vwap (null * price nulls the sum)
    assert(kernel("a").last == null)
  }
}
