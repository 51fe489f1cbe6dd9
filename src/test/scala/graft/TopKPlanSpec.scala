package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.TopKOps

/** The custom TopKPerGroup plan (bounded heaps around one shuffle) must
  * return exactly the window-function spelling's rows, and its physical
  * plan must contain the two heap stages and NO window/global-sort — the
  * whole point is not sorting the discarded rows.
  */
class TopKPlanSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val gen = for {
    n <- Gen.choose(0, 400)
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.choose(0, 7), Gen.choose(0L, 50L), Gen.choose(-100, 100)))
  } yield rows.zipWithIndex.map { case ((g, v, t), i) =>
    (s"g$g", v.toDouble, i.toLong, t) }

  test("property: heap top-k equals window row_number top-k") {
    samples(gen, 6).foreach { rows =>
      val df = rows.toDF("grp", "value", "id", "extra")
      for (k <- Seq(1, 3, 10); desc <- Seq(true, false)) {
        val a = TopKOps.topKPerGroup(df, Seq("grp"), "value", desc, "id", k)
          .collect().map(_.toSeq).sortBy(_.toString)
        val b = ParityTwins.windowTopK(df, Seq("grp"), "value", desc, "id", k)
          .collect().map(_.toSeq).sortBy(_.toString)
        assert(a.toSeq === b.toSeq, s"k=$k desc=$desc")
      }
    }
  }

  test("plan has partial+final heap stages, no Window, no global Sort") {
    val df = (0 until 1000).map(i => (s"g${i % 5}", i.toDouble, i.toLong))
      .toDF("grp", "value", "id")
    val out = TopKOps.topKPerGroup(df, Seq("grp"), "value", true, "id", 3)
    assert(out.count() === 15)
    // AQE wraps the plan in a leaf AdaptiveSparkPlanExec, so assert on
    // the rendered tree (shows the post-execution final plan)
    val s = out.queryExecution.executedPlan.toString
    assert("TopKPerGroup".r.findAllIn(s).size >= 2,
      s"expected partial+final TopKPerGroupExec in:\n$s")
    assert(s.contains("Exchange") || s.contains("ShuffleQueryStage"),
      s"expected one shuffle between the heap stages in:\n$s")
    assert(!s.contains("Window"), s"window crept back in:\n$s")
    assert(!s.contains("Sort "), s"sort crept back in:\n$s")
  }

  test("duplicate order values resolve deterministically via tiebreak") {
    val df = Seq(("g", 5.0, 3L), ("g", 5.0, 1L), ("g", 5.0, 2L),
      ("g", 9.0, 9L)).toDF("grp", "value", "id")
    val ids = TopKOps.topKPerGroup(df, Seq("grp"), "value", true, "id", 2)
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 9L)) // 9.0 first, then 5.0 with min id
  }

  test("heap memory stays bounded on one giant group") {
    // 200k rows, ONE group: the window spelling sorts all 200k in one
    // task; the heap keeps k=5 rows per partition. This passing quickly
    // (and the plan assert above) is the scale argument in miniature.
    val df = spark.range(200000L)
      .select(lit("g").as("grp"), (col("id") % 99991L).cast("double")
        .as("value"), col("id"))
    // ids 0..199999 mod 99991 hit each value in 0..99990 twice (the top
    // values at id and id+99991), so the top-5 rows pair up: 99990 x2,
    // 99989 x2, 99988
    val top = TopKOps.topKPerGroup(df, Seq("grp"), "value", true, "id", 5)
      .select("value").as[Double].collect().sorted.reverse
    assert(top.toSeq === Seq(99990.0, 99990.0, 99989.0, 99989.0, 99988.0))
  }
}
