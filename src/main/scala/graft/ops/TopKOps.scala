package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending,
  SortOrder}
import org.apache.spark.sql.graftbridge.Bridge

import graft.plans.{TopKPerGroup, TopKPerGroupStrategy}

/** Per-group top-k (SURVEY.md §2.7 O1-O3 "leaderboard" shape) through the
  * custom [[graft.plans.TopKPerGroup]] plan: map-side bounded heaps,
  * shuffle only the per-partition survivors, re-heap per group — instead
  * of the window-function spelling's full shuffle + full sort of every
  * row. Results are identical (TopKPlanSpec pins parity against the
  * row_number twin, `ParityTwins.windowTopK`); the plan is what changes.
  */
object TopKOps {

  /** Top `k` rows of each group, smallest-first under (`orderCol`
    * asc|desc, `tieCol` asc). The tiebreak column makes the result set
    * deterministic when `orderCol` has duplicates. Output schema = input
    * schema (rows pass through unchanged).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
                   descending: Boolean, tieCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    Bridge.ensureStrategy(spark, TopKPerGroupStrategy)
    val plan = df.queryExecution.analyzed
    def attr(n: String) = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column '$n' not in ${plan.output.map(_.name).mkString(", ")}"))
    val ord = Seq(
      SortOrder(attr(orderCol), if (descending) Descending else Ascending),
      SortOrder(attr(tieCol), Ascending))
    Bridge.ofRows(spark, TopKPerGroup(groupCols.map(attr), ord, k, plan))
  }
}
