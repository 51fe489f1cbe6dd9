package graft

/** Executed-plan dump: runs the named catalog queries (all of them with no
  * args) to the `noop` sink on the SPARK_GRAFT_SF_DIR fixture (default
  * sf0.001) and prints every query execution each one ran, in order,
  * with its final (post-AQE) physical plan and observed metrics. That
  * includes the eager checkpoints and collects inside operators —
  * every CC round, every trainer checkpoint — so the dump audits
  * pushdown, broadcast choice and codegen coverage on the plans that
  * actually executed.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = Harness.session()
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n======== $name ========")
      try {
        val (_, runs) = ExecutedPlans.capture(spark) {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        runs.zipWithIndex.foreach { case (r, i) =>
          println(s"---- [${i + 1}/${runs.size}] ${r.action}")
          r.observed.foreach { case (k, row) => println(s"observed $k: $row") }
          println(r.plan.treeString)
        }
      } catch { case e: Throwable => println(s"run failed: $e") }
      // one query's caches and checkpoint blocks never color the next plan
      Harness.releaseStorage(spark)
    }
    spark.stop()
  }
}
