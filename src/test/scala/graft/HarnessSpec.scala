package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** The measurement session's conf list and the per-entry scheduler
  * counters Bench records. */
class HarnessSpec extends SparkSpec {

  test("in-process master: UTC, non-ANSI, shuffle partitions, codegen " +
    "cache size, and no executor class path") {
    val c = Harness.confs("local[4]", 4).toMap
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.ansi.enabled") == "false")
    assert(c("spark.sql.shuffle.partitions") == "4")
    assert(c("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(!c.contains("spark.executor.extraClassPath"))
    assert(!c.contains("spark.executor.extraJavaOptions"))
  }

  test("local-cluster master adds the executor class path and the JDK " +
    "module opens") {
    val c = Harness.confs("local-cluster[2,1,1024]", 2).toMap
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.executor.extraClassPath") == sys.props("java.class.path"))
    val opens = c("spark.executor.extraJavaOptions").split(" ").toSet
    Seq("java.lang", "java.nio", "sun.nio.ch").foreach { p =>
      assert(opens(s"--add-opens=java.base/$p=ALL-UNNAMED"), p)
    }
  }

  test("TaskCounters count a groupBy's jobs, stages, tasks and task CPU; " +
    "reset zeroes them") {
    val counters = new Harness.TaskCounters
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(counters)
    try {
      spark.range(0, 200000, 1, 4).groupBy((col("id") % 7).as("k"))
        .count().write.format("noop").mode("overwrite").save()
      Bridge.drainListenerBus(spark)
      val c = counters.snapshot.toMap
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
      assert(c("jobs") >= 1, c)
      assert(c("stages") >= 2, c)
      assert(c("tasks") >= partitions, c)
      assert(c("cpu_ms") > 0, c)
      counters.reset()
      assert(counters.snapshot.forall(_._2 == 0L), counters.snapshot)
    } finally spark.sparkContext.removeSparkListener(counters)
  }
}
