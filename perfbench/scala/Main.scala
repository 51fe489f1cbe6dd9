package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <root> <result.json> [entries.tsv]
  * perfbench.Main selftest <pinned-names.txt> <result.json>
  * }}}
  *
  * `root` is the run-scoped temp directory (inputs, checkpoints, sinks);
  * the caller removes it. `entries.tsv` lists `name<TAB>fingerprint` for
  * the batch workloads (`-` records without checking). The result is one
  * JSON object; `perfbench/run.py` turns it into the benchmark's metrics.
  */
object Main {
  /** Spark task threads: one core of the host (at most four) is left to
    * the driver thread, the JIT compiler and the GC, whose work would
    * otherwise preempt tasks at random and spread the timings. */
  val Cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 1)

  def main(args: Array[String]): Unit = {
    val (result, out) = args(0) match {
      case "selftest" => (SelfTest.run(args(1)), args(2))
      case workload =>
        val Array(_, seed, seconds, trace, root, out) = args.take(6)
        val spark = Common.session(Cores, root)
        spark.sparkContext.setLogLevel("ERROR")
        def entries = Files.readAllLines(Paths.get(args(6))).asScala.toSeq
          .filter(_.nonEmpty).map { l => val Array(n, fp) = l.split("\t"); n -> fp }
        val r = workload match {
          case "catalog_mix" => Batch.run(spark, Batch.Config(entries,
            seed.toLong, seconds.toDouble, trace == "1", root, Cores))
          case "speed_layer" => Speed.run(spark, Speed.Config(seed.toLong,
            seconds.toDouble, trace == "1", root, Cores))
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        spark.stop()
        (r ++ Map("workload" -> workload, "cores" -> Cores), out)
    }
    Files.write(Paths.get(out), Common.json(result).getBytes("UTF-8"))
  }
}

/** Checks that need the program: the pinned entry list is exactly the
  * catalog, and the stream feed is a pure function of its seed. */
object SelfTest {
  def run(pinnedFile: String): Map[String, Any] = {
    val pinned = Files.readAllLines(Paths.get(pinnedFile)).asScala
      .map(_.trim).filter(_.nonEmpty).toSet
    val catalog = graft.queries.Catalog.queries.keySet
    def feed(seed: Long): Seq[String] = {
      val f = new Speed.Feed(seed)
      (0 until 40).map { k =>
        val b = f.batch(k); Speed.tweetsJson(b) + Speed.pricesJson(b)
      }
    }
    val a = feed(7L)
    val tweets = { val f = new Speed.Feed(7L); (0 until 40).flatMap(f.batch(_).tweets) }
    Map(
      "catalog_size" -> catalog.size,
      "pinned_equals_catalog" -> (pinned == catalog),
      "missing_from_catalog" -> (pinned -- catalog).toSeq.sorted,
      "missing_from_pinned" -> (catalog -- pinned).toSeq.sorted,
      "feed_same_seed_identical" -> (a == feed(7L)),
      "feed_other_seed_differs" -> (a != feed(8L)),
      "feed_late_tweets" -> tweets.count(_.late),
      "feed_replayed_tweets" -> (tweets.size - tweets.map(_.id).distinct.size))
  }
}
