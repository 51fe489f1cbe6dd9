package graft

import graft.ops.DedupOps

/** CC edge-cache memory-sizing probe (`runMain graft.CcMemProbe <sfDir>
  * [outJson]`): materializes exactly the edge cache [[DedupOps
  * .dupClusters]] fills for the given fixture's minhash candidate graph
  * and reports its footprint from the block manager — edge rows, cached
  * bytes in memory and on disk, bytes/edge, and the JVM heap — so the
  * SCALE.md sizing rule (E x bytes/edge vs storage-pool budget) rests on
  * a measured constant instead of a guess. Reads the storage level the
  * way the operator does ([[DedupOps.edgeStorageLevel]]), so the governed
  * posture is measurable with the same probe: pass it as a JVM system
  * property, e.g. `-Dspark.graft.cc.edgeStorageLevel=DISK_ONLY` (sbt:
  * `set run / javaOptions += "-D..."`), which the session picks up as a
  * conf.
  * The output line goes to stdout and, when `[outJson]` is given, to
  * that file.
  */
object CcMemProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: runMain graft.CcMemProbe <sfDir> [outJson]")
    val sfDir = args(0)
    val spark = Harness.session()

    val t0 = System.nanoTime()
    val docs = Tables.documents(spark, sfDir)
    val pairs = DedupOps.minhashCandidates(docs)
    val (frame, b, p) = DedupOps.edgeLayout(pairs, 256)
    val level = DedupOps.edgeStorageLevel(spark)
    val edges = frame.sortWithinPartitions("_eb").persist(level)
    val rows = edges.count()
    val fillSec = (System.nanoTime() - t0) / 1e9
    // the probe session caches exactly one dataset, so summing every
    // cached RDD's footprint IS the edge cache's footprint
    val info = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0)
    val mem = info.map(_.memSize).sum
    val disk = info.map(_.diskSize).sum
    val heap = Runtime.getRuntime.maxMemory
    val line = s"""{"metric":"cc_edge_cache","sf_dir":"$sfDir",""" +
      s""""edge_rows":$rows,"mem_bytes":$mem,"disk_bytes":$disk,""" +
      f""""bytes_per_edge":${(mem + disk).toDouble / math.max(1L, rows)}%.1f,""" +
      s""""heap_bytes":$heap,"storage_level":"${level.description}",""" +
      f""""fill_sec":$fillSec%.2f,"edge_buckets":$b,"partitions":$p}"""
    println(line)
    args.lift(1).foreach(Harness.writeArtifact(_, line))
    edges.unpersist()
    spark.stop()
  }
}
