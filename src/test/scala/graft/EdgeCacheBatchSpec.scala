package graft

import org.apache.spark.sql.columnar.SimpleMetricsCachedBatch
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.ops.DedupOps

/** Measures the B/P-nesting claim in [[DedupOps.edgeLayout]]'s scaladoc
  * instead of trusting it structurally (r16 verdict follow-up): after
  * the hash(dst) repartition into P partitions and the within-partition
  * `_eb` sort, the in-memory columnar cache's batches must carry
  * single-`_eb` spans (tight per-batch min/max stats are what lets the
  * late-round frontier filter skip whole batches). The spec reads the
  * REAL cached batches' stats rows (`SimpleMetricsCachedBatch.stats`,
  * the public DS-v2 cache-serializer API) — not a simulation of the
  * batching.
  *
  * Exact invariants measured, on a fixture whose per-bucket edge count
  * (~4x the batch size) guarantees bucket runs longer than a batch:
  *  - nesting: every batch's `_eb` bounds are ≡ its partition id
  *    (mod P) — `_eb = pmod(hash, B)` nests inside the partition
  *    `pmod(hash, P)` because P | B and both sides use the same hash;
  *  - sortedness: within a partition, batch `_eb` ranges are
  *    non-decreasing and non-interleaved;
  *  - span: a batch covers ONE `_eb` value, except at most one bucket
  *    boundary per batch (bounds then differ by exactly P — partition
  *    bucket values are {pid, pid+P, ...}, not adjacent integers), and
  *    boundary batches are bounded by the bucket-boundary count, so the
  *    single-span fraction is the dominant census.
  */
class EdgeCacheBatchSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  test("edge cache batches carry single-_eb spans nested in their " +
      "partition (measured from SimpleMetricsCachedBatch stats)") {
    census(DedupOps.edgeStorageLevel(spark))
  }

  test("the session conf spark.graft.cc.edgeStorageLevel reaches the " +
      "edge cache dupClusters fills") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.storage.StorageLevel
    val key = DedupOps.EdgeStorageLevelConf
    assert(DedupOps.edgeStorageLevel(spark) === StorageLevel.MEMORY_AND_DISK)
    val pairs = (1L to 9L).map(i => (i, i + 1))
    spark.conf.set(key, "DISK_ONLY")
    val runs =
      try {
        assert(DedupOps.edgeStorageLevel(spark) === StorageLevel.DISK_ONLY)
        ExecutedPlans.capture(spark) {
          DedupOps.dupClusters(
            spark.createDataFrame(pairs).toDF("doc_a", "doc_b"))
        }._2
      } finally {
        spark.conf.unset(key)
        spark.catalog.clearCache()
      }
    val levels = runs.flatMap(r =>
        collect(r.plan) { case s: InMemoryTableScanExec => s })
      .map(_.relation.cacheBuilder.storageLevel).distinct
    assert(levels === Seq(StorageLevel.DISK_ONLY), levels)
  }

  test("the governed DISK_ONLY posture keeps the same batch stats — " +
      "frontier pruning loses nothing when the cache leaves the heap " +
      "(SCALE.md: 'stats live with the batch regardless of medium')") {
    census(org.apache.spark.storage.StorageLevel.DISK_ONLY)
  }

  private def census(
      level: org.apache.spark.storage.StorageLevel): Unit = {
    val batchSize = 100
    val prior = spark.conf.get("spark.sql.inMemoryColumnarStorage.batchSize")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", batchSize)
    try {
      // 51,200 pairs -> 102,400 directed edges over B=256 buckets:
      // ~400 rows/bucket, 4x the batch size, so bucket runs span
      // multiple batches and most batches sit strictly inside one run
      val pairs = spark.range(51200L).select(
        (col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b"))
      val layout = DedupOps.edgeLayout(pairs, 256)
      val frame = layout._1
      val b = layout._2
      val p = layout._3
      val edges = frame.sortWithinPartitions("_eb").persist(level)
      try {
        edges.count() // materialize the cache
        val rel = edges.queryExecution.optimizedPlan.collectFirst {
          case i: InMemoryRelation => i
        }.getOrElse(fail("no InMemoryRelation in the cached plan"))
        val ebIdx = rel.output.indexWhere(_.name == "_eb")
        assert(ebIdx >= 0, s"_eb not in cache output ${rel.output}")
        // stats row layout: 5 fields per column
        // (lowerBound, upperBound, nullCount, count, sizeInBytes)
        val base = ebIdx * 5
        val batches = rel.cacheBuilder.cachedColumnBuffers
          .mapPartitionsWithIndex { (pid, it) =>
            it.map { cb =>
              val s = cb.asInstanceOf[SimpleMetricsCachedBatch].stats
              (pid, s.getInt(base), s.getInt(base + 1))
            }
          }.collect()

        assert(batches.length > b,
          s"fixture too small: ${batches.length} batches for $b buckets")
        // nesting: both bounds ≡ partition id (mod P)
        val misNested = batches.filter { case (pid, lo, hi) =>
          lo % p != pid || hi % p != pid
        }
        assert(misNested.isEmpty,
          s"batches outside their partition's bucket residue: " +
            s"${misNested.take(5).toSeq}")
        // span: single bucket, or exactly one boundary (bounds differ
        // by P — partition bucket values step by P)
        val spans = batches.groupBy { case (_, lo, hi) => hi - lo }
          .view.mapValues(_.length).toMap
        assert(spans.keySet.subsetOf(Set(0, p)),
          s"batch spanning >1 bucket boundary: spans=$spans")
        val multi = spans.getOrElse(p, 0)
        assert(multi <= p * (b / p - 1),
          s"more boundary batches ($multi) than bucket boundaries " +
            s"(${p * (b / p - 1)})")
        val singleFrac = spans.getOrElse(0, 0).toDouble / batches.length
        assert(singleFrac >= 0.7,
          s"single-_eb batch fraction $singleFrac below 0.7 " +
            s"(census: $spans over ${batches.length} batches)")
        // sortedness: within each partition, consecutive batch ranges
        // never interleave (next lower >= previous upper)
        batches.groupBy(_._1).foreach { case (pid, bs) =>
          bs.sliding(2).foreach {
            case Array((_, _, hiPrev), (_, loNext, _)) =>
              assert(loNext >= hiPrev,
                s"partition $pid: batch ranges interleave " +
                  s"($hiPrev then $loNext)")
            case _ => ()
          }
        }
        info(s"batch-span census (${level.description}): " +
          s"${batches.length} batches, " +
          s"${spans.getOrElse(0, 0)} single-_eb, $multi one-boundary " +
          s"(B=$b, P=$p, batchSize=$batchSize)")
      } finally edges.unpersist(blocking = true)
    } finally
      spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", prior)
  }
}
