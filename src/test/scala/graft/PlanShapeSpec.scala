package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, RelationalOps}
import graft.Tables

/** Physical-plan regression guards for the round-5 operators: the scale
  * properties these ops were designed around (broadcast anti-join, no
  * join at all, map-side partial sketches) must survive refactors — a
  * silent fallback to a shuffle join or a full-sort would pass the
  * value-level oracles while destroying the 100 TB posture.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("applyChangeSet: with broadcastChanges the base snapshot " +
       "anti-joins against a BROADCAST of the collapsed changeset — no " +
       "shuffle of the base side") {
    val base = Tables.customer(spark, sf)
      .select($"c_custkey", $"c_acctbal")
    val changes = Tables.orders(spark, sf).select(
      $"o_custkey".as("c_custkey"), lit("U").as("op"),
      $"o_orderkey".as("seq"), $"o_totalprice".as("c_acctbal"))
    val p = plan(RelationalOps.applyChangeSet(base, changes,
      Seq("c_custkey"), broadcastChanges = true))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("applyChangeSet: the default leaves the anti-join strategy to " +
       "Catalyst/AQE, which still lands a broadcast when the collapsed " +
       "changeset is small at runtime") {
    val base = Tables.customer(spark, sf)
      .select($"c_custkey", $"c_acctbal")
    val changes = Tables.orders(spark, sf).select(
      $"o_custkey".as("c_custkey"), lit("U").as("op"),
      $"o_orderkey".as("seq"), $"o_totalprice".as("c_acctbal"))
    val df = RelationalOps.applyChangeSet(base, changes, Seq("c_custkey"))
    df.write.format("noop").mode("overwrite").save()
    // AQE's FINAL plan (post-execution) must have converted to broadcast
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("bloomDecontaminate: the probe plan has NO join operator — the " +
       "filter state rides the plan as a literal") {
    val docs = Tables.documents(spark, sf)
    val p = plan(DedupOps.bloomDecontaminate(
      docs.filter($"doc_id" % 17 =!= 0), docs.filter($"doc_id" % 17 === 0),
      n = 5, numBits = 1 << 16, numHashes = 3))
    assert(!p.contains("Join"), p)
    assert(!p.toLowerCase.contains("cartesian"), p)
  }

  test("bigramLogProb: model tables enter as BROADCAST joins and the " +
       "only exchanges are the rebalance and the doc-grain aggregation") {
    val p = plan(graft.ops.TextOps.bigramLogProb(
      Tables.documents(spark, sf), 10, 20))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // one round-robin rebalance + one hash exchange for groupBy(doc_id);
    // a third exchange would mean a model table fell off the broadcast
    val exchanges = "(?<!Broadcast)Exchange ".r
      .findAllIn(p.replace("BroadcastExchange", "BX")).length
    assert(exchanges <= 2, s"$exchanges exchanges:\n$p")
  }

  /** Final plans of the eager checkpoints `body` executed — the plans
    * checkpoint-returning operators actually ran (dupClusters takes the
    * reliable `checkpoint` when the session has a checkpoint dir). */
  private def checkpointPlans(body: => Unit): Seq[String] =
    try ExecutedPlans.capture(spark)(body)._2.collect {
      case r if r.action == "localCheckpoint" || r.action == "checkpoint" =>
        r.plan.toString
    } finally spark.catalog.clearCache()

  test("ivfPqTopK plan audit: the executed result checkpoint is the real " +
       "ADC dataflow (broadcast distance-table join + per-pair " +
       "aggregate), not an opaque checkpoint scan") {
    val e = Tables.embeddings(spark, sf)
    val plans = checkpointPlans {
      graft.ops.SimilarityOps.ivfPqTopK(
        e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10),
        k = 5, dim = 64, nCells = 4, cellIters = 1, m = 4,
        codebookK = 8, pqIters = 1)
    }
    val p = plans.last
    assert(!p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("pqTopK plan audit: pre-checkpoint ADC shape visible (no cells)") {
    val e = Tables.embeddings(spark, sf)
    val plans = checkpointPlans {
      graft.ops.SimilarityOps.pqTopK(
        e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10),
        k = 5, dim = 64, m = 4, codebookK = 8, iters = 1)
    }
    val p = plans.last
    assert(!p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dupClusters plan audit: every executed round checkpoint is one " +
       "propagate+double round (joins + aggregate over the edge cache)") {
    val pairs = DedupOps.minhashCandidates(Tables.documents(spark, sf))
    // plans(0) is the seed checkpoint, the rest are rounds
    val rounds = checkpointPlans(DedupOps.dupClusters(pairs)).drop(1)
    assert(rounds.nonEmpty)
    rounds.foreach { p =>
      assert(p.toLowerCase.contains("join"), p)
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
      assert(p.contains("InMemoryTableScan"), p)
    }
  }

  test("heavyHitters: the sketch aggregates map-side (partial " +
       "ObjectHashAggregate before the exchange)") {
    val df = Seq.tabulate(100)(i => (s"g${i % 3}", s"k${i % 11}"))
      .toDF("g", "key")
    val p = plan(df.groupBy($"g")
      .agg(graft.functions.MisraGriesAgg.heavyHitters($"key", 16, 3)))
    val firstAgg = p.indexOf("ObjectHashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0, p)
    // plan prints top-down: final agg, exchange, partial agg — partial
    // must exist BELOW the exchange
    assert(p.indexOf("ObjectHashAggregate", firstExchange) > firstExchange,
      p)
  }

  test("winnowDupPairs: NO join and NO window operator — fingerprints " +
       "come from the one-pass native kernel, pairs from one " +
       "collect_list expansion") {
    val p = plan(DedupOps.winnowDupPairs(
      Tables.documents(spark, sf), n = 4, w = 4, maxDf = 50))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("winnow_fps"), p)
  }

  test("dupNgramCoverage: no join — df is a window count over the gram " +
       "hash, so the shingle explode appears exactly once") {
    val p = plan(DedupOps.dupNgramCoverage(Tables.documents(spark, sf)))
    assert(!p.contains("Join"), p)
    assert(p.sliding("Generate".length).count(_ == "Generate") === 1, p)
  }

  test("keySkewProfile: the top-K is a TakeOrdered, never a global sort, " +
       "and the one-row stats enter by broadcast") {
    val p = plan(graft.ops.StatsOps.keySkewProfile(
      Tables.events(spark, sf), "user_id", topK = 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("rollingZScoreAnomaly: one Window over one keyed Exchange — every " +
       "baseline stat shares the frame") {
    val p = plan(graft.ops.TimeSeriesOps.rollingZScoreAnomaly(
      Tables.events(spark, sf)
        .withColumn("vc", round($"value" * 100).cast("long")),
      "event_type", Seq("ts", "event_id"), "vc", nRows = 24, z = 3.0))
    def count(tok: String) = p.sliding(tok.length).count(_ == tok)
    assert(count("Window") >= 1 && count("[Window") <= 1, p)
    assert(count("Exchange ") === 1, p)
  }

  test("temperatureRebalance: the per-stratum plan enters the corpus " +
       "scan as a BROADCAST join (no rank shuffle of the docs)") {
    val p = plan(graft.ops.CorpusOps.temperatureRebalance(
      Tables.documents(spark, sf), "lang", "doc_id", 2.0, 100))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("exactStratifiedSample: exactly ONE Window branch (the boundary " +
       "bucket) — the below-boundary branch flows join+filter only") {
    val p = plan(graft.ops.CorpusOps.exactStratifiedSample(
      Tables.documents(spark, sf), "lang", "doc_id", 30))
    def count(tok: String) = p.sliding(tok.length).count(_ == tok)
    assert(count("Window") >= 1 && count("[Window") <= 1, p)
    assert(p.contains("Union"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("hardNegatives: anchors broadcast into the corpus scan (bounded " +
       "build side), ranking is per-anchor") {
    val e = Tables.embeddings(spark, sf)
    val p = plan(graft.ops.SimilarityOps.hardNegatives(
      e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10), 5))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}
