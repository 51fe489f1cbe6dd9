package graft

/** Catalog-wide invariants that previously lived only in per-round
  * manual artifacts (plan dumps and the CORRECTNESS gate's oracle
  * count). As specs they fail the build the moment a new
  * entry ships without its DuckDB twin or a refactor lets Catalyst plan
  * an unbounded cross — instead of surfacing a round later in a dump
  * diff.
  */
class CatalogInvariantsSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.types.StructType

  private val sf = "/root/testdata/sf0.001"

  /** Per catalog entry: its output schema and the final (post-AQE)
    * plans of every query execution it ran — trainer collects, CC rounds
    * and other eager checkpoints included — when run once to `noop`.
    * Shared by the cartesian, BNLJ-census and scalar-schema tests.
    */
  private lazy val runs: Seq[(String, StructType, Seq[SparkPlan])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (schema, executed) =
        try ExecutedPlans.capture(spark) {
          val df = fn(spark, sf)
          df.write.format("noop").mode("overwrite").save()
          df.schema
        } finally {
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      (name, schema, executed.map(_.plan))
    }

  test("every catalog entry ships a DuckDB oracle twin (the full " +
      "three-way rows/schema/hash gate, no rows-only fallbacks)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"entries without an oracle: $missing")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without an entry: $orphaned")
  }

  test("no catalog entry plans a CartesianProduct (every cross the " +
      "catalog allows is a bounded BroadcastNestedLoopJoin)") {
    assume(new java.io.File(sf).isDirectory, s"$sf missing")
    val offenders =
      runs.collect { case (name, _, ps)
        if ps.exists(_.toString.contains("CartesianProduct")) => name }
    assert(offenders.isEmpty,
      s"entries planning a CartesianProduct: $offenders")
  }

  test("every BroadcastNestedLoopJoin in every catalog plan has a " +
      "bounded-SMALL build side — a no-grouping aggregate (<=1 row), a " +
      "limit, a literal-key-bounded filter, or a literal local relation " +
      "— so no cross in the catalog grows its broadcast with the data " +
      "(turns the per-round manual PLANS_rN census into a spec)") {
    assume(new java.io.File(sf).isDirectory, s"$sf missing")
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.{CollectLimitExec, FilterExec,
      GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RangeExec,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

    // a literal equality / upper bound / IN-list on a column pins the
    // build side's cardinality to a constant independent of corpus
    // growth (e.g. the ANN query-set frames: vec_id < 10)
    def literalKeyBound(e: Expression): Boolean = e.exists {
      case EqualTo(_: AttributeReference, _: Literal) => true
      case EqualTo(_: Literal, _: AttributeReference) => true
      case LessThan(_: AttributeReference, _: Literal) => true
      case LessThanOrEqual(_: AttributeReference, _: Literal) => true
      case GreaterThan(_: Literal, _: AttributeReference) => true
      case GreaterThanOrEqual(_: Literal, _: AttributeReference) => true
      case In(_: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal])
        => true
      case _: InSet => true
      case _ => false
    }
    // all nodes of a physical subtree, descending through AQE wrappers
    // (the helper's collect), reused exchanges and cached relations
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      collect(p) { case n => n }.flatMap {
        case r: ReusedExchangeExec => r +: flatten(r.child)
        case i: InMemoryTableScanExec => i +: flatten(i.relation.cachedPlan)
        case n => Seq(n)
      }
    def boundedReason(build: SparkPlan): Option[String] =
      flatten(build).collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.isEmpty => "global-agg(<=1 row)"
        case l: GlobalLimitExec => s"limit(${l.limit})"
        case l: LocalLimitExec => s"limit(${l.limit})"
        case t: TakeOrderedAndProjectExec => s"top-k(${t.limit})"
        case c: CollectLimitExec => s"limit(${c.limit})"
        case t: LocalTableScanExec => s"local-table(${t.rows.size} rows)"
        case r: RangeExec => s"range(${r.numElements})"
        case f: FilterExec if literalKeyBound(f.condition) =>
          "literal-key-bounded filter"
      }
    val census = runs.flatMap { case (name, _, ps) =>
      val rows = ps.flatMap(collect(_) {
          case b: BroadcastNestedLoopJoinExec => b })
        .map { b =>
          val build = b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
          (b.joinType.toString, boundedReason(build))
        }
      if (rows.isEmpty) None else Some(name -> rows)
    }
    // probe = true entries (Catalog's diagnostic/ground-truth posture,
    // excluded from prod totals) may carry a deliberately-quarantined
    // all-pairs cross: near_dup_recall's exact truth set is the one
    // census row whose build IS the data (bounded by being a probe over
    // a bounded eval subset, not by plan shape)
    val probes = graft.queries.Catalog.all.collect {
      case (n, e) if e.probe => n }.toSet
    val censusStr = census.map { case (n, rows) =>
      val tag = if (probes(n)) " [probe]" else ""
      s"  $n$tag: " + rows.map { case (jt, r) =>
        s"$jt<-${r.getOrElse("UNBOUNDED")}" }.mkString(", ")
    }.mkString("\n")
    val offenders = census.filterNot(c => probes(c._1)).flatMap {
      case (n, rows) => rows.collect { case (jt, None) => s"$n($jt)" } }
    assert(offenders.isEmpty,
      s"BNLJ broadcasting an unbounded build side: $offenders\n" +
        s"full census:\n$censusStr")
    // the audited census over executed plans: 24 BNLJ nodes (CHANGES.md
    // lists each change from the 23 of the composed-plan census). A drop
    // is fine; a GROWTH means a new entry ships a cross — audit it, then
    // update.
    val total = census.map(_._2.size).sum
    info(s"BNLJ census, $total nodes:\n$censusStr")
    assert(total <= 24,
      s"BNLJ census grew past the audited 24:\n$censusStr")
  }

  test("every catalog entry's output schema is scalar-only — no " +
      "array/map/binary/struct top-level columns (the driver's " +
      "correctness gate sorts every column with pandas; an ndarray " +
      "cell is unhashable and the sort throws, which red-flagged " +
      "a5_collect_series_capped_typed in CORRECTNESS_r16 before it " +
      "was re-rendered to a string — typed shapes stay ops/spec-level)") {
    assume(new java.io.File(sf).isDirectory, s"$sf missing")
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType,
      StructType}
    val offenders = runs.flatMap {
      case (name, schema, _) =>
        schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] ||
              f.dataType == BinaryType =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"non-scalar catalog output columns (driver gate cannot sort " +
        s"these): $offenders")
  }

  test("reference-semantics posture: every scaleTwin points at an " +
      "existing catalog entry, and the two SCALE.md-flagged unbounded " +
      "collects are marked") {
    import graft.queries.Catalog
    val dangling = Catalog.all.collect {
      case (n, e) if e.scaleTwin.exists(t => !Catalog.all.contains(t)) => n
    }
    assert(dangling.isEmpty, s"scaleTwin names a missing entry: $dangling")
    assert(Catalog.all("a5_collect_series").scaleTwin ===
      Some("a5_collect_series_capped"))
    assert(Catalog.all("a14_group_concat").scaleTwin ===
      Some("a14_group_concat_capped"))
  }

  test("bounded-buffer twins are prefixes of their uncapped entries " +
      "(a5/a14: same group counts, head = leading slice of the full blob)") {
    assume(new java.io.File(sf).isDirectory, s"$sf missing")
    // (uncapped, capped, group-key cols, count col, full col, head col,
    //  joiner)
    val twins = Seq(
      ("a5_collect_series", "a5_collect_series_capped",
        Seq("event_type"), "n_points", "series", "series_head", ';'),
      ("a14_group_concat", "a14_group_concat_capped",
        Seq("lang", "source"), "n_docs", "doc_blob", "doc_blob_head", ' '))
    twins.foreach { case (unName, capName, keys, cnt, full, head, sep) =>
      val un = SparkEntry.queries(unName)(spark, sf).collect()
        .map(r => keys.map(r.getAs[String]) ->
          (r.getAs[Long](cnt), r.getAs[String](full))).toMap
      val cap = SparkEntry.queries(capName)(spark, sf).collect()
      assert(cap.length === un.size, s"$capName group count")
      cap.foreach { r =>
        val k = keys.map(r.getAs[String])
        val (nUn, blob) = un(k)
        val nCap = r.getAs[Long](cnt)
        val headStr = r.getAs[String](head)
        // the capped twin still counts the FULL group in one scan
        assert(nCap === nUn, s"$capName count for $k")
        // head is the leading slice of the uncapped sorted blob: equal
        // when the group fits the cap, else a prefix ending at a
        // separator boundary
        assert(headStr == blob ||
          (blob.startsWith(headStr) && blob.charAt(headStr.length) == sep),
          s"$capName head not a prefix for $k")
      }
    }
  }
}
