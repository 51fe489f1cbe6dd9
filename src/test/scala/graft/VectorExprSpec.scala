package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

class VectorExprSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val hofDot = (a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("native dot_product matches the HOF formulation bit-for-bit") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(-0.5f, 0.25f, 0.0f), Array(2.0f, 8.0f, 1.0f)))
      .toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dot_product($"a", $"b").as("native"),
      hofDot($"a", $"b").as("hof")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1))
    }
    assert(rows.head.getDouble(0) === 32.0)
  }

  test("dot_product handles double arrays and null input") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0))),
      (None: Option[Array[Double]], Some(Array(3.0, 4.0))))
      .toDF("a", "b")
    val rows = df.select(VectorFunctions.dot_product($"a", $"b").as("d"))
      .collect()
    assert(rows(0).getDouble(0) === 11.0)
    assert(rows(1).isNullAt(0))
  }

  test("dot_product is SQL-registrable") {
    org.apache.spark.sql.FunctionRegistryAccess.register(spark,
      GraftExtensions.dotProductDescriptor)
    val out = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(out === 11.0)
  }

  test("sq_dist_long matches the HOF fold exactly on random long arrays" +
      " (codegen and interpreted paths)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map { _ =>
      val n = 1 + rnd.nextInt(16)
      (Array.fill(n)(rnd.nextLong() % 10000000L),
        Array.fill(n)(rnd.nextLong() % 10000000L))
    }
    val df = rows.toDF("a", "b")
    val hof = aggregate(
      zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val out = df.select(
      VectorFunctions.sq_dist_long($"a", $"b").as("native"),
      hof.as("hof")).collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))

    // every vector kernel, both ways: Expression.eval on literals
    // (interpreted), then a whole-stage-codegen DataFrame projection
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      Expression, Literal}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import graft.functions.{ArgMinSqDist, DotProduct, SqDistLong}
    def arr(dt: DataType, xs: Any*) =
      Literal(new GenericArrayData(xs.toArray), ArrayType(dt))
    def mat(rows: Seq[Long]*) = new GenericArrayData(
      rows.map(r => new GenericArrayData(r.toArray[Any]): Any).toArray)
    val matType = ArrayType(ArrayType(LongType))
    def argmin(e: Expression, row: InternalRow = null) =
      e.eval(row).asInstanceOf[InternalRow] match {
        case null => None
        case r => Some((r.getInt(0), r.getLong(1)))
      }
    // dot products: the null element contributes 0
    val fA = arr(FloatType, 1.5f, null, -2.0f, 0.25f)
    val fB = arr(FloatType, 2.0f, 7.0f, 3.0f, 4.0f)
    val dA = arr(DoubleType, 0.5, 2.0, null)
    val dB = arr(DoubleType, 4.0, -1.5, 8.0, 9.0)
    assert(DotProduct(fA, fB).eval(null) === -2.0)
    assert(DotProduct(dA, dB).eval(null) === -1.0)
    assert(DotProduct(fB, dB).eval(null) === 57.5)
    assert(SqDistLong(arr(LongType, 3L, -1L, 10L),
      arr(LongType, 1L, 2L, 10L, 99L)).eval(null) === 13L)
    // argmin: query dim 1 is null (skipped), positions 2 and 3 tie at
    // distance 0 and the lower one wins; the matrix is a foldable
    // literal (hoisted long[][]) or a bound column (generic path)
    val cents = Seq(Seq(5L, 5L, 5L), Seq(1L, 1L, 9L), Seq(1L, 1L, 1L),
      Seq(1L, 1L, 1L))
    val q = arr(LongType, 1L, null, 1L)
    val folded = ArgMinSqDist(q, Literal(mat(cents: _*), matType))
    val bound = ArgMinSqDist(q, BoundReference(0, matType, nullable = true))
    assert(argmin(folded) === Some((2, 0L)))
    assert(argmin(bound, InternalRow(mat(cents: _*))) === Some((2, 0L)))
    assert(argmin(ArgMinSqDist(arr(LongType, 2L, 2L, 2L),
      Literal(mat(cents: _*), matType))) === Some((2, 3L)))
    assert(argmin(bound, InternalRow(mat())) === None)

    val kernels = Seq(
      (Seq[Option[Float]](Some(1.5f), None, Some(-2.0f), Some(0.25f)),
        Seq(2.0f, 7.0f, 3.0f, 4.0f), Seq[Option[Double]](Some(0.5),
          Some(2.0), None), Seq(4.0, -1.5, 8.0, 9.0),
        Seq[Option[Long]](Some(1L), None, Some(1L)), Seq(2L, 2L, 2L),
        Seq(3L, -1L, 10L), Seq(1L, 2L, 10L, 99L), 0L))
      .toDF("fa", "fb", "da", "db", "q", "q2", "la", "lb", "id")
    val projected = kernels.repartition(1).select(
      VectorFunctions.dot_product($"fa", $"fb"),
      VectorFunctions.dot_product($"da", $"db"),
      VectorFunctions.dot_product($"fb", $"db"),
      VectorFunctions.sq_dist_long($"la", $"lb"),
      VectorFunctions.argmin_sq_dist($"q", typedLit(cents)),
      VectorFunctions.argmin_sq_dist($"q",
        when($"id" >= 0, typedLit(cents))),
      VectorFunctions.argmin_sq_dist($"q2", typedLit(cents)))
    // no silent fallback: a generated call that does not compile fails
    val fallback = "spark.sql.codegen.fallback"
    val prior = spark.conf.get(fallback)
    spark.conf.set(fallback, "false")
    val (got, runs) =
      try ExecutedPlans.capture(spark)(projected.collect().head)
      finally spark.conf.set(fallback, prior)
    val kernelClasses = Set[Class[_]](classOf[DotProduct],
      classOf[SqDistLong], classOf[ArgMinSqDist])
    val inCodegen = runs.flatMap(r => collect(r.plan) {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.child.expressions.flatMap(_.collect {
          case e if kernelClasses(e.getClass) => e.getClass })
    }).flatten.toSet
    assert(inCodegen === kernelClasses,
      runs.map(_.plan.toString).mkString("\n"))
    def pair(i: Int) = { val s = got.getStruct(i); (s.getInt(0), s.getLong(1)) }
    assert(got.getDouble(0) === -2.0)
    assert(got.getDouble(1) === -1.0)
    assert(got.getDouble(2) === 57.5)
    assert(got.getLong(3) === 13L)
    assert(pair(4) === (2, 0L))
    assert(pair(5) === (2, 0L))
    assert(pair(6) === (2, 3L))
  }

  test("quantize_vec matches the declarative round(v*1e6) transform " +
       "bit-for-bit, incl. negative ties, shortest-decimal edges, " +
       "NaN/Inf, null elements, float and double inputs") {
    val decl = (c: org.apache.spark.sql.Column) =>
      transform(c, v => round(v.cast("double") * 1e6).cast("long"))
    val doubles = Seq(
      Seq[Option[Double]](Some(1.23456749), Some(-1.23456749),
        Some(0.0000005), Some(-0.0000005), Some(2.5e-6), Some(-2.5e-6),
        Some(0.49999999999999994e-6)),
      Seq[Option[Double]](Some(Double.NaN), Some(Double.PositiveInfinity),
        Some(Double.NegativeInfinity), None, Some(-123.4567891)),
      Seq.empty[Option[Double]])
      .toDF("v")
    val dRows = doubles.select(
      VectorFunctions.quantize_vec($"v").as("k"), decl($"v").as("d"))
      .collect()
    dRows.foreach(r => assert(r.getSeq[Any](0) === r.getSeq[Any](1)))
    val floats = Seq(
      Seq[Option[Float]](Some(0.123456f), Some(-0.999999f),
        Some(1.0e-7f), None),
      Seq[Option[Float]](Some(Float.NaN), Some(-0.5e-6f)))
      .toDF("v")
    val fRows = floats.select(
      VectorFunctions.quantize_vec($"v").as("k"), decl($"v").as("d"))
      .collect()
    fRows.foreach(r => assert(r.getSeq[Any](0) === r.getSeq[Any](1)))
    // real corpus embeddings: full-column equality
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val mism = emb.select(
      VectorFunctions.quantize_vec($"embedding").as("k"),
      decl($"embedding").as("d"))
      .filter(not($"k" <=> $"d")).count()
    assert(mism === 0L)
  }

  test("sq_dist_long: null array yields null, shorter array truncates") {
    val df = Seq(
      (Some(Array(1L, 2L, 3L)), Some(Array(1L, 1L))),
      (None: Option[Array[Long]], Some(Array(1L, 1L))))
      .toDF("a", "b")
    val out = df.select(
      VectorFunctions.sq_dist_long($"a", $"b").as("d")).collect()
    assert(out(0).getLong(0) === 1L) // (1-1)^2 + (2-1)^2, third truncated
    assert(out(1).isNullAt(0))
  }

  test("sq_dist_long rejects non-long-array input at analysis") {
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorFunctions.sq_dist_long($"a", $"b")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("sq_dist_long") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("dot_product rejects non-numeric-array input at analysis") {
    val df = Seq(("x", "y")).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorFunctions.dot_product($"a", $"b")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("dot_product") ||
      e.getMessage.toLowerCase.contains("data type"))
  }

  test("argmin_sq_dist: one-call batched argmin matches the " +
      "crossJoin+min(struct) form on random data, ties break to the " +
      "lower position, null/empty matrix yields null") {
    val rnd = new scala.util.Random(11)
    val k = 7
    val cents: Seq[Seq[Long]] = (0 until k).map(_ =>
      Seq.fill(16)(rnd.nextInt(2000000).toLong - 1000000L))
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(16)(rnd.nextInt(2000000).toLong - 1000000L)))
      .toDF("id", "qv")
    val got = vecs.select($"id",
        VectorFunctions.argmin_sq_dist($"qv", typedLit(cents)).as("m"))
      .select($"id", $"m.c".as("c"), $"m.d".as("d"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
      .toMap
    // reference: the join form's min(struct(d, cid)) semantics
    val cdf = cents.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cid", "cv")
    val ref = vecs.crossJoin(broadcast(cdf))
      .groupBy($"id")
      .agg(min(struct(
        VectorFunctions.sq_dist_long($"qv", $"cv").as("d"),
        $"cid".as("c"))).as("m"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getInt(1), r.getStruct(1).getLong(0))).toMap
    assert(got === ref)

    // exact ties break to the LOWER position: duplicate centroids
    val dup = Seq(Seq(5L, 5L), Seq(1L, 1L), Seq(1L, 1L))
    val t = Seq((0L, Seq(1L, 1L))).toDF("id", "qv")
      .select(VectorFunctions.argmin_sq_dist($"qv", typedLit(dup)).as("m"))
      .collect().head.getStruct(0)
    assert(t.getInt(0) === 1 && t.getLong(1) === 0L)

    // null vector / null matrix / empty matrix -> null
    val n = Seq((Some(Seq(1L)), Some(Seq(Seq(1L)))),
        (None, Some(Seq(Seq(1L)))),
        (Some(Seq(1L)), None))
      .toDF("qv", "m")
      .select(VectorFunctions.argmin_sq_dist($"qv", $"m").as("r"))
      .collect()
    assert(!n(0).isNullAt(0) && n(1).isNullAt(0) && n(2).isNullAt(0))
    val e = Seq((0L, Seq(1L))).toDF("id", "qv")
      .select(VectorFunctions.argmin_sq_dist($"qv",
        typedLit(Seq.empty[Seq[Long]])).as("r")).collect().head
    assert(e.isNullAt(0), "empty matrix must yield null")
  }

  test("argmin_sq_dist foldable-literal fast path (hoisted primitive " +
      "matrix) is bit-identical to the generic column-matrix path, " +
      "including null query elements, ties, and ragged rows") {
    val rnd = new scala.util.Random(31)
    val k = 9
    val cents: Seq[Seq[Long]] = (0 until k).map { j =>
      // one SHORT row exercises the min(dim, row-length) clamp
      val len = if (j == 4) 7 else 12
      Seq.fill(len)(rnd.nextInt(1000).toLong - 500L)
    } ++ Seq(Seq.fill(12)(0L), Seq.fill(12)(0L)) // exact-tie pair
    val vecs = (0L until 50L).map { i =>
      // every 7th vector carries a null element (anyNullQ branch);
      // every 11th is all-zero (hits the duplicate-centroid tie)
      val v: Seq[Option[Long]] =
        if (i % 11 == 0) Seq.fill(12)(Some(0L))
        else (0 until 12).map(d =>
          if (i % 7 == 0 && d == 3) None
          else Some(rnd.nextInt(1000).toLong - 500L))
      (i, v)
    }.toDF("id", "qv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"m.c", $"m.d").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // fast path: literal matrix (foldable, hoisted long[][])
    val fast = rows(vecs.select($"id",
      VectorFunctions.argmin_sq_dist($"qv", typedLit(cents)).as("m")))
    // generic path: the same matrix behind a NON-FOLDABLE conditional
    // (condition on an attribute, always true on this data — the
    // optimizer cannot fold it back to a literal)
    val generic = rows(vecs.select($"id",
      VectorFunctions.argmin_sq_dist($"qv",
        when($"id" >= 0, typedLit(cents))).as("m")))
    assert(fast === generic)
  }
}
