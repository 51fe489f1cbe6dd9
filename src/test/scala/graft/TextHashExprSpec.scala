package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, TextOps}
import graft.functions.TextHashFunctions

/** Parity: the one-pass native hash kernels must reproduce their
  * declarative (explode + groupBy) twins exactly — same docs, same
  * signatures, bit for bit / hex for hex. Inputs cover multi-word text,
  * repeated shingles, single-word, empty string, and non-ASCII.
  */
class TextHashExprSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the the the repeated repeated words words here"),
    (3L, "single"),
    (4L, ""),
    (5L, "café naïve résumé 中文 words mixed"),
    (6L, "a b a b a b a b a b a b")
  ).toDF("doc_id", "text")

  test("native simhash matches declarative bit votes exactly") {
    val native = DedupOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decl = ParityTwins.simhashDeclarative(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === decl)
  }

  test("native minhash signatures match declarative md5 mins exactly") {
    val k = 16
    val native = DedupOps.minhashSignatures(docs, "doc_id", "text", 3, k)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
    val decl = ParityTwins
      .minhashSignaturesDeclarative(docs, "doc_id", "text", 3, k)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
    assert(native === decl)
  }

  test("native winnowing fingerprints match the declarative window-min " +
       "selection exactly (incl. on real corpus docs)") {
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sets(DedupOps.winnowFingerprints(docs)) ===
      sets(ParityTwins.winnowFingerprintsDeclarative(docs)))
    // real corpus slice: longer docs, many windows, tie opportunities
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(60)
    assert(sets(DedupOps.winnowFingerprints(corpus)) ===
      sets(ParityTwins.winnowFingerprintsDeclarative(corpus)))
  }

  test("native fingerprint matches declarative min/max md5 exactly") {
    val native = TextOps.fingerprint(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val decl = ParityTwins.fingerprintDeclarative(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(native === decl)
  }

  test("simhash64 survives nulls and is SQL-registrable") {
    val withNull = Seq((1L, "some text"), (2L, null)).toDF("doc_id", "text")
    val out = withNull
      .select($"doc_id", TextHashFunctions.simhash64($"text", 2).as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(out(2L) === None)
    assert(out(1L).isDefined)

    val desc = graft.GraftExtensions.simhash64Descriptor
    assert(desc._1.funcName === "simhash64")
  }

  test("winnow_fps survives nulls and has an extension descriptor") {
    val withNull = Seq((1L, "a b c d e f g h"), (2L, null))
      .toDF("doc_id", "text")
    val out = withNull
      .select($"doc_id",
        TextHashFunctions.winnow_fps($"text", 4, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getSeq[String](1)))).toMap
    assert(out(2L) === None)
    assert(out(1L).get.nonEmpty)
    assert(graft.GraftExtensions.winnowFpsDescriptor._1.funcName
      === "winnow_fps")
  }

  test("word_shingles kernel matches the declarative " +
       "array_sort(array_distinct(transform)) column exactly") {
    for (n <- Seq(2, 3, 5)) {
      def arrs(c: org.apache.spark.sql.Column) = docs
        .select($"doc_id", c.as("sh")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(arrs(DedupOps.wordShinglesKernel("text", n)) ===
        arrs(ParityTwins.wordShingles("text", n)), s"n=$n")
    }
    // real corpus slice + trailing/double-space edge rows
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001").limit(60)
      .select($"doc_id", $"text")
      .unionByName(Seq((9001L, "a  b  c "), (9002L, " leading space"))
        .toDF("doc_id", "text"))
    def sets(c: org.apache.spark.sql.Column) = corpus
      .select($"doc_id", c.as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sets(DedupOps.wordShinglesKernel("text", 3)) ===
      sets(ParityTwins.wordShingles("text", 3)))
    // null text -> null array, like the declarative column
    val withNull = Seq((1L, "a b c"), (2L, null)).toDF("doc_id", "text")
    val out = withNull
      .select($"doc_id", DedupOps.wordShinglesKernel("text", 2).as("sh"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out === Map(1L -> false, 2L -> true))
  }

  test("bigram_pairs kernel matches the declarative when/transform " +
       "pair projection exactly, incl. null for <2-word docs") {
    val words = split(lower(col("text")), " ")
    val declPairs = when(size(words) >= 2,
      transform(sequence(lit(1), size(words) - 1),
        i => struct(
          concat_ws(" ", element_at(words, i),
            element_at(words, i + 1)).as("g"),
          element_at(words, i + 1).as("w2"))))
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001").limit(60)
      .select($"doc_id", $"text")
      .unionByName(docs)
      .unionByName(Seq((9001L, "A  Mixed CASE  trailing "),
        (9002L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    def rows(c: org.apache.spark.sql.Column) = corpus
      .select($"doc_id", explode_outer(c).as("p"))
      .select($"doc_id", col("p.g"), col("p.w2")).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2)))
      .groupBy(_._1).view.mapValues(_.toSeq).toMap
    assert(rows(TextHashFunctions.bigram_pairs(col("text"))) ===
      rows(declPairs))
  }

  test("ub_keys kernel matches the declarative concat-of-transforms " +
       "(kind, key) array element-for-element") {
    val words = split(lower(col("text")), " ")
    val toksS = transform(words,
      w => struct(lit(0).as("_k"), w.as("_key")))
    val bgsS = slice(
      transform(words, (w, i) => struct(lit(1).as("_k"),
        concat_ws(" ", w, element_at(words, i + 2)).as("_key"))),
      lit(1), greatest(size(words) - 1, lit(0)))
    val declKeys = concat(toksS, bgsS)
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001").limit(60)
      .select($"doc_id", $"text")
      .unionByName(docs)
      .unionByName(Seq((9001L, "A  Mixed CASE  trailing "),
        (9002L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    def rows(c: org.apache.spark.sql.Column) = corpus
      .select($"doc_id", c.as("ks")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getInt(0), x.getString(1))))).toMap
    assert(rows(TextHashFunctions.ub_keys(col("text"))) === rows(declKeys))
  }

  test("unigram_qsum kernel matches the declarative aggregate() fold " +
       "over a plan-embedded vocab map exactly") {
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = Seq("the" -> -1200000L, "words" -> -2500000L,
      "a" -> -900000L, "中文" -> -3000000L, "" -> -400000L)
    val oov = -9900000L
    val vmap = {
      val m = new java.util.HashMap[UTF8String, java.lang.Long]()
      vocab.foreach { case (t, q) =>
        m.put(UTF8String.fromString(t), java.lang.Long.valueOf(q)) }
      m
    }
    val vocabLit = map(vocab.flatMap { case (t, q) =>
      Seq(lit(t), lit(q)) }: _*)
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001").limit(60)
      .select($"doc_id", $"text")
      .unionByName(docs)
      .unionByName(Seq((9001L, "The  WORDS a  trailing "),
        (9002L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    // comparison at the op's OUTPUT shape: the declarative size(null)
    // is -1 under legacy sizeOfNull, which unigramLogProb preserves via
    // coalesce(n_tokens, -1); qsum is null on null text in both forms
    val decl = corpus.select($"doc_id",
        split(lower($"text"), " ").as("_toks"), vocabLit.as("_v"))
      .select($"doc_id", size($"_toks").cast("long").as("n"),
        aggregate($"_toks", lit(0L),
          (acc, t) => acc + coalesce(element_at($"_v", t), lit(oov)))
          .as("q"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2))).toMap
    val kern = corpus.select($"doc_id",
        TextHashFunctions.unigram_qsum($"text", vmap, oov).as("_uq"))
      .select($"doc_id",
        coalesce($"_uq.n_tokens", lit(-1L)).as("n"), $"_uq.qsum")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2))).toMap
    assert(kern === decl)
  }

  test("interpreted eval path (no codegen) agrees with codegen") {
    // force the interpreted path by evaluating the expression directly
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.unsafe.types.UTF8String
    val text = "the quick brown fox jumps over the lazy dog"
    val lit = org.apache.spark.sql.catalyst.expressions.Literal(
      UTF8String.fromString(text),
      org.apache.spark.sql.types.StringType)
    val interp = graft.functions.SimHash64(lit, 2)
      .eval(null).asInstanceOf[Long]
    val viaDf = Seq((1L, text)).toDF("doc_id", "text")
    val codegen = DedupOps.simhash(viaDf).collect().head.getLong(1)
    assert(interp === codegen)
    val _ = Bridge // keep import used
  }

  test("quantize_vec and unigram_qsum refuse to build when the session " +
      "breaks their non-ANSI / legacy sizeOfNull assumptions") {
    val vocab = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    val kernels: Seq[(String, () => Any)] = Seq(
      "quantize_vec" -> (() => graft.functions.VectorFunctions
        .quantize_vec(col("v"))),
      "unigram_qsum" -> (() => TextHashFunctions
        .unigram_qsum(col("text"), vocab, 0L)))
    // both build under the session's own (non-ANSI) semantics
    kernels.foreach(_._2())
    def expectRefusal(key: String, value: String): Unit = {
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try kernels.foreach { case (name, build) =>
        val e = intercept[IllegalStateException](build())
        assert(e.getMessage.contains(name) &&
          e.getMessage.contains("spark.sql.ansi.enabled=false"),
          e.getMessage)
      } finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    expectRefusal("spark.sql.ansi.enabled", "true")
    expectRefusal("spark.sql.legacy.sizeOfNull", "false")
  }
}
