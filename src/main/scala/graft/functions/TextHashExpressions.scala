package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass hashing kernels for the text-dedup operators.
  *
  * The composable formulations (explode shingles -> md5/xxhash64 -> groupBy
  * min / bit-vote sums) are correct and fully declarative, but at 100 TB the
  * explode materializes O(total shingles) rows and the groupBy shuffles one
  * partial-agg row per (doc, partition). A per-document signature is a pure
  * scalar function of the text, so the scale-right shape is a narrow
  * projection: one custom Catalyst `Expression` per signature, with
  * `doGenCode` emitting a single static-kernel call that stays inside
  * whole-stage codegen (SURVEY.md §7 preference (b), same rationale as
  * [[DotProduct]]).
  *
  * Parity contracts (each checked by TextHashExprSpec against the
  * declarative twin, kept test-side in `ParityTwins` as the oracle-shaped
  * reference implementation):
  *  - word shingles = Spark `split(text, " ")` + windows of n joined by " ",
  *    distinct (set semantics; consumers are order-invariant aggregates)
  *  - simhash bit b set iff sum over distinct shingles of
  *    (2*bit_b(h) - 1) > 0, where h = first 16 md5-hex chars of the
  *    shingle read as an unsigned big-endian 64-bit value
  *  - minhash_i = min over shingles of md5-hex("i|" + shingle) — digests
  *    compared as unsigned bytes (hex encoding is order-preserving)
  *  - fingerprint = (min, max) md5-hex over all character 8-grams
  *    (codepoint-windowed, matching `substring`'s UTF-8 semantics)
  */
object HashKernels {

  private val HEX = "0123456789abcdef".toCharArray

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def hex32(d: Array[Byte]): UTF8String = {
    val cs = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      cs(2 * i) = HEX((d(i) >> 4) & 0xF).toByte
      cs(2 * i + 1) = HEX(d(i) & 0xF).toByte
      i += 1
    }
    UTF8String.fromBytes(cs)
  }

  /** Unsigned lexicographic byte compare — the same order hex encoding
    * induces on the digest strings.
    */
  private def cmpU(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** Distinct word n-gram shingles. Split semantics match
    * `split(text, " ")` (java regex, limit -1); windows match
    * `concat_ws(" ", slice(words, i+1, n))` for i in 0..max(len-n, 0).
    */
  def wordShingleSet(text: UTF8String, n: Int): java.util.ArrayList[String] = {
    val words = text.toString.split(" ", -1)
    val set = new java.util.LinkedHashSet[String]
    val last = math.max(words.length - n, 0)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= last) {
      sb.setLength(0)
      val end = math.min(i + n, words.length) - 1
      var j = i
      while (j <= end) {
        sb.append(words(j))
        if (j < end) sb.append(' ')
        j += 1
      }
      set.add(sb.toString)
      i += 1
    }
    new java.util.ArrayList[String](set)
  }

  /** Sorted distinct word n-gram shingles as an array of UTF8Strings —
    * the kernel twin of the declarative
    * `array_sort(array_distinct(transform(...)))` column
    * (`ParityTwins.wordShingles`). Sort order is UTF8String's unsigned
    * byte order, exactly what `array_sort` uses on strings.
    */
  def wordShinglesSorted(text: UTF8String, n: Int): ArrayData = {
    val sh = wordShingleSet(text, n)
    val arr = new Array[AnyRef](sh.size)
    var i = 0
    while (i < sh.size) {
      arr(i) = UTF8String.fromString(sh.get(i))
      i += 1
    }
    java.util.Arrays.sort(arr, new java.util.Comparator[AnyRef] {
      override def compare(a: AnyRef, b: AnyRef): Int =
        a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    })
    new GenericArrayData(arr)
  }

  /** (bigram, second word) pair rows for the bigram LM scorer — the
    * kernel twin of the `when(size >= 2, transform(sequence(1, n-1),
    * struct(concat_ws(" ", w_i, w_i+1), w_i+1)))` projection over
    * `split(lower(text), " ")`; null when the doc has fewer than two
    * words (the declarative `when` yields null there, which the
    * caller's explode_outer turns into the one null pair per doc).
    */
  def bigramPairs(text: UTF8String): ArrayData = {
    val words = text.toLowerCase.toString.split(" ", -1)
    if (words.length < 2) return null
    val out = new Array[AnyRef](words.length - 1)
    var i = 0
    while (i < words.length - 1) {
      val w2 = UTF8String.fromString(words(i + 1))
      val g = UTF8String.fromString(words(i) + " " + words(i + 1))
      out(i) = new GenericInternalRow(Array[Any](g, w2))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-doc unigram LM score fold — the kernel twin of
    * `struct(size(toks), aggregate(toks, 0L, acc + coalesce(
    * element_at(vocabMap, t), oov)))` over `split(lower(text), " ")`:
    * token count and the exact integer sum of quantized log-probs, with
    * the (bounded, driver-built) vocab map riding generated code as a
    * reference object. Long addition is associative, so the sum is
    * order-exact vs the declarative fold.
    */
  def unigramQsum(text: UTF8String,
                  vocab: java.util.HashMap[UTF8String, java.lang.Long],
                  oovQlp: Long): InternalRow = {
    val toks = text.toLowerCase.toString.split(" ", -1)
    var sum = 0L
    var i = 0
    while (i < toks.length) {
      val q = vocab.get(UTF8String.fromString(toks(i)))
      sum += (if (q == null) oovQlp else q.longValue())
      i += 1
    }
    new GenericInternalRow(Array[Any](toks.length.toLong, sum))
  }

  /** Combined unigram+bigram count keys for the bigram-LM model build —
    * the kernel twin of `concat(transform(words, struct(0, w)),
    * slice(transform(words, struct(1, w_i ++ " " ++ w_{i+1})), 1, n-1))`
    * over `split(lower(text), " ")`: n (kind 0, token) entries followed
    * by n-1 (kind 1, bigram) entries, same order as the declarative
    * concat.
    */
  def unigramBigramKeys(text: UTF8String): ArrayData = {
    val words = text.toLowerCase.toString.split(" ", -1)
    val n = words.length
    val out = new Array[AnyRef](n + math.max(n - 1, 0))
    var i = 0
    while (i < n) {
      out(i) = new GenericInternalRow(Array[Any](0,
        UTF8String.fromString(words(i))))
      i += 1
    }
    i = 0
    while (i < n - 1) {
      out(n + i) = new GenericInternalRow(Array[Any](1,
        UTF8String.fromString(words(i) + " " + words(i + 1))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over distinct word n-gram shingles. The per-shingle
    * hash is the first 8 md5 digest bytes read big-endian — i.e. the first
    * 16 md5-hex chars as an unsigned 64-bit value — which any engine can
    * reproduce from `md5(shingle)`, making the signature oracle-checkable
    * (an xxhash64 variant would be ~5x faster per shingle but engine-
    * private; the md5 cost is noise next to the scan).
    */
  def simhash64(text: UTF8String, shingleWords: Int): Long = {
    val sh = wordShingleSet(text, shingleWords)
    val md = md5Local.get()
    val tmp = new Array[Byte](16)
    val votes = new Array[Int](64)
    var idx = 0
    while (idx < sh.size) {
      md.reset()
      md.update(sh.get(idx).getBytes(StandardCharsets.UTF_8))
      md.digest(tmp, 0, 16)
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (tmp(i) & 0xFFL); i += 1 }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      idx += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** k MinHash values: min over shingles of md5-hex("i|" + shingle).
    * Digest bytes are compared directly (unsigned); hex is emitted once per
    * doc, not once per hash.
    */
  def minhashSigs(text: UTF8String, shingleWords: Int, k: Int): ArrayData = {
    val sh = wordShingleSet(text, shingleWords)
    val md = md5Local.get()
    val prefixes = new Array[Array[Byte]](k)
    var i = 0
    while (i < k) {
      prefixes(i) = (i.toString + "|").getBytes(StandardCharsets.UTF_8)
      i += 1
    }
    val mins = new Array[Array[Byte]](k)
    val tmp = new Array[Byte](16)
    var s = 0
    while (s < sh.size) {
      val bytes = sh.get(s).getBytes(StandardCharsets.UTF_8)
      i = 0
      while (i < k) {
        md.reset()
        md.update(prefixes(i))
        md.update(bytes)
        md.digest(tmp, 0, 16)
        if (mins(i) == null) mins(i) = tmp.clone()
        else if (cmpU(tmp, mins(i)) < 0) System.arraycopy(tmp, 0, mins(i), 0, 16)
        i += 1
      }
      s += 1
    }
    val out = new Array[Any](k)
    i = 0
    while (i < k) {
      out(i) = if (mins(i) == null) null else hex32(mins(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (one pass, no explode/window/shuffle): the
    * per-position word n-gram hash is the first 15 md5-hex chars (= first
    * 60 digest bits); each length-`w` window of consecutive positions
    * selects its minimum by (hash, position) — identical selection and
    * tie-breaks to the declarative twin's window-min over
    * `hex15 ++ zero-padded-pos` strings
    * (`ParityTwins.winnowFingerprintsDeclarative`), which TextHashExprSpec
    * pins. Output: distinct selected fingerprints as
    * 15-hex-char strings, first-selection order. Window starts are
    * 0..max(nPos-w, 0), so a doc with fewer than w grams still selects
    * from its one truncated window. O(L·w) with w small; the direct scan
    * beats a deque at these widths.
    */
  def winnowFps(text: UTF8String, n: Int, w: Int): ArrayData = {
    // SQL-reachable via GraftExtensions: fail as an argument error, not an
    // executor-side ArrayIndexOutOfBounds deep in a codegen stage
    require(n >= 1 && w >= 1,
      s"winnow_fps requires n >= 1 and w >= 1, got n=$n w=$w")
    val words = text.toString.split(" ", -1)
    val last = math.max(words.length - n, 0)
    val nPos = last + 1
    val h = new Array[Long](nPos)
    val md = md5Local.get()
    val tmp = new Array[Byte](16)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= last) {
      sb.setLength(0)
      val end = math.min(i + n, words.length) - 1
      var j = i
      while (j <= end) {
        sb.append(words(j))
        if (j < end) sb.append(' ')
        j += 1
      }
      md.reset()
      md.update(sb.toString.getBytes(StandardCharsets.UTF_8))
      md.digest(tmp, 0, 16)
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (tmp(b) & 0xFFL); b += 1 }
      h(i) = (v << 4) | ((tmp(7) >> 4) & 0xFL)
      i += 1
    }
    val sel = new java.util.LinkedHashSet[java.lang.Long]
    val lastStart = math.max(nPos - w, 0)
    var s = 0
    while (s <= lastStart) {
      val end = math.min(s + w - 1, nPos - 1)
      var best = s
      var j = s + 1
      // strict < keeps the earliest position on ties — the leftmost rule
      while (j <= end) { if (h(j) < h(best)) best = j; j += 1 }
      sel.add(h(best))
      s += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    i = 0
    while (it.hasNext) {
      val v = it.next().longValue()
      val cs = new Array[Byte](15)
      var c = 0
      while (c < 15) {
        cs(c) = HEX(((v >>> (4 * (14 - c))) & 0xFL).toInt).toByte
        c += 1
      }
      out(i) = UTF8String.fromBytes(cs)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** (min, max) md5-hex over every character `len`-gram of the text —
    * codepoint windows computed from a single UTF-8 offset scan (no
    * per-window substring walk), hashing byte slices in place.
    */
  def md5MinMaxChar(text: UTF8String, len: Int): InternalRow = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    // offsets(c) = byte offset of codepoint c; offsets(nChars) = total bytes
    val offsets = new Array[Int](nChars + 1)
    var c = 0
    var off = 0
    while (c < nChars) {
      offsets(c) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      c += 1
    }
    offsets(nChars) = bytes.length
    val count = math.max(nChars - (len - 1), 1)
    val md = md5Local.get()
    val minD = new Array[Byte](16)
    val maxD = new Array[Byte](16)
    val tmp = new Array[Byte](16)
    var first = true
    var i = 0
    while (i < count) {
      val start = offsets(i)
      val end = offsets(math.min(i + len, nChars))
      md.reset()
      md.update(bytes, start, end - start)
      md.digest(tmp, 0, 16)
      if (first) {
        System.arraycopy(tmp, 0, minD, 0, 16)
        System.arraycopy(tmp, 0, maxD, 0, 16)
        first = false
      } else {
        if (cmpU(tmp, minD) < 0) System.arraycopy(tmp, 0, minD, 0, 16)
        if (cmpU(tmp, maxD) > 0) System.arraycopy(tmp, 0, maxD, 0, 16)
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](hex32(minD), hex32(maxD)))
  }

  /** Bloom-filter probe over distinct word n-gram shingles — the native
    * kernel form of DedupOps.bloomDecontaminate's train-side projection
    * (that HOF chain — `exists(transform(grams, md5), ...)` with one
    * string `conv` per hash per gram — evaluates interpreted; measured
    * ~31 s of task CPU at sf0.1 vs ~2 s for this kernel, r18).
    * Bit-identical semantics to the declarative twin, replayed by the
    * same DuckDB oracle:
    *  - grams = distinct word n-gram shingles ([[wordShingleSet]] —
    *    set semantics; `n_grams` is the distinct count);
    *  - position i of a gram = its md5-hex chars [8i, 8i+8) read as an
    *    unsigned 32-bit value (== `conv(substring(md5(g),8i+1,8),16,10)`),
    *    mod `numBits`;
    *  - hit iff ANY gram has ALL `numHashes` positions set in `words`
    *    (bit p of word p/64 — exact `element_at(words, p/64 + 1) &
    *    shiftleft(1L, p % 64)` replay). Early-exits on the first hit
    *    gram, which the materialize-then-scan HOF form cannot.
    */
  def bloomProbe(text: UTF8String, n: Int, numHashes: Int, numBits: Int,
                 words: Array[Long]): InternalRow = {
    val sh = wordShingleSet(text, n)
    val md = md5Local.get()
    val tmp = new Array[Byte](16)
    var hit = false
    var s = 0
    while (s < sh.size && !hit) {
      md.reset()
      md.update(sh.get(s).getBytes(StandardCharsets.UTF_8))
      md.digest(tmp, 0, 16)
      var all = true
      var i = 0
      while (i < numHashes && all) {
        val v = ((tmp(4 * i) & 0xFFL) << 24) |
          ((tmp(4 * i + 1) & 0xFFL) << 16) |
          ((tmp(4 * i + 2) & 0xFFL) << 8) |
          (tmp(4 * i + 3) & 0xFFL)
        val p = v % numBits
        if ((words((p / 64).toInt) & (1L << (p % 64).toInt)) == 0L)
          all = false
        i += 1
      }
      if (all) hit = true
      s += 1
    }
    new GenericInternalRow(Array[Any](sh.size.toLong, hit))
  }
}

private[functions] trait TextHashExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got ${dt.sql}")
  }
}

/** simhash64(text, nWords): 64-bit SimHash signature as a long. */
case class SimHash64(child: Expression, shingleWords: Int)
    extends TextHashExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(t: Any): Any =
    HashKernels.simhash64(t.asInstanceOf[UTF8String], shingleWords)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.simhash64($c, $shingleWords);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** minhash_sigs(text, nWords, k): array of k md5-hex MinHash values. */
case class MinHashSigs(child: Expression, shingleWords: Int, k: Int)
    extends TextHashExpr {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(t: Any): Any =
    HashKernels.minhashSigs(t.asInstanceOf[UTF8String], shingleWords, k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.minhashSigs($c, " +
        s"$shingleWords, $k);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** winnow_fps(text, n, w): distinct winnowing fingerprints (15-hex). */
case class WinnowFps(child: Expression, n: Int, w: Int)
    extends TextHashExpr {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(t: Any): Any =
    HashKernels.winnowFps(t.asInstanceOf[UTF8String], n, w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.winnowFps($c, $n, $w);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** md5_minmax(text, len): struct(fp_min, fp_max) over character len-grams. */
case class Md5MinMaxShingles(child: Expression, shingleLen: Int)
    extends TextHashExpr {
  override def dataType: DataType = StructType(Seq(
    StructField("fp_min", StringType, nullable = false),
    StructField("fp_max", StringType, nullable = false)))
  override def prettyName: String = "md5_minmax"

  override def nullSafeEval(t: Any): Any =
    HashKernels.md5MinMaxChar(t.asInstanceOf[UTF8String], shingleLen)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.md5MinMaxChar($c, " +
        s"$shingleLen);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** bloom_probe(text, n, numHashes, numBits, words):
  * struct(n_grams, bloom_hit) — distinct word-n-gram count and whether any
  * gram's md5-window positions are all set in the `words` bitset (see
  * [[HashKernels.bloomProbe]]). `words` is embedded as a reference object
  * in generated code (the bitset is driver-bounded by construction —
  * numBits/64 longs).
  */
case class BloomProbe(child: Expression, n: Int, numHashes: Int,
                      numBits: Int, words: Array[Long])
    extends TextHashExpr {
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("bloom_hit", BooleanType, nullable = false)))
  override def prettyName: String = "bloom_probe"

  override def nullSafeEval(t: Any): Any =
    HashKernels.bloomProbe(t.asInstanceOf[UTF8String], n, numHashes,
      numBits, words)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("bloomWords", words, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.bloomProbe($c, $n, " +
        s"$numHashes, $numBits, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** word_shingles(text, n): sorted distinct word n-gram shingles. */
case class WordShingles(child: Expression, n: Int) extends TextHashExpr {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(t: Any): Any =
    HashKernels.wordShinglesSorted(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.wordShinglesSorted($c, $n);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** bigram_pairs(text): array<struct<g,w2>> over split(lower(text), " ");
  * null for docs with fewer than two words (see
  * [[HashKernels.bigramPairs]]).
  */
case class BigramPairs(child: Expression) extends TextHashExpr {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("w2", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bigram_pairs"

  override def nullSafeEval(t: Any): Any =
    HashKernels.bigramPairs(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.HashKernels.bigramPairs($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** ub_keys(text): array<struct<_k:int,_key:string>> — unigram (kind 0)
  * then bigram (kind 1) count keys (see
  * [[HashKernels.unigramBigramKeys]]).
  */
case class UnigramBigramKeys(child: Expression) extends TextHashExpr {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_k", IntegerType, nullable = false),
    StructField("_key", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "ub_keys"

  override def nullSafeEval(t: Any): Any =
    HashKernels.unigramBigramKeys(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.unigramBigramKeys($c);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** unigram_qsum(text, vocab, oov): struct(n_tokens, qsum) — token count
  * and exact integer sum of quantized log-probs over
  * split(lower(text), " ") (see [[HashKernels.unigramQsum]]). The vocab
  * map is embedded as a reference object (bounded: topV entries).
  */
case class UnigramQsum(child: Expression,
    vocab: java.util.HashMap[UTF8String, java.lang.Long], oovQlp: Long)
    extends TextHashExpr {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("qsum", LongType, nullable = false)))
  override def prettyName: String = "unigram_qsum"

  override def nullSafeEval(t: Any): Any =
    HashKernels.unigramQsum(t.asInstanceOf[UTF8String], vocab, oovQlp)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val v = ctx.addReferenceObj("unigramVocab", vocab,
      "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.unigramQsum($c, $v, " +
        s"${oovQlp}L);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object TextHashFunctions {
  def simhash64(text: Column, shingleWords: Int): Column =
    Bridge.column(SimHash64(Bridge.expression(text), shingleWords))

  def minhash_sigs(text: Column, shingleWords: Int, k: Int): Column =
    Bridge.column(MinHashSigs(Bridge.expression(text), shingleWords, k))

  def md5_minmax(text: Column, shingleLen: Int): Column =
    Bridge.column(Md5MinMaxShingles(Bridge.expression(text), shingleLen))

  def winnow_fps(text: Column, n: Int, w: Int): Column =
    Bridge.column(WinnowFps(Bridge.expression(text), n, w))

  def bloom_probe(text: Column, n: Int, numHashes: Int, numBits: Int,
                  words: Array[Long]): Column =
    Bridge.column(BloomProbe(Bridge.expression(text), n, numHashes,
      numBits, words))

  def word_shingles(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(text), n))

  def bigram_pairs(text: Column): Column =
    Bridge.column(BigramPairs(Bridge.expression(text)))

  def ub_keys(text: Column): Column =
    Bridge.column(UnigramBigramKeys(Bridge.expression(text)))

  /** Requires non-ANSI semantics ([[LegacySemantics]]). */
  def unigram_qsum(text: Column,
                   vocab: java.util.HashMap[UTF8String, java.lang.Long],
                   oovQlp: Long): Column = {
    LegacySemantics.check("unigram_qsum")
    Bridge.column(UnigramQsum(Bridge.expression(text), vocab, oovQlp))
  }
}
