package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.security.MessageDigest

/** Native-eval text expressions for the dedup pipeline.
  *
  * The builtin formulations (nested transform/aggregate HOFs) run in
  * the expression INTERPRETER — per-element lambda dispatch, a fresh
  * MessageDigest per md5 call. These evaluate the whole row in one
  * compiled-Scala call (CodegenFallback: one invoke per row from the
  * codegen'd stage, loops run as JVM bytecode) and reuse a thread-local
  * MD5 instance. Outputs are bit-identical to the builtin forms: same
  * tokenization (regex " ", keep-empty like Spark's split), same
  * first-occurrence distinct order, same md5("<i>|" + shingle) hex-min
  * signature (byte-wise min == hex-string min; hex is order-preserving).
  */
object TextExpressions {
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private[plans] def md5(): MessageDigest = { val m = md5Local.get(); m.reset(); m }

  private val HEX = "0123456789abcdef".toCharArray
  private[plans] def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HEX((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Unsigned lexicographic byte compare (== hex-string compare). */
  private[plans] def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_shingles" -> (es => WordShingles(es(0), intLit(es(1)))),
    "graft_minhash" -> (es => MinhashSig(es(0), intLit(es(1)))),
    "graft_topgram" -> (es => TopGramStats(es(0), intLit(es(1)))),
    "graft_winnow" -> (es => WinnowFps(es(0), intLit(es(1)))),
    "graft_bpe_apply" -> (es => BpeApply(es(0), strArrLit(es(1)), strArrLit(es(2)))),
    "graft_simhash" -> (es => SimhashLong(es(0), intLit(es(1)))),
    "graft_feat_buckets" -> (es => BigramBuckets(es(0), intLit(es(1)))),
    "graft_isect" -> (es => IntersectCount(es(0), es(1))),
    "graft_textdig" -> (es => TextDigests(es(0), intLit(es(1)))),
    "graft_digsplit" -> (es => DigestSplit(es(0))),
    "graft_digtrunc" -> (es => DigestTruncate(es(0), intLit(es(1)))),
    "graft_isect_emit" -> (es => IntersectEmit(es(0), es(1), doubleLit(es(2)), intLit(es(3)))),
    "graft_doti" -> (es => LongArrayDot(es(0), longArrLit(es(1)))),
    "graft_spanhash" -> (es => SpanHashes(es(0), intLit(es(1)))),
    // aggregate — the analyzer wraps AggregateFunctions from the
    // registry in an AggregateExpression during resolution
    "graft_min2" -> (es => MinTwo(es(0))),
    "graft_topksum" -> (es => TopKPosSum(es(0), intLit(es(1)))),
    "graft_bigrams" -> (es => BigramPairs(es(0))))

  private def intLit(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case o => throw new IllegalArgumentException(s"expected integer literal, got $o")
  }

  private def doubleLit(e: Expression): Double = e.eval(null) match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case o => throw new IllegalArgumentException(s"expected double literal, got $o")
  }

  private def longArrLit(e: Expression): Array[Long] = e.eval(null) match {
    case a: ArrayData => a.toLongArray()
    case o => throw new IllegalArgumentException(s"expected long-array literal, got $o")
  }

  private def strArrLit(e: Expression): Array[String] = e.eval(null) match {
    case a: ArrayData =>
      Array.tabulate(a.numElements())(i => a.getUTF8String(i).toString)
    case o => throw new IllegalArgumentException(s"expected string-array literal, got $o")
  }

  /** Distinct word n-gram shingles of a single-space-tokenized text in
    * first-occurrence order — the shared eval core of [[WordShingles]]
    * and [[TextDigests]].
    */
  private[plans] def wordShingles(v: UTF8String, n: Int): GenericArrayData = {
    // limit -1 keeps trailing empties — Spark's split() semantics
    val toks = v.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]((toks.length - n + 1) * 2)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** SORTED per-element md5 digests of a string array as ONE flat BINARY
    * blob (16-byte blocks, unsigned-lexicographic block order) — the eval
    * core of [[TextDigests]]. Fixed blocks need no separator, so two
    * arrays yield the same blob iff they denote the same element SET
    * (modulo an md5 collision — the same injectivity assumption
    * exactDedup's md5(text) grouping already makes). The blob is the
    * whole representation Dedup.ngramJaccard needs: md5(blob) is the
    * family fingerprint of its exact-dup pre-collapse, DigestSplit
    * explodes it into 16-byte posting keys, and IntersectEmit
    * merge-counts two blobs' common blocks — shingle STRINGS never
    * travel past the projection. Callers pass distinct arrays (shingle
    * sets); duplicates would produce duplicate blocks and alter both the
    * fingerprint and the merge counts.
    */
  private[plans] def setDigestBlob(arr: ArrayData): Array[Byte] = {
    val m = arr.numElements()
    val md = md5()
    val digests = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      md.reset()
      md.update(arr.getUTF8String(i).getBytes)
      digests(i) = md.digest()
      i += 1
    }
    java.util.Arrays.sort(digests, new java.util.Comparator[Array[Byte]] {
      override def compare(a: Array[Byte], b: Array[Byte]): Int = {
        var j = 0
        while (j < 16) {
          val d = (a(j) & 0xff) - (b(j) & 0xff)
          if (d != 0) return d
          j += 1
        }
        0
      }
    })
    val out = new Array[Byte](m * 16)
    i = 0
    while (i < m) { System.arraycopy(digests(i), 0, out, i * 16, 16); i += 1 }
    out
  }
}

/** Real whole-stage codegen for the fused text expressions: generated
  * code makes the SAME one call per row into the expression's own
  * `compute` kernel (shipped as a codegen reference object, operands
  * evaluated natively) that the interpreted eval made — the point is
  * not the call, it is that a `CodegenFallback` expression excludes its
  * entire OPERATOR STAGE from whole-stage codegen, not just itself: the
  * r17 blob-path dedup plan had a single codegen span (the scan's
  * ColumnarToRow) because every join/Generate/aggregate stage touched
  * one of these expressions.
  */
private[plans] trait GraftUnaryCall extends UnaryExpression {
  /** Java source for the one-call kernel; `ref` is this expression. */
  protected def callSource(ref: String, c: String): String
  /** True when the kernel itself can return null (beyond null inputs). */
  protected def resultMayBeNull: Boolean = false
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
      val assign = s"${ev.value} = ${callSource(ref, c)};"
      if (resultMayBeNull) assign + s"\n${ev.isNull} = ${ev.value} == null;" else assign
    })
}

/** Distinct word n-gram shingles of a single-space-tokenized text, in
  * first-occurrence order; fewer than n tokens → empty array.
  */
case class WordShingles(child: Expression, n: Int)
    extends GraftUnaryCall {
  override def prettyName: String = "graft_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(v: UTF8String): GenericArrayData = TextExpressions.wordShingles(v, n)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature: element i = min over the shingle set of
  * md5("<i>|" + shingle) as lowercase hex. One MessageDigest reused for
  * all k·|shingles| hashes; shingle bytes materialized once.
  */
case class MinhashSig(child: Expression, k: Int)
    extends GraftUnaryCall {
  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(arr: ArrayData): GenericArrayData = {
    val m = arr.numElements()
    val shingleBytes = new Array[Array[Byte]](m)
    var s = 0
    while (s < m) { shingleBytes(s) = arr.getUTF8String(s).getBytes; s += 1 }
    val md = TextExpressions.md5()
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      val prefix = (i.toString + "|").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var best: Array[Byte] = null
      var j = 0
      while (j < m) {
        md.reset()
        md.update(prefix)
        md.update(shingleBytes(j))
        val d = md.digest()
        if (best == null || TextExpressions.less(d, best)) best = d
        j += 1
      }
      out(i) = UTF8String.fromString(TextExpressions.hex(
        if (best == null) Array.fill[Byte](16)(0) else best))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing fingerprint selection in ONE compiled pass (public
  * knowledge: Schleimer/Wilkerson/Aiken, SIGMOD 2003): md5 every
  * 3-token shingle positionally, slide a window of `w` consecutive
  * digests, keep each window's minimum, dedupe. Equals the builtin
  * transform/array_min/slice formulation bit-for-bit (digest byte-min
  * == hex-string min), but hashes each shingle ONCE — the interpreted
  * HOF chain re-evaluated the hash array per window (O(n·w) interpreter
  * dispatches + allocations; measured 26× slower at sf0.1). Fewer than
  * w windows → empty array.
  */
case class WinnowFps(child: Expression, w: Int)
    extends GraftUnaryCall {
  override def prettyName: String = "graft_winnow"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(v: UTF8String): GenericArrayData = {
    // limit -1 keeps trailing empties — Spark's split() semantics
    val toks = v.toString.split(" ", -1)
    val m = toks.length - 2 // 3-gram shingle count
    val windows = m - w + 1
    if (windows < 1) return new GenericArrayData(Array.empty[Any])
    val md = TextExpressions.md5()
    val digests = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      md.reset()
      md.update(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(' '.toByte)
      md.update(toks(i + 1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(' '.toByte)
      md.update(toks(i + 2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      digests(i) = md.digest()
      i += 1
    }
    val seen = new java.util.LinkedHashSet[String](windows * 2)
    var j = 0
    while (j < windows) {
      var best = digests(j)
      var k = j + 1
      while (k < j + w) {
        if (TextExpressions.less(digests(k), best)) best = digests(k)
        k += 1
      }
      seen.add(TextExpressions.hex(best))
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `bits`-bit SimHash of a single-space-tokenized text as a positive
  * long, in ONE compiled pass — bit-identical to
  * `conv(Dedup.simhashBitsStr(split(text, " "), bits), 2, 10)`: bit j
  * (MSB first) is the sign of Σ_tokens ±1 where the sign is hex char j
  * of the token's digest stream ≥ '8' (i.e. nibble ≥ 8), the stream
  * being md5(token) for bits 1..32 then md5("<s>|token") per further
  * 32-bit block. Exists because the builtin formulation is a
  * `bits`-slot zip_with inside an aggregate HOF — interpreted
  * per-element lambda dispatch with a fresh digest per md5 — which at
  * 48 bits was the dominant cost of the banded near-dup join (and runs
  * TWICE there, once per self-join side). Here: one thread-local
  * digest, nibble tests on the raw bytes, a bounded int array.
  */
case class SimhashLong(child: Expression, bits: Int)
    extends GraftUnaryCall {
  require(bits >= 1 && bits <= 62, s"signature must fit a positive long, got $bits bits")
  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${t.simpleString}")
  }

  private val streams = (bits + 31) / 32
  private val prefixes: Array[Array[Byte]] =
    (0 until streams).map(s =>
      if (s == 0) Array.empty[Byte]
      else (s + "|").getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(v: UTF8String): Long = {
    // limit -1 keeps trailing empties — Spark's split() semantics
    val toks = v.toString.split(" ", -1)
    val sums = new Array[Int](bits)
    val md = TextExpressions.md5()
    var t = 0
    while (t < toks.length) {
      val tokBytes = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var s = 0
      while (s < streams) {
        md.reset()
        if (prefixes(s).nonEmpty) md.update(prefixes(s))
        md.update(tokBytes)
        val d = md.digest()
        val lo = s * 32
        val hi = math.min(bits, lo + 32)
        var j = lo
        while (j < hi) {
          // hex char j of the digest is nibble j: high nibble of byte
          // j/2 for even j (0-based), low nibble for odd — char ≥ '8'
          // ⟺ nibble ≥ 8
          val idx = j - lo
          val nib =
            if ((idx & 1) == 0) (d(idx >> 1) >> 4) & 0xf else d(idx >> 1) & 0xf
          sums(j) += (if (nib >= 8) 1 else -1)
          j += 1
        }
        s += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (sums(j) > 0) sig |= 1L << (bits - 1 - j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hashed word-bigram feature buckets of a single-space-tokenized text
  * in ONE compiled pass: element i is
  * `hex6(md5(tok_i + " " + tok_{i+1})) % buckets` where hex6 is the
  * 24-bit integer of the digest's first 6 hex chars (== its first 3
  * bytes) — bit-identical to the builtin
  * `pmod(hex6Int(concat(t_i, " ", t_{i+1})), buckets)` chain over a
  * transform/slice bigram array, which ran per-element in the
  * expression interpreter with a fresh digest per md5 (the dominant
  * cost of the DSIR featurizer). Fewer than 2 tokens → empty array.
  */
case class BigramBuckets(child: Expression, buckets: Int)
    extends GraftUnaryCall {
  require(buckets > 0, s"bad bucket count $buckets")
  override def prettyName: String = "graft_feat_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(v: UTF8String): GenericArrayData = {
    // limit -1 keeps trailing empties — Spark's split() semantics
    val toks = v.toString.split(" ", -1)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val md = TextExpressions.md5()
    val out = new Array[Any](toks.length - 1)
    var i = 0
    while (i < toks.length - 1) {
      md.reset()
      md.update(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(' '.toByte)
      md.update(toks(i + 1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      val hex6 = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
      out(i) = (hex6 % buckets).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Ordered literal-replace chain in ONE compiled call — the BPE merge
  * applier. Semantically identical to folding `replace(s, pat_i,
  * repl_i)` over the merge list in rank order (same left-to-right
  * non-overlapping literal scan as `String.replace` / SQL `replace`),
  * but the merge table lives in a plain JVM array instead of the
  * expression tree: a realistic 10k–32k-entry tokenizer would blow
  * analysis/codegen stack depth and Janino limits as a nested replace
  * chain, while here tree depth is constant in the merge count.
  *
  * As with [[LongArrayDot]], the `Array` fields get content-based
  * equals/hashCode so two instances with the same merge table compare
  * semantically equal (CSE / exchange-reuse eligibility).
  */
case class BpeApply(child: Expression, patterns: Array[String], repls: Array[String])
    extends GraftUnaryCall {
  require(patterns.length == repls.length,
    s"merge table arity mismatch: ${patterns.length} patterns, ${repls.length} replacements")

  override def equals(other: Any): Boolean = other match {
    case BpeApply(c, p, r) => c == child &&
      java.util.Arrays.equals(p.asInstanceOf[Array[AnyRef]], patterns.asInstanceOf[Array[AnyRef]]) &&
      java.util.Arrays.equals(r.asInstanceOf[Array[AnyRef]], repls.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() +
      java.util.Arrays.hashCode(patterns.asInstanceOf[Array[AnyRef]])) +
      java.util.Arrays.hashCode(repls.asInstanceOf[Array[AnyRef]])
  override def prettyName: String = "graft_bpe_apply"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(v: UTF8String): UTF8String = {
    var s = v.toString
    var i = 0
    while (i < patterns.length) {
      s = s.replace(patterns(i), repls(i))
      i += 1
    }
    UTF8String.fromString(s)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-document word-n-gram repetition stats in ONE compiled pass:
  * struct(n_grams, top_n) where n_grams = count of n-grams (with
  * multiplicity) and top_n = the most frequent n-gram's count. Fewer
  * than n tokens → null (no n-grams exist).
  *
  * Exists because the relational formulation — explode every n-gram
  * and groupBy (doc, gram) — shuffles roughly every token in the
  * corpus for what is inherently per-row work; here a per-row hashmap
  * does the same counting with zero shuffle, and the downstream ppm
  * arithmetic stays in whole-stage codegen.
  */
case class TopGramStats(child: Expression, n: Int)
    extends GraftUnaryCall {
  override def prettyName: String = "graft_topgram"
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("top_n", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${t.simpleString}")
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  override protected def resultMayBeNull: Boolean = true
  def compute(v: UTF8String): InternalRow = {
    // limit -1 keeps trailing empties — Spark's split() semantics
    val toks = v.toString.split(" ", -1)
    val total = toks.length - n + 1
    if (total <= 0) return null
    val counts = new java.util.HashMap[String, Long](total * 2)
    var top = 0L
    var i = 0
    while (i < total) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      val key = sb.toString
      val c = counts.merge(key, 1L, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    InternalRow(total.toLong, top)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct-intersection COUNT of two string arrays — the verification
  * primitive of the dedup family's pair-carried-array shape
  * (Dedup.verifyJaccard). Hash-set probe of the smaller side against
  * the larger (O(|a|+|b|), no sort requirement); `remove` on match
  * makes the count a DISTINCT intersection even if an input carries
  * duplicates, matching `countDistinct` over the joined postings that
  * this replaces. One compiled call per row vs the exploded-posting
  * join's Σ|a| shuffled rows per pair.
  */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_isect"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<STRING>, ARRAY<STRING>), got (${l.simpleString}, ${r.simpleString})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  def compute(a: ArrayData, b: ArrayData): Int = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val set = new java.util.HashSet[UTF8String](n * 2)
    var i = 0
    while (i < n) { set.add(small.getUTF8String(i)); i += 1 }
    var c = 0
    i = 0
    val m = big.numElements()
    while (i < m) { if (set.remove(big.getUTF8String(i))) c += 1; i += 1 }
    c
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Splits a [[TextDigests]] blob back into its 16-byte blocks — the
  * posting keys of ngramJaccard's prefix pipeline (fixed 16-byte
  * BINARY keys shuffle and compare cheaper than shingle strings, and
  * any consistent total order is a valid ppjoin global order).
  */
case class DigestSplit(child: Expression)
    extends GraftUnaryCall {
  override def prettyName: String = "graft_digsplit"
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(blob: Array[Byte]): GenericArrayData = {
    require(blob.length % 16 == 0, s"digest blob length ${blob.length} not a multiple of 16")
    val m = blob.length / 16
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = java.util.Arrays.copyOfRange(blob, i * 16, i * 16 + 16)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[WordShingles]] ∘ `setDigestBlob` in ONE compiled call: the sorted
  * 16-byte-digest blob of a text's distinct word n-gram shingles,
  * straight from the string. Exists because a projection computing
  * several derived columns of `graft_shingles(text)` re-evaluates the
  * shingling per column — CollapseProject inlines the alias and
  * neither the interpreter nor codegen CSE rescues a CodegenFallback
  * expression (measured 3× shingle evals in ngramJaccard's famDocs
  * build: filter + size + digest blob). Callers cache (id, blob) and
  * derive the set size as length(blob)/16 from the cached attribute.
  * Fewer than n tokens → empty blob (zero bytes).
  */
case class TextDigests(child: Expression, n: Int)
    extends GraftUnaryCall {
  override def prettyName: String = "graft_textdig"
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(v: UTF8String): Array[Byte] =
    TextExpressions.setDigestBlob(TextExpressions.wordShingles(v, n))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-block truncation of a [[TextDigests]] blob: keeps the first
  * `width` bytes of every 16-byte block. Truncating a byte-sorted
  * sequence by a prefix of its sort key preserves sortedness, so the
  * result is a valid (collision-coarsened) input for [[IntersectEmit]]
  * at block size `width`. A truncation collision can only MERGE
  * blocks' identities, never split one — the merged min-multiplicity
  * count is an UPPER bound on the true intersection, which makes the
  * truncated pre-filter lossless (admits false candidates, never drops
  * a true pair). ngramJaccard carries 4-byte blocks through its
  * candidate join (4× less exchange payload than full digests) and
  * re-verifies the survivors — result-sized — on the 16-byte blobs.
  */
case class DigestTruncate(child: Expression, width: Int)
    extends GraftUnaryCall {
  require(width >= 1 && width <= 16, s"bad digest width $width")
  override def prettyName: String = "graft_digtrunc"
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(blob: Array[Byte]): Array[Byte] = {
    val m = blob.length / 16
    val out = new Array[Byte](m * width)
    var i = 0
    while (i < m) {
      System.arraycopy(blob, i * 16, out, i * width, width)
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Thresholded set intersection of two sorted digest blobs, shaped for
  * `explode()`: one merge pass over the sorted `blockBytes`-byte blocks
  * counts the common elements (min multiplicity per block value —
  * exact at 16 bytes, a lossless upper bound on truncated blobs), and
  * the result row (inter, union_n) is EMITTED only when inter/union ≥
  * threshold (double arithmetic, identical to the Column-level filter
  * it replaces). Exploding this array makes the verify a Generate —
  * the expression evaluates exactly ONCE per candidate row and there
  * is no residual filter for Catalyst to substitute into a join
  * condition (the r16 plan evaluated graft_isect three times per
  * candidate: twice inside the pushed-down SortMergeJoin condition,
  * once in the projection above it).
  */
case class IntersectEmit(left: Expression, right: Expression, threshold: Double,
                         blockBytes: Int)
    extends BinaryExpression {
  require(blockBytes >= 1 && blockBytes <= 16, s"bad block size $blockBytes")
  override def prettyName: String = "graft_isect_emit"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("inter", LongType, nullable = false),
    StructField("union_n", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BINARY, BINARY), got (${l.simpleString}, ${r.simpleString})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    IntersectEmit.merge(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]],
      threshold, blockBytes)

  // Real codegen (not CodegenFallback): one static call with natively
  // evaluated byte[] operands and folded parameters. This is the one
  // fused expression on the candidate-pair hot path (one eval per
  // candidate at sf2+), and as a CodegenFallback it also excluded its
  // whole stage — the candidate SMJ + Generate + pre-verify aggregate —
  // from whole-stage codegen (the r17 blob plan had a single codegen
  // span, the scan's ColumnarToRow).
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.IntersectEmit.merge($a, $b, $threshold, $blockBytes);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectEmit {
  /** The merge pass shared by interpreted eval and generated code. */
  def merge(a: Array[Byte], b: Array[Byte], threshold: Double, blockBytes: Int): ArrayData = {
    val na = a.length / blockBytes
    val nb = b.length / blockBytes
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      var k = 0
      var cmp = 0
      val oa = i * blockBytes
      val ob = j * blockBytes
      while (k < blockBytes && cmp == 0) {
        cmp = (a(oa + k) & 0xff) - (b(ob + k) & 0xff)
        k += 1
      }
      if (cmp == 0) { inter += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    val union = na.toLong + nb.toLong - inter
    if (union > 0 && inter * 1.0 / union >= threshold)
      new GenericArrayData(Array[Any](InternalRow(inter, union)))
    else new GenericArrayData(Array.empty[Any])
  }
}

/** Exact integer dot product of an ARRAY<BIGINT> column with a fixed
  * weight vector: Σ a[i]·w[i] in overflow-CHECKED long arithmetic
  * (throws like ANSI multiplication — the literal-folded
  * `Σ getItem(i)·lit(w_i)` twin errors on long overflow under Spark's
  * default ANSI mode, and silently wrapping here would diverge from it
  * on out-of-contract inputs). Weights are held in the EXPRESSION
  * INSTANCE instead of folded into the generated source: iterative
  * drivers (power iteration, perceptron-style updates) re-plan each
  * round with new weights, and literal-folded dots change the codegen
  * source every round (one recompile per round, and a 64-node Add tree
  * through the optimizer), while this form's source is round-invariant
  * so the codegen cache hits. An array SHORTER than the weight vector
  * is out of contract and returns NULL — a sentinel, never a silent
  * partial sum (the folded twin also never yields a partial sum
  * there). Extra array elements beyond the weights are ignored.
  *
  * Weights live in a JVM array for eval speed; equality/hashCode are
  * overridden to compare CONTENTS (a bare `Array` field compares by
  * identity, which would defeat semanticEquals-based reuse — CSE,
  * exchange/cache reuse — for two plans carrying the same weights).
  */
case class LongArrayDot(child: Expression, weights: Array[Long])
    extends UnaryExpression {
  override def prettyName: String = "graft_doti"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = computeBoxed(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
      val tmp = ctx.freshName("boxed")
      s"""java.lang.Long $tmp = $ref.computeBoxed($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         |""".stripMargin
    })

  def computeBoxed(a: ArrayData): java.lang.Long = {
    if (a.numElements() < weights.length) return null
    var acc = 0L
    var i = 0
    while (i < weights.length) {
      acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), weights(i)))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override def equals(other: Any): Boolean = other match {
    case LongArrayDot(c, w) => c == child && java.util.Arrays.equals(w, weights)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(weights)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Word-bigram pair structs of a single-space-tokenized text, in
  * position order with duplicates kept: element i =
  * struct(t1 = tok_i, term = tok_{i+1}) — bit-identical to the builtin
  * `transform(slice(ts, 1, size(ts)-1), (t, i) -> struct(t,
  * element_at(ts, i+2)))` over ts = split(text, " "), which ran as an
  * interpreted higher-order lambda with a per-element struct and
  * element_at dispatch (the dominant single job of q_bigram_nll's
  * corpus pass). Fewer than 2 tokens → empty array.
  */
case class BigramPairs(child: Expression)
    extends GraftUnaryCall {
  override def prettyName: String = "graft_bigrams"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("t1", StringType, nullable = true),
    StructField("term", StringType, nullable = true))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(v: UTF8String): GenericArrayData = {
    // limit -1 keeps trailing empties — Spark's split() semantics
    val toks = v.toString.split(" ", -1)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - 1)
    var i = 0
    while (i < toks.length - 1) {
      out(i) = InternalRow(UTF8String.fromString(toks(i)), UTF8String.fromString(toks(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Positional n-token span digests: md5 hex of every length-`n` token
  * window of a single-space-tokenized text, duplicates kept, in
  * position order — bit-identical to
  * `transform(sequence(1, T−n+1), i → md5(concat_ws(" ", slice(toks, i, n))))`
  * but one compiled call per row with a reused MessageDigest (the HOF
  * chain re-sliced and re-joined every window in the expression
  * interpreter and built a fresh digest per span — the dominant cost of
  * q_dup_spans). Fewer than n tokens → empty array.
  */
case class SpanHashes(child: Expression, n: Int)
    extends GraftUnaryCall {
  override def prettyName: String = "graft_spanhash"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
  override protected def callSource(ref: String, c: String): String = s"$ref.compute($c)"
  def compute(v: UTF8String): GenericArrayData = {
    val toks = v.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val md = TextExpressions.md5()
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      md.reset()
      md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(i) = UTF8String.fromString(TextExpressions.hex(md.digest()))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
