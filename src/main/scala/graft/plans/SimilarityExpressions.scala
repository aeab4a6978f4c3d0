package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for embedding arithmetic.
  *
  * Why these exist: a 64-dim dot product written as builtin expressions
  * is a ~190-node tree of `element_at`/cast/multiply/add; three of those
  * per cosine inside a join's consume path blew Janino's 64 KB method
  * limit in round 1, silently degrading the hottest ANN queries to
  * interpreted execution. A fused expression generates a LOOP — a few
  * dozen bytecodes regardless of dimensionality — and stays inside
  * WholeStageCodegen at any `dims`.
  *
  * Exactness contract (vs the unrolled DuckDB oracle chains): the loop
  * accumulates strictly left-to-right starting from +0.0; `0.0 + t1`
  * is bit-identical to `t1` for any non-(−0.0) first term, so the loop
  * reproduces the left-associated unrolled chain `((t1+t2)+t3)…`
  * bit-for-bit. Element casts float→double are exact.
  */
/** Fused dot product of two float/double array columns, left-to-right
  * accumulation. Iterates min(|a|, |b|, cap) elements (cap < 0 = no
  * cap) — the cap carries [[graft.operators.Similarity.dot]]'s
  * truncate-to-`dims` contract into the fused loop. Elements are
  * assumed non-null (embedding columns are dense).
  */
case class ArrayDotProduct(left: Expression, right: Expression, cap: Int = -1)
    extends BinaryExpression {
  override def prettyName: String = "graft_dot"
  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT|DOUBLE> arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val lt = elemType(left)
    val rt = elemType(right)
    var n = math.min(la.numElements(), ra.numElements())
    if (cap >= 0 && cap < n) n = cap
    var s = 0.0
    var i = 0
    while (i < n) { s += get(la, lt, i) * get(ra, rt, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("sum")
      val lv = CodeGenerator.getValue(l, elemType(left), i)
      val rv = CodeGenerator.getValue(r, elemType(right), i)
      val capped =
        if (cap >= 0) s"java.lang.Math.min($cap, java.lang.Math.min($l.numElements(), $r.numElements()))"
        else s"java.lang.Math.min($l.numElements(), $r.numElements())"
      s"""int $n = $capped;
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double)($lv) * (double)($rv);
         |}
         |${ev.value} = $s;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused random-hyperplane LSH signature: `bits` chars of '0'/'1', bit b
  * = sign of the projection onto hyperplane b. The coefficient matrix
  * ([[graft.operators.Similarity.planeCoef]], 1-based dim index) is
  * precomputed once per expression instance and shipped as a codegen
  * reference object — the builtin form re-derived every coefficient as a
  * literal node, bits×dims of them per row.
  */
case class HyperplaneSig(child: Expression, bits: Int, dims: Int)
    extends UnaryExpression {
  override def prettyName: String = "graft_hsig"
  override def dataType: DataType = StringType

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE>, got ${t.simpleString}")
  }

  @transient private lazy val coefs: Array[Double] = {
    val a = new Array[Double](bits * dims)
    var b = 0
    while (b < bits) {
      var i = 0
      while (i < dims) {
        a(b * dims + i) = graft.operators.Similarity.planeCoef(b, i + 1, dims)
        i += 1
      }
      b += 1
    }
    a
  }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val t = elemType
    val n = math.min(dims, arr.numElements())
    val out = new Array[Byte](bits)
    var b = 0
    while (b < bits) {
      var p = 0.0
      val base = b * dims
      var i = 0
      while (i < n) {
        val e = t match {
          case FloatType => arr.getFloat(i).toDouble
          case _ => arr.getDouble(i)
        }
        p += coefs(base + i) * e
        i += 1
      }
      out(b) = if (p > 0) '1' else '0'
      b += 1
    }
    UTF8String.fromBytes(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val coefRef = ctx.addReferenceObj("hsigCoefs", coefs, "double[]")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val p = ctx.freshName("proj")
      val base = ctx.freshName("base")
      val out = ctx.freshName("out")
      val ev_ = CodeGenerator.getValue(c, elemType, i)
      s"""int $n = java.lang.Math.min($dims, $c.numElements());
         |byte[] $out = new byte[$bits];
         |for (int $b = 0; $b < $bits; $b++) {
         |  double $p = 0.0;
         |  int $base = $b * $dims;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $p += $coefRef[$base + $i] * (double)($ev_);
         |  }
         |  $out[$b] = $p > 0 ? (byte)'1' : (byte)'0';
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($out);
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Maximal-marginal-relevance selection (Carbonell & Goldstein, SIGIR
  * 1998) over a BOUNDED candidate pool that has been packed into one
  * row: pick `k` items maximizing
  * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d,s)`, λ in ppm, rel/sim as
  * exact micro-cosine integers — so every score is exact long
  * arithmetic (|λppm·relμ| ≤ 1e12) and ties break to the smaller id,
  * reproducible against an unrolled-CTE SQL oracle.
  *
  * Why an expression and not a plan: the pool is already top-N bounded
  * (the distributed work — scoring the corpus — happened upstream), so
  * selection is O(N·k + N²) on ONE row. The relational alternative is k
  * driver-looped argmax jobs; the HOF alternative interprets nested
  * array scans. One compiled call keeps the finisher inside codegen.
  *
  * Input: struct of five parallel long arrays — candidate ids and
  * rel_micro (pool order), and the pairwise sim_micro triples
  * (idx_a, idx_b, sim) with 0-based pool indices, a < b. Output:
  * array<struct<vec_id, rel_micro, mmr_raw>> in selection order, where
  * `mmr_raw` is the exact λppm·relμ − (1e6−λppm)·maxsimμ the item was
  * selected at (first pick: no penalty term).
  */
case class MmrSelect(child: Expression, k: Int, lambdaPpm: Long)
    extends UnaryExpression {
  override def prettyName: String = "graft_mmr"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("rel_micro", LongType, nullable = false),
    StructField("mmr_raw", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(fs) if fs.length == 5 && fs.forall(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRUCT of five ARRAY<BIGINT> (ids, rels, " +
        s"pair_a, pair_b, pair_sim), got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val r = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    MmrSelect.select(r.getArray(0), r.getArray(1), r.getArray(2),
      r.getArray(3), r.getArray(4), k, lambdaPpm)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.plans.MmrSelect.select(
         |  $c.getArray(0), $c.getArray(1), $c.getArray(2),
         |  $c.getArray(3), $c.getArray(4), $k, ${lambdaPpm}L);
         |""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object MmrSelect {
  /** The O(N² + N·k) greedy MMR loop — static so generated code can
    * call it directly (the selection runs once per query, not per
    * corpus row; the loop body is not worth inlining into codegen).
    */
  def select(ids: ArrayData, rels: ArrayData, pa: ArrayData, pb: ArrayData,
             ps: ArrayData, k: Int, lambdaPpm: Long): ArrayData = {
    val n = ids.numElements()
    val sim = new Array[Long](n * n)
    var p = 0
    val m = pa.numElements()
    while (p < m) {
      val a = pa.getLong(p).toInt
      val b = pb.getLong(p).toInt
      val s = ps.getLong(p)
      sim(a * n + b) = s
      sim(b * n + a) = s
      p += 1
    }
    val used = new Array[Boolean](n)
    val maxSim = new Array[Long](n) // valid only after the first pick
    val penalty = 1000000L - lambdaPpm
    val kk = math.min(k, n)
    val out = new Array[Any](kk)
    var step = 0
    while (step < kk) {
      var best = -1
      var bestScore = Long.MinValue
      var bestId = Long.MaxValue
      var j = 0
      while (j < n) {
        if (!used(j)) {
          val score =
            if (step == 0) lambdaPpm * rels.getLong(j)
            else lambdaPpm * rels.getLong(j) - penalty * maxSim(j)
          val id = ids.getLong(j)
          if (score > bestScore || (score == bestScore && id < bestId)) {
            best = j; bestScore = score; bestId = id
          }
        }
        j += 1
      }
      used(best) = true
      out(step) = org.apache.spark.sql.catalyst.InternalRow(
        bestId, rels.getLong(best), bestScore)
      var j2 = 0
      while (j2 < n) {
        if (!used(j2)) {
          val s = sim(best * n + j2)
          if (step == 0 || s > maxSim(j2)) maxSim(j2) = s
        }
        j2 += 1
      }
      step += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sign-bit binary quantization: packs the signs of the first `dims`
  * elements (bit set iff element > 0) into ⌈dims/32⌉ long words, 32
  * bits per word — every word is in [0, 2³²), so XOR/popcount over the
  * codes involves no sign-bit edge cases in either engine, and the
  * identical packing is expressible in oracle SQL as a left-associated
  * CASE-sum per word.
  *
  * This is the 1-bit end of the quantization ladder (float32 → SQ8 →
  * PQ → BQ): 64 dims become 8 BYTES per vector, and candidate
  * generation is two XOR+POPCNT instructions per row inside
  * whole-stage codegen — the cheapest possible full-corpus scan, with
  * exact rerank confined to the shortlist.
  */
case class BqPack(child: Expression, dims: Int) extends UnaryExpression {
  override def prettyName: String = "graft_bqpack"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    BqPack.pack(v.asInstanceOf[ArrayData], elemType == FloatType, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val isFloat = elemType == FloatType
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.BqPack.pack($c, $isFloat, $dims);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BqPack {
  /** Static packing loop — one branchless pass over the elements; the
    * generated code calls it directly (the JIT inlines a monomorphic
    * static call, and the loop is too small to matter either way).
    */
  def pack(a: ArrayData, isFloat: Boolean, dims: Int): ArrayData = {
    val n = math.min(dims, a.numElements())
    val words = new Array[Long]((dims + 31) >> 5)
    var i = 0
    while (i < n) {
      val e = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      if (e > 0) words(i >> 5) |= 1L << (i & 31)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }
}

object SimilarityExpressions {
  private def intLit(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case o => throw new IllegalArgumentException(s"expected integer literal, got $o")
  }

  private def longLit(e: Expression): Long = e.eval(null) match {
    case i: Int => i.toLong
    case l: Long => l
    case o => throw new IllegalArgumentException(s"expected integer literal, got $o")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es =>
      if (es.length >= 3) ArrayDotProduct(es(0), es(1), intLit(es(2)))
      else ArrayDotProduct(es(0), es(1))),
    "graft_hsig" -> (es => HyperplaneSig(es(0), intLit(es(1)), intLit(es(2)))),
    "graft_mmr" -> (es => MmrSelect(es(0), intLit(es(1)), longLit(es(2)))),
    "graft_bqpack" -> (es => BqPack(es(0), intLit(es(1)))))
}
