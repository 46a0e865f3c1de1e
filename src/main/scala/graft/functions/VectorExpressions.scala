package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over `array<float>` /
  * `array<double>` columns.
  *
  * Rationale: Spark's higher-order functions (`zip_with` + `aggregate`)
  * express a dot product declaratively but are interpreted per element
  * (no whole-stage codegen for lambda bodies) — measured ~1 ms per
  * 64-dim pair, which dominates any similarity join. This expression
  * generates a tight primitive loop (`doGenCode`), keeping similarity
  * scoring inside codegen at ~100 ns per pair.
  *
  * Semantics exactly match the HOF formulation in
  * [[graft.operators.Similarity]]: elements widened to double, products
  * accumulated left-to-right (same IEEE result bit-for-bit).
  * Array elements are assumed non-null (embedding vectors).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    (elemType(left), elemType(right)) match {
      case (FloatType | DoubleType, FloatType | DoubleType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<float>/array<double> inputs, got ${left.dataType.sql} and ${right.dataType.sql}")
    }
  }

  @inline private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val lt = elemType(left)
    val rt = elemType(right)
    val n = math.min(la.numElements(), ra.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(la, i, lt) * get(ra, i, rt)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(v: String, i: String, t: DataType): String = t match {
      case FloatType => s"(double)$v.getFloat($i)"
      case _ => s"$v.getDouble($i)"
    }
    val lt = elemType(left)
    val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${getter(l, i, lt)} * ${getter(r, i, rt)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2-normalize a vector column in one pass — replaces the
  * `transform(v, x => x / norm)` HOF (interpreted per element) with a
  * codegen'd loop. Same IEEE arithmetic as the HOF form: squares
  * accumulated left-to-right in double, then one divide per element,
  * so results are bit-for-bit identical.
  */
case class VecNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_normalize requires array<float>/array<double>, got ${child.dataType.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val t = elemType
    val n = a.numElements()
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = t match {
        case FloatType => a.getFloat(i).toDouble
        case _ => a.getDouble(i)
      }
      out(i) = x
      acc += x * x
      i += 1
    }
    val nm = math.sqrt(acc)
    i = 0
    while (i < n) { out(i) /= nm; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elemType match {
      case FloatType => (v: String, i: String) => s"(double)$v.getFloat($i)"
      case _ => (v: String, i: String) => s"$v.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      val nm = ctx.freshName("nm")
      s"""
         |int $n = $v.numElements();
         |double[] $out = new double[$n];
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = ${getter(v, i)};
         |  $out[$i] = x;
         |  $acc += x * x;
         |}
         |double $nm = java.lang.Math.sqrt($acc);
         |for (int $i = 0; $i < $n; $i++) { $out[$i] /= $nm; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Elementwise vector subtraction → `array<double>` — the residual
  * encode `x − centroid(cell)` of classic IVFADC
  * ([[graft.operators.Similarity.ivfPqTopK]] `residual = true`) as one
  * codegen'd loop, replacing the interpreted
  * `zip_with(a, b, (x, y) => x − y)` HOF.
  *
  * Beyond speed, this PERMANENTLY retires the shared-lambda
  * concurrency hazard (PERF.md lesson 17): `zip_with` lambdas carry a
  * mutable `NamedLambdaVariable`, so concurrent driver-thread
  * evaluation of one shared plan produced silently nondeterministic
  * results (the regression test is OperatorsSpec's IVF-PQ residual
  * spec). A native expression holds no evaluation state —
  * concurrent evaluation is safe by construction.
  *
  * Arithmetic matches the HOF form bit-for-bit on equal-length
  * inputs: widen to double, subtract. Lengths are min-clamped like
  * [[VecDot]]; elements assumed non-null (embedding vectors).
  */
case class VecSub(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    (elemType(left), elemType(right)) match {
      case (FloatType | DoubleType, FloatType | DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vec_sub requires array<float>/array<double> inputs, got ${left.dataType.sql} and ${right.dataType.sql}")
    }
  }

  @inline private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val lt = elemType(left)
    val rt = elemType(right)
    val n = math.min(la.numElements(), ra.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = get(la, i, lt) - get(ra, i, rt)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(v: String, i: String, t: DataType): String = t match {
      case FloatType => s"(double)$v.getFloat($i)"
      case _ => s"$v.getDouble($i)"
    }
    val lt = elemType(left)
    val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = ${getter(l, i, lt)} - ${getter(r, i, rt)};
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override def prettyName: String = "vec_sub"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared shape for the vector × constant-matrix expressions: `vec` is
  * a row vector, `mat` a flattened row-major (numRows × dim) constant
  * matrix (dim = mat.length / numRows). One expression node replaces a
  * `greatest(struct(vec_dot(v, lit(row_0)), …), …)` tree of
  * numRows × dim literal nodes — the big win is PLANNING + codegen
  * time, which grows with expression-tree size and was measured at
  * ~2 s per k-means iteration for a 16×64 quantizer built from
  * literals.
  */
sealed trait VecMatExpression extends BinaryExpression {
  def vec: Expression
  def mat: Expression
  def numRows: Int
  override def left: Expression = vec
  override def right: Expression = mat

  protected def vecElemType: DataType = vec.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val matOk = mat.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    (vecElemType, matOk) match {
      case (FloatType | DoubleType, true) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, array<double>), got ${vec.dataType.sql}, ${mat.dataType.sql}")
    }
  }

  @inline protected def vget(a: ArrayData, i: Int): Double = vecElemType match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  protected def vgetter(v: String, i: String): String = vecElemType match {
    case FloatType => s"(double)$v.getFloat($i)"
    case _ => s"$v.getDouble($i)"
  }
}

/** Per-row dot products of `vec` against every row of the constant
  * matrix → `array<double>` of length numRows. The IVF/k-means "score
  * all cells" step as ONE codegen'd node.
  */
case class VecMatDots(vec: Expression, mat: Expression, numRows: Int)
    extends VecMatExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(v: Any, m: Any): Any = {
    val va = v.asInstanceOf[ArrayData]
    val ma = m.asInstanceOf[ArrayData]
    val dim = ma.numElements() / numRows
    val n = math.min(va.numElements(), dim)
    val out = new Array[Double](numRows)
    var c = 0
    while (c < numRows) {
      var acc = 0.0
      val off = c * dim
      var i = 0
      while (i < n) { acc += vget(va, i) * ma.getDouble(off + i); i += 1 }
      out(c) = acc
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val dim = ctx.freshName("dim")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val off = ctx.freshName("off")
      s"""
         |int $dim = $m.numElements() / $numRows;
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |double[] $out = new double[$numRows];
         |for (int $c = 0; $c < $numRows; $c++) {
         |  double $acc = 0.0;
         |  int $off = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ${vgetter(v, i)} * $m.getDouble($off + $i);
         |  }
         |  $out[$c] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, mat = newRight)
}

/** Argmax row index of `vec`'s dot against the constant matrix. Tie
  * rule: `>=` keeps the LAST maximum (highest row index), matching the
  * `greatest(struct(score, cell))` lexicographic tree it replaces.
  */
case class VecMatArgmax(vec: Expression, mat: Expression, numRows: Int)
    extends VecMatExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any, m: Any): Any = {
    val va = v.asInstanceOf[ArrayData]
    val ma = m.asInstanceOf[ArrayData]
    val dim = ma.numElements() / numRows
    val n = math.min(va.numElements(), dim)
    var best = 0
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < numRows) {
      var acc = 0.0
      val off = c * dim
      var i = 0
      while (i < n) { acc += vget(va, i) * ma.getDouble(off + i); i += 1 }
      if (acc >= bestS) { bestS = acc; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val dim = ctx.freshName("dim")
      val n = ctx.freshName("n")
      val best = ctx.freshName("best")
      val bestS = ctx.freshName("bestS")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val off = ctx.freshName("off")
      s"""
         |int $dim = $m.numElements() / $numRows;
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |int $best = 0;
         |double $bestS = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $numRows; $c++) {
         |  double $acc = 0.0;
         |  int $off = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ${vgetter(v, i)} * $m.getDouble($off + $i);
         |  }
         |  if ($acc >= $bestS) { $bestS = $acc; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, mat = newRight)
}

/** Random-hyperplane LSH signature: bit i of the result is
  * sign(vec · mat_row_i) >= 0. One node replaces numPlanes `when(
  * vec_dot(...) >= 0, 1L << i)` branches over literal arrays.
  */
case class VecMatSignBits(vec: Expression, mat: Expression, numRows: Int)
    extends VecMatExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any, m: Any): Any = {
    val va = v.asInstanceOf[ArrayData]
    val ma = m.asInstanceOf[ArrayData]
    val dim = ma.numElements() / numRows
    val n = math.min(va.numElements(), dim)
    var sig = 0L
    var c = 0
    while (c < numRows) {
      var acc = 0.0
      val off = c * dim
      var i = 0
      while (i < n) { acc += vget(va, i) * ma.getDouble(off + i); i += 1 }
      if (acc >= 0) sig |= (1L << c)
      c += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val dim = ctx.freshName("dim")
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val off = ctx.freshName("off")
      s"""
         |int $dim = $m.numElements() / $numRows;
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |long $sig = 0L;
         |for (int $c = 0; $c < $numRows; $c++) {
         |  double $acc = 0.0;
         |  int $off = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ${vgetter(v, i)} * $m.getDouble($off + $i);
         |  }
         |  if ($acc >= 0) $sig |= (1L << $c);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, mat = newRight)
}

/** Elementwise fixed-point vector sum aggregate: each input vector's
  * components are scaled by `scale` and floored to longs, then summed
  * per position into an `Array[Long]` buffer → `array<bigint>` of
  * length `dim`. Exact and associative (long adds), so the result is
  * bit-identical regardless of partial-aggregation merge order — the
  * property k-means training needs for deterministic models.
  *
  * Why an aggregate and not posexplode+sum: a projection feeding a
  * Generate gets pulled ABOVE it by the optimizer, so any expensive
  * expression computed alongside the explode (the argmax cell
  * assignment) is re-evaluated once PER ELEMENT — measured 64× the
  * work (38.8 s vs 2.2+1.6 s for the parts; PERF.md lesson 6's
  * projection-collapse trap, Generate edition). The aggregate keeps
  * the row narrow: 12.8 M exploded rows never exist, partial
  * aggregation ships numCells × dim longs per task.
  *
  * Overflow: components are assumed |x| ≤ scale-safe (normalized
  * vectors with scale 1e12 ⇒ per-row ≤ 1e12, so ≥ 9.2 M rows per
  * (cell) group before Long.MAX — and partial sums bound the group
  * size per task far below that in practice; callers at larger n
  * lower `scale`).
  */
case class VecFixedSum(child: Expression, dim: Int, scale: Double,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {

  require(dim > 0 && scale > 0)

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_fixed_sum requires array<float|double>, got ${t.sql}")
  }

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dim)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), dim)
      var i = 0
      while (i < n) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        buffer(i) += math.floor(x * scale).toLong
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dim) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buffer.clone())

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * dim)
    var i = 0
    while (i < dim) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](dim)
    var i = 0
    while (i < dim) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecFixedSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecFixedSum =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "vec_fixed_sum"
}

/** Derandomized Johnson-Lindenstrauss sign projection: 64-dim float
  * embedding → `k` exact fixed-point longs, out[j] = Σ_i sign(i,j) ·
  * floor(v[i]·scale). The ±1 "random" matrix is a pure integer
  * function of (i, j) — two xor-fold + odd-multiply rounds, sign from
  * bit 40 (all intermediates < 2^62, so the identical arithmetic runs
  * in DuckDB BIGINTs) — so BOTH engines (and every executor of a
  * 1000-node cluster, with no broadcast of a matrix) regenerate the
  * identical projection, and the fixed-point accumulation makes the
  * result bit-exact cross-engine (same floor-scale convention as
  * [[VecFixedSum]]). A single multiply round left the sign columns
  * ~0.94-correlated (the low-bit structure of linear congruences);
  * the committed mix measures max |column corr| 0.29-0.42, matching a
  * true-random sign matrix, with pairwise-cosine preservation equal
  * to numpy's RNG at the same k (OperatorsSpec floors it). Map-only:
  * the 100 TB shape is a projection pass that shrinks every embedding
  * 2× before ANN/clustering, with no shuffle and no model state.
  */
case class VecJLProject(child: Expression, k: Int, scale: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k > 0 && scale > 0)
  // Int64-exactness bound (round-6 advice): the cross-engine bit parity
  // holds only while every hash intermediate provably fits a signed
  // 64-bit integer. With h0 = i·65521 + j·131071 capped at 2^23−1,
  // h0^(h0>>8) < 2^23, h1 < 2^23·2654435761 < 2^55, and the final
  // multiply ≤ (2^31−1)·2654435761 ≈ 5.7e18 < 2^63 — so Java longs and
  // DuckDB BIGINTs compute identical values. Beyond the cap Java wraps
  // SILENTLY while the oracle errors or diverges; fail loudly instead.
  // k is checked here; the data-dependent input length in eval/codegen.
  require((k - 1).toLong * 131071L <= VecJLProject.MaxH0,
    s"vec_jl_project: k=$k exceeds the int64-exact hash bound")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_jl_project requires array<float>/array<double>, got ${child.dataType.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val t = elemType
    val n = a.numElements()
    if (n > 0 && (n - 1).toLong * 65521L + (k - 1).toLong * 131071L > VecJLProject.MaxH0)
      throw new IllegalArgumentException(
        s"vec_jl_project: dims=$n × k=$k exceeds the int64-exact hash bound")
    val out = new Array[Long](k)
    var i = 0
    while (i < n) {
      val x = t match {
        case FloatType => a.getFloat(i).toDouble
        case _ => a.getDouble(i)
      }
      val fixed = math.floor(x * scale).toLong
      var j = 0
      while (j < k) {
        val h0 = i.toLong * 65521L + j.toLong * 131071L
        val h1 = (h0 ^ (h0 >> 8)) * 2654435761L
        val h2 = ((h1 >> 24) ^ (h1 % 16777216L)) * 2654435761L
        out(j) += (if (((h2 >> 40) & 1L) == 0L) fixed else -fixed)
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elemType match {
      case FloatType => (v: String, i: String) => s"(double)$v.getFloat($i)"
      case _ => (v: String, i: String) => s"$v.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      val fixed = ctx.freshName("fixed")
      val h0 = ctx.freshName("h0")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      s"""
         |int $n = $v.numElements();
         |if ($n > 0 && ((long)($n - 1)) * 65521L + ${(k - 1).toLong * 131071L}L > ${VecJLProject.MaxH0}L)
         |  throw new IllegalArgumentException(
         |    "vec_jl_project: dims=" + $n + " x k=$k exceeds the int64-exact hash bound");
         |long[] $out = new long[$k];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $fixed = (long) java.lang.Math.floor(${getter(v, i)} * $scale);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $h0 = (long) $i * 65521L + (long) $j * 131071L;
         |    long $h1 = ($h0 ^ ($h0 >> 8)) * 2654435761L;
         |    long $h2 = (($h1 >> 24) ^ ($h1 % 16777216L)) * 2654435761L;
         |    $out[$j] += ((($h2 >> 40) & 1L) == 0L) ? $fixed : -$fixed;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "vec_jl_project"
}

object VecJLProject {
  /** Max allowed h0 = i·65521 + j·131071 (see the require above):
    * 2^23−1 keeps every downstream intermediate under 2^63. At k=32
    * this admits input dims up to 67 — the registered 64-dim shape
    * with headroom, and exactly the regime the scaladoc's parity
    * claim was verified in. */
  val MaxH0: Long = (1L << 23) - 1
}

/** Upper-triangle second-moment aggregate: accumulates the outer
  * product Σ_rows x⊗x into a fixed-point `Array[Long]` of length
  * dim·(dim+1)/2 (row-major upper triangle, (i,j≥i) at offset
  * i·dim − i(i−1)/2 + (j−i)) → `array<bigint>`. Together with
  * [[VecFixedSum]] (Σx) and a `count`, ONE scan of the data yields the
  * full covariance matrix C = M2/N − μμᵀ on the driver — the 100 TB
  * shape for PCA/whitening: the O(N·d²) multiply-adds happen inside
  * partial aggregation (no per-row d²-array is ever materialized — a
  * posexplode formulation would re-evaluate the outer product per
  * element, PERF.md lesson 6/12), only dim(dim+1)/2 longs per task
  * cross the network, and the d×d eigen-iteration runs driver-side on
  * a broadcast-free 32 KB matrix.
  *
  * Fixed-point longs make the sum exact and associative (merge-order
  * invariant, same convention as [[VecFixedSum]]): each product
  * x_i·x_j is floored at `scale`. Overflow headroom: unit-scale
  * components with scale 1e9 allow ~9.2e9 rows per group before
  * Long.MAX.
  */
case class VecOuterFixedSum(child: Expression, dim: Int, scale: Double,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {

  require(dim > 0 && scale > 0)
  private val tri = dim * (dim + 1) / 2

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_outer_fixed_sum requires array<float|double>, got ${t.sql}")
  }

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](tri)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), dim)
      val x = new Array[Double](n)
      var i = 0
      while (i < n) {
        x(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        i += 1
      }
      i = 0
      while (i < n) {
        val base = i * dim - i * (i - 1) / 2 - i
        var j = i
        while (j < n) {
          buffer(base + j) += math.floor(x(i) * x(j) * scale).toLong
          j += 1
        }
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < tri) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buffer.clone())

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * tri)
    var i = 0
    while (i < tri) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](tri)
    var i = 0
    while (i < tri) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecOuterFixedSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecOuterFixedSum =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "vec_outer_fixed_sum"
}

/** Column-level entry points for the native vector expressions. */
object VectorFunctions {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
  import org.apache.spark.sql.functions.lit

  def vec_dot(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))
  def vec_normalize(a: Column): Column =
    column(VecNormalize(expression(a)))
  /** Elementwise a − b → array<double> (codegen'd zip_with replacement). */
  def vec_sub(a: Column, b: Column): Column =
    column(VecSub(expression(a), expression(b)))

  private def flat(mat: Array[Array[Double]]): Column = lit(mat.flatten)

  /** vec · each row of the constant matrix → array<double>. */
  def vec_mat_dots(v: Column, mat: Array[Array[Double]]): Column =
    column(VecMatDots(expression(v), expression(flat(mat)), mat.length))

  /** argmax_row (vec · row); ties keep the highest row index. */
  def vec_mat_argmax(v: Column, mat: Array[Array[Double]]): Column =
    column(VecMatArgmax(expression(v), expression(flat(mat)), mat.length))

  /** H-bit hyperplane sign signature against the constant matrix. */
  def vec_mat_signbits(v: Column, mat: Array[Array[Double]]): Column =
    column(VecMatSignBits(expression(v), expression(flat(mat)), mat.length))

  /** Exact fixed-point elementwise sum of a vector column (aggregate). */
  def vec_fixed_sum(v: Column, dim: Int, scale: Double = 1e12): Column =
    column(VecFixedSum(expression(v), dim, scale).toAggregateExpression())

  /** Derandomized JL sign projection → array<long> of length k. */
  def vec_jl_project(v: Column, k: Int, scale: Double = 1e6): Column =
    column(VecJLProject(expression(v), k, scale))

  /** Exact fixed-point upper-triangle Σ x⊗x (aggregate) — one-pass
    * covariance input for driver-side eigen work. */
  def vec_outer_fixed_sum(v: Column, dim: Int, scale: Double = 1e9): Column =
    column(VecOuterFixedSum(expression(v), dim, scale).toAggregateExpression())
}
