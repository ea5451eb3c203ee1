package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hot-loop kernels for the similarity operators, callable from generated
  * code (static-shaped methods referenced by fully-qualified name in
  * `doGenCode`). Keeps the whole stage inside codegen — the
  * higher-order-function formulation (`aggregate(zip_with(...))`)
  * interprets a lambda per element, which measured ~40× slower than
  * DuckDB's native loops on the 64-dim embedding fixtures.
  */
object VectorKernels {

  /** Dot product with double accumulation; elements may be float or
    * double arrays ((double)af * (double)bf equals cast-then-multiply
    * exactly, so results are bit-identical to the cast formulation).
    */
  def dot(a: ArrayData, b: ArrayData, isFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    }
    acc
  }

  /** Set Jaccard over string arrays with array_intersect/array_union
    * distinct semantics: |distinct(a) ∩ distinct(b)| / |distinct(a ∪ b)|.
    * Integer sizes divided as doubles — bit-identical in any engine.
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String]()
    var i = 0
    val na = a.numElements()
    while (i < na) { if (!a.isNullAt(i)) setA.add(a.getUTF8String(i)); i += 1 }
    val setB = new java.util.HashSet[UTF8String]()
    var inter = 0
    i = 0
    val nb = b.numElements()
    while (i < nb) {
      if (!b.isNullAt(i)) {
        val v = b.getUTF8String(i)
        if (setB.add(v) && setA.contains(v)) inter += 1
      }
      i += 1
    }
    val union = setA.size + setB.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Set Jaccard over two already-sorted, already-distinct string
    * arrays: a single allocation-free merge walk instead of two hash
    * sets per pair — ~2× on the all-pairs hot loop, where the kernel
    * runs once per candidate pair but sorting ran once per document.
    * Ordering must be `UTF8String.binaryCompare`, unsigned-byte order
    * (what `array_sort` produces); the walk calls it directly because
    * `compareTo` checks the test-mode environment on every call before
    * delegating to it. Results are bit-identical to [[jaccard]].
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Fraction of equal components between two long arrays — the
    * MinHash similarity estimator (Broder: P[sig components agree] =
    * Jaccard). One flat loop per candidate pair; the `zip_with` +
    * `filter` + `size` HOF spelling interprets three lambdas per
    * element.
    */
  def sigAgreement(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }

  /** 64-bit sign-random-projection signature (Charikar 2002 — SimHash
    * for vectors): bit i = sign(dot(v, h_i)) against pseudo-random ±1
    * hyperplanes streamed from splitmix64, so no plane is materialized
    * and the whole signature is one pass over the vector per plane.
    * Goemans–Williamson: P[bits agree] = 1 − angle/π, so shared
    * signature chunks bucket angularly-close vectors.
    */
  def srpSignature(v: ArrayData, isFloat: Boolean, seed: Long): Long = {
    var sig = 0L
    val n = v.numElements()
    var i = 0
    while (i < 64) {
      var acc = 0.0
      var j = 0
      var state = seed + i.toLong * 0x9E3779B97F4A7C15L
      while (j < n) {
        state += 0x9E3779B97F4A7C15L // splitmix64 stream
        var z = state
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        val comp = if ((z & 1L) == 1L) 1.0 else -1.0
        acc += comp *
          (if (isFloat) v.getFloat(j).toDouble else v.getDouble(j))
        j += 1
      }
      if (acc >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

/** dot(a, b) over array<float>/array<double>, codegen-enabled. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def elemType(e: Expression) = e.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }
  private lazy val isFloat = elemType(left) == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (FloatType, FloatType) | (DoubleType, DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dot_product requires two array<float> or two array<double>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.dot($a, $b, $isFloat);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Set Jaccard over array<string>, codegen-enabled. With
  * `assumeSorted` the inputs must be sorted+distinct (`array_sort ∘
  * array_distinct`) and the merge-walk kernel runs instead of the
  * hash-set one; values are bit-identical either way.
  */
case class SetJaccard(left: Expression, right: Expression,
    assumeSorted: Boolean = false)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"set_jaccard requires two array<string>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    if (assumeSorted)
      VectorKernels.jaccardSorted(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      VectorKernels.jaccard(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (assumeSorted) "jaccardSorted" else "jaccard"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.$kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SetJaccard =
    copy(left = newLeft, right = newRight)
}

/** sig_agreement(a, b) over two array<bigint> signatures, codegen. */
case class SigAgreement(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sig_agreement requires two array<bigint>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sigAgreement(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.sigAgreement($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreement =
    copy(left = newLeft, right = newRight)
}

/** srp_signature(v) over array<float>/array<double>, codegen-enabled. */
case class SrpSignature(child: Expression, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_signature requires array<float> or array<double>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    VectorKernels.srpSignature(input.asInstanceOf[ArrayData], isFloat, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorKernels.srpSignature($a, $isFloat, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): SrpSignature =
    copy(child = newChild)
}

/** Elementwise sum of double arrays (`TypedImperativeAggregate`) — the
  * centroid building block: sum/count = mean vector. Group state is one
  * double array of the vector dimension regardless of group size, and
  * partial aggregation is the same elementwise add, so map-side combine
  * applies — k-means recompute at 100 TB shuffles k·dim doubles per
  * map task, nothing more.
  */
case class VectorSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vector_sum requires array<double>, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buffer: Array[Double],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val buf = if (buffer.length == 0) new Array[Double](n) else buffer
    var i = 0
    val m = math.min(n, buf.length)
    while (i < m) { buf(i) += arr.getDouble(i); i += 1 }
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    if (b1.length == 0) return b2
    if (b2.length == 0) return b1
    var i = 0
    val m = math.min(b1.length, b2.length)
    while (i < m) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Double]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asDoubleBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSumAgg =
    copy(child = newChildren.head)
}

object VectorFunctions {
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def setJaccard(a: Column, b: Column): Column =
    ColumnBridge.column(
      SetJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  /** Merge-walk variant for sorted+distinct inputs (array_sort ∘
    * array_distinct) — bit-identical values, no per-pair allocation.
    */
  def setJaccardSorted(a: Column, b: Column): Column =
    ColumnBridge.column(
      SetJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b),
        assumeSorted = true))
  def srpSignature(v: Column, seed: Long = 42L): Column =
    ColumnBridge.column(SrpSignature(ColumnBridge.expression(v), seed))
  def sigAgreement(a: Column, b: Column): Column =
    ColumnBridge.column(
      SigAgreement(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  /** Aggregating elementwise sum over array<double> groups. */
  def vectorSum(v: Column): Column =
    ColumnBridge.column(
      VectorSumAgg(ColumnBridge.expression(v)).toAggregateExpression())
}
