package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup sketches (SURVEY.md §2.2
  * UDF/UDAF surface + north-star near-dedup). Single-pass over the token
  * array per row — the higher-order-function formulation would re-hash
  * every token once per hash function. Both expressions generate code
  * that calls a static kernel, so they stay inside whole-stage codegen
  * (a CodegenFallback here would split the surrounding stage).
  *
  * Uses Spark's own xxhash64 kernel, so single-seed results match
  * `xxhash64(token)` computed in SQL.
  */
object SketchKernels {

  /** Accumulates one token array's ±1 bit votes into a 64-slot buffer —
    * votes commute, so folding N arrays equals voting over their
    * concatenation (the multiset union). Vote totals are longs: they
    * cannot saturate at any corpus size.
    */
  def simhashVotesInto(votes: Array[Long], arr: ArrayData): Unit = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
  }

  /** Sign of each vote total → signature bit. */
  def votesToSig(votes: Array[Long]): Long = {
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** 64-bit SimHash: per token, xxhash64(seed 42); each bit votes ±1;
    * the sign of each vote total is the signature bit.
    */
  def simhash(arr: ArrayData): Long = {
    val votes = new Array[Long](64)
    simhashVotesInto(votes, arr)
    votesToSig(votes)
  }

  /** Folds one token array into an existing signature buffer —
    * elementwise min, so folding N arrays is the sketch of their union.
    */
  def minhashInto(sig: Array[Long], arr: ArrayData): Unit = {
    val numHashes = sig.length
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i)
        val h1 = XxHash64Function.hash(tok, StringType, 0x9E3779B9L)
        val h2 = XxHash64Function.hash(tok, StringType, 0x85EBCA6BL) | 1L
        var s = 0
        var h = h1
        while (s < numHashes) {
          if (h < sig(s)) sig(s) = h
          h += h2 // wraps mod 2^64
          s += 1
        }
      }
      i += 1
    }
  }

  /** One-pass k-gram hashing: each token is xxhash64'd ONCE, then each
    * gram hash is a boost-style hash_combine fold over its window of
    * token hashes — O(tokens·k) mixing with zero string allocation,
    * where the higher-order-function spelling allocates every gram
    * string (k concats each) and re-hashes ~k·len bytes per gram.
    * Same keepPartial contract as [[graft.ops.TextAnalysis.ngrams]]:
    * a sub-k array yields its one clipped gram (keepPartial) or
    * nothing, and a null element vanishes from its windows' folds —
    * matching concat_ws, which drops nulls, so gram-string equality ⟺
    * gram-hash equality even on null-bearing arrays. The derivation
    * differs from xxhash64-of-the-gram-string by design — gram keys
    * are internal identifiers; all that matters is injectivity w.h.p.
    * (collision odds ~grams²/2^64), and equal token windows always
    * produce equal hashes.
    */
  def ngramHashes(arr: ArrayData, n: Int, keepPartial: Boolean,
      seed: Long = 42L): ArrayData = {
    val cnt = arr.numElements()
    val th = new Array[Long](cnt)
    val isNull = new Array[Boolean](cnt)
    var i = 0
    while (i < cnt) {
      isNull(i) = arr.isNullAt(i)
      if (!isNull(i))
        th(i) = XxHash64Function.hash(arr.getUTF8String(i), StringType, seed)
      i += 1
    }
    val outLen = math.max(cnt - n + 1, if (keepPartial && cnt > 0) 1 else 0)
    val out = new Array[Long](outLen)
    var j = 0
    while (j < outLen) {
      var h = 0x9E3779B97F4A7C15L
      var t = j
      val end = math.min(j + n, cnt)
      while (t < end) {
        if (!isNull(t))
          h = h ^ (th(t) + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
        t += 1
      }
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass md5-hex k-grams — the PORTABLE gram key (the x49/x100
    * oracle spelling `md5(array_to_string(toks[i+1:i+k], ' '))`) as a
    * flat JVM loop: token bytes are materialized once, each window
    * digests bytes directly (separator included), and the hex encode
    * writes straight into the output UTF8String — replacing the
    * interpreted `transform(ngrams(...), md5)` HOF chain, which
    * survives as the executable spec (property-pinned in
    * KernelPropertySpec). Null elements vanish from their windows'
    * grams exactly as concat_ws drops them. keepPartial=false
    * semantics only (what every md5-gram consumer uses): sub-k arrays
    * yield no grams.
    */
  def ngramMd5(arr: ArrayData, n: Int): ArrayData = {
    val cnt = arr.numElements()
    val m = cnt - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val tb = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) {
      tb(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = Md5Local.get()
    val out = new Array[Any](m)
    var p = 0
    while (p < m) {
      md.reset()
      var first = true
      var j = p
      val end = p + n
      while (j < end) {
        if (tb(j) != null) {
          if (!first) md.update(' '.toByte)
          md.update(tb(j))
          first = false
        }
        j += 1
      }
      val d = md.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HexDigits((d(b) >> 4) & 0xF)
        hex(2 * b + 1) = HexDigits(d(b) & 0xF)
        b += 1
      }
      out(p) = org.apache.spark.unsafe.types.UTF8String.fromBytes(hex)
      p += 1
    }
    new GenericArrayData(out)
  }

  private val HexDigits: Array[Byte] =
    "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  // one digest instance per task thread — getInstance per ROW would
  // pay a provider lookup in the hot loop
  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The engine's portable rolling fingerprint — byte-for-byte the
    * arithmetic of [[graft.ops.TextAnalysis.fingerprint]]'s documented
    * fold (acc·31 + codepoint, mod 2³¹ — codePointAt matches both
    * Spark's split("")/ascii() pair, whose regex split is code-point
    * aware, and the oracle's string_split/ord) as one flat JVM loop
    * instead of a per-character interpreted aggregate lambda.
    */
  def rollingFingerprint(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 2147483648L
      i += Character.charCount(cp)
    }
    acc
  }

  /** MinHash signature via the double-hashing construction (Kirsch &
    * Mitzenmacher 2006): h_i(x) = h1(x) + i*h2(x) over two xxhash64
    * seeds; signature[i] = min over tokens (Broder 1997 estimator).
    * Empty/all-null arrays → Long.MaxValue components.
    */
  def minhash(arr: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill[Long](numHashes)(Long.MaxValue)
    minhashInto(sig, arr)
    new GenericArrayData(sig)
  }

  /** Distinct minima of every width-`w` sliding window over an
    * array<string>, first-occurrence order — the winnowing selection
    * step ([[graft.ops.TextAnalysis.winnowingFingerprints]]) as ONE
    * monotonic-deque pass: amortized O(length) comparisons total,
    * replacing the zip_with chain's w−1 intermediate arrays and
    * O(length·w) `least()` evaluations. Binary UTF8String comparison ==
    * the lexicographic min both engines take on md5 hex digests.
    * Arrays shorter than `w` (and the chain's null tail-padding, which
    * the slice cut before any window could see it) yield no windows.
    */
  def windowMinDistinct(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val vals = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      vals(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    // deque of candidate indices, values strictly increasing front→back;
    // a null never enters (least() skips nulls — same contract)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.HashSet[UTF8String]
    val out = new java.util.ArrayList[UTF8String]
    i = 0
    while (i < n) {
      if (vals(i) != null) {
        while (tail > head && vals(dq(tail - 1)).compareTo(vals(i)) >= 0)
          tail -= 1
        dq(tail) = i
        tail += 1
      }
      if (tail > head && dq(head) <= i - w) head += 1
      if (i >= w - 1 && tail > head) {
        val m = vals(dq(head))
        if (seen.add(m)) out.add(m)
      }
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }
}

/** 64-bit SimHash over an array<string> of tokens. Near-duplicate texts
  * differ in few bits (small Hamming distance). Null tokens are skipped;
  * null array → null.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string>, got ${other.catalogString}")
    }
  }
  override def nullSafeEval(input: Any): Any =
    SketchKernels.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SketchKernels.simhash($a);")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** MinHash signature over an array<string> of shingles; see
  * [[SketchKernels.minhash]].
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires array<string>, got ${other.catalogString}")
    }
  }
  override def nullSafeEval(input: Any): Any =
    SketchKernels.minhash(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SketchKernels.minhash($a, $numHashes);")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** One-pass hashed k-grams over an array<string> of tokens; see
  * [[SketchKernels.ngramHashes]]. The production key path for shingle
  * joins (contamination) and per-row gram statistics (repetition): the
  * string-gram spelling exists for oracles; pipelines that only need
  * gram IDENTITY use this.
  */
case class NGramHashes(child: Expression, n: Int, keepPartial: Boolean,
    seed: Long = 42L)
    extends UnaryExpression {
  require(n >= 1, "n must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"ngram_hashes requires array<string>, got ${other.catalogString}")
    }
  }
  override def nullSafeEval(input: Any): Any =
    SketchKernels.ngramHashes(input.asInstanceOf[ArrayData], n, keepPartial,
      seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SketchKernels.ngramHashes(" +
        s"$a, $n, $keepPartial, ${seed}L);")
  override protected def withNewChildInternal(newChild: Expression): NGramHashes =
    copy(child = newChild)
}

/** md5-hex k-grams over an array<string>; see [[SketchKernels.ngramMd5]].
  * Null array → null.
  */
case class NGramMd5(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"ngram_md5 requires array<string>, got ${other.catalogString}")
    }
  }
  override def nullSafeEval(input: Any): Any =
    SketchKernels.ngramMd5(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SketchKernels.ngramMd5($a, $n);")
  override protected def withNewChildInternal(newChild: Expression): NGramMd5 =
    copy(child = newChild)
}

/** Distinct sliding-window minima over an array<string>; see
  * [[SketchKernels.windowMinDistinct]]. Null array → null.
  */
case class WindowMinDistinct(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, "w must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"window_min_distinct requires array<string>, got " +
          other.catalogString)
    }
  }
  override def nullSafeEval(input: Any): Any =
    SketchKernels.windowMinDistinct(input.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SketchKernels.windowMinDistinct($a, $w);")
  override protected def withNewChildInternal(
      newChild: Expression): WindowMinDistinct =
    copy(child = newChild)
}

/** Rolling fingerprint of a string; see
  * [[SketchKernels.rollingFingerprint]]. Null string → null.
  */
case class RollingFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = {
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"rolling_fingerprint requires string, got ${other.catalogString}")
    }
  }
  override def nullSafeEval(input: Any): Any =
    SketchKernels.rollingFingerprint(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SketchKernels.rollingFingerprint($a);")
  override protected def withNewChildInternal(
      newChild: Expression): RollingFingerprint = copy(child = newChild)
}

/** Group-level MinHash sketch (the UDAF declared in SURVEY.md §2.2): a
  * `TypedImperativeAggregate` that folds every row's token array into
  * one signature — the sketch of the UNION of the group's token sets,
  * since MinHash is an elementwise-min semilattice. Partial aggregation
  * is the same elementwise min, so map-side combine applies and the
  * shuffled state per group is exactly `numHashes` longs regardless of
  * corpus size — the property that makes corpus-level sketching viable
  * at 100 TB.
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_agg requires array<string>, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) SketchKernels.minhashInto(buffer, v.asInstanceOf[ArrayData])
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
}

/** Group-level SimHash (MinHashAgg's SimHash sibling): the aggregate
  * buffer is the 64 per-bit vote totals, so update order is irrelevant
  * (votes commute) and the result equals `simhash64` of the
  * concatenation of the group's token arrays. Partial aggregation is
  * vote addition — map-side combine applies and the shuffled state per
  * group is exactly 64 longs regardless of corpus size.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_agg requires array<string>, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      SketchKernels.simhashVotesInto(buffer, v.asInstanceOf[ArrayData])
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any =
    SketchKernels.votesToSig(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(child = newChildren.head)
}

object HashFunctions {
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))
  def minhashSig(tokens: Column, numHashes: Int = 64): Column =
    ColumnBridge.column(
      MinHashSig(ColumnBridge.expression(tokens), numHashes))
  def ngramHashes(tokens: Column, n: Int,
      keepPartial: Boolean = false, seed: Long = 42L): Column =
    ColumnBridge.column(
      NGramHashes(ColumnBridge.expression(tokens), n, keepPartial, seed))
  def rollingFingerprint(s: Column): Column =
    ColumnBridge.column(RollingFingerprint(ColumnBridge.expression(s)))
  /** md5-hex k-grams (keepPartial=false), the portable gram key. */
  def ngramMd5(tokens: Column, n: Int): Column =
    ColumnBridge.column(NGramMd5(ColumnBridge.expression(tokens), n))
  /** Distinct width-`w` sliding-window minima, first-occurrence order. */
  def windowMinDistinct(hashes: Column, w: Int): Column =
    ColumnBridge.column(
      WindowMinDistinct(ColumnBridge.expression(hashes), w))
  /** Aggregating form: one signature per group = sketch of the union of
    * the group's token sets.
    */
  def minhashAgg(tokens: Column, numHashes: Int = 64): Column =
    ColumnBridge.column(
      MinHashAgg(ColumnBridge.expression(tokens), numHashes)
        .toAggregateExpression())
}
