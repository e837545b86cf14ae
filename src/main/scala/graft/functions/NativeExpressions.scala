package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with `doGenCode`) for the vector/signature
  * hot paths where composing built-in higher-order functions leaves
  * per-element lambda overhead. These stay inside whole-stage codegen: the
  * generated Java is a tight primitive loop over the columnar array data.
  *
  * Used by the non-oracled fast paths; the t2 oracle queries keep the
  * DECIMAL-exact HOF formulation (bit-identical across engines). The fused
  * float dot product is the 100 TB workhorse: scoring N embeddings is one
  * codegen stage, no shuffle, no boxing.
  *
  * `hamming` and `first_chunk_within` operate on SIGNATURE BIT STRINGS —
  * the form a caller holds when signatures come from an external system.
  * Their in-repo production caller is the string-signature simhash join
  * (`Dedup.simhashNearDupPairsStr`, the `simhash_neardup_pairs_strsig`
  * key), which uses `first_chunk_within` as the band predicate and
  * `hamming` as the verify predicate inside the join condition; the
  * word-packed simhash keys use built-in `bit_count(xor)` instead.
  */
object NativeExpressions {

  /** dot(Array[Float], Array[Float]) → Double, sequential accumulation. */
  case class FloatVectorDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "float_dot"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == ArrayType(FloatType, containsNull = true) ||
        left.dataType == ArrayType(FloatType, containsNull = false))
        if (right.dataType == ArrayType(FloatType, containsNull = true) ||
          right.dataType == ArrayType(FloatType, containsNull = false))
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"float_dot right argument must be array<float>, got ${right.dataType}")
      else TypeCheckResult.TypeCheckFailure(
        s"float_dot left argument must be array<float>, got ${left.dataType}")

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** l2_sq(Array[Float], Array[Double]) → Double: squared L2 distance as
    * the SAME sequential left-to-right IEEE accumulation as the HOF
    * formulation `aggregate(zip_with(e, c, (x,y) -> (double(x)-y)²), 0.0,
    * acc+x)` — bit-identical result, one compiled loop instead of ~4
    * interpreted lambda calls per element. Rounding stays OUTSIDE (callers
    * wrap in the built-in `round(_, 9)`), so the oracle contract
    * (rounded sequential double sums) is untouched. The k-means
    * assignment hot path (every vector × every centroid, per Lloyd
    * iteration and per index probe) evaluates this once per cell.
    */
  case class FloatDoubleL2Sq(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "l2_sq"

    private def isArrayOf(dt: DataType, et: DataType): Boolean = dt match {
      case ArrayType(e, _) => e == et
      case _ => false
    }

    override def checkInputDataTypes(): TypeCheckResult =
      if (isArrayOf(left.dataType, FloatType) &&
        isArrayOf(right.dataType, DoubleType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"l2_sq expects (array<float>, array<double>), got " +
          s"(${left.dataType}, ${right.dataType})")

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = x.getFloat(i).toDouble - y.getDouble(i)
        s += d * d
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val d = ctx.freshName("d")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = (double) $a.getFloat($i) - $b.getDouble($i);
           |  $s += $d * $d;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** hamming(String, String) → Int over equal-length signatures (SimHash
    * bit-strings); counts differing bytes, plus the length difference if
    * lengths differ.
    */
  case class HammingDistance(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "hamming"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"hamming expects (string, string), got (${left.dataType}, ${right.dataType})")

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[UTF8String].getBytes
      val y = b.asInstanceOf[UTF8String].getBytes
      val n = math.min(x.length, y.length)
      var d = math.abs(x.length - y.length)
      var i = 0
      while (i < n) { if (x(i) != y(i)) d += 1; i += 1 }
      d
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val xa = ctx.freshName("xa")
        val ya = ctx.freshName("ya")
        val n = ctx.freshName("n")
        val d = ctx.freshName("d")
        s"""
           |byte[] $xa = $a.getBytes();
           |byte[] $ya = $b.getBytes();
           |int $n = java.lang.Math.min($xa.length, $ya.length);
           |int $d = java.lang.Math.abs($xa.length - $ya.length);
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($xa[$i] != $ya[$i]) $d++;
           |}
           |${ev.value} = $d;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Single pass of `firstChunkWithin`: split the common prefix of x/y into
    * `m` near-equal chunks (earlier chunks get the remainder) and return the
    * first chunk index whose byte-Hamming distance is ≤ t, else -1. Shared
    * by interpreted eval and the generated code (static call — no
    * allocations beyond the operands' own getBytes).
    */
  def firstChunkJava(x: Array[Byte], y: Array[Byte], m: Int, t: Int): Int = {
    val n = math.min(x.length, y.length)
    val base = n / m
    val rem = n % m
    var pos = 0
    var c = 0
    while (c < m) {
      val len = base + (if (c < rem) 1 else 0)
      var d = 0
      var i = pos
      val end = pos + len
      while (i < end && d <= t) { if (x(i) != y(i)) d += 1; i += 1 }
      if (d <= t) return c
      pos = end
      c += 1
    }
    -1
  }

  /** first_chunk_within(sig_a, sig_b, m, t) → Int: first of `m` near-equal
    * chunks of the signatures whose Hamming distance is ≤ t, else -1. The
    * one-pass fused form of `m` substring+hamming calls — the candidate
    * uniqueness test of the simhash near-dup join evaluates this once per
    * joined row, so allocation-free matters.
    */
  case class FirstChunkWithin(
      sig1: Expression, sig2: Expression,
      numChunks: Expression, threshold: Expression) extends Expression {
    override def children: Seq[Expression] = Seq(sig1, sig2, numChunks, threshold)
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = sig1.nullable || sig2.nullable
    override def prettyName: String = "first_chunk_within"

    override def checkInputDataTypes(): TypeCheckResult =
      if (sig1.dataType == StringType && sig2.dataType == StringType &&
        numChunks.dataType == IntegerType && threshold.dataType == IntegerType &&
        numChunks.foldable && threshold.foldable)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "first_chunk_within expects (string, string, int literal, int literal)")

    private lazy val m = numChunks.eval().asInstanceOf[Int]
    private lazy val t = threshold.eval().asInstanceOf[Int]

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val a = sig1.eval(input)
      val b = sig2.eval(input)
      if (a == null || b == null) null
      else firstChunkJava(
        a.asInstanceOf[UTF8String].getBytes,
        b.asInstanceOf[UTF8String].getBytes, m, t)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.{FalseLiteral, JavaCode}
      val c1 = sig1.genCode(ctx)
      val c2 = sig2.genCode(ctx)
      val value = JavaCode.variable(ctx.freshName("value"), IntegerType)
      if (nullable) {
        val isNull = JavaCode.isNullVariable(ctx.freshName("isNull"))
        ev.copy(code =
          code"""
            |${c1.code}
            |${c2.code}
            |boolean $isNull = ${c1.isNull} || ${c2.isNull};
            |int $value = -1;
            |if (!$isNull) {
            |  $value = graft.functions.NativeExpressions.firstChunkJava(
            |    ${c1.value}.getBytes(), ${c2.value}.getBytes(), $m, $t);
            |}
          """.stripMargin, isNull = isNull, value = value)
      } else {
        ev.copy(code =
          code"""
            |${c1.code}
            |${c2.code}
            |int $value = graft.functions.NativeExpressions.firstChunkJava(
            |  ${c1.value}.getBytes(), ${c2.value}.getBytes(), $m, $t);
          """.stripMargin, isNull = FalseLiteral, value = value)
      }
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(sig1 = newChildren(0), sig2 = newChildren(1),
        numChunks = newChildren(2), threshold = newChildren(3))
  }

  /** Winnowing minima of one document in a single compiled pass — the
    * per-row core of `Dedup.winnowFingerprints`. Exactly mirrors the HOF
    * formulation (and the DuckDB oracle): k-gram polynomial hash
    * `Σ codepoint(s[i+j])·base^j mod 2^40` (one mod at the end — the sum
    * stays inside Long for base 131, k 8, ASCII text), trailing-window
    * minimum per position (monotonic deque, O(n)), first-occurrence
    * distinct. Interpreted per-character lambdas made the HOF version the
    * bench's #2 key; one compiled loop per row replaces ~4000 lambda
    * invocations per document.
    */
  def winnowJava(s: UTF8String, k: Int, w: Int, base: Long): Array[Long] = {
    val str = s.toString
    val n = str.length
    if (n < k) return Array.emptyLongArray
    val mod = 1L << 40
    val powers = new Array[Long](k)
    powers(0) = 1L
    var j = 1
    while (j < k) { powers(j) = powers(j - 1) * base; j += 1 }
    val L = n - k + 1
    val hs = new Array[Long](L)
    var i = 0
    while (i < L) {
      var acc = 0L
      var p = 0
      while (p < k) { acc += str.charAt(i + p).toLong * powers(p); p += 1 }
      hs(i) = acc % mod
      i += 1
    }
    // trailing-window minima via monotonic deque (indices, increasing hash)
    val deque = new Array[Int](L)
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i < L) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      seen.add(hs(deque(head)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** winnow_minima(text, k, window, base) → array<bigint>: the distinct
    * winnowing fingerprints of one document. CodegenFallback on purpose —
    * the expression is evaluated once per ROW and does all its work in one
    * compiled helper, so whole-stage-codegen integration buys nothing.
    */
  case class WinnowMinima(
      text: Expression, kExpr: Expression,
      wExpr: Expression, baseExpr: Expression) extends Expression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def children: Seq[Expression] = Seq(text, kExpr, wExpr, baseExpr)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = text.nullable
    override def prettyName: String = "winnow_minima"

    override def checkInputDataTypes(): TypeCheckResult =
      if (text.dataType == StringType && kExpr.dataType == IntegerType &&
        wExpr.dataType == IntegerType && baseExpr.dataType == IntegerType &&
        kExpr.foldable && wExpr.foldable && baseExpr.foldable)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "winnow_minima expects (string, int literal, int literal, int literal)")

    private lazy val k = kExpr.eval().asInstanceOf[Int]
    private lazy val w = wExpr.eval().asInstanceOf[Int]
    private lazy val base = baseExpr.eval().asInstanceOf[Int].toLong

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val s = text.eval(input)
      if (s == null) null
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        winnowJava(s.asInstanceOf[UTF8String], k, w, base))
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(text = newChildren(0), kExpr = newChildren(1),
        wExpr = newChildren(2), baseExpr = newChildren(3))
  }

  /** Hilbert-curve index of one 2-D grid point — the classic iterative
    * xy2d walk, one compiled constant-size loop over the bit levels.
    * Exactly mirrors the per-level parallel assignment of the former
    * unrolled Column formulation (and the DuckDB oracle's CTE chain):
    * at level `s`, `ry==1` keeps (x, y); `ry==0 && rx==1` flips AND swaps
    * (`x' = s−1−y, y' = s−1−x`); `ry==0 && rx==0` swaps. The `s−1−·` flip
    * can go negative when higher (already-consumed) bits are set — two's
    * complement keeps the not-yet-consumed low bits exact, the property
    * the spec's driver replica and the oracle both rely on.
    */
  def hilbertJava(x0: Long, y0: Long, bits: Int): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += (s * s) * ((3L * rx) ^ ry)
      if (ry == 0L) {
        val nx = if (rx == 1L) s - 1 - y else y
        val ny = if (rx == 1L) s - 1 - x else x
        x = nx
        y = ny
      }
      s >>= 1
    }
    d
  }

  /** hilbert_pos(x, y, bits) → Long: Hilbert curve position of grid cell
    * (x, y) on a 2^bits × 2^bits grid. Replaces the unrolled Column tree
    * (which grew ~5^bits nodes and cost seconds of driver ANALYSIS time at
    * bits = 6) with a constant-size codegen'd loop — analysis cost is one
    * expression node regardless of bits, so the cap lifts from 6 to 31.
    */
  case class HilbertPos(x: Expression, y: Expression, bitsExpr: Expression)
      extends TernaryExpression {
    override def first: Expression = x
    override def second: Expression = y
    override def third: Expression = bitsExpr
    override def dataType: DataType = LongType
    override def prettyName: String = "hilbert_pos"

    override def checkInputDataTypes(): TypeCheckResult =
      if (x.dataType == LongType && y.dataType == LongType &&
        bitsExpr.dataType == IntegerType && bitsExpr.foldable &&
        bitsExpr.eval() != null &&
        bitsExpr.eval().asInstanceOf[Int] >= 1 &&
        bitsExpr.eval().asInstanceOf[Int] <= 31)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "hilbert_pos expects (bigint, bigint, int literal in [1, 31]), got " +
          s"(${x.dataType}, ${y.dataType}, ${bitsExpr.dataType})")

    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      hilbertJava(a.asInstanceOf[Long], b.asInstanceOf[Long],
        c.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b, c) =>
        s"${ev.value} = graft.functions.NativeExpressions.hilbertJava($a, $b, $c);")

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression)
        : Expression =
      copy(x = newFirst, y = newSecond, bitsExpr = newThird)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** `bits`-wide SimHash of one document in a single compiled pass:
    * distinct space-split tokens (split keeps empty strings, exactly like
    * `split(text, ' ')` in Spark SQL and `string_split` in the oracle), md5
    * per token, per-bit strict-majority vote (`2·Σbit > n`). Bit `b` of the
    * hex digest is `(digest[b/8] >>> (7 − b%8)) & 1` — identical to the HOF
    * formulation's `conv(substring(hex, 1 + b/4, 1))` nibble extraction.
    * Returns the `bits`-char '0'/'1' string; bits ≤ 128 (one md5 per
    * token). The first 64 chars of the 128-bit signature ARE the 64-bit
    * signature, so widening is monotone.
    */
  def simhashJava(s: UTF8String, bits: Int): UTF8String = {
    val toks = s.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Int](bits)
    val md = md5Local.get()
    var n = 0
    var ti = 0
    while (ti < toks.length) {
      val t = toks(ti)
      if (seen.add(t)) {
        n += 1
        md.reset()
        val digest = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var b = 0
        while (b < bits) {
          counts(b) += (digest(b / 8) >>> (7 - b % 8)) & 1
          b += 1
        }
      }
      ti += 1
    }
    val out = new Array[Char](bits)
    var b = 0
    while (b < bits) {
      out(b) = if (2 * counts(b) > n) '1' else '0'
      b += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** simhash64(text[, bits]) → bit-string signature (default 64 bits, up
    * to 128 — the radius-12 scale dial: doubling the signature width is
    * what keeps a fixed radius selective on a larger corpus).
    * CodegenFallback on purpose — evaluated once per ROW with all the
    * token/md5 work in one compiled helper, replacing the interpreted
    * per-token HOF majority vote (the hidden cost inside every simhash
    * near-dup key).
    */
  case class Simhash64(text: Expression, bitsExpr: Expression) extends Expression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def children: Seq[Expression] = Seq(text, bitsExpr)
    override def dataType: DataType = StringType
    override def nullable: Boolean = text.nullable
    override def prettyName: String = "simhash64"

    override def checkInputDataTypes(): TypeCheckResult =
      if (text.dataType == StringType && bitsExpr.dataType == IntegerType &&
        bitsExpr.foldable &&
        bitsExpr.eval().asInstanceOf[Int] >= 1 &&
        bitsExpr.eval().asInstanceOf[Int] <= 128)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects (string[, int literal in [1, 128]])")

    private lazy val bits = bitsExpr.eval().asInstanceOf[Int]

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val s = text.eval(input)
      if (s == null) null else simhashJava(s.asInstanceOf[UTF8String], bits)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(text = newChildren(0), bitsExpr = newChildren(1))
  }

  /** l2_argmin_idx(cells, embedding) → Int: 1-based index (element_at
    * convention) of the codebook entry nearest to `embedding` by rounded
    * squared-L2 — the fused centroid-argmin kernel for the k-means
    * assignment hot path. `cells` is the broadcast sorted codebook array
    * `array<struct<cell_id, c_emb: array<double>>>`; `embedding` is the
    * row's `array<float>` vector.
    *
    * Replaces the interpreted `aggregate(slice(cells, 2, …), …)` left fold
    * in `Similarity.assignCells` — at the 20M-vector probe that fold was
    * the dominant cost of the entire hierarchical build (~35+ of 56.5
    * CPU-hours, thread-dump sampled), doing an interpreted lambda dispatch
    * AND a double-evaluated `l2_sq` per cell per vector. Here the whole
    * argmin is one generated Java loop: each distance computed exactly
    * once, no boxing, inside whole-stage codegen.
    *
    * Semantics are bit-identical to the fold so every DuckDB oracle is
    * untouched: distances are the same sequential left-to-right IEEE
    * double accumulation as [[FloatDoubleL2Sq]], rounded to 9 decimals
    * with Spark's own `round` rule (HALF_UP via BigDecimal.valueOf, NaN /
    * Infinity passed through un-rounded); the scan visits cells in array
    * order (= ascending cell_id, the caller array_sorts) with a strict `<`
    * so ties keep the earlier = smaller cell_id; a NaN distance never wins
    * (Java `<` is false on NaN operands) and a NaN FIRST element is never
    * displaced — exactly the fold's `IF(d2 < acc.d2, …, acc)` behavior.
    * Returns NULL for an empty cells array (callers guard with
    * `size(cells) >= 1`, so this never fires in practice).
    */
  case class L2ArgminIdx(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def prettyName: String = "l2_argmin_idx"

    // resolved from the input struct shape at analysis time
    private lazy val (numFields: Int, cEmbIdx: Int) = left.dataType match {
      case ArrayType(st: StructType, _) =>
        (st.size, st.fieldIndex("c_emb"))
      case _ => (-1, -1)
    }

    override def checkInputDataTypes(): TypeCheckResult = {
      val leftOk = left.dataType match {
        case ArrayType(st: StructType, _) =>
          st.fields.exists(f => f.name == "c_emb" &&
            (f.dataType match {
              case ArrayType(DoubleType, _) => true
              case _ => false
            }))
        case _ => false
      }
      val rightOk = right.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
      if (leftOk && rightOk) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"l2_argmin_idx expects (array<struct<…, c_emb: array<double>>>, " +
          s"array<float>), got (${left.dataType}, ${right.dataType})")
    }

    // Raw (un-rounded) sequential-fold distance; rounding is applied
    // LAZILY in the scan loop. The fold's replace test is
    // `round(d) < bestRounded` with bestRounded itself a 9-decimal-rounded
    // value; because Spark's round is monotone non-decreasing and
    // idempotent, `d >= bestRounded` already implies `round(d) >=
    // round(bestRounded) = bestRounded` — so the expensive rounding
    // (BigDecimal.valueOf = a Double.toString per call, measured as the
    // kernel's residual cost at 8×10¹⁰ cell-distances in the 20M probe)
    // only needs to run when the RAW distance beats the incumbent, which
    // happens O(log nCells) expected times per vector instead of nCells
    // times. Bit-identical decisions: raw-compare-then-round accepts
    // exactly the candidates the round-always fold accepts.
    private def d2Raw(cells: ArrayData, emb: ArrayData, j: Int): Double = {
      val c = cells.getStruct(j, numFields).getArray(cEmbIdx)
      val n = math.min(emb.numElements(), c.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = emb.getFloat(i).toDouble - c.getDouble(i)
        s += d * d
        i += 1
      }
      s
    }

    private def round9(s: Double): Double =
      if (java.lang.Double.isNaN(s) || java.lang.Double.isInfinite(s)) s
      else java.math.BigDecimal.valueOf(s)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

    override def nullSafeEval(a: Any, b: Any): Any = {
      val cells = a.asInstanceOf[ArrayData]
      val emb = b.asInstanceOf[ArrayData]
      val m = cells.numElements()
      if (m == 0) null
      else {
        var best = 0
        var bestD = round9(d2Raw(cells, emb, 0))
        var j = 1
        while (j < m) {
          val raw = d2Raw(cells, emb, j)
          if (raw < bestD) {
            val d = round9(raw)
            if (d < bestD) { bestD = d; best = j }
          }
          j += 1
        }
        best + 1
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val ad = classOf[ArrayData].getName
        val row = "org.apache.spark.sql.catalyst.InternalRow"
        val d2Fn = ctx.freshName("l2ArgminD2Raw")
        val d2Func = ctx.addNewFunction(d2Fn,
          s"""
             |private double $d2Fn($ad cells, $ad emb, int j) {
             |  $row r = cells.getStruct(j, $numFields);
             |  $ad c = r.getArray($cEmbIdx);
             |  int n = java.lang.Math.min(emb.numElements(), c.numElements());
             |  double s = 0.0;
             |  for (int i = 0; i < n; i++) {
             |    double d = (double) emb.getFloat(i) - c.getDouble(i);
             |    s += d * d;
             |  }
             |  return s;
             |}
           """.stripMargin)
        val rdFn = ctx.freshName("l2ArgminRound9")
        val rdFunc = ctx.addNewFunction(rdFn,
          s"""
             |private double $rdFn(double s) {
             |  if (Double.isNaN(s) || Double.isInfinite(s)) return s;
             |  return java.math.BigDecimal.valueOf(s)
             |    .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue();
             |}
           """.stripMargin)
        val m = ctx.freshName("m")
        val best = ctx.freshName("best")
        val bestD = ctx.freshName("bestD")
        val j = ctx.freshName("j")
        val raw = ctx.freshName("raw")
        val d = ctx.freshName("d")
        // lazy rounding: see d2Raw/round9 on the interpreted path — the
        // raw compare is a sound prefilter because round is monotone and
        // idempotent, so the BigDecimal (Double.toString) cost runs only
        // on raw improvements, not per cell
        s"""
           |int $m = $a.numElements();
           |if ($m == 0) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $best = 0;
           |  double $bestD = $rdFunc($d2Func($a, $b, 0));
           |  for (int $j = 1; $j < $m; $j++) {
           |    double $raw = $d2Func($a, $b, $j);
           |    if ($raw < $bestD) {
           |      double $d = $rdFunc($raw);
           |      if ($d < $bestD) { $bestD = $d; $best = $j; }
           |    }
           |  }
           |  ${ev.value} = $best + 1;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** md5_h1h2(s) → struct<h1: long, h2: long>: the MinHash affine family's
    * two 40-bit base hashes, read directly from the md5 digest bytes —
    * bit-identical to the former
    * `CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 10), 16, 10) AS BIGINT)`
    * / `…substring(…, 11, 10)…` pair (hex chars 1–10 are digest bytes 0–4
    * big-endian, chars 11–20 bytes 5–9; both < 2^40 so the conv result is
    * exact in a long).
    *
    * This fuses the per-SHINGLE hot path of [[graft.analytics.Dedup]]'s
    * signature build, which previously paid, per shingle: a MessageDigest
    * *instance lookup* (Spark's `md5` calls DigestUtils.md5Hex →
    * MessageDigest.getInstance per row), the 32-char hex-string
    * materialization, two substring allocations and two base-16 string
    * parses. Here the digest object is created once per generated-class
    * instance (one per partition iterator — single-threaded by
    * construction) and the two longs come straight from the digest bytes.
    */
  case class Md5H1H2(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false)))
    override def prettyName: String = "md5_h1h2"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"md5_h1h2 expects string or binary, got $t")
    }

    private def pack(dig: Array[Byte], off: Int): Long = {
      var acc = 0L
      var i = off
      while (i < off + 5) { acc = (acc << 8) | (dig(i) & 0xffL); i += 1 }
      acc
    }

    @transient private lazy val mdTL =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          org.apache.commons.codec.digest.DigestUtils.getMd5Digest
      }

    override def nullSafeEval(input: Any): Any = {
      val bytes = child.dataType match {
        case StringType => input.asInstanceOf[UTF8String].getBytes
        case _ => input.asInstanceOf[Array[Byte]]
      }
      val md = mdTL.get()
      md.reset()
      val dig = md.digest(bytes)
      org.apache.spark.sql.catalyst.InternalRow(pack(dig, 0), pack(dig, 5))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val md = ctx.addMutableState("java.security.MessageDigest", "md5h1h2Md",
        v => s"$v = org.apache.commons.codec.digest.DigestUtils.getMd5Digest();")
      val packFn = ctx.freshName("md5h1h2Pack")
      val pack = ctx.addNewFunction(packFn,
        s"""
           |private long $packFn(byte[] dig, int off) {
           |  long acc = 0L;
           |  for (int i = off; i < off + 5; i++) acc = (acc << 8) | (dig[i] & 0xffL);
           |  return acc;
           |}
         """.stripMargin)
      val bytesExpr = child.dataType match {
        case StringType => (c: String) => s"$c.getBytes()"
        case _ => (c: String) => c
      }
      nullSafeCodeGen(ctx, ev, c => {
        val dig = ctx.freshName("dig")
        s"""
           |$md.reset();
           |byte[] $dig = $md.digest(${bytesExpr(c)});
           |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |  new Object[] { $pack($dig, 0), $pack($dig, 5) });
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** word_shingles(toks, n) → array<string>: all n-grams of consecutive
    * tokens joined by a single space — bit-identical to the HOF
    * formulation it replaces
    * (`when(size(toks) >= n, transform(sequence(1, size(toks)-n+1),
    * i -> concat_ws(" ", element_at(toks, i), …))).otherwise(array())`),
    * including the edges: a NULL or shorter-than-n token array yields an
    * EMPTY array (the unmatched `when` falls to `otherwise`), and NULL
    * elements are skipped by the join exactly as `concat_ws` skips them.
    *
    * The HOF version evaluates its lambda through the interpreted path —
    * per shingle: a lambda-variable bind, n boxed `element_at` calls and a
    * generic `concat_ws` — on EVERY text key's hot explode (shingle/
    * MinHash/Jaccard/trigram/CMS). Here the whole generator is one
    * generated loop over the array data with a single byte-copying join
    * per shingle, inside whole-stage codegen.
    */
  case class WordShingles(child: Expression, n: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(n >= 1, s"word_shingles: n >= 1, got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "word_shingles"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"word_shingles expects array<string>, got $t")
    }

    private val sep = UTF8String.fromString(" ")

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      val arr = if (v == null) null else v.asInstanceOf[ArrayData]
      val m = if (arr == null) -1 else arr.numElements()
      if (m < n)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.empty[Any])
      val out = new Array[Any](m - n + 1)
      var i = 0
      while (i <= m - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) {
          parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
          j += 1
        }
        out(i) = UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val childGen = child.genCode(ctx)
      val sepRef = ctx.addReferenceObj("wordShinglesSep", sep,
        classOf[UTF8String].getName)
      val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      val us = classOf[UTF8String].getName
      val arr = ctx.freshName("toks")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val parts = ctx.freshName("parts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val javaCode =
        code"""
           |${childGen.code}
           |org.apache.spark.sql.catalyst.util.ArrayData $arr =
           |  ${childGen.isNull} ? null : ${childGen.value};
           |int $m = ($arr == null) ? -1 : $arr.numElements();
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
           |if ($m < $n) {
           |  ${ev.value} = new $gad(new Object[0]);
           |} else {
           |  Object[] $out = new Object[$m - $n + 1];
           |  for (int $i = 0; $i <= $m - $n; $i++) {
           |    $us[] $parts = new $us[$n];
           |    for (int $j = 0; $j < $n; $j++) {
           |      $parts[$j] = $arr.isNullAt($i + $j) ? null : $arr.getUTF8String($i + $j);
           |    }
           |    $out[$i] = $us.concatWs($sepRef, $parts);
           |  }
           |  ${ev.value} = new $gad($out);
           |}
         """.stripMargin
      ev.copy(code = javaCode,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** C(m, 2), the pair count of `m` distinct ids, as an output array size.
    * Computed in Long: as an Int it wraps negative from m = 65,537 on. A
    * count past the JVM array limit fails with a clear error instead.
    */
  def pairCount(m: Int): Int = {
    val pairs = Math.multiplyExact(m.toLong, m - 1L) / 2
    if (pairs > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
      throw new IllegalArgumentException(
        s"sorted_pairs: a group of $m distinct ids has $pairs pairs, more than " +
          s"the ${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH}-element array limit; " +
          "cap the group size before pairing")
    pairs.toInt
  }

  /** All unordered pairs of one co-occurrence group in a single compiled
    * pass — the per-group core of [[SortedPairs]]. Sorts the non-null ids
    * ascending and emits `(a[i], a[j])` for `i < j` over the DISTINCT values
    * (equal neighbors are skipped), so the result is exactly the pair set
    * a self-join `a.id < b.id` produces on a duplicate-free group (which
    * drops null ids), in deterministic (ascending, ascending) order.
    */
  def sortedPairsJava(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val a = new Array[Long](n)
    var c = 0
    var i = 0
    while (i < n) { if (!arr.isNullAt(i)) { a(c) = arr.getLong(i); c += 1 }; i += 1 }
    if (c < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    java.util.Arrays.sort(a, 0, c)
    // distinct count after sort (callers' inputs are distinct already —
    // this is the defensive equivalent of the join's strict a < b)
    var m = 1
    i = 1
    while (i < c) { if (a(i) != a(i - 1)) { a(m) = a(i); m += 1 }; i += 1 }
    val out = new Array[Any](pairCount(m))
    var k = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(a(i), a(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** sorted_pairs(ids: array<bigint>) → array<struct<id_a, id_b>>: every
    * unordered pair of distinct ids, ordered `id_a < id_b` — the
    * co-occurrence pair generator. `explode(sorted_pairs(collect_list(id)))`
    * over a groupBy on the join key produces exactly the rows of the
    * self-join `a.join(b, key && a.id < b.id)` those operators ran
    * (inputs are distinct per (id, key) in every caller), without paying
    * the join's sort + merge + row-build machinery per pair: one compiled
    * loop per GROUP emits the C(df, 2) pair structs directly, and the
    * downstream pair aggregate consumes them inside the same stage.
    * NULL or short input yields an EMPTY array (the join emits no rows);
    * null slots are skipped.
    */
  case class SortedPairs(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("id_a", LongType, nullable = false),
        StructField("id_b", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "sorted_pairs"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"sorted_pairs expects array<bigint>, got $t")
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null)
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
      else sortedPairsJava(v.asInstanceOf[ArrayData])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val childGen = child.genCode(ctx)
      val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      val javaCode =
        code"""
           |${childGen.code}
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
           |if (${childGen.isNull}) {
           |  ${ev.value} = new $gad(new Object[0]);
           |} else {
           |  ${ev.value} = graft.functions.NativeExpressions.sortedPairsJava(
           |    ${childGen.value});
           |}
         """.stripMargin
      ev.copy(code = javaCode,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One record's DISTINCT FastSS deletion neighborhood in a single
    * compiled pass — the per-row core of [[DeletionVariants]]: the string
    * itself plus every distinct single-code-point-deletion variant.
    * Deleting either of two adjacent EQUAL code points yields the same
    * string (and any non-adjacent duplicate implies an adjacent one inside
    * the run), so skipping positions whose code point equals its
    * predecessor emits exactly the distinct set — no hash set, no
    * `array_distinct` pass. Works on the raw UTF-8 bytes: one `arraycopy`
    * pair per variant, no codePoints() boxing, no StringBuilder.
    */
  def deletionVariantsJava(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var cnt = 0
    var o = 0
    while (o < n) { cnt += 1; o += UTF8String.numBytesForFirstByte(bytes(o)) }
    val starts = new Array[Int](cnt + 1)
    o = 0
    var i = 0
    while (o < n) {
      starts(i) = o; i += 1
      o += UTF8String.numBytesForFirstByte(bytes(o))
    }
    starts(cnt) = n
    val out = new Array[AnyRef](cnt + 1)
    out(0) = s
    var k = 1
    i = 0
    while (i < cnt) {
      val len = starts(i + 1) - starts(i)
      val dup = i > 0 && len == starts(i) - starts(i - 1) &&
        java.util.Arrays.equals(
          bytes, starts(i - 1), starts(i), bytes, starts(i), starts(i + 1))
      if (!dup) {
        val vb = new Array[Byte](n - len)
        System.arraycopy(bytes, 0, vb, 0, starts(i))
        System.arraycopy(bytes, starts(i + 1), vb, starts(i), n - starts(i + 1))
        out(k) = UTF8String.fromBytes(vb)
        k += 1
      }
      i += 1
    }
    val res: Array[AnyRef] =
      if (k == cnt + 1) out else java.util.Arrays.copyOf(out, k)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }

  /** deletion_variants(name) → array<string>: the DISTINCT FastSS/SymSpell
    * deletion neighborhood (Bocek et al., "Fast Similarity Search in Large
    * Dictionaries") — `name` itself plus every distinct single-code-point
    * deletion. Two names within edit distance ≤ 1 always share a variant
    * (substitution at i: both drop i; insert/delete: the shorter IS a
    * variant of the longer; equality: the name itself), so the equi-join
    * on variants is a complete dist-≤1 candidate generator; a shared
    * variant only bounds the distance by 2, so pair an exact verify
    * ([[EditWithin1]]) with it. Distinctness matters for the join shape:
    * names with character runs ("Customer#000000042") emit each run
    * deletion once instead of run-length times, keeping the candidate
    * join's per-variant groups (and their pair products) small. Replaces
    * the interpreted `array_distinct(array_union(array(name),
    * transform(sequence(…), i -> concat(substring…))))` lambda stack with
    * one generated loop over the UTF-8 bytes. NULL name → NULL (explode
    * then emits nothing, like the lambda formulation).
    */
  case class DeletionVariants(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def prettyName: String = "deletion_variants"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"deletion_variants expects string, got $t")
    }

    override def nullSafeEval(input: Any): Any =
      deletionVariantsJava(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NativeExpressions.deletionVariantsJava($c);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** True iff Levenshtein(a, b) ≤ 1, by the classic one-edit scan: strip
    * the longest common byte prefix and suffix (each re-aligned to a
    * code-point boundary — safe on valid UTF-8, where a position is a
    * boundary iff its byte is not a continuation byte), then the middle
    * remainders must be empty/empty (equal), empty/one code point
    * (insert or delete), or one/one (substitution). O(n) with ZERO
    * allocation per call — no DP rows, unlike `levenshtein(a, b, 1)`
    * whose banded matrix still allocates and runs per cell.
    */
  def editWithin1Java(a: UTF8String, b: UTF8String): Boolean = {
    val ab = a.getBytes
    val bb = b.getBytes
    val la = ab.length
    val lb = bb.length
    if (la - lb > 4 || lb - la > 4) return false // one code point is ≤ 4 bytes
    val minL = math.min(la, lb)
    var p = 0
    while (p < minL && ab(p) == bb(p)) p += 1
    // mid-code-point positions carry continuation bytes in BOTH strings
    // (the shared prefix fixed the lead byte), so backing up over a's
    // continuation bytes lands on a common boundary
    while (p > 0 && p < minL && (ab(p) & 0xC0) == 0x80) p -= 1
    var sfx = 0
    while (sfx < minL - p && ab(la - 1 - sfx) == bb(lb - 1 - sfx)) sfx += 1
    // identical suffix bytes ⇒ identical boundary structure: align the
    // suffix start to a code-point lead byte
    while (sfx > 0 && (ab(la - sfx) & 0xC0) == 0x80) sfx -= 1
    val midA = la - p - sfx
    val midB = lb - p - sfx
    if (midA == 0 && midB == 0) true
    else if (midA == 0) UTF8String.numBytesForFirstByte(bb(p)) == midB
    else if (midB == 0) UTF8String.numBytesForFirstByte(ab(p)) == midA
    else UTF8String.numBytesForFirstByte(ab(p)) == midA &&
      UTF8String.numBytesForFirstByte(bb(p)) == midB
  }

  /** edit_within_1(a, b) → boolean: `levenshtein(a, b) <= 1` as one
    * allocation-free codegen scan (see [[editWithin1Java]]). The verify
    * predicate for FastSS candidate pairs. NULL if either side is NULL.
    */
  case class EditWithin1(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "edit_within_1"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"edit_within_1 expects (string, string), got " +
          s"(${left.dataType}, ${right.dataType})")

    override def nullSafeEval(a: Any, b: Any): Any =
      editWithin1Java(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.NativeExpressions.editWithin1Java($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }
}
