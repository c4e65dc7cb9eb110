package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_dec_ticks(x)`: the unscaled BIGINT of `CAST(x AS
  * DECIMAL(27,10))` — i.e. x in 1e-10 "ticks", rounded exactly the way
  * Spark's double→decimal cast rounds (HALF_UP over the SHORTEST
  * decimal representation, `BigDecimal.valueOf`), without the
  * `Double.toString` → `BigDecimal` parse → `setScale` → unscaled-
  * byte-array round trip per row.
  *
  * This is the ANN training tier's exact-mean workhorse: the
  * [[TickMeans]] aggregate sums these ticks as plain longs in its
  * buffer instead of DECIMAL(27,10) (non-compact Decimal — a
  * BigDecimal allocation plus an unscaled-BigInteger byte-array rewrite
  * per row per dimension in the unsafe buffer) and rebuilds the exact
  * decimal mean per GROUP. The tick values are bit-identical to the
  * cast's — property-proven against Spark's own Cast in ExprProps over
  * randoms and adversarial near-midpoint values.
  *
  * Fast path: the double's exact value m·2^e is scaled by
  * 1e10 = 5^10·2^10 in 128-bit integer arithmetic (P = m·5^10;
  * T = P·2^(e+10) ticks) and rounded HALF_UP on the exact binary
  * value. That agrees with shortest-repr rounding unless T lies within
  * one ulp (= 5^10 in P-units — ulp(x)·1e10 = 5^10·2^(e+10) exactly)
  * of a half-integer tick boundary k+1/2, where the two roundings can
  * disagree; those rows (~2·5^10/2^(n-1) of values, ≈0.001% at
  * embedding magnitudes) defer to the BigDecimal reference. Proof
  * shape: the shortest repr r of d satisfies |r − d| ≤ ulp/2 and
  * HALF_UP is monotone, so round(r) ≠ round(d_exact) requires a
  * boundary strictly between them — impossible when d_exact is more
  * than one ulp from every boundary.
  *
  * Domain: NULL for NaN/±Inf (what the cast yields); throws for
  * |x| ≥ 1e17 (DECIMAL(27,10) overflow — the ANSI cast throws too)
  * and for |x| ≳ 9.2e8 (fits the decimal but not a BIGINT unscaled —
  * outside the embedding-scale domain this expression serves; loud,
  * never silent). */
case class DecTicks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dec_ticks"

  override def nullSafeEval(input: Any): Any = {
    val d = input.asInstanceOf[Double]
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) null
    else java.lang.Long.valueOf(DecTicks.ticks(d))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => {
      s"""
         |if (Double.isNaN($d) || Double.isInfinite($d)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.DecTicks.ticks($d);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DecTicks =
    copy(child = newChild)
}

object DecTicks {
  private val F = 9765625L // 5^10: one ulp in P-units; 1e10 = F·2^10

  /** The BigDecimal reference — literally the cast's arithmetic:
    * shortest repr, setScale(10, HALF_UP), unscaled. */
  def slowTicks(d: Double): Long = {
    val bd = java.math.BigDecimal.valueOf(d)
      .setScale(10, java.math.RoundingMode.HALF_UP)
    if (bd.precision > 27)
      throw new ArithmeticException(
        s"graft_dec_ticks: $d cannot be represented as DECIMAL(27,10)")
    try bd.unscaledValue.longValueExact
    catch {
      case _: ArithmeticException => throw new ArithmeticException(
        s"graft_dec_ticks: $d exceeds the BIGINT tick domain (needs |x| < ~9.2e8)")
    }
  }

  /** Unscaled DECIMAL(27,10) of a finite double. */
  def ticks(d: Double): Long = {
    if (d == 0.0) return 0L
    val neg = d < 0
    val a = math.abs(d)
    // beyond ~8e8 the 63-bit headroom thins — let BigDecimal arbitrate
    // (also covers the throw regions). Embeddings never get here.
    if (a >= 8e8) return slowTicks(d)
    val bits = java.lang.Double.doubleToLongBits(a)
    val be = (bits >>> 52).toInt
    val m =
      if (be == 0) bits & ((1L << 52) - 1)
      else (bits & ((1L << 52) - 1)) | (1L << 52)
    val e = if (be == 0) -1074 else be - 1075
    val n = -(e + 10) // a < 8e8 ⇒ e ≤ -23 ⇒ n ≥ 13; T = P / 2^n
    if (n >= 78) return 0L // T < 2^76.3/2^78 < 0.3 ticks, > 0.2 from any boundary
    val hi = Math.multiplyHigh(m, F)
    val lo = m * F // (hi, lo) = P = m·5^10 < 2^76.3, exact
    val k = n - 1 // half-integer grid spacing 2^k in P-units
    val nearBoundary =
      if (k <= 63) {
        val mask = if (k == 63) Long.MaxValue else (1L << k) - 1
        val rr = lo & mask // P mod 2^k (2^64 ≡ 0 mod 2^k)
        rr <= F || rr > mask - F
      } else {
        val rhi = hi & ((1L << (k - 64)) - 1)
        val nearZero = rhi == 0 && java.lang.Long.compareUnsigned(lo, F) <= 0
        val nearTop = rhi == ((1L << (k - 64)) - 1) &&
          java.lang.Long.compareUnsigned(lo, -F) >= 0
        nearZero || nearTop
      }
    if (nearBoundary) return slowTicks(d)
    val q =
      if (n <= 63) (hi << (64 - n)) | (lo >>> n)
      else hi >>> (n - 64)
    val roundBit =
      if (k <= 63) (lo >>> k) & 1L
      else (hi >>> (k - 64)) & 1L
    val t = q + roundBit
    if (neg) -t else t
  }
}

/** `graft_tick_means(arr, dim)`: per group, the exact DECIMAL(27,10)
  * mean of each of the first `dim` elements of an `array<double>` (or
  * `array<float>`, widened exactly) column — bit-identical, lane by
  * lane, to `CAST(SUM(CAST(arr[i] AS DECIMAL(27,10))) AS DOUBLE) /
  * COUNT(1)`. The ANN training tier's centroid and PQ means.
  *
  * ONE aggregate per mean array: the buffer is a fixed `long[4·dim+1]`
  * holding, per lane, the three 21-bit parts of the [[DecTicks]] sum
  * (Σ t>>42, Σ (t>>21)&0x1FFFFF, Σ t&0x1FFFFF) and the lane's non-null
  * count, then the group's row count. A plan that spells the same sums
  * as 3·dim `sum` columns (193 aggregate columns at dim 64) is far past
  * `spark.sql.codegen.maxFields`, and its width, not its rows, sets
  * its cost.
  *
  * Lane rules (those of the `sum`/`count(1)` form): a NULL or
  * NaN/±Inf element is skipped in its lane (the cast yields NULL); an
  * all-skipped lane's mean is NULL; the divisor counts every row of
  * the group, NULL arrays included; an array shorter than `dim` fails,
  * as element_at does in ANSI mode; the [[DecTicks]] throw domains
  * (|x| ≥ 1e17, |x| ≳ 9.2e8) stay.
  *
  * Bound: each part is < 2^21 in magnitude, so a lane's BIGINT part
  * sums are exact for up to 2^42 (≈4.4e12) rows per group. The buffer
  * carries the row count, and a group that passes 2^42 rows — in
  * `update` or in a partial `merge` — throws instead of letting the
  * sums wrap. Recombination Σt = (Σp0)·2^42 + (Σp1)·2^21 + Σp2 runs
  * per GROUP in BigInteger, and the mean is `new BigDecimal(Σt,
  * 10).doubleValue / n` — the calls Spark's decimal-sum + cast-to-double
  * path bottoms out in, so rounding is identical by construction. */
case class TickMeans(child: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if dim < 1 => TypeCheckResult.TypeCheckFailure(s"$prettyName requires dim >= 1, got $dim")
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<double> or array<float> argument, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_tick_means"

  private lazy val floatElems = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def nAt: Int = 4 * dim

  // lane i at [4i, 4i+4): Σp0, Σp1, Σp2, non-null count; row count at 4·dim
  override def createAggregationBuffer(): Array[Long] = new Array[Long](nAt + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    buf(nAt) = TickMeans.checkRows(buf(nAt) + 1)
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements < dim)
        throw new ArrayIndexOutOfBoundsException(
          s"$prettyName: index ${a.numElements + 1} is out of bounds; the array has " +
            s"${a.numElements} elements but dim is $dim")
      var i = 0
      while (i < dim) {
        if (!a.isNullAt(i)) {
          val d = if (floatElems) a.getFloat(i).toDouble else a.getDouble(i)
          if (!java.lang.Double.isNaN(d) && !java.lang.Double.isInfinite(d)) {
            val t = DecTicks.ticks(d)
            val o = 4 * i
            buf(o) += t >> 42
            buf(o + 1) += (t >> 21) & TickMeans.M21
            buf(o + 2) += t & TickMeans.M21
            buf(o + 3) += 1
          }
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    TickMeans.checkRows(buf(nAt) + other(nAt))
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val n = buf(nAt)
    val out = new Array[Any](dim)
    var i = 0
    while (i < dim) {
      val o = 4 * i
      if (buf(o + 3) > 0) out(i) = TickMeans.mean(buf(o), buf(o + 1), buf(o + 2), n)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = createAggregationBuffer()
    require(bytes.length == 8 * buf.length,
      s"$prettyName: buffer of ${bytes.length} bytes, expected ${8 * buf.length}")
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TickMeans =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TickMeans =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): TickMeans =
    copy(child = newChild)
}

object TickMeans {
  private val M21 = (1L << 21) - 1

  /** Rows per group for which the 21-bit part sums stay exact. */
  val MaxRows: Long = 1L << 42

  private def checkRows(n: Long): Long =
    if (n > MaxRows) throw new ArithmeticException(
      s"graft_tick_means: a group of $n rows passes the 2^42-row bound " +
        "of its exact tick sums")
    else n

  /** The exact decimal mean Σt / n, Σt = s0·2^42 + s1·2^21 + s2. */
  def mean(s0: Long, s1: Long, s2: Long, n: Long): Double = {
    val total = java.math.BigInteger.valueOf(s0).shiftLeft(21)
      .add(java.math.BigInteger.valueOf(s1)).shiftLeft(21)
      .add(java.math.BigInteger.valueOf(s2))
    new java.math.BigDecimal(total, 10).doubleValue() / n.toDouble
  }
}
