package graft.plans

import java.util.Arrays

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A document's k-word-shingle digest SET as one packed BINARY: the
  * distinct 16-byte md5 digests of [[ShingleMd5s]] (same windows, same
  * bytes — `unhex` of its hex strings), sorted by unsigned byte order
  * and concatenated, 16 bytes per token. The verify side of
  * [[graft.operators.Dedup.prefixJaccardPairs]]: each candidate carries
  * two of these blobs and [[DigestSetCommon]] merge-counts them.
  *
  * Packed, not `array<binary>`: one variable-length field per row
  * instead of an element offset word per token, and no BinaryType
  * array equality anywhere (`array_intersect` over binary elements has
  * no proper-equals fast path and goes quadratic).
  *
  * Empty blob for fewer than k words; NULL for a null input or k <= 0. */
case class ShingleDigestSet(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, int), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_digest_set"

  override def nullSafeEval(words: Any, k: Any): Any =
    ShingleDigestSet.packed(words.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, k) => {
      val res = ctx.freshName("set")
      s"""
         |byte[] $res = graft.plans.ShingleDigestSet.packed($w, $k);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ShingleDigestSet = copy(left = newLeft, right = newRight)
}

object ShingleDigestSet {
  private val unsignedOrder: java.util.Comparator[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => Arrays.compareUnsigned(a, b)

  def packed(words: ArrayData, k: Int): Array[Byte] = {
    val ds = ShingleMd5s.windowMd5s(words, k)
    if (ds == null) return null
    Arrays.sort(ds, unsignedOrder)
    val out = new Array[Byte](ds.length * 16)
    var n = 0
    var i = 0
    while (i < ds.length) {
      if (i == 0 || !Arrays.equals(ds(i), ds(i - 1))) {
        System.arraycopy(ds(i), 0, out, n * 16, 16)
        n += 1
      }
      i += 1
    }
    if (n == ds.length) out else Arrays.copyOf(out, n * 16)
  }
}

/** |A ∩ B| of two packed sorted digest sets ([[ShingleDigestSet]]'s
  * layout) as a BIGINT: one O(|A| + |B|) merge over 16-byte tokens with
  * an UNSIGNED byte compare — the order the sets were sorted in (a
  * signed compare would misorder every byte ≥ 0x80 and miss matches).
  * NULL for a null input or a blob whose length is not a multiple of
  * 16. Both sets must be sorted and distinct, as the producer emits
  * them. */
case class DigestSetCommon(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, binary), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_digest_set_common"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val n = DigestSetCommon.mergeCount(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    if (n < 0) null else n
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.plans.DigestSetCommon.mergeCount($a, $b);
         |if (${ev.value} < 0) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DigestSetCommon = copy(left = newLeft, right = newRight)
}

object DigestSetCommon {
  /** The merge count, or -1 for a malformed (non-16-multiple) blob. */
  def mergeCount(a: Array[Byte], b: Array[Byte]): Long = {
    if (a.length % 16 != 0 || b.length % 16 != 0) return -1L
    var i = 0
    var j = 0
    var n = 0L
    while (i < a.length && j < b.length) {
      val c = Arrays.compareUnsigned(a, i, i + 16, b, j, j + 16)
      if (c == 0) { n += 1; i += 16; j += 16 }
      else if (c < 0) i += 16
      else j += 16
    }
    n
  }
}
