package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DISTINCT k-word-shingle md5 digests of a word array, one compiled
  * pass (r14) — the hashing engine under the exact similarity join's
  * token stream ([[graft.operators.Dedup.prefixJaccardPairs]], and
  * through it the truth side of every dedup-recall row).
  *
  * The HOF formulation ([[graft.functions.Similarity.shinglesOfWords]]
  * then `md5(s)`) walks an interpreted expression tree per window —
  * transform + per-window concat_ws + array_distinct — before the
  * codegen'd md5 even runs. This expression emits the identical digest
  * SET from a tight JVM loop: per-word UTF-8 bytes once, one md5 per
  * window, distinctness on the 128-bit digest itself (no shingle
  * string is ever materialized).
  *
  * VALUE-IDENTICAL to `md5(s)` over the HOF chain's distinct shingles
  * (asserted in LlmOpsSpec): the digest input is the k words joined
  * with a single space — `concat_ws(" ", ...)`'s exact bytes for
  * split()'s never-null output (the GramHashes null-as-"" contract
  * otherwise) — and equal shingle strings ⇒ equal digests, so
  * distinct-by-digest ≡ distinct-by-text up to md5 collision, which
  * the cross-engine oracles would surface as a hash mismatch.
  * First-occurrence order, matching array_distinct's, though every
  * consumer feeds an order-free explode → join/groupBy.
  *
  * Empty array (not null) for fewer than k words — after the explode
  * every consumer applies, that is the same zero rows the HOF chain's
  * size filter produced. */
case class ShingleMd5s(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, int), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_md5s"

  override def nullSafeEval(words: Any, k: Any): Any =
    ShingleMd5s.digests(words.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, k) => {
      val res = ctx.freshName("shingles")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $res =
         |  graft.plans.ShingleMd5s.digests($w, $k);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ShingleMd5s = copy(left = newLeft, right = newRight)
}

object ShingleMd5s {
  private final val HexChars = "0123456789abcdef".toCharArray

  /** md5 of every k-word window (the k words joined with one space), in
    * window order, duplicates kept; null for k <= 0, empty for fewer than
    * k words. The one hashing loop under this expression and
    * [[ShingleDigestSet]]. */
  private[plans] def windowMd5s(words: ArrayData, k: Int): Array[Array[Byte]] = {
    if (k <= 0) return null
    val n = words.numElements()
    if (n < k) return new Array[Array[Byte]](0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sep = " ".getBytes("UTF-8")
    val wb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      wb(i) = if (words.isNullAt(i)) Array.emptyByteArray
        else words.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Array[Byte]](n - k + 1)
    var s = 0
    while (s <= n - k) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(sep)
        md.update(wb(s + j))
        j += 1
      }
      out(s) = md.digest()
      s += 1
    }
    out
  }

  /** NOT named `eval` — the GramHashes static-forwarder rule. */
  def digests(words: ArrayData, k: Int): GenericArrayData = {
    val ds = windowMd5s(words, k)
    if (ds == null) return null
    // distinct on the 128-bit digest (two longs), first-occurrence order
    val seen = new scala.collection.mutable.HashSet[(Long, Long)]
    val out = new java.util.ArrayList[Any](ds.length)
    for (d <- ds) {
      var h1 = 0L; var h2 = 0L
      var b = 0
      while (b < 8) { h1 = (h1 << 8) | (d(b) & 0xffL); b += 1 }
      while (b < 16) { h2 = (h2 << 8) | (d(b) & 0xffL); b += 1 }
      if (seen.add((h1, h2))) {
        val hex = new Array[Byte](32)
        var p = 0
        while (p < 16) {
          hex(p * 2) = HexChars((d(p) >> 4) & 0xf).toByte
          hex(p * 2 + 1) = HexChars(d(p) & 0xf).toByte
          p += 1
        }
        out.add(UTF8String.fromBytes(hex))
      }
    }
    new GenericArrayData(out.toArray)
  }
}
