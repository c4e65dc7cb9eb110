package graft.plans

import org.scalacheck.{Gen, Prop, Properties, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.functions.Similarity

/** Property checks for the r14 compiled similarity expressions: each
  * must be VALUE-IDENTICAL to the higher-order-function chain it
  * replaced, on arbitrary word arrays — not just the fixture corpus.
  * The generators include empty strings, repeated words (duplicate
  * shingles — the array_distinct case the compiled forms shortcut) and
  * space-containing words (shingle-text ambiguity both forms must
  * resolve identically, since both join with a single space). */
object ExprProps extends Properties("CompiledSimilarityExprs") {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10)

  // small vocabulary forces duplicate shingles; "c d" carries a space,
  // "" is the empty word
  private val genWords: Gen[List[String]] = for {
    n  <- Gen.choose(0, 14)
    ws <- Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "c d", "", "zz9"))
  } yield ws

  property("graft_minhash_sig == minhashFromHashes over shingleHashes") =
    Prop.forAll(genWords, Gen.choose(1, 4), Gen.oneOf(4, 8)) { (ws, k, perms) =>
      import TestSpark.spark.implicits._
      val df = Seq(Tuple1(ws)).toDF("w")
      val viaExpr = df.select(call_function("graft_minhash_sig",
        col("w"), lit(k), lit(perms)).as("sig")).collect().head
      if (ws.length < k) {
        Prop(viaExpr.isNullAt(0)) :| "sub-k rows must be null"
      } else {
        val viaHof = df
          .select(Similarity.shingleHashes(col("w"), k).as("hs"))
          .select(Similarity.minhashFromHashes(col("hs"), perms).as("sig"))
          .collect().head.getSeq[Long](0)
        val got = viaExpr.getSeq[Long](0)
        Prop(got == viaHof) :| s"k=$k perms=$perms got=$got want=$viaHof"
      }
    }

  property("graft_shingle_md5s == md5 over distinct HOF shingles, same order") =
    Prop.forAll(genWords, Gen.choose(1, 4)) { (ws, k) =>
      import TestSpark.spark.implicits._
      val df = Seq(Tuple1(ws)).toDF("w")
      val viaExpr = df.select(call_function("graft_shingle_md5s",
        col("w"), lit(k)).as("hs")).collect().head.getSeq[String](0)
      // first-occurrence order, exactly array_distinct's
      val viaHof = df
        .select(transform(Similarity.shinglesOfWords(col("w"), k),
          s => md5(s)).as("hs"))
        .collect().head.getSeq[String](0)
      Prop(viaExpr == viaHof) :| s"k=$k got=$viaExpr want=$viaHof"
    }

  property("graft_shingle_digest_set == sorted distinct unhex(graft_shingle_md5s), packed") =
    Prop.forAll(genWords, Gen.choose(1, 4)) { (ws, k) =>
      import TestSpark.spark.implicits._
      val df = Seq(Tuple1(ws)).toDF("w")
      val got = df.select(call_function("graft_shingle_digest_set",
        col("w"), lit(k))).collect().head.getAs[Array[Byte]](0)
      val want = df.select(call_function("graft_shingle_md5s", col("w"), lit(k)))
        .collect().head.getSeq[String](0)
        .map(h => h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
        .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0).flatten.toArray
      Prop(got.sameElements(want)) :| s"k=$k words=$ws"
    }

  // digest pool with the merge's traps: lead bytes on both sides of 0x80
  // (a signed compare misorders them against the unsigned sort) and twin
  // digests equal in their first 15 bytes
  private val genDigestSets: Gen[(Option[Array[Byte]], Option[Array[Byte]])] = {
    val genDigest = Gen.listOfN(16, Gen.oneOf[Int](0x00, 0x01, 0x7f, 0x80, 0x81, 0xfe, 0xff)
      .map(_.toByte)).map(_.toArray)
    val genPool = for {
      ds    <- Gen.listOfN(12, genDigest)
      twins <- Gen.someOf(ds.indices)
    } yield ds ++ twins.map { i => val t = ds(i).clone(); t(15) = (t(15) ^ 0x80).toByte; t }
    def packed(pool: Seq[Array[Byte]]): Gen[Option[Array[Byte]]] = Gen.frequency(
      1 -> Gen.const(None),
      8 -> Gen.someOf(pool).map(sub => Some(sub.map(_.toSeq).distinct.map(_.toArray)
        .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0).flatten.toArray)))
    for { pool <- genPool; a <- packed(pool); b <- packed(pool) } yield (a, b)
  }

  property("graft_digest_set_common == Scala set intersection; codegen == interpreted") =
    Prop.forAll(genDigestSets) { case (a, b) =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.BoundReference
      import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      import org.apache.spark.sql.types.BinaryType
      val want: Option[Long] = for (x <- a; y <- b)
        yield (x.grouped(16).map(_.toSeq).toSet & y.grouped(16).map(_.toSeq).toSet).size.toLong
      val e = DigestSetCommon(BoundReference(0, BinaryType, nullable = true),
        BoundReference(1, BinaryType, nullable = true))
      val row = InternalRow(a.orNull, b.orNull)
      val interpreted = Option(e.eval(row)).map(_.asInstanceOf[Long])
      val out = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
      val compiled = if (out.isNullAt(0)) None else Some(out.getLong(0))
      Prop(interpreted == want && compiled == want) :|
        s"want=$want interpreted=$interpreted compiled=$compiled"
    }

  property("graft_digest_set_common: NULL for a blob that is not whole digests") =
    Prop.forAll(Gen.choose(1, 15), Gen.choose(0, 3)) { (ragged, whole) =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      val e = DigestSetCommon(Literal(new Array[Byte](16 * whole + ragged)),
        Literal(new Array[Byte](16)))
      Prop(e.eval() == null)
    }

  // arbitrary text including multi-byte chars (2-, 3- AND 4-byte
  // sequences — "🌍" is a surrogate pair in the JVM but ONE code
  // point) — the byte-offset walk must count CODE POINTS exactly as
  // length()/substring() do
  private val genText: Gen[String] = for {
    n  <- Gen.choose(0, 12)
    cs <- Gen.listOfN(n, Gen.oneOf("a", "b", " ", "é", "的", "🌍", "9"))
  } yield cs.mkString

  property("graft_char_ngrams == transform+substring over every position") =
    Prop.forAll(genText, Gen.choose(1, 4)) { (text, n) =>
      import TestSpark.spark.implicits._
      val df = Seq(Tuple1(text)).toDF("t")
      val viaExpr = df.select(call_function("graft_char_ngrams",
        col("t"), lit(n)).as("g")).collect().head.getSeq[String](0)
      // sequence(1, 0) DESCENDS in Spark — guard the sub-n case the
      // compiled form defines as empty
      val viaHof = df.select(expr(
        s"CASE WHEN length(t) >= $n THEN transform(sequence(1, length(t) - $n + 1), " +
          s"i -> substring(t, i, $n)) ELSE CAST(array() AS array<string>) END")
        .as("g")).collect().head.getSeq[String](0)
      Prop(viaExpr == viaHof) :| s"n=$n text='$text' got=$viaExpr want=$viaHof"
    }

  property("graft_char_ngram_codes packs each gram's code points, position-aligned") =
    Prop.forAll(genText, Gen.choose(1, 3)) { (text, n) =>
      import TestSpark.spark.implicits._
      val df = Seq(Tuple1(text)).toDF("t")
      val codes = df.select(call_function("graft_char_ngram_codes",
        col("t"), lit(n)).as("c")).collect().head.getSeq[Long](0)
      val grams = df.select(call_function("graft_char_ngrams",
        col("t"), lit(n)).as("g")).collect().head.getSeq[String](0)
      def pack(g: String): Long =
        g.codePoints().toArray.foldLeft(0L)((a, cp) => (a << 21) | (cp & 0x1fffffL))
      Prop(codes == grams.map(pack)) :|
        s"n=$n text='$text' codes=$codes grams=$grams"
    }

  // arbitrary RAW BYTES — including invalid UTF-8 (bare continuation
  // bytes, dangling leads, overlongs, surrogate encodings): strings
  // read from external parquet carry whatever bytes were written. The
  // r15 ADVICE case: the old fallback collided a dangling 0xC3 lead
  // with a literal 0x03.
  private val genBytes: Gen[Array[Byte]] = for {
    n  <- Gen.choose(0, 16)
    bs <- Gen.listOfN(n, Gen.oneOf[Int](
      0x41, 0x03, 0x20,              // ASCII
      0xc3, 0xa9, 0xc2, 0xa0,        // valid-2-byte material + bare tails
      0xe4, 0xb8, 0xad,              // valid-3-byte material
      0xf0, 0x9f, 0x8c, 0x8d,        // valid-4-byte material
      0xc0, 0x81,                    // overlong lead
      0xed, 0xa0, 0x80,              // surrogate encoding material
      0xf5, 0xf8, 0xff))             // out-of-range / invalid leads
  } yield bs.map(_.toByte).toArray

  property("graft_char_ngram_codes on INVALID UTF-8: boundary-aligned with " +
    "graft_char_ngrams; valid chars decode, malformed chars → U+FFFD") =
    Prop.forAll(genBytes, Gen.choose(1, 3)) { (bytes, n) =>
      import org.apache.spark.unsafe.types.UTF8String
      val s = UTF8String.fromBytes(bytes)
      val codes = Option(CharNgramCodes.codes(s, n))
        .map(a => a.toLongArray.toSeq).getOrElse(Seq.empty)
      val grams = Option(CharNgrams.ngrams(s, n))
        .map(a => (0 until a.numElements()).map(i =>
          a.getUTF8String(i).getBytes.clone())).getOrElse(Seq.empty)
      // the two expressions must agree on CHAR BOUNDARIES regardless of
      // byte validity — same count of n-grams
      val aligned = Prop(codes.length == grams.length) :|
        s"walks disagree: ${codes.length} codes vs ${grams.length} grams"
      // 1-gram spec, judged by the JDK's strict decoder (independent of
      // the expression's own logic): a char slice that round-trips as
      // exactly one code point packs that code point; anything else —
      // truncated, overlong, surrogate, out-of-range — packs U+FFFD
      val spec = if (n != 1) Prop.passed else Prop.all(
        codes.zip(grams).zipWithIndex.map { case ((code, gb), i) =>
          val cps = new String(gb, java.nio.charset.StandardCharsets.UTF_8)
            .codePoints().toArray
          val roundTrips = cps.length == 1 &&
            java.util.Arrays.equals(
              new String(gb, java.nio.charset.StandardCharsets.UTF_8)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8), gb)
          val want = if (roundTrips) cps(0).toLong else 0xFFFDL
          Prop(code == want) :|
            s"pos $i: bytes=${gb.map(b => f"${b & 0xff}%02x").mkString} " +
              s"code=$code want=$want"
        }: _*)
      aligned && spec
    }

  // graft_md5_60 == the hex-string chain it replaces — the documented
  // contract the sketch lanes (HLL registers; CMS buckets and Bloom
  // bits since r18) all lean on, proven on arbitrary strings (empty,
  // unicode, separators) and on the non-string coercion path.
  property("graft_md5_60 == conv(substring(md5(concat(p, x)), 1, 15), 16, 10)") =
    Prop.forAll(
      Gen.oneOf("cm0|", "bf2|", "hl|", ""),
      Gen.listOf(Gen.oneOf("a", "Z9", " ", "é", "的", "🌍", "|", ""))) { (p, xs) =>
      import TestSpark.spark.implicits._
      val x = xs.mkString
      val df = Seq((p, x)).toDF("p", "x")
      val got = df.select(call_function("graft_md5_60", col("p"), col("x")))
        .collect().head.getLong(0)
      val want = df.select(
        conv(substring(md5(concat(col("p"), col("x"))), 1, 15), 16, 10)
          .cast("long")).collect().head.getLong(0)
      Prop(got == want) :| s"p='$p' x='$x' got=$got want=$want"
    }

  // ---- graft_dec_ticks: the exact-mean tier's tick conversion ------------
  //
  // The ground truth is Spark's OWN Cast(double → decimal(27,10)) — not a
  // re-derivation of its semantics — evaluated per value. The sweep runs
  // millions of values per property pass: uniform embedding-magnitude
  // doubles, random-exponent doubles, and the adversarial class the fast
  // path's guard exists for (doubles at/next to scale-10 half-integer
  // midpoints, where shortest-repr rounding and exact-binary rounding
  // can disagree).
  private def castTicks(d: Double): java.lang.Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{DecimalType, DoubleType, Decimal}
    val r = Cast(Literal(d, DoubleType), DecimalType(27, 10)).eval(null)
    if (r == null) null
    else java.lang.Long.valueOf(
      r.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue.longValueExact)
  }

  private def exprTicks(d: Double): java.lang.Long = {
    val r = DecTicks(org.apache.spark.sql.catalyst.expressions.Literal(
      d, org.apache.spark.sql.types.DoubleType)).eval(null)
    if (r == null) null else r.asInstanceOf[java.lang.Long]
  }

  property("graft_dec_ticks == Cast(double AS decimal(27,10)) unscaled, " +
    "multi-million-value sweep incl. adversarial midpoints") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed0 =>
      val rnd = new java.util.Random(seed0)
      var i = 0
      var bad: String = null
      while (i < 500000 && bad == null) {
        val d = (i % 5) match {
          case 0 => (rnd.nextDouble() - 0.5) * 2.0                  // embeddings
          case 1 => Math.scalb(rnd.nextDouble() - 0.5, rnd.nextInt(80) - 60)
          case 2 =>                                                  // midpoint class
            val k = rnd.nextLong() % 10000000000L
            (k + (if (k < 0) -0.5 else 0.5)) * 1e-10
          case 3 =>                                                  // midpoint neighbors
            val k = rnd.nextLong() % 10000000000L
            val m = (k + 0.5) * 1e-10
            if (rnd.nextBoolean()) Math.nextUp(m) else Math.nextDown(m)
          case _ => (rnd.nextLong() % 10000000000L) * 1e-10          // exact-tick class
        }
        val want = castTicks(d)
        val got = exprTicks(d)
        if (want != got && (want == null || !want.equals(got)))
          bad = s"d=$d (bits=${java.lang.Double.doubleToLongBits(d)}) got=$got want=$want"
        i += 1
      }
      Prop(bad == null) :| s"mismatch: $bad"
    }

  property("graft_dec_ticks edge cases: zeros, NaN/Inf null, subnormals, " +
    "throw domains") = {
    val nulls = Prop(exprTicks(Double.NaN) == null) :| "NaN" &&
      Prop(exprTicks(Double.PositiveInfinity) == null) :| "+Inf" &&
      Prop(exprTicks(Double.NegativeInfinity) == null) :| "-Inf"
    val zeros = Prop(exprTicks(0.0) == 0L) :| "+0" &&
      Prop(exprTicks(-0.0) == 0L) :| "-0" &&
      Prop(exprTicks(Double.MinPositiveValue) == 0L) :| "subnormal" &&
      Prop(exprTicks(-4.9e-11) == 0L) :| "below half-tick"
    val exact = Prop(exprTicks(0.1) == 1000000000L) :| "0.1" &&
      Prop(exprTicks(-2.5e-10) == -3L) :| "-2.5e-10 HALF_UP away from zero" &&
      Prop(exprTicks(5e8) == castTicks(5e8)) :| "5e8 (slow-path magnitude)"
    // |x| ≥ ~9.2e8: fits decimal(27,10) but not a BIGINT unscaled — loud
    val longDomain = Prop(
      try { exprTicks(9.3e8); false }
      catch { case _: ArithmeticException => true }) :| "BIGINT domain throws"
    // |x| ≥ 1e17: the ANSI cast itself throws — so must the expression
    val overflow = Prop(
      try { exprTicks(1e17); false }
      catch { case _: ArithmeticException => true }) :| "decimal overflow throws"
    nulls && zeros && exact && longDomain && overflow
  }

  // ---- graft_tick_means: the exact centroid/PQ mean aggregate ------------
  //
  // The ground truth is the pre-r18 formula, verbatim: per lane
  // CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(1). Inputs
  // mix in every lane rule the aggregate must keep: NULL elements,
  // NULL arrays (counted in n, no lane), NaN/±Inf (the cast's NULL),
  // and one lane that never holds a finite value (its mean is NULL).
  // Three round-robin input partitions split every group, so partial
  // buffers are serialized, shuffled, deserialized and merged.

  /** A lane value the cast turns into NULL. */
  private def skipped(rnd: java.util.Random): Option[Double] =
    rnd.nextInt(4) match {
      case 0 => None
      case 1 => Some(Double.NaN)
      case 2 => Some(Double.PositiveInfinity)
      case _ => Some(Double.NegativeInfinity)
    }

  /** `dim` lanes: mostly embedding-magnitude values, a few rough ones,
    * some skipped; `dead` lanes are always skipped. */
  private def genVec(rnd: java.util.Random, dim: Int, dead: Set[Int]): Option[Seq[Option[Double]]] =
    if (rnd.nextInt(12) == 0) None
    else Some((0 until dim).map { i =>
      if (dead(i)) skipped(rnd)
      else rnd.nextInt(14) match {
        case 0 => skipped(rnd)
        case 1 => Some(Math.scalb(rnd.nextDouble() - 0.5, rnd.nextInt(40) - 35))
        case _ => Some((rnd.nextDouble() - 0.5) * 2.0)
      }
    })

  /** The pre-r18 decimal-cast chain, keyed like the operator under test. */
  private def decimalMeans(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      arr: String, dim: Int) = {
    val means = (0 until dim).map(i =>
      (sum(element_at(col(arr), i + 1).cast("decimal(27,10)")).cast("double") /
        count(lit(1))).as(s"c$i"))
    df.groupBy(keys.map(col): _*)
      .agg(means.head, means.tail: _*)
      .select(keys.map(col) :+ array((0 until dim).map(i => col(s"c$i")): _*).as(arr): _*)
  }

  private def meanBits(r: org.apache.spark.sql.Row, i: Int): Seq[Option[Long]] =
    r.getList[java.lang.Double](i).toArray.toSeq.map(v =>
      Option(v.asInstanceOf[java.lang.Double]).map(d => java.lang.Double.doubleToLongBits(d)))

  /** Rows of `got` and `want` (same key columns first, means last) are
    * equal key-for-key and bit-for-bit. */
  private def sameMeans(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame, nKeys: Int): Prop = {
    val order = got.columns.take(nKeys).map(col).toSeq
    val g = got.orderBy(order: _*).collect()
    val w = want.orderBy(order: _*).collect()
    Prop(g.length == w.length) :| s"${g.length} groups, want ${w.length}" &&
      Prop.all(g.zip(w).map { case (gr, wr) =>
        Prop((0 until nKeys).forall(k => gr.get(k) == wr.get(k)) &&
          meanBits(gr, nKeys) == meanBits(wr, nKeys)) :|
          s"group ${gr.toSeq.take(nKeys)}: got=${gr.get(nKeys)} want=${wr.get(nKeys)}"
      }: _*)
  }

  property("tick-sum centroid means ≡ decimal-cast chain, bitwise, on " +
    "random corpora") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue), Gen.choose(2, 5),
      Gen.choose(1, 4)) { (seed0, dim, cells) =>
      import TestSpark.spark.implicits._
      val rnd = new java.util.Random(seed0)
      val n = 40 + rnd.nextInt(60)
      // cell 0's last lane never holds a finite value
      val rows = (0 until n).map { id =>
        val cell = id % cells
        (id.toLong, cell, genVec(rnd, dim, if (cell == 0) Set(dim - 1) else Set.empty))
      }
      val df = rows.toDF("corpus_id", "cell", "ce").repartition(3)
      val got = graft.operators.Ann.centroids(df, dim)
      val dead = got.filter(col("cell") === 0).collect().head
      Prop(df.rdd.getNumPartitions == 3) :| "three input partitions" &&
        Prop(dead.getList[java.lang.Double](1).get(dim - 1) == null) :|
          s"all-skipped lane must be NULL: $dead" &&
        sameMeans(got, decimalMeans(df, Seq("cell"), "ce", dim), 1) :|
          s"n=$n dim=$dim cells=$cells"
    }

  property("tick-sum (sub, cell) PQ means ≡ decimal-cast chain, bitwise") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue), Gen.choose(1, 4)) { (seed0, sd) =>
      import TestSpark.spark.implicits._
      val rnd = new java.util.Random(seed0)
      val rows = (0 until 60 + rnd.nextInt(60)).map { id =>
        (id % 3, rnd.nextInt(4), genVec(rnd, sd, Set.empty))
      }
      val df = rows.toDF("sub", "cell", "sv").repartition(3)
      sameMeans(graft.operators.Ann.pqMeans(df, sd),
        decimalMeans(df, Seq("sub", "cell"), "sv", sd), 2) :| s"sd=$sd"
    }

  /** Whether running `f` throws, anywhere in the cause chain, a `T`
    * whose message mentions `msg`. */
  private def throwsIn[T <: Throwable](f: => Any, msg: String)(
      implicit ct: scala.reflect.ClassTag[T]): Boolean =
    try { f; false }
    catch {
      case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => ct.runtimeClass.isInstance(c) && String.valueOf(c.getMessage).contains(msg))
    }

  property("graft_tick_means failure domains: short arrays, |x| ≥ 1e17, " +
    "the BIGINT tick domain, the 2^42-row bound") = {
    import TestSpark.spark.implicits._
    def means(vs: Seq[Double]*) = graft.operators.Ann.centroids(
      vs.zipWithIndex.map { case (v, i) => (i.toLong, 0, v) }.toDF("corpus_id", "cell", "ce"),
      dim = 2).collect()
    val short = Prop(throwsIn[ArrayIndexOutOfBoundsException](
      means(Seq(0.5, 0.25), Seq(0.5)), "out of bounds")) :| "array shorter than dim"
    // the ANSI cast and graft_dec_ticks throw here; so does the mean
    val overflow = Prop(throwsIn[ArithmeticException](
      means(Seq(0.5, 1e17)), "DECIMAL(27,10)")) :| "|x| >= 1e17 throws"
    val longDomain = Prop(throwsIn[ArithmeticException](
      means(Seq(-9.3e8, 0.5)), "BIGINT tick domain")) :| "|x| >= ~9.2e8 throws"
    // the row-count guard, on synthetic buffers: no 4.4e12-row input
    val agg = TickMeans(org.apache.spark.sql.catalyst.expressions.Literal(
      null, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)), 2)
    def buf(n: Long) = {
      val b = agg.createAggregationBuffer()
      b(b.length - 1) = n
      agg.deserialize(agg.serialize(b))
    }
    val half = TickMeans.MaxRows / 2
    val atBound = Prop(agg.merge(buf(half), buf(half)).last == TickMeans.MaxRows) :|
      "exactly 2^42 rows merge"
    val pastBound = Prop(throwsIn[ArithmeticException](
      agg.merge(buf(half), buf(half + 1)), "2^42")) :| "merge past 2^42 rows throws"
    val updatePast = Prop(throwsIn[ArithmeticException](
      agg.update(buf(TickMeans.MaxRows), null), "2^42")) :| "update past 2^42 rows throws"
    short && overflow && longDomain && atBound && pastBound && updatePast
  }
}
