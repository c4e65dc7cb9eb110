package graft

import org.scalacheck.{Gen, Prop, Properties, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Property checks for the curation operators over adversarial text —
  * random words salted with PII-like fragments, repeats, and
  * whitespace-edge shapes the synthetic corpus never produces. */
object CurationProps extends Properties("CurationSemantics") {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10)

  private val word: Gen[String] = Gen.oneOf(
    "alpha", "beta", "the", "and", "a.b@c.de", "u+tag@ex.org", "10.1.2.3",
    "+123456789", "999.999.999.999", "not@an", "x@y.z@w.vv", "@", "+", "dot.")

  private val genText: Gen[String] = for {
    n <- Gen.choose(1, 30)
    ws <- Gen.listOfN(n, word)
  } yield ws.mkString(" ")

  private def docsOf(texts: List[String]) = {
    import TestSpark.spark
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** Scrubbing is IDEMPOTENT: placeholders must never re-match any
    * pattern (the property that makes redaction safe to re-run on
    * partially-curated corpora). */
  property("scrubPii is idempotent") = Prop.forAll(Gen.listOfN(5, genText)) { texts =>
    val once = TextAnalysis.scrubPii(docsOf(texts))
      .select(col("doc_id"), col("scrubbed").as("text"))
    val twice = TextAnalysis.scrubPii(once)
    twice.filter(col("scrubbed") =!= col("text")).count() == 0 &&
      twice.filter(col("n_pii_emails") + col("n_pii_ips") + col("n_pii_phones") > 0)
        .count() == 0
  }

  /** rep_ratio is a ratio: always in [0, 1), and 0 exactly when every
    * k-gram is distinct (or the doc is shorter than k words). */
  property("repetition ratio stays in [0,1) and total >= distinct") =
    Prop.forAll(Gen.listOfN(5, genText)) { texts =>
      val r = TextAnalysis.repetition(docsOf(texts))
        .select(col("rep_ratio"), col("n_grams"), col("n_distinct_grams")).collect()
      r.forall { row =>
        val (ratio, total, distinct) =
          (row.getDouble(0), row.getInt(1), row.getInt(2))
        ratio >= 0.0 && ratio < 1.0 && total >= distinct &&
          (total == 0 || ratio == 1.0 - distinct.toDouble / total)
      }
    }

  /** Decontamination against an eval set equal to the train set flags
    * every doc with at least minCommon distinct k-grams (self-overlap is
    * total), and against a disjoint-vocabulary eval set flags nothing. */
  property("decontaminate: full self-overlap, zero disjoint-overlap") =
    Prop.forAll(Gen.listOfN(4, genText)) { texts =>
      import graft.operators.Dedup
      val train = docsOf(texts)
      val nEligible = TextAnalysis.repetition(train, k = 3)
        .filter(col("n_distinct_grams") >= 2).count()
      val self = Dedup.contaminated(train, train, k = 3, minCommon = 2).count()
      val disjoint = docsOf(List("zq wx vv kj pp mm nn oo rr ss tt uu"))
      val none = Dedup.contaminated(train, disjoint, k = 3, minCommon = 2).count()
      self == nEligible && none == 0
    }

  /** A Bloom append is set union, so folding a window of batches at
    * once probes exactly as appending them one by one: the bit sets and
    * every verdict agree, false positives included (the narrow table
    * makes them common). */
  property("bloom: one append of a window probes as the chain of per-batch appends") =
    Prop.forAll(Gen.listOfN(4, genText), Gen.listOfN(3, Gen.listOfN(3, genText)),
        Gen.listOfN(4, genText)) { (corpus, batches, novel) =>
      import graft.operators.Freq
      val (k, width) = (3, 64)
      def items(ts: List[String]) = docsOf(ts).select(col("text").as("item"))
      val bits = Freq.bloomBuild(items(corpus), k, width)
      val chain = batches.foldLeft(bits)((b, batch) => Freq.bloomAppend(b, items(batch), k, width))
      val once = Freq.bloomAppend(bits, items(batches.flatten), k, width)
      val probes = docsOf(corpus ++ batches.flatten ++ novel).withColumn("item", col("text"))
      def bitSet(b: org.apache.spark.sql.DataFrame) =
        b.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      def verdicts(b: org.apache.spark.sql.DataFrame) = Freq.bloomProbe(b, probes, k, width)
        .select(col("doc_id"), col("n_hits")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      bitSet(once) == bitSet(chain) && verdicts(once) == verdicts(chain)
    }

  // ---- sequence packing ----------------------------------------------------

  /** Order keys cluster (duplicates + sub-shard-boundary values), shards
    * skew 6:1 toward one value, and negatives exercise truncating-DIV
    * monotonicity around zero — the geometries where a wrong sub-shard
    * offset or tie-frame mismatch would show. */
  private val genPackRows: Gen[List[(String, Long, Long)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      shard <- Gen.frequency(6 -> Gen.const("en"), 1 -> Gen.oneOf("de", "zh"))
      ok <- Gen.oneOf(Gen.choose(-20L, -5L), Gen.choose(0L, 15L),
        Gen.choose(60L, 80L), Gen.choose(1000L, 1010L))
      tok <- Gen.choose(1L, 300L)
    } yield (shard, ok, tok))
  } yield rows

  /** The scale-safe two-phase packing (bounded (shard, sub) window
    * partitions + broadcast sub-shard offsets) must assign the IDENTICAL
    * cum_tokens/pack_id as the obviously-correct single window over the
    * whole shard — for any sub-shard width, including widths that slice
    * every cluster of keys across many sub-shards. */
  property("two-phase packSequences == single-window packing") =
    Prop.forAll(genPackRows, Gen.oneOf(1L, 4L, 16L), Gen.oneOf(256L, 512L)) {
      (rows, subW, budget) =>
        import TestSpark.spark
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.operators.Sampling
        def rowSet(df: org.apache.spark.sql.DataFrame) = df
          .select(col("shard"), col("ok"), col("tokens"),
            col("cum_tokens"), col("pack_id"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
          .toList.sorted
        val df = rows.toDF("shard", "ok", "tokens")
        val got = rowSet(
          Sampling.packSequences(df, "shard", "ok", "tokens", budget, subW))
        val w = Window.partitionBy(col("shard")).orderBy(col("ok"))
        val want = rowSet(df
          .withColumn("cum_tokens", sum(col("tokens")).over(w))
          .withColumn("pack_id",
            floor((col("cum_tokens") - col("tokens")) / budget).cast("long")))
        Prop(got == want) :| s"subW=$subW budget=$budget got=$got want=$want"
    }

  /** The bounded two-phase global ranking must equal the one-task
    * global sort it replaces, for any id set (negatives included) and
    * any seed. */
  property("two-phase shuffleOrder == single global row_number") =
    Prop.forAll(Gen.listOf(Gen.choose(-10000L, 10000L)).map(_.distinct),
        Gen.alphaStr) { (ids, seed) =>
      import TestSpark.spark
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Sampling
      (ids.nonEmpty) ==> {
        val df = ids.toDF("id")
        val got = Sampling.shuffleOrder(df, "id", seed)
          .select(col("id"), col("train_idx")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        val want = df
          .withColumn("skey", md5(concat(lit(seed + "|"), col("id").cast("string"))))
          .withColumn("train_idx",
            (row_number().over(Window.orderBy(col("skey"), col("id"))) - 1).cast("long"))
          .select(col("id"), col("train_idx")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        Prop(got == want) :| s"seed=$seed got=$got want=$want"
      }
    }

  /** The bounded two-phase per-group ranking must keep exactly the
    * single-window quota set — for any group skew (one dominant group
    * included: the generator draws most rows into group "hot") and any
    * quota, with identical qranks. */
  property("two-phase quotaCap == single-window per-group quota") =
    Prop.forAll(
        Gen.listOf(for {
          id <- Gen.choose(-5000L, 5000L)
          g <- Gen.frequency(6 -> Gen.const("hot"), 1 -> Gen.oneOf("a", "b", "c"))
        } yield (id, g)).map(_.distinctBy(_._1)),
        Gen.choose(1L, 12L), Gen.alphaStr) { (rows, quota, seed) =>
      import TestSpark.spark
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Sampling
      (rows.nonEmpty) ==> {
        val df = rows.toDF("id", "grp")
        val got = Sampling.quotaCap(df, "grp", "id", quota, seed)
          .select(col("id"), col("grp"), col("qrank")).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        val want = df
          .withColumn("skey", md5(concat(lit(seed + "|"), col("id").cast("string"))))
          .withColumn("qrank", row_number()
            .over(Window.partitionBy(col("grp")).orderBy(col("skey"), col("id")))
            .cast("long"))
          .filter(col("qrank") <= quota)
          .select(col("id"), col("grp"), col("qrank")).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        Prop(got == want) :| s"quota=$quota seed=$seed got=$got want=$want"
      }
    }

  /** The bounded two-phase value-axis ranking must keep exactly the
    * single-window percentile band — for any value distribution
    * (duplicates and negative values included), any band, and any
    * sub-shard width. */
  property("two-phase trimByRank == single-window percentile trim") =
    Prop.forAll(
        Gen.listOf(for {
          id <- Gen.choose(-5000L, 5000L)
          g <- Gen.frequency(4 -> Gen.const("hot"), 1 -> Gen.oneOf("a", "b"))
          v <- Gen.choose(-300L, 300L) // negatives: DIV rounds toward zero,
                                       // the bucketing must stay monotone
        } yield (id, g, v)).map(_.distinctBy(_._1)),
        Gen.oneOf((0, 100), (5, 95), (25, 75), (0, 50)),
        Gen.oneOf(1L, 7L, 64L)) { (rows, band, subW) =>
      import TestSpark.spark
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Sampling
      (rows.nonEmpty) ==> {
        val (lo, hi) = band
        val df = rows.toDF("id", "grp", "v")
        val got = Sampling.trimByRank(df, "grp", "v", "id", lo, hi, subW)
          .select(col("id"), col("grank")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val w = Window.partitionBy(col("grp"))
        val want = df
          .withColumn("grank", row_number()
            .over(w.orderBy(col("v"), col("id"))).cast("long"))
          .withColumn("_n", count(lit(1)).over(w))
          .filter(col("grank") * 100 > lit(lo) * col("_n") &&
            col("grank") * 100 <= lit(hi) * col("_n"))
          .select(col("id"), col("grank")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        Prop(got == want) :| s"band=$band subW=$subW got=$got want=$want"
      }
    }

  /** Systematic PPS sampling: the two-phase prefix sum must equal the
    * single global window, selection must be exactly "interval contains
    * a multiple of step", and the selected intervals cover EVERY
    * multiple of step in (0, totalW] exactly once — so the sample size
    * is totalW DIV step except where a single heavy row spans several
    * multiples (it is selected once, never duplicated). */
  property("systematicSample == single-window systematic selection; on-budget size") =
    Prop.forAll(
        Gen.nonEmptyListOf(Gen.zip(Gen.choose(-10000L, 10000L), Gen.choose(0L, 500L)))
          .map(_.distinctBy(_._1)),
        Gen.oneOf(97L, 256L, 1000L), Gen.alphaStr) { (rows, step, seed) =>
      import TestSpark.spark
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Sampling
      val df = rows.toDF("id", "w")
      val got = Sampling.systematicSample(df, "id", "w", step, seed)
        .select(col("id"), col("cum_w")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      val wOf = rows.toMap
      val want = df
        .withColumn("skey", md5(concat(lit(seed + "|"), col("id").cast("string"))))
        .withColumn("cum_w", sum(col("w"))
          .over(Window.orderBy(col("skey"), col("id"))))
        .filter(expr(s"cum_w DIV $step") > expr(s"(cum_w - w) DIV $step"))
        .select(col("id"), col("cum_w")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      val totalW = rows.map(_._2).sum
      // every step-multiple in (0, totalW] covered exactly once
      val covered = got.map { case (id, cum) =>
        cum / step - (cum - wOf(id)) / step }.sum
      Prop(got == want && covered == totalW / step &&
          got.length <= totalW / step) :|
        s"step=$step totalW=$totalW covered=$covered |got|=${got.length} want=$want"
    }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Temperature mixing under arbitrary stratum skew: the kept set is
    * exactly the brute-force sqrt(n_min/n_i) thresholding, and every
    * minimum-count stratum survives whole. */
  property("temperatureSample == brute-force sqrt thresholds; rarest kept whole") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d"))) { strata =>
      import TestSpark.spark
      import spark.implicits._
      import graft.operators.Sampling
      val rows = strata.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val df = rows.toDF("id", "stratum")
      val counts = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
      val nmin = counts.values.min
      val out = Sampling.temperatureSample(df, "stratum", "id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("stratum")))
      val expected = rows.filter { case (id, s) =>
        val thr = math.floor(math.sqrt(nmin.toDouble / counts(s)) * 256).toInt
        Integer.parseInt(md5hex(s"s|$id").substring(0, 2), 16) < thr
      }.map(_._1).toSet
      val rarestWhole = counts.collect { case (k, n) if n == nmin => k }
        .forall(k => out.count(_._2 == k).toLong == counts(k))
      Prop(out.map(_._1).toSet == expected && rarestWhole) :|
        s"counts=$counts kept=${out.length}"
    }
}
