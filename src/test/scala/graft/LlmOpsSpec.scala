package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Freq, Multimodal, TextAnalysis}
import graft.sources.Tables

/** LLM-pipeline operator specs: plan-shape guarantees (candidate
  * generation must be equi-joins on bucket keys, never an all-pairs
  * product) and the multimodal binary plumbing contract. */
class LlmOpsSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = Tables(spark, sfDir).documents

  test("dedup joins are equi-joins — no cartesian / nested-loop join in any plan") {
    for (df <- Seq(
        Dedup.jaccardPairs(docs, 3, 50, 2, 0.3),
        Dedup.prefixJaccardPairs(docs, 3, 800000L),
        Dedup.minhashCandidates(docs, 3, 8, 4),
        Dedup.simhashPairs(docs, 8))) {
      val plan = physicalPlan(df)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("eval queries plan clean: no cartesian; dedup recall's joins all keyed") {
    // the ANN sweep's ground truth IS a broadcast nested-loop by design
    // (bounded query side broadcast against the streaming corpus — the
    // brute-force contract); what must never appear is an UNbroadcast
    // cartesian, which would shuffle-materialize the product
    for (df <- Seq(QueriesLlm.dedupRecall(spark, sfDir),
        QueriesLlm.simRecallSweep(spark, sfDir),
        QueriesLlm.dedupRecallSimhash(spark, sfDir),
        QueriesLlm.dedupRecallEmbcos(spark, sfDir),
        QueriesLlm.dedupRecallSemdedup(spark, sfDir)))
      assert(!physicalPlan(df).contains("CartesianProduct"))
    // the text-side evals have no product anywhere: truth, candidates,
    // and the full outer join are all keyed equi-joins (the embcos eval
    // is exempt — its all-pairs cosine TRUTH is a broadcast nested-loop
    // by contract, like the ANN sweep's brute ground truth)
    for (df <- Seq(QueriesLlm.dedupRecall(spark, sfDir),
        QueriesLlm.dedupRecallSimhash(spark, sfDir)))
      assert(!physicalPlan(df).contains("BroadcastNestedLoopJoin"))
  }

  test("dedup recall eval: counts are consistent and pcts are floored ratios in [0,100]") {
    val r = QueriesLlm.dedupRecall(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r.head
    val (nTrue, nCand, nCaught) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    // the intersection can never exceed either side
    assert(nCaught <= math.min(nTrue, nCand), row.toString)
    // the eval is only meaningful if the fixture corpus HAS true pairs
    // (the driver testdata plants near-dup docs; a zero here means the
    // ground-truth join silently broke, not that the corpus is clean)
    assert(nTrue > 0, "exact τ=0.8 join found no pairs in the fixture corpus")
    // a zero candidate set means the LSH generator broke (and would make
    // precision_pct NULL — getLong below would die with an opaque NPE)
    assert(nCand > 0, "minhash-LSH generator produced no candidate pairs")
    val recall = row.getLong(3); val precision = row.getLong(4)
    assert(recall == nCaught * 100 / nTrue && recall >= 0 && recall <= 100)
    assert(precision == nCaught * 100 / nCand && precision >= 0 && precision <= 100)
  }

  test("pairEvalMetrics and topkEvalMetrics: hand-built fixtures, empty sides, full hit") {
    import spark.implicits._
    def pairRow(truth: Seq[(Long, Long)], cand: Seq[(Long, Long)]) = {
      val r = QueriesLlm.pairEvalMetrics(truth.toDF("doc_a", "doc_b"),
        cand.toDF("doc_a", "doc_b")).collect().head
      def pct(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (r.getLong(0), r.getLong(1), r.getLong(2), pct(3), pct(4))
    }
    // 3 true pairs, 4 candidates, 2 caught: 200/3 and 200/4, floored
    assert(pairRow(Seq((1L, 2L), (1L, 3L), (2L, 3L)),
      Seq((1L, 2L), (2L, 3L), (4L, 5L), (1L, 9L))) == ((3L, 4L, 2L, Some(66L), Some(50L))))
    // an empty truth set has no recall; an empty candidate set no precision
    assert(pairRow(Nil, Seq((1L, 2L))) == ((0L, 1L, 0L, None, Some(0L))))
    assert(pairRow(Seq((1L, 2L)), Nil) == ((1L, 0L, 0L, Some(0L), None)))
    assert(pairRow(Nil, Nil) == ((0L, 0L, 0L, None, None)))
    assert(pairRow(Seq((1L, 2L), (3L, 4L)), Seq((3L, 4L), (1L, 2L))) ==
      ((2L, 2L, 2L, Some(100L), Some(100L))))

    def topk(truth: Seq[(Long, Long)], cand: Seq[(Long, Long)], k: Int) =
      QueriesLlm.topkEvalMetrics(truth.toDF("query_id", "corpus_id"),
          cand.toDF("query_id", "corpus_id"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val truth5 = (10L to 14L).map(1L -> _) ++ (20L to 24L).map(2L -> _)
    // query 1 finds 3 of its 5 (two candidates are misses), query 2 none
    assert(topk(truth5, Seq(1L -> 10L, 1L -> 12L, 1L -> 14L, 1L -> 98L, 1L -> 99L) ++
      (30L to 34L).map(2L -> _), k = 5) == Seq((1L, 3L, 60L), (2L, 0L, 0L)))
    // no candidates: every truth query reads zero; a full hit at k = 10 reads 100
    assert(topk(truth5, Nil, k = 5) == Seq((1L, 0L, 0L), (2L, 0L, 0L)))
    val truth10 = (0L until 10L).map(7L -> _)
    assert(topk(truth10, truth10.reverse, k = 10) == Seq((7L, 10L, 100L)))
    // no truth rows: no queries to grade
    assert(topk(Nil, truth10, k = 10).isEmpty)
  }

  test("oracle map: every key is a registry query and every text is fully substituted") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet.subsetOf(SparkEntry.queries.keySet),
      s"oracles without a query: ${oracles.keySet -- SparkEntry.queries.keySet}")
    oracles.foreach { case (name, sql) =>
      assert("@@[^@\\s]*@@".r.findFirstIn(sql).isEmpty, s"$name: an @@…@@ placeholder is left")
      assert(!sql.contains("${"), s"$name: a literal $${ is left")
      // a helper val read before its initialization concatenates as "null"
      assert("\\bnull\\b".r.findFirstIn(sql).isEmpty, s"$name: an uninitialized fragment")
    }
  }

  test("ingest admission quality row: decision accounting closes exactly") {
    // r14: the flagship composition's quality row. The confusion matrix
    // must CLOSE — admitted = truth-admits − false refusals + false
    // admits — and the fixture batch plants refusals by construction
    // (exact re-deliveries of corpus content under fresh ids).
    val row = QueriesLlm.queries("q_ingest_recall")(spark, sfDir).collect()
    assert(row.length == 1)
    val r = row.head
    def v(n: String) = r.getAs[Long](n)
    assert(v("n_batch") == v("n_true_admit") + v("n_true_refuse"))
    assert(v("n_true_refuse") > 0, "the batch plants exact re-deliveries")
    assert(v("n_true_admit") > 0, "the batch plants novel delta docs")
    assert(v("n_admitted") ==
      v("n_true_admit") - v("n_fr_bloom") - v("n_fr_band") + v("n_false_admit"),
      s"decision accounting must close: $r")
  }

  test("jaccard's final adaptive plan reuses the bucket exchange and broadcasts sizes") {
    val df = Dedup.jaccardPairs(docs, 3, 50, 2, 0.3)
    df.collect() // finalize AQE on THIS QueryExecution
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
    // consistency derives sizes and pairs from one bucket relation: the
    // shared shuffle must be computed once...
    assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("TableCacheQueryStage"),
      s"bucket exchange not reused:\n${finalPlan.take(4000)}")
    // ...and the static sort-merge joins must convert to broadcast at
    // this size under AQE
    assert(finalPlan.contains("BroadcastHashJoin"), s"sizes joins not broadcast:\n${finalPlan.take(4000)}")
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan.take(4000))
  }

  test("minhash signatures are fixed-width perms-long integer vectors in [0, P)") {
    val P = graft.functions.Similarity.PermP
    val sig = Dedup.minhashSignatures(docs, 3, 8)
      .select(size(col("sig")).as("n"),
        array_min(col("sig")).as("mn"), array_max(col("sig")).as("mx"))
      .agg(min("n"), max("n"), min("mn"), max("mx")).collect()(0)
    assert(sig.getInt(0) == 8 && sig.getInt(1) == 8)
    assert(sig.getLong(2) >= 0L && sig.getLong(3) < P)
  }

  test("simhash signature is a 64-char bitstring") {
    val r = Dedup.simhashSignatures(docs.limit(20))
      .select(length(col("sig")).as("l")).distinct().collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(64))
  }

  test("near-dup recall: the jaccard>=0.8 pairs are found by minhash LSH banding") {
    val jac = Dedup.jaccardPairs(docs, 3, 50, 2, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashCandidates(docs, 3, 8, 4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH with 4 bands of 2 rows catches essentially all >=0.8 pairs
    assert(jac.nonEmpty, "corpus should contain planted near-dups")
    assert((jac -- mh).isEmpty, s"missed: ${jac -- mh}")
  }

  test("embedding-cosine LSH finds high-cosine pairs without an all-pairs join") {
    import graft.sources.Tables
    val emb = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding").as("ce"))
    val df = Dedup.embeddingCosPairs(emb, tables = 8, bitsPerTable = 4, minCosQ = 400000L)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    val pairs = df.collect()
    // every reported pair really is above threshold (exact verify ran)
    assert(pairs.forall(_.getLong(2) >= 400000L))
  }

  test("a hot LSH bucket explodes into bounded rows, never one C(n,2) array") {
    import spark.implicits._
    // 120 byte-identical docs — every band bucket has all 120 members, the
    // worst case the two-level explode must absorb without a single-row
    // C(n,2) materialization.
    val hot = (0L until 120L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(hot, k = 3, perms = 8, bands = 4)
    val plan = physicalPlan(pairs)
    assert(!plan.contains("flatten("),
      s"single-row pair materialization is back in the plan:\n$plan")
    val rows = pairs.collect()
    assert(rows.length == 120 * 119 / 2)
    assert(rows.forall(_.getLong(2) == 4), "identical docs must collide in all 4 bands")
  }

  test("embeddingCosPairs fails loudly on an embedding dim mismatch") {
    import spark.implicits._
    val bad = Seq(
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.fill(32)(0.5f))).toDF("vec_id", "ce")
    val ex = intercept[Exception] {
      Dedup.embeddingCosPairs(bad, tables = 2, bitsPerTable = 4, minCosQ = 0L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("dim must be 64")), ex.toString)
  }

  test("modality sniffing reads real magic bytes from the binary column") {
    import spark.implicits._
    val media = Multimodal.withMetaFromDocs(
      (0L to 4L).map(i => (i, "payload text")).toDF("doc_id", "text"))
    val byId = media.select("doc_id", "magic", "container", "modality")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(byId(0L)._1.startsWith("FFD8FF") && byId(0L)._2 == "jpeg" && byId(0L)._3 == "image")
    assert(byId(1L)._1.startsWith("89504E47") && byId(1L)._3 == "image")
    assert(byId(2L)._1.startsWith("52494646") && byId(2L)._2 == "wav" && byId(2L)._3 == "audio")
    assert(byId(3L)._1.substring(8, 16) == "66747970" && byId(3L)._3 == "video")
    assert(byId(4L)._2 == "none" && byId(4L)._3 == "text")
  }

  test("containerParams walks real markers/chunks/boxes to the embedded values") {
    import spark.implicits._
    // 0..19 covers each modality 4× with DIFFERENT variable-length
    // filler segments (JPEG COM pad = doc_id % 7, WAV LIST pad =
    // (doc_id % 6) * 2), so a fixed-offset "parser" cannot pass
    val media = Multimodal.containerParams(Multimodal.withMetaFromDocs(
      (0L to 19L).map(i => (i, "payload text")).toDF("doc_id", "text")))
    val rows = media.select("doc_id", "container", "width", "height",
      "sample_rate", "channels", "timescale", "duration_ts")
      .collect().map(r => r.getLong(0) -> r).toMap
    def nl(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val rates = Seq(8000L, 11025L, 16000L, 22050L, 32000L, 44100L, 48000L)
    for (d <- 0L to 19L) {
      val r = rows(d)
      (d % 5).toInt match {
        case 0 => // jpeg: dims from SOF0, after APP0 + variable COM
          assert(nl(r, 2).contains(64 + d % 1920) && nl(r, 3).contains(48 + d % 1080),
            s"jpeg $d: $r")
          assert(nl(r, 4).isEmpty && nl(r, 6).isEmpty)
        case 1 => // png: dims from IHDR
          assert(nl(r, 2).contains(16 + d % 4096) && nl(r, 3).contains(16 + d % 2160),
            s"png $d: $r")
        case 2 => // wav: rate/channels from the fmt chunk, past LIST
          assert(nl(r, 4).contains(rates((d % 7).toInt)) &&
            nl(r, 5).contains(1 + d % 2), s"wav $d: $r")
          assert(nl(r, 2).isEmpty && nl(r, 3).isEmpty)
        case 3 => // mp4: timescale/duration from moov > mvhd
          val ts = 600 + (d % 4) * 300
          assert(nl(r, 6).contains(ts) && nl(r, 7).contains(ts * (1 + d % 30)),
            s"mp4 $d: $r")
        case _ => // text: nothing defined
          assert((2 to 7).forall(r.isNullAt), s"text $d: $r")
      }
    }
    // the walks are total on garbage bytes: truncated/corrupt blobs
    // yield nulls, never an exception
    val junk = Multimodal.containerParams(Seq(
      (100L, Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte)),
      (101L, "RIFF1234WAVE".getBytes("UTF-8")),
      (102L, Array[Byte](0, 0, 0, 8, 'f', 't', 'y', 'p')))
      .toDF("doc_id", "bytes")
      .withColumn("container",
        expr("element_at(array('jpeg','wav','mp4'), CAST(doc_id - 99 AS INT))")))
    assert(junk.select("width", "height", "sample_rate", "channels",
      "timescale", "duration_ts").collect()
      .forall(r => (0 until 6).forall(r.isNullAt)))
  }

  test("multimodal decodeStub: schema, determinism, batch shape") {
    val withBytes = Multimodal.withMetaFromDocs(docs.limit(50))
    val feats = Multimodal.decodeStub(withBytes)
    assert(feats.schema.fieldNames.contains("features"))
    val rows = feats.select(col("doc_id"), col("features")).collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getSeq[Float](1).length == Multimodal.featureDim))
    // deterministic across runs
    val again = Multimodal.decodeStub(withBytes)
      .select(col("doc_id"), col("features")).collect()
    assert(rows.map(r => (r.getLong(0), r.getSeq[Float](1))).toMap ==
      again.map(r => (r.getLong(0), r.getSeq[Float](1))).toMap)
  }

  test("frameSample fans one media row into n frame rows without a shuffle") {
    val media = Multimodal.withMetaFromDocs(docs.filter(col("doc_id") < 10))
    val frames = Multimodal.frameSample(media, n = 4)
    assert(frames.count() == 40)
    val plan = physicalPlan(frames)
    assert(!plan.contains("Exchange"), s"frame fan-out must be shuffle-free:\n$plan")
    val r = frames.filter(col("doc_id") === 0)
      .select("frame_idx", "pts_sec", "frame_bytes").collect().sortBy(_.getLong(0))
    assert(r.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(r(0).getDouble(1) == 0.0 && r(3).getDouble(1) > 0.0)
    assert(r.forall(_.getAs[Array[Byte]](2).nonEmpty))
  }

  test("frameSample: AVI rows demux REAL frame bytes with exact pts; others keep the stub slices") {
    import spark.implicits._
    import graft.plans.{AviSynth, AviFrameStats}
    // doc 3: real 24-bit DIB AVI (7 frames: 3 % 5 = 3 ⇒ nf = 2 + 3 = 5);
    // doc 9: plain text — must take the even-slice fallback arm
    val media = Seq(3L, 9L).toDF("doc_id")
      .withColumn("bytes",
        when(col("doc_id") === 3, expr("graft_avi_synth(doc_id)"))
          .otherwise(expr("encode('not a container at all', 'UTF-8')")))
    val out = Multimodal.frameSample(media, n = 3)
      .select("doc_id", "frame_idx", "pts_sec", "frame_bytes").collect()
    val avi = out.filter(_.getLong(0) == 3L).sortBy(_.getLong(1))
    // nf = 5, n = 3 ⇒ stride = ceil(5/3) = 2 ⇒ real frames 0, 2, 4
    assert(avi.map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L), avi.mkString(","))
    // exact pts from avih's dwMicroSecPerFrame (33333 + (3%3)·8334)
    assert(avi(1).getDouble(2) == 2 * 33333 / 1e6)
    // the frame BYTES are the real movi payload: synthesis formula,
    // stride padding included (raw DIB rows, pad bytes and all)
    val fb = avi(1).getAs[Array[Byte]](3) // frame_idx 2
    val w = AviSynth.width(3L).toInt; val h = AviSynth.height(3L).toInt
    val stride = (w * 3 + 3) & ~3
    assert(fb.length == h * stride)
    assert(fb.zipWithIndex.forall { case (b, j) =>
      (b & 0xff) == AviSynth.storedByte(3L, 2L, j.toLong) })
    // the non-AVI row kept the documented fallback fan-out
    assert(out.count(_.getLong(0) == 9L) == 3)
    // and the demux expression refuses a corrupt container (truncated
    // movi) rather than emitting partial frames
    val good = AviSynth.synth(3L)
    assert(graft.plans.AviDemux.demux(good, 1).numElements() == 5)
    assert(graft.plans.AviDemux.demux(java.util.Arrays.copyOf(good, good.length - 4), 1) == null)
    assert(graft.plans.AviDemux.demux(good, 0) == null)
    // demux and stats agree on the validated geometry
    assert(AviFrameStats.decode(good).numElements() == 5)
  }

  test("frameSample: MP4 rows demux REAL sample bytes via the sample tables; AVI keeps its arm") {
    import spark.implicits._
    import graft.plans.{Mp4Synth, AviSynth}
    // doc 3: sample-table MP4 (ns = 2 + 3%5 = 5; two stts runs, two
    // chunks); doc 8: DIB AVI; doc 9: plain text → even-slice fallback
    val media = Seq(3L, 8L, 9L).toDF("doc_id")
      .withColumn("bytes",
        when(col("doc_id") === 3, expr("graft_mp4_synth(doc_id)"))
          .when(col("doc_id") === 8, expr("graft_avi_synth(doc_id)"))
          .otherwise(expr("encode('nothing to demux here', 'UTF-8')")))
    val out = Multimodal.frameSample(media, n = 3)
      .select("doc_id", "frame_idx", "pts_sec", "frame_bytes").collect()
    val mp4 = out.filter(_.getLong(0) == 3L).sortBy(_.getLong(1))
    // ns = 5, n = 3 ⇒ stride = ceil(5/3) = 2 ⇒ samples 0, 2, 4
    assert(mp4.map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L), mp4.mkString(","))
    // exact pts through the TWO stts runs: floor(ticks·10⁶/ts)/10⁶
    assert(mp4(1).getDouble(2) ==
      Mp4Synth.ptsTicks(3L, 2L) * 1000000L / Mp4Synth.timescale(3L) / 1e6)
    // the sample BYTES are the real mdat payload at the stco/stsc offsets
    val sb = mp4(1).getAs[Array[Byte]](3) // sample 2 (chunk 1's last: n1 = 3)
    assert(sb.length == Mp4Synth.sampleSize(3L, 2L))
    assert(sb.zipWithIndex.forall { case (b, j) =>
      (b & 0xff) == Mp4Synth.storedByte(3L, 2L, j.toLong) })
    // sample 4 sits in CHUNK 2 — its bytes prove the stsc/stco mapping
    val sb4 = mp4(2).getAs[Array[Byte]](3)
    assert(sb4.zipWithIndex.forall { case (b, j) =>
      (b & 0xff) == Mp4Synth.storedByte(3L, 4L, j.toLong) })
    // AVI arm still demuxes (nf = 2 + 8%5 = 5 ⇒ frames 0, 2, 4)
    assert(out.count(_.getLong(0) == 8L) == 3)
    // plain text keeps the documented fallback fan-out
    assert(out.count(_.getLong(0) == 9L) == 3)
  }

  test("decodeFeatures: MP4 rows carry REAL sample-table descriptors, not stub sums") {
    import spark.implicits._
    import graft.plans.Mp4Synth
    val media = Seq(3L).toDF("doc_id")
      .withColumn("bytes", expr("graft_mp4_synth(doc_id)"))
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 1)
    val fv = feats(0).getAs[scala.collection.Seq[Float]]("features")
    val ns = Mp4Synth.samples(3L)
    val total = (0L until ns).map(Mp4Synth.sampleSize(3L, _)).sum
    assert(fv(0) == 5f, "arm tag 5 = MP4 sample tables")
    assert(fv(1) == ns.toFloat && fv(2) == total.toFloat)
    assert(fv(4) ==
      (Mp4Synth.ptsTicks(3L, ns - 1) * 1000000L / Mp4Synth.timescale(3L) / 1e6).toFloat)
  }

  test("frameSample: a valid AVI with ZERO frames routes to the stub arm, not silently dropped") {
    import spark.implicits._
    import graft.plans.{AviSynth, AviDemux}
    // Patch a synth'd AVI down to zero frames: totalFrames (avih) and
    // stream length (strh) to 0, movi LIST emptied, RIFF size fixed up.
    // Still a structurally valid container, so demux returns an EMPTY
    // array (not null) — the round-11 ADVICE case where a bare explode
    // would drop the row from BOTH arms.
    val src = AviSynth.synth(3L)
    def le32At(b: Array[Byte], p: Int, v: Long): Unit = {
      b(p) = (v & 0xff).toByte; b(p + 1) = ((v >> 8) & 0xff).toByte
      b(p + 2) = ((v >> 16) & 0xff).toByte; b(p + 3) = ((v >> 24) & 0xff).toByte
    }
    val junkLen = (2 + 3 % 9) + ((2 + 3 % 9) & 1) // doc 3's JUNK payload+pad
    val moviHdr = 220 + junkLen                   // "LIST" of the movi list
    val zf = java.util.Arrays.copyOf(src, moviHdr + 12) // keep through "movi"
    le32At(zf, 48, 0)               // avih dwTotalFrames
    le32At(zf, 140, 0)              // strh dwLength
    le32At(zf, moviHdr + 4, 4)      // movi LIST size: fourcc only
    le32At(zf, 4, zf.length - 8L)   // RIFF size
    val d = AviDemux.demux(zf, 1)
    assert(d != null && d.numElements() == 0, "patched container must be valid with 0 frames")
    val media = Seq(1L).toDF("doc_id").withColumn("bytes", lit(zf))
    val out = Multimodal.frameSample(media, n = 3)
    assert(out.count() == 3, "zero-frame AVI must take the stub fan-out, not vanish")
  }

  test("decodeFeatures: PNG/WAV/AVI arms carry REAL decoded features; codec-bound rows fall back") {
    import spark.implicits._
    // one row per arm: real PNG (graft_png_synth), real WAV (synthMedia's
    // wav arm carries real 16-bit PCM), real AVI (graft_avi_synth), and a
    // JPEG-headed row that no real rung decodes (the stub plug-in point)
    val wavRow = Multimodal.synthMedia(Seq((2L, "pcm payload text")).toDF("doc_id", "text"))
      .select(col("doc_id"), col("bytes")) // 2 % 5 = 2 ⇒ wav container
    val jpegRow = Multimodal.synthMedia(Seq((5L, "jpeg body")).toDF("doc_id", "text"))
      .select(col("doc_id"), col("bytes")) // 5 % 5 = 0 ⇒ jpeg container
    val media = Seq(1L).toDF("doc_id")
      .select(col("doc_id"), expr("graft_png_synth(doc_id)").as("bytes"))
      .unionByName(Seq(3L).toDF("doc_id")
        .select(col("doc_id"), expr("graft_avi_synth(doc_id)").as("bytes")))
      .unionByName(wavRow).unionByName(jpegRow)
    val feats = Multimodal.decodeFeatures(media)
      .select(col("doc_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats.values.forall(_.length == Multimodal.featureDim))
    // arm tags: 1 = png, 2 = wav, 3 = avi — real decodes, not the fake
    assert(feats(1L)(0) == 1f && feats(2L)(0) == 2f && feats(3L)(0) == 3f, feats.toString)
    // PNG features are derived from the ACTUAL decoded pixels
    val px = graft.plans.PngPixelStats.decode(graft.plans.PngSynth.synth(1L))
    val nPix = (px(0) * px(1)).toFloat
    assert(feats(1L)(1) == px(0) && feats(1L)(2) == px(1))
    assert(math.abs(feats(1L)(3) - px(2) / nPix / 255.0) < 1e-6)
    // WAV features from the real PCM stats expression
    val st = graft.plans.WavPcmStats.decode(wavRow.collect()(0).getAs[Array[Byte]](1))
    assert(feats(2L)(1) == st(0).toFloat && // n_frames
      math.abs(feats(2L)(2) - st(1) / 32768.0) < 1e-6) // peak
    // AVI features over ALL real frames
    assert(feats(3L)(1) == graft.plans.AviSynth.frames(3L).toFloat)
    assert(feats(3L)(2) == graft.plans.AviSynth.width(3L).toFloat)
    // the JPEG row fell back to the deterministic stub — its features
    // equal decodeStub's on the same bytes
    val stubF = Multimodal.decodeStub(jpegRow).select(col("features"))
      .collect()(0).getSeq[Float](0)
    assert(feats(5L) == stubF)
  }

  test("span dedup removes cross-doc boilerplate and reassembles in order") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // one 10-word span
    val df = Seq(
      (1L, s"$boiler u1a u1b u1c u1d u1e u1f u1g u1h u1i u1j"),
      (2L, s"u2a u2b u2c u2d u2e u2f u2g u2h u2i u2j $boiler"),
      (3L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 tail words only")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(df, spanWords = 10).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[String]("clean_text"), x.getAs[Long]("n_removed"))).toMap
    // the shared span disappears from both carriers, position preserved
    assert(r(1L) == ("u1a u1b u1c u1d u1e u1f u1g u1h u1i u1j", 1L))
    assert(r(2L) == ("u2a u2b u2c u2d u2e u2f u2g u2h u2i u2j", 1L))
    // a doc with no cross-doc span round-trips verbatim (spans rejoin to
    // the original text even when the word count is not a span multiple)
    assert(r(3L) == ("v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 tail words only", 0L))
  }

  test("gram hashes: rolled windows equal direct folds; word boundaries are part of the digest") {
    import graft.plans.GramHashes
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ws: String*) =
      new GenericArrayData(ws.map(w => UTF8String.fromString(w)).toArray[Any])
    def hashes(l: Int, ws: String*): Seq[(Long, Long)] = {
      val g = GramHashes.hashAll(arr(ws: _*), l)
      (0 until g.numElements()).map { i =>
        val r = g.array(i).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        (r.getLong(0), r.getLong(1))
      }
    }
    // the roll must equal the direct fold: window s of a long array ==
    // window 0 of the same words sliced at s (fresh fold, no rolling)
    val ws = (0 until 40).map(i => s"w${i % 7}_$i")
    val rolled = hashes(10, ws: _*)
    for (s <- Seq(0, 1, 13, 30))
      assert(rolled(s) == hashes(10, ws.drop(s).take(10): _*).head, s"window $s")
    // equal grams collide (by construction), different grams do not
    assert(hashes(3, "a", "b", "c").head == hashes(3, "a", "b", "c").head)
    assert(hashes(3, "a", "b", "c").head != hashes(3, "a", "b", "d").head)
    // word boundaries are structural: "ab c" never equals "a bc"
    assert(hashes(2, "ab", "c").head != hashes(2, "a", "bc").head)
    // shorter-than-L input yields an empty gram list, not null
    assert(hashes(10, "one", "two").isEmpty)
    // PINNED (r11 verdict #8): a NULL array element hashes as the empty
    // string — the word contributes only its lane offsets, identically
    // to "". Unreachable from split() today, but graft_gram_hashes is
    // registered SQL surface, so the conflation is contract, not
    // accident; a caller needing null≠"" must pre-encode nulls.
    val withNull = new GenericArrayData(
      Array[Any](UTF8String.fromString("a"), null, UTF8String.fromString("c")))
    val gNull = GramHashes.hashAll(withNull, 3)
    val r0 = gNull.array(0).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert((r0.getLong(0), r0.getLong(1)) == hashes(3, "a", "", "c").head,
      "null element ≡ empty string by documented contract")
  }

  test("substring dedup: offset-independent removal, straddling runs merge whole") {
    import spark.implicits._
    // a 12-word passage shared by two docs AT DIFFERENT OFFSETS: fixed
    // 10-word spans would slice it differently per doc and miss most of
    // it; overlapping grams flag starts 0..2 of the passage in both docs
    // and the maximal-run merge removes all 12 words in each
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, s"a1 a2 $shared"),
      (2L, s"$shared b1 b2 b3"),
      // within-doc refrain (same 10 words twice in ONE doc): df counts
      // distinct docs, so it is NOT self-boilerplate
      (3L, ((1 to 10).map(i => s"r$i").mkString(" ") + " mid " +
        (1 to 10).map(i => s"r$i").mkString(" "))),
      (4L, "short doc under ten words"),
      (5L, null: String)).toDF("doc_id", "text")
    val r = Dedup.substringDedup(df, spanWords = 10).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_removed"),
          x.getAs[Long]("n_spans")))).toMap
    assert(r(1L) == (("a1 a2", 12L, 1L)), r(1L).toString)
    assert(r(2L) == (("b1 b2 b3", 12L, 1L)), r(2L).toString)
    assert(r(3L)._2 == 0L, "within-doc refrain must not self-flag")
    assert(r(4L) == (("short doc under ten words", 0L, 0L)))
    assert(r(5L) == (("", 0L, 0L)), "null text comes back as empty")
    // two DISJOINT shared runs in one doc count as two spans
    val p1 = (1 to 10).map(i => s"x$i").mkString(" ")
    val p2 = (1 to 10).map(i => s"y$i").mkString(" ")
    val df2 = Seq(
      (1L, s"$p1 gap1 gap2 gap3 $p2"),
      (2L, s"$p1 z $p2")).toDF("doc_id", "text")
    val r2 = Dedup.substringDedup(df2, spanWords = 10).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_removed"),
          x.getAs[Long]("n_spans")))).toMap
    assert(r2(1L) == (("gap1 gap2 gap3", 20L, 2L)), r2(1L).toString)
    assert(r2(2L) == (("z", 20L, 2L)), r2(2L).toString)
  }

  test("incremental substring dedup: the standing corpus is the authority, delta pays delta cost") {
    import spark.implicits._
    val passage = (1 to 10).map(i => s"c$i").mkString(" ")
    val corpus = Seq(
      (100L, s"lead in $passage trail out"),
      (101L, "unrelated corpus words only here")).toDF("doc_id", "text")
    val deltaRefrain = (1 to 10).map(i => s"d$i").mkString(" ")
    val delta = Seq(
      // carries the corpus passage at a different offset — cut
      (1L, s"x1 $passage x2 x3"),
      // delta-internal duplication only: NOT judged by the probe (the
      // one-sided contract — delta-vs-delta belongs to the batch pass)
      (2L, deltaRefrain), (3L, deltaRefrain),
      (4L, "novel words that match nothing at all standing")).toDF("doc_id", "text")
    val r = Dedup.incrementalSubstrings(corpus, delta, spanWords = 10)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_removed"),
          x.getAs[Long]("n_spans")))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L), "every DELTA doc comes back, only delta docs")
    assert(r(1L) == (("x1 x2 x3", 10L, 1L)), r(1L).toString)
    assert(r(2L) == ((deltaRefrain, 0L, 0L)), "delta-internal dup is not the probe's call")
    assert(r(4L)._2 == 0L)
    // the plan never re-streams corpus text past the index aggregation:
    // the probe side's only wide state is the delta gram stream
    val plan = physicalPlan(Dedup.probeGramIndex(delta,
      Dedup.gramIndex(corpus, 10).localCheckpoint(), 10))
    assert(!plan.contains("CartesianProduct"))
    // r14 (ADVICE): a probe/append at a DIFFERENT span width than the
    // index was built with would silently cut nothing — the build width
    // rides the schema and a mismatch fails loudly instead
    val idx = Dedup.gramIndex(corpus, 10)
    val e1 = intercept[IllegalArgumentException](
      Dedup.probeGramIndex(delta, idx, spanWords = 12))
    assert(e1.getMessage.contains("spanWords=10"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.gramIndexAppend(idx, delta, spanWords = 8))
    assert(e2.getMessage.contains("spanWords=10"))
    // ...and the width survives the parquet round-trip deployment uses
    val pdir = s"${scratch("gramwidth")}/${System.nanoTime()}"
    idx.write.parquet(pdir)
    intercept[IllegalArgumentException](
      Dedup.probeGramIndex(delta, spark.read.parquet(pdir), spanWords = 12))
  }

  test("the bloom bit table records its geometry: a probe or append under another one throws") {
    import spark.implicits._
    val items = Seq("alpha beta", "gamma delta", "epsilon").toDF("item")
    val probes = Seq((1L, "alpha beta"), (2L, "zeta")).toDF("doc_id", "item")
    val bits = Freq.bloomBuild(items, k = 3, width = 1024)
    val e1 = intercept[IllegalArgumentException](Freq.bloomProbe(bits, probes, 3, 2048))
    assert(e1.getMessage.contains("bloomWidth=1024"), e1.getMessage)
    intercept[IllegalArgumentException](Freq.bloomProbe(bits, probes, 4, 1024))
    intercept[IllegalArgumentException](Freq.bloomAppend(bits, probes.select("item"), 3, 2048))
    // an append keeps the geometry, and parquet round-trips it
    val pdir = s"${scratch("bloomgeom")}/${System.nanoTime()}"
    Freq.bloomAppend(bits, probes.select("item"), 3, 1024).write.parquet(pdir)
    intercept[IllegalArgumentException](Freq.bloomProbe(spark.read.parquet(pdir), probes, 3, 2048))
    assert(Freq.bloomProbe(spark.read.parquet(pdir), probes, 3, 1024)
      .filter(col("maybe_member")).count() == 2)
  }

  test("the minhash band index records its geometry: a probe or append under another one throws") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p q r s t")).toDF("doc_id", "text")
    val delta = Seq((3L, "a b c d e f g h i x")).toDF("doc_id", "text")
    val idx = Dedup.minhashBandIndex(corpus, k = 3, perms = 8, bands = 4)
    val e1 = intercept[IllegalArgumentException](Dedup.probeBandIndex(delta, idx, 3, 8, 2))
    assert(e1.getMessage.contains("bands=4"), e1.getMessage)
    intercept[IllegalArgumentException](Dedup.probeBandIndex(delta, idx, 2, 8, 4))
    intercept[IllegalArgumentException](Dedup.bandIndexAppend(idx, delta, 3, 12, 4))
    // an append keeps the geometry, and parquet round-trips it
    val pdir = s"${scratch("bandgeom")}/${System.nanoTime()}"
    Dedup.bandIndexAppend(idx, delta, 3, 8, 4).write.parquet(pdir)
    intercept[IllegalArgumentException](
      Dedup.probeBandIndex(delta, spark.read.parquet(pdir), 3, 8, 2))
    assert(Dedup.probeBandIndex(delta, spark.read.parquet(pdir), 3, 8, 4)
      .filter(col("doc_id") === 3L).count() == 1)
  }

  test("served ingest pipeline equals the inline 4-gate form, rows and audits") {
    // the q_dedup_substr_served posture applied to the whole admission
    // pipeline: the served form probes PERSISTED bloom/band/gram
    // artifacts, and parquet must round-trip them so exactly that the
    // two forms agree row-for-row (doc_id, source, cut audit, qrank)
    val inline = QueriesLlm.queries("q_ingest_gates")(spark, sfDir)
      .collect().map(_.toSeq.toVector).toSet
    val served = QueriesLlm.queries("q_ingest_gates_served")(spark, sfDir)
      .collect().map(_.toSeq.toVector).toSet
    assert(inline.nonEmpty, "the 4-gate pipeline admitted nothing")
    assert(inline == served)
  }

  test("a persisted bucketed gram index probes with zero index-side shuffle") {
    import spark.implicits._
    import graft.sources.Sinks
    // the Dedup.scala:180 claim, asserted the way minhashBandIndex's is:
    // persist the standing-corpus gram index bucketed+sorted on the flat
    // digest lanes, then probe — every remaining exchange is DELTA-sized
    val passage = (1 to 10).map(i => s"g$i").mkString(" ")
    val corpus = (0L until 40L).map(i =>
      (i, if (i % 4 == 0) s"filler$i a $passage z tail$i"
          else s"corpus doc $i " + (1 to 12).map(j => s"w$i-$j").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq(
      (1000L, s"lead $passage close"),
      (1001L, "novel delta words " + (1 to 12).map(j => s"n$j").mkString(" ")))
      .toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS b_gram_index")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(scratch("warehouse/b_gram_index")))
    Sinks.saveBucketed(Dedup.gramIndex(corpus, 10), "b_gram_index",
      Seq("h1", "h2"), 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val persisted = Dedup.probeGramIndex(delta, spark.table("b_gram_index"), 10)
      val plan = physicalPlan(persisted)
      // delta gram stream into the digest join, the per-doc flagged-start
      // collect, and the words side of the doc_id join — the INDEX side
      // of the digest join reads its buckets with no exchange
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 3, plan)
      val inline = Dedup.incrementalSubstrings(corpus, delta, 10)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(x => (x.getAs[Long]("doc_id"),
          x.getAs[String]("clean_text"), x.getAs[Long]("n_removed"),
          x.getAs[Long]("n_spans"))).toSet
      assert(rows(persisted) == rows(inline))
      assert(rows(persisted).exists { case (id, _, rm, _) => id == 1000L && rm == 10L },
        "the planted corpus passage must be cut from the probing delta doc")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (64L * 1024 * 1024).toString)
  }

  test("span dedup: a null-text doc comes back as empty text, not null") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, null: String)).toDF("doc_id", "text")
    val r = Dedup.spanDedup(df, spanWords = 10).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[String]("clean_text"), x.getAs[Long]("n_removed"))).toMap
    assert(r(2L) == ("", 0L), "the every-doc-comes-back contract covers null text")
    assert(r(1L) == ("a b c", 0L))
  }

  test("span dedup: within-doc refrains are not self-boilerplate") {
    import spark.implicits._
    val refrain = (1 to 10).map(i => s"r$i").mkString(" ")
    val df = Seq((1L, s"$refrain $refrain"), (2L, "x1 x2 x3")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(df, spanWords = 10).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[String]("clean_text"), x.getAs[Long]("n_removed"))).toMap
    // doc 1 repeats its own span twice: df counts DISTINCT docs, so both
    // copies survive
    assert(r(1L) == (s"$refrain $refrain", 0L))
  }

  test("Misra-Gries guarantee: items above n/(k+1) always survive the sketch") {
    // adversarial stream: vocabulary (200) far exceeds the counters (9),
    // two true heavy hitters drowned in long-tail noise, worst-case
    // interleaving (heavy items FIRST, so decrements hit them hardest)
    val k = 9
    val heavy = Seq.fill(300)("hot1") ++ Seq.fill(250)("hot2")
    val noise = (0 until 1000).map(i => s"w${i % 200}")
    val stream = heavy ++ noise // n = 1550, n/(k+1) = 155
    val mg = new Freq.MisraGries(k)
    // simulate distributed partial aggregation: 7 unequal partitions,
    // each reduced independently, merged pairwise in arbitrary order
    val parts = stream.grouped(233).map(_.foldLeft(mg.zero)(mg.reduce)).toSeq
    val merged = parts.reduce(mg.merge)
    val cands = mg.finish(merged)
    assert(cands.size <= k, s"sketch overflowed: $cands")
    assert(cands.contains("hot1") && cands.contains("hot2"),
      s"true heavy hitters lost by the sketch: $cands")
  }

  test("multimodal binary -> decode features -> ANN dedup/search composes end-to-end") {
    import spark.implicits._
    import graft.operators.Ann
    // 20 docs; slot 18 carries doc_id 73, a planted byte-identical
    // duplicate of 13: same text, and 73 ≡ 13 under every modulus the
    // mp4 header arm embeds (% 5 modality, % 4 timescale, % 30
    // duration), so the container header — and the whole binary —
    // matches byte for byte; 7 and 12 carry distinctive byte histograms
    val texts = (0 until 20).map {
      case 7  => "zzzz zzzz zzzz zzzz zzzz zzzz zzzz"
      case 12 => "qq a qq b qq c qq d qq e qq f qq g"
      case i  => s"doc $i body " + (s"word$i " * (i + 1)).trim
    }
    val df = texts.zipWithIndex
      .map { case (t, i) =>
        if (i == 18) (73L, texts(13)) else (i.toLong, t) }
      .toDF("doc_id", "text")
    // binary → typed meta → routed decode: the WAV rows (doc_id % 5 = 2)
    // carry REAL PCM-derived features (the synthMedia wav arm embeds the
    // payload as genuine 16-bit PCM), the codec-bound rest take the
    // documented stub plug-in point — one fixed-width contract either way
    val feats = Multimodal.decodeFeatures(Multimodal.withMetaFromDocs(df))
      .select(col("doc_id"), col("modality"), col("features"))
    assert(feats.filter(col("modality") === "audio")
      .collect().forall(_.getSeq[Float](2).head == 2f),
      "audio rows must ride the real PCM decode arm")
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    assert(feats.schema("features").dataType.asInstanceOf[ArrayType]
      .elementType == FloatType)
    // features → embedding-cosine LSH near-dup: the byte-identical pair
    // must collide and verify at cosine ~1
    val emb = feats.select(col("doc_id").as("vec_id"), col("features").as("ce"))
    val pairs = Dedup.embeddingCosPairs(emb, tables = 4, bitsPerTable = 2,
        minCosQ = 999999L, dim = Multimodal.featureDim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((13L, 73L)),
      s"planted byte-identical duplicate not surfaced by LSH+verify: $pairs")
    // features → IVF search (cells = sniffed modality): each query's
    // nearest neighbor is itself at quantized cosine 1e6
    val corpus = feats.select(col("modality").as("cell"),
      col("doc_id").as("corpus_id"), col("features").as("ce"))
    val queries = feats.filter(col("doc_id").isin(7L, 12L))
      .select(col("doc_id").as("query_id"), col("features").as("qe"))
    val top1 = Ann.ivfTopK(queries, corpus, k = 3, nprobe = 5,
        dim = Multimodal.featureDim)
      .filter(col("rnk") === 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Long]("score_q"))).toList.sortBy(_._1)
    assert(top1.map(t => t._1 -> t._2) == List(7L -> 7L, 12L -> 12L),
      s"self-match not top-1: $top1")
    assert(top1.forall(_._3 >= 999999L), s"self-cosine below 1.0 tick: $top1")
  }

  test("IVF contract: nprobe=all is exactly brute force; nprobe=1 is the exact in-cell top-k") {
    import graft.operators.Ann
    val emb = Tables(spark, sfDir).embeddings
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("label").as("cell"), col("vec_id").as("corpus_id"),
        col("embedding").as("ce"))
    val nCells = corpus.select(col("cell")).distinct().count().toInt
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("corpus_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = ids(Ann.bruteForceTopK(queries, corpus.drop("cell"), k = 10))
    // probing every cell removes the approximation entirely — scores,
    // tie-breaks and ranks must be IDENTICAL to the brute-force scan
    assert(ids(Ann.ivfTopK(queries, corpus, k = 10, nprobe = nCells)) == brute)
    // single-probe: the approximation must degrade EXACTLY as designed —
    // all of a query's results come from one probed cell, and within
    // that cell they are precisely the brute-force top-10 (this corpus's
    // random embeddings make the cells uninformative, so GLOBAL recall
    // at nprobe=1 is ~1/nCells by construction — per-cell exactness is
    // the honest contract, a recall floor here would assert noise)
    val one = Ann.ivfTopK(queries, corpus, k = 10, nprobe = 1)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.get(1), r.getLong(2), r.getInt(3)))
    for ((qid, rows) <- one.groupBy(_._1)) {
      val cells = rows.map(_._2).distinct
      assert(cells.length == 1, s"query $qid probed ${cells.length} cells at nprobe=1")
      val inCell = ids(Ann.bruteForceTopK(
        queries.filter(col("query_id") === qid),
        corpus.filter(col("cell") === cells.head).drop("cell"), k = 10))
      assert(rows.map(t => (t._1, t._3, t._4)).toSet == inCell,
        s"query $qid: nprobe=1 is not the exact in-cell top-10")
    }
  }

  test("heavyHitters returns the exact answer on a skewed corpus") {
    import spark.implicits._
    // 3 heavy items above 1/10 of a 10k stream, 500-word noise tail
    val items = (Seq.fill(2000)("alpha") ++ Seq.fill(1500)("beta") ++
      Seq.fill(1100)("gamma") ++ (0 until 5400).map(i => s"n${i % 500}"))
    val df = items.toDF("item")
    val got = Freq.heavyHitters(spark, df, k = 16, denom = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("alpha" -> 2000L, "beta" -> 1500L, "gamma" -> 1100L))
    // the guarantee precondition is enforced, not documented away
    val ex = intercept[IllegalArgumentException] {
      Freq.heavyHitters(spark, df, k = 8, denom = 10L)
    }
    assert(ex.getMessage.contains("cannot guarantee"))
  }

  test("PII scrub counts and redacts emails, IPs, phones — and never shuffles") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b+x@ex.co and c@d.org ip 10.1.2.3 tel +123456789 done"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val r = TextAnalysis.scrubPii(df).collect().map(r =>
      r.getAs[Long]("doc_id") -> r).toMap
    assert(r(1L).getAs[Int]("n_pii_emails") == 2)
    assert(r(1L).getAs[Int]("n_pii_ips") == 1)
    assert(r(1L).getAs[Int]("n_pii_phones") == 1)
    assert(r(1L).getAs[String]("scrubbed") ==
      "mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE> done")
    assert(r(2L).getAs[Int]("n_pii_emails") == 0 &&
      r(2L).getAs[String]("scrubbed") == "no pii here at all")
    assert(!physicalPlan(TextAnalysis.scrubPii(docs)).contains("Exchange"),
      "pii scrub must run at scan speed")
  }

  test("repetition score separates repeated docs from diverse ones, shuffle-free") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c a b c a b c"),  // heavy 3-gram repetition
      (2L, "one two three four five six seven eight"),
      (3L, "tiny doc")).toDF("doc_id", "text") // < k words
    val r = TextAnalysis.repetition(df).collect().map(x =>
      x.getAs[Long]("doc_id") -> x.getAs[Double]("rep_ratio")).toMap
    assert(r(1L) > 0.6, s"repeated doc scored ${r(1L)}")
    assert(r(2L) == 0.0, s"diverse doc scored ${r(2L)}")
    assert(r(3L) == 0.0)
    assert(!physicalPlan(TextAnalysis.repetition(docs)).contains("Exchange"))
  }

  test("trigram surprisal: hand-computed integer log2 scores, OOV counting, short-doc exclusion") {
    import spark.implicits._
    val d = Seq(
      (1L, "aaaa", "en"), (2L, "aaab", "en"),
      (3L, "bbbb", "zh"), (4L, "ab", "en")).toDF("doc_id", "text", "lang")
    // en model: {aaa: 3, aab: 1} → tot=4, v=2 → blv = bitlen(6) = 3
    val r = TextAnalysis.trigramSurprisal(d, "en", keepBelowMb = 1000L)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(1L, 2L, 3L)) // the 2-char doc has no trigram
    assert(r(1L).getAs[Long]("surprisal_mb") == 0L)    // (3·2 − (3+3))·1000 div 2
    assert(r(2L).getAs[Long]("surprisal_mb") == 500L)  // (3·2 − (3+2))·1000 div 2
    assert(r(3L).getAs[Long]("surprisal_mb") == 2000L) // all-OOV: bl(1)=1 per trigram
    assert(r(1L).getAs[Long]("n_oov") == 0L && r(3L).getAs[Long]("n_oov") == 2L)
    assert(r(1L).getAs[Boolean]("keep") && !r(3L).getAs[Boolean]("keep"))
    // scale shape: the model reaches the scorer as a BROADCAST (the
    // trigram stream never shuffles into a join) and nothing plans a
    // product; the only SMJ-able key anywhere is the per-doc aggregate
    val plan = physicalPlan(TextAnalysis.trigramSurprisal(docs))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("phrase search == sliding-window brute force (repeated terms, overlaps); pushed isin, one anchor shuffle") {
    import graft.operators.TextIndex
    val phrase = Seq("table", "table", "key")
    val posts = TextIndex.buildPositionalPostings(docs, "doc_id", "text")
    val got = TextIndex.searchPhrase(posts, phrase).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: slide over each doc's split words (empty tokens keep
    // their slot in the numbering, matching split semantics)
    val expected = docs.select(col("doc_id"), col("text")).collect().flatMap { r =>
      val ws = r.getString(1).split(" ", -1)
      val hits = (0 to ws.length - phrase.length)
        .filter(a => phrase.indices.forall(i => ws(a + i) == phrase(i)))
      if (hits.isEmpty) None
      else Some((r.getLong(0), hits.length.toLong, hits.min.toLong))
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "the probe phrase must occur in the fixture corpus")
    // an overlapping self-repeating phrase counts every anchor: "x x"
    // in "x x x" hits at anchors 0 AND 1
    import spark.implicits._
    val tiny = Seq((1L, "x x x y")).toDF("doc_id", "text")
    val ov = TextIndex.searchPhrase(
        TextIndex.buildPositionalPostings(tiny, "doc_id", "text"), Seq("x", "x"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ov.toSeq == Seq((1L, 2L, 0L)), ov.mkString(","))
    // plan: probe terms pushed into the scan as In(term, ..); slot
    // table broadcast; no cartesian
    val plan = physicalPlan(TextIndex.searchPhrase(posts, phrase))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("surprisal buckets: exact value-threshold terciles, ties together; histogram plan (no corpus sort)") {
    import spark.implicits._
    // expected buckets derived from the batch scorer's OWN scores via
    // the tercile spec (t_k = smallest score whose cumulative count
    // reaches ceil(k*n/3); buckets by VALUE so ties land together) —
    // independent of trigram arithmetic, which has its own tests
    val d = docs.limit(60).select(col("doc_id"), col("text"), col("lang"))
    val scores = TextAnalysis.trigramSurprisal(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Long]("surprisal_mb")))
    val expected = scores.groupBy(_._2).iterator.flatMap { case (_, rs) =>
      val n = rs.length.toLong
      val hist = rs.groupBy(_._3).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1)
      val cums = hist.scanLeft(0L)(_ + _._2).tail
      def thr(k: Long) =
        hist.zip(cums).collectFirst { case ((s, _), c) if c * 3 >= k * n => s }.get
      val (t1, t2) = (thr(1), thr(2))
      rs.map { case (id, _, s) =>
        id -> (if (s <= t1) "head" else if (s <= t2) "middle" else "tail") }
    }.toMap
    val got = TextAnalysis.surprisalBuckets(d).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == expected)
    // docs with identical scores must always share a bucket (the
    // value-threshold contract a rank NTILE would violate)
    val byScore = scores.groupBy(t => (t._2, t._3)).values
    assert(byScore.forall(g => g.map(t => got(t._1)).toSet.size == 1))
    assert(Set("head", "middle", "tail").subsetOf(got.values.toSet),
      s"all three buckets must appear: ${got.values.toSet}")
    // scale shape: the threshold table reaches the corpus as a
    // BROADCAST; no corpus-wide Sort (the quantile runs over the
    // KB-scale histogram, whose own window sort is bounded)
    val plan = physicalPlan(TextAnalysis.surprisalBuckets(docs))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("trigram model append == rebuild over the union, for any split (count monoid)") {
    // r15: the LM gate's maintenance arm — folding a delta's counts
    // into a persisted model must equal retraining over corpus ∪ delta,
    // empty sides included (the gramIndexAppend/aggState algebra)
    import spark.implicits._
    val corpus = docs.limit(40).select(col("doc_id"), col("text"), col("lang"))
    def modelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (splitMod <- Seq(3L, 1L)) { // 1L: empty delta side
      val base  = corpus.filter(col("doc_id") % splitMod =!= 0)
      val delta = corpus.filter(col("doc_id") % splitMod === 0)
      val appended = modelMap(TextAnalysis.trigramModelAppend(
        TextAnalysis.trigramModel(base), delta))
      val rebuilt = modelMap(TextAnalysis.trigramModel(corpus))
      assert(appended == rebuilt, s"splitMod=$splitMod")
    }
    // empty BASE side: append onto a zero-doc model
    val fromEmpty = modelMap(TextAnalysis.trigramModelAppend(
      TextAnalysis.trigramModel(corpus.limit(0)), corpus))
    assert(fromEmpty == modelMap(TextAnalysis.trigramModel(corpus)))
  }

  test("decontamination flags exactly the train docs overlapping the eval set") {
    import spark.implicits._
    val eval = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps somewhere"), // shares 3 3-grams
      (2L, "a quick brown dog sits"),              // shares none (min 2)
      (3L, "completely unrelated words entirely")).toDF("doc_id", "text")
    val flagged = Dedup.contaminated(train, eval, k = 3, minCommon = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(1L), s"got $flagged")
    assert(flagged(1L) == 3L) // "the quick brown","quick brown fox","brown fox jumps"
    // the eval shingle set must broadcast — the corpus side never
    // shuffles into a join
    val plan = physicalPlan(Dedup.contaminated(train, eval, 3, 2))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("quality keeps are a strict subset and langid only emits known codes") {
    val q = TextAnalysis.quality(docs)
    assert(q.filter(col("keep")).count() < q.count())
    val codes = TextAnalysis.langId(docs).select("pred_lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(codes.subsetOf(TextAnalysis.Stopwords.map(_._1).toSet + "und"))
  }

  test("stratified sampling is deterministic, shuffle-free, and rate-faithful") {
    import graft.operators.Sampling
    val base = docs.select(col("doc_id"), col("lang"))
    val s1 = Sampling.stratifiedSample(base, "lang", "doc_id",
      Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.5)
    assert(!physicalPlan(s1).contains("Exchange"), "sampling must not shuffle")
    // identical kept-set on a re-run (task-retry safety)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratifiedSample(base, "lang", "doc_id",
      Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2 && ids1.nonEmpty)
    // rate=1.0 keeps every row of the stratum
    val zhAll = base.filter(col("lang") === "zh").count()
    val zhKept = s1.filter(col("lang") === "zh").count()
    assert(zhKept == zhAll)
    // en lands near 25% (md5 coin over hundreds of docs: generous bounds)
    val enAll = base.filter(col("lang") === "en").count().toDouble
    val enKept = s1.filter(col("lang") === "en").count().toDouble
    assert(enKept / enAll > 0.1 && enKept / enAll < 0.45,
      s"en keep-rate ${enKept / enAll} far from 0.25")
  }

  test("sequence packing respects the budget contract per shard") {
    import graft.operators.Sampling
    val t = TextAnalysis.tokenCounts(docs)
      .select(col("doc_id"), col("lang"), col("bpe_tokens"))
    val packed = Sampling.packSequences(t, "lang", "doc_id", "bpe_tokens", 4096L)
    val manifests = packed.groupBy(col("lang"), col("pack_id"))
      .agg(sum(col("bpe_tokens")).as("tok"), count(lit(1)).as("n"))
      .collect()
    assert(manifests.length > 1, "corpus must span multiple packs")
    // every pack except possibly single-doc overflows starts under budget:
    // tok - last straddling doc < 4096 means tok < 4096 + max doc tokens
    val maxDoc = t.agg(max(col("bpe_tokens"))).collect()(0).getInt(0)
    assert(manifests.forall(_.getLong(2) < 4096L + maxDoc))
    // pack ids are dense from 0 within each shard
    val perLang = manifests.groupBy(_.getString(0))
    perLang.foreach { case (_, ms) =>
      val ids = ms.map(_.getLong(1)).sorted
      assert(ids.head == 0L && ids.sameElements(0L until ids.length.toLong))
    }
  }

  test("q_pipeline_prep is a funnel: fewer docs out than in, positive token budget") {
    val out = QueriesLlm.pipelinePrep(spark, sfDir).collect()
    assert(out.nonEmpty)
    val nKept = out.map(_.getLong(1)).sum
    assert(nKept > 0 && nKept < docs.count(),
      s"quality gate + dedup must drop rows (kept $nKept)")
    assert(out.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0))
    val langs = out.map(_.getString(0)).toSet
    assert(langs.subsetOf(TextAnalysis.Stopwords.map(_._1).toSet + "und"))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("incremental probe matches a brute-force cross-split collision check") {
    val d = docs
    val got = Dedup.incrementalDupes(
        corpus = d.filter(col("doc_id") % 10 =!= 0),
        delta = d.filter(col("doc_id") % 10 === 0), k = 3, perms = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // independent reimplementation: band keys recomputed in driver Scala
    // from the signatures, collisions resolved by brute force
    val bandsOf = Dedup.minhashSignatures(d, 3, 8).collect().map { r =>
      val sig = r.getSeq[Long](1)
      r.getLong(0) -> (0 until 4).map(b => (b, md5hex(s"${sig(2 * b)}|${sig(2 * b + 1)}")))
    }.toMap
    val corpusIds = bandsOf.keySet.filter(_ % 10 != 0)
    val expected = bandsOf.keySet.filter(_ % 10 == 0).flatMap { did =>
      val mine = bandsOf(did).toSet
      val hits = corpusIds.filter(cid => bandsOf(cid).exists(mine.contains))
      if (hits.isEmpty) None else Some((did, hits.min, hits.size.toLong))
    }
    assert(got == expected)
    assert(got.nonEmpty, "planted near-dups should straddle the corpus/delta split")
  }

  test("a persisted bucketed band index probes with zero index-side shuffle") {
    import graft.sources.Sinks
    val d = docs
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val delta = d.filter(col("doc_id") % 10 === 0)
    spark.sql("DROP TABLE IF EXISTS b_mh_index")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(scratch("warehouse/b_mh_index")))
    Sinks.saveBucketed(Dedup.minhashBandIndex(corpus, 3, 8, 4),
      "b_mh_index", Seq("band", "bk"), 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val persisted = Dedup.probeBandIndex(delta, spark.table("b_mh_index"), 3, 8, 4)
      // every shuffle left is DELTA-sized: the delta side of the bucket
      // join (the bucketed index side needs none), the pair distinct,
      // and the per-doc min/count — the corpus moves zero bytes at
      // probe time. (r14: was 4 — the delta signature AGGREGATE
      // exchange is gone, signatures are now a compiled scalar
      // projection, plans/MinhashSigExpr.scala)
      val plan = physicalPlan(persisted)
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 3, plan)
      val inline = Dedup.incrementalDupes(corpus, delta, 3, 8, 4)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows(persisted) == rows(inline))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (64L * 1024 * 1024).toString)
  }

  test("per-row scalar minhash signature: same values as explode+groupBy, zero shuffles") {
    import graft.functions.Similarity
    val viaAgg = Dedup.minhashSignatures(docs, 3, 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val scalarDf = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), Similarity.shingleHashes(col("w"), 3).as("hs"))
      .select(col("doc_id"), Similarity.minhashFromHashes(col("hs"), 8).as("sig"))
    assert(!physicalPlan(scalarDf).contains("Exchange"),
      "the scalar signature must be a pure projection")
    val viaScalar = scalarDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaScalar == viaAgg)
    // r14: the compiled one-pass expression (plans/MinhashSigExpr) is
    // value-identical to BOTH formulations — it skips array_distinct
    // (min is duplicate-invariant) and fuses hash+permute+min, so the
    // identity is the proof the shortcut is sound; null for short docs
    val viaExpr = docs
      .select(col("doc_id"), call_function("graft_minhash_sig",
        split(col("text"), " "), lit(3), lit(8)).as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr == viaAgg)
    val shortDoc = spark.range(1).select(lit("one two").as("text"))
      .select(call_function("graft_minhash_sig",
        split(col("text"), " "), lit(3), lit(8)).as("sig"))
      .collect().head
    assert(shortDoc.isNullAt(0), "sub-k-word docs must signature as null")
  }

  test("compiled shingle digests equal md5 over the HOF shingle chain") {
    // r14: plans/ShingleMd5s — the exact-join token stream's engine.
    // Distinct-by-digest must equal distinct-by-text + md5 per doc
    // (equal text => equal digest; a collision would differ, and would
    // also surface in the oracle hash gates)
    val viaHof = Dedup.shingled(docs, 3)
      .select(col("doc_id"), md5(col("s")).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val viaExpr = docs
      .select(col("doc_id"), explode(call_function("graft_shingle_md5s",
        split(col("text"), " "), lit(3))).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaExpr == viaHof)
    assert(viaExpr.nonEmpty)
    // sub-k-word docs yield an empty array -> zero exploded rows
    val short = spark.range(1).select(lit("one two").as("text"))
      .select(explode(call_function("graft_shingle_md5s",
        split(col("text"), " "), lit(3))).as("h"))
    assert(short.count() == 0)
  }

  test("temperature mixing matches brute force and keeps the rarest stratum whole") {
    import graft.operators.Sampling
    val df = docs.select(col("doc_id"), col("lang"))
    val counts = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nmin = counts.values.min
    val out = Sampling.temperatureSample(df, "lang", "doc_id").collect()
    val expected = df.collect().flatMap { r =>
      val (id, lang) = (r.getLong(0), r.getString(1))
      val thr = math.floor(math.sqrt(nmin.toDouble / counts(lang)) * 256).toInt
      val u = Integer.parseInt(md5hex(s"s|$id").substring(0, 2), 16)
      if (u < thr) Some((id, lang)) else None
    }.toSet
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"))).toSet == expected)
    val rarest = counts.minBy(_._2)._1
    assert(out.count(_.getAs[String]("lang") == rarest) == counts(rarest),
      "threshold for the minimum-count stratum is 256: every row kept")
  }

  test("LSH geometry sweep: coarser bands nest candidates; each union row grades its own geometry") {
    def cands(b: Int) = Dedup.minhashCandidates(docs, 3, 8, b)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (c8, c4, c2) = (cands(8), cands(4), cands(2))
    // a pair agreeing on an r-row band agrees on every 1-row sub-band,
    // so candidate sets nest as bands coarsen (caps don't bind here)
    assert(c2.subsetOf(c4) && c4.subsetOf(c8))
    assert(c2.size < c8.size, "the geometry knob must actually move the candidate volume")
    val rows = QueriesLlm.dedupRecallGeom(spark, sfDir).collect()
      .map(r => r.getAs[Int]("bands") -> r).toMap
    assert(rows.keySet == Set(8, 4, 2))
    // each union row graded ITS OWN geometry: candidate counts match
    // the standalone pipelines, truth count is shared
    assert(rows(8).getAs[Long]("n_cand") == c8.size.toLong)
    assert(rows(4).getAs[Long]("n_cand") == c4.size.toLong)
    assert(rows(2).getAs[Long]("n_cand") == c2.size.toLong)
    assert(rows.values.map(_.getAs[Long]("n_true")).toSet.size == 1)
    // nesting ⇒ caught counts are monotone in band count
    assert(rows(2).getAs[Long]("n_caught") <= rows(4).getAs[Long]("n_caught"))
    assert(rows(4).getAs[Long]("n_caught") <= rows(8).getAs[Long]("n_caught"))
  }

  test("SemDeDup: planted copies drop to lower-id reps; drop set equals the in-cell brute force") {
    import graft.operators.Ann
    // plant exact copies (vec_id + 10000): identical vectors assign to
    // the SAME cell (assignment is a pure function of the vector) and
    // cosine 1.0 ≥ τ, so every copy MUST drop to a lower-id neighbor
    val tmp = scratch("semdedup")
    val base = Tables(spark, sfDir).embeddings
    base.unionByName(base.filter(col("vec_id") >= 5)
        .withColumn("vec_id", col("vec_id") + 10000L))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = QueriesLlm.dedupSemantic(spark, tmp).collect()
    val dropped = out.filter(!_.getAs[Boolean]("keep"))
      .map(r => r.getAs[Long]("corpus_id") -> r.getAs[Long]("dup_of")).toMap
    val copies = out.map(_.getAs[Long]("corpus_id")).filter(_ >= 10000L)
    assert(copies.nonEmpty)
    copies.foreach(c => assert(dropped.contains(c) && dropped(c) < c,
      s"copy $c must drop to a lower-id representative"))
    // full driver-side brute force: same cells (the operator's own
    // assignment — clustering itself is pinned by the q_sim_kmeans
    // oracle), cosine re-derived with graft_cosine's exact arithmetic
    // (in-order double accumulation over widened floats)
    val corpus = Tables(spark, tmp).embeddings.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("corpus_id"), col("embedding").as("ce"))
    val cells = Ann.assignCells(Ann.kmeansCodebook(corpus, k = 4, iters = 2), corpus)
      .select("corpus_id", "ce", "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cosQ(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val (va, vb) = (a(i).toDouble, b(i).toDouble)
        dot += va * vb; na += va * va; nb += vb * vb; i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000000).toLong
    }
    val expected = cells.flatMap { case (idB, vb, cellB) =>
      val lower = cells.collect {
        case (idA, va, cellA)
          if cellA == cellB && idA < idB && cosQ(va, vb) >= 450000L => idA
      }
      if (lower.nonEmpty) Some(idB -> lower.min) else None
    }.toMap
    assert(dropped == expected)
    assert(out.length == cells.length, "every corpus vector gets a verdict row")
    assert(!physicalPlan(QueriesLlm.dedupSemantic(spark, tmp)).contains("CartesianProduct"))
  }

  test("token-budget mixture: equals the driver-side brute force; budgets and offsets broadcast") {
    import graft.operators.Sampling
    val base = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("tok"))
    val out = Sampling.tokenBudgetMixture(base, "source", "doc_id", "tok",
        num = 1L, den = 4L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("cum_tok"), r.getAs[Long]("budget"))).toSet
    // brute force, all driver-side: per-source md5-order prefix under
    // the same integer budget arithmetic (toLong truncates = floor for
    // positives; / on Longs truncates = the plan's div)
    val rows = base.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val gtok = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val w = gtok.view.mapValues(t => math.sqrt(t.toDouble).toLong).toMap
    val tt = gtok.values.sum
    val sw = w.values.sum
    val expected = rows.groupBy(_._2).iterator.flatMap { case (src, rs) =>
      val budget = (tt * 1L / 4L) * w(src) / sw
      val ordered = rs.sortBy(t => (md5hex(s"mix|${t._1}"), t._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      // cum is strictly increasing, so the admitted set is a maximal
      // hash-order prefix by construction — equality proves the
      // two-phase offsets reconstruct the single global running sum
      ordered.zip(cums).takeWhile(_._2 <= budget)
        .map { case ((id, s, _), cum) => (id, s, cum, budget) }
    }.toSet
    assert(out == expected)
    assert(out.nonEmpty && out.size < rows.length, "budget must bite")
    // scale shape: offsets/budgets reach the corpus as broadcasts; the
    // only corpus shuffle is the bounded (source, sub) window
    val plan = physicalPlan(
      Sampling.tokenBudgetMixture(base, "source", "doc_id", "tok"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("token-budget mixture: trillion-token scale — B·w over Long.Max stays exact (DECIMAL path)") {
    // r15 ADVICE: with the docstring's trillion-token corpora the
    // budget product B·w exceeds Long.MaxValue; ANSI-off BIGINT
    // arithmetic wrapped it negative (admitting nothing) while the
    // DuckDB twin raised. Both engines now widen the product — this
    // pins the Spark side against a BigInt brute force at a scale
    // where the old formulation provably wrapped.
    import graft.operators.Sampling
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val perDoc = 575000000000000000L // 5.75e17 tokens
    val rows = (1L to 8L).map(i => (i, "a", perDoc)) ++
      (9L to 14L).map(i => (i, "b", perDoc))
    val base = rows.toDF("doc_id", "source", "tok")
    val gtok = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val w = gtok.view.mapValues(t => math.sqrt(t.toDouble).toLong).toMap
    val tt = gtok.values.sum // 8.05e18 — fits BIGINT; tt/4 ≈ 2.01e18
    val sw = w.values.sum
    val bigB = BigInt(tt / 4L)
    // the regime the fix exists for: the Long product would wrap
    assert(bigB * BigInt(w("a")) > BigInt(Long.MaxValue),
      "test corpus must put B*w over Long.Max")
    val budgets = w.view.mapValues(wg => (bigB * wg / sw).toLong).toMap
    assert(budgets.values.forall(b => b > 0 && b >= perDoc),
      s"budgets must be positive and admit at least one doc: $budgets")
    val expected = rows.groupBy(_._2).iterator.flatMap { case (src, rs) =>
      val ordered = rs.sortBy(t => (md5hex(s"mix|${t._1}"), t._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      ordered.zip(cums).takeWhile(_._2 <= budgets(src))
        .map { case ((id, s, _), cum) => (id, s, cum, budgets(src)) }
    }.toSet
    assert(expected.nonEmpty, "the budget must admit something at this scale")
    val out = Sampling.tokenBudgetMixture(base, "source", "doc_id", "tok")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("cum_tok"), r.getAs[Long]("budget"))).toSet
    assert(out == expected)
  }

  test("shuffleOrder is the single-sort permutation: total, retry-stable, seed-keyed") {
    import graft.operators.Sampling
    val df = docs.select(col("doc_id"))
    val rows = Sampling.shuffleOrder(df, "doc_id", "epoch0").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("skey"), r.getAs[Long]("train_idx")))
    val n = rows.length
    assert(rows.map(_._3).sorted.toSeq == (0L until n), "train_idx must be a permutation of 0..n-1")
    // ≡ the semantics: rank in (skey, id) order
    val expected = rows.sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((id, _, _), i) => id -> i.toLong }.toMap
    assert(rows.forall(r => expected(r._1) == r._3))
    // rerun identical (retry/restart stability); a new seed reshuffles
    val again = Sampling.shuffleOrder(df, "doc_id", "epoch0").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("train_idx"))).toMap
    assert(rows.forall(r => again(r._1) == r._3))
    val ep1 = Sampling.shuffleOrder(df, "doc_id", "epoch1").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("train_idx"))).toMap
    assert(rows.exists(r => ep1(r._1) != r._3), "a new epoch seed must permute differently")
  }

  test("temperature mixing's corpus pass broadcast-joins — the corpus never shuffles") {
    import graft.operators.Sampling
    val plan = physicalPlan(
      Sampling.temperatureSample(docs.select(col("doc_id"), col("lang")), "lang", "doc_id"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the single hash exchange is the KB-sized per-stratum count
    // aggregate (the global min is an Exchange SinglePartition)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("count-min: one-sided overestimate with the 2n/width bound; probe side broadcasts") {
    val words = docs.select(explode(split(col("text"), " ")).as("item"))
    val (depth, width) = (4, 256)
    val sketch = Freq.cmsSketch(words, depth, width)
    val probes = docs.filter(col("doc_id") < 10)
      .select(explode(split(col("text"), " ")).as("item"))
    val est = Freq.cmsEstimate(sketch, probes, depth, width)
    val truth = words.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val n = words.count()
    val joined = est.join(truth, "item")
      .select(col("item"), col("est"), col("cnt")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (e, t) = (r.getAs[Long]("est"), r.getAs[Long]("cnt"))
      // CMS never underestimates...
      assert(e >= t, s"underestimate for ${r.getString(0)}: est=$e true=$t")
      // ...and with depth=4 independent md5 rows the overshoot stays
      // within a generous multiple of the n/width expectation
      // (deterministic given the fixed corpus — not a flaky bound)
      assert(e - t <= 4L * n / width,
        s"overshoot beyond 4n/width for ${r.getString(0)}: est=$e true=$t n=$n")
    }
    // the sketch broadcasts into the probe join — estimation never
    // shuffles the sketch or sort-merges
    val plan = physicalPlan(est)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("BPE merges: hand-checked merge order, frequency weighting, early exhaustion") {
    import spark.implicits._
    import graft.operators.Tokenize
    // vocab: aaab ×3, ab ×2. Round 0: (a,a) = 2·3 = 6 beats (a,b) = 5.
    // Round 1: aaab = [aa,a,b] → (a,b) = 3+2 = 5 beats (aa,a) = 3.
    // Round 2: [aa,ab] → (aa,ab) = 3. Round 3: nothing left — the
    // fourth merge must be ABSENT, not padded.
    val corpus = Seq((1L, "aaab aaab ab"), (2L, "aaab ab")).toDF("doc_id", "text")
    val merges = Tokenize.bpeMerges(corpus, nMerges = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(merges.toSeq == Seq(
      (0L, "a", "a", 6L), (1L, "a", "b", 5L), (2L, "aa", "ab", 3L)))
  }

  test("chunkDocs: full coverage, exact overlap, one chunk for short docs, no shuffle") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docsIn = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words, window 4
      (2L, "a b"),                                    // shorter than one window
      (3L, "x")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocs(docsIn, window = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // stride 2: starts 0,2,4,6 -> ceil((10-2)/2)=4 chunks; every word
    // covered, consecutive chunks share exactly `overlap` words
    assert(d1.map(_._3).toSeq == Seq(0L, 2L, 4L, 6L))
    assert(d1.last._5 == "w7 w8 w9 w10")
    for (pair <- d1.map(_._5.split(" ").toSeq).sliding(2); Seq(a, b) = pair.toSeq)
      assert(a.takeRight(2) == b.take(2), s"overlap broken: $a | $b")
    assert(d1.flatMap(c => c._3 until (c._3 + c._4)).toSet == (0L until 10L).toSet)
    // short docs yield exactly one whole-doc chunk
    assert(chunks.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L, "a b")))
    assert(chunks.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 0L, 1L, "x")))
    // row-local fan-out: no exchange anywhere in the plan
    val plan = physicalPlan(TextAnalysis.chunkDocs(docs, 64, 16))
    assert(!plan.contains("Exchange"), plan)
  }

  test("audio PCM decode: bit-exact samples, channel-0 stride, non-16-bit rejected") {
    import spark.implicits._
    def le(v: Int, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    def wav(channels: Int, bits: Int, samples: Seq[Int]): Array[Byte] = {
      val block = channels * bits / 8
      val data = samples.flatMap(le(_, bits / 8))
      ("RIFF".getBytes ++ le(36 + data.size, 4) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le(16, 4) ++ le(1, 2) ++ le(channels, 2) ++
        le(8000, 4) ++ le(8000 * block, 4) ++ le(block, 2) ++ le(bits, 2) ++
        "data".getBytes ++ le(data.size, 4) ++ data).toArray
    }
    val mono = wav(1, 16, Seq(1000, -1000, 0, -32768, 32767))
    // stereo: channel 0 = (5, -5), channel 1 = (9999, 9999) interleaved
    val stereo = wav(2, 16, Seq(5, 9999, -5, 9999))
    val eightBit = wav(1, 8, Seq(1, 2, 3))
    val media = Seq((1L, mono), (2L, stereo), (3L, eightBit))
      .toDF("doc_id", "bytes")
    val got = Multimodal.audioPcmStats(media).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_frames"),
        r.getAs[Long]("peak_abs"), r.getAs[Long]("sum_sq"),
        r.getAs[Long]("n_zero_cross")))).toMap
    // mono: signs + - + - + (0 counts non-negative) = 4 strict flips
    assert(got(1L) == ((5L, 32768L,
      1000L * 1000 + 1000L * 1000 + 32768L * 32768 + 32767L * 32767, 4L)))
    // stereo reads ONLY channel 0: 2 frames, never the 9999s
    assert(got(2L) == ((2L, 5L, 50L, 1L)))
    // 8-bit PCM is outside the decode contract — filtered, not garbled
    assert(!got.contains(3L))
  }

  test("PNG decode: synth round-trips bit-exactly, all five filters, corruption rejected") {
    import spark.implicits._
    import graft.plans.{PngPixelStats, PngSynth}
    // decode(synth(id)) must equal the formula's sums for images tall
    // enough that every filter type (y % 5: None/Sub/Up/Average/Paeth)
    // appears — a decoder that skips unfiltering cannot pass
    def check(id: Long, needAllFilters: Boolean): Unit = {
      val w = PngSynth.width(id); val h = PngSynth.height(id)
      if (needAllFilters)
        assert(h >= 5, s"test ids must exercise all 5 filters (id=$id h=$h)")
      val got = PngPixelStats.decode(PngSynth.synth(id))
      val sums = new Array[Long](3)
      for (i <- 0L until w * h * 3) sums((i % 3).toInt) += PngSynth.rawByte(id, i)
      assert(got.toSeq == Seq(w, h, sums(0), sums(1), sums(2)), s"id=$id")
    }
    Seq(2L, 6L, 13L, 24L, 123459L).foreach(check(_, needAllFilters = true))
    check(1L, needAllFilters = false) // short image: h=4, filters 0..3 only
    val good = PngSynth.synth(7L)
    // a flipped IDAT byte breaks the CRC — rejected, not garbled
    val bad = good.clone()
    bad(good.length - 20) = (bad(good.length - 20) ^ 0x01).toByte
    assert(PngPixelStats.decode(bad) == null)
    // truncated stream / wrong magic / non-PNG rejected
    assert(PngPixelStats.decode(good.take(good.length - 8)) == null)
    assert(PngPixelStats.decode("not a png".getBytes) == null)
    // trailing bytes after IEND are ignored per spec (media lake rows
    // carry the text payload after the container)
    assert(PngPixelStats.decode(good ++ "trailing".getBytes).toSeq ==
      PngPixelStats.decode(good).toSeq)
    // multi-IDAT: splitting the zlib stream across two IDAT chunks (with
    // re-computed CRCs) must decode identically — concatenation per spec
    val multi = {
      def be(v: Int) = Seq(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      val idatLen = ((good(33) & 0xff) << 24) | ((good(34) & 0xff) << 16) |
        ((good(35) & 0xff) << 8) | (good(36) & 0xff)
      val z = good.slice(41, 41 + idatLen)
      val (z1, z2) = z.splitAt(z.length / 2)
      def chunk(t: String, d: Array[Byte]) = {
        val crc = new java.util.zip.CRC32()
        crc.update(t.getBytes); crc.update(d)
        be(d.length) ++ t.getBytes.toSeq ++ d.toSeq ++ be(crc.getValue.toInt)
      }
      (good.take(33) ++ chunk("IDAT", z1) ++ chunk("IDAT", z2) ++
        good.drop(41 + idatLen + 4)).toArray
    }
    assert(PngPixelStats.decode(multi).toSeq == PngPixelStats.decode(good).toSeq)
    // crafted IHDR with w=h=0xFFFFFFFF and a VALID CRC: w*h*3 wraps Long,
    // so the raw-size cap alone would pass it and the decoder would throw
    // on a negative array size — the contract is null, never an exception
    val overflowDims = {
      val o = good.clone()
      for (k <- 0 until 8) o(16 + k) = 0xff.toByte // IHDR width+height
      val crc = new java.util.zip.CRC32()
      crc.update(o, 12, 4 + 13) // chunk type + IHDR data
      val v = crc.getValue.toInt
      o(29) = (v >> 24).toByte; o(30) = (v >> 16).toByte
      o(31) = (v >> 8).toByte; o(32) = v.toByte
      o
    }
    assert(PngPixelStats.decode(overflowDims) == null)
    // and the operator path: codegen'd expression over a DataFrame
    val media = Seq(1L, 6L).toDF("doc_id")
      .selectExpr("doc_id", "graft_png_synth(doc_id) AS bytes")
    val rows = Multimodal.imagePixelStats(media).collect()
    assert(rows.length == 2 && rows.forall(_.getAs[Long]("width") > 0))
  }

  test("PNG resize: box filter floor-averages the true decoded pixels, edge blocks partial") {
    import spark.implicits._
    import graft.plans.{PngPixelStats, PngSynth}
    import org.apache.spark.sql.catalyst.InternalRow
    def got(id: Long, f: Int): Map[(Long, Long), (Long, Long, Long)] = {
      val g = PngPixelStats.resize(PngSynth.synth(id), f)
      (0 until g.numElements()).map { i =>
        val r = g.array(i).asInstanceOf[InternalRow]
        (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))
      }.toMap
    }
    def want(id: Long, f: Int): Map[(Long, Long), (Long, Long, Long)] = {
      val w = PngSynth.width(id).toInt; val h = PngSynth.height(id).toInt
      (for (oy <- 0 until (h + f - 1) / f; ox <- 0 until (w + f - 1) / f) yield {
        val xs = (ox * f) until math.min(w, (ox + 1) * f)
        val ys = (oy * f) until math.min(h, (oy + 1) * f)
        def av(c: Int) = xs.flatMap(x => ys.map(y =>
          PngSynth.rawByte(id, y.toLong * w * 3 + x * 3 + c).toLong)).sum / (xs.size * ys.size)
        (ox.toLong, oy.toLong) -> (av(0), av(1), av(2))
      }).toMap
    }
    // odd dims (edge blocks smaller), factor larger than a dimension,
    // and factor 1 (identity — every pixel its own block)
    for (id <- Seq(2L, 7L, 12L, 123459L); f <- Seq(1, 2, 5))
      assert(got(id, f) == want(id, f), s"id=$id f=$f")
    // corrupt input nulls through the same validation as the decode
    assert(PngPixelStats.resize("not a png".getBytes, 2) == null)
    assert(PngPixelStats.resize(PngSynth.synth(7L), 0) == null)
    // operator path: explode keeps doc rows apart, codegen'd
    val media = Seq(1L, 6L).toDF("doc_id")
      .selectExpr("doc_id", "graft_png_synth(doc_id) AS bytes")
    val rows = Multimodal.imageResize(media, factor = 2).collect()
    val wantN = Seq(1L, 6L).map { id =>
      ((PngSynth.width(id) + 1) / 2) * ((PngSynth.height(id) + 1) / 2)
    }.sum
    assert(rows.length == wantN.toInt)
  }

  test("AVI decode: per-frame sums bit-exact, pad/BGR honored, corruption rejected") {
    import spark.implicits._
    import graft.plans.{AviFrameStats, AviSynth}
    import org.apache.spark.sql.catalyst.InternalRow
    def frames(b: Array[Byte]): Seq[Seq[Long]] = {
      val g = AviFrameStats.decode(b)
      if (g == null) null
      else (0 until g.numElements()).map { i =>
        val r = g.array(i).asInstanceOf[InternalRow]
        (0 until 6).map(r.getLong)
      }
    }
    // decode(synth(id)) must equal the formula's per-frame sums; ids
    // cover every width residue mod 4 so rows WITH and WITHOUT DWORD
    // padding both appear — a decoder that always or never skips pad
    // bytes cannot pass, and one that reads channels as RGB swaps r/b
    def check(id: Long): Unit = {
      val w = AviSynth.width(id); val h = AviSynth.height(id)
      val nf = AviSynth.frames(id)
      val stride = (w * 3 + 3) & ~3L
      val want = (0L until nf).map { f =>
        val s = new Array[Long](3) // B, G, R in storage order
        for (j <- 0L until h * stride; k = j % stride; if k < 3 * w)
          s((k % 3).toInt) += AviSynth.storedByte(id, f, j)
        Seq(f, w, h, s(2), s(1), s(0)) // emitted as (idx, w, h, R, G, B)
      }
      assert(frames(AviSynth.synth(id)) == want, s"id=$id")
    }
    Seq(0L, 1L, 2L, 3L, 7L, 11L, 123457L).foreach(check)
    val good = AviSynth.synth(9L)
    // trailing payload after the RIFF form is tolerated (media lake
    // rows carry the text payload after the container)
    assert(frames(good ++ "trailing".getBytes) == frames(good))
    // truncation / wrong magic / non-AVI rejected, never garbled
    assert(frames(good.take(good.length - 4)) == null)
    assert(frames("not an avi".getBytes) == null)
    // a frame-count lie in avih (movi has one fewer chunk) is caught
    val lied = good.clone()
    val avihCount = 12 + 12 + 8 + 16 // RIFF+LIST hdrl hdrs, avih hdr, +16 to dwTotalFrames
    lied(avihCount) = (lied(avihCount) + 1).toByte
    assert(frames(lied) == null)
    // a corrupted 00db size field breaks the walk — rejected
    val badSize = good.clone()
    val moviData = new String(good, "ISO-8859-1").indexOf("movi")
    val firstDb = new String(good, "ISO-8859-1").indexOf("00db", moviData)
    badSize(firstDb + 4) = (badSize(firstDb + 4) + 1).toByte
    assert(frames(badSize) == null)
    // crafted headers declaring w=h=0xFFFFFFFF (avih AND the strf
    // BITMAPINFOHEADER, so the cross-check agrees): h*stride wraps Long,
    // so the frameBytes <= Int.MaxValue check alone could pass a
    // small-positive wrap — the contract is null, never an exception
    val overflowDims = good.clone()
    for (k <- 0 until 8) {
      overflowDims(64 + k) = 0xff.toByte  // avih dwWidth/dwHeight
      overflowDims(176 + k) = 0xff.toByte // strf biWidth/biHeight
    }
    assert(frames(overflowDims) == null)
    // operator path: explode + every-2nd-frame sampling, codegen'd
    val media = Seq(3L, 8L).toDF("doc_id")
      .selectExpr("doc_id", "graft_avi_synth(doc_id) AS bytes")
    val got = Multimodal.videoFrameStats(media, sampleEvery = 2).collect()
    val wantN = Seq(3L, 8L).map(id => (AviSynth.frames(id) + 1) / 2).sum
    assert(got.length == wantN.toInt)
    assert(got.forall(r => r.getAs[Long]("frame_idx") % 2 == 0))
  }

  test("JPEG: decode(synth) equals the coefficient formula; out-of-profile and corrupt inputs reject") {
    import spark.implicits._
    import graft.plans.{JpegPixelStats, JpegSynth}
    def oracle(id: Long): Array[Long] = {
      val w = JpegSynth.width(id); val h = JpegSynth.height(id)
      val bw = (w + 7) / 8; val bh = (h + 7) / 8
      var sr = 0L; var sg = 0L; var sb = 0L
      for (k <- 0 until bw * bh) {
        val vis = math.min(8, w - (k % bw) * 8) * math.min(8, h - (k / bw) * 8)
        val (r, g, b) = JpegPixelStats.ycc2rgb(JpegSynth.dcCoef(id, 0, k) + 128,
          JpegSynth.dcCoef(id, 1, k) + 128, JpegSynth.dcCoef(id, 2, k) + 128)
        sr += r.toLong * vis; sg += g.toLong * vis; sb += b.toLong * vis
      }
      Array(w, h, sr, sg, sb)
    }
    // geometry sweep hits non-multiple-of-8 widths AND heights (edge
    // blocks overhang; a decoder that skips cropping cannot match) and
    // DC chains long enough to exercise every category 0..7
    for (id <- Seq(0L, 5L, 10L, 35L, 120L, 123455L))
      assert(JpegPixelStats.decode(JpegSynth.synth(id)).toSeq == oracle(id).toSeq, s"id=$id")
    val good = JpegSynth.synth(10L)
    // trailing payload after EOI is tolerated (media-lake rows append text)
    assert(JpegPixelStats.decode(good ++ "trailing".getBytes).toSeq ==
      JpegPixelStats.decode(good).toSeq)
    // truncation mid-entropy / non-JPEG rejected, never garbled or thrown
    assert(JpegPixelStats.decode(good.take(good.length - 3)) == null)
    assert(JpegPixelStats.decode("not a jpeg at all".getBytes) == null)
    def patched(f: Array[Byte] => Unit): Array[Byte] = { val c = good.clone(); f(c); c }
    def sofAt: Int = { // locate FFC0
      var i = 2
      while (!((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0)) i += 1
      i
    }
    // progressive (SOF2) is out of the baseline profile
    assert(JpegPixelStats.decode(patched(_(sofAt + 1) = 0xc2.toByte)) == null)
    // chroma subsampling (2x2 for component 1) is out of profile
    assert(JpegPixelStats.decode(patched(_(sofAt + 11) = 0x22.toByte)) == null)
    // dimension bombs reject before allocation (w = 0xFFFF > 2^12)
    assert(JpegPixelStats.decode(patched { c =>
      c(sofAt + 7) = 0xff.toByte; c(sofAt + 8) = 0xff.toByte }) == null)
    // operator path: the registered expression over a DataFrame, and the
    // routed feature extractor rides the real arm (tag 4)
    val media = Seq(0L, 15L).toDF("doc_id")
      .selectExpr("doc_id", "graft_jpeg_synth(doc_id) AS bytes")
    val viaSql = media.selectExpr("doc_id", "graft_jpeg_pixels(bytes) AS px")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql(0L) == oracle(0L).toSeq && viaSql(15L) == oracle(15L).toSeq)
    val feats = Multimodal.decodeFeatures(media)
      .select(col("doc_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(0L)(0) == 4f && feats(0L)(1) == JpegSynth.width(0L).toFloat)
  }

  test("JPEG: general AC entropy decode (runs, ZRL, EOB), grayscale, restart markers") {
    import graft.plans.{JpegPixelStats, JpegSynth}
    // hand-built grayscale stream with REAL AC coefficients — the DC-only
    // oracle corpus never exercises runs/ZRL or the IDCT's AC path, so
    // this does: coefficients placed at zigzag positions with short runs,
    // a 16-zero ZRL run, and an EOB tail; q = 1 so dequant is identity
    class W { // minimal canonical-code bit writer with stuffing
      val out = new java.io.ByteArrayOutputStream()
      private var buf = 0; private var cnt = 0
      def bit(v: Int): Unit = {
        buf = (buf << 1) | v; cnt += 1
        if (cnt == 8) { out.write(buf); if ((buf & 0xff) == 0xff) out.write(0); buf = 0; cnt = 0 }
      }
      def put(code: Int, len: Int): Unit = (len - 1 to 0 by -1).foreach(i => bit((code >> i) & 1))
      def flushOnes(): Unit = while (cnt != 0) bit(1)
    }
    val dcT = JpegPixelStats.canonicalCodes(JpegSynth.DcLumaBits, JpegSynth.DcVals)
    val acT = JpegPixelStats.canonicalCodes(JpegSynth.AcBits, JpegSynth.AcVals)
    def cat(v: Int): Int = { var t = 0; var a = math.abs(v); while (a > 0) { t += 1; a >>= 1 }; t }
    // encode one block from zigzag-ordered coefficients
    def block(w: W, zz: Array[Int], predIn: Int): Int = {
      val t = cat(zz(0) - predIn)
      val (dl, dc) = dcT(t); w.put(dc, dl)
      if (t > 0) w.put(if (zz(0) - predIn < 0) zz(0) - predIn + (1 << t) - 1 else zz(0) - predIn, t)
      var k = 1; var run = 0
      while (k <= 63) {
        if (zz(k) == 0) run += 1
        else {
          while (run >= 16) { val (l, c) = acT(0xf0); w.put(c, l); run -= 16 } // ZRL
          val s = cat(zz(k))
          val (l, c) = acT((run << 4) | s); w.put(c, l)
          w.put(if (zz(k) < 0) zz(k) + (1 << s) - 1 else zz(k), s)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (l, c) = acT(0x00); w.put(c, l) } // EOB
      zz(0)
    }
    // two 8x8 MCUs side by side (16x8), DRI = 1 so a RST0 sits between
    val zz1 = new Array[Int](64)
    zz1(0) = -30; zz1(1) = 12; zz1(5) = -7; zz1(25) = 3 // short runs
    val zz2 = new Array[Int](64)
    zz2(0) = 50; zz2(2) = 4; zz2(20) = -9; zz2(40) = 2 // includes a 17-gap ZRL
    val out = new java.io.ByteArrayOutputStream()
    def m(mk: Int): Unit = { out.write(0xff); out.write(mk) }
    def b16(v: Int): Unit = { out.write(v >> 8); out.write(v & 0xff) }
    m(0xd8)
    m(0xdb); b16(2 + 65); out.write(0) // DQT 0: identity
    (0 until 64).foreach(_ => out.write(1))
    m(0xc0); b16(8 + 3); out.write(8); b16(8); b16(16); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    m(0xc4); b16(2 + 17 + JpegSynth.DcVals.length); out.write(0x00)
    JpegSynth.DcLumaBits.foreach(out.write); JpegSynth.DcVals.foreach(out.write)
    m(0xc4); b16(2 + 17 + JpegSynth.AcVals.length); out.write(0x10)
    JpegSynth.AcBits.foreach(out.write); JpegSynth.AcVals.foreach(out.write)
    m(0xdd); b16(4); b16(1) // DRI = 1 MCU
    m(0xda); b16(6 + 2); out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)
    val w1 = new W; block(w1, zz1, 0); w1.flushOnes()
    out.write(w1.out.toByteArray)
    m(0xd0) // RST0, predictors reset
    val w2 = new W; block(w2, zz2, 0); w2.flushOnes() // pred reset ⇒ diff from 0
    out.write(w2.out.toByteArray)
    m(0xd9)
    val got = JpegPixelStats.decode(out.toByteArray)
    assert(got != null, "grayscale AC stream must decode")
    // expected: idct of the dezigzagged coefficients, r = g = b = Y
    def sums(zz: Array[Int]): Long = {
      val nat = new Array[Int](64)
      (0 until 64).foreach(k => nat(JpegPixelStats.Zigzag(k)) = zz(k))
      val px = new Array[Int](64)
      JpegPixelStats.idct8x8(nat, px)
      px.map(_.toLong).sum
    }
    val want = sums(zz1) + sums(zz2)
    assert(got.toSeq == Seq(16L, 8L, want, want, want), s"got ${got.toSeq}")
  }

  test("decoder fuzz: every binary decoder returns null-or-value under corruption, never throws") {
    import graft.plans._
    import spark.implicits._
    // the decode expressions run over ARBITRARY binary columns at scan
    // speed; an uncaught exception in any of them fails the whole task.
    // Deterministic fuzz: truncations at every region + seeded byte
    // flips/inserts over real containers — the contract is a clean
    // return (null or a value), NEVER a throw. (Both round-10 ADVICE
    // findings — the PNG/AVI dimension-overflow crashes — were exactly
    // this class.)
    val rnd = new scala.util.Random(20260815)
    val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
      "wav_pcm" -> (b => WavPcmStats.decode(b)),
      "png_pixels" -> (b => PngPixelStats.decode(b)),
      "avi_frames" -> (b => AviFrameStats.decode(b)),
      "avi_demux" -> (b => AviDemux.demux(b, 2)),
      "mp4_demux" -> (b => Mp4Demux.demux(b, 2)),
      "jpeg_pixels" -> (b => JpegPixelStats.decode(b)))
    val seeds: Seq[Array[Byte]] = Seq(
      PngSynth.synth(7L), AviSynth.synth(7L), JpegSynth.synth(7L),
      Mp4Synth.synth(7L),
      Multimodal.synthMedia(Seq((7L, "payload words for the wav arm"))
        .toDF("doc_id", "text")).collect()(0).getAs[Array[Byte]]("bytes"))
    var runs = 0
    // Directed crafted inputs (round-11 ADVICE): (1) trailing 0xFF fill
    // bytes eat the marker-length field; (2) an SOS segment whose
    // declared length 2 puts the Ns byte past the buffer end.
    val crafted: Seq[Array[Byte]] = Seq(
      Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xc4).map(_.toByte),
      Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x11, 0x08, 0x00, 0x08, 0x00,
        0x08, 0x01, 0x01, 0x11, 0x00, 0x00, 0x00, 0x00, 0x00,
        0xff, 0xda, 0x00, 0x02).map(_.toByte))
    for (c <- crafted; (name, dec) <- decoders) {
      try { dec(c); runs += 1 }
      catch { case e: Throwable => fail(s"$name threw on crafted input: $e") }
    }
    for (seed <- seeds; (name, dec) <- decoders) {
      // truncation sweep: every prefix length in a coarse grid + the
      // interesting short lengths
      for (n <- (0 to math.min(64, seed.length)) ++
          (0 until 32).map(_ => rnd.nextInt(seed.length + 1))) {
        val t = java.util.Arrays.copyOf(seed, n)
        try { dec(t); runs += 1 }
        catch { case e: Throwable => fail(s"$name threw on $n-byte truncation: $e") }
      }
      // byte-flip sweep: 64 seeded single/double flips
      for (_ <- 0 until 64) {
        val m = seed.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        if (rnd.nextBoolean()) m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        try { dec(m); runs += 1 }
        catch { case e: Throwable =>
          fail(s"$name threw on byte-flip of ${seed.length}-byte input: $e") }
      }
    }
    assert(runs > 1500, s"fuzz executed $runs decode calls")
  }

  test("JPEG IDCT: fixed-point output within 1 of the double-precision reference") {
    import graft.plans.JpegPixelStats
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 50) {
      val c = Array.fill(64)(if (rnd.nextInt(3) == 0) rnd.nextInt(1601) - 800 else 0)
      val got = new Array[Int](64)
      JpegPixelStats.idct8x8(c.clone(), got)
      for (y <- 0 until 8; x <- 0 until 8) {
        var f = 0.0
        for (v <- 0 until 8; u <- 0 until 8) {
          val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
          f += cu * cv * c(v * 8 + u) *
            math.cos((2 * x + 1) * u * math.Pi / 16) *
            math.cos((2 * y + 1) * v * math.Pi / 16)
        }
        val ref = math.max(0, math.min(255, math.round(f / 4 + 128).toInt))
        assert(math.abs(got(y * 8 + x) - ref) <= 1,
          s"trial=$trial ($x,$y): got ${got(y * 8 + x)} ref $ref")
      }
    }
  }

  test("HLL: per-group estimates within the m=512 error envelope; registers stay KB-scale") {
    import spark.implicits._
    // group a: 10,000 distinct ids; group b: 200 distinct ids (the
    // linear-counting regime); group c: 3 distinct ids. Deterministic
    // given the md5 hash — not a flaky bound.
    val rows = ((1 to 10000).map(i => ("a", s"u$i")) ++
      (1 to 200).map(i => ("b", s"v$i")) ++ Seq(("c", "w1"), ("c", "w2"),
        ("c", "w3"), ("c", "w1"))).toDF("grp", "item")
    val res = Freq.hllDistinctByGroup(rows, p = 9)
      .withColumn("n", Freq.hllCorrected(9)(col("est"), col("n_zero")))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("n")).toMap
    // raw-HLL regime: stderr is 1.04/sqrt(512) ≈ 4.6%; allow 3 sigma
    assert(math.abs(res("a") - 10000) / 10000.0 < 0.14, s"a: ${res("a")}")
    // linear-counting regime (est <= 2.5m, zeros present): much tighter
    assert(math.abs(res("b") - 200) / 200.0 < 0.10, s"b: ${res("b")}")
    assert(math.abs(res("c") - 3) / 3.0 < 0.40, s"c: ${res("c")}")
    // duplicate items must not move a register (c has 3 distinct, 4 rows)
    // — and the whole plan carries only register-sized shuffles: the
    // exchanges after map-side partial max are (grp, bucket)-keyed
    val plan = physicalPlan(Freq.hllDistinctByGroup(rows, p = 9))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"), plan)
  }

  test("grouped heavy hitters: per-group exact answers against brute force") {
    import spark.implicits._
    // group a: 100 items, "hot" at 60%; group b: 50 items, "beta" at
    // 60% — each group's threshold is its OWN stream's quarter
    val rows = (Seq.fill(60)(("a", "hot")) ++ (1 to 40).map(i => ("a", s"x$i")) ++
        Seq.fill(30)(("b", "beta")) ++ (1 to 20).map(i => ("b", s"y$i")))
      .toDF("grp", "item")
    val res = Freq.heavyHittersByGroup(spark, rows, k = 64, denom = 4L)
    // plan asserts BEFORE execution (a finalized adaptive plan prints
    // initial+final copies and double-counts nodes): one sketch pass,
    // the groups×k candidates broadcast once, no second total scan
    val plan = physicalPlan(res)
    assert("BroadcastExchange".r.findAllIn(plan).length == 1, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
    val got = res.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("a", "hot", 60L), ("b", "beta", 30L)), s"got $got")
  }

  test("ranked search: rare terms outweigh common ones; probe stays a pushed isin") {
    import spark.implicits._
    import graft.operators.TextIndex
    // 10 docs: "rare" appears once in doc 1 (df=1); "common" appears in
    // all docs with tf=3 (df=10). With weight = (N·10^6) DIV df the one
    // rare hit (w=10^7) must outrank any common-only doc (3·10^6).
    val corpus = (1 to 10).map { i =>
      (i.toLong, (if (i == 1) "rare " else "") + "common common common")
    }.toDF("doc_id", "text")
    val postings = TextIndex.buildPostings(corpus, "doc_id", "text")
    val res = TextIndex.searchRanked(postings, Seq("rare", "common"),
      nDocs = 10L, k = 3)
    val rows = res.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.head._1 == 1L, s"rare-term doc must rank first: ${rows.toSeq}")
    assert(rows.head._2 == 1L * 10000000L + 3L * 1000000L) // rare + its commons
    assert(rows.tail.forall(_._2 == 3000000L))
    // ties beyond doc 1 broke by doc_id: 2 then 3
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // plan: probe terms are a pushed isin on the postings side (on a
    // parquet-backed index this reaches the scan as In(term,..)); the
    // df weighting is a window over the SAME probe subtree — no join
    // anywhere; top-k is TakeOrdered, never a global sort task
    val plan = physicalPlan(res)
    assert(!plan.contains("Join"), s"ranked search must be join-free:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the parquet-scan pushdown itself, through a persisted index
    val idxDir = scratch("ranked_idx")
    postings.write.mode("overwrite").parquet(idxDir)
    val persisted = TextIndex.searchRanked(spark.read.parquet(idxDir),
      Seq("rare", "common"), nDocs = 10L, k = 3)
    val fmt = formattedPlan(persisted)
    assert(fmt.contains("PushedFilters: [In(term,"),
      s"term probe must push into the index scan:\n$fmt")
  }

  test("bloom: no false negatives ever; probe path is broadcast-only, scan speed") {
    val (k, width) = (3, 16384)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0).select(md5(col("text")).as("item"))
    // the caller materializes the bit table (bloomProbe runs no job)
    val bits = Freq.bloomBuild(corpus, k, width).localCheckpoint()
    // probe EVERY doc: the corpus split's rows are true members by
    // construction, and any probe sharing a corpus text is one too
    val res = Freq.bloomProbe(bits,
      docs.select(col("doc_id"), md5(col("text")).as("item")), k, width)
    // the one-sided contract, stated completely: a negative verdict for
    // an item the corpus contains is a false negative — there must be none
    val falseNeg = res.filter(!col("maybe_member"))
      .join(corpus, Seq("item"), "left_semi").count()
    assert(falseNeg == 0, "bloom produced a false negative")
    // n_hits is always the full k for members (not merely >= threshold)
    assert(res.filter(col("doc_id") % 10 =!= 0 && col("n_hits") =!= k).count() == 0)
    // false positives stay near the analytic rate: with n distinct items
    // the per-probe rate is (1 - e^(-n/width))^k — generous 100x slack
    // keeps this deterministic-corpus check far from flakiness while
    // still catching a degenerate hash (everything-positive)
    val n = corpus.distinct().count().toDouble
    val fpBound = math.max(1.0, 100.0 * math.pow(1 - math.exp(-n / width), k) *
      res.filter(col("doc_id") % 10 === 0).count())
    val fp = res.filter(col("maybe_member"))
      .join(corpus, Seq("item"), "left_anti").count()
    assert(fp <= fpBound, s"false positives $fp exceed 100x the analytic rate $fpBound")
    // plan: the materialized bit table broadcasts into k joins and the
    // probe query carries ZERO hash exchanges — probe rows never cross
    // the network (the build's one distinct shuffle ran at
    // materialization, outside this query)
    val plan = physicalPlan(res)
    assert("BroadcastHashJoin".r.findAllIn(plan).length == k, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 0,
      s"probe side must not shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    // the k lanes share ONE broadcast: the executed plan builds it once
    // and reuses it for the other k - 1 lanes
    res.collect()
    val ran = physicalPlan(res)
    assert("ReusedExchange \\[[^\\]]*\\], BroadcastExchange".r.findAllIn(ran).length == k - 1, ran)
  }

  test("snapshot diff: all four statuses; the join moves digests, not documents") {
    import spark.implicits._
    import graft.operators.Snapshot
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val nw  = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("doc_id", "text")
    val got = Snapshot.diff(old, nw, "doc_id", Seq("text"))
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
    // null payload hashes like empty string, not a crash / null status
    val oldN = Seq((1L, null: String)).toDF("doc_id", "text")
    val nwN  = Seq((1L, "")).toDF("doc_id", "text")
    assert(Snapshot.diff(oldN, nwN, "doc_id", Seq("text"))
      .select("status").collect()(0).getString(0) == "unchanged")
    // scan-side digest projection: the parquet read under the join
    // carries only (doc_id, text) — and the join itself only digests
    val docsDf = Tables(spark, sfDir).documents
    val plan = formattedPlan(Snapshot.diff(docsDf, docsDf, "doc_id", Seq("text")))
    assert(plan.contains("ReadSchema") && !plan.contains("CartesianProduct"), plan)
    assert(!plan.replaceAll("\\s", "").matches("(?s).*ReadSchema:[^\\n]*lang.*"),
      s"diff scan reads columns beyond id+payload:\n$plan")
  }

  test("text search: term probe is a pushed isin filter, never a join against the corpus") {
    import graft.operators.TextIndex
    // deployment shape: postings persisted once, searched many times —
    // the probe filter must push into the PERSISTED index scan
    val idxDir = scratch("postings")
    TextIndex.buildPostings(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(idxDir)
    val postings = spark.read.parquet(idxDir)
    val q = TextIndex.searchAll(postings, Seq("hash", "window", "hash"))
    val plan = formattedPlan(q)
    assert(!plan.contains("Join"), s"probe terms must filter, not join:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("In(term"), plan)
    // duplicate probe terms must not double-count the conjunction
    val withDup = q.collect().map(r => r.getLong(0)).toSet
    val noDup = TextIndex.searchAll(postings, Seq("hash", "window"))
      .collect().map(r => r.getLong(0)).toSet
    assert(withDup == noDup && withDup.nonEmpty)
    // ground truth on a sample: every hit really contains both terms
    val hits = docs.filter(col("doc_id").isin(withDup.take(20).toSeq.map(Long.box): _*))
      .select("text").collect().map(_.getString(0))
    assert(hits.forall(t => t.split(" ").contains("hash") && t.split(" ").contains("window")))
  }

  test("served phrase search: partition-pruned probe on the persisted positional index == inline") {
    import graft.operators.TextIndex
    // the 33g idea remade on the POSITIONAL artifact (r16): the phrase
    // probe against the term-digest-partitioned persisted index must
    // prune to the probe terms' DIRECTORIES (not a bucketed table —
    // bucket = one scan task, the measured parallelism wall at 5M
    // docs) and reproduce the inline build+search
    val idxDir = scratch("pos_part_test")
    TextIndex.writePositionalIndex(
      TextIndex.buildPositionalPostings(docs, "doc_id", "text"), idxDir)
    // the driver-side digest must agree with the in-plan one — the
    // contract prunePositionalIndex stands on
    val sparkSide = TextIndex.buildPositionalPostings(docs, "doc_id", "text")
      .select(col("term"), TextIndex.termBucket(col("term"), 64).as("tb"))
      .distinct().collect().map(r => r.getString(0) -> r.getLong(1))
    assert(sparkSide.nonEmpty)
    sparkSide.foreach { case (t, tb) =>
      assert(TextIndex.termBucketOf(t, 64) == tb, s"digest mismatch for '$t'")
    }
    val phrase = Seq("table", "table", "key")
    // modulus from the artifact's own marker, never a caller constant
    // (r16 ADVICE: the default-64 shortcut was the one remaining caller
    // that could silently disagree with a non-64 layout)
    val (idx, idxBuckets) = TextIndex.openPositionalIndex(spark, idxDir)
    assert(idxBuckets == 64)
    val served = TextIndex.searchPhrase(
      TextIndex.prunePositionalIndex(idx, phrase, idxBuckets), phrase)
    // static partition pruning: the tb filter reaches the scan as a
    // PartitionFilter and the scan reads <= 2 of the term directories
    val plan = formattedPlan(served)
    assert(plan.contains("PartitionFilters: [tb"),
      s"tb filter must prune partitions:\n$plan")
    val inline = TextIndex.searchPhrase(
      TextIndex.buildPositionalPostings(docs, "doc_id", "text"), phrase)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val s1 = rows(served)
    assert(s1 == rows(inline) && s1.nonEmpty)
  }

  test("positional index append: build+append == rebuild; the delta write honors the marker's bucket count") {
    import graft.operators.TextIndex
    // the 31c4 convention on the phrase family: the standing corpus
    // builds once, the delta APPENDS at delta cost, and the probe over
    // the appended artifact must reproduce a full rebuild exactly
    val idxDir = scratch("pos_append_test")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val delta  = docs.filter(col("doc_id") % 10 === 0)
    // NON-default bucket count: the append must read the modulus from
    // the marker (a default-64 append into a 16-dir layout would land
    // postings in directories the probe never prunes to)
    TextIndex.writePositionalIndex(
      TextIndex.buildPositionalPostings(corpus, "doc_id", "text"),
      idxDir, buckets = 16)
    TextIndex.appendPositionalIndex(
      TextIndex.buildPositionalPostings(delta, "doc_id", "text"), idxDir)
    val (idx, buckets) = TextIndex.openPositionalIndex(spark, idxDir)
    assert(buckets == 16)
    // a phrase with hits on BOTH sides of the split at sf0.001 (5
    // delta / 42 corpus docs), so the delta-contribution assert bites
    val phrase = Seq("order", "fast")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val appended = rows(TextIndex.searchPhrase(
      TextIndex.prunePositionalIndex(idx, phrase, buckets), phrase))
    val rebuilt = rows(TextIndex.searchPhrase(
      TextIndex.buildPositionalPostings(docs, "doc_id", "text"), phrase))
    assert(appended == rebuilt && appended.nonEmpty)
    // delta-only hits must be present (the append really contributed)
    val corpusOnly = rows(TextIndex.searchPhrase(
      TextIndex.buildPositionalPostings(corpus, "doc_id", "text"), phrase))
    assert((appended -- corpusOnly).nonEmpty,
      "test corpus has no delta-side phrase hit — weaken the split")
    // appending into an unmarked path must fail loudly, never write
    val err = intercept[IllegalArgumentException] {
      TextIndex.appendPositionalIndex(
        TextIndex.buildPositionalPostings(delta, "doc_id", "text"),
        idxDir + "_nomarker")
    }
    assert(err.getMessage.contains("_GRAFT_DONE"))
  }

  test("term drift: the injected token tops the ranking; counts are exact") {
    import spark.implicits._
    import graft.operators.Snapshot
    val old = Seq((1L, "a b c"), (2L, "a a d")).toDF("doc_id", "text")
    val nw  = Seq((1L, "a b c"), (2L, "a a zz zz zz")).toDF("doc_id", "text")
    val top = Snapshot.termDrift(old, nw, "text", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // zz: 0 -> 3 is the largest relative move; d: 1 -> 0 next
    assert(top(0) == ("zz", 0L, 3L), top.toSeq.toString)
    assert(top(1)._1 == "d", top.toSeq.toString)
  }

  private def kmeansCorpus = Tables(spark, sfDir).embeddings
    .select(col("vec_id").as("corpus_id"), col("embedding").as("ce"))

  /** Spherical objective Σ cos_q(x, c_assigned) under a codebook. */
  private def kmObjective(cents: org.apache.spark.sql.DataFrame): Long =
    graft.operators.Ann.assignCells(cents, kmeansCorpus)
      .agg(sum(col("cscore"))).collect()(0).getLong(0)

  test("kmeans: Lloyd objective is monotone non-decreasing per iteration") {
    import graft.operators.Ann
    // mean-centroid + cosine argmax is exact coordinate ascent on the
    // spherical objective (the mean is parallel to Σx and cosine is
    // scale-invariant), so each iteration must not lose ground
    val objs = (0 to 3).map(i =>
      kmObjective(Ann.kmeansCodebook(kmeansCorpus, k = 4, iters = i)))
    assert(objs.zip(objs.tail).forall { case (a, b) => b >= a },
      s"objective regressed across iterations: $objs")
    // and training must actually move: untrained seeds are not already
    // the converged codebook on this corpus
    assert(objs.last > objs.head, s"training never improved: $objs")
  }

  test("kmeans: deterministic — same seed twice is bit-identical, init has no global sort") {
    import graft.operators.Ann
    def snap() = Ann.kmeansCodebook(kmeansCorpus, k = 3, iters = 2)
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val a = snap(); val b = snap()
    assert(a.sameElements(b), "kmeans codebook not reproducible across runs")
    // the seed selection plans as a distributed TakeOrdered, never a
    // corpus-wide global Sort task
    val plan = physicalPlan(Ann.kmeansCodebook(kmeansCorpus, k = 3, iters = 0))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("kmeans: k=1 converges to the global decimal-exact mean; all rows assigned cell 0") {
    import graft.operators.Ann
    val cb = Ann.kmeansCodebook(kmeansCorpus, k = 1, iters = 1)
    val mean = Ann.centroids(
        kmeansCorpus.withColumn("cell", lit(0)), dim = 64)
      .collect()(0).getSeq[Double](1)
    val got = cb.collect()(0).getSeq[Double](1)
    assert(got == mean, "k=1 centroid after one iteration must be the global mean")
    val cells = Ann.assignCells(cb, kmeansCorpus)
      .select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    assert(cells == Seq(0))
  }

  test("assignCellsTop2 == the rank<=2 window over the cell fan-out; k=1 yields one row") {
    import graft.operators.Ann
    import org.apache.spark.sql.expressions.Window
    val cb = Ann.kmeansCodebook(kmeansCorpus, k = 4, iters = 2).localCheckpoint()
    val got = Ann.assignCellsTop2(cb, kmeansCorpus)
      .select(col("corpus_id"), col("cell"), col("cscore"), col("rk"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    // the corpus × k fan-out window the two-slot fold replaces — the
    // spec: ROW_NUMBER in (score DESC NULLS LAST, cell ASC) order
    val scored = kmeansCorpus
      .crossJoin(cb.select(col("cell").cast("int").as("kcell"), col("ce").as("ke")))
      .select(col("corpus_id"), col("kcell").as("cell"),
        floor(call_function("graft_cosine", col("ce"), col("ke"))
          * lit(1000000.0)).cast("long").as("cscore"))
    val w = Window.partitionBy(col("corpus_id"))
      .orderBy(col("cscore").desc_nulls_last, col("cell").asc)
    val expected = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == expected)
    assert(got.count(_._4 == 1) * 2 == got.size, "exactly two slots per vector at k=4")
    // a k=1 codebook leaves the second slot empty — one row, rk = 1
    val one = Ann.assignCellsTop2(
        Ann.kmeansCodebook(kmeansCorpus, k = 1, iters = 1), kmeansCorpus)
      .select(col("rk")).collect().map(_.getInt(0))
    assert(one.nonEmpty && one.forall(_ == 1))
  }

  test("kmeans: training iteration is broadcast-assign + one map-side-combined aggregate") {
    import graft.operators.Ann
    val plan = physicalPlan(Ann.kmeansCodebook(kmeansCorpus, k = 4, iters = 1))
    // assignment joins against the broadcast codebook — the corpus side
    // must never sort-merge or nested-loop
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("PQ: duplicates share codes, self is the ADC minimum, sentinel never leaks") {
    import spark.implicits._
    import graft.operators.Ann
    // deterministic 40-vector corpus (dim 64); vector 37 duplicates 13
    def vec(i: Int): Seq[Double] =
      (0 until 64).map(d => ((i * 31 + d * 7) % 97) / 97.0)
    val rows = (10 until 50).map(i => (i.toLong, if (i == 37) vec(13) else vec(i)))
    val corpus = rows.toDF("corpus_id", "ce")
    val cb = Ann.pqCodebook(corpus, iters = 2)
    val codesDf = Ann.pqEncode(cb, corpus).localCheckpoint()
    val codes = codesDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes(37L) == codes(13L), "byte-identical vectors must encode identically")
    assert(codes.values.toSet.size > 1, "degenerate codebook: every code equal")
    // 40 vectors can't populate all 8×16 cells — dead cells exist, so
    // this also exercises the dense-lut sentinel path end to end
    val queries = Seq((11L, vec(11)), (25L, vec(25))).toDF("query_id", "qe")
    val top = Ann.pqTopK(cb, codesDf, queries, k = 3).collect()
    for (q <- Seq(11L, 25L)) {
      val mine = top.filter(_.getAs[Long]("query_id") == q)
      assert(mine.length == 3, s"query $q returned ${mine.length} rows")
      // ADC self-distance is Σ_s min-over-cells — the smallest any code
      // can score — so self must sit at the minimum distance
      val self = mine.find(_.getAs[Long]("corpus_id") == q)
      assert(self.nonEmpty, s"query $q did not retrieve itself: ${mine.toSeq}")
      val best = mine.map(_.getAs[Long]("dist_q")).min
      assert(self.get.getAs[Long]("dist_q") == best,
        s"self not at the ADC minimum for query $q: ${mine.toSeq}")
      assert(mine.forall(_.getAs[Long]("dist_q") < Long.MaxValue / 8),
        s"dead-cell sentinel leaked into results: ${mine.toSeq}")
    }
  }

  test("IVF-PQ: probing every cell equals plain PQ search; probed-cell containment") {
    import spark.implicits._
    import graft.operators.Ann
    def vec(i: Int): Seq[Double] =
      (0 until 64).map(d => ((i * 31 + d * 7) % 97) / 97.0)
    val corpus = (10 until 50).map(i => (i.toLong, vec(i))).toDF("corpus_id", "ce")
    val queries = Seq((11L, vec(11)), (25L, vec(25))).toDF("query_id", "qe")
    val coarse = Ann.kmeansCodebook(corpus, k = 4, iters = 1).localCheckpoint()
    val pqcb = Ann.pqCodebook(corpus, iters = 1).localCheckpoint()
    val cells = Ann.assignCells(coarse, corpus).select($"corpus_id", $"cell")
    val codes = Ann.pqEncode(pqcb, corpus).join(cells, "corpus_id").localCheckpoint()
    // nprobe = k(all cells): pruning removes nothing, so the composed
    // search must return EXACTLY the plain ADC ranking
    val full = Ann.ivfPqTopK(coarse, pqcb, codes, queries, k = 5, nprobe = 4)
      .select($"query_id", $"corpus_id", $"dist_q", $"rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val plain = Ann.pqTopK(pqcb, codes.drop("cell"), queries, k = 5)
      .select($"query_id", $"corpus_id", $"dist_q", $"rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(full == plain, s"nprobe=all diverged from plain PQ:\n$full\nvs\n$plain")
    // nprobe = 1: every result must come from the query's single probed cell
    val one = Ann.ivfPqTopK(coarse, pqcb, codes, queries, k = 5, nprobe = 1)
      .select($"query_id", $"cell").distinct().collect()
    assert(one.groupBy(_.getLong(0)).forall(_._2.length == 1),
      s"nprobe=1 returned results from more than one cell: ${one.toSeq}")
  }

  test("IVF-PQ append: build+append store == inline base-trained encode-all; no retrain") {
    import spark.implicits._
    import graft.operators.Ann
    // the ANN maintenance arm (r17): a delta appended with the STORED
    // codebooks must serve exactly what an inline composition trained
    // on the base and encoding base∪delta produces — append ≡ rebuild
    // given the codebooks, the no-retrain contract
    def vec(i: Int): Seq[Double] =
      (0 until 64).map(d => ((i * 31 + d * 7) % 97) / 97.0)
    val base  = (10 until 40).map(i => (i.toLong, vec(i))).toDF("corpus_id", "ce")
    val delta = (40 until 52).map(i => (i.toLong, vec(i))).toDF("corpus_id", "ce")
    val queries = Seq((11L, vec(11)), (45L, vec(45))).toDF("query_id", "qe")
    val store = scratch("ivfpq_append_test")
    Ann.buildIvfPqIndex(base, store, kCells = 4, iters = 1)
    Ann.appendIvfPqIndex(spark, store, delta)
    val served = Ann.searchIvfPqIndex(spark, store, queries, k = 5, nprobe = 2)
      .select($"query_id", $"cell", $"corpus_id", $"dist_q", $"rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    val coarse = Ann.kmeansCodebook(base, k = 4, iters = 1).localCheckpoint()
    val pqcb = Ann.pqCodebook(base, iters = 1).localCheckpoint()
    val all = base.unionByName(delta)
    val codes = Ann.pqEncode(pqcb, all)
      .join(Ann.assignCells(coarse, all).select($"corpus_id", $"cell"), "corpus_id")
    val inline = Ann.ivfPqTopK(coarse, pqcb, codes, queries, k = 5, nprobe = 2)
      .select($"query_id", $"cell", $"corpus_id", $"dist_q", $"rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    assert(served == inline, s"append diverged from rebuild:\n$served\nvs\n$inline")
    // the appended rows must actually be retrievable (a query near a
    // delta vector finds it)
    assert(served.exists { case (q, _, cid, _, _) => q == 45L && cid == 45L },
      s"query 45 did not retrieve its appended twin: $served")
    // appending to an unbuilt store must fail loudly, never write
    intercept[IllegalArgumentException] {
      Ann.appendIvfPqIndex(spark, store + "_nope", delta)
    }
    // a mismatched PQ geometry must fail loudly BEFORE writing: codes
    // packed with a different m would silently corrupt ADC distances
    // for every later probe (r17 ADVICE)
    intercept[IllegalArgumentException] {
      Ann.appendIvfPqIndex(spark, store, delta, dim = 64, m = 4)
    }
  }

  test("IVF-PQ rebuild: crashed-append leftovers in untouched cells do not survive") {
    import spark.implicits._
    import graft.operators.Ann
    // GraftSession pins partitionOverwriteMode=dynamic, so a rebuild's
    // codes overwrite only replaces cell= directories present in the
    // new encoding — the r17 verdict's crash window: part-files a
    // crashed append left in a cell the rebuild's data doesn't touch
    // would be served (and re-appended). buildIvfPqIndex now deletes
    // the store first; this plants exactly that leftover and asserts
    // the rebuild serves the exact rebuilt code set.
    def vec(i: Int): Seq[Double] =
      (0 until 64).map(d => ((i * 31 + d * 7) % 97) / 97.0)
    val base = (10 until 40).map(i => (i.toLong, vec(i))).toDF("corpus_id", "ce")
    val store = scratch("ivfpq_rebuild_test")
    Ann.buildIvfPqIndex(base, store, kCells = 4, iters = 1)
    // plant a crashed-append leftover: a code row in a cell id no
    // rebuild of `base` will ever touch (cell ids are 0 until kCells)
    Seq((999L, 0L)).toDF("corpus_id", "code").withColumn("cell", lit(99))
      .write.mode("append").partitionBy("cell").parquet(s"$store/codes")
    assert(graft.sources.Fs.exists(s"$store/codes/cell=99"),
      "test setup: planted leftover missing")
    // retrain = fresh build into the SAME store (keep-two aside) — the
    // leftover must not survive it
    Ann.buildIvfPqIndex(base, store, kCells = 4, iters = 1)
    assert(!graft.sources.Fs.exists(s"$store/codes/cell=99"),
      "crashed-append leftover survived the rebuild")
    val servedIds = spark.read.parquet(s"$store/codes")
      .select($"corpus_id").collect().map(_.getLong(0)).toSet
    assert(servedIds == (10L until 40L).toSet,
      s"rebuilt store does not serve exactly the rebuilt code set: $servedIds")
  }
}
