package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.{Fs, Store}
import graft.streaming.StreamingJobs

/** Streaming twins (SURVEY rows 42-44) driven through MemoryStream:
  * watermarked tumble agg, session windows, dedup-within-watermark. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // base offset keeps test events strictly above the initial watermark
  // (epoch-0 rows are dropped as late by stateful operators)
  private def ts(min: Long): Timestamp = new Timestamp((86400L + min * 60L) * 1000L)

  private def feed(q: StreamingQuery)(add: => Any): Unit = {
    add
    q.processAllAvailable()
  }

  test("watermarked tumble agg finalizes windows once the watermark passes") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamingJobs.tumbleAgg(df, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumble_out").outputMode("append").start()
    try {
      // two events in hour 0, one in hour 1; then advance event time far
      // enough that hour-0 and hour-1 windows are both final
      feed(q)(in.addData((ts(5), "core", 10.0), (ts(20), "core", 5.0), (ts(70), "docs", 1.0)))
      feed(q)(in.addData((ts(300), "core", 1.0)))
      val rows = spark.table("tumble_out")
        .select("event_type", "lines_changed", "n_events").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains(("core", 15L, 2L)), s"got $rows")
      assert(rows.contains(("docs", 1L, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming session windows merge by gap and emit on watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = StreamingJobs.sessionAgg(df, "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 1: events at 0 and 20min (one session), then 120min (new session)
      feed(q)(in.addData((ts(0), 1L), (ts(20), 1L), (ts(120), 1L)))
      feed(q)(in.addData((ts(1000), 2L)))
      val rows = spark.table("sess_out")
        .filter($"user_id" === 1L).select("n_events").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(1L, 2L), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-stream attribution join pairs within lookback, left-outer on watermark") {
    implicit val ctx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    def df(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("event_id", "ts", "user_id")
    val q = StreamingJobs.attributionJoin(df(purchases), df(clicks),
        key = "user_id", lookback = "30 MINUTES", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try {
      // user 1: click at 10, purchases at 20 (inside lookback) and 60
      // (click is 50min stale — outside); user 2: purchase, no click ever
      clicks.addData((100L, ts(10), 1L))
      purchases.addData((200L, ts(20), 1L), (201L, ts(60), 1L), (300L, ts(25), 2L))
      q.processAllAvailable()
      // push both watermarks far past every join window so the
      // unmatched left rows finalize as null-padded outer results
      clicks.addData((101L, ts(2000), 9L))
      purchases.addData((299L, ts(2000), 9L))
      q.processAllAvailable()
      val rows = spark.table("attr_out")
        .select("l_id", "r_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]))).toMap
      assert(rows(200L) == Some(100L), s"purchase 200 must attribute to click 100: $rows")
      assert(rows(201L) == None, s"purchase 201's click is outside the lookback: $rows")
      assert(rows(300L) == None, s"purchase 300 has no click: $rows")
    } finally q.stop()
  }

  test("streaming heavy hitters: k-counter state per window, hot items always emitted") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "item")
    val q = StreamingJobs.heavyHittersStream(df, "1 hour", "10 minutes", k = 4)
      .writeStream.format("memory").queryName("hh_out").outputMode("append").start()
    try {
      // hour-0 window: 30× "hot" + 20 distinct noise items (n=50,
      // n/(k+1)=10 — "hot" must survive any adversarial decrement order)
      val hot = (0 until 30).map(i => (ts(i.toLong), "hot"))
      val noise = (0 until 20).map(i => (ts(30L + i % 25), s"w$i"))
      feed(q)(in.addData(hot ++ noise))
      feed(q)(in.addData((ts(900), "later"))) // advance watermark, close hour 0
      val rows = spark.table("hh_out").collect()
        .map(r => (r.getAs[String]("item"), r.getAs[Long]("n")))
      assert(rows.nonEmpty && rows.length <= 4,
        s"a window emits at most k candidate rows: ${rows.toSeq}")
      assert(rows.exists(_._1 == "hot"),
        s"true heavy hitter lost by the streaming sketch: ${rows.toSeq}")
      assert(rows.forall(_._2 == 50L), s"window total must ride along: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming count-min cells: bounded per-window state, cell-sum merges match batch") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val (depth, width) = (4, 64)
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "item")
    val q = StreamingJobs.cmsSketchStream(df, "1 hour", "10 minutes", depth, width)
      .writeStream.format("memory").queryName("cms_out").outputMode("append").start()
    try {
      // two hour-windows of items, then a late row to close both
      val w0 = (0 until 40).map(i => (ts(i.toLong), s"a${i % 7}"))
      val w1 = (0 until 25).map(i => (ts(3600L + i), s"b${i % 5}"))
      feed(q)(in.addData(w0 ++ w1))
      feed(q)(in.addData((ts(9000), "later")))
      val cells = spark.table("cms_out")
      // bounded state: each closed window emitted at most depth×width cells
      val perWindow = cells.groupBy(col("w_start")).count().collect().map(_.getLong(1))
      assert(perWindow.nonEmpty && perWindow.forall(_ <= depth.toLong * width))
      // CMS merge = cell-wise sum: cells summed across the two closed
      // windows must equal the batch sketch of the same rows
      val merged = cells.groupBy(col("j"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
      val batch = graft.operators.Freq.cmsSketch(
        (w0 ++ w1).map(_._2).toDF("item"), depth, width)
      assert(merged.except(batch).isEmpty && batch.except(merged).isEmpty,
        "streamed cell sums diverge from the batch sketch")
      // and probing the merged cells never underestimates
      val est = graft.operators.Freq.cmsEstimate(
        merged, Seq("a0", "b4", "absent").toDF("item"), depth, width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val truth = (w0 ++ w1).map(_._2).groupBy(identity).view.mapValues(_.size.toLong)
      assert(est("a0") >= truth("a0") && est("b4") >= truth("b4"))
    } finally q.stop()
  }

  test("streaming HLL registers: bounded per-window state, max-merge matches batch") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val p = 6 // 64 registers — small enough to exercise the bound
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "item")
    val q = StreamingJobs.hllRegistersStream(df, "1 hour", "10 minutes", p)
      .writeStream.format("memory").queryName("hll_out").outputMode("append").start()
    try {
      val w0 = (0 until 300).map(i => (ts(i.toLong), s"u${i % 200}"))
      val w1 = (0 until 100).map(i => (ts(3600L + i), s"v$i"))
      feed(q)(in.addData(w0 ++ w1))
      feed(q)(in.addData((ts(9000), "later")))
      val regs = spark.table("hll_out")
      // bounded state: each closed window emitted at most m register rows
      val perWindow = regs.groupBy(col("w_start")).count().collect().map(_.getLong(1))
      assert(perWindow.nonEmpty && perWindow.forall(_ <= (1L << p)))
      // HLL merge = register-wise max: registers folded across the two
      // closed windows must equal the batch register build on the same
      // rows (batch registers = the pre-fold groupBy of the grouped op)
      val merged = regs.groupBy(col("bucket")).agg(max(col("r")).as("r"))
      val (bucket, rho) = graft.operators.Freq.hllFields(col("item"), p)
      val batch = (w0 ++ w1).map(_._2).toDF("item")
        .select(bucket.as("bucket"), rho.as("rho"))
        .groupBy(col("bucket")).agg(max(col("rho")).as("r"))
      assert(merged.except(batch).isEmpty && batch.except(merged).isEmpty,
        "streamed register maxes diverge from the batch registers")
    } finally q.stop()
  }

  test("streaming bloom novelty filter: stateless, members never emitted") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val (k, width) = (3, 4096)
    val corpus = Seq("alpha", "beta", "gamma", "delta").toDF("item")
    val bits = graft.operators.Freq.bloomBuild(corpus, k, width)
    val in = MemoryStream[String]
    val q = StreamingJobs.bloomNovelStream(in.toDF().toDF("item"), bits, k, width)
      .writeStream.format("memory").queryName("bloom_novel").outputMode("append").start()
    try {
      in.addData("alpha", "nov1", "beta", "nov2", "gamma", "nov3")
      q.processAllAvailable()
      val got = spark.table("bloom_novel").collect().map(_.getString(0)).toSet
      // no corpus member is EVER emitted (the no-false-negative side)
      assert(got.intersect(Set("alpha", "beta", "gamma", "delta")).isEmpty)
      // the emitted set is exactly what the batch probe emits for the
      // same rows — stream and batch share one transform
      val batchNovel = graft.operators.Freq.bloomProbe(bits,
          Seq("nov1", "nov2", "nov3").toDF("item"), k, width)
        .filter(!col("maybe_member")).select("item")
        .collect().map(_.getString(0)).toSet
      assert(got == batchNovel, s"got=$got batch=$batchNovel")
      // the point of the operator: ZERO stateful operators — nothing
      // grows with stream length, nothing needs a watermark to evict
      assert(q.lastProgress.stateOperators.isEmpty,
        s"expected a stateless query: ${q.lastProgress.prettyJson}")
    } finally q.stop()
  }

  test("streaming LM surprisal gate: stateless, verdicts equal the batch scorer row-for-row") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // standing corpus trains the model once (the persisted artifact);
    // the stream embeds its collected form
    val corpus = graft.sources.Tables(spark, sfDir).documents
    val model = graft.operators.TextAnalysis.trigramModel(corpus, "en").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (keys, cnts) = (model.map(_._1), model.map(_._2))
    val (tot, v) = (cnts.sum, model.length.toLong)
    // arriving docs = the same corpus text replayed (verdicts must
    // match the BATCH per-doc rows exactly) + one all-OOV doc
    val arriving = corpus.select(col("doc_id"), col("text"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq :+
      ((99999L, "ΩΩΩΩΩΩΩΩ", "zz"))
    val in = MemoryStream[(Long, String, String)]
    val q = StreamingJobs.surprisalGateStream(
        in.toDF().toDF("doc_id", "text", "lang"), keys, cnts, tot, v)
      .select("doc_id", "n_tri", "n_oov", "surprisal_mb")
      .writeStream.format("memory").queryName("lm_gate").outputMode("append").start()
    try {
      in.addData(arriving)
      q.processAllAvailable()
      val got = spark.table("lm_gate").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // batch twin on the same corpus + model: kept set and every
      // per-doc stat identical (same integer arithmetic end to end)
      val batch = graft.operators.TextAnalysis.trigramSurprisal(corpus, "en")
        .filter(col("keep")).collect()
        .map(r => (r.getLong(0), (r.getAs[Long]("n_tri"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("surprisal_mb")))).toMap
      assert(got == batch, s"stream kept ${got.size}, batch kept ${batch.size}")
      assert(!got.contains(99999L), "the all-OOV doc must be refused")
      // the point of the operator: ZERO stateful operators — the batch
      // shape's per-doc re-aggregation would be keyed state that never
      // expires; the compiled row-local scorer needs none
      assert(q.lastProgress.stateOperators.isEmpty,
        s"expected a stateless query: ${q.lastProgress.prettyJson}")
    } finally q.stop()
  }

  test("streaming as-of join picks the single latest in-lookback right event") {
    implicit val ctx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    def df(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("event_id", "ts", "user_id")
    val q = StreamingJobs.asOfJoinStream(df(purchases), df(clicks),
        key = "user_id", lookback = "30 MINUTES", watermarkDelay = "10 minutes",
        windowDur = "1 hour")
      .writeStream.format("memory").queryName("asof_out").outputMode("append").start()
    try {
      // user 1 has TWO clicks inside the lookback (5 and 10) — the
      // as-of answer is the latest (10), not both; user 2 never clicks
      clicks.addData((100L, ts(5), 1L), (101L, ts(10), 1L))
      purchases.addData((200L, ts(20), 1L), (300L, ts(25), 2L))
      q.processAllAvailable()
      clicks.addData((199L, ts(2000), 9L))
      purchases.addData((299L, ts(2000), 9L))
      q.processAllAvailable()
      val rows = spark.table("asof_out")
        .select("l_id", "asof_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]))).toMap
      assert(rows(200L) == Some(101L),
        s"purchase 200 must attribute to the LATEST click 101: $rows")
      assert(rows(300L) == None, s"purchase 300 has no click: $rows")
    } finally q.stop()
  }

  test("streaming curation pipeline: quality gate, watermark dedup, windowed token budget") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    // ≥20 words, high distinct ratio, English stopword hits
    def good(tag: String) =
      (1 to 30).map(i => s"$tag$i").mkString(" ") + " the and of to is"
    val q = StreamingJobs.curationPipeline(df, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("cur_out").outputMode("append").start()
    try {
      feed(q)(in.addData(
        (ts(5), 1L, good("alpha")),
        (ts(10), 2L, good("alpha")), // exact normalized dup — dropped
        (ts(15), 3L, "too short"),   // fails the quality gate
        (ts(70), 4L, good("beta")))) // hour-1 window
      feed(q)(in.addData((ts(1000), 99L, good("gamma")))) // closes hours 0-1
      val rows = spark.table("cur_out")
        .select("pred_lang", "n_docs", "ws_total").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // two emitted windows, one surviving doc each (35 words), English
      assert(rows.length == 2, s"got ${rows.toSeq}")
      assert(rows.forall(_ == (("en", 1L, 35L))), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming curation pipeline recovers exactly-once across a checkpoint restart") {
    val root = scratch("cur_restart")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    new java.io.File(s"$root/in").mkdirs()
    def good(tag: String) =
      (1 to 30).map(i => s"$tag$i").mkString(" ") + " the and of to is"
    def doc(min: Long, id: Long, text: String): String = {
      val iso = java.time.Instant.ofEpochSecond(86400L + min * 60L).toString
      s"""{"ts":"$iso","doc_id":$id,"text":"$text"}"""
    }
    def start(): StreamingQuery = StreamingJobs.curationPipeline(
        spark.readStream.schema("ts timestamp, doc_id bigint, text string")
          .json(s"$root/in"), "1 hour", "10 minutes")
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    try {
      // hour-0: one survivor (dup + quality-reject dropped); the 80min
      // doc advances the watermark to 70min, closing the hour-0 window
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/in/b1.json"),
        Seq(doc(5, 1L, good("alpha")), doc(10, 2L, good("alpha")),
          doc(15, 3L, "too short"), doc(80, 4L, good("delta"))).mkString("\n"))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // hard stop mid-stream: hour-1 is open, dedup state live
      assert(spark.read.parquet(s"$root/out").count() == 1,
        "exactly the closed hour-0 window must be stored before the restart")
      // restart from the checkpoint: the 85min doc is a dup of the
      // PRE-RESTART delta (fp state must survive recovery); gamma opens
      // hour-2; the far-future sentinel closes hours 1-2 but not its own
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/in/b2.json"),
        Seq(doc(85, 5L, good("delta")), doc(130, 6L, good("gamma")),
          doc(1000, 99L, good("omega"))).mkString("\n"))
      val q2 = start()
      try {
        q2.processAllAvailable()
        val rows = spark.read.parquet(s"$root/out")
          .select("w_start", "pred_lang", "n_docs", "ws_total").collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
        // no lost window, no re-emitted window, no resurrected duplicate:
        // exactly hours 0, 1, 2 — one doc each (the cross-restart dup at
        // 85min must be dropped by the RECOVERED fingerprint state)
        assert(rows.length == 3, s"got ${rows.toSeq}")
        assert(rows.map(_._1).distinct.length == 3, s"duplicate window: ${rows.toSeq}")
        assert(rows.forall(r => r._2 == "en" && r._3 == 1L && r._4 == 35L),
          s"got ${rows.toSeq}")
      } finally q2.stop()
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("streaming per-key quota: first N emit with ranks, the cap holds across batches") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.KeyedDoc
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[KeyedDoc]
    val out = StatefulSessions.quotaFirstN(in.toDS(), quota = 2)
    val q = out.writeStream.format("memory").queryName("squota_out")
      .outputMode("append").start()
    try {
      // batch 1: key a gets 3 docs (one over quota), key b gets 1
      feed(q)(in.addData(
        KeyedDoc("a", ts(0), 10L), KeyedDoc("a", ts(1), 11L),
        KeyedDoc("a", ts(2), 12L), KeyedDoc("b", ts(0), 20L)))
      // batch 2: a is already capped — nothing more emits for it ever;
      // b reaches its quota with rank 2 (state carried across batches)
      feed(q)(in.addData(KeyedDoc("a", ts(3), 13L), KeyedDoc("b", ts(4), 21L)))
      val rows = spark.table("squota_out")
        .select("key", "doc_id", "qrank").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("a", 10L, 1L), ("a", 11L, 2L),
        ("b", 20L, 1L), ("b", 21L, 2L)), s"got $rows")
      // state is one counter per key, not per doc
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st.head.numRowsTotal == 2, q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("streaming funnel: online greedy equals batch semantics on an in-order stream") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.TypedEvent
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TypedEvent]
    val stages = Seq("view", "click", "purchase")
    val out = StatefulSessions.funnelStages(in.toDS(), stages)
    val q = out.writeStream.format("memory").queryName("sfunnel_out")
      .outputMode("append").start()
    try {
      // user 1 completes across three separate micro-batches (state
      // carries); user 2's click BEFORE any view is ignored; user 3's
      // same-second view+click hits the strictness rule (stage k must be
      // strictly later than stage k-1's reach, second granularity)
      feed(q)(in.addData(
        TypedEvent(1L, ts(1), "view"), TypedEvent(2L, ts(1), "click"),
        TypedEvent(3L, ts(2), "view"), TypedEvent(3L, ts(2), "click")))
      feed(q)(in.addData(
        TypedEvent(1L, ts(5), "click"), TypedEvent(2L, ts(6), "view")))
      feed(q)(in.addData(
        TypedEvent(1L, ts(9), "purchase"), TypedEvent(3L, ts(9), "click")))
      val got = spark.table("sfunnel_out")
        .select("user_id", "stage_idx", "reach_es").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      def es(min: Long) = 86400L + min * 60L
      assert(got == Set(
        (1L, 0, es(1)), (1L, 1, es(5)), (1L, 2, es(9)),
        (2L, 0, es(6)),
        (3L, 0, es(2)), (3L, 1, es(9))), s"got $got")
      // the same rows through the BATCH funnel: per-stage user counts
      // must match the stream's emitted reach rows (online greedy in
      // time order IS the batch earliest-after-previous match)
      val batchDf = spark.table("sfunnel_out").sparkSession.createDataFrame(Seq(
        (1L, ts(1), "view"), (2L, ts(1), "click"), (3L, ts(2), "view"),
        (3L, ts(2), "click"), (1L, ts(5), "click"), (2L, ts(6), "view"),
        (1L, ts(9), "purchase"), (3L, ts(9), "click")))
        .toDF("user_id", "ts", "event_type")
      val batchCounts = graft.operators.Behavior
        .funnelReach(batchDf, "user_id", "ts", "event_type", stages)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val streamCounts = got.groupBy(_._2).map { case (k, v) => k.toLong -> v.size.toLong }
      assert(batchCounts == streamCounts, s"batch=$batchCounts stream=$streamCounts")
      // state: one (stage, lastEs) row per user, not per event
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st.head.numRowsTotal == 3, q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("streaming transitions: pair counts equal the batch operator across micro-batches") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.TransEvent
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TransEvent]
    val out = StatefulSessions.transitionPairs(in.toDS())
    val q = out.writeStream.format("memory").queryName("strans_out")
      .outputMode("append").start()
    try {
      // user 1's journey crosses all three micro-batches (the carried
      // predecessor is the point); user 2 has a same-second tie broken
      // by event_id; user 3 is a single-event user (no pair)
      val rows = Seq(
        Seq(TransEvent(1L, ts(1), 10L, "view"), TransEvent(2L, ts(2), 11L, "view"),
          TransEvent(2L, ts(2), 12L, "click")),
        Seq(TransEvent(1L, ts(5), 13L, "click"), TransEvent(3L, ts(5), 14L, "view")),
        Seq(TransEvent(1L, ts(9), 15L, "purchase"), TransEvent(2L, ts(9), 16L, "view")))
      rows.foreach(b => feed(q)(in.addData(b)))
      val streamCounts = spark.table("strans_out")
        .groupBy("prev_type", "event_type").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // the same rows through the BATCH operator (both routing regimes
      // produce the same counts; the default takes the plain window)
      val batchDf = spark.createDataFrame(rows.flatten.map(e =>
        (e.user_id, e.ts, e.event_id, e.event_type)))
        .toDF("user_id", "ts", "event_id", "event_type")
      val batchCounts = graft.operators.Behavior
        .transitionCounts(batchDf, "user_id", "ts", "event_id", "event_type",
          chunkSeconds = 60L)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamCounts == batchCounts,
        s"stream=$streamCounts batch=$batchCounts")
      assert(streamCounts == Map(
        ("view", "click") -> 2L, ("click", "purchase") -> 1L,
        ("click", "view") -> 1L))
      // state: ONE row per user regardless of event volume
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st.head.numRowsTotal == 3, q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer closes by gap and by count") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.Event
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val out = StatefulSessions.sessionize(in.toDS(), gapSeconds = 1800L, maxEvents = 3)
    val q = out.writeStream.format("memory").queryName("mgws_out").outputMode("append").start()
    try {
      // user 1: 4 events close together -> count-close at 3, 1 left open;
      // user 2: 1 event, then silence -> gap-close via timeout
      feed(q)(in.addData(
        Event(1L, ts(0), 1.0), Event(1L, ts(1), 2.0), Event(1L, ts(2), 3.0),
        Event(1L, ts(3), 4.0), Event(2L, ts(0), 9.0)))
      feed(q)(in.addData(Event(3L, ts(500), 0.0))) // advance watermark far past gaps
      feed(q)(in.addData(Event(3L, ts(1000), 0.0)))
      val rows = spark.table("mgws_out")
        .select("user_id", "n_events", "sum_value", "closed_by").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getString(3))).toSet
      assert(rows.contains((1L, 3, 6.0, "count")), s"got $rows")
      assert(rows.contains((1L, 1, 4.0, "gap")), s"got $rows")
      assert(rows.contains((2L, 1, 9.0, "gap")), s"got $rows")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses re-deliveries inside the horizon") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "digest")
    val q = StreamingJobs.dedupWithinWatermark(df, "digest", "1 hour")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      feed(q)(in.addData((ts(0), "a"), (ts(1), "a"), (ts(2), "b"), (ts(3), "a")))
      val n = spark.table("dedup_out").count()
      assert(n == 2, s"expected a,b once each, got $n rows")
    } finally q.stop()
  }

  test("streaming incremental dedup probes the static band index, equals the batch probe") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val d = graft.sources.Tables(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val delta = d.filter(col("doc_id") % 10 === 0)
    val index = graft.operators.Dedup.minhashBandIndex(corpus, 3, 8, 4)
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = StreamingJobs.incrementalDedupStream(df, index, 3, 8, 4,
        watermarkDelay = "10 minutes", windowDur = "1 hour")
      .writeStream.format("memory").queryName("incdedup_out").outputMode("append").start()
    try {
      val deltaRows = delta.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), ts(5), r.getString(1))).toSeq
      feed(q)(in.addData(deltaRows: _*))
      // a far-future non-colliding doc advances the source watermark and
      // closes the hour-0 window (the watermark sits BEFORE the join, so
      // collision-free batches still move the clock)
      feed(q)(in.addData((999999L, ts(1000), "flush flush flush flush")))
      val got = spark.table("incdedup_out")
        .filter($"doc_id" =!= 999999L)
        .select("doc_id", "dup_of", "n_dups").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Dedup.probeBandIndex(delta, index, 3, 8, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batch)
      assert(got.nonEmpty, "planted near-dups should straddle the corpus/delta split")
    } finally q.stop()
  }

  test("streaming 4-gate ingest admission equals the batch admission cut, one stateful op") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val d = graft.sources.Tables(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    // the arriving stream: delta docs PLUS re-deliveries of corpus
    // content under fresh ids (gate 1's case) — the q_ingest_gates batch
    val redelivered = corpus.filter(col("doc_id") % 97 === 1)
      .withColumn("doc_id", col("doc_id") + 7000000L)
    // ...PLUS a genuinely-new doc quoting a 15-word corpus passage: the
    // fixture's natural cross-split passage carriers are near-dups that
    // gate 2 drops, so gate 3's in-flight cut needs a planted witness
    // (the ProgramsSpec passage-cut construction)
    val passage = corpus.orderBy(col("doc_id"))
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 25)
      .first().getSeq[String](0).slice(5, 20).mkString(" ")
    val quoter = spark.range(1).select(
      lit(8000001L).as("doc_id"),
      concat_ws(" ", lit((1 to 60).map(i => s"zqs$i").mkString(" ")),
        lit(passage), lit("zqt1 zqt2")).as("text"),
      lit("en").as("lang"), lit("srcquote").as("source"),
      lit(0L).as("n_chars"))
    val batchDocs = d.filter(col("doc_id") % 10 === 0)
      .unionByName(redelivered).unionByName(quoter)
    val bits = Programs.Admission.bloomBuild(corpus).localCheckpoint()
    val bandIndex = Programs.Admission.minhashBandIndex(corpus).localCheckpoint()
    val gramIndex = Programs.Admission.gramIndex(corpus).localCheckpoint()
    val in = MemoryStream[(Long, Timestamp, String, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text", "source")
    val q = StreamingJobs.ingestGateStream(df, bits, bandIndex, gramIndex,
        watermarkDelay = "10 minutes", windowDur = "1 hour")
      .writeStream.format("memory").queryName("ingest_gate_out")
      .outputMode("append").start()
    try {
      val rows = batchDocs.select("doc_id", "text", "source").collect()
        .map(r => (r.getLong(0), ts(5), r.getString(1), r.getString(2))).toSeq
      feed(q)(in.addData(rows: _*))
      // far-future flush row closes the hour-0 window (source watermark)
      feed(q)(in.addData((999999L, ts(1000), "flush", "srcf")))
      val got = spark.table("ingest_gate_out")
        .filter($"doc_id" =!= 999999L)
        .select("doc_id", "source", "text", "n_removed", "n_spans").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = Programs.admissionCut(bits, bandIndex, gramIndex, batchDocs)
        .select("doc_id", "source", "text", "n_removed", "n_spans").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == batch, s"stream admitted ${got.size}, batch ${batch.size}")
      assert(got.nonEmpty, "the admission cut admitted nothing")
      // every re-delivered doc was refused in-flight (gate 1)
      assert(!got.exists(g => g._1 >= 7000000L && g._1 < 8000000L),
        "a re-delivered corpus doc passed")
      // gate 3 cut the planted corpus passage IN-FLIGHT: the quoting doc
      // is admitted (new as a whole) minus exactly the 15 quoted words
      val q8 = got.find(_._1 == 8000001L)
      assert(q8.isDefined, "the passage-quoting doc must be admitted")
      assert(q8.get._4 == 15L && q8.get._5 == 1L, s"cut audit wrong: $q8")
      assert(!q8.get._3.contains(passage) && q8.get._3.contains("zqs1"),
        "gate 3 must cut the quoted passage, not the doc's own words")
      // the whole 3-gate query holds exactly ONE stateful operator (the
      // gram cut's closing window agg) — gates 1-2 are stateless
      // broadcast/anti-join probes by construction
      assert(q.lastProgress.stateOperators.size == 1,
        s"expected one stateful operator: ${q.lastProgress.prettyJson}")
    } finally q.stop()
  }

  test("ingest stage 2: the online quota chains over stage 1's sink, cap holds per source") {
    // the deployment chaining the ingestGateStream scaladoc commits to:
    // gates 1-3 land admitted docs in a parquet sink (stage 1), and the
    // online per-source quota (44g, a flatMapGroupsWithState that cannot
    // legally follow stage 1's window agg INSIDE one query) runs as the
    // next streaming query over that sink. This test runs the chain
    // end-to-end: admitted rows flow through a real file sink into
    // quotaFirstN, the cap holds per source, ranks are continuous, and
    // nothing outside stage 1's output is ever admitted.
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = s"${scratch("ingest_chain")}/${System.nanoTime()}"
    val d = graft.sources.Tables(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val batchDocs = d.filter(col("doc_id") % 10 === 0)
    val bits = Programs.Admission.bloomBuild(corpus).localCheckpoint()
    val bandIndex = Programs.Admission.minhashBandIndex(corpus).localCheckpoint()
    val gramIndex = Programs.Admission.gramIndex(corpus).localCheckpoint()
    val in = MemoryStream[(Long, Timestamp, String, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text", "source")
    val stage1 = StreamingJobs.ingestGateStream(df, bits, bandIndex, gramIndex,
        watermarkDelay = "10 minutes", windowDur = "1 hour")
      .writeStream.format("parquet")
      .option("path", s"$dir/admitted")
      .option("checkpointLocation", s"$dir/cp1")
      .outputMode("append").start()
    try {
      val rows = batchDocs.select("doc_id", "text", "source").collect()
        .map(r => (r.getLong(0), ts(5), r.getString(1), r.getString(2))).toSeq
      feed(stage1)(in.addData(rows: _*))
      feed(stage1)(in.addData((999999L, ts(1000), "flush", "srcf")))
    } finally stage1.stop()
    val admitted = spark.read.parquet(s"$dir/admitted")
      .filter(col("doc_id") =!= 999999L)
    assert(admitted.count() > 2, "stage 1 should admit docs into the sink")
    // stage 2: the sink replays as a file STREAM into the online quota
    import spark.implicits._
    val quota = 2
    val stage2In = spark.readStream
      .schema(spark.read.parquet(s"$dir/admitted").schema)
      .parquet(s"$dir/admitted")
      .select(col("source").as("key"),
        col("w_start").cast("timestamp").as("ts"), col("doc_id"))
      .as[graft.streaming.StatefulSessions.KeyedDoc]
    val stage2 = graft.streaming.StatefulSessions.quotaFirstN(stage2In, quota)
      .writeStream.format("memory").queryName("ingest_quota_out")
      .outputMode("append").start()
    try {
      stage2.processAllAvailable()
      val kept = spark.table("ingest_quota_out")
        .filter($"doc_id" =!= 999999L).collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("qrank")))
      assert(kept.nonEmpty)
      // cap holds per source, ranks are 1..n continuous
      kept.groupBy(_._1).foreach { case (src, rs) =>
        assert(rs.length <= quota, s"$src over quota: ${rs.length}")
        assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq, s"$src ranks: $rs")
      }
      // gate containment: stage 2 can only admit stage-1 survivors
      val s1Ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept.map(_._2).toSet.subsetOf(s1Ids))
    } finally stage2.stop()
  }

  test("streaming gram probe cuts corpus boilerplate in-flight, equals the batch probe") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val d = graft.sources.Tables(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val delta = d.filter(col("doc_id") % 10 === 0)
    val index = graft.operators.Dedup.gramIndex(corpus, 10).localCheckpoint()
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (probe, release) = StreamingJobs.gramProbeStreamReleasable(df, index,
      spanWords = 10, watermarkDelay = "10 minutes", windowDur = "1 hour")
    val q = probe
      .writeStream.format("memory").queryName("gramprobe_out").outputMode("append").start()
    try {
      val deltaRows = delta.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), ts(5), r.getString(1))).toSeq
      feed(q)(in.addData(deltaRows: _*))
      // far-future flush row: the watermark sits at the SOURCE, so a
      // batch with zero index hits still closes the hour-0 window
      feed(q)(in.addData((999999L, ts(1000), "flush")))
      val got = spark.table("gramprobe_out")
        .filter($"doc_id" =!= 999999L)
        .select("doc_id", "clean_text", "n_removed", "n_spans").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.operators.Dedup.probeGramIndex(delta, index, 10)
        .select("doc_id", "clean_text", "n_removed", "n_spans").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == batch)
      assert(got.exists(_._3 > 0), "the synthetic corpus plants shared passages across the split")
      assert(got.size == deltaRows.size, "every arriving doc comes back exactly once")
      // the release handle (r16, the r15 ADVICE): the lane snapshot
      // materialized while the query ran; releasing after termination
      // removes exactly the entries this construction added, so a
      // driver rebuilding the stream per index refresh does not accrete
      // MEMORY_AND_DISK entries. Id-SET delta, not a count: the shared
      // test session's ContextCleaner reclaims other suites' unreferenced
      // cache entries concurrently, so absolute counts are racy
      q.stop(); q.awaitTermination()
      val added = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
      assert(added.nonEmpty,
        "the lane snapshot should be cached while the stream lives")
      release()
      assert((spark.sparkContext.getPersistentRDDs.keySet & added).isEmpty,
        "release() must unpersist the lane snapshot")
    } finally q.stop()
  }

  test("gram probe stream carries non-string columns (typed null placeholders)") {
    // r14 (ADVICE): the hits branch's null placeholders are typed from
    // the input schema, so a LONG carry column rides the sentinel row
    // instead of dying at unionByName
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val corpus = Seq((1L, (1 to 12).map(i => s"cp$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup.gramIndex(corpus, 10).localCheckpoint()
    val in = MemoryStream[(Long, Timestamp, String, Long)]
    val df = in.toDF().toDF("doc_id", "ts", "text", "prio")
    val q = StreamingJobs.gramProbeStream(df, index, spanWords = 10,
        watermarkDelay = "10 minutes", windowDur = "1 hour",
        carry = Seq("prio"))
      .writeStream.format("memory").queryName("gramcarry_out")
      .outputMode("append").start()
    try {
      val quoted = "lead words here " + (1 to 10).map(i => s"cp$i").mkString(" ")
      feed(q)(in.addData((10L, ts(5), quoted, 7L)))
      feed(q)(in.addData((999999L, ts(1000), "flush", 0L)))
      val got = spark.table("gramcarry_out").filter($"doc_id" === 10L)
        .select("prio", "n_removed").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq((7L, 10L)), got.mkString(","))
    } finally q.stop()
  }

  test("online ingest closes the maintenance loop: same-stream re-delivery refused, quota rejects stay admissible, cadence folds the gram index") {
    // r14 (the r13 verdict's open-loop gap): ingestProgramStream folds
    // what it ADMITS back into the standing artifacts at cadence, and
    // gate 1 also probes the batches admitted since its bit table's
    // fold — so the store the gates probe is the store the stream is
    // building.
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = s"${scratch("ingest_online")}/${System.nanoTime()}"
    val corpus = Seq((1L, (1 to 30).map(i => s"cw$i").mkString(" "), "base"))
      .toDF("doc_id", "text", "source")
    Programs.ingestStoreInit(corpus, dir)
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("doc_id", "text", "source")
    val q = Programs.ingestProgramStream(df, dir, s"$dir/cp",
      quotaPerSource = 1L, maintainEvery = 2)
    def batchRows(id: Long) = spark.read.parquet(s"$dir/admitted")
      .filter(col("batch") === id)
      .select("doc_id", "text", "n_removed", "n_spans").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    try {
      // batch 0: two novel same-source docs under quota 1 → one stored
      val tA = (1 to 12).map(i => s"aw$i").mkString(" ")
      val tB = (1 to 12).map(i => s"bw$i").mkString(" ")
      in.addData((100L, tA, "s"), (101L, tB, "s"))
      q.processAllAvailable()
      val b0 = batchRows(0)
      assert(b0.length == 1, s"quota 1 must store exactly one: ${b0.toSeq}")
      val keptText = b0.head._2
      val rejText = if (keptText == tA) tB else tA
      // batch 1: the STORED text re-delivered under a fresh id is
      // refused IN-FLIGHT (gate 1 probes the batches its bit table has
      // not folded — content admitted earlier in the SAME stream); the
      // quota-REJECTED text is
      // admitted (post-quota appends: no seen-but-unstored tombstone)
      in.addData((200L, keptText, "s"), (201L, rejText, "s2"))
      q.processAllAvailable()
      val b1 = batchRows(1)
      assert(b1.map(_._1).toSet == Set(201L),
        s"batch 1 must admit exactly the quota-reject re-delivery: ${b1.toSeq}")
      // after batch 1 (maintainEvery = 2) the gram/band arms folded
      assert(new java.io.File(s"$dir/gram_index_v2/${Store.Marker}").isFile,
        "cadence fold must write a new gram index version")
      assert(new java.io.File(s"$dir/band_index_v2/${Store.Marker}").isFile)
      // batch 2: a novel doc QUOTING 10 consecutive words of the
      // batch-0 admission → the folded gram index cuts the passage
      // in-flight; a re-delivery of batch-1's admission is refused
      val passage = keptText.split(" ").take(10).mkString(" ")
      val quoter = (1 to 40).map(i => s"qw$i").mkString(" ") +
        s" $passage qz1 qz2"
      in.addData((300L, quoter, "s3"), (301L, rejText, "s4"))
      q.processAllAvailable()
      val b2 = batchRows(2)
      assert(b2.map(_._1).toSet == Set(300L),
        s"batch 2 must refuse the re-delivered batch-1 admission: ${b2.toSeq}")
      val (_, cutText, nRemoved, nSpans) = b2.head
      assert(nRemoved == 10L && nSpans == 1L,
        s"gram cut audit wrong: removed=$nRemoved spans=$nSpans")
      assert(!cutText.contains(passage) && cutText.contains("qw1") &&
        cutText.contains("qz2"),
        "the quoted passage must be cut, the doc's own words kept")
      // every arm, the bloom arm included, folds at cadence
      assert(new java.io.File(s"$dir/bits_v2/${Store.Marker}").isFile)
      assert(!new java.io.File(s"$dir/bits_v3").exists,
        "the bit table must fold at cadence, not per batch")
      assert(!new java.io.File(s"$dir/gram_index_v3").exists,
        "gram index must fold at cadence, not per batch")
    } finally q.stop()
  }

  test("online LM gate folds admissions into the model: a same-stream fold flips a borderline doc exactly as the batch re-train does") {
    // r15 (the r14 verdict's gap #3): the LM gate's model-maintenance
    // loop. The threshold is DERIVED from the batch operator's own
    // scores — D's surprisal against model(corpus) vs model(corpus ∪ A)
    // — so the test asserts verdict EQUIVALENCE with the batch
    // re-train, not hand-tuned numbers.
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val dir = s"${scratch("lm_online")}/${System.nanoTime()}"
    val commonText = (1 to 40).map(_ => "the cat sat on the mat").mkString(" ")
    val corpusRows = (1L to 20L).map(i => (i, commonText, "en"))
    val novel = "q" * 41 // 39 'qqq' trigrams — the block D's verdict rests on
    val aText = commonText + " " + novel
    val dText = "q" * 40
    // batch-operator scores: D against the corpus model and against the
    // corpus ∪ A re-train (scored as a non-'en' doc so D never trains)
    def scoreOf(model: Seq[(Long, String, String)], doc: String): Long =
      TextAnalysis.trigramSurprisal(
          (model :+ (999L, doc, "xx")).toDF("doc_id", "text", "lang"), "en",
          keepBelowMb = Long.MaxValue)
        .filter(col("doc_id") === 999L).collect().head
        .getAs[Long]("surprisal_mb")
    val dV0 = scoreOf(corpusRows, dText)
    val dV1 = scoreOf(corpusRows :+ (21L, aText, "en"), dText)
    assert(dV1 < dV0, s"folding A must lower D's surprisal ($dV0 -> $dV1)")
    val thr = (dV0 + dV1) / 2 // batch verdicts: D fails pre-fold, passes post-fold
    val aV0 = scoreOf(corpusRows, aText)
    assert(aV0 < thr, s"A must pass under v0 (a=$aV0 thr=$thr d0=$dV0 d1=$dV1)")
    Programs.lmStoreInit(corpusRows.toDF("doc_id", "text", "lang"), dir)
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("doc_id", "text", "lang")
    val q = Programs.lmGateProgramStream(df, dir, s"$dir/cp",
      keepBelowMb = thr, maintainEvery = 1)
    def admitted(b: Long) = spark.read.parquet(s"$dir/admitted")
      .filter(col("batch") === b).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    try {
      // batch 0: A admitted, D REFUSED against the stale model — the
      // conservative staleness direction; fold (cadence 1) → model v1
      in.addData((100L, aText, "en"), (101L, dText, "en"))
      q.processAllAvailable()
      assert(admitted(0) == Set(100L),
        s"v0 must admit A and refuse D: ${admitted(0)}")
      assert(new java.io.File(s"$dir/lm_model_v1/${Store.Marker}").isFile,
        "cadence fold must write a new model version")
      // batch 1: the same D content under a fresh id now PASSES — the
      // in-stream fold changed the verdict exactly as the re-train did
      in.addData((200L, dText, "en"))
      q.processAllAvailable()
      assert(admitted(1) == Set(200L),
        s"the folded model must admit D: ${admitted(1)}")
    } finally q.stop()
  }

  test("LM gate crash-replay and store re-init: fold skip-if-complete, fingerprinted served cache") {
    // r15 review follow-ups made test-proven: (a) lmBatchStep's replay
    // windows share ingestBatchStep's contract — a replayed fold batch
    // must not double-fold the model counts; (b) lmServedCache keys on
    // a listing fingerprint, so a same-JVM lmStoreInit over the same
    // storeDir serves the NEW model, not the cached old one.
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val dir = s"${scratch("lm_replay")}/${System.nanoTime()}"
    val commonText = (1 to 40).map(_ => "the cat sat on the mat").mkString(" ")
    val corpus = (1L to 20L).map(i => (i, commonText, "en"))
      .toDF("doc_id", "text", "lang")
    Programs.lmStoreInit(corpus, dir)
    def step(id: Long, rows: (Long, String, String)*): Unit =
      Programs.lmBatchStep(rows.toDF("doc_id", "text", "lang"), dir, id,
        keepBelowMb = Long.MaxValue, maintainEvery = 1, refLang = "en")
    def modelMap(path: String) = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aText = commonText + " " + ("q" * 41)
    step(0, (100L, aText, "en")) // admits A (threshold infinite), folds v1
    assert(new java.io.File(s"$dir/lm_model_v1/${Store.Marker}").isFile)
    val v1 = modelMap(s"$dir/lm_model_v1")
    // fold ≡ rebuild over corpus ∪ A
    assert(v1 == TextAnalysis.trigramModel(
        corpus.unionByName(Seq((100L, aText, "en")).toDF("doc_id", "text", "lang")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // window (a): the checkpoint commit was lost after the fold — replay
    // batch 0, whose window still holds A: the complete v1 must be
    // skipped, not re-folded (re-folding would double A's trigram counts)
    step(0, (100L, aText, "en"))
    assert(modelMap(s"$dir/lm_model_v1") == v1,
      "replayed fold must skip the complete version, not double-fold")
    // an empty cadence window commits no model; the next fold folds the
    // batches since v1 (the empty batch 1 and batch 2's B), not A again
    val bText = commonText + " " + ("z" * 41)
    step(1)
    assert(!Fs.exists(s"$dir/lm_model_v2"), "an empty window must commit no rewrite")
    step(2, (101L, bText, "en"))
    assert(modelMap(s"$dir/lm_model_v3") == TextAnalysis.trigramModel(corpus.unionByName(
        Seq((100L, aText, "en"), (101L, bText, "en")).toDF("doc_id", "text", "lang")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "the fold after an empty window must fold exactly the docs since v1")
    // (b) same-JVM store RE-INIT over the same dir: the served cache
    // must not serve the stale v0 — a doc made entirely of 'q' trigrams
    // is OOV under the original corpus model but in-model after a
    // re-init whose corpus contains A
    val dir2 = s"${scratch("lm_replay")}/${System.nanoTime()}_b"
    Programs.lmStoreInit(corpus, dir2)
    step2(dir2, 0L, (200L, "q" * 40, "en"))
    def oov(b: Long, d: String) = spark.read.parquet(s"$d/admitted")
      .filter(col("batch") === b).select("n_oov").collect().map(_.getLong(0))
    assert(oov(0L, dir2).forall(_ > 0), "q-trigrams OOV under the original model")
    Programs.lmStoreInit(
      corpus.unionByName(Seq((100L, aText, "en")).toDF("doc_id", "text", "lang")),
      dir2) // overwrites lm_model_v0 at the SAME path
    step2(dir2, 1L, (201L, "q" * 40, "en"))
    assert(oov(1L, dir2).forall(_ == 0L),
      "after re-init the served cache must score against the NEW model (fingerprint key)")
  }

  private def step2(dir: String, id: Long, rows: (Long, String, String)*)(
      implicit ctx: org.apache.spark.sql.SQLContext): Unit = {
    import ctx.sparkSession.implicits._
    Programs.lmBatchStep(rows.toDF("doc_id", "text", "lang"), dir, id,
      keepBelowMb = Long.MaxValue, maintainEvery = 100, refLang = "en")
  }

  test("phrase store: segment appends, compaction fold, replay windows leave no duplicate postings") {
    // r17: the phrase family's streaming maintenance form. Drives
    // Programs.phraseBatchStep directly (the stream's foreachBatch
    // delegates to it verbatim) through append, compaction, BOTH
    // replay windows, and an empty batch — asserting not just the
    // phrase results (duplicate-insensitive by construction) but the
    // raw posting multiset, which is what a replayed in-place append
    // would corrupt for tf-weighted consumers.
    implicit val ctx = spark.sqlContext
    import ctx.sparkSession.implicits._
    import graft.operators.TextIndex
    val dir = s"${scratch("phrase_store")}/${System.nanoTime()}"
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "x alpha beta"),
      (3L, "beta alpha")).toDF("doc_id", "text")
    Programs.phraseStoreInit(corpus, dir, buckets = 16)
    def step(id: Long, rows: (Long, String)*): Unit =
      Programs.phraseBatchStep(rows.toDF("doc_id", "text"), dir, id,
        compactEvery = 2)
    val phrase = Seq("alpha", "beta")
    def served(): Set[(Long, Long, Long)] = {
      val (postings, buckets) = Programs.phraseStorePostings(spark, dir)
      TextIndex.searchPhrase(
          TextIndex.prunePositionalIndex(postings, phrase, buckets), phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    def inline(extra: Seq[(Long, String)]): Set[(Long, Long, Long)] =
      TextIndex.searchPhrase(TextIndex.buildPositionalPostings(
          corpus.unionByName(extra.toDF("doc_id", "text")), "doc_id", "text"),
          phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def storePostingRows(): Long = Programs.phraseStorePostings(spark, dir)
      ._1.count()
    def inlinePostingRows(extra: Seq[(Long, String)]): Long =
      TextIndex.buildPositionalPostings(
        corpus.unionByName(extra.toDF("doc_id", "text")), "doc_id", "text")
        .count()
    val b0 = Seq(10L -> "alpha beta alpha beta")
    val b1 = Seq(11L -> "gg alpha beta")
    val b3 = Seq(12L -> "alpha beta end")
    // batch 0: segment append, no compaction yet
    step(0, b0: _*)
    assert(graft.sources.Fs.exists(s"$dir/seg_v0/${Store.Marker}"))
    assert(served() == inline(b0) && served().exists(_._1 == 10L))
    // batch 1: compaction fold — base_v2 commits; the just-folded
    // segments are RETAINED one cycle for reader grace but must be
    // invisible to the new base's readers (ids < N rule): the posting
    // multiset proves no double counting
    step(1, b1: _*)
    assert(graft.sources.Fs.exists(s"$dir/base_v2/${Store.Marker}"))
    assert(graft.sources.Fs.exists(s"$dir/seg_v0") &&
      graft.sources.Fs.exists(s"$dir/seg_v1"),
      "just-folded segments keep one cycle of reader grace")
    assert(served() == inline(b0 ++ b1))
    assert(storePostingRows() == inlinePostingRows(b0 ++ b1),
      "retained folded segments must not double-count")
    // replaying the fold batch: skip-if-complete, store unchanged
    step(1, b1: _*)
    assert(served() == inline(b0 ++ b1) &&
      storePostingRows() == inlinePostingRows(b0 ++ b1),
      "replaying the fold batch must not change the store")
    // empty batch: no segment written, store unchanged
    step(2)
    assert(!graft.sources.Fs.exists(s"$dir/seg_v2"))
    assert(served() == inline(b0 ++ b1))
    // batch 3: append + second compaction over base_v2 ∪ seg_v3; the
    // PREVIOUS generation's folded segments now clear, keep-two prunes
    // the oldest base
    step(3, b3: _*)
    assert(graft.sources.Fs.exists(s"$dir/base_v4/${Store.Marker}"))
    assert(!graft.sources.Fs.exists(s"$dir/base_v0"),
      "keep-two must prune the oldest base")
    assert(!graft.sources.Fs.exists(s"$dir/seg_v0") &&
      !graft.sources.Fs.exists(s"$dir/seg_v1"),
      "the previous generation's folded segments must clear")
    assert(graft.sources.Fs.exists(s"$dir/seg_v3"),
      "the just-folded generation keeps its grace cycle")
    assert(served() == inline(b0 ++ b1 ++ b3) &&
      storePostingRows() == inlinePostingRows(b0 ++ b1 ++ b3))
    // crash window (a): clear crashed — a stale already-folded segment
    // from a CLEARED generation reappears; the replayed fold batch must
    // skip the complete base, keep it OUT of the read set (refolding
    // would double its postings), and re-run the clear
    TextIndex.writePositionalIndex(TextIndex.buildPositionalPostings(
      b0.toDF("doc_id", "text"), "doc_id", "text"), s"$dir/seg_v0", 16)
    // the same stale generation, committed through the store's own path
    Store.versions(dir, "seg").commit(1)(TextIndex.writePositionalIndex(
      TextIndex.buildPositionalPostings(b1.toDF("doc_id", "text"), "doc_id", "text"),
      _, 16))
    step(3, b3: _*)
    assert(!graft.sources.Fs.exists(s"$dir/seg_v0"),
      "the replayed clear must remove the stale segment")
    assert(!graft.sources.Fs.exists(s"$dir/seg_v1"),
      "the replayed clear must remove the committed stale segment too")
    assert(served() == inline(b0 ++ b1 ++ b3) &&
      storePostingRows() == inlinePostingRows(b0 ++ b1 ++ b3),
      "a stale folded segment must never re-fold")
    // crash window (b): checkpoint commit lost AFTER the segment write
    // — replaying a plain batch rewrites its own segment in place
    // (delete-then-write), leaving the posting multiset exact
    val b4 = Seq(13L -> "alpha beta tail")
    TextIndex.writePositionalIndex(TextIndex.buildPositionalPostings(
      b4.toDF("doc_id", "text"), "doc_id", "text"), s"$dir/seg_v4", 16)
    step(4, b4: _*)
    step(4, b4: _*) // replay
    assert(served() == inline(b0 ++ b1 ++ b3 ++ b4))
    assert(storePostingRows() == inlinePostingRows(b0 ++ b1 ++ b3 ++ b4),
      "a replayed segment write must not duplicate postings")
  }

  test("ingest crash-replay at the fold boundary: re-running the fold batch neither double-folds nor loses admissions") {
    // Drives Programs.ingestBatchStep directly (the stream's foreachBatch
    // delegates to it verbatim). A fold reads the admitted batches its
    // family's version has not folded (`<name>_v<N>` folds every batch
    // below N), so replaying the fold batch after its checkpoint commit
    // was lost skips the committed versions; a crash between the gram and
    // the band commit re-folds the band alone over the same window; and a
    // cadence window that admitted nothing commits nothing, leaving the
    // next fold every batch since the last committed version.
    // Deterministic version reads (≤ batchId) + skip-if-complete folds
    // make every replay idempotent.
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = s"${scratch("ingest_replay")}/${System.nanoTime()}"
    val corpus = Seq((1L, (1 to 30).map(i => s"cw$i").mkString(" "), "base"))
      .toDF("doc_id", "text", "source")
    Programs.ingestStoreInit(corpus, dir)
    val tA = (1 to 12).map(i => s"aw$i").mkString(" ")
    val tB = (1 to 12).map(i => s"bw$i").mkString(" ")
    val tC = (1 to 12).map(i => s"zw$i").mkString(" ")
    val tD = (1 to 12).map(i => s"yw$i").mkString(" ")
    def step(id: Long, rows: (Long, String, String)*): Unit =
      Programs.ingestBatchStep(rows.toDF("doc_id", "text", "source"), dir,
        id, quotaPerSource = 5L, maintainEvery = 2)
    def at(path: String) = spark.read.parquet(path).collect().map(_.toString).toSet
    def gram(v: Long) = spark.read.parquet(s"$dir/gram_index_v$v")
      .select("h1", "h2", "df").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the fold must equal a full rebuild over corpus ∪ everything stored
    def rebuilt(texts: String*) = graft.operators.Dedup.gramIndex(
        corpus.select(col("doc_id"), col("text"))
          .unionByName(texts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
            .toDF("doc_id", "text")), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def admittedRows(b: Long) = spark.read.parquet(s"$dir/admitted")
      .filter(col("batch") === b).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    step(0, (100L, tA, "s"))
    step(1, (101L, tB, "s")) // cadence fold → gram/band v2
    val foldSnapshot = gram(2)
    val bandSnapshot = at(s"$dir/band_index_v2")
    val admitted1 = admittedRows(1L)
    assert(admitted1.map(_._1) == Set(101L))
    assert(foldSnapshot == rebuilt(tA, tB), "fold must equal the rebuild")
    // window (a): the checkpoint commit was lost after the fold committed
    // — the engine replays batch 1, whose window still holds batches 0-1
    step(1, (101L, tB, "s"))
    assert(gram(2) == foldSnapshot,
      "window (a): replay must not double-fold the window's docs")
    assert(admittedRows(1L) == admitted1,
      "window (a): replayed admissions must reproduce (not self-refuse)")
    // window (b): crash after the gram commit, before the band commit —
    // the replay skips the gram fold and folds the band from its own v0
    Fs.delete(s"$dir/band_index_v2")
    step(1, (101L, tB, "s"))
    assert(gram(2) == foldSnapshot, "window (b): the committed gram fold is skipped")
    assert(at(s"$dir/band_index_v2") == bandSnapshot,
      "window (b): the band fold must equal its first run")
    assert(admittedRows(1L) == admitted1, "window (b): replayed admissions must reproduce")
    // an empty cadence window: batches 2-3 only re-deliver stored text, so
    // the fold at 3 commits nothing, and the fold at 5 folds exactly the
    // docs admitted since v2 (batches 2-5), none of batches 0-1 again
    step(2, (200L, tA, "s"))
    step(3, (201L, tB, "s"))
    assert(admittedRows(2L).isEmpty && admittedRows(3L).isEmpty)
    assert(!Fs.exists(s"$dir/gram_index_v4") && !Fs.exists(s"$dir/band_index_v4"),
      "an empty window must commit no rewrite")
    // and the loop continues normally after replays and an idle window
    step(4, (300L, tC, "s"))
    step(5, (301L, tD, "s"))
    assert(admittedRows(4L).map(_._1) == Set(300L) && admittedRows(5L).map(_._1) == Set(301L))
    assert(Fs.exists(s"$dir/band_index_v6/${Store.Marker}"))
    assert(gram(6) == rebuilt(tA, tB, tC, tD),
      "the fold after an empty window must fold exactly the docs since v2")
  }

  // ---- versioned program stores: restart, re-init, crash leftovers --------

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def rowsAt(path: String): Seq[String] = rowsOf(spark.read.parquet(path))

  /** Feeds `batches` to `program` as micro-batches 0, 1, … of a stream on
    * a new checkpoint. */
  private def runProgram[A <: Product : Encoder](cols: String*)(batches: Seq[Seq[A]])(
      program: (DataFrame, String) => StreamingQuery): Unit = {
    implicit val ctx: SQLContext = spark.sqlContext
    val in = MemoryStream[A]
    val q = program(in.toDF().toDF(cols: _*), s"${scratch("program_cp")}/${System.nanoTime()}")
    try batches.foreach(b => feed(q)(in.addData(b)))
    finally q.stop()
  }

  /** The message of the `require` a program stream died with. */
  private def requireFailure(run: => Unit): String = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }
      .getOrElse(throw e)
  }

  /** A crash leftover at `path`: a truncated part-file plus `_SUCCESS`
    * (a write can die after Spark's job commit), but no store marker. */
  private def plantCrashed(path: String): Unit = {
    Fs.delete(path)
    Fs.writeString(s"$path/part-00000-crashed.snappy.parquet", "PAR1 truncated")
    Fs.writeString(s"$path/_SUCCESS", "")
  }

  private def latestRows(dir: String, name: String): (Long, Seq[String]) = {
    val v = Store.versions(dir, name)
    val n = v.latest()
    (n, rowsAt(v.path(n)))
  }

  test("ingest store: a new checkpoint on a matured store fails with the restart contract, and a re-init starts it over") {
    val corpus = Seq((1L, words("cw", 30), "base")).toDF("doc_id", "text", "source")
    // the second life re-delivers the first life's last text: a stale
    // index version would refuse it, a fresh store admits it. The first
    // life is longer, so a re-init that kept its admitted batches would
    // leave batches the second life never overwrites
    val life1 = Seq(Seq((100L, words("aw", 12), "s")), Seq((101L, words("bw", 12), "s")),
      Seq((103L, words("gw", 12), "s")), Seq((104L, words("hw", 12), "s")),
      Seq((102L, words("dw", 12), "s")))
    val life2 = Seq(Seq((200L, words("ew", 12), "s")), Seq((201L, words("fw", 12), "s")),
      Seq((202L, words("dw", 12), "t")))
    def ingest(dir: String)(df: DataFrame, cp: String) =
      Programs.ingestProgramStream(df, dir, cp, quotaPerSource = 5L, maintainEvery = 2)
    def results(dir: String) = (rowsAt(s"$dir/admitted"),
      Seq("bits", "band_index", "gram_index").map(latestRows(dir, _)))
    val dir = s"${scratch("ingest_reinit")}/${System.nanoTime()}"
    Programs.ingestStoreInit(corpus, dir)
    runProgram("doc_id", "text", "source")(life1)(ingest(dir))
    assert(!Fs.exists(s"$dir/bits_v0") && Fs.exists(s"$dir/admitted/batch=${life2.length}"),
      "the first life must end past its first retention, longer than the second")
    assert(requireFailure(runProgram("doc_id", "text", "source")(life2)(ingest(dir))) ==
      "requirement failed: " + Store.restartContract(dir, "bits", 0))
    Programs.ingestStoreInit(corpus, dir)
    runProgram("doc_id", "text", "source")(life2)(ingest(dir))
    val fresh = s"${scratch("ingest_reinit")}/${System.nanoTime()}_fresh"
    Programs.ingestStoreInit(corpus, fresh)
    runProgram("doc_id", "text", "source")(life2)(ingest(fresh))
    assert(results(dir) == results(fresh), "a re-initialized store must equal a fresh one")
    assert(spark.read.parquet(s"$fresh/admitted").count() == 3)
  }

  test("LM store: a new checkpoint on a matured store fails with the restart contract, and a re-init starts it over") {
    val common = (1 to 20).map(_ => "the cat sat on the mat").mkString(" ")
    val corpus = (1L to 10L).map(i => (i, common, "en")).toDF("doc_id", "text", "lang")
    def life(base: Long, word: String, n: Int) =
      (0 until n).map(i => Seq((base + i, s"$common $word$i $word", "en")))
    // the first life is longer: a re-init that kept its admitted batches
    // would leave batches the second life never overwrites
    val (life1, life2) = (life(100L, "zebra", 7), life(200L, "quokka", 5))
    def gate(dir: String)(df: DataFrame, cp: String) =
      Programs.lmGateProgramStream(df, dir, cp, keepBelowMb = Long.MaxValue, maintainEvery = 2)
    def results(dir: String) = (rowsAt(s"$dir/admitted"), latestRows(dir, "lm_model"))
    val dir = s"${scratch("lm_reinit")}/${System.nanoTime()}"
    Programs.lmStoreInit(corpus, dir)
    runProgram("doc_id", "text", "lang")(life1)(gate(dir))
    assert(!Fs.exists(s"$dir/lm_model_v0") && Fs.exists(s"$dir/admitted/batch=${life2.length}"),
      "the first life must end past its first retention, longer than the second")
    assert(requireFailure(runProgram("doc_id", "text", "lang")(life2)(gate(dir))) ==
      "requirement failed: " + Store.restartContract(dir, "lm_model", 0))
    Programs.lmStoreInit(corpus, dir)
    runProgram("doc_id", "text", "lang")(life2)(gate(dir))
    val fresh = s"${scratch("lm_reinit")}/${System.nanoTime()}_fresh"
    Programs.lmStoreInit(corpus, fresh)
    runProgram("doc_id", "text", "lang")(life2)(gate(fresh))
    assert(results(dir) == results(fresh), "a re-initialized store must equal a fresh one")
  }

  test("phrase store: a new checkpoint on a matured store fails with the restart contract, and a re-init starts it over") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "beta alpha")).toDF("doc_id", "text")
    val life1 = (0 until 4).map(i => Seq((100L + i, s"alpha beta old$i")))
    val life2 = (0 until 4).map(i => Seq((200L + i, s"new$i alpha beta")))
    def index(dir: String)(df: DataFrame, cp: String) =
      Programs.phraseIndexProgramStream(df, dir, cp, compactEvery = 2)
    def results(dir: String) = (rowsOf(Programs.phraseStorePostings(spark, dir)._1),
      Store.versions(dir, "base").committed)
    val dir = s"${scratch("phrase_reinit")}/${System.nanoTime()}"
    Programs.phraseStoreInit(corpus, dir, buckets = 16)
    runProgram("doc_id", "text")(life1)(index(dir))
    assert(!Fs.exists(s"$dir/base_v0") && Fs.exists(s"$dir/seg_v3"),
      "the first life must end past its first retention, with a segment in grace")
    assert(requireFailure(runProgram("doc_id", "text")(life2)(index(dir))) ==
      "requirement failed: " + Store.restartContract(dir, "base", 0))
    Programs.phraseStoreInit(corpus, dir, buckets = 16)
    runProgram("doc_id", "text")(life2)(index(dir))
    val fresh = s"${scratch("phrase_reinit")}/${System.nanoTime()}_fresh"
    Programs.phraseStoreInit(corpus, fresh, buckets = 16)
    runProgram("doc_id", "text")(life2)(index(fresh))
    assert(results(dir) == results(fresh), "a re-initialized store must equal a fresh one")
  }

  test("ingest store crash leftovers: a markerless version is replaced at commit and never read") {
    val corpus = Seq((1L, words("cw", 30), "base")).toDF("doc_id", "text", "source")
    val batches = Seq(Seq((100L, words("aw", 12), "s")), Seq((101L, words("bw", 12), "s")))
    def run(dir: String)(plant: Long => Unit): Unit = {
      Programs.ingestStoreInit(corpus, dir)
      for ((rows, id) <- batches.zipWithIndex) {
        plant(id.toLong)
        Programs.ingestBatchStep(rows.toDF("doc_id", "text", "source"), dir, id.toLong,
          quotaPerSource = 5L, maintainEvery = 2)
      }
    }
    val clean = s"${scratch("ingest_crash")}/${System.nanoTime()}"
    val dir = s"${clean}_planted"
    run(clean)(_ => ())
    run(dir) {
      case 0L =>
        // a complete bit table of batch 1's own text at a version no batch
        // commits (the bloom arm folds at cadence): read, it would refuse
        // batch 1's doc at gate 1
        Programs.Admission.bloomBuild(batches(1).map(r => (r._1, r._2)).toDF("doc_id", "text"))
          .write.parquet(s"$dir/bits_v1")
      case _ =>
        Seq("bits_v2", "gram_index_v2", "band_index_v2").foreach(n => plantCrashed(s"$dir/$n"))
        // complete data at a version batch 1 would read if markers were
        // not the rule: it holds batch 1's own text, so reading it
        // would cut the whole doc
        graft.operators.Dedup.gramIndex(
            batches(1).map(r => (r._1, r._2)).toDF("doc_id", "text"), 10)
          .write.parquet(s"$dir/gram_index_v1")
    }
    for (n <- Seq("bits_v2", "gram_index_v2", "band_index_v2")) {
      assert(Fs.exists(s"$dir/$n/${Store.Marker}"), s"$n must be committed")
      assert(rowsAt(s"$dir/$n") == rowsAt(s"$clean/$n"), s"$n must equal the unplanted run")
    }
    assert(!Fs.exists(s"$dir/bits_v1/${Store.Marker}"), "no batch commits bits_v1")
    assert(rowsAt(s"$clean/admitted").length == 2)
    assert(rowsAt(s"$dir/admitted") == rowsAt(s"$clean/admitted"),
      "the uncommitted bits_v1 and gram_index_v1 must never be read")
  }

  /** Runs `f` and returns the Spark jobs it ran on this thread
    * ([[JobProbe]]) and the file indexes its queries read. The suite runs
    * one query at a time, so every query event in the window is `f`'s. */
  private def jobsAndReads(f: => Unit): (JobProbe.Jobs, Seq[org.apache.spark.sql.execution.datasources.FileIndex]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[FileIndex]
    val queries = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => reads.add(h.location)
            case _ =>
          }
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(queries)
    import scala.jdk.CollectionConverters._
    try (JobProbe(f), reads.asScala.toSeq)
    finally spark.listenerManager.unregister(queries)
  }

  test("ingest step job budget: a probe batch runs 12 jobs and a fold batch 19") {
    // One resolver across the direct step calls, as the stream holds
    // one: each version is resolved once per stream and only while
    // committed. Every batch meets every gate: a re-delivery (gate 1), a near
    // copy (gate 2), a quoted passage (gate 3) and novel docs, so no
    // probe stage is skipped for an empty input. A probe batch runs three
    // executions: gates 1-2 staged, gate 3's cut staged, and the admitted
    // write. The fold adds the gram rewrite, the band append's key collect
    // and rewrite, and the bloom rewrite. The fold reads its window's
    // emptiness from parquet footers, which runs no job.
    val corpus = (1 to 12).map(i => (i.toLong, words(s"c${i}w", 30), s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val dir = s"${scratch("ingest_jobs")}/${System.nanoTime()}"
    Programs.ingestStoreInit(corpus, dir)
    val resolver = new Store.Resolver
    def batch(b: Int) = {
      val near = words(s"c${b + 1}w", 30).replace(s"c${b + 1}w7 ", "swap ")
      val quote = words(s"q${b}w", 30) + " " + words(s"c${b + 5}w", 14).split(" ").drop(2).mkString(" ")
      Seq((100L * b + 1, words(s"c${b + 2}w", 30), "s0"), (100L * b + 2, near, "s1"),
        (100L * b + 3, quote, "s2"), (100L * b + 4, words(s"n${b}a", 20), "s0"),
        (100L * b + 5, words(s"n${b}b", 20), "s1")).toDF("doc_id", "text", "source")
    }
    def step(b: Int) = jobsAndReads(Programs.ingestBatchStep(batch(b), dir, b.toLong,
      quotaPerSource = 5L, maintainEvery = 4, resolver))
    val Version = ".*/((?:bits|band_index|gram_index)_v\\d+)".r
    def versions(reads: Seq[org.apache.spark.sql.execution.datasources.FileIndex]) =
      reads.flatMap(i => i.rootPaths.map(_.toString).collect { case Version(n) => n -> i })
    def latest(b: Int) = Seq("bits", "band_index", "gram_index")
      .map(n => s"${n}_v${Store.versions(dir, n).latest(b.toLong)}").toSet
    val runs = (0 to 3).map { b =>
      val want = latest(b)
      val (jobs, reads) = step(b)
      // the versions read are exactly the newest committed ones ≤ b at
      // the step's start, and retention keeps every one of them
      assert(versions(reads).map(_._1).toSet == want, s"batch $b")
      want.foreach(n => assert(Fs.exists(s"$dir/$n/${Store.Marker}"), s"batch $b read $n"))
      // gates 1 and 2 refused their docs, gate 3 cut the 12 quoted words
      assert(spark.read.parquet(s"$dir/admitted/batch=$b").select("doc_id", "n_removed")
        .collect().map(r => r.getLong(0) - 100L * b -> r.getLong(1)).toSet ==
        Set(3L -> 12L, 4L -> 0L, 5L -> 0L), s"batch $b")
      (jobs.starts.size, jobs.executions.size, versions(reads))
    }
    assert(runs.map(r => (r._1, r._2)) == Seq((12, 3), (12, 3), (12, 3), (19, 7)),
      "(jobs, executions) per batch (batch 3 folds): 12 in 3 per probe batch, 19 in 7 per fold batch")
    // batches 1 and 2 read band_index_v0 and gram_index_v0 through the
    // same file index: resolved once, not re-resolved per batch
    for (n <- Seq("band_index_v0", "gram_index_v0")) {
      val (one, two) = (runs(1)._3.filter(_._1 == n), runs(2)._3.filter(_._1 == n))
      assert(one.nonEmpty && two.nonEmpty && one.forall(a => two.forall(_._2 eq a._2)),
        s"$n was resolved again")
    }
    assert(Store.versions(dir, "bits").committed == Seq(0L, 4L),
      "the bit table folds at cadence, beside the gram and band indexes")
    // a replay of the fold batch through the same resolver reads the
    // same versions its first run did, though newer ones now exist
    val (_, replayed) = step(3)
    assert(versions(replayed).map(_._1).toSet == runs(3)._3.map(_._1).toSet)
  }

  /** Every file under `dir` with its size and modification time. */
  private def files(dir: String): Set[(String, Long, Long)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet
    finally walk.close()
  }

  test("ingest probe batch writes only its admitted batch: no per-batch artifact rewrite") {
    val corpus = Seq((1L, words("cw", 30), "base")).toDF("doc_id", "text", "source")
    val dir = s"${scratch("ingest_probe_writes")}/${System.nanoTime()}"
    Programs.ingestStoreInit(corpus, dir)
    val resolver = new Store.Resolver
    for (b <- 0L to 2L) {
      val before = files(dir)
      Programs.ingestBatchStep(Seq((100L + b, words(s"n${b}w", 12), "s"))
          .toDF("doc_id", "text", "source"), dir, b, quotaPerSource = 5L, maintainEvery = 4,
        resolver)
      val after = files(dir)
      val touched = ((after -- before) ++ (before -- after)).map(_._1)
      assert(touched.nonEmpty && touched.forall(_.startsWith(s"$dir/admitted/batch=$b/")),
        s"probe batch $b wrote outside its admitted batch: ${touched.toSeq.sorted}")
    }
    for (n <- Seq("bits", "band_index", "gram_index"))
      assert(Store.versions(dir, n).committed == Seq(0L), n)
  }

  test("ingest probe replay: a replayed probe batch reads the same gate-1 window and admits the same rows") {
    // Gate 1 probes bits_v<ver> plus the admitted batches ver ≤ b < batchId.
    // A probe batch replayed after its admitted write must not read its
    // own batch: it would refuse its own docs and overwrite them empty.
    val corpus = Seq((1L, words("cw", 30), "base")).toDF("doc_id", "text", "source")
    val dir = s"${scratch("ingest_probe_replay")}/${System.nanoTime()}"
    Programs.ingestStoreInit(corpus, dir)
    val Admitted = ".*/admitted/batch=(\\d+)/?".r
    def step(b: Long, rows: (Long, String, String)*): Set[Long] =
      jobsAndReads(Programs.ingestBatchStep(rows.toDF("doc_id", "text", "source"), dir, b,
          quotaPerSource = 5L, maintainEvery = 4))._2
        .flatMap(_.rootPaths.map(_.toString)).collect { case Admitted(w) => w.toLong }.toSet
    def admitted(b: Long) = spark.read.parquet(s"$dir/admitted/batch=$b")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (tA, tB) = (words("aw", 12), words("bw", 12))
    assert(step(0L, (100L, tA, "s")).isEmpty, "batch 0 has no window")
    // batch 1 re-delivers batch 0's stored text under a fresh id
    val first = step(1L, (200L, tA, "s"), (201L, tB, "s"))
    assert(first == Set(0L) && admitted(1L) == Set(201L),
      "gate 1 must refuse the re-delivery from the unfolded batch 0")
    val replay = step(1L, (200L, tA, "s"), (201L, tB, "s"))
    assert(replay == first, "the replay must read the same window")
    assert(admitted(1L) == Set(201L), "the replay must admit the same rows")
  }

  test("LM step job budget: a probe batch runs 1 job and a fold batch 2") {
    // One resolver across the direct step calls, as the stream holds one,
    // so each model version is collected once. A probe batch's one job is
    // its admitted write; the fold adds the model rewrite's one (its
    // window's emptiness comes from parquet footers, which runs no job);
    // batches 0 and 4 also collect the model version they are the first
    // to serve.
    val common = (1 to 20).map(_ => "the cat sat on the mat").mkString(" ")
    val corpus = (1L to 10L).map(i => (i, common, "en")).toDF("doc_id", "text", "lang")
    val dir = s"${scratch("lm_jobs")}/${System.nanoTime()}"
    Programs.lmStoreInit(corpus, dir)
    val resolver = new Store.Resolver
    val jobs = (0 to 4).map { b =>
      JobProbe(Programs.lmBatchStep(Seq((100L + b, s"$common zebra$b zebra", "en"))
          .toDF("doc_id", "text", "lang"), dir, b.toLong, keepBelowMb = Long.MaxValue,
        maintainEvery = 4, refLang = "en", resolver)).starts.size
    }
    assert(jobs == Seq(2, 1, 1, 2, 2),
      "jobs per batch (batch 3 folds; batches 0 and 4 collect a model version)")
    assert(Store.versions(dir, "lm_model").committed == Seq(0L, 4L))
    assert(spark.read.parquet(s"$dir/admitted").count() == 5)
  }

  test("LM store crash leftovers: a markerless version is replaced at commit, never read, and dropped by retention") {
    val common = (1 to 20).map(_ => "the cat sat on the mat").mkString(" ")
    val corpus = (1L to 10L).map(i => (i, common, "en")).toDF("doc_id", "text", "lang")
    val batches = (0 until 4).map(i => Seq((100L + i, s"$common zebra$i zebra", "en")))
    def run(dir: String)(plant: Long => Unit): Unit = {
      Programs.lmStoreInit(corpus, dir)
      for ((rows, id) <- batches.zipWithIndex) {
        plant(id.toLong)
        Programs.lmBatchStep(rows.toDF("doc_id", "text", "lang"), dir, id.toLong,
          keepBelowMb = Long.MaxValue, maintainEvery = 2, refLang = "en")
      }
    }
    val clean = s"${scratch("lm_crash")}/${System.nanoTime()}"
    val dir = s"${clean}_planted"
    run(clean)(_ => ())
    run(dir) {
      case 1L =>
        plantCrashed(s"$dir/lm_model_v2")
        // a complete model of other text at a version batch 1 would read
        // if markers were not the rule
        graft.operators.TextAnalysis.trigramModel(
            Seq((1L, "xyzzy plugh", "en")).toDF("doc_id", "text", "lang"))
          .write.parquet(s"$dir/lm_model_v1")
      case 3L => plantCrashed(s"$dir/lm_model_v4")
      case _ =>
    }
    for (n <- Seq("lm_model_v2", "lm_model_v4")) {
      assert(Fs.exists(s"$dir/$n/${Store.Marker}"), s"$n must be committed")
      assert(rowsAt(s"$dir/$n") == rowsAt(s"$clean/$n"), s"$n must equal the unplanted run")
    }
    assert(rowsAt(s"$dir/admitted") == rowsAt(s"$clean/admitted"),
      "the uncommitted lm_model_v1 must never be read")
    assert(!Fs.exists(s"$dir/lm_model_v1"),
      "retention must drop an uncommitted version below the two it keeps")
  }

  test("phrase store crash leftovers: a markerless segment or base is replaced at commit and never read") {
    import graft.operators.TextIndex
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "beta alpha")).toDF("doc_id", "text")
    val batches = Seq(Seq((10L, "alpha beta alpha")), Seq((11L, "gg alpha beta")))
    def run(dir: String)(plant: Long => Unit): Unit = {
      Programs.phraseStoreInit(corpus, dir, buckets = 16)
      for ((rows, id) <- batches.zipWithIndex) {
        plant(id.toLong)
        Programs.phraseBatchStep(rows.toDF("doc_id", "text"), dir, id.toLong, compactEvery = 2)
      }
    }
    // the operator's own marker does not commit a store version
    def plantIndexCrashed(path: String): Unit = {
      plantCrashed(path)
      Fs.writeString(s"$path/_GRAFT_DONE", "buckets=16\n")
    }
    val clean = s"${scratch("phrase_crash")}/${System.nanoTime()}"
    val dir = s"${clean}_planted"
    run(clean)(_ => ())
    run(dir) {
      case 0L => plantIndexCrashed(s"$dir/seg_v0")
      case _ =>
        plantIndexCrashed(s"$dir/seg_v1")
        plantIndexCrashed(s"$dir/base_v2")
        // a complete index of other docs at a version batch 1 would read
        // (and fold) if markers were not the rule
        TextIndex.writePositionalIndex(TextIndex.buildPositionalPostings(
            Seq((99L, "alpha beta stale")).toDF("doc_id", "text"), "doc_id", "text"),
          s"$dir/base_v1", 16)
    }
    for (n <- Seq("seg_v0", "seg_v1", "base_v2")) {
      assert(Fs.exists(s"$dir/$n/${Store.Marker}"), s"$n must be committed")
      assert(rowsAt(s"$dir/$n") == rowsAt(s"$clean/$n"), s"$n must equal the unplanted run")
    }
    assert(rowsOf(Programs.phraseStorePostings(spark, dir)._1) ==
      rowsOf(Programs.phraseStorePostings(spark, clean)._1),
      "the uncommitted base_v1 must never be read")
  }
}
