package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming twins of the reference's DataStream pipelines.
  * Each job is a pure DataFrame→DataFrame transform, so it runs
  * identically over `readStream` sources and over batch frames (the
  * batch/streaming unification the reference lacks — Flink's DataStream
  * and Table programs are separate codebases).
  *
  * State size at scale is bounded by the watermark in every job: windows
  * close and state evicts once event time passes window end + delay.
  */
object StreamingJobs {

  /** Keyed tumbling-window aggregate with watermark — the streaming twin
    * of the reference's flagship pipeline
    * (commit-analytics FlinkCommitProgram.java:74-88:
    * keyBy(component) → timeWindow(1h) → aggregate(sum linesChanged)).
    * Spark's partial aggregation plays the reference's
    * ComponentChangedAggeragator pre-aggregator role. */
  def tumbleAgg(events: DataFrame, windowDur: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(
        sum(floor(col("value")).cast("long")).as("lines_changed"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("lines_changed"), col("n_events"))

  /** Streaming session windows (README "Emails with no Reply" shape):
    * gap-merged sessions per key, state evicted by watermark. */
  def sessionAgg(events: DataFrame, gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("user_id"), col("n_events"))

  /** Streaming dedup: drop rows whose key was already seen within the
    * watermark horizon — bounded state, unlike a global dropDuplicates. */
  def dedupWithinWatermark(df: DataFrame, keyCol: String, watermarkDelay: String): DataFrame =
    df.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming attribution join — the stream-stream twin of the batch
    * temporal joins (operators.Joins): each left event pairs with the
    * right events of the same key inside a bounded lookback window
    * ([ts - lookback, ts]), left-outer so unmatched left rows still
    * emit once the watermark closes their join window.
    *
    * The BOUNDED lookback is not a convenience, it is the streaming
    * contract: an unbounded as-of would need every right row ever seen
    * as state. With watermarks on both inputs and a time-range
    * condition, Spark derives the state eviction horizon for both sides
    * — this is the canonical watermarked stream-stream join, and the
    * join itself executes as the SAME hash equi-join on the key that
    * the batch operators plan (the range predicate filters within key
    * groups). */
  def attributionJoin(left: DataFrame, right: DataFrame, key: String,
      lookback: String, watermarkDelay: String): DataFrame = {
    val l = left.select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
      .withWatermark("l_ts", watermarkDelay)
    val r = right.select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
      .withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") <= col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback"),
      "leftOuter")
      .select(col("l_id"), col("l_key").as(key), col("l_ts"),
        col("r_id"), col("r_ts"))
  }

  /** Streaming AS-OF join: [[attributionJoin]] chained into a windowed
    * per-left argmax, so each left event emits its single LATEST
    * in-lookback right event — the exact batch asOfJoin semantics
    * (bounded lookback aside), exercising Spark's chained-stateful
    * support (stream-stream time-interval join → event-time window
    * aggregation in one query). Ties on right ts break by greatest
    * right id, like the batch operator; unmatched left rows emit null.
    * Output rows finalize when the watermark passes their window. */
  def asOfJoinStream(left: DataFrame, right: DataFrame, key: String,
      lookback: String, watermarkDelay: String, windowDur: String): DataFrame =
    attributionJoin(left, right, key, lookback, watermarkDelay)
      // the window IS the group's event-time column; the raw l_ts must
      // ride as an aggregate (l_id is unique, so max(l_ts) is its own
      // l_ts) — grouping on both trips the one-event-time-column rule
      .groupBy(window(col("l_ts"), windowDur), col("l_id"), col(key))
      .agg(
        max(col("l_ts")).as("l_ts"),
        max_by(col("r_id"), struct(col("r_ts"), col("r_id"))).as("asof_id"),
        max(col("r_ts")).as("asof_ts"))
      .select(col("l_id"), col(key), col("l_ts"), col("asof_id"), col("asof_ts"))

  /** Streaming heavy-hitter CANDIDATES per event-time window — the
    * streaming twin of operators.Freq.heavyHitters' sketch pass.
    *
    * The same mergeable Misra-Gries Aggregator runs as the windowed
    * aggregate (wrapped via `udaf` so the state store holds the
    * k-counter buffer): state per open window is k counters, never the
    * item domain — the bound that makes frequent-items tractable on an
    * unbounded stream. Each closed window emits its ≤k surviving items
    * plus the window's total n; MG guarantees every item with count >
    * n/(k+1) is in that set, so the emission is a SUPERSET of the true
    * heavy hitters at any threshold above the bound. The second (exact
    * verify) pass of the batch operator needs a rescan by definition —
    * in a streaming deployment it runs as the batch `heavyHitters` over
    * the landed window's data, with the streamed candidates as the
    * alerting/pre-filter signal. */
  def heavyHittersStream(items: DataFrame, windowDur: String,
      watermarkDelay: String, k: Int): DataFrame = {
    val mg = udaf(new graft.operators.Freq.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    items
      .filter(col("item").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur))
      .agg(mg(col("item")).as("cands"), count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"),
        explode(col("cands")).as("item"), col("n"))
  }

  /** Streaming Count-Min cells per event-time window — the streaming
    * twin of [[graft.operators.Freq.cmsSketch]] (the shared
    * `Freq.cmsBuckets` hashing means the two can never drift apart).
    *
    * State per open window is bounded by depth×width cells REGARDLESS
    * of item cardinality — the property that makes per-window frequency
    * estimation tractable on an unbounded stream (a plain per-item
    * count's state is the item domain). Each closed window emits its
    * cell table; CMS merge is cell-wise SUM, so a consumer aggregates
    * emitted cells over any horizon of windows and probes the result
    * with `Freq.cmsEstimate` — asserted ≡ the batch sketch of the same
    * rows in StreamingSpec. */
  def cmsSketchStream(items: DataFrame, windowDur: String,
      watermarkDelay: String, depth: Int, width: Int): DataFrame =
    items
      .filter(col("item").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"),
        posexplode(graft.operators.Freq.cmsBuckets(col("item").cast("string"),
          depth, width)).as(Seq("j", "bucket")))
      .groupBy(window(col("ts"), windowDur), col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("j"), col("bucket"), col("cnt"))

  /** Streaming HyperLogLog registers per event-time window — the
    * streaming twin of [[graft.operators.Freq.hllDistinctByGroup]]'s
    * register build (the shared `Freq.hllFields` bucket/rho arithmetic
    * means the two can never hash apart).
    *
    * State per open window is bounded by m = 2^p registers REGARDLESS
    * of item cardinality — the property that makes per-window distinct
    * counting tractable on an unbounded stream (a streaming
    * `approx_count_distinct`-by-key would still key state by window
    * only, but this register table is also MERGEABLE across windows:
    * HLL merge is register-wise MAX, so a consumer folds any horizon of
    * emitted (w_start, bucket, r) rows with max() and finishes with the
    * same integer denominator + constant division the batch fold
    * performs — asserted ≡ the batch registers in StreamingSpec). */
  def hllRegistersStream(items: DataFrame, windowDur: String,
      watermarkDelay: String, p: Int): DataFrame = {
    val (bucket, rho) = graft.operators.Freq.hllFields(col("item").cast("string"), p)
    items
      .filter(col("item").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(window(col("ts"), windowDur), col("bucket"))
      .agg(max(col("rho")).as("r"))
      .select(col("window.start").as("w_start"), col("bucket"), col("r"))
  }

  /** Streaming incremental ingest dedup — the streaming twin of
    * `Dedup.probeBandIndex`: every arriving doc probes the STANDING
    * corpus's persisted band index in-flight and emits its collisions
    * (doc_id, dup_of = smallest matching corpus doc, n_dups) per closed
    * window; non-colliding docs are admitted by the caller's anti-join
    * downstream, exactly as in batch.
    *
    * The piece that makes this streamable is the per-ROW scalar
    * signature (`Similarity.minhashFromHashes`): the batch
    * formulation's per-doc groupBy would be a stateful streaming
    * aggregation, but the signature is a pure function of the row, so
    * here it is a zero-state projection. The index joins STREAM-STATIC
    * (no watermark needed on the static side; capped buckets filtered
    * before the join bound any boilerplate bucket's fan-out), and the
    * only stateful operator is the closing window aggregate whose state
    * is one (min, set-of-matches) per colliding doc per open window —
    * `collect_set` because streaming aggregates cannot plan DISTINCT,
    * with |set| ≤ bands × maxBucket by the cap.
    *
    * Band-key semantics are pinned to the batch operator by
    * StreamingSpec: this transform run over a batch frame must equal
    * `probeBandIndex` row-for-row. */
  /** Streaming Bloom NOVELTY filter — the membership-sketch face of
    * ingest dedup: every arriving doc probes the STANDING corpus's bit
    * table ([[graft.operators.Freq.bloomBuild]], built once and
    * persisted beside the corpus) and only probable-novel docs pass.
    *
    * COMPLETELY STATELESS, which is the point: the bit table is a
    * static broadcast side and the probe is row-local arithmetic + k
    * broadcast joins, so the streaming query has ZERO stateful
    * operators (asserted in StreamingSpec) — where `dropDuplicates`
    * grows keyed state forever and even the watermarked variant holds
    * a horizon's worth. The verdict is one-sided like the batch
    * contract: a doc already in the corpus is NEVER emitted (no false
    * negatives), a genuinely novel doc may be dropped at the
    * false-positive rate — the right trade when the exact path
    * ([[incrementalDedupStream]]) confirms survivors downstream. */
  def bloomNovelStream(docs: DataFrame, bits: DataFrame, k: Int, width: Int): DataFrame =
    graft.operators.Freq.bloomProbe(bits, docs, k, width)
      .filter(!col("maybe_member"))
      .drop("n_hits", "maybe_member")

  def incrementalDedupStream(docs: DataFrame, index: DataFrame, k: Int,
      perms: Int, bands: Int, watermarkDelay: String, windowDur: String,
      maxBucket: Int = 10000): DataFrame = {
    require(perms % bands == 0, s"perms ($perms) must be a multiple of bands ($bands)")
    graft.operators.Dedup.requireBandGeometry(index, k, perms, bands, "incrementalDedupStream")
    val rows = perms / bands
    // watermark at the SOURCE, not post-join: every arriving doc
    // advances the event clock, so windows close even when a batch has
    // no collisions (an inner-joined watermark would stall on quiet
    // batches) and short docs dropped by the k-word filter still count.
    // Signature = the compiled one-pass expression (r14,
    // plans/MinhashSigExpr.scala) — value-identical to the HOF chain it
    // replaces (asserted), minus the interpreted per-shingle lambdas
    val banded = docs
      .withWatermark("ts", watermarkDelay)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), col("ts"),
        call_function("graft_minhash_sig", col("w"), lit(k), lit(perms)).as("sig"))
      .select(col("doc_id"), col("ts"),
        posexplode(array((0 until bands).map(b =>
          md5(concat_ws("|", (0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1)): _*))): _*))
          .as(Seq("band", "bk")))
    banded
      .join(index.filter(col("bsz") <= maxBucket)
          .select(col("band"), col("bk"), col("doc_id").as("dup_of")),
        Seq("band", "bk"))
      .groupBy(window(col("ts"), windowDur), col("doc_id"))
      .agg(min(col("dup_of")).as("dup_of"),
        size(collect_set(col("dup_of"))).cast("long").as("n_dups"))
      .select(col("window.start").as("w_start"), col("doc_id"),
        col("dup_of"), col("n_dups"))
  }

  /** Streaming substring-dedup gate (r12) — the ingest face of
    * [[graft.operators.Dedup.probeGramIndex]], completing the
    * ingest-gate family (Bloom novelty, minhash band probe, and now the
    * exact gram probe): every arriving doc's overlapping-L-gram digests
    * probe the STANDING corpus's persisted gram index in-flight, and
    * any gram the corpus already carries is cut from the arriving doc —
    * clean text, removed-word count and maximal-run count identical to
    * the batch probe (asserted row-for-row in StreamingSpec).
    *
    * Shape: the gram stream is a stateless projection (the codegen
    * rolling hash), the index joins STREAM-STATIC on the flat digest
    * lanes (bucketed-on-(h1,h2) in deployment — zero index-side
    * exchange, the batch probe's layout), and the only stateful
    * operator is the closing window aggregate. The doc's TEXT rides a
    * single sentinel row (pos = −1) unioned around the join instead of
    * through it — gram rows carry only (doc_id, ts, pos, 2×64-bit), so
    * boilerplate-heavy docs never amplify text over the wire — and the
    * flagged-start cut is the batch operator's own row-local fold
    * ([[graft.operators.Dedup.cutColumns]]), not a reimplementation. */
  def gramProbeStream(docs: DataFrame, index: DataFrame, spanWords: Int,
      watermarkDelay: String, windowDur: String, minDf: Long = 1L,
      carry: Seq[String] = Nil): DataFrame =
    gramProbeStreamReleasable(docs, index, spanWords, watermarkDelay,
      windowDur, minDf, carry)._1

  /** [[gramProbeStream]] plus the RELEASE handle for its lane-snapshot
    * cache (r16, the r15 ADVICE): the snapshot's lifetime is the
    * stream's, but the DataFrame API gives the transform no way to see
    * query termination — a long-lived driver that rebuilds the stream
    * per index refresh accretes MEMORY_AND_DISK entries unless it
    * releases the previous one. Call the handle after the query built
    * on the returned frame terminates (idempotent; blocking=false, so
    * it never stalls a restart). The plain [[gramProbeStream]] keeps
    * the one-stream-per-application contract where the cache dies with
    * the session. */
  def gramProbeStreamReleasable(docs: DataFrame, index: DataFrame,
      spanWords: Int, watermarkDelay: String, windowDur: String,
      minDf: Long = 1L, carry: Seq[String] = Nil): (DataFrame, () => Unit) = {
    graft.operators.Dedup.requireSpanWords(index, spanWords, "gramProbeStream")
    val wm = docs.withWatermark("ts", watermarkDelay)
    val words = wm.withColumn("w", split(col("text"), " "))
    val grams = words.filter(size(col("w")) >= spanWords)
      .select(col("doc_id"), col("ts"), posexplode(
        call_function("graft_gram_hashes", col("w"), lit(spanWords)))
        .as(Seq("pos", "h")))
      .select(col("doc_id"), col("ts"), col("pos"),
        col("h.h1").as("h1"), col("h.h2").as("h2"))
    // null placeholders typed from the INPUT schema (r14 ADVICE: a
    // hard-coded string cast made any non-string carry column fail at
    // unionByName with an opaque type-mismatch — the contract now
    // follows whatever type the caller's column actually has)
    val inType = wm.schema.fields.map(f => f.name -> f.dataType).toMap
    // the corpus-sized digest lanes are STATIC for the life of the
    // query — snapshot them into the cache PRE-PARTITIONED and
    // PRE-SORTED on the join keys (r15, the r14 band-key-set treatment
    // finished): a stream-static join re-executes the static side
    // every micro-batch, and without this the probe re-scanned,
    // re-SHUFFLED and re-SORTED the full lane set per batch — the
    // dominant share of the measured 2.4 s small-trigger floor. The
    // cached relation's HashPartitioning(h1, h2) + ordering satisfy
    // the pinned sort-merge join directly, so a batch now pays a
    // cached columnar scan on the corpus side and shuffles only its
    // own delta-sized gram stream (measured at sf1m: the 2-row flush
    // batch 2.4 → 0.9 s, full batches ~3.1 → ~1.4 s). The merge pin
    // is the batch probe's own rule (a post-filter lane count is a
    // planner guess; SMJ is the join that degrades to disk), and it
    // keeps the per-batch plan from re-broadcasting a corpus-sized
    // build. MEMORY_AND_DISK: lane sets that outgrow memory spill,
    // exactly the band-key-cache convention — including its lifetime:
    // the stream's, which is why the Releasable form returns an
    // unpersist handle for drivers that rebuild the stream per index
    // refresh (r15 ADVICE); one stream per application — the probe
    // and deployment shape — never needs it.
    val lanes = index.filter(col("df") >= minDf)
      .select(col("h1"), col("h2"))
      .repartition(col("h1"), col("h2"))
      .sortWithinPartitions(col("h1"), col("h2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hits = grams
      .join(lanes.hint("merge"), Seq("h1", "h2"))
      .select(col("doc_id") +: col("ts") +: col("pos") +:
        lit(null).cast(inType("text")).as("text") +:
        carry.map(c => lit(null).cast(inType(c)).as(c)): _*)
    // one sentinel row per doc carries the text — and any `carry`
    // STRING columns the caller needs downstream (r13: the composed
    // ingest pipeline rides `source` through to its quota stage) —
    // keeping zero-hit and short docs in the output (the
    // every-doc-comes-back contract)
    val carrier = wm.select(col("doc_id") +: col("ts") +:
      lit(-1).as("pos") +: col("text") +: carry.map(col): _*)
    val agg = hits.unionByName(carrier)
      .groupBy(window(col("ts"), windowDur), col("doc_id"))
      .agg(sort_array(collect_list(when(col("pos") >= 0, col("pos")))).as("rm"),
        first(col("text"), ignoreNulls = true).as("text") +:
          carry.map(c => first(col(c), ignoreNulls = true).as(c)): _*)
      .select(col("window.start").as("w_start") +: col("doc_id") +:
        col("rm") +: col("text") +: carry.map(col): _*)
    val out = graft.operators.Dedup.cutColumns(
        agg.withColumn("w", split(col("text"), " ")), spanWords)
      .select(col("w_start") +: col("doc_id") +: col("clean_text") +:
        col("n_removed") +: col("n_spans") +: carry.map(col): _*)
    (out, () => { lanes.unpersist(blocking = false); () })
  }

  /** STREAMING 4-gate ingest admission (r13) — the composed ONLINE
    * form of [[graft.Programs.admissionCut]]: every arriving doc runs
    * the whole admission ladder in ONE streaming query, under the batch
    * cut's own geometry ([[graft.Programs.Admission]]) — the stream
    * equals the cut row for row, so it can use no other.
    *
    *   gate 1 — Bloom novelty (the batch cut's own gate 1,
    *   [[graft.Programs.Admission.bloomNovel]]): stateless broadcast probe.
    *   gate 2 — minhash band anti-probe: the doc's band keys
    *   are row-local columns (the 44d scalar-signature projection) and
    *   the capped index anti-joins STREAM-STATIC once per band — LEFT
    *   ANTI is stateless against a static side, so the whole gate adds
    *   zero state where the 44d collision REPORT needs a window agg
    *   (here only survival matters, and anti-join semantics ARE the
    *   batch predicate: drop iff any uncapped bucket is shared).
    *   gate 3 — the substring gram cut ([[gramProbeStream]], `source`
    *   carried on the sentinel row): its closing window aggregate is
    *   the query's ONLY stateful operator (asserted in StreamingSpec).
    *
    * Gate 4 — the per-source quota — deliberately does NOT compose into
    * this query: an online quota is a flatMapGroupsWithState
    * ([[StatefulSessions.quotaFirstN]], 44g), and chaining it after a
    * windowed aggregate is outside Spark's supported multi-stateful
    * combinations; a deployment chains it as the next query stage over
    * this one's sink, which is also where the batch/stream quota
    * asymmetry (md5-ordered sample vs first-arrivals) is documented.
    * Emits (w_start, doc_id, source, text = cut text, n_removed,
    * n_spans) for admitted docs; a doc that was all standing content
    * drops here like in batch. */
  def ingestGateStream(docs: DataFrame, bits: DataFrame, bandIndex: DataFrame,
      gramIndex: DataFrame, watermarkDelay: String, windowDur: String): DataFrame =
    ingestGateStreamReleasable(docs, bits, bandIndex, gramIndex, watermarkDelay,
      windowDur)._1

  /** [[ingestGateStream]] plus the release handle for ITS stream-static
    * caches — the per-band key sets and gate 3's lane snapshot (the
    * [[gramProbeStreamReleasable]] contract, applied to the composition
    * that persists one relation per band plus one per construction). */
  def ingestGateStreamReleasable(docs: DataFrame, bits: DataFrame,
      bandIndex: DataFrame, gramIndex: DataFrame, watermarkDelay: String,
      windowDur: String): (DataFrame, () => Unit) = {
    val A = graft.Programs.Admission
    val rows = A.Perms / A.Bands
    val fresh = A.bloomNovel(bits, docs)
    // gate 2: per-band key columns via the compiled one-pass signature
    // (r14, plans/MinhashSigExpr.scala — null for sub-k-word docs, and a
    // null key never matches an anti-join, so short docs survive,
    // matching the batch probe's size(w) >= k filter)
    val keyed = fresh.withColumn("_sig",
      call_function("graft_minhash_sig", split(col("text"), " "),
        lit(A.ShingleK), lit(A.Perms)))
    val withKeys = (0 until A.Bands).foldLeft(keyed) { (df, b) =>
      df.withColumn(s"_bk$b", when(col("_sig").isNotNull,
        md5(concat_ws("|", (0 until rows).map(r =>
          element_at(col("_sig"), b * rows + r + 1)): _*))))
    }
    val capped = bandIndex.filter(col("bsz") <= A.MaxBucket)
    // the per-band distinct key sets are STATIC — cache them so each
    // micro-batch's anti-joins read materialized sets instead of
    // re-aggregating the full corpus index once per band per batch
    // (r14, measured at sf1m: the uncached form re-ran 4 index-wide
    // distincts every 625-doc batch and dominated the gate cost; the
    // cache is the canonical stream-static-side treatment, spills to
    // disk if the key sets outgrow memory)
    val keySets = (0 until A.Bands).map(b =>
      capped.filter(col("band") === b)
        .select(col("bk").as(s"_bk$b")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val novel = (0 until A.Bands).foldLeft(withKeys) { (df, b) =>
      df.join(keySets(b), Seq(s"_bk$b"), "left_anti")
    }.drop("_sig" +: (0 until A.Bands).map(b => s"_bk$b"): _*)
    val (cut, releaseLanes) = gramProbeStreamReleasable(novel, gramIndex,
      A.SpanWords, watermarkDelay, windowDur, carry = Seq("source"))
    val out = cut
      .withColumn("text", col("clean_text"))
      .drop("clean_text")
      .filter(length(col("text")) > 0)
    (out, () => {
      keySets.foreach(_.unpersist(blocking = false)); releaseLanes()
    })
  }

  /** Streaming trigram-LM QUALITY gate — the online face of
    * [[graft.operators.TextAnalysis.trigramSurprisal]]: every arriving
    * doc scores against the STANDING corpus's trigram model (trained
    * once by `TextAnalysis.trigramModel`, persisted beside the corpus,
    * loaded and embedded at job start — the BPE served-model
    * precedent) and only docs under the surprisal threshold pass.
    *
    * COMPLETELY STATELESS, which is the point: the batch scorer's
    * explode → join → per-doc aggregate would make the re-aggregation
    * this query's only stateful operator, with doc_id state that never
    * expires; the compiled [[graft.plans.LmStats]] table scores each
    * row in isolation (one n-gram walk + binary searches inside
    * whole-stage codegen), so the gate runs at scan speed with ZERO
    * stateful operators (asserted in StreamingSpec) and its verdicts
    * equal the batch operator's row-for-row on the same model. */
  def surprisalGateStream(docs: DataFrame, keys: Array[Long],
      cnts: Array[Long], tot: Long, v: Long,
      keepBelowMb: Long = 7340L): DataFrame =
    graft.operators.TextAnalysis
      .surprisalServed(docs, keys, cnts, tot, v, keepBelowMb)
      .filter(col("keep"))

  /** Streaming twin of the curation pipeline (QueriesLlm.pipelinePrep):
    * language-ID and the quality gate run as STATELESS projections at
    * ingest rate; dedup keys on the normalized-content fingerprint with
    * watermark-bounded state (an unbounded seen-set cannot exist in a
    * stream — the horizon is the streaming contract for "duplicate");
    * the per-(window, language) token budget then aggregates the
    * survivors. Input needs `ts` (event time), `doc_id`, `text`. */
  def curationPipeline(docs: DataFrame, windowDur: String,
      watermarkDelay: String): DataFrame = {
    val langed = graft.operators.TextAnalysis.langId(docs)
    val kept = graft.operators.TextAnalysis.quality(langed).filter(col("keep"))
    val deduped = kept
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
    graft.operators.TextAnalysis.tokenCounts(deduped)
      .groupBy(window(col("ts"), windowDur), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_total"),
        sum(col("bpe_tokens")).as("bpe_total"))
      .select(col("window.start").as("w_start"), col("pred_lang"),
        col("n_docs"), col("ws_total"), col("bpe_total"))
  }
}
