package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Deduplication operators for a large-scale text corpus.
  *
  * Scale posture (100 TB): every shuffle below keys on a fixed-width
  * digest / bucket hash, never on raw text; candidate generation is
  * always an equi-grouping on a bucket key (inverted index, LSH band,
  * SimHash chunk) so no plan ever contains a cartesian/all-pairs join.
  * Hot buckets are bounded by an explicit document-frequency guard.
  *
  * LOW-EXCHANGE, CODEGEN-HOT LSH: each approximate pipeline plans at
  * most TWO shuffles, and the minhash family exactly ONE — signatures
  * are a compiled scalar projection (r14, plans/MinhashSigExpr.scala;
  * simhash keeps its tiny per-doc vote aggregation), leaving only the
  * bucket shuffle whose hash partitioning is SHARED by the bucket-size
  * window and the bucket group-by (EnsureRequirements inserts nothing
  * between them). Every
  * bucket member carries its band keys as plain STRUCT FIELDS, so pair
  * emission, band-agreement counting, and the exact similarity verify
  * are scalar codegen'd expressions (string equality, boolean chains,
  * the native `graft_cosine`) — no higher-order functions anywhere the
  * n² candidate stream flows, because HOFs are CodegenFallback and cost
  * microseconds per row where the pair path must spend nanoseconds
  * (measured: an interpreted per-pair match vector turned a 34M-pair
  * corpus from ~12 s into ~290 s). The candidate stream itself never
  * crosses the network: pairs are emitted distinct-by-construction
  * inside the bucket's task ([[firstMatchCols]]).
  */
object Dedup {

  /** Exact dedup by content digest. One shuffle on the 128-bit digest.
    * Returns one row per distinct content: (digest, survivor =
    * min doc_id, n_copies). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n_copies"))

  /** Sub-document (span-level) dedup — the RefinedWeb/CCNet "line
    * dedup" pass, over fixed word-count spans since this corpus carries
    * no newlines: a doc splits into consecutive `spanWords`-word spans,
    * any span whose exact text appears in more than `maxDf` distinct
    * docs (boilerplate, quoted chain mail, license headers) is removed,
    * and each doc reassembles from its surviving spans in order.
    * Returns (doc_id, clean_text, n_removed) for EVERY input doc (a doc
    * whose spans are all boilerplate comes back with empty text — the
    * caller decides whether to drop it).
    *
    * Scale shape: SPAN TEXT NEVER CROSSES THE NETWORK. Span construction
    * is per-row array slicing at scan speed (HOFs allowed here — per-
    * ROW, not per-pair); the df count and the mark join shuffle only
    * (doc_id, pos, 16-byte digest) rows; the removed-position lists
    * (ints, only for docs that HAVE boilerplate) come back to the
    * original doc row by a doc_id join that AQE broadcasts when the
    * boilerplate fraction is small; and reassembly is a row-local slice
    * of the doc's own word array — no collect_list of carried text.
    * Within-doc repeats of a span count as ONE doc toward df, so a
    * doc-internal refrain is not self-boilerplate (both copies share the
    * digest, and a boilerplate digest removes every occurrence — same
    * rule in the oracle). */
  def spanDedup(docs: DataFrame, spanWords: Int, maxDf: Long = 1L): DataFrame = {
    val nSpans = floor((size(col("w")) + lit(spanWords - 1)) / lit(spanWords)).cast("int")
    val words = docs.withColumn("w", split(col("text"), " "))
    // digest-only span stream: (doc_id, pos, h)
    val spansH = words
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), nSpans - 1),
        j => md5(array_join(slice(col("w"), j * spanWords + 1, lit(spanWords)), " "))))
        .as(Seq("pos", "h")))
    val boiler = spansH.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf)
      .select(col("h"))
    // per-doc removed-position lists — only docs with boilerplate emit one
    val removed = spansH.join(boiler, "h")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("rm"))
    // every input column survives, plus clean_text / n_removed — so the
    // operator composes as a pipeline stage, not just a report
    words.join(removed, Seq("doc_id"), "left")
      // outer coalesce: a NULL input text would otherwise propagate NULL
      // through split/transform/reassembly — the "every doc comes back"
      // contract means it comes back as "", same as an all-boilerplate doc
      .withColumn("clean_text",
        coalesce(array_join(flatten(filter(
          transform(sequence(lit(0), nSpans - 1),
            j => slice(col("w"), j * spanWords + 1, lit(spanWords))),
          (seg, j) => col("rm").isNull || !array_contains(col("rm"), j))), " "),
          lit("")))
      .withColumn("n_removed", coalesce(size(col("rm")), lit(0)).cast("long"))
      .drop("w", "rm")
  }

  /** EXACT SUBSTRING dedup over OVERLAPPING word grams (r11) — the
    * "deduplicate training data at the substring level" pass: any
    * `spanWords`-word sequence appearing in more than `maxDf` distinct
    * docs is cut from every doc carrying it, wherever it starts.
    * [[spanDedup]]'s fixed non-overlapping spans miss duplicates that
    * straddle a span boundary or sit at different offsets in different
    * docs (the common case: a quoted paragraph rarely starts at the
    * same word index twice); overlapping grams catch every aligned-or-
    * not occurrence, and maximal runs of flagged grams merge so a
    * 50-word shared passage is removed whole, not as confetti. Returns
    * every input doc with (clean_text, n_removed = covered word count,
    * n_spans = maximal removed runs).
    *
    * Scale shape: gram TEXT never crosses the network — digests come
    * from ONE rolling pass per doc (`graft_gram_hashes`,
    * plans/GramHashes.scala: per-word hashing once + an O(1) roll per
    * window, instead of re-materializing and re-hashing every L-word
    * string — measured 30-36% at sf0.1/sf10 and 62 → 54 s at sf30,
    * where the replicated bench corpus makes every gram duplicated and
    * shuffle dominates), and the df count and mark join shuffle (doc_id, pos,
    * 2×64-bit digest) rows; the gram stream is `words − L + 1` rows per
    * doc (≈ L× spanDedup's row count, the price of offset-independence
    * — still linear in corpus size). Flagged START
    * positions come back per doc as one sorted int array (doc-bounded,
    * and only for docs that have duplication); covered-position
    * accounting is a LINEAR row-local fold over that array (runs and
    * counts from one pass — no covered-position explosion), and
    * reassembly filters the doc's own word array in place. The
    * per-word coverage test is `exists` over the flagged starts
    * (worst case words × starts for a pathologically self-similar doc;
    * at that point the doc is mostly boilerplate and the right fix is
    * upstream whole-doc dedup). Within-doc repeats count as ONE doc
    * toward df — a doc-internal refrain is not self-boilerplate. */
  def substringDedup(docs: DataFrame, spanWords: Int, maxDf: Long = 1L): DataFrame = {
    val words = docs.withColumn("w", split(col("text"), " "))
    val gramsH = gramStream(words, spanWords)
    val dup = gramsH.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf)
      .select(col("h1"), col("h2"))
    val flagged = gramsH.join(dup, Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("rm"))
    cutFlagged(words, flagged, spanWords)
  }

  /** Build the substring-gram INDEX over a standing corpus: one row per
    * DISTINCT overlapping-L-gram digest, with its corpus document
    * frequency. The incremental-ingest posture of [[substringDedup]],
    * mirroring [[minhashBandIndex]]: the full cross-doc pass runs ONCE,
    * the distinct-digest table persists (parquet, bucketed on `h` via
    * `Sinks.saveBucketed` in deployment), and every arriving batch
    * probes it at delta cost instead of re-streaming the corpus grams.
    * The index is append-able: an admitted batch's gram digests (already
    * computed by the probe's subtree) union in. */
  def gramIndex(corpus: DataFrame, spanWords: Int): DataFrame =
    gramStream(corpus.withColumn("w", split(col("text"), " ")), spanWords)
      .groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .select(col("h1").as("h1", spanWordsMeta(spanWords)), col("h2"), col("df"))

  /** The build-time span width rides the index schema as metadata on
    * `h1` ([[Geometry]]), so a probe at a DIFFERENT width — whose digests
    * would silently never match and cut nothing — fails loudly instead. */
  private def spanGeometry(spanWords: Int) = Seq("graft.span_words" -> spanWords.toLong)

  private def spanWordsMeta(spanWords: Int) = Geometry.meta(spanGeometry(spanWords))

  private[graft] def requireSpanWords(index: DataFrame, spanWords: Int, op: String): Unit =
    Geometry.check(index, "h1", spanGeometry(spanWords), op, "gram index")

  /** APPEND an admitted batch into a standing gram index (r13 — the
    * maintenance half of the ingest lifecycle the index docs promise):
    * returns the index of `corpus ∪ admitted`, PROVIDED the two doc-id
    * sets are disjoint (the admission pipeline guarantees it — gate 1
    * refuses every standing doc). Exact equivalence
    * `gramIndexAppend(gramIndex(c), b) ≡ gramIndex(c ∪ b)` is
    * property-tested, not assumed.
    *
    * Scale shape: a FULL OUTER JOIN on the digest lanes, not a
    * union+re-aggregate — the union form re-shuffles the whole
    * corpus-sized index every nightly batch, while the join reads a
    * bucketed-on-(h1,h2) index side with ZERO exchange (the
    * probeGramIndex layout) and shuffles only the batch's own distinct
    * digests; df adds because the doc sets are disjoint (no gram can
    * count one doc twice). Writing the merged index back is the
    * unavoidable index-sized I/O of any compaction pass — the
    * Layout.compact posture, paid at maintenance cadence, never at
    * probe time. */
  def gramIndexAppend(index: DataFrame, admitted: DataFrame,
      spanWords: Int): DataFrame = {
    requireSpanWords(index, spanWords, "gramIndexAppend")
    index.withColumnRenamed("df", "df_old")
      .join(gramIndex(admitted, spanWords).withColumnRenamed("df", "df_new")
        .hint("merge"), Seq("h1", "h2"), "full")
      .select(col("h1").as("h1", spanWordsMeta(spanWords)), col("h2"),
        (coalesce(col("df_old"), lit(0L)) + coalesce(col("df_new"), lit(0L)))
          .as("df"))
  }

  /** Probe a gram index with a delta batch: any delta gram PRESENT in
    * the standing corpus (df ≥ `minDf`) is boilerplate relative to it
    * and is cut from the arriving doc — covered-position semantics and
    * accounting identical to [[substringDedup]]'s. One-sided by design
    * (the [[graft.operators.Freq.bloomProbe]] posture): delta-internal
    * duplication is NOT judged here — the standing corpus is the
    * authority, and delta-vs-delta dedup belongs to the batch pass that
    * admits the delta into the corpus.
    *
    * Scale shape: the corpus never re-streams — the index side of the
    * digest join arrives pre-partitioned when stored bucketed on `h`;
    * the delta gram stream, the join, and the flagged-start collect are
    * all delta-sized. */
  def probeGramIndex(delta: DataFrame, index: DataFrame, spanWords: Int,
      minDf: Long = 1L): DataFrame = {
    requireSpanWords(index, spanWords, "probeGramIndex")
    val words = delta.withColumn("w", split(col("text"), " "))
    // the index side is pinned SORT-MERGE, never broadcast: a standing
    // corpus's gram index is corpus-sized, and a post-aggregate table's
    // size is a planner guess (the prefixJaccardPairs rationale — the
    // static plan broadcast the full index here, paying a single-threaded
    // driver-side hashed-relation build; measured 6.6 → 1.8 s at sf0.1).
    // SMJ also reads a `Sinks.saveBucketed`-persisted index (bucketed +
    // sorted on (h1,h2)) with NO exchange on the index side — asserted
    // by LlmOpsSpec's round-trip test, the minhashBandIndex pattern
    val flagged = gramStream(words, spanWords)
      .join(index.filter(col("df") >= minDf).select(col("h1"), col("h2"))
        .hint("merge"), Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("rm"))
    cutFlagged(words, flagged, spanWords)
  }

  /** Incremental substring dedup, inline form: build the corpus gram
    * index and probe it with `delta` in one plan (the oracle-checked
    * shape; production persists the index once, probes many batches). */
  def incrementalSubstrings(corpus: DataFrame, delta: DataFrame,
      spanWords: Int, minDf: Long = 1L): DataFrame =
    probeGramIndex(delta, gramIndex(corpus, spanWords), spanWords, minDf)

  /** The digest-only overlapping-gram stream: (doc_id, start, h1, h2) —
    * (h1,h2) is the rolling 128-bit window digest, never gram text.
    * FLAT long lanes rather than one struct column (r12): a persisted
    * gram index buckets on plain columns, so the probe join's keys must
    * be the same flat lanes for the bucketed read to satisfy the join
    * distribution with zero index-side exchange. */
  private def gramStream(words: DataFrame, spanWords: Int): DataFrame =
    words
      .filter(size(col("w")) >= spanWords)
      .select(col("doc_id"), posexplode(
        call_function("graft_gram_hashes", col("w"), lit(spanWords)))
        .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos"),
        col("h.h1").as("h1"), col("h.h2").as("h2"))

  /** Shared tail of the substring-dedup family: join the per-doc sorted
    * flagged-start arrays back, then [[cutColumns]]. `words` must carry
    * `w` (the split word array) plus the original columns. */
  private def cutFlagged(words: DataFrame, flagged: DataFrame,
      spanWords: Int): DataFrame =
    cutColumns(words.join(flagged, Seq("doc_id"), "left"), spanWords)

  /** Row-local cut + accounting over a frame already carrying `w` (the
    * split word array) and `rm` (sorted flagged starts; null or empty ⇒
    * nothing flagged): cut covered words, account removed words /
    * maximal runs with one linear fold. Factored out of [[cutFlagged]]
    * (r12) so the STREAMING gram probe — whose aggregate emits (doc,
    * rm, text) in one row with no join to come back through — applies
    * the identical cut semantics. */
  private[graft] def cutColumns(joined: DataFrame, spanWords: Int): DataFrame = {
    val L = lit(spanWords)
    joined
      .withColumn("clean_text", coalesce(
        array_join(filter(col("w"), (wd, p) =>
          col("rm").isNull ||
            !exists(col("rm"), s => s <= p && p < s + L)), " "),
        lit("")))
      // one linear fold over the sorted starts: merged-run count and
      // covered word count together (starts are sorted and each gram
      // covers [s, s+L), so end is monotone: a new run starts iff
      // s > previous end, else the run extends by s + L − end)
      .withColumn("_acc", when(col("rm").isNotNull, aggregate(col("rm"),
        struct(lit(-1L).as("end"), lit(0L).as("cnt"), lit(0L).as("rmv")),
        (st, s) => struct(
          (s + L).cast("long").as("end"),
          when(s > st.getField("end"), st.getField("cnt") + 1L)
            .otherwise(st.getField("cnt")).as("cnt"),
          when(s > st.getField("end"), st.getField("rmv") + L.cast("long"))
            .otherwise(st.getField("rmv") + (s + L) - st.getField("end"))
            .as("rmv")))))
      .withColumn("n_removed", coalesce(col("_acc.rmv"), lit(0L)))
      .withColumn("n_spans", coalesce(col("_acc.cnt"), lit(0L)))
      .drop("w", "rm", "_acc")
  }

  /** (doc_id, shingle) pairs — distinct word-k-shingles, exploded. The
    * words array is materialized in its own projection first (see
    * Similarity.shinglesOfWords on why that boundary matters). */
  def shingled(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(Similarity.shinglesOfWords(col("w"), k)).as("s"))

  /** Ordered (a < b) element pairs within each bucket, as columns
    * `a`/`b` — the self-join-free inverted index. A self-join would
    * recompute the (expensive) bucket-derivation subtree once per side;
    * this shape scans it once, shuffles once on the bucket key, and emits
    * exactly the same pairs.
    *
    * TWO-LEVEL explosion: first each member (with its position), then
    * that member's partner slice `ids[i+1..]`. No intermediate row ever
    * holds more than one bucket's member list (O(n) per row), whereas a
    * single flatten-of-pairs would materialize all C(n,2) pair structs
    * inside ONE row before exploding — gigabytes in one task for a hot
    * 10k bucket. The C(n,2) output rows still stream through the
    * bucket's task, but as rows, never as one array. */
  private[operators] def explodePairs(buckets: DataFrame, idsCol: String,
      carry: Seq[String] = Nil): DataFrame =
    buckets
      .select(posexplode(col(idsCol)).as(Seq("i", "a")) +:
        col(idsCol).as("ids_") +: carry.map(col): _*)
      .select(col("a") +:
        explode(slice(col("ids_"), col("i") + lit(2), size(col("ids_")))).as("b") +:
        carry.map(col): _*)

  /** First-co-bucket emission filter over per-band match columns `ms`
    * (ms(j) ⟺ the two docs share band j's key): keep the pair row iff
    * the CURRENT bucket's band `idx` is the FIRST matching band. A plain
    * codegen'd boolean chain — `(idx=0 ∧ m0) ∨ (idx=1 ∧ ¬m0 ∧ m1) ∨ …` —
    * evaluated once per candidate pair. At most one bucket emits each
    * pair, so the pair stream is distinct BY CONSTRUCTION: the n²-sized
    * candidate set never needs a dedup/count shuffle.
    *
    * Cap semantics: if the first-colliding bucket was dropped by the
    * maxBucket guard, the pair is not emitted at all (later surviving
    * collisions decline it too). That is deliberate: a capped bucket is
    * a mass-duplicate cluster whose members belong to EXACT dedup, and
    * making emission depend only on the FIRST collision is what lets
    * the match columns be derived from carried per-doc keys with no
    * survival join-back (two more corpus-wide shuffles). The oracle
    * encodes the identical rule (HAVING arg_min(bsz, band) <= cap). */
  private def firstMatchCols(ms: Seq[Column], idx: Column): Column =
    ms.zipWithIndex.map { case (m, j) =>
      ms.take(j).foldLeft((idx === lit(j)) && m)((acc, prev) => acc && !prev)
    }.reduce(_ || _)

  /** Number of matching bands, as a codegen'd sum of 0/1 terms. */
  private def countMatches(ms: Seq[Column]): Column =
    ms.map(m => when(m, 1).otherwise(0)).reduce(_ + _).cast("long")

  /** Exact n-gram Jaccard near-dup pairs via an inverted index.
    *
    * Buckets key on the shingle (the classic set-similarity join, without
    * the self-join — see [[explodePairs]]); shingles in more than
    * `maxDf` documents are dropped (stop-shingle guard: bounds any
    * bucket's pair fan-out at maxDf², and a shingle in >maxDf docs
    * carries ~no similarity signal); pairs sharing fewer than `minCommon`
    * shingles are pruned before the Jaccard math.
    */
  def jaccardPairs(docs: DataFrame, k: Int, maxDf: Int, minCommon: Int,
      minJaccard: Double): DataFrame = {
    // The similarity universe is the df-FILTERED shingle sets: stop
    // -shingles (df > maxDf) are removed before BOTH the pair counts and
    // the per-doc sizes, so numerator and denominator are consistent
    // (Jaccard over the filtered sets — anything else under-reports
    // similarity of docs containing hot shingles).
    val buckets = shingled(docs, k)
      .groupBy(col("s"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= maxDf)
    val sizes = buckets
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nsh"))
    val common = explodePairs(buckets.filter(size(col("ids")) >= 2), "ids")
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    common
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("na.nsh") + col("nb.nsh") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[explodePairs]] with HOT-BUCKET REBALANCING: buckets of ≤
    * `blockSize` members take the in-task path unchanged, larger buckets
    * decompose into block PAIRS — consecutive `blockSize` slices of the
    * sorted member array, one row per (bi ≤ bj) block combination,
    * row-local slicing — which one hash exchange then SPREADS across the
    * cluster, so a 100k-member bucket's C(100k,2) ≈ 5×10⁹ pairs run as
    * ~C(100, 2) independent tasks instead of one straggler. The exchange
    * moves each member id ~nBlocks times (fixed-width ids, never
    * text/payload beyond what the caller put in the array).
    *
    * EVERY bucket takes the same path — a ≤-blockSize bucket is exactly
    * one (0, 0) block-pair row, so the small-bucket stream pays one
    * hash exchange of its already-aggregated rows and nothing else; a
    * filter-and-union split would instead recompute the (expensive)
    * bucket-derivation subtree once per branch.
    *
    * Pair semantics are IDENTICAL to [[explodePairs]] (property-tested
    * multiset equality): within a block, the two-level suffix explode;
    * across blocks, the full cross — ordered a < b for free because
    * blocks are consecutive slices of the ascending array. */
  private[operators] def explodePairsBalanced(buckets: DataFrame, idsCol: String,
      blockSize: Int, carry: Seq[String] = Nil,
      bucketKey: Option[String] = None): DataFrame = {
    require(blockSize >= 2, s"blockSize ($blockSize) must be >= 2")
    val nb = ceil(size(col(idsCol)).cast("double") / blockSize).cast("int")
    // thread the (narrow) bucket-key column alongside the carries so the
    // rebalancing exchange can hash IT instead of the member array
    val thread = (carry ++ bucketKey.filterNot(carry.contains)).map(col)
    val blocks = buckets
      .select(col(idsCol) +: nb.as("nb_") +: thread: _*)
      .select(col(idsCol) +: col("nb_") +:
        explode(sequence(lit(0), col("nb_") - 1)).as("bi") +: thread: _*)
      .select(col(idsCol) +: col("bi") +:
        explode(sequence(col("bi"), col("nb_") - 1)).as("bj") +: thread: _*)
      .select(slice(col(idsCol), col("bi") * blockSize + 1, lit(blockSize)).as("ids_i") +:
        slice(col(idsCol), col("bj") * blockSize + 1, lit(blockSize)).as("ids_j") +:
        (col("bi") === col("bj")).as("same_") +:
        col("bi").as("bi_") +: col("bj").as("bj_") +: thread: _*)
      // THE rebalancing exchange: block-pair rows hash-spread over the
      // cluster (any distribution is correct — each row is
      // self-contained). Key on the caller's narrow bucket key + block
      // coordinates when available: hashing the full member array per
      // block-pair row measured 5× slower at 1M buckets (sf10, 1024-wide
      // blocks) than hashing a 16-byte digest + two ints for the
      // identical distribution quality.
      .repartition((bucketKey match {
        case Some(k) => Seq(col(k), col("bi_"), col("bj_"))
        case None => Seq(col("ids_i"), col("bj_"))
      }): _*)
    blocks
      .select(posexplode(col("ids_i")).as(Seq("i", "a")) +: col("ids_i").as("ii_") +:
        col("ids_j").as("jj_") +: col("same_") +: carry.map(col): _*)
      .select(col("a") +:
        explode(when(col("same_"), slice(col("ii_"), col("i") + lit(2), size(col("ii_"))))
          .otherwise(col("jj_"))).as("b") +: carry.map(col): _*)
  }

  /** EXACT τ-Jaccard similarity join via PREFIX FILTERING (the
    * All-Pairs/PPJoin candidate rule) — the lossless complement of
    * [[jaccardPairs]]: that operator bounds hot buckets by REMOVING hot
    * shingles from the similarity universe (a semantic change), this one
    * keeps the full universe and bounds candidates with a theorem.
    * Tokens get a global rarity order (document frequency, md5 digest as
    * the total-order tie-break — 16-byte identity, the exact-dedup
    * standard); each doc's PREFIX is its `n − ⌈τ·n⌉ + 1` rarest tokens;
    * any pair with Jaccard ≥ τ shares ≥ ⌈τ·max(na,nb)⌉ tokens, so its
    * globally-rarest common token provably sits in BOTH prefixes — the
    * prefix inverted index misses nothing. Candidates are then length-
    * pruned (min·10⁶ ≥ τQ·max, integer — Jaccard ≤ min/max), deduped,
    * and verified by an exact common-token count. The τ threshold is a
    * scale-6 LONG (`minJaccardQ`) and every filter runs in integer
    * arithmetic, so the survivor set is bit-portable across engines; the
    * reported `jaccard` is one double division per surviving pair.
    *
    * Scale shape: prefixes key on RARE tokens by construction (a hot
    * token enters a prefix only when almost everything else in the doc
    * is hotter), and any residual hot bucket — a cluster of
    * near-identical docs — rebalances through [[explodePairsBalanced]]
    * instead of being dropped: exactness is the contract, so there is no
    * maxBucket cap here. The corpus token stream pays two shuffles (the
    * `h`-keyed df window and the per-doc rank window), the prefix tokens
    * alone a third (their `h` buckets), and everything after the
    * candidate dedup is candidate- or doc-sized: each candidate joins
    * its two docs' packed digest sets and one compiled merge counts the
    * common tokens. Still never n², and no row is ever per candidate ×
    * token. */
  def prefixJaccardPairs(docs: DataFrame, k: Int, minJaccardQ: Long,
      blockSize: Int = 1024): DataFrame = {
    require(minJaccardQ > 0 && minJaccardQ <= 1000000L,
      s"minJaccardQ ($minJaccardQ) must be a scale-6 Jaccard in (0, 1000000]")
    // Token digests come from the compiled one-pass shingler
    // (plans/ShingleMd5s.scala) and ride as 16-byte binary: unhex of the
    // lowercase hex md5 is injective and keeps its byte order, so the
    // (df, h) prefix ranking is the hex string's.
    val words = split(col("text"), " ")
    val toks = docs
      .select(col("doc_id"), explode(call_function("graft_shingle_md5s",
        words, lit(k))).as("hx"))
      .select(col("doc_id"), unhex(col("hx")).as("h"))
    val byDoc = Window.partitionBy(col("doc_id"))
    // df is a window on the h exchange, not an agg + join-back: no
    // vocabulary-sized table is ever built, broadcast or joined
    val ranked = toks
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("h"))))
      .withColumn("nsh", count(lit(1)).over(byDoc))
    // p = n − ⌈τ·n⌉ + 1, all integer: ⌈τQ·n / 10⁶⌉ via (x + 10⁶ − 1) div 10⁶
    val p = col("nsh") -
      floor((lit(minJaccardQ) * col("nsh") + lit(999999L)) / lit(1000000L)) + 1
    val buckets = ranked.filter(col("rk") <= p)
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("nsh")))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val cands = explodePairsBalanced(buckets, "ds", blockSize, bucketKey = Some("h"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .filter(least(col("na"), col("nb")) * lit(1000000L) >=
        lit(minJaccardQ) * greatest(col("na"), col("nb")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("na")).as("na"), first(col("nb")).as("nb"))
    // Verify: each doc's distinct digests, sorted and packed 16 bytes per
    // token (plans/DigestSets.scala), one row per doc (doc_id is the
    // documents key); one linear merge counts a candidate's common
    // tokens. A candidate row carries at most two blobs. Blobs, not
    // arrays: array_intersect over binary elements is quadratic, and
    // two hex-string arrays per candidate regressed the clique case 10×+
    // (r18, reverted). Measured on 4 cores against a verify that joined
    // every candidate to its tokens on (doc_b, h) and re-counted per
    // pair: the 40-clique × 30-doc × 100-word corpus of
    // PrefixJoinCliqueSpec (17,400 true pairs) writes 9.1 MB of shuffle
    // instead of 29.1 MB (steady wall 3.2 → 1.7 s); 2,000 sf0.1 docs run
    // 9 jobs instead of 12 and write 12.2 MB instead of 19.6 MB.
    //
    // The joins are pinned SORT-MERGE: the candidate table is a
    // post-aggregate relation whose size the planner must GUESS, and on
    // a mass-duplicate corpus (every doc in a large near-identical
    // clique) the true candidate count is quadratic in the clique size.
    // Measured at 500k docs in 100-cliques (25M candidates): the
    // planner's broadcast guess died building the exchange on the
    // driver, and a shuffled-hash build died too (SHJ's build side
    // cannot spill). SMJ is the one join here that degrades to disk
    // instead of dying when both sides are corpus-sized — exactness is
    // the operator's contract, so its worst case must spill, not OOM.
    val sets = docs.select(col("doc_id"),
      call_function("graft_shingle_digest_set", words, lit(k)).as("set"))
    cands
      .hint("merge")
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("set_b")).hint("merge"),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        call_function("graft_digest_set_common", col("set_a"), col("set_b")).as("n_common"))
      .filter(col("n_common") * lit(1000000L) >=
        lit(minJaccardQ) * (col("na") + col("nb") - col("n_common")))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
  }

  /** Benchmark decontamination: flag TRAINING docs sharing at least
    * `minCommon` distinct word-k-grams with ANY doc of the (small) eval
    * set — the overlap check every training-data pipeline runs before a
    * corpus ships. Returns (doc_id, n_overlap) for flagged train docs.
    *
    * Scale shape: the eval side is tiny by definition (benchmarks are
    * thousands of docs, the corpus is billions), so its distinct shingle
    * set BROADCASTS and the 100 TB train side pays one scan plus one
    * groupBy(doc_id) shuffle of its matching shingle rows only — no
    * shuffle of the corpus, no join of corpus against corpus. */
  def contaminated(train: DataFrame, eval: DataFrame, k: Int,
      minCommon: Int = 1): DataFrame = {
    val evalShingles = shingled(eval, k).select(col("s")).distinct()
    shingled(train, k)
      .join(broadcast(evalShingles), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minCommon)
  }

  /** Per-doc MinHash mins as `perms` COLUMNS m0..m{perms-1}, via the
    * compiled one-pass signature expression (r14,
    * plans/MinhashSigExpr.scala): one md5 per k-word window and `perms`
    * fused permute-and-min updates, all inside a single scalar
    * projection — ZERO shuffles where the previous explode+groupBy
    * formulation paid the signature aggregation exchange (its map-side
    * partial mins were the mitigation; the scalar pass removes the
    * exchange entirely). Values are identical to the explode+groupBy
    * AND the HOF-scalar forms (asserted in LlmOpsSpec — min is
    * duplicate-invariant, so the expression's skip of array_distinct
    * is sound); sub-k-word docs signature as null and are dropped,
    * matching the shingle filter the aggregate form applied. History:
    * r7 chose explode+groupBy because the HOF scalar form is
    * interpreted (~10× slower per shingle); the compiled expression
    * removes that trade — measured 2.3–4.4× on the streaming gates and
    * a shuffle fewer on every batch LSH pipeline. */
  private def minhashSigCols(docs: DataFrame, k: Int, perms: Int): DataFrame =
    docs
      .select(col("doc_id"), call_function("graft_minhash_sig",
        split(col("text"), " "), lit(k), lit(perms)).as("_sig"))
      .filter(col("_sig").isNotNull)
      .select(col("doc_id") +:
        (0 until perms).map(p => element_at(col("_sig"), p + 1).as(s"m$p")): _*)

  /** MinHash signatures: one row per doc, `perms` minhashes in
    * permutation order (see [[minhashSigCols]]; values identical to the
    * explode-per-permutation formulation, the oracle's shape). */
  def minhashSignatures(docs: DataFrame, k: Int, perms: Int): DataFrame =
    minhashSigCols(docs, k, perms)
      .select(col("doc_id"),
        array((0 until perms).map(p => col(s"m$p")): _*).as("sig"))

  /** LSH banding over MinHash signatures: `bands` bands of `perms/bands`
    * rows each; docs sharing any band bucket become a candidate pair.
    * Buckets key on (band, md5-of-band-slice) — fixed 16-byte keys, never
    * signatures or text.
    *
    * ONE SHUFFLE TOTAL (r14; was two): signatures are a compiled
    * scalar projection ([[minhashSigCols]]), so the only exchange left
    * is the (band, bk) bucket shuffle — which the bucket-size window
    * and the bucket group-by SHARE (same hash partitioning, no
    * exchange between them). Each member carries its
    * `bands` band keys as struct fields, so inside the bucket's task a
    * pair's band-agreement is `bands` codegen'd string equalities:
    * emission keys off the FIRST matching band ([[firstMatchCols]] —
    * each pair emitted at most once, no pair-level dedup shuffle), and
    * `n_bands` counts ALL agreeing bands (the similarity estimate does
    * not depend on the maxBucket performance guard). A capped
    * (> maxBucket) bucket is a mass-duplicate cluster: its pairs belong
    * to exact dedup and are dropped here, including pairs whose first
    * collision it is. */
  def minhashCandidates(docs: DataFrame, k: Int, perms: Int, bands: Int,
      maxBucket: Int = 10000): DataFrame = {
    require(perms % bands == 0, s"perms ($perms) must be a multiple of bands ($bands)")
    val rows = perms / bands
    val keyNames = (0 until bands).map(b => s"k$b")
    val keyed = minhashSigCols(docs, k, perms).select(
      col("doc_id") +: (0 until bands).map(b =>
        bandKeyCol(b, rows).as(s"k$b")): _*)
    val banded = keyed.select(
      col("doc_id") +: keyNames.map(col) :+
        posexplode(array(keyNames.map(col): _*)).as(Seq("band", "bk")): _*)
    // a bucket larger than maxBucket is a mass-duplicate cluster whose
    // n² pair fan-out belongs to EXACT dedup (same digest), not LSH —
    // drop it here to bound the explosion (oracle mirrors the cap);
    // size-1 buckets can't pair and don't survive either
    val surviving = banded
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("band"), col("bk"))))
      .filter(col("bsz").between(2, maxBucket))
    val buckets = surviving
      .groupBy(col("band"), col("bk"))
      .agg(sort_array(collect_list(
        struct(col("doc_id") +: keyNames.map(col): _*))).as("ds"))
    val ms = keyNames.map(k => col("a").getField(k) === col("b").getField(k))
    explodePairs(buckets, "ds", carry = Seq("band"))
      .filter(firstMatchCols(ms, col("band")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        countMatches(ms).as("n_bands"))
  }

  /** Band `b`'s LSH key — md5 over that band's `rows` signature slice,
    * '|'-joined. The ONE definition both the pairwise pipeline and the
    * incremental index derive keys from, so a delta probe can never
    * disagree with a full-corpus run on what "same bucket" means. */
  private def bandKeyCol(b: Int, rows: Int): Column =
    md5(concat_ws("|", (0 until rows).map(r => col(s"m${b * rows + r}")): _*))

  /** Per-doc banded LSH keys, exploded: (doc_id, band, bk). */
  private def minhashBandKeys(docs: DataFrame, k: Int, perms: Int,
      bands: Int): DataFrame = {
    require(perms % bands == 0, s"perms ($perms) must be a multiple of bands ($bands)")
    val rows = perms / bands
    minhashSigCols(docs, k, perms).select(col("doc_id"),
      posexplode(array((0 until bands).map(bandKeyCol(_, rows)): _*))
        .as(Seq("band", "bk")))
  }

  /** Build the minhash band INDEX over an already-deduped corpus:
    * (band, bk, doc_id, bsz), one row per (doc, band). `bsz` — the
    * bucket's corpus population — is precomputed HERE, at build time,
    * so every later probe filters mass-duplicate buckets without
    * re-counting the corpus.
    *
    * This is the incremental-ingest posture for a 100 TB corpus: the
    * full pairwise LSH ([[minhashCandidates]]) runs ONCE, its survivors'
    * index persists (parquet, bucketed on the band key — see
    * `Sinks.saveBucketed`), and every arriving batch probes the index at
    * delta cost instead of re-shuffling the corpus. The index is
    * append-able: admitted delta docs' rows (already computed by the
    * probe's subtree) union in with bsz re-counted only for touched
    * buckets. */
  def minhashBandIndex(corpus: DataFrame, k: Int, perms: Int,
      bands: Int): DataFrame =
    minhashBandKeys(corpus, k, perms, bands)
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("band"), col("bk"))))
      .select(col("doc_id"), col("band"), bandKey(k, perms, bands), col("bsz"))

  /** The build-time (k, perms, bands) ride the index schema as metadata
    * on `bk` ([[Geometry]]): a probe or append under another geometry
    * derives band keys no stored bucket holds, so it fails loudly. */
  private def bandGeometry(k: Int, perms: Int, bands: Int) =
    Seq("graft.shingle_k" -> k.toLong, "graft.perms" -> perms.toLong, "graft.bands" -> bands.toLong)

  private def bandKey(k: Int, perms: Int, bands: Int): Column =
    col("bk").as("bk", Geometry.meta(bandGeometry(k, perms, bands)))

  private[graft] def requireBandGeometry(index: DataFrame, k: Int, perms: Int, bands: Int,
      op: String): Unit =
    Geometry.check(index, "bk", bandGeometry(k, perms, bands), op, "band index")

  /** APPEND an admitted batch into a standing band index (r13, the
    * [[gramIndexAppend]] posture): returns the index of
    * `corpus ∪ admitted` for disjoint doc-id sets — equivalence
    * property-tested. `bsz` is the build-time bucket population, so
    * every EXISTING row of a touched bucket must also move.
    *
    * The delta is batch-sized, so it is keyed ONCE, eagerly: one job
    * derives and collects its band keys. The returned plan then scans the
    * index once per side of one split: rows outside the delta's keys pass
    * through unchanged, and the rows inside them join the delta's rows
    * (a local relation) in one bucket window that re-counts exactly the
    * touched buckets — a batch-bounded shuffle, never an index-sized
    * one. The split filters on `bk` alone; a bucket of another band that
    * shares one re-counts to its own size. The index rewrite itself is
    * maintenance-cadence I/O, as in [[gramIndexAppend]]. */
  def bandIndexAppend(index: DataFrame, admitted: DataFrame, k: Int,
      perms: Int, bands: Int): DataFrame = {
    requireBandGeometry(index, k, perms, bands, "bandIndexAppend")
    val keyed = minhashBandKeys(admitted, k, perms, bands)
    val keys = keyed.collect().toSeq
    val touched = col("bk").isin(keys.map(_.getAs[Any]("bk")).distinct: _*)
    val bucket = Window.partitionBy(col("band"), col("bk"))
    val moved = index.filter(touched)
      .select(col("doc_id"), col("band"), col("bk"), col("bsz").as("old"), lit(0L).as("new"))
      .unionByName(index.sparkSession.createDataFrame(keys.asJava, keyed.schema)
        .withColumn("old", lit(null).cast("long")).withColumn("new", lit(1L)))
      .select(col("doc_id"), col("band"), col("bk"),
        (coalesce(max(col("old")).over(bucket), lit(0L)) + sum(col("new")).over(bucket))
          .as("bsz"))
    index.filter(!touched).select(col("doc_id"), col("band"), col("bk"), col("bsz"))
      .unionByName(moved)
      .select(col("doc_id"), col("band"), bandKey(k, perms, bands), col("bsz"))
  }

  /** Probe a band index with a delta batch: for each delta doc that
    * shares ANY uncapped band bucket with the corpus, emit (doc_id,
    * dup_of = smallest matching corpus doc, n_dups = matching corpus
    * docs). Delta docs with no collision are absent — the caller
    * anti-joins to admit them (mirroring [[survivors]]).
    *
    * Scale shape: the corpus NEVER shuffles here. The index side of the
    * bucket join arrives pre-partitioned when the index is stored
    * bucketed on its band key; the delta side's signature aggregation,
    * the join shuffle, and the distinct/min aggregation are all
    * delta-sized (a capped `bsz > maxBucket` bucket — a mass-dup
    * cluster owned by exact dedup — is filtered BEFORE the join, so one
    * boilerplate bucket cannot fan a batch out into millions of hit
    * rows). Collision semantics are ANY-band (no first-match tie-break
    * needed: hits dedup by (delta, corpus) pair, a delta-sized
    * distinct, not the n² pair stream of the full pipeline). */
  def probeBandIndex(delta: DataFrame, index: DataFrame, k: Int, perms: Int,
      bands: Int, maxBucket: Int = 10000): DataFrame = {
    requireBandGeometry(index, k, perms, bands, "probeBandIndex")
    minhashBandKeys(delta, k, perms, bands)
      .join(index.filter(col("bsz") <= maxBucket)
          .select(col("band"), col("bk"), col("doc_id").as("dup_of")),
        Seq("band", "bk"))
      .select(col("doc_id"), col("dup_of"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(min(col("dup_of")).as("dup_of"), count(lit(1)).as("n_dups"))
  }

  /** Incremental near-dup detection, inline form: build the corpus index
    * and probe it with `delta` in one plan (the oracle-checked shape;
    * production persists the index once and probes many batches). */
  def incrementalDupes(corpus: DataFrame, delta: DataFrame, k: Int,
      perms: Int, bands: Int, maxBucket: Int = 10000): DataFrame =
    probeBandIndex(delta, minhashBandIndex(corpus, k, perms, bands),
      k, perms, bands, maxBucket)

  /** The `tables × bitsPerTable` random hyperplanes, derived DRIVER-SIDE
    * from md5 (r_p[i] = first-hex-nibble(md5("p|i")) − 7.5, a portable
    * stand-in for a seeded gaussian) and inlined as literal arrays into
    * the plan — the identical constants the DuckDB oracle derives in
    * SQL. Deterministic pure math on constants: no data is collected. */
  private[operators] def hyperplanes(planes: Int, dim: Int): IndexedSeq[Seq[Double]] =
    (0 until planes).map { p =>
      (0 until dim).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p|$i".getBytes("UTF-8"))
        (((d(0) & 0xFF) >> 4) & 0xF) - 7.5
      }
    }

  /** EXACT embedding-cosine near-dup pairs: every (doc_a < doc_b) pair
    * of (vec_id, ce) vectors whose quantized cosine is ≥ `minCosQ` — the
    * ground truth the bucketed rungs ([[embeddingCosPairs]], the
    * SemDeDup cells of [[Ann.cellPairs]]) are graded against. One copy
    * of the vectors broadcasts and the other streams: O(n²) compute by
    * definition, so an eval runs it on a sample, never the corpus. */
  def cosinePairs(e: DataFrame, minCosQ: Long): DataFrame =
    e.select(col("vec_id").as("doc_a"), col("ce").as("ca"))
      .join(broadcast(e.select(col("vec_id").as("doc_b"), col("ce").as("cb"))),
        col("doc_a") < col("doc_b"))
      .filter(Ann.cosQ(col("ca"), col("cb")) >= minCosQ)
      .select(col("doc_a"), col("doc_b"))

  /** Embedding-cosine near-dup pairs via banded random-hyperplane LSH.
    *
    * Each vector's bucket in table t is the `bitsPerTable`-bit sign
    * pattern of its hyperplane dots — computed once per vector against
    * the inlined [[hyperplanes]] literals (no codebook join, no
    * per-plane row fan-out). Candidates share a bucket in ANY table
    * (OR-amplification: recall ≈ 1-(1-p^b)^T for per-bit agreement p),
    * then exact quantized cosine filters — the codegen'd `graft_cosine`
    * expression over the carried embeddings, INSIDE the bucket's task,
    * so there is no candidate join-back. ONE shuffle total, on
    * (table, bucket): the bucket-size window partitions membership rows
    * and the bucket group-by reuses that exchange. Carrying `ce` costs
    * tables×dim floats per vector through the single shuffle — versus
    * TWO corpus-wide join shuffles plus shuffling the n² candidate
    * stream twice in the join-back formulation.
    *
    * SIZING: expected bucket population is n/2^bitsPerTable per table,
    * so the raw per-table pair stream is ~n²/2^bitsPerTable — at corpus
    * scale pick bitsPerTable so 2^bits ≳ n/1000 (e.g. 16-20 bits for
    * millions of vectors); the 4-bit default here matches the
    * verification corpus and its oracle, not a production index. */
  def embeddingCosPairs(emb0: DataFrame, tables: Int, bitsPerTable: Int,
      minCosQ: Long, dim: Int = 64, maxBucket: Int = 10000): DataFrame = {
    // A wrong-width vector must FAIL the job, not degrade: zip_with over a
    // mismatched length null-pads, every hyperplane dot goes NULL, and all
    // vectors silently collapse into one (capped, dropped) bucket → zero
    // pairs. raise_error runs distributed, inside the scan projection.
    val emb = emb0.withColumn("ce",
      when(size(col("ce")) === dim, col("ce"))
        .otherwise(raise_error(concat(
          lit(s"embeddingCosPairs: embedding dim must be $dim, got "),
          size(col("ce")).cast("string")))))
    val hp = hyperplanes(tables * bitsPerTable, dim)
    val keyNames = (0 until tables).map(t => s"k$t")
    // Bucket bits stay on the higher-order dot: it runs once per VECTOR
    // (not per pair), and measured faster than routing through the fused
    // cosine expression (which also accumulates both norms). The
    // per-PAIR verify below is the opposite case — it must be the
    // codegen'd graft_cosine, because the candidate stream is ~n²/2^bits
    // per table and an interpreted cosine there costs minutes.
    val keyed = emb.select(
      col("vec_id") +: col("ce") +: (0 until tables).map(t =>
        concat((0 until bitsPerTable).map(b =>
          when(Similarity.dot(col("ce"), typedLit(hp(t * bitsPerTable + b))) >= 0, "1")
            .otherwise("0")): _*).as(s"k$t")): _*)
    val banded = keyed.select(
      col("vec_id") +: col("ce") +: keyNames.map(col) :+
        posexplode(array(keyNames.map(col): _*)).as(Seq("t", "bucket")): _*)
    // mass-duplicate buckets belong to exact dedup; cap the fan-out.
    // OR-amplification makes a near-dup pair collide in MANY tables, so a
    // distinct() over the emitted pairs would shuffle the n² candidate
    // stream ~T times over — instead only the first colliding table
    // emits a pair ([[firstMatchCols]]; distinct by construction, on-CPU).
    val surviving = banded
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("t"), col("bucket"))))
      .filter(col("bsz").between(2, maxBucket))
    val buckets = surviving
      .groupBy(col("t"), col("bucket"))
      .agg(sort_array(collect_list(
        struct(col("vec_id") +: col("ce") +: keyNames.map(col): _*))).as("ds"))
    val ms = keyNames.map(k => col("a").getField(k) === col("b").getField(k))
    explodePairs(buckets, "ds", carry = Seq("t"))
      .filter(firstMatchCols(ms, col("t")))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Ann.cosQ(col("a").getField("ce"), col("b").getField("ce")).as("cos_q"))
      .filter(col("cos_q") >= minCosQ)
  }

  /** 64-bit SimHash signature per doc as a '0'/'1' bitstring.
    *
    * Word weights = term frequency; each word occurrence votes its
    * md5-derived 64 bits (+1 for a set bit, −1 for unset — summing over
    * OCCURRENCES is the tf weighting, so no per-(doc, word) count
    * pre-aggregation and its extra corpus-wide shuffle); signature bit =
    * sign of the vote. ONE shuffle: the md5's first 64 bits split once
    * per occurrence into two 32-bit halves (two codegen'd `conv`s), each
    * of the 64 votes is a literal-shift-and-mask sum aggregate, and the
    * 64 long partials combine map-side in a single groupBy(doc_id).
    * Values are identical to the per-distinct-word × tf formulation (the
    * oracle's shape). */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val occ = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), md5(col("word")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("ha"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("hb"))
    // bit i (MSB-first) of the 32-bit half: (half >> (31 - i%32)) & 1
    def bitSign(i: Int): Column =
      shiftright(if (i < 32) col("ha") else col("hb"), 31 - i % 32)
        .bitwiseAND(lit(1L)) * 2 - 1
    val votes = (0 until 64).map(i => sum(bitSign(i)).as(s"v$i"))
    occ.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((0 until 64).map(i =>
          when(col(s"v$i") > 0, "1").otherwise("0")): _*).as("sig"))
  }

  /** Hamming-near pairs over SimHash signatures. Candidates come from a
    * 4×16-bit chunk LSH (two signatures within hamming distance 3 of
    * each other must agree on at least one 16-bit chunk; wider distances
    * trade recall for the same bounded cost).
    *
    * TWO SHUFFLES TOTAL: the signature aggregation
    * ([[simhashSignatures]]) and the (chunk-index, chunk) bucket shuffle
    * shared by the size window and the bucket group-by. Chunks are
    * parsed to 16-bit LONGS once per doc (4 `conv`s per doc, never per
    * pair — a hot chunk bucket emits millions of pairs, and a
    * string-parse per pair was the measured bottleneck), so the bucket
    * key is a compact 8-byte long and the match columns, first-collision
    * test, and exact `bit_count(xor)` hamming verify are pure integer
    * codegen'd expressions per candidate pair. Bucketing by chunk VALUE
    * is bijective with bucketing by chunk bitstring — the oracle's
    * substring grouping is unchanged. */
  def simhashPairs(docs: DataFrame, maxHamming: Int, maxBucket: Int = 10000): DataFrame = {
    val chunkNames = (0 until 4).map(j => s"c$j")
    val chunked = simhashSignatures(docs).select(
      col("doc_id") +: (0 until 4).map(j =>
        conv(substring(col("sig"), j * 16 + 1, 16), 2, 10).cast("long").as(s"c$j")): _*)
    val banded = chunked.select(
      col("doc_id") +: chunkNames.map(col) :+
        posexplode(array(chunkNames.map(col): _*)).as(Seq("j", "chunk")): _*)
    // mass-duplicate buckets belong to exact dedup; cap the fan-out.
    // Near-identical docs agree on up to all 4 chunks, so a distinct()
    // over emitted pairs would shuffle the n² candidate stream — the
    // first-collision emission ([[firstMatchCols]]) keeps it on-CPU.
    val surviving = banded
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("j"), col("chunk"))))
      .filter(col("bsz").between(2, maxBucket))
    val buckets = surviving
      .groupBy(col("j"), col("chunk"))
      .agg(sort_array(collect_list(
        struct(col("doc_id") +: chunkNames.map(col): _*))).as("ds"))
    val ms = chunkNames.map(c => col("a").getField(c) === col("b").getField(c))
    val ham = chunkNames.map(c =>
      bit_count(col("a").getField(c).bitwiseXOR(col("b").getField(c))))
      .reduce(_ + _)
    explodePairs(buckets, "ds", carry = Seq("j"))
      .filter(firstMatchCols(ms, col("j")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ham.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
