package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token counting, fingerprinting. All pure column arithmetic —
  * zero or one shuffle per operator, no UDFs. */
object TextAnalysis {

  /** Public small stopword/marker lists per language (heuristic n-gram
    * language ID — the classic stopword-hit scorer). */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"),
    "es" -> Seq("el", "los", "las", "que", "y", "un", "una", "por", "como"),
    "fr" -> Seq("le", "les", "et", "une", "est", "dans", "pour", "sur", "avec"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和"))

  private def words(text: Column): Column = split(text, " ")

  /** Stopword-hit score for one language's list (distinct-word hits). */
  def langScore(text: Column, lang: String): Column = {
    val list = Stopwords.toMap.apply(lang)
    size(array_intersect(array_distinct(words(text)), array(list.map(lit): _*)))
  }

  /** Adds pred_lang + top_score: argmax of the per-language stopword
    * scores, ties broken by list order, no hits at all → "und". */
  def langId(docs: DataFrame): DataFrame = {
    val scored = Stopwords.foldLeft(docs) { case (df, (l, _)) =>
      df.withColumn(s"s_$l", langScore(col("text"), l))
    }
    val mx = greatest(Stopwords.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = Stopwords.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"s_$l") === mx, lit(l)).otherwise(acc)
    }
    // NOTE foldRight: the FIRST matching language in list order wins
    scored
      .withColumn("top_score", mx)
      .withColumn("pred_lang", when(mx === 0, "und").otherwise(pred))
  }

  /** Quality features + a composite score. One projection, no shuffle:
    * at 100 TB this runs at scan speed and is the filter you push first. */
  def quality(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val nDistinct = size(array_distinct(w))
    // one literal array node (not 44 lit() children re-assembled per
    // expression); filter-by-membership, NOT array_intersect — the stop
    // ratio counts stopword OCCURRENCES, and intersect would dedup them
    val stopList = typedLit(Stopwords.flatMap(_._2))
    val nStop = size(filter(w, x => array_contains(stopList, x)))
    docs
      .withColumn("n_words", nWords)
      .withColumn("distinct_ratio", nDistinct.cast("double") / nWords)
      .withColumn("avg_word_len",
        (length(col("text")) - nWords + 1).cast("double") / nWords)
      .withColumn("stop_ratio", nStop.cast("double") / nWords)
      .withColumn("quality_score",
        col("distinct_ratio") * 0.5 +
          least(col("avg_word_len") / 10.0, lit(1.0)) * 0.3 +
          col("stop_ratio") * 0.2)
      .withColumn("keep", col("n_words") >= 20 && col("distinct_ratio") > 0.2)
  }

  /** Whitespace + BPE-ish-regex token counts. The regex splits text into
    * short letter runs / digits / single symbols — a cheap stand-in for a
    * subword tokenizer's piece count, engine-portable (no lookarounds). */
  val TokenPattern = "[a-z]{1,4}|[0-9]|[^a-z0-9 ]"

  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws_tokens", size(words(col("text"))))
      .withColumn("bpe_tokens", regexp_count(col("text"), lit(TokenPattern)))

  /** RE2-compatible PII patterns (no lookarounds/backreferences — the
    * identical regex must run on Java regex AND RE2-based engines, the
    * cross-engine contract of every operator here). */
  val EmailPiiRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4PiiRe  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePiiRe = "\\+[0-9]{7,15}"

  /** PII scrubbing for corpus curation: counts then redacts emails,
    * IPv4s, and international-form phone numbers. Pure projection, zero
    * shuffles — at 100 TB this runs at scan speed alongside the quality
    * gate. Counts are taken on the ORIGINAL text; redaction order
    * (email → ip → phone) is fixed so placeholders never partially match
    * a later pattern. */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_pii_emails", regexp_count(col(textCol), lit(EmailPiiRe)))
      .withColumn("n_pii_ips", regexp_count(col(textCol), lit(Ipv4PiiRe)))
      .withColumn("n_pii_phones", regexp_count(col(textCol), lit(PhonePiiRe)))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailPiiRe, "<EMAIL>"),
            Ipv4PiiRe, "<IP>"),
          PhonePiiRe, "<PHONE>"))

  /** Within-document repetition score (the Gopher/RefinedWeb-style
    * duplicate-k-gram filter): 1 − distinct/total word-k-grams. A doc
    * that repeats itself has rep_ratio → 1; docs with fewer than k words
    * score 0. Pure per-doc array arithmetic, zero shuffles. */
  def repetition(docs: DataFrame, k: Int = 3): DataFrame = {
    val w = words(col("text"))
    val total = greatest(size(w) - (k - 1), lit(0))
    val distinctK = size(graft.functions.Similarity.shinglesOfWords(w, k))
    docs
      .withColumn("n_grams", total)
      .withColumn("n_distinct_grams", when(total > 0, distinctK).otherwise(0))
      .withColumn("rep_ratio",
        when(total > 0, lit(1.0) - distinctK.cast("double") / total)
          .otherwise(lit(0.0)))
  }

  /** Corpus-relative vocabulary COMMONNESS score — the quality signal
    * [[quality]]'s intra-document stats cannot see: a document of rare
    * (low-df) vocabulary scores low, boilerplate of ubiquitous tokens
    * scores high. Per token occurrence the score is `df·10⁶ div nDocs`
    * (document frequency in ppm, truncating integer division); the
    * document's score is the truncating mean over its occurrences —
    * exact BIGINT arithmetic end to end, so the row set is bit-portable.
    * Returns every doc: (doc_id, n_tokens, mean_df_ppm).
    *
    * `nDocs` is a catalog statistic parameter (the [[TextIndex
    * .searchRanked]] convention) — passing it avoids a second corpus
    * scan inside the operator. Scale shape: one token-keyed df
    * aggregation, the df join-back on the same key, one doc-keyed mean —
    * three token-stream shuffles, no joins wider than the token
    * dictionary, nothing quadratic. */
  def commonnessScore(docs: DataFrame, nDocs: Long): DataFrame = {
    require(nDocs > 0, s"commonnessScore: nDocs=$nDocs")
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val dfs = toks.distinct().groupBy(col("w")).agg(count(lit(1)).as("df"))
    toks.join(dfs, "w")
      .withColumn("ppm", expr(s"(df * 1000000L) div ${nDocs}L"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("n_tokens"),
        expr("sum_ppm div n_tokens").as("mean_df_ppm"))
  }

  /** Overlapping word-window chunking — the retrieval/training prep
    * step that turns documents into model-sized pieces: chunk i covers
    * words [i·stride, i·stride + window) with stride = window − overlap,
    * so consecutive chunks share `overlap` words and every word is
    * covered. Emits (doc_id, chunk_idx, start_word, n_words,
    * chunk_text); a doc shorter than one window yields exactly one
    * chunk. Chunk count is exact integer arithmetic
    * (max(⌈(n − overlap)/stride⌉, 1) via (x + stride − 1) div stride),
    * so the decomposition is engine-portable.
    *
    * Scale shape: pure row-local fan-out (one `transform` + posexplode
    * of the row's own window list) — no shuffle, no UDF; the output
    * streams at scan speed into downstream embed/index stages. Chunk
    * ids are (doc_id, chunk_idx) — deterministic, so re-chunking an
    * updated corpus is idempotent per document. */
  def chunkDocs(docs: DataFrame, window: Int, overlap: Int): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"chunkDocs: window=$window overlap=$overlap (need 0 <= overlap < window)")
    val stride = window - overlap
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .select(col("doc_id"), col("w"), col("n"),
        posexplode(expr(
          s"transform(sequence(0, greatest((n - $overlap + $stride - 1) div $stride, 1) - 1), i -> i * $stride)"))
          .as(Seq("chunk_idx", "start_word")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_word").cast("long").as("start_word"),
        least(lit(window), col("n") - col("start_word")).cast("long").as("n_words"),
        array_join(slice(col("w"), col("start_word") + 1, lit(window)), " ")
          .as("chunk_text"))
  }

  /** Char-trigram LM surprisal scoring — the CCNet/KenLM "perplexity
    * filter" recipe (train a small LM on a trusted reference slice,
    * keep documents the model finds unsurprising) re-expressed in exact
    * integer arithmetic so the score is bit-portable across engines.
    *
    * Model: trigram counts over the `lang = refLang` slice. Score: each
    * trigram's surprisal is the INTEGER log2 approximation
    * `bitlen(total + V) − bitlen(count + 1)` (add-one smoothing), where
    * `bitlen(n) = length(bin(n))` = ⌊log2 n⌋ + 1 — chosen over ln()
    * because a float log-prob SUM accumulates in engine-defined order
    * and its libm rounding is not specified, while bin() is exact on
    * both engines. A doc's score is the truncating mean in millibits,
    * `(Σ surprisal · 1000) div n_trigrams`; `keep` thresholds it the
    * CCNet way (keep what the reference LM finds unsurprising — the
    * threshold is calibrated on a trusted slice in deployment, and is
    * a plain parameter here). Docs shorter than 3 chars have no
    * trigram and are excluded by definition. Because the score is a
    * BIGINT on both engines, the keep boundary has no float knife-edge.
    *
    * Scale shape: the model is ONE aggregation over the reference
    * slice's trigram stream with distinct keys bounded by alphabet³
    * (KB–MB — broadcast); scoring is explode (pipelined, no shuffle) →
    * broadcast hash join → groupBy(doc_id) whose partial aggregate
    * collapses each partition to one row per resident doc, so the only
    * corpus-wide shuffle carries n_docs 40-byte rows, never the trigram
    * stream. The 1-row totals join stays in-plan (broadcast cross join
    * AFTER the per-doc aggregate — `Σ(blv − bl(cnt+1)) = blv·n −
    * Σbl(cnt+1)`, so per-trigram rows never need the totals). */
  def trigramSurprisal(docs: DataFrame, refLang: String = "en",
      keepBelowMb: Long = 7340L): DataFrame = {
    // the KB–MB model is consumed twice (totals + the scoring join):
    // localCheckpoint stands in for the PERSISTED model a deployment
    // scores against (the pqCodebook convention), so the reference
    // slice's trigram pass runs once, not per consumer
    val model = trigramModel(docs, refLang).localCheckpoint()
    surprisalScore(docs, model, Seq("doc_id", "lang"))
      .withColumn("keep", col("surprisal_mb") < lit(keepBelowMb))
  }

  /** The scoring chain of [[trigramSurprisal]] against an EXPLICIT
    * model relation — the factored form the gate-quality eval
    * ([[graft.QueriesLlm]] q_lm_gate_recall) needs, where the model
    * trains on the standing corpus and the scored batch is a DIFFERENT
    * relation (planted classes). `keyCols` are the per-row identity the
    * scores aggregate under (doc_id+lang for the corpus row, class+
    * doc_id for the planted batch). Same plan as ever: explode →
    * broadcast model join → one keyCols-grouped shuffle of 40-byte
    * rows → broadcast totals. */
  def surprisalScore(docs: DataFrame, model: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    // compiled one-pass extraction (plans/CharNgramCodes): the HOF
    // transform+substring walk is interpreted and O(len²) per doc, and
    // at the multi-billion-trigram scale even compiled STRING slices
    // lose to fixed-width keys — each trigram packs its code points
    // into one BIGINT (injective for n=3), so the explode carries
    // 8-byte longs and every downstream hash (shuffle, broadcast
    // probe, aggregate) runs on a primitive. Internal keying only: the
    // output is per-doc aggregates, so the DuckDB oracle still joins
    // on trigram TEXT and the hash gate proves the keyings equivalent.
    val tris = call_function("graft_char_ngram_codes", col("text"), lit(3))
    val long3 = docs.filter(length(col("text")) >= 3)
    val totals = model.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("v"))
    val keys = keyCols.map(col)
    long3.select(keys :+ explode(tris).as("tri"): _*)
      .join(broadcast(model), Seq("tri"), "left")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_tri"),
        count(when(col("cnt").isNull, 1)).as("n_oov"),
        sum(length(bin(coalesce(col("cnt"), lit(0L)) + 1)).cast("long")).as("sum_bl"))
      .crossJoin(broadcast(totals))
      .select(keys ++ Seq(col("n_tri"), col("n_oov"),
        expr("(length(bin(tot + v)) * n_tri - sum_bl) * 1000L div n_tri")
          .as("surprisal_mb")): _*)
  }

  /** The [[trigramSurprisal]] model alone: (tri BIGINT code, cnt) over
    * the `lang = refLang` slice — the artifact a deployment persists
    * beside the corpus and the serving/streaming scorer embeds. */
  def trigramModel(docs: DataFrame, refLang: String = "en"): DataFrame =
    trigrams(docs, refLang).groupBy(col("tri")).agg(count(lit(1)).as("cnt"))

  /** One `tri` row per trigram occurrence in the `lang = refLang` docs. */
  private def trigrams(docs: DataFrame, refLang: String): DataFrame =
    docs.filter(length(col("text")) >= 3 && col("lang") === refLang)
      .select(explode(call_function("graft_char_ngram_codes",
        col("text"), lit(3))).as("tri"))

  /** CCNet head/middle/tail perplexity BUCKETING (r15) — the published
    * recipe's final step over [[trigramSurprisal]]'s scores: per
    * language, the corpus splits into exact surprisal terciles (head =
    * the least-surprising third, the slice CCNet trains on first).
    *
    * Exact terciles WITHOUT a corpus sort: `surprisal_mb` is a bounded
    * integer (millibits, ≤ ~20k distinct values), so the per-(lang,
    * score) HISTOGRAM is KB-scale — one map-side-combined aggregate —
    * and the tercile thresholds fall out of a cumulative window over
    * that histogram (t_k = smallest score whose cumulative count
    * reaches ⌈k·n/3⌉, all integer: `cum·3 ≥ k·n`). Docs then bucket by
    * VALUE against the broadcast thresholds — score ties land in the
    * lower bucket together, deterministically on every engine (a
    * rank-based NTILE would split ties by engine-private order). At
    * 100 TB: one corpus aggregation + one broadcast join back — the
    * quantile never sees a sort wider than the histogram. */
  def surprisalBuckets(docs: DataFrame, refLang: String = "en"): DataFrame = {
    val scored = trigramSurprisal(docs, refLang)
      .select(col("doc_id"), col("lang"), col("surprisal_mb"))
    val hist = scored.groupBy(col("lang"), col("surprisal_mb"))
      .agg(count(lit(1)).as("_c"))
    val cum = hist
      .withColumn("_cum", sum(col("_c")).over(
        Window.partitionBy(col("lang")).orderBy(col("surprisal_mb"))))
      .withColumn("_n", sum(col("_c")).over(Window.partitionBy(col("lang"))))
    val th = cum.groupBy(col("lang")).agg(
      min(when(col("_cum") * 3 >= col("_n"), col("surprisal_mb"))).as("_t1"),
      min(when(col("_cum") * 3 >= col("_n") * 2, col("surprisal_mb"))).as("_t2"))
    scored.join(broadcast(th), Seq("lang"))
      .withColumn("ppl_bucket",
        when(col("surprisal_mb") <= col("_t1"), lit("head"))
          .when(col("surprisal_mb") <= col("_t2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("surprisal_mb"), col("ppl_bucket"))
  }

  /** Count-monoid fold of a delta into a persisted trigram model (r15)
    * — the LM gate's MAINTENANCE arm, closing the loop the ingest tier
    * already closes for its artifacts: trigram counts are additive over
    * documents, so `trigramModelAppend(trigramModel(c), d) ≡
    * trigramModel(c ∪ d)` for ANY split — empty sides included
    * (property-tested; the gramIndexAppend / aggState algebra applied
    * to the LM). Scale shape: the model is alphabet³-bounded (KB–MB) and
    * the delta is a fold window of admitted docs, so the model and the
    * delta's trigram occurrences sum in ONE task — no shuffle, and the
    * rewrite is a single job (the [[Freq.bloomAppend]] shape; the LM
    * program already collects every model version onto the driver).
    * Contract: the delta's docs are NEW to
    * the model's corpus — a re-delivered doc double-counts, which is
    * why the maintenance arm folds POST-ADMISSION docs only, behind
    * gates that refuse re-delivery. */
  def trigramModelAppend(model: DataFrame, delta: DataFrame,
      refLang: String = "en"): DataFrame =
    model.unionByName(trigrams(delta, refLang).withColumn("cnt", lit(1L)))
      .coalesce(1).groupBy(col("tri")).agg(sum(col("cnt")).as("cnt"))

  /** ROW-LOCAL surprisal scoring against an EMBEDDED model — the
    * serving/streaming face of [[trigramSurprisal]]: same columns, same
    * integer arithmetic, but each doc scores in isolation through the
    * compiled [[graft.plans.LmStats]] table (no explode, no join, no
    * per-doc re-aggregation — on a stream that aggregate would be the
    * query's only STATEFUL operator, so this form has none). The model
    * arrays are the COLLECTED persisted model (KB-scale, bounded by
    * alphabet³ — the BPE served-model precedent); `tot`/`v` are its
    * summary stats, folded into the constant blv = bitlen(tot + v). */
  def surprisalServed(docs: DataFrame, keys: Array[Long], cnts: Array[Long],
      tot: Long, v: Long, keepBelowMb: Long = 7340L): DataFrame = {
    require(tot > 0 && v > 0, s"surprisalServed: empty model (tot=$tot, v=$v)")
    val blv: Long = 64L - java.lang.Long.numberOfLeadingZeros(tot + v)
    val stats = call_function("graft_lm_stats", col("text"), lit(3),
      typedLit(keys.toSeq), typedLit(cnts.toSeq))
    docs.filter(length(col("text")) >= 3)
      .withColumn("_s", stats)
      .withColumn("n_tri", col("_s").getItem(0))
      .withColumn("n_oov", col("_s").getItem(1))
      .withColumn("surprisal_mb",
        expr(s"(${blv}L * n_tri - _s[2]) * 1000L div n_tri"))
      .withColumn("keep", col("surprisal_mb") < lit(keepBelowMb))
      .drop("_s")
  }

  /** Normalized-content fingerprint (lower + squashed whitespace → md5)
    * plus cluster stats via a window over the fingerprint — one shuffle
    * keyed on the 16-byte digest. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val fp = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
    val byFp = Window.partitionBy(col("fp"))
    docs
      .withColumn("fp", fp)
      .withColumn("cluster_size", count(lit(1)).over(byFp))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(byFp))
  }
}
