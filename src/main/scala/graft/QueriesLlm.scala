package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Sampling, TextAnalysis}
import graft.Programs.Admission
import graft.sources.{Sinks, Store, Tables}

/** §2.d — LLM-training-data pipeline operators over the `documents`
  * corpus: dedup (exact / Jaccard / MinHash-LSH / SimHash / embedding
  * LSH), text analysis (langid / quality / tokens / fingerprint / PII /
  * repetition), decontamination, similarity search (brute-force / IVF /
  * persisted index), corpus mixing, and multimodal binary metadata.
  * Every query here has an exact DuckDB twin — dedup included, because
  * all hashing is md5-based and portable.
  */
object QueriesLlm {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents

  // ---- dedup ---------------------------------------------------------------

  val dedupExact: Q = (s, dir) => Dedup.exact(docs(s, dir))

  val dedupNgramJaccard: Q = (s, dir) =>
    Dedup.jaccardPairs(docs(s, dir), k = 3, maxDf = 50, minCommon = 2, minJaccard = 0.3)

  /** EXACT τ=0.8 Jaccard join via prefix filtering — lossless (no df
    * truncation, no bucket cap): the verification pass for the regime
    * where the LSH pipelines' approximation is not acceptable. Runs the
    * PRODUCTION block geometry (1024): benching the headline query with
    * a tiny blockSize taxed every ≥2-member bucket with block-pair
    * explosion — measured 3× at sf1 (19.5 s vs 6.1 s). The hot-bucket
    * decomposition still goes through the oracle check via
    * [[dedupPrefixJaccardBlocked]] below (same SQL twin — blockSize is
    * a cost choice, never a semantics choice) and through the
    * pair-multiset property test at arbitrary geometries. */
  val dedupPrefixJaccard: Q = (s, dir) =>
    Dedup.prefixJaccardPairs(docs(s, dir), k = 3, minJaccardQ = 800000L)

  /** The same join forced through block decomposition (blockSize = 4,
    * so every ≥5-member bucket splits): oracle-checked at gate scale to
    * pin that the rebalanced path is pair-for-pair identical. */
  val dedupPrefixJaccardBlocked: Q = (s, dir) =>
    Dedup.prefixJaccardPairs(docs(s, dir), k = 3, minJaccardQ = 800000L,
      blockSize = 4)

  val dedupMinhash: Q = (s, dir) =>
    Dedup.minhashCandidates(docs(s, dir), k = 3, perms = 8, bands = 4)

  val dedupSimhash: Q = (s, dir) => Dedup.simhashPairs(docs(s, dir), maxHamming = 8)

  /** Sub-document span dedup (RefinedWeb-style "line dedup" over 10-word
    * spans — this corpus has no newlines): cross-doc duplicate spans are
    * boilerplate and removed; every doc comes back reassembled. */
  val dedupSpans: Q = (s, dir) =>
    Dedup.spanDedup(docs(s, dir), spanWords = 10, maxDf = 1L)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))

  /** Exact substring dedup over OVERLAPPING 10-word grams (r11): any
    * 10-word sequence shared by more than one doc is removed from every
    * carrier WHEREVER it starts — the offset-independent strengthening
    * of q_dedup_spans (fixed spans miss passages that straddle a span
    * boundary or sit at different offsets per doc), with maximal
    * flagged runs merged so shared passages come out whole. */
  val dedupSubstrings: Q = (s, dir) =>
    Dedup.substringDedup(docs(s, dir), spanWords = 10, maxDf = 1L)
      .select(col("doc_id"), col("clean_text"), col("n_removed"), col("n_spans"))

  /** Near-dup CLUSTERS from the minhash candidate pairs: pair emission
    * says A~B and B~C; clustering says {A,B,C} is one duplicate group
    * with one survivor (the minimum doc id = the component label) — via
    * [[operators.Components.connectedComponents]]' bounded-round
    * pointer-doubling label propagation. */
  val dedupClusters: Q = (s, dir) =>
    operators.Components.connectedComponents(
        Dedup.minhashCandidates(docs(s, dir), k = 3, perms = 8, bands = 4),
        "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component"))

  /** Full-corpus dedup OUTPUT: one survivor per near-dup cluster (its
    * minimum doc id) plus every doc that never entered a candidate
    * pair. The drop list — cluster members that are not their
    * component's minimum — is duplicate-sized, not corpus-sized, so the
    * final pass is ONE anti join keyed on doc_id (AQE broadcasts the
    * drop list whenever the duplicate fraction is small, the common
    * case; the corpus itself never re-shuffles). */
  val dedupSurvivors: Q = (s, dir) => {
    val dropList = operators.Components.connectedComponents(
        Dedup.minhashCandidates(docs(s, dir), k = 3, perms = 8, bands = 4),
        "doc_a", "doc_b")
      .filter(col("component") < col("id"))
      .select(col("id").as("doc_id"))
    docs(s, dir).join(dropList, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** Incremental (delta-vs-corpus) near-dup detection: the corpus —
    * here docs with doc_id % 10 ≠ 0, standing in for the already-deduped
    * 100 TB store — builds a band index ONCE; the delta batch (doc_id %
    * 10 = 0) probes it at delta cost. Emits each colliding delta doc
    * with its smallest corpus match and match count. */
  val dedupIncremental: Q = (s, dir) => {
    val d = docs(s, dir)
    Dedup.incrementalDupes(
      corpus = d.filter(col("doc_id") % 10 =!= 0),
      delta = d.filter(col("doc_id") % 10 === 0),
      k = 3, perms = 8, bands = 4)
  }

  /** Incremental SUBSTRING dedup (r11): the standing corpus (doc_id %
    * 10 ≠ 0) builds a distinct-gram-digest index once; the delta batch
    * (doc_id % 10 = 0) probes it at delta cost, and any 10-word gram
    * already present in the corpus is cut from the arriving doc — the
    * q_dedup_incremental posture applied to sub-document boilerplate.
    * Every delta doc comes back with the same (clean_text, n_removed,
    * n_spans) contract as q_dedup_substrings. */
  val dedupSubstrIncremental: Q = (s, dir) => {
    val d = docs(s, dir)
    Dedup.incrementalSubstrings(
        corpus = d.filter(col("doc_id") % 10 =!= 0),
        delta = d.filter(col("doc_id") % 10 === 0),
        spanWords = 10)
      .select(col("doc_id"), col("clean_text"), col("n_removed"), col("n_spans"))
  }

  /** DEPLOYMENT form of incremental substring dedup (r12): the delta
    * probes a PERSISTED BUCKETED gram index — built once per
    * (application, corpus) by [[Store.once]] and [[Sinks.saveBucketed]] on
    * the flat digest lanes (h1, h2), so the probe join reads the index
    * side pre-partitioned with ZERO exchange (asserted in LlmOpsSpec)
    * and every per-invocation cost is delta-sized. This is the query a
    * user runs nightly against a standing 100 TB corpus; the inline
    * q_dedup_substr_incremental stays registered as the honest
    * build+probe total, the q_sim_ivfpq / q_sim_ivfpq_served split.
    * Oracle: identical SQL to the inline form — parquet round-trips the
    * 64-bit digest lanes exactly, so served ≡ inline by construction
    * and the hash gate proves it. */
  val dedupSubstrServed: Q = (s, dir) => {
    val d = docs(s, dir)
    Admission.gramProbe(d.filter(col("doc_id") % 10 === 0),
        s.table(servedGramIndexTable(s, dir)))
      .select(col("doc_id"), col("clean_text"), col("n_removed"), col("n_spans"))
  }

  /** The bucketed gram index table, built once per (application,
    * corpus) by [[Store.once]] with its data under the store path. */
  private def servedGramIndexTable(s: SparkSession, dir: String): String =
    Store.table(Store.once("gram_index", s, dir)(p =>
      Sinks.saveBucketed(Admission.gramIndex(ingestCorpus(s, dir)),
        Store.table(p), Seq("h1", "h2"), 32, path = Some(p))))

  /** The FOUR-GATE admission pipeline as one oracle-checked query (r13):
    * [[graft.Programs.ingestCore]] — Bloom exact-novelty gate → minhash
    * band probe → substring gram-index CUT → per-source quota, each
    * gate seeing only the previous gate's survivors. The corpus is the
    * standing store (doc_id % 10 ≠ 0); the batch is the delta docs
    * (doc_id % 10 = 0) PLUS re-deliveries of corpus content under fresh
    * ids (deterministic selection — `limit()` would not be), the case
    * gate 1 exists for. Output: admitted docs with the gate-3 cut audit
    * (n_removed, n_spans) and the gate-4 quota rank. The composition is
    * what a 100 TB corpus runs nightly; the oracle nests the four
    * gates' own verified CTE chains so the pipeline and its parts
    * cannot drift. */
  val ingestGates: Q = (s, dir) =>
    Programs.ingestCore(Admission.bloomBuild(ingestCorpus(s, dir)).localCheckpoint(),
        Admission.minhashBandIndex(ingestCorpus(s, dir)),
        Admission.gramIndex(ingestCorpus(s, dir)), ingestBatch(s, dir), quotaPerSource = 8L)
      .select(col("doc_id"), col("source"), col("n_removed"), col("n_spans"),
        col("qrank"))

  /** DEPLOYMENT form of the 4-gate pipeline (r13): the same admission
    * graph probing PERSISTED corpus artifacts — the bloom bit table
    * (KB parquet), the band index (bucketed on (band, bk)) and the
    * gram index (bucketed on (h1, h2), SHARED with
    * q_dedup_substr_served — one build serves both, the
    * [[Store.once]] store). The inline q_ingest_gates stays
    * registered as the honest build+probe total; THIS is the query a
    * standing corpus runs nightly, where every per-invocation cost is
    * delta-sized and both index joins read pre-partitioned sides.
    * Oracle: identical SQL to the inline form — parquet round-trips
    * the bit positions, band keys and digest lanes exactly, so
    * served ≡ inline is hash-checked, not assumed. */
  val ingestGatesServed: Q = (s, dir) =>
    Programs.ingestCore(
        s.read.parquet(servedBloomBitsPath(s, dir)),
        s.table(servedBandIndexTable(s, dir)),
        s.table(servedGramIndexTable(s, dir)),
        ingestBatch(s, dir), quotaPerSource = 8L)
      .select(col("doc_id"), col("source"), col("n_removed"), col("n_spans"),
        col("qrank"))

  /** INDEX MAINTENANCE as an oracle row (r13, corrected r14): after the
    * FULL pipeline — gates 1–3 AND the per-source quota — the STORED
    * docs' digests OR into the standing bit table
    * ([[graft.operators.Freq.bloomAppend]]) — the pass that makes the
    * NEXT batch's gate 1 refuse re-deliveries of what this batch
    * admitted (the lifecycle ProgramsSpec proves end-to-end; append ≡
    * rebuild is property-tested there for all three artifacts).
    * POST-QUOTA is the correctness point (r13 ADVICE): a quota-rejected
    * doc is never stored, and marking its digest seen would tombstone
    * it forever — every future re-delivery refused at gate 1 with no
    * stored copy, even when quota room frees up. Appends derive from
    * what the store actually carries, nothing else. The bloom table is
    * the one artifact whose append is fully SQL-derivable (the
    * band/gram lanes are 64-bit digest arithmetic the oracle replaces
    * with text equality), so this row hash-checks the maintenance
    * algebra: output = the appended (j, pos) bit set. */
  val ingestIndexUpdate: Q = (s, dir) => {
    val bits = Admission.bloomBuild(ingestCorpus(s, dir)).localCheckpoint()
    val stored = Programs.ingestCore(bits, Admission.minhashBandIndex(ingestCorpus(s, dir)),
      Admission.gramIndex(ingestCorpus(s, dir)), ingestBatch(s, dir), quotaPerSource = 8L)
    Admission.bloomAppend(bits, stored)
      .select(col("j").cast("int").as("j"), col("pos").cast("long").as("pos"))
  }

  /** ADMISSION-PIPELINE QUALITY row (r14) — the pairEvalMetrics posture
    * applied to the repo's flagship composition: the 4-gate pipeline's
    * END-TO-END admission decisions graded against exact ground truth
    * on the same batch the speed rows run (delta docs + exact
    * re-deliveries of corpus content — novel docs, true near-dups,
    * quoted passages all present by construction). Ground truth per
    * batch doc: REFUSE iff it is an exact duplicate of standing content
    * (md5), a true near-dup of standing content (the exact τ=0.8
    * Jaccard join vs the corpus — [[Dedup.prefixJaccardPairs]], the
    * lossless q_simjoin_prefix machinery), or entirely standing text
    * (its exact substring cut is empty); ADMIT otherwise. The pipeline's
    * decisions are the staged gate chain itself (admissionCut's body,
    * kept visible so every refusal attributes to its gate). Errors by
    * source: `n_fr_bloom` = truth-admit docs gate 1's Bloom FPs
    * refused; `n_fr_band` = truth-admit docs gate 2's band collisions
    * refused (LSH firing below τ — the precision cost the banded
    * geometry implies); `n_false_admit` = true near-dups the band probe
    * MISSED (LSH recall loss). Gate 3 contributes no cut error by
    * construction — its gram probe IS the exact substring dedup the
    * truth uses (digest ≡ text equality, hash-proven across the family)
    * — so the whole quality story of the composition is gates 1–2,
    * measured here instead of implied. The quota (gate 4) is admission
    * POLICY, not approximation, and is deliberately outside the grade.
    * Single-row integer-exact output (counts + DIV-floored pcts). */
  val ingestRecall: Q = (s, dir) => {
    val corpus = ingestCorpus(s, dir)
    val batch = ingestBatch(s, dir)
    val bits = Admission.bloomBuild(corpus).localCheckpoint()
    val bandIdx = Admission.minhashBandIndex(corpus)
    val gramIdx = Admission.gramIndex(corpus)
    val fresh = Admission.bloomNovel(bits, batch)
    val collided = Admission.bandProbe(fresh, bandIdx)
    val novel = fresh.join(collided, Seq("doc_id"), "left_anti")
    val admitted = Admission.gramProbe(novel, gramIdx)
      .filter(length(col("clean_text")) > 0)
      .select(col("doc_id"))
    val exactDup = batch.select(col("doc_id"), md5(col("text")).as("item"))
      .join(corpus.select(md5(col("text")).as("item")).distinct(),
        Seq("item"), "left_semi")
      .select(col("doc_id"))
    val nearIds = Dedup.prefixJaccardPairs(docs(s, dir), k = 3,
        minJaccardQ = 800000L)
      .filter((col("doc_a") % 10 === 0) =!= (col("doc_b") % 10 === 0))
      .select(when(col("doc_a") % 10 === 0, col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
    val truthCut = Admission.gramProbe(docs(s, dir).filter(col("doc_id") % 10 === 0), gramIdx)
      .select(col("doc_id"), (length(col("clean_text")) === 0).as("cut_empty"))
    val verdicts = batch.select(col("doc_id"))
      .join(exactDup.withColumn("is_exact", lit(true)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(true)), Seq("doc_id"), "left")
      .join(truthCut, Seq("doc_id"), "left")
      .join(fresh.select(col("doc_id")).withColumn("in_fresh", lit(true)),
        Seq("doc_id"), "left")
      .join(admitted.withColumn("p_admit", lit(true)), Seq("doc_id"), "left")
      .select(
        (!coalesce(col("is_exact"), lit(false)) &&
          !coalesce(col("is_near"), lit(false)) &&
          !coalesce(col("cut_empty"), lit(true))).as("t_admit"),
        coalesce(col("in_fresh"), lit(false)).as("in_fresh"),
        coalesce(col("p_admit"), lit(false)).as("p_admit"))
    verdicts.agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("t_admit"), 1L).otherwise(0L)).as("n_true_admit"),
        sum(when(col("t_admit"), 0L).otherwise(1L)).as("n_true_refuse"),
        sum(when(col("p_admit"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("t_admit") && !col("in_fresh"), 1L).otherwise(0L))
          .as("n_fr_bloom"),
        sum(when(col("t_admit") && col("in_fresh") && !col("p_admit"), 1L)
          .otherwise(0L)).as("n_fr_band"),
        sum(when(!col("t_admit") && col("p_admit"), 1L).otherwise(0L))
          .as("n_false_admit"))
      .select(col("n_batch"), col("n_true_admit"), col("n_true_refuse"),
        col("n_admitted"), col("n_fr_bloom"), col("n_fr_band"),
        col("n_false_admit"),
        expr("CASE WHEN n_true_admit > 0 THEN (n_fr_bloom + n_fr_band) * 100" +
          " DIV n_true_admit END").as("false_refuse_pct"),
        expr("CASE WHEN n_true_refuse > 0 THEN n_false_admit * 100" +
          " DIV n_true_refuse END").as("false_admit_pct"))
  }

  /** The standing-corpus split shared by the ingest-pipeline forms. */
  private def ingestCorpus(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 10 =!= 0)

  /** The arriving batch shared by the ingest-pipeline forms: delta docs
    * PLUS deterministic re-deliveries of corpus content under fresh ids
    * (the case gate 1 exists for; `limit()` would not be engine-stable). */
  private def ingestBatch(s: SparkSession, dir: String): DataFrame = {
    val redelivered = ingestCorpus(s, dir).filter(col("doc_id") % 97 === 1)
      .withColumn("doc_id", col("doc_id") + 7000000L)
    docs(s, dir).filter(col("doc_id") % 10 === 0).unionByName(redelivered)
  }

  /** The persisted bloom bit table (KB-scale (j, pos) parquet), a
    * [[Store.once]] store. */
  private def servedBloomBitsPath(s: SparkSession, dir: String): String =
    Store.once("bloom_bits", s, dir)(Admission.bloomBuild(ingestCorpus(s, dir)).write.parquet(_))

  /** The bucketed minhash band index table — [[servedGramIndexTable]]
    * on the (band, bk) lanes, so the probe join reads the index side
    * with zero exchange. */
  private def servedBandIndexTable(s: SparkSession, dir: String): String =
    Store.table(Store.once("band_index", s, dir)(p =>
      Sinks.saveBucketed(Admission.minhashBandIndex(ingestCorpus(s, dir)),
        Store.table(p), Seq("band", "bk"), 32, path = Some(p))))

  /** DEDUP QUALITY evaluation (r12) — the q_sim_recall posture applied
    * to the near-dup family: pair-level recall AND precision of the
    * minhash-LSH candidate generator against the EXACT τ=0.8 Jaccard
    * join (prefix filtering, lossless) as ground truth. An LSH rung
    * whose speed wins are bought with silent pair loss is not done:
    * the (perms=8, bands=4) geometry predicts P(candidate | s) =
    * 1−(1−s²)⁴ ≈ 0.983 at s = 0.8, and this row MEASURES it — and
    * measures precision too, the count of candidate pairs the verify
    * pass will discard (LSH at 2-row bands fires well below τ=0.8 by
    * design; the eval makes that cost visible instead of implied).
    * Single-row integer-exact output (counts + DIV-floored pcts);
    * the ground-truth side is the exact join — expensive by nature,
    * which is exactly the argument for an OFFLINE eval query (the
    * q_sim_recall rationale). */
  val dedupRecall: Q = (s, dir) =>
    pairEvalMetrics(
      Dedup.prefixJaccardPairs(docs(s, dir), k = 3, minJaccardQ = 800000L),
      Dedup.minhashCandidates(docs(s, dir), k = 3, perms = 8, bands = 4))

  /** LSH GEOMETRY sweep (r14) — the measured version of the knob the
    * admission-quality row's analysis pointed at: with the SAME 8-perm
    * signature, banding chooses the S-curve. One eval row per geometry
    * — (8 bands × 1 row), (4 × 2), (2 × 4) — each graded against the
    * SAME exact τ=0.8 truth join: more rows per band fires less below
    * τ (precision up, the band-gate false-refusal cost down) at the
    * price of recall near τ. An operator picking an ingest band gate
    * tunes (bands, rows) from this row's numbers, not from the
    * analytic curve alone — the q_sim_recall_sweep posture applied to
    * the LSH family. Cost shape of the shared exact truth side (r15
    * ADVICE, measured): Spark does not share subplans across union
    * branches AT PLAN TIME, but AQE's exchange reuse serves the truth
    * chain's final exchange to all three branches at RUN time (two
    * post-execution ReusedExchange nodes, probed in r14) — the runtime
    * twin of the oracle's MATERIALIZED truth CTE. An explicit
    * localCheckpoint of the truth was A/B-measured in-session (r15:
    * 6.97 vs 6.46 s, control row ±0.1) and bought nothing over the
    * reuse, so it is deliberately NOT here — the q_ingest_index_update
    * measured-and-reverted discipline. The per-branch minhash
    * signature chain stays inline: compiled scan-speed MinhashSig. */
  val dedupRecallGeom: Q = (s, dir) => {
    val truth = Dedup.prefixJaccardPairs(docs(s, dir), k = 3, minJaccardQ = 800000L)
      .select(col("doc_a"), col("doc_b"))
    Seq(8, 4, 2).map { bnd =>
      pairEvalMetrics(truth,
        Dedup.minhashCandidates(docs(s, dir), k = 3, perms = 8, bands = bnd))
        .select(lit(bnd).as("bands"), lit(8 / bnd).as("rows_per_band"),
          col("n_true"), col("n_cand"), col("n_caught"),
          col("recall_pct"), col("precision_pct"))
    }.reduce(_ unionByName _)
  }

  /** The simhash rung's quality row (r12): same exact τ=0.8 ground
    * truth, candidates from the 64-bit SimHash hamming-≤8 pipeline.
    * SimHash approximates tf-weighted COSINE, not Jaccard, so its
    * recall against a Jaccard truth set measures the rung's fitness
    * for the end task (catching true near-dup pairs), not its fidelity
    * to its own metric — exactly the number an operator choosing
    * between the rungs needs. */
  val dedupRecallSimhash: Q = (s, dir) =>
    pairEvalMetrics(
      Dedup.prefixJaccardPairs(docs(s, dir), k = 3, minJaccardQ = 800000L),
      Dedup.simhashPairs(docs(s, dir), maxHamming = 8))

  /** The embedding rung's quality row (r12), completing the set — every
    * approximate dedup rung (minhash-LSH, SimHash, hyperplane-LSH) now
    * carries measured recall AND precision: candidates from
    * [[Dedup.embeddingCosPairs]], the same call [[dedupEmbCos]] runs,
    * truth from [[Dedup.cosinePairs]], the exact all-pairs quantized
    * cosine at the same τ (0.45). The truth is O(n²) by definition; an
    * eval runs on the benchmark corpus, and at 100 TB you grade on a
    * sample, never the corpus (the q_sim_recall posture). */
  val dedupRecallEmbcos: Q = (s, dir) =>
    pairEvalMetrics(Dedup.cosinePairs(embVecs(s, dir), MinCosQ),
      embcosCandidates(s, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))

  /** SemDeDup (semantic dedup over embeddings — the published recipe
    * from the public SemDeDup paper, Abbas et al. 2023): the all-pairs
    * cosine quadratic bounded by TRAINED kmeans cells instead of
    * [[dedupEmbCos]]'s random-hyperplane buckets. Cluster with the SAME
    * deterministic md5-seeded Lloyd codebook the IVF family trains
    * ([[semdedupCells]]: q_sim_kmeans's chain, k = 4, 2 iterations),
    * then drop every vector cosine-≥τ similar to a LOWER-id vector in
    * its OWN cell ([[operators.Ann.cellPairs]]); the surviving lowest id
    * is the cluster representative. τ = 0.45 matches the embcos rung, so
    * the two candidate-generation strategies grade against each other
    * row-for-row.
    *
    * At 100 TB, k grows with the corpus so cells stay ~constant-sized
    * (the published recipe trains k ∝ n) — the per-cell quadratic is
    * the SemDeDup cost model, bounded by construction; cross-cell
    * near-dups are the documented miss class (cells are a COST choice,
    * and the embcos eval row measures what bucketing strategies lose).
    * Plan shape: training is the zero-corpus-exchange Lloyd loop,
    * assignment is scan-speed broadcast argmax, and the pair join is an
    * equi-join on cell — never a cartesian. */
  val dedupSemantic: Q = (s, dir) =>
    semdedupVerdicts(semdedupCells(s, dir, operators.Ann.assignCells))

  /** SemDeDup's quality row: the kmeans-cell candidate strategy graded
    * against the exact all-pairs cosine truth ([[Dedup.cosinePairs]],
    * τ = 0.45 everywhere). The candidates are [[dedupSemantic]]'s own
    * [[semdedupCells]] and [[operators.Ann.cellPairs]] calls. Cells are a
    * COST choice — the bounded quadratic — and this row MEASURES what
    * the choice loses: every true pair whose two vectors landed in
    * different cells is a cross-cell miss (recall < 100), while precision
    * is 100 by construction (in-cell candidates are exact-cosine-filtered
    * before grading). The number an operator weighs against 31b's
    * hyperplane-bucket recall when picking a semantic-dedup rung. */
  val dedupRecallSemdedup: Q = (s, dir) =>
    semdedupEval(s, dir, operators.Ann.assignCells)

  /** SemDeDup with CELL PROBING (r15) — the nprobe=2 mitigation for the
    * cross-cell miss class the r14 quality row measured (49–64%
    * adversarial recall at toy k): every vector joins candidate
    * generation under BOTH its top-2 cells ([[graft.operators.Ann
    * .assignCellsTop2]] — the q_sim_ivf_probe2 pattern applied to the
    * assignment side), so a true pair split across a cell boundary is
    * co-bucketed whenever either member ranks the other's cell second.
    * Drop semantics are UNCHANGED from [[dedupSemantic]]: exact cosine
    * ≥ τ verifies every candidate, the lowest co-bucketed id wins, and
    * the verdict row keys on the PRIMARY (rk = 1) assignment — probing
    * widens candidate generation only, never the clustering. Cost: the
    * pair join fans out ≤ 4 instances per candidate pair (2 cells ×
    * 2 cells), deduped before the drop aggregate; at 100 TB the cells
    * stay constant-sized (k ∝ n) so the probe multiplies the bounded
    * per-cell quadratic by a small constant — the standard
    * recall-vs-cost knob, measured against the same exact-cosine truth
    * in [[dedupRecallSemdedupProbe2]]. */
  val dedupSemanticProbe2: Q = (s, dir) =>
    semdedupVerdicts(semdedupCells(s, dir, operators.Ann.assignCellsTop2))

  /** The probe2 QUALITY row (r15): [[dedupSemanticProbe2]]'s candidate
    * strategy graded against the IDENTICAL exact all-pairs cosine truth
    * [[dedupRecallSemdedup]] uses — the two rows differ ONLY in the
    * assignment passed to [[semdedupCells]] (top-1 vs top-2 cells), so
    * their recall gap IS the measured value of probing. Precision stays
    * 100 by construction (candidates are exact-cosine-filtered). */
  val dedupRecallSemdedupProbe2: Q = (s, dir) =>
    semdedupEval(s, dir, operators.Ann.assignCellsTop2)

  /** τ = 0.45 in 1e-6 quantized-cosine ticks: the verify threshold of
    * every embedding dedup rung, its exact truth and their oracles. */
  private val MinCosQ = 450000L

  /** The embedding table as (vec_id, ce) — the embcos rung's input. */
  private def embVecs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings.select(col("vec_id"), col("embedding").as("ce"))

  /** The embcos rung's candidates: 8 tables × 4-bit random-hyperplane
    * LSH with the exact quantized-cosine verify at τ. */
  private def embcosCandidates(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosPairs(embVecs(s, dir), tables = 8, bitsPerTable = 4,
      minCosQ = MinCosQ)

  /** SemDeDup's cells: the q_sim_kmeans codebook (k = 4, 2 iterations)
    * over the ANN corpus, every vector placed by `assign`
    * ([[operators.Ann.assignCells]] or [[operators.Ann.assignCellsTop2]]).
    * The assignment is consumed three times (both pair sides + the
    * verdict join): localCheckpoint stands in for the PERSISTED cluster
    * assignment a deployment dedups against (the pqCodebook convention)
    * — without it the Lloyd training lazily re-runs per consumer
    * (measured 2.35 → 1.2 s at sf0.1). */
  private def semdedupCells(s: SparkSession, dir: String,
      assign: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val corpus = annCorpus(s, dir).drop("cell")
    assign(operators.Ann.kmeansCodebook(corpus, k = 4, iters = 2), corpus)
      .drop("cscore")
      .localCheckpoint()
  }

  /** SemDeDup's verdict per vector: each in-cell candidate pair drops
    * its higher id, the lowest co-bucketed id is `dup_of`; the verdict
    * row keys on the primary (rk = 1) cell of a top-2 assignment. */
  private def semdedupVerdicts(cells: DataFrame): DataFrame = {
    val drops = operators.Ann.cellPairs(cells, MinCosQ)
      .groupBy(col("doc_b")).agg(min(col("doc_a")).as("dup_of"))
    val primary = if (cells.columns.contains("rk")) cells.filter(col("rk") === 1) else cells
    primary.join(drops, cells("corpus_id") === drops("doc_b"), "left")
      .select(col("corpus_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** A SemDeDup rung's quality row: its in-cell candidates graded
    * against the exact all-pairs cosine truth over the same corpus. */
  private def semdedupEval(s: SparkSession, dir: String,
      assign: (DataFrame, DataFrame) => DataFrame): DataFrame =
    pairEvalMetrics(
      Dedup.cosinePairs(embVecs(s, dir).filter(col("vec_id") >= 5), MinCosQ),
      operators.Ann.cellPairs(semdedupCells(s, dir, assign), MinCosQ))

  /** Shared pair-eval tail: full outer join on the (doc_a, doc_b) key,
    * one global aggregate, DIV-floored integer percentages. */
  private[graft] def pairEvalMetrics(truthPairs: DataFrame,
      candPairs: DataFrame): DataFrame = {
    val truth = truthPairs.select(col("doc_a"), col("doc_b"), lit(1).as("t"))
    val cand = candPairs.select(col("doc_a"), col("doc_b"), lit(1).as("c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full")
      .agg(count(col("t")).as("n_true"), count(col("c")).as("n_cand"),
        count(when(col("t").isNotNull && col("c").isNotNull, 1)).as("n_caught"))
      .select(col("n_true"), col("n_cand"), col("n_caught"),
        expr("CASE WHEN n_true > 0 THEN n_caught * 100 DIV n_true END").as("recall_pct"),
        expr("CASE WHEN n_cand > 0 THEN n_caught * 100 DIV n_cand END").as("precision_pct"))
  }

  /** Shared recall@k tail of the ANN quality rows: each exact top-k
    * (query_id, corpus_id) row of `truth` left-joined to the rung's
    * top-k `cand`, then per query the hits and recall_pct = hits·100/k
    * (integer-exact for k dividing 100). */
  private[graft] def topkEvalMetrics(truth: DataFrame, cand: DataFrame,
      k: Int): DataFrame =
    truth.select(col("query_id"), col("corpus_id"))
      .join(cand.select(col("query_id"), col("corpus_id"), lit(1).as("hit")),
        Seq("query_id", "corpus_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"), (count(col("hit")) * (100 / k)).as("recall_pct"))

  /** Exact heavy hitters (vocabulary items above 2% of the token stream)
    * via the Misra-Gries sketch + exact-verify two-pass: the corpus-wide
    * shuffle carries k=64 counters per partition, never the vocabulary. */
  val freqHeavyHitters: Q = (s, dir) =>
    operators.Freq.heavyHitters(s,
      docs(s, dir).select(explode(split(col("text"), " ")).as("item")),
      k = 64, denom = 50L)

  /** PER-LANGUAGE exact heavy hitters (each language's tokens above 2%
    * of that language's stream) — the stratified sketch pass: one
    * independent Misra-Gries summary per language, groups×k counters on
    * the wire, per-group exact verify. */
  val freqHeavyHittersGrouped: Q = (s, dir) =>
    operators.Freq.heavyHittersByGroup(s,
        docs(s, dir).select(col("lang").as("grp"),
          explode(split(col("text"), " ")).as("item")),
        k = 64, denom = 50L)
      .select(col("grp").as("lang"), col("item"), col("cnt"))

  /** Count-Min point-frequency estimates for the words of the first
    * five documents against the whole corpus word stream — 4×1024
    * deterministic md5-hashed cells, so the sketch itself (not merely
    * its accuracy contract) hash-matches the DuckDB twin. */
  val freqCms: Q = (s, dir) => {
    val words = docs(s, dir).select(explode(split(col("text"), " ")).as("item"))
    val probes = docs(s, dir).filter(col("doc_id") < 5)
      .select(explode(split(col("text"), " ")).as("item"))
    operators.Freq.cmsEstimate(
      operators.Freq.cmsSketch(words, depth = 4, width = 1024),
      probes, depth = 4, width = 1024)
  }

  /** Bloom-filter membership probe: the standing corpus (doc_id % 10 ≠ 0,
    * standing in for the already-ingested 100 TB store) builds a 3×16384
    * deterministic set-bit table ONCE; the arriving batch (doc_id % 10 =
    * 0) probes it at scan speed — zero shuffles on the probe side, the
    * KB-sized bit table broadcasts. One-sided verdicts: every true
    * member probes positive (no false negatives, property-tested);
    * positives are a candidate set for the exact path. The md5-derived
    * bits make every verdict — false positives included — deterministic,
    * so the row hash-matches the DuckDB twin exactly. */
  val bloomProbe: Q = (s, dir) => {
    val d = docs(s, dir)
    val corpus = d.filter(col("doc_id") % 10 =!= 0).select(md5(col("text")).as("item"))
    val probes = d.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), md5(col("text")).as("item"))
    operators.Freq.bloomProbe(
        operators.Freq.bloomBuild(corpus, k = 3, width = 16384).localCheckpoint(),
        probes, k = 3, width = 16384)
      .select(col("doc_id"), col("n_hits"), col("maybe_member"))
  }

  // ---- text analysis -------------------------------------------------------

  val textLangid: Q = (s, dir) =>
    TextAnalysis.langId(docs(s, dir))
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("top_score"))

  val textQuality: Q = (s, dir) =>
    TextAnalysis.quality(docs(s, dir))
      .select(col("doc_id"), col("n_words"), col("distinct_ratio"),
        col("avg_word_len"), col("stop_ratio"), col("quality_score"), col("keep"))

  val textTokens: Q = (s, dir) =>
    TextAnalysis.tokenCounts(docs(s, dir))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_total"),
        sum(col("bpe_tokens")).as("bpe_total"),
        (sum(col("bpe_tokens")).cast("double") / count(lit(1))).as("avg_bpe_per_doc"))

  val textFingerprint: Q = (s, dir) =>
    TextAnalysis.fingerprint(docs(s, dir))
      .select(col("doc_id"), col("fp"), col("cluster_size"), col("is_canonical"))

  /** Char-trigram LM surprisal (the CCNet perplexity-filter recipe,
    * integer-exact — [[TextAnalysis.trigramSurprisal]]): model trained
    * on the corpus's own `lang = 'en'` slice, every doc scored by mean
    * millibit surprisal. The synthetic corpus shares ONE vocabulary
    * across its `lang` labels, so here the score measures character-
    * pattern commonness (spread ~7.2–7.7 bits/trigram) rather than
    * language — the keep threshold sits mid-spread so both branches of
    * the flag are exercised; in deployment it is calibrated on a
    * held-out trusted slice (the CCNet recipe). The score is BIGINT on
    * both engines, so the flag has no float knife-edge. */
  val textPerplexity: Q = (s, dir) =>
    TextAnalysis.trigramSurprisal(docs(s, dir))
      .select(col("doc_id"), col("lang"), col("n_tri"), col("n_oov"),
        col("surprisal_mb"), col("keep"))

  /** SERVED form of [[textPerplexity]]: the collected persisted model
    * embedded into the compiled row-local scorer (plans/LmStats — the
    * shape the streaming gate runs STATELESS; the driver-side collect
    * of the KB-scale model is the BPE served-model precedent). Shares
    * q_text_perplexity's oracle verbatim: same columns, same integer
    * arithmetic, so the hash gate proves explode-join-aggregate and
    * embedded-table scoring equivalent end to end. */
  val textPerplexityServed: Q = (s, dir) => {
    // built once per (application, corpus) like the served gram index:
    // deployment trains/persists the model beside the corpus and a
    // serving job loads it ONCE at start — steady runs price scoring,
    // the cold run prices train+load (as the Store.once rows do). The
    // Tables contract (a driver table is immutable within its session)
    // rules out a corpus rewritten under the same dir.
    val (keys, cnts, tot, v) = Store.memo(s.sparkContext, ("lm_model", dir)) {
      val m = TextAnalysis.trigramModel(docs(s, dir)).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      (m.map(_._1), m.map(_._2), m.map(_._2).sum, m.length.toLong)
    }
    TextAnalysis.surprisalServed(docs(s, dir), keys, cnts, tot, v)
      .select(col("doc_id"), col("lang"), col("n_tri"), col("n_oov"),
        col("surprisal_mb"), col("keep"))
  }

  /** CCNet head/middle/tail perplexity bucketing (r15) — the published
    * recipe's final step ([[TextAnalysis.surprisalBuckets]]): exact
    * per-language surprisal terciles via the KB-scale integer
    * HISTOGRAM (one map-side-combined aggregate + a broadcast
    * threshold join — the quantile never sorts anything wider than the
    * histogram). Ties bucket together by VALUE, so the split is
    * engine-portable where a rank NTILE would not be. */
  val textPplBuckets: Q = (s, dir) =>
    TextAnalysis.surprisalBuckets(docs(s, dir))

  /** The LM gate's threshold sweep, in CALIBRATION-PERCENTILE space:
    * each sweep point keeps docs scoring ≤ the trusted (training)
    * slice's own p-th percentile surprisal. ABSOLUTE millibit
    * thresholds are scale-DEPENDENT (measured r16: the clean band sits
    * at ≈7340 mb at sf0.01 but ≈8330 at sf0.1 — `blv = bitlen(tot+v)`
    * grows a bit-level faster than the mean per-trigram bitlen as the
    * model's counts grow), so a fixed sweep flips meaning with corpus
    * size; percentile-of-trusted-slice is CCNet's actual recipe
    * ("calibrated on a trusted slice") and is scale-free by
    * construction — held-out in-distribution docs keep at ≈p% at ANY
    * corpus size. Shared with the oracle via [[lmGateSweepSql]]. */
  private val LmGateSweep = Seq(25L, 50L, 75L, 90L, 99L)
  private def lmGateSweepSql: String =
    LmGateSweep.map(t => s"($t)").mkString(", ")
  /** The boilerplate plant: a corpus-common 4-word phrase repeated —
    * degenerate low-entropy text built ONLY from in-model trigrams.
    * Inlined verbatim into the oracle SQL so both engines score the
    * byte-identical plant. */
  private val LmGateBoiler = ("the a row table " * 18).trim

  /** LM-GATE QUALITY row (r16) — the q_ingest_recall posture applied to
    * the perplexity gate, the one gate that had speed rows (35c/35c2)
    * and a bucketing row (35c3) but no measured operating point for its
    * keep threshold. The model trains on the STANDING corpus's refLang
    * slice (doc_id % 10 ≠ 0 — the ingest split); the graded batch
    * plants four deterministic classes over the held-out ids:
    *
    *  - `clean`     — held-out `lang='en'` docs verbatim: in-
    *    distribution novel text, truth = KEEP.
    *  - `nonref`    — held-out non-en docs verbatim, truth = REFUSE.
    *    Measured finding, stated not hidden: the synthetic corpus
    *    shares ONE vocabulary across lang labels, so this class scores
    *    inside the clean band (~100% false-admit at any threshold that
    *    keeps clean) — a char-LM gate is NOT a language gate on a
    *    shared-alphabet corpus; langId (q_pipeline_prep stage 1) is.
    *  - `gibberish` — 8 chained md5 hex blocks per doc id: OOV-heavy
    *    character noise, truth = REFUSE. Separates by ~2× the clean
    *    band's surprisal (≈15000 vs the clean band's ≈7300–8400 —
    *    the band itself drifts with model scale, see the sweep note).
    *  - `boilerplate` — one common phrase repeated 18×, truth = REFUSE.
    *    CCNet's documented blind spot is low-perplexity junk; on this
    *    corpus the plant lands in the clean band's upper tail (its
    *    trigram mix is commoner than average per trigram but the
    *    doc-mean is dominated by the phrase boundary trigrams), so the
    *    upper sweep points bracket exactly where the gate starts
    *    falsely admitting it — the repetition filter (q_text_repetition)
    *    exists because thresholds tight enough to refuse it also eat
    *    clean docs.
    *
    * The sweep CALIBRATES itself on the trusted slice (the model's own
    * training docs self-scored through the same chain): each point p
    * keeps batch docs scoring ≤ the training distribution's exact p-th
    * percentile value — the thresholds come out of the same KB-scale
    * integer histogram + cumulative-window machinery as the 35c3
    * terciles (value-bucketed ties, engine-portable, never a corpus
    * sort), so the row reads the same at every corpus size where a
    * fixed millibit sweep flips meaning (measured: the clean band
    * drifts ≈7340 → ≈8330 mb from sf0.01 to sf0.1 as the model's
    * counts grow).
    *
    * Output: one row per (cal_pct ∈ sweep, class) carrying the
    * calibrated keep_below_mb, n_docs, n_kept, the planted truth and
    * the class's error rate at that point (false-refuse% for
    * truth-keep, false-admit% for truth-refuse) — the confusion matrix
    * AND the threshold sweep in one integer-exact table, so the
    * operating point is a read-off-the-table choice instead of a magic
    * number. Scale shape: calibration is one corpus-slice scoring pass
    * (the perplexity row's own cost — in deployment it runs once
    * beside the model build) collapsing to a KB histogram; the plants
    * are scan-speed projections of the held-out slice; the batch
    * scoring is the shared [[TextAnalysis.surprisalScore]] (one
    * batch-sized shuffle); the sweep is a 5-row broadcast. */
  val lmGateRecall: Q = (s, dir) => {
    val d = docs(s, dir)
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val held = d.filter(col("doc_id") % 10 === 0)
    val gib = concat_ws(" ", (0 to 7).map(k =>
      md5((col("doc_id") + lit(k.toLong)).cast("string"))): _*)
    val batch = held.filter(col("lang") === "en")
        .select(lit("clean").as("class"), col("doc_id"), col("text"))
      .unionByName(held.filter(col("lang") =!= "en")
        .select(lit("nonref").as("class"), col("doc_id"), col("text")))
      .unionByName(held
        .select(lit("gibberish").as("class"), col("doc_id"), gib.as("text")))
      .unionByName(held
        .select(lit("boilerplate").as("class"), col("doc_id"),
          lit(LmGateBoiler).as("text")))
    // persisted-model stand-in, the trigramSurprisal convention
    val model = TextAnalysis.trigramModel(corpus).localCheckpoint()
    // calibration: the trusted slice self-scored, collapsed to the
    // KB-scale integer histogram; the single-partition window is
    // provably bounded (distinct millibit scores, hundreds of rows —
    // the 35c3 argument with one global domain instead of per-lang)
    val trainHist = TextAnalysis
      .surprisalScore(corpus.filter(col("lang") === "en"), model,
        Seq("doc_id"))
      .groupBy(col("surprisal_mb")).agg(count(lit(1)).as("_c"))
    val W = org.apache.spark.sql.expressions.Window
    val cum = trainHist
      .withColumn("_cum", sum(col("_c")).over(
        W.orderBy(col("surprisal_mb"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("_n", sum(col("_c")).over(
        W.orderBy(col("surprisal_mb"))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val thCols = LmGateSweep.map(p =>
      min(when(col("_cum") * 100 >= col("_n") * lit(p),
        col("surprisal_mb"))).as(s"_t$p"))
    val th = cum.agg(thCols.head, thCols.tail: _*)
      .select(explode(array(LmGateSweep.map(p =>
        struct(lit(p).as("cal_pct"), col(s"_t$p").as("keep_below_mb"))): _*))
        .as("_th"))
      .select(col("_th.cal_pct"), col("_th.keep_below_mb"))
    val scored = TextAnalysis.surprisalScore(batch, model, Seq("class", "doc_id"))
    scored.crossJoin(broadcast(th))
      .groupBy(col("cal_pct"), col("keep_below_mb"), col("class"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("surprisal_mb") <= col("keep_below_mb"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("truth_keep", col("class") === "clean")
      .withColumn("err_pct",
        expr("CASE WHEN truth_keep THEN (n_docs - n_kept) * 100 DIV n_docs" +
          " ELSE n_kept * 100 DIV n_docs END"))
  }

  /** PII scrub over text with deterministically planted PII (the
    * synthetic corpus has none; both engines plant the identical
    * suffix, so counts and redactions are real and verifiable). */
  val textPii: Q = (s, dir) =>
    TextAnalysis.scrubPii(
      docs(s, dir).withColumn("text", concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@example.com or 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string"),
        lit(" tel +1555000"), (col("doc_id") % 10000).cast("string"))))
      .select(col("doc_id"), col("n_pii_emails"), col("n_pii_ips"),
        col("n_pii_phones"), col("scrubbed"))

  /** Within-doc duplicate-3-gram repetition score (curation filter). */
  val textRepetition: Q = (s, dir) =>
    TextAnalysis.repetition(docs(s, dir))
      .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"), col("rep_ratio"))

  /** Benchmark decontamination: train docs (doc_id % 97 ≠ 0) sharing ≥2
    * distinct 3-grams with the eval slice (doc_id % 97 = 0). */
  val decontaminate: Q = (s, dir) => {
    val d = docs(s, dir)
    Dedup.contaminated(
      d.filter(col("doc_id") % 97 =!= 0),
      d.filter(col("doc_id") % 97 === 0), k = 3, minCommon = 2)
  }

  // ---- similarity search ---------------------------------------------------

  private def annQueries(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  private def annCorpus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings.filter(col("vec_id") >= 5)
      .select(col("label").as("cell"), col("vec_id").as("corpus_id"),
        col("embedding").as("ce"))

  /** Embedding-cosine near-dup pairs: 8 tables × 4-bit random-hyperplane
    * LSH, exact quantized-cosine verify at 0.45. */
  val dedupEmbCos: Q = (s, dir) => embcosCandidates(s, dir)

  /** The exact top-k of the ANN queries over the ANN corpus — the
    * q_sim_topk baseline and the ground truth of every recall row. */
  private def annBrute(s: SparkSession, dir: String, k: Int): DataFrame =
    operators.Ann.bruteForceTopK(annQueries(s, dir), annCorpus(s, dir).drop("cell"), k)

  /** Brute-force cosine top-10 baseline (exact). */
  val simTopk: Q = (s, dir) =>
    annBrute(s, dir, k = 10)
      .select(col("query_id"), col("corpus_id"), col("rnk"), col("score_q"))

  /** k-NN majority-label classification over the embedding corpus (k=10,
    * exact quantized cosine, vote ties → smallest label). */
  val simKnn: Q = (s, dir) =>
    operators.Ann.knnLabel(annQueries(s, dir),
      Tables(s, dir).embeddings.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("corpus_id"), col("embedding").as("ce"),
          col("label")),
      k = 10)

  /** IVF-style ANN: nearest-centroid probe (nprobe=1), exact within cell. */
  val simIvf: Q = (s, dir) =>
    operators.Ann.ivfTopK(annQueries(s, dir), annCorpus(s, dir), k = 10, nprobe = 1)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("rnk"), col("score_q"))

  /** IVF against the PERSISTED index (build → save → load → probe 2
    * cells): the serving deployment shape — codebook + cell-partitioned
    * corpus written once, the query path scans only the probed cells.
    * The per-invocation rebuild here is only for the correctness row's
    * self-containment; floats/doubles round-trip parquet exactly, so the
    * scores are bit-identical to the inline formulation. */
  val simIvfProbe2: Q = (s, dir) => {
    // rebuilt on every call (this row prices build → save → load →
    // probe), so no marker and no lock — only the served-store key
    val idx = Store.path("ivf_index", s, dir)
    operators.Ann.buildIndex(annCorpus(s, dir), idx)
    operators.Ann.searchIndex(s, idx, annQueries(s, dir), k = 10, nprobe = 2)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("rnk"), col("score_q"))
  }

  /** Recall@10 of the IVF probe against the exact brute-force top-10 —
    * the ANN ladder's standard quality metric (r11): an index whose
    * speed wins are bought with silent recall loss is not "done", so
    * the evaluation is a first-class query like the indexes themselves.
    * nprobe=1 deliberately (the lossiest rung): the metric shows the
    * probe/recall trade the nprobe=2 and PQ rungs exist to tune.
    * Integer-exact output (n_hits, recall_pct = n_hits·10), so it
    * hash-matches. Scale shape: ground truth is brute force over the
    * QUERY SAMPLE (the standard offline eval — queries broadcast, the
    * corpus streams once per side, the join is query-sized). */
  val simRecall: Q = (s, dir) =>
    topkEvalMetrics(annBrute(s, dir, k = 10),
      operators.Ann.ivfTopK(annQueries(s, dir), annCorpus(s, dir), k = 10, nprobe = 1),
      k = 10)

  /** The recall-vs-nprobe CURVE in one table (r12): recall@10 of the
    * IVF probe at nprobe ∈ {1, 2, 4, 8, 10} (the corpus labels give 10
    * cells, so nprobe=10 probes everything — the exhaustive endpoint
    * pins whether the probe union converges to the brute ranking)
    * against one shared brute-force ground truth. The
    * single-point eval (q_sim_recall, nprobe=1) prices the lossiest
    * rung; this emits the whole trade — the table an operator actually
    * reads to pick nprobe for a recall target. Ground truth computes
    * once (localCheckpoint — an eval query, the simRecallPq
    * convention); each arm's join is query-sized. Integer-exact
    * (nprobe, query_id, n_hits, recall_pct), hash-matched against an
    * oracle that unions the five unrolled IVF chains over one brute
    * CTE. */
  val simRecallSweep: Q = (s, dir) => {
    val brute = annBrute(s, dir, k = 10).select(col("query_id"), col("corpus_id"))
      .localCheckpoint()
    Seq(1, 2, 4, 8, 10).map { np =>
      topkEvalMetrics(brute,
          operators.Ann.ivfTopK(annQueries(s, dir), annCorpus(s, dir), k = 10, nprobe = np),
          k = 10)
        .select(lit(np).cast("long").as("nprobe"), col("query_id"),
          col("n_hits"), col("recall_pct"))
    }.reduce(_ unionByName _)
  }

  /** k-means-TRAINED IVF assignment: learn a 4-cell codebook from the
    * corpus vectors alone (2 Lloyd iterations, deterministic md5 seeds —
    * no given labels anywhere), then assign every corpus vector to its
    * trained cell. The oracle unrolls the identical iterations in SQL:
    * same seeds, same quantized-cosine argmax, same DECIMAL means —
    * hash-matched, which pins the whole training loop, not just the
    * final argmax.
    *
    * The OUTPUT score re-quantizes to 1e-3 ticks (the argmax itself
    * stays at the ANN tier's 1e-6): a cosine landing within 1 ulp of a
    * 1e-6 floor boundary can differ by one tick between engines'
    * dot-product summation (observed once in 495 rows at sf0.01), and
    * the coarser output tick cuts that boundary exposure 1000×. */
  val simKmeans: Q = (s, dir) => {
    val corpus = Tables(s, dir).embeddings.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("corpus_id"), col("embedding").as("ce"))
    val cb = operators.Ann.kmeansCodebook(corpus, k = 4, iters = 2)
    operators.Ann.assignCells(cb, corpus)
      .select(col("corpus_id"), col("cell"),
        floor(col("cscore") / 1000).cast("long").as("score_mq"))
  }

  /** Product-quantized ANN: train the 8×16 subspace codebooks (2 Lloyd
    * rounds), encode the corpus to packed 8-nibble BIGINT codes, search
    * the 5 queries by codegen'd ADC lookup ([[operators.Ann.pqTopK]]).
    * Codes, distances and ranking are integer-exact, so the oracle —
    * which unrolls the identical training and scores via a (sub, cell)
    * join instead of the packed-code lut — hash-matches bit-for-bit. */
  val simPq: Q = (s, dir) =>
    pqTop5(s, dir)
      .select(col("query_id"), col("corpus_id"), col("dist_q"),
        col("rnk").cast("long").as("rnk"))

  /** The PQ rung's top-5, shared by [[simPq]] and its recall row. */
  private def pqTop5(s: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(s, dir).drop("cell")
    // the KB-sized codebook is consumed twice (encode + query luts):
    // localCheckpoint stands in for the PERSISTED codebook a serving
    // deployment reads, so training runs once, not per consumer
    val cb = operators.Ann.pqCodebook(corpus, iters = 2).localCheckpoint()
    operators.Ann.pqTopK(cb, operators.Ann.pqEncode(cb, corpus), annQueries(s, dir), k = 5)
  }

  /** IVF-PQ composed serving search: the coarse k-means cells prune
    * WHICH codes each query scans (nprobe=2 of 4 trained cells), the PQ
    * codes shrink WHAT the surviving scan reads (packed 8-nibble BIGINT
    * per vector) — the standard two-level ANN serving layout, built
    * from the library's own trained quantizers ([[operators.Ann
    * .kmeansCodebook]] coarse, [[operators.Ann.pqCodebook]] fine) and
    * searched by the codegen'd ADC expression. Everything ranked is
    * integer (quantized cosine probe, per-term-floored ADC sums), so
    * the oracle — which unrolls BOTH trainings in SQL and scores via a
    * (sub, cell) join restricted to the probed cells — hash-matches
    * bit-for-bit. */
  val simIvfPq: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("corpus_id"), col("embedding").as("ce"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // both codebooks are consumed twice (index build + query path):
    // localCheckpoint stands in for the PERSISTED codebooks a serving
    // deployment reads — training runs once, not per consumer. The two
    // trainings are independent chains of small jobs; they run
    // CONCURRENTLY (r18, guide §2.6) so the second back-fills the
    // first's idle cores — results are hash-seeded-deterministic
    // either way.
    val (coarse, pqcb) = operators.Ann.trainBoth(
      operators.Ann.kmeansCodebook(corpus, k = 4, iters = 2),
      operators.Ann.pqCodebook(corpus, iters = 2))
    // the composed index: (corpus_id, cell, code) — in deployment
    // written partitionBy("cell") like Ann.buildIndex
    val codes = operators.Ann.pqEncode(pqcb, corpus)
      .join(operators.Ann.assignCells(coarse, corpus)
        .select(col("corpus_id"), col("cell")), "corpus_id")
    operators.Ann.ivfPqTopK(coarse, pqcb, codes, queries, k = 5, nprobe = 2)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("dist_q"),
        col("rnk").cast("long").as("rnk"))
  }

  /** SERVING-shape IVF-PQ search (r10): query against the PERSISTED
    * composed index — the deployment path (a serving job never
    * retrains; q_sim_ivfpq stays registered as the honest end-to-end
    * train+encode+serve cost), persisted once by [[Store.once]]:
    * both codebooks and the cell-partitioned codes
    * round-trip parquet bit-exactly, so the top-k is identical to the
    * inline composition and the SAME oracle adjudicates both. */
  val simIvfPqServed: Q = (s, dir) =>
    operators.Ann.searchIvfPqIndex(s, servedIvfPqStore(s, dir),
        annQueries(s, dir), k = 5, nprobe = 2)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("dist_q"),
        col("rnk").cast("long").as("rnk"))

  /** INCREMENTAL form of [[simIvfPqServed]] (r17) — the ANN family's
    * maintenance arm, completing the append ladder (band/gram/LM/
    * phrase/fuzzy all have theirs): the standing index trains and
    * builds on the base corpus (vec_id % 10 ≠ 0) ONCE; the delta batch
    * (vec_id % 10 = 0) is encoded with the STORED codebooks and
    * appended log-structured into the existing `cell=` directories
    * ([[graft.operators.Ann.appendIvfPqIndex]] — delta-sized write, no
    * retrain, the standing codes never rewritten); the probe serves
    * the appended store exactly as the served row does. No stale-count
    * hazard (the probe carries no per-cell statistics), but codebook
    * DRIFT is the stated boundary: the delta quantizes against base
    * centroids, so the oracle trains on the base slice and encodes the
    * union — what build-then-append produces by construction. */
  val simIvfPqIncremental: Q = (s, dir) =>
    operators.Ann.searchIvfPqIndex(s, servedIvfPqIncStore(s, dir),
        annQueries(s, dir), k = 5, nprobe = 2)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("dist_q"),
        col("rnk").cast("long").as("rnk"))

  /** The build-then-append IVF-PQ store: one [[Store.once]] build
    * trains on the base and appends the delta, so the store's one
    * marker commits the pair. */
  private def servedIvfPqIncStore(s: SparkSession, dir: String): String =
    Store.once("ivfpq_index_inc", s, dir) { p =>
      val e = Tables(s, dir).embeddings
      operators.Ann.buildIvfPqIndex(
        e.filter(col("vec_id") >= 5 && col("vec_id") % 10 =!= 0)
          .select(col("vec_id").as("corpus_id"), col("embedding").as("ce")),
        p, kCells = 4, iters = 2)
      operators.Ann.appendIvfPqIndex(s, p,
        e.filter(col("vec_id") >= 5 && col("vec_id") % 10 === 0)
          .select(col("vec_id").as("corpus_id"), col("embedding").as("ce")))
    }

  /** The persisted IVF-PQ index, a [[Store.once]] store shared by the
    * served search and its recall row so one build serves both. */
  private def servedIvfPqStore(s: SparkSession, dir: String): String =
    Store.once("ivfpq_index", s, dir)(operators.Ann.buildIvfPqIndex(
      Tables(s, dir).embeddings.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("corpus_id"), col("embedding").as("ce")),
      _, kCells = 4, iters = 2))

  /** Recall@5 of the PQ ADC rung against the exact top-5 (r12,
    * completing the quality ladder the r11 verdict left at the IVF
    * rung): [[topkEvalMetrics]] over the brute ground truth at k=5 and
    * [[simPq]]'s own [[pqTop5]] as the candidate set. Integer-exact
    * (n_hits, recall_pct = n_hits·20), so it hash-matches an oracle
    * that unrolls the identical PQ training. */
  val simRecallPq: Q = (s, dir) =>
    topkEvalMetrics(annBrute(s, dir, k = 5), pqTop5(s, dir), k = 5)

  /** Recall@5 of the SERVED IVF-PQ index (the deployment path, r12):
    * the persisted composed index's top-5 against the exact top-5 —
    * the quality row for the rung whose 56×/341× serving speed is the
    * headline, so the probe/recall trade of the path users actually
    * run is measured, not assumed. Same store as [[simIvfPqServed]]
    * (built once per application), same shared oracle lineage. */
  val simRecallIvfPq: Q = (s, dir) =>
    topkEvalMetrics(annBrute(s, dir, k = 5),
      operators.Ann.searchIvfPqIndex(s, servedIvfPqStore(s, dir), annQueries(s, dir),
        k = 5, nprobe = 2),
      k = 5)

  /** Snapshot diff between the corpus and a synthetic next version
    * (every 31st doc dropped, every 17th doc's text edited, three new
    * ids): the ingest-delta audit, joined on 16-byte digests only
    * ([[operators.Snapshot.diff]]). */
  /** The synthetic "next ingest" of the corpus the snapshot operators
    * audit against: every 31st doc dropped, every 17th doc's text
    * edited, three new ids. */
  private def nextVersion(old: DataFrame): DataFrame =
    old.filter(col("doc_id") % 31 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(old.filter(col("doc_id") < 3)
        .withColumn("doc_id", col("doc_id") + 1000000L))

  val corpusDiff: Q = (s, dir) => {
    val old = docs(s, dir)
    operators.Snapshot.diff(old, nextVersion(old), "doc_id", Seq("text"))
  }

  /** Term-distribution drift of the same synthetic next version: the 20
    * terms whose relative frequency moved most, ranked by the exact
    * DECIMAL cross-multiplied difference. */
  val corpusDrift: Q = (s, dir) => {
    val old = docs(s, dir)
    operators.Snapshot.termDrift(old, nextVersion(old), "text", k = 20)
  }

  /** Conjunctive search over the inverted postings index: documents
    * containing BOTH probe terms, ranked by exact matched term
    * frequency. */
  val textSearch: Q = (s, dir) =>
    operators.TextIndex.searchAll(
      operators.TextIndex.buildPostings(docs(s, dir), "doc_id", "text"),
      Seq("hash", "window"))

  /** Phrase search over the POSITIONAL postings index (r15): documents
    * saying "table table key" in order — the probe phrase repeats a
    * term deliberately, exercising the multi-slot fan-out (one posting
    * row can vote for several phrase slots). */
  val textPhrase: Q = (s, dir) =>
    operators.TextIndex.searchPhrase(
      operators.TextIndex.buildPositionalPostings(docs(s, dir), "doc_id", "text"),
      Seq("table", "table", "key"))

  /** DEPLOYMENT form of [[textPhrase]] (r16): the positional postings
    * persist ONCE per (application, corpus), DIRECTORY-partitioned on
    * the term digest ([[graft.operators.TextIndex.writePositionalIndex]]
    * — the Ann cell-directory convention, NOT a hash-bucketed table:
    * bucket pruning scans one task per bucket, and a common term's
    * posting list on 1 of 32 cores measured 3.4× SLOWER than the
    * inline rebuild at 5M docs; directory pruning reads the same 2/64
    * slice with full row-group split parallelism). The probe prunes
    * statically on `tb` (PartitionFilters asserted in LlmOpsSpec) and
    * the term `isin` filters inside the pruned directories, so a
    * phrase query against a 100 TB corpus reads the probe terms'
    * directories, never the index. Shares q_text_phrase's oracle
    * verbatim: parquet round-trips (term, doc_id, pos) exactly,
    * served ≡ inline by construction, the hash gate proves it. */
  val textPhraseServed: Q = (s, dir) => {
    val phrase = Seq("table", "table", "key")
    val (idx, buckets) = operators.TextIndex.openPositionalIndex(
      s, servedPosIndexPath(s, dir))
    operators.TextIndex.searchPhrase(
      operators.TextIndex.prunePositionalIndex(idx, phrase, buckets), phrase)
  }

  /** The partitioned positional index, a [[Store.once]] store. */
  private def servedPosIndexPath(s: SparkSession, dir: String): String =
    Store.once("pos_index", s, dir)(operators.TextIndex.writePositionalIndex(
      operators.TextIndex.buildPositionalPostings(docs(s, dir), "doc_id", "text"), _))

  /** INCREMENTAL form of [[textPhraseServed]] (r16): the standing
    * corpus (doc_id % 10 ≠ 0) persists its positional index ONCE; the
    * delta batch (doc_id % 10 = 0) APPENDS its postings at delta cost
    * ([[graft.operators.TextIndex.appendPositionalIndex]] —
    * log-structured files into the existing term directories, the
    * standing index never rewritten, the 31c4 gram-append convention
    * applied to the phrase family); the probe then searches the
    * build+append artifact exactly as the served row does. Results ≡
    * rebuilding over corpus∪delta by construction (same rows, two
    * writes), so it shares q_text_phrase's oracle VERBATIM and the
    * hash gate proves the append lost and invented nothing. */
  val textPhraseIncremental: Q = (s, dir) => {
    val phrase = Seq("table", "table", "key")
    val (idx, buckets) = operators.TextIndex.openPositionalIndex(
      s, servedPosIncIndexPath(s, dir))
    operators.TextIndex.searchPhrase(
      operators.TextIndex.prunePositionalIndex(idx, phrase, buckets), phrase)
  }

  /** The build-then-append positional index: one [[Store.once]] build
    * writes the corpus index and appends the delta, so the store's
    * marker commits the pair (writePositionalIndex's own `_GRAFT_DONE`
    * exists before the append lands and cannot). */
  private def servedPosIncIndexPath(s: SparkSession, dir: String): String =
    Store.once("pos_index_inc", s, dir) { p =>
      val d = docs(s, dir)
      operators.TextIndex.writePositionalIndex(
        operators.TextIndex.buildPositionalPostings(
          d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"), p)
      operators.TextIndex.appendPositionalIndex(
        operators.TextIndex.buildPositionalPostings(
          d.filter(col("doc_id") % 10 === 0), "doc_id", "text"), p)
    }

  /** Rarity-weighted OR search: top 20 docs by Σ tf·((N·10^6) DIV df) —
    * the IDF shape in exact BIGINT arithmetic, so the ranking (tie
    * boundary included) hash-matches. N (the corpus doc count) is a
    * catalog stat in deployment; here it is read once at plan time. */
  /** Corpus-relative vocabulary commonness (mean token-df in ppm);
    * nDocs is the catalog stat, read once at plan time. */
  val textCommonness: Q = (s, dir) => {
    val d = docs(s, dir)
    operators.TextAnalysis.commonnessScore(d, nDocs = d.count())
  }

  val textSearchRanked: Q = (s, dir) => {
    val d = docs(s, dir)
    operators.TextIndex.searchRanked(
      operators.TextIndex.buildPostings(d, "doc_id", "text"),
      Seq("hash", "window", "the"), nDocs = d.count(), k = 20)
  }

  /** Per-language percentile-rank length trim: drop each language's
    * shortest 5% and longest 5% of documents by n_chars — the
    * length-outlier curation filter, via the bounded two-phase ranking
    * (no hot-language window task). */
  val trimOutliers: Q = (s, dir) =>
    Sampling.trimByRank(docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars", "doc_id", loPct = 5, hiPct = 95, subWidth = 64L)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("grank"))

  // ---- composed curation pipeline ------------------------------------------

  /** End-to-end training-data prep — the composition a curation run
    * actually executes: language-ID → quality gate → normalized-
    * fingerprint dedup (canonical survivor only) → per-language token
    * budget. Stage order is the 100 TB-shape: langid/quality are pure
    * projections evaluated at scan speed, so the only two shuffles
    * (fingerprint window, final agg) see just the surviving rows. */
  val pipelinePrep: Q = (s, dir) => {
    val langed = TextAnalysis.langId(docs(s, dir))
    val kept = TextAnalysis.quality(langed).filter(col("keep"))
    val canon = TextAnalysis.fingerprint(kept).filter(col("is_canonical"))
    TextAnalysis.tokenCounts(canon)
      .groupBy(col("pred_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_total"),
        sum(col("bpe_tokens")).as("bpe_total"))
  }

  /** End-to-end TRAINING-RUN prep (r15) — the composition after
    * [[pipelinePrep]]'s aggregate view: the same curation ladder
    * (language-ID → quality gate → canonical-fingerprint dedup), then
    * the survivors MIX under a per-language token budget
    * ([[Sampling.tokenBudgetMixture]], half the surviving tokens,
    * α = ½ temperature weights) and the admitted set gets its epoch-0
    * training order ([[Sampling.shuffleOrder]]). One query from raw
    * corpus to (doc, train_idx) — the artifact a training job reads.
    * Every stage keeps its own scale shape (scan-speed projections,
    * fingerprint window, two-phase mixture, two-phase permutation);
    * composition adds no new shuffle class. */
  val pipelineTrain: Q = (s, dir) => {
    val langed = TextAnalysis.langId(docs(s, dir))
    val kept = TextAnalysis.quality(langed).filter(col("keep"))
    val canon = TextAnalysis.fingerprint(kept).filter(col("is_canonical"))
    val sized = canon.select(col("doc_id"), col("pred_lang"),
      size(split(col("text"), " ")).cast("long").as("tok"))
    val mixed = Sampling.tokenBudgetMixture(sized, "pred_lang", "doc_id",
      "tok", num = 1L, den = 2L, seed = "train0")
    Sampling.shuffleOrder(mixed, "doc_id", "epoch0")
      .select(col("doc_id"), col("pred_lang"), col("tok"),
        col("cum_tok"), col("budget"), col("train_idx"))
  }

  /** Corpus mixing: deterministic per-language sampling (downsample en to
    * 25%, keep zh whole, half everything else) — a scan-speed projection
    * whose kept-set is stable across runs and task retries. */
  val sampleStratified: Q = (s, dir) =>
    Sampling.stratifiedSample(docs(s, dir).select(col("doc_id"), col("lang")),
        "lang", "doc_id", rates = Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.5)
      .select(col("doc_id"), col("lang"), col("u256"))

  /** Temperature-weighted mixing (α = 1/2): per-language keep-rates
    * derived FROM the corpus's own counts — sqrt(n_min/n_i) — so the
    * output mixture flattens toward the rare languages without anyone
    * hand-tuning rates. Counts aggregate over one pruned column and the
    * thresholds broadcast back: the corpus itself never shuffles. */
  val sampleTemperature: Q = (s, dir) =>
    Sampling.temperatureSample(docs(s, dir).select(col("doc_id"), col("lang")),
        "lang", "doc_id")
      .select(col("doc_id"), col("lang"), col("u256"))

  /** Deterministic epoch shuffle: the corpus's training order as a
    * reproducible md5-keyed permutation (seed = the epoch label). */
  /** Systematic PPS sample of documents proportional to length — one
    * document per 10k chars of corpus in md5-shuffled order, landing ON
    * the sampled-weight budget rather than near it. */
  val sampleSystematic: Q = (s, dir) =>
    Sampling.systematicSample(
      docs(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", step = 10000L, seed = "sys0")
      .select(col("doc_id"), col("n_chars"), col("cum_w"))

  /** Per-source quota cap: at most 8 documents per source in
    * deterministic md5 order — the per-domain cap of web curation, via
    * the bounded two-phase ranking (no hot-domain window task). */
  val sampleQuota: Q = (s, dir) =>
    Sampling.quotaCap(docs(s, dir).select(col("doc_id"), col("source")),
        "source", "doc_id", quota = 8L, seed = "quota0")
      .select(col("doc_id"), col("source"), col("qrank"))

  val sampleShuffle: Q = (s, dir) =>
    Sampling.shuffleOrder(docs(s, dir).select(col("doc_id")), "doc_id", "epoch0")
      .select(col("doc_id"), col("skey"), col("train_idx"))

  /** Token-budget mixture: ¼ of the corpus's whitespace tokens, shared
    * across sources by √token-mass (α = ½ temperature reweighting),
    * each source admitting docs in md5 order until its share fills —
    * [[Sampling.tokenBudgetMixture]], the budgeted-by-TOKENS face of
    * the row-count quota family. */
  val sampleMixture: Q = (s, dir) =>
    Sampling.tokenBudgetMixture(
      docs(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok")),
      "source", "doc_id", "tok")
      .select(col("doc_id"), col("source"), col("tok"),
        col("cum_tok"), col("budget"))

  /** Sequence packing into 4096-token budgets per language shard; emits
    * the pack manifest (docs and tokens per pack). subWidth=64 forces
    * the two-phase sub-shard path through many occupied sub-shards even
    * at the sf0.01 correctness scale, so the oracle (a plain single
    * window — the semantics both forms implement) checks the offset
    * arithmetic for real. */
  val packSequences: Q = (s, dir) =>
    Sampling.packSequences(
        TextAnalysis.tokenCounts(docs(s, dir))
          .select(col("doc_id"), col("lang"), col("bpe_tokens")),
        "lang", "doc_id", "bpe_tokens", budget = 4096L, subWidth = 64L)
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bpe_tokens")).as("pack_tokens"))

  // ---- multimodal ----------------------------------------------------------

  val multimodalMeta: Q = (s, dir) =>
    Multimodal.withMetaFromDocs(docs(s, dir))
      .select(col("doc_id"), col("byte_len"), col("sha256"), col("magic"),
        col("container"), col("modality"))

  /** Container parameters parsed out of the binary column by the real
    * marker/chunk/box walks (Multimodal.containerParams). The oracle
    * computes the EXPECTED values from the synthesis formulas — a
    * hash-match proves the byte parser recovered exactly what the
    * structurally-valid headers embed, across the variable-length
    * filler segments that rule out fixed-offset shortcuts. */
  val multimodalDims: Q = (s, dir) =>
    Multimodal.containerParams(Multimodal.withMetaFromDocs(docs(s, dir)))
      .select(col("doc_id"), col("container"), col("width"), col("height"),
        col("sample_rate"), col("channels"), col("timescale"),
        col("duration_ts"))

  /** REAL audio decode: channel-0 PCM samples read straight from the
    * WAV rows' bytes (16-bit LE needs no codec) and reduced to integer
    * signal features. The oracle independently re-decodes the payload
    * from the synthesis construction — a hash-match proves the RIFF
    * walk found the right data offset and the sample arithmetic is
    * bit-exact. Rows shorter than one frame carry no signal and are
    * filtered on both sides. */
  val audioPcm: Q = (s, dir) =>
    Multimodal.audioPcmStats(Multimodal.synthMedia(docs(s, dir)))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"), col("peak_abs"),
        col("sum_sq"), col("n_zero_cross"))

  /** REAL image decode (r10): the media lake's PNG rows (the doc_id%5=1
    * arm) carry complete deterministic RGB PNGs — real zlib IDAT, real
    * CRCs, every scanline filtered with type y%5 so all five PNG filter
    * types appear — and `graft_png_pixels` runs the full decode (chunk
    * walk → inflate → unfilter → channel sums). The oracle re-derives
    * width/height/sums ARITHMETICALLY from the synthesis formula
    * (pixel byte i = (doc_id·31 + i·7) % 256) without touching bytes:
    * a hash-match proves the decompression and the filter reversal are
    * bit-exact. */
  val imagePixels: Q = (s, dir) =>
    Multimodal.imagePixelStats(
      docs(s, dir).filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"),
          call_function("graft_png_synth", col("doc_id")).as("bytes")))
      .select(col("doc_id"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))

  /** REAL image resize (r10): factor-2 box-filter downsample over the
    * decoded pixels of the media lake's PNG rows — the resize rung of
    * the multimodal ladder. The oracle re-derives every output pixel
    * arithmetically: group the synthesis formula's bytes by
    * (x div 2, y div 2, channel) and integer-divide the block sums (a
    * floor-average, matching the expression's integer arithmetic
    * exactly — edge blocks average over their actual pixel count). */
  val imageResize: Q = (s, dir) =>
    Multimodal.imageResize(
      docs(s, dir).filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"),
          call_function("graft_png_synth", col("doc_id")).as("bytes")),
      factor = 2)
      .select(col("doc_id"), col("px"), col("py"),
        col("r"), col("g"), col("b"))

  /** REAL video frame decode + frame sampling (r10): the media lake's
    * video arm (doc_id%5=3) carries complete deterministic DIB-frame
    * AVIs — real RIFF sizes, consistent avih/strf headers, a
    * variable-length JUNK chunk so fixed offsets cannot work, BGR
    * byte order and DWORD row padding so a naive byte-summer cannot
    * hash-match — and `graft_avi_frames` runs the full container walk
    * and per-frame pixel extraction, keeping every 2nd frame (the
    * frame-sample contract). The oracle re-derives each kept frame's
    * channel sums ARITHMETICALLY from the synthesis formula (stored
    * byte j of frame f = (doc_id·37 + f·11 + j·5) % 256, pad bytes
    * excluded, channel = DIB's B,G,R order) without touching bytes. */
  val videoFrames: Q = (s, dir) =>
    Multimodal.videoFrameStats(
      docs(s, dir).filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"),
          call_function("graft_avi_synth", col("doc_id")).as("bytes")),
      sampleEvery = 2)
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))

  /** REAL frame demux (r11): every 2nd frame's RAW DIB BYTES extracted
    * from the media lake's video arm with its EXACT presentation time
    * (frame_idx · avih dwMicroSecPerFrame — integer, no float in the
    * contract) via `graft_avi_demux` — the extraction twin of
    * q_video_frames' stats pass, retiring the even-byte-slice
    * frameSample stub for the AVI arm. Bytes are adjudicated as
    * md5-of-hex so the oracle — which re-derives every frame byte
    * ARITHMETICALLY from the synthesis formula, pad bytes included
    * (raw DIB rows ship their DWORD padding) — never touches a blob. */
  val videoDemux: Q = (s, dir) =>
    docs(s, dir).filter(col("doc_id") % 5 === 3)
      .select(col("doc_id"),
        call_function("graft_avi_synth", col("doc_id")).as("bytes"))
      .select(col("doc_id"),
        explode(call_function("graft_avi_demux", col("bytes"), lit(2))).as("_fr"))
      .select(col("doc_id"), col("_fr.frame_idx").as("frame_idx"),
        col("_fr.pts_us").as("pts_us"),
        octet_length(col("_fr.frame_bytes")).cast("long").as("frame_len"),
        md5(hex(col("_fr.frame_bytes"))).as("frame_md5"))

  /** REAL MP4 sample demux (r12): every 2nd sample's RAW BYTES and
    * exact floor-µs presentation time extracted via the ISO-BMFF sample
    * tables (`graft_mp4_demux`, plans/Mp4Exprs.scala — stts/stsc/stsz/
    * stco walk, no codec touched), closing the frame-extraction ladder:
    * AVI got exact-pts demux in r11, MP4 gets it here. The synthetic
    * container has TWO stts runs and TWO chunks, so constant-rate or
    * single-chunk shortcuts cannot hash-match; the oracle re-derives
    * every sample byte arithmetically from the synthesis formula and
    * every pts from the stts run arithmetic, never touching a blob. */
  val videoDemuxMp4: Q = (s, dir) =>
    docs(s, dir).filter(col("doc_id") % 5 === 3)
      .select(col("doc_id"),
        call_function("graft_mp4_synth", col("doc_id")).as("bytes"))
      .select(col("doc_id"),
        explode(call_function("graft_mp4_demux", col("bytes"), lit(2))).as("_fr"))
      .select(col("doc_id"), col("_fr.frame_idx").as("frame_idx"),
        col("_fr.pts_us").as("pts_us"),
        octet_length(col("_fr.frame_bytes")).cast("long").as("frame_len"),
        md5(hex(col("_fr.frame_bytes"))).as("frame_md5"))

  /** REAL JPEG decode (r11): the last decode rung — baseline JFIF over
    * the media lake's jpeg arm (doc_id%5=0), decoded by
    * `graft_jpeg_pixels` (plans/JpegExprs.scala): marker walk, DHT
    * canonical Huffman entropy decode, differential DC, dequant, the
    * 13-bit fixed-point integer IDCT, fixed-point YCbCr→RGB, crop to
    * the real (non-multiple-of-8) dimensions. The synthesis pins the
    * QUANTIZED COEFFICIENTS (DC-only blocks, luma q0 = 8 cancels the
    * transform's /8), so the oracle re-derives every decoded pixel —
    * `dc + 128` per block, then the exact fixed-point color formula —
    * arithmetically, never touching bytes: a hash match proves the
    * whole chain is bit-exact. */
  val imageJpeg: Q = (s, dir) =>
    docs(s, dir).filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        call_function("graft_jpeg_pixels",
          call_function("graft_jpeg_synth", col("doc_id"))).as("_px"))
      .select(col("doc_id"),
        element_at(col("_px"), 1).as("width"),
        element_at(col("_px"), 2).as("height"),
        element_at(col("_px"), 3).as("sum_r"),
        element_at(col("_px"), 4).as("sum_g"),
        element_at(col("_px"), 5).as("sum_b"))

  /** Overlapping 64-word chunks with 16-word overlap — the
    * retrieval/training chunking pass over the corpus. */
  val chunkDocs: Q = (s, dir) =>
    TextAnalysis.chunkDocs(docs(s, dir), window = 64, overlap = 16)

  /** 8 BPE merges trained on the corpus vocabulary — the tokenizer-
    * training pass (operators.Tokenize); the merge table IS the model. */
  val bpeMerges: Q = (s, dir) =>
    operators.Tokenize.bpeMerges(docs(s, dir), nMerges = 8)

  /** Tokenize the corpus with the 8 merges trained on it: per-doc BPE
    * token counts. The trained model (8 rows) loads driver-side like a
    * serving job reads the persisted merge table. */
  val bpeTokenize: Q = (s, dir) => {
    val model = operators.Tokenize.bpeMerges(docs(s, dir), nMerges = 8)
      .orderBy(col("merge_idx"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    operators.Tokenize.bpeTokenCounts(docs(s, dir), model)
  }

  /** SERVING-shape tokenize (r10): the trained merge table is WRITTEN
    * once to a persisted store and the tokenize pass READS the model
    * instead of re-training inline — the `buildIndex`/`searchIndex`
    * pattern applied to the tokenizer, matching deployment (a tokenize
    * job never retrains) and keeping training priced exactly once in
    * the headline (by q_bpe_merges). Parquet round-trips the model's
    * strings and BIGINTs exactly, so the per-doc counts are
    * bit-identical to the inline formulation — the same unrolled-chain
    * oracle adjudicates both. */
  val bpeTokenizeServed: Q = (s, dir) => {
    val store = Store.once("bpe_model", s, dir)(
      operators.Tokenize.bpeMerges(docs(s, dir), nMerges = 8).write.parquet(_))
    val model = s.read.parquet(store)
      .orderBy(col("merge_idx"))
      .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    operators.Tokenize.bpeTokenCounts(docs(s, dir), model)
  }

  val queries: Map[String, Q] = Map(
    "q_bpe_merges"          -> bpeMerges,
    "q_bpe_tokenize"        -> bpeTokenize,
    "q_bpe_tokenize_served" -> bpeTokenizeServed,
    "q_chunk_docs"          -> chunkDocs,
    "q_audio_pcm"           -> audioPcm,
    "q_dedup_exact"         -> dedupExact,
    "q_dedup_ngram_jaccard" -> dedupNgramJaccard,
    "q_simjoin_prefix"      -> dedupPrefixJaccard,
    "q_simjoin_blocked"     -> dedupPrefixJaccardBlocked,
    "q_dedup_minhash"       -> dedupMinhash,
    "q_dedup_clusters"      -> dedupClusters,
    "q_dedup_survivors"     -> dedupSurvivors,
    "q_dedup_incremental"   -> dedupIncremental,
    "q_dedup_simhash"       -> dedupSimhash,
    "q_dedup_embcos"        -> dedupEmbCos,
    "q_dedup_spans"         -> dedupSpans,
    "q_dedup_substrings"    -> dedupSubstrings,
    "q_dedup_substr_incremental" -> dedupSubstrIncremental,
    "q_dedup_substr_served" -> dedupSubstrServed,
    "q_dedup_recall"        -> dedupRecall,
    "q_dedup_recall_geom"   -> dedupRecallGeom,
    "q_dedup_semdedup"      -> dedupSemantic,
    "q_dedup_semdedup_probe2" -> dedupSemanticProbe2,
    "q_dedup_recall_semdedup" -> dedupRecallSemdedup,
    "q_dedup_recall_semdedup_probe2" -> dedupRecallSemdedupProbe2,
    "q_dedup_recall_simhash" -> dedupRecallSimhash,
    "q_dedup_recall_embcos" -> dedupRecallEmbcos,
    "q_ingest_gates"        -> ingestGates,
    "q_ingest_gates_served" -> ingestGatesServed,
    "q_ingest_index_update" -> ingestIndexUpdate,
    "q_ingest_recall"       -> ingestRecall,
    "q_freq_heavyhitters"   -> freqHeavyHitters,
    "q_freq_hh_grouped"     -> freqHeavyHittersGrouped,
    "q_freq_cms"            -> freqCms,
    "q_bloom_probe"         -> bloomProbe,
    "q_corpus_diff"         -> corpusDiff,
    "q_corpus_drift"        -> corpusDrift,
    "q_text_search"         -> textSearch,
    "q_text_search_ranked"  -> textSearchRanked,
    "q_text_phrase"         -> textPhrase,
    "q_text_phrase_served"  -> textPhraseServed,
    "q_text_phrase_incremental" -> textPhraseIncremental,
    "q_trim_outliers"       -> trimOutliers,
    "q_text_langid"         -> textLangid,
    "q_text_quality"        -> textQuality,
    "q_text_tokens"         -> textTokens,
    "q_text_fingerprint"    -> textFingerprint,
    "q_text_pii"            -> textPii,
    "q_text_perplexity"     -> textPerplexity,
    "q_text_perplexity_served" -> textPerplexityServed,
    "q_text_ppl_buckets"    -> textPplBuckets,
    "q_lm_gate_recall"      -> lmGateRecall,
    "q_text_repetition"     -> textRepetition,
    "q_decontaminate"       -> decontaminate,
    "q_sim_topk"            -> simTopk,
    "q_sim_knn"             -> simKnn,
    "q_text_commonness"     -> textCommonness,
    "q_sim_ivf"             -> simIvf,
    "q_sim_ivf_probe2"      -> simIvfProbe2,
    "q_sim_recall"          -> simRecall,
    "q_sim_recall_sweep"    -> simRecallSweep,
    "q_sim_kmeans"          -> simKmeans,
    "q_sim_pq"              -> simPq,
    "q_sim_ivfpq"           -> simIvfPq,
    "q_sim_ivfpq_served"    -> simIvfPqServed,
    "q_sim_ivfpq_incremental" -> simIvfPqIncremental,
    "q_sim_recall_pq"       -> simRecallPq,
    "q_sim_recall_ivfpq"    -> simRecallIvfPq,
    "q_pipeline_prep"       -> pipelinePrep,
    "q_pipeline_train"      -> pipelineTrain,
    "q_sample_stratified"   -> sampleStratified,
    "q_sample_mixture"      -> sampleMixture,
    "q_sample_quota"        -> sampleQuota,
    "q_sample_systematic"   -> sampleSystematic,
    "q_sample_temperature"  -> sampleTemperature,
    "q_shuffle_order"       -> sampleShuffle,
    "q_pack_sequences"      -> packSequences,
    "q_multimodal_meta"     -> multimodalMeta,
    "q_multimodal_dims"     -> multimodalDims,
    "q_image_pixels"        -> imagePixels,
    "q_image_resize"        -> imageResize,
    "q_video_frames"        -> videoFrames,
    "q_video_demux"         -> videoDemux,
    "q_video_demux_mp4"     -> videoDemuxMp4,
    "q_image_jpeg"          -> imageJpeg)

  // ---- DuckDB oracles ------------------------------------------------------

  /** Distinct word-3-shingles CTE (DuckDB twin of Dedup.shingled). */
  private val shinglesCte =
    """words AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM words, unnest(generate_series(1, greatest(len(w)-2, 0))) t(i)
      |)""".stripMargin

  private def sqlList(xs: Seq[String]): String =
    xs.map("'" + _ + "'").mkString("[", ",", "]")

  /** chr(1) — the reserved symbol delimiter of the BPE oracle's string
    * representation (Tokenize.Delim on the Spark side). */
  private val bpeD = "chr(1)"

  /** The unrolled 8-iteration BPE TRAINING chain (w0/vc/v0, then per
    * round: l/p/b/v CTEs) — shared by the merge-table oracle and the
    * tokenize oracle so the two can never train apart. Ends at the last
    * CTE (no trailing comma).
    *
    * Every CTE is MATERIALIZED — the q_pagerank lesson repeated:
    * DuckDB inlines plain CTEs per reference, and the chained v/l
    * references re-derive the corpus-wide word explode once per
    * iteration — measured at sf10 the naive form ran 21 minutes,
    * spilled the host's remaining ~70 GB of disk and DIED; the
    * materialized form answers in ~4 s. */
  private val bpeTrainCtes: String = {
    def iter(k: Int): String =
      s"""l$k AS MATERIALIZED (
         |  SELECT wc, string_split(substr(s, 2, length(s) - 2),
         |                          $bpeD || $bpeD) AS syms
         |  FROM v$k
         |), p$k AS MATERIALIZED (
         |  SELECT syms[i] AS a, syms[i+1] AS b, SUM(wc) AS n
         |  FROM l$k, LATERAL unnest(generate_series(1, len(syms) - 1)) t(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2
         |), b$k AS MATERIALIZED (
         |  SELECT a, b, CAST(n AS BIGINT) AS n FROM p$k
         |  ORDER BY n DESC, a ASC, b ASC LIMIT 1
         |), v${k + 1} AS MATERIALIZED (
         |  SELECT wc, replace(s, $bpeD || a || $bpeD || $bpeD || b || $bpeD,
         |                     $bpeD || a || b || $bpeD) AS s
         |  FROM v$k, b$k
         |)""".stripMargin
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT u.w AS word
       |  FROM (SELECT string_split(text, ' ') AS a FROM documents) dd,
       |       LATERAL unnest(a) u(w)
       |  WHERE length(u.w) > 0 AND strpos(u.w, $bpeD) = 0
       |), vc AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS wc FROM w0 GROUP BY 1
       |), v0 AS MATERIALIZED (
       |  SELECT wc, array_to_string(list_transform(
       |    generate_series(1, length(word)), i -> $bpeD || word[i] || $bpeD), '') AS s
       |  FROM vc
       |),
       |${(0 until 8).map(iter).mkString(",\n")}""".stripMargin
  }

  /** Training chain + encode chain: every distinct word folds through
    * the 8 trained replaces (a LEFT JOIN guards an exhausted round —
    * the word passes through unchanged, as in the Spark fold), then the
    * corpus occurrences join the per-word token counts. Shared by
    * q_bpe_tokenize (inline training) and q_bpe_tokenize_served
    * (persisted model) — parquet round-trips the model bit-exactly, so
    * the two queries are the same function of the corpus. */
  private lazy val bpeTokenizeOracle: String =
    bpeTrainCtes + "," +
      s""" a0 AS MATERIALIZED (
       |  SELECT word, array_to_string(list_transform(
       |    generate_series(1, length(word)),
       |    i -> $bpeD || word[i] || $bpeD), '') AS s
       |  FROM (SELECT DISTINCT word FROM w0)
       |),
       |${(0 until 8).map(k =>
          s"""a${k + 1} AS MATERIALIZED (
             |  SELECT word, CASE WHEN b$k.a IS NULL THEN s ELSE
             |    replace(s, $bpeD || b$k.a || $bpeD || $bpeD || b$k.b || $bpeD,
             |            $bpeD || b$k.a || b$k.b || $bpeD) END AS s
             |  FROM a$k LEFT JOIN b$k ON true
             |)""".stripMargin).mkString(",\n")},
       |wt AS MATERIALIZED (
       |  SELECT word, len(string_split(substr(s, 2, length(s) - 2),
       |                                $bpeD || $bpeD)) AS wt
       |  FROM a8
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(wt) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT dd0.doc_id, u.w AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents) dd0,
       |       LATERAL unnest(a) u(w)
       |  WHERE length(u.w) > 0 AND strpos(u.w, $bpeD) = 0
       |) dw JOIN wt USING (word)
       |GROUP BY 1
       |""".stripMargin

  /** Per-doc shingle counts `sizes` and per-pair shared-shingle counts
    * `common` over the distinct shingles `sh0` — the inverted-index
    * core of the exact τ-Jaccard join. */
  private val jaccardCommonCtes: String =
    """sizes AS (
  SELECT doc_id, count(*) AS nsh FROM sh0 GROUP BY 1
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh0 a JOIN sh0 b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

  /** The exact τ=0.8 Jaccard truth pairs `truth` (q_simjoin_prefix's
    * join) — the ground truth of every minhash/simhash quality row. */
  private def jaccardTruthSql(materialized: Boolean): String =
    jaccardCommonCtes + s""", truth AS ${if (materialized) "MATERIALIZED " else ""}(
  SELECT doc_a, doc_b FROM common
  JOIN sizes na ON doc_a = na.doc_id
  JOIN sizes nb ON doc_b = nb.doc_id
  WHERE n_common * 1000000 >= 800000 * (na.nsh + nb.nsh - n_common)
)"""

  /** Naive inverted-index oracle for the exact τ-Jaccard join — the
    * clearest spec of the survivor set; shared verbatim by the
    * production-geometry and forced-block-decomposition queries. */
  private val prefixJoinOracle: String =
    "WITH " + shinglesCte + ",\n" + jaccardCommonCtes + """
SELECT doc_a, doc_b, n_common,
  CAST(n_common AS DOUBLE) / (na.nsh + nb.nsh - n_common) AS jaccard
FROM common
JOIN sizes na ON doc_a = na.doc_id
JOIN sizes nb ON doc_b = nb.doc_id
WHERE n_common * 1000000 >= 800000 * (na.nsh + nb.nsh - n_common)"""

  /** The (doc_a, doc_b) join key of a truth row `t` and a candidate `m`. */
  private val pairKeySql = "t.doc_a = m.doc_a AND t.doc_b = m.doc_b"

  /** The truth/candidate membership flags of one full-joined pair row. */
  private val pairFlagsSql = "t.doc_a IS NOT NULL AS is_t, m.doc_a IS NOT NULL AS is_c"

  /** pairEvalMetrics' three counts over the flagged rows. */
  private val pairCountsSql =
    """SELECT CAST(COALESCE(SUM(CASE WHEN is_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true,
         CAST(COALESCE(SUM(CASE WHEN is_c THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cand,
         CAST(COALESCE(SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_caught"""

  /** pairEvalMetrics' DIV-floored percentages over the counts. */
  private val pairPctSql =
    """  CASE WHEN n_true > 0 THEN n_caught * 100 // n_true END AS recall_pct,
  CASE WHEN n_cand > 0 THEN n_caught * 100 // n_cand END AS precision_pct"""

  /** pairEvalMetrics' SQL twin, as the tail of a WITH: `u` flags each
    * row of `fullJoin` (the FROM clause full-joining the `truth t` pairs
    * with the candidate pairs `m`), `agg` counts, the SELECT grades. */
  private def pairEvalSql(fullJoin: String): String =
    s"""u AS (
  SELECT $pairFlagsSql
  $fullJoin
), agg AS (
  $pairCountsSql
  FROM u
)
SELECT n_true, n_cand, n_caught,
$pairPctSql
FROM agg"""

  /** DuckDB twin of Similarity.shingleHash: first 15 md5 hex nibbles →
    * 60-bit BIGINT (column `hx` holds the md5 hex) — the ONE shared
    * fragment, hoisted to Freq.hexToHSql so QueriesEvents' oracle twins
    * cannot drift from these. */
  private val hexToH: String = graft.operators.Freq.hexToHSql

  /** The permutation-constant table (p, C_p, A_p) — the SAME driver-side
    * Scala values Similarity.permuted inlines into the Spark plan. */
  private val permConsts: String = (0 until 8)
    .map(p => s"(${p}, ${graft.functions.Similarity.permC(p)}, ${graft.functions.Similarity.permA(p)})")
    .mkString(", ")

  private val langScores = TextAnalysis.Stopwords
    .map { case (l, ws) =>
      s"CAST(len(list_intersect(dw, ${sqlList(ws)})) AS INT) AS s_$l"
    }.mkString(",\n  ")
  private val mx = TextAnalysis.Stopwords.map { case (l, _) => s"s_$l" }
    .mkString("greatest(", ", ", ")")
  private val predCase = TextAnalysis.Stopwords
    .map { case (l, _) => s"WHEN s_$l = $mx THEN '$l'" }
    .mkString(s"CASE WHEN $mx = 0 THEN 'und' ", " ", " END")

  /** Shared CTE chain ending in `bands` — each doc's 4 minhash-LSH band
    * keys (with the COMBINED-population bucket size). Prefix of
    * [[minhashPairsChain]]; also used alone by the incremental-dedup
    * oracle, whose index/delta split recomputes bucket sizes over the
    * corpus side only. */
  /** Prefix of [[minhashBandsChain]] ending in `sigs` (per-doc 8-perm
    * signatures) — shared with the geometry-sweep oracle, which derives
    * THREE bandings from the same signatures. */
  private val minhashSigsChain: String = shinglesCte + s""",
shh0 AS (
  SELECT doc_id, md5(s) AS hx FROM sh0
), shh AS (
  SELECT doc_id, $hexToH AS h FROM shh0
), pc AS (
  SELECT * FROM (VALUES $permConsts) v(p, c, a)
), perm AS (
  SELECT doc_id, p, min(((xor(h, c) % 2147483647) * a) % 2147483647) AS sig
  FROM shh, pc
  GROUP BY 1, 2
), sigs AS (
  SELECT doc_id, list(sig ORDER BY p) AS sig FROM perm GROUP BY 1
)"""

  private val minhashBandsChain: String = minhashSigsChain + s""",
bands AS (
  SELECT doc_id, b, bk, count(*) OVER (PARTITION BY b, bk) AS bsz FROM (
    SELECT doc_id, b,
      md5(CAST(sig[b*2+1] AS VARCHAR) || '|' || CAST(sig[b*2+2] AS VARCHAR)) AS bk
    FROM sigs, unnest(generate_series(0, 3)) t(b))
)"""

  /** Shared CTE chain ending in `mh_pairs` — the minhash-LSH candidate
    * pairs. Used verbatim by BOTH the pair oracle (q_dedup_minhash) and
    * the cluster oracle (q_dedup_clusters), so the two rows can never
    * drift apart on the candidate semantics. */
  private val minhashPairsChain: String = minhashBandsChain + s""",
mh_pairs AS (
  -- candidate iff the FIRST co-bucketing band is uncapped (capped
  -- buckets are mass-dup clusters owned by exact dedup —
  -- Dedup.firstMatch twin); n_bands counts ALL agreeing bands (the
  -- similarity estimate does not depend on the performance cap)
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING arg_min(a.bsz, a.b) <= 10000
)"""

  /** One geometry's bands+candidates CTEs over the shared `sigs`
    * (suffix-tagged): band key = md5 of the '|'-joined rows-per-band
    * signature slice — Dedup.bandKeyCol's SQL twin at arbitrary
    * geometry, with the same first-uncapped-band ownership rule. */
  private def geomCtes(tag: String, bands: Int): String = {
    val rows = 8 / bands
    val key = (0 until rows).map(r => s"CAST(sig[b*$rows + ${r + 1}] AS VARCHAR)")
      .mkString(" || '|' || ")
    s"""bands$tag AS (
  SELECT doc_id, b, bk, count(*) OVER (PARTITION BY b, bk) AS bsz FROM (
    SELECT doc_id, b, md5($key) AS bk
    FROM sigs, unnest(generate_series(0, ${bands - 1})) t(b))
), cand$tag AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands$tag a JOIN bands$tag b
    ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING arg_min(a.bsz, a.b) <= 10000
)"""
  }

  /** One geometry's graded eval row (the pairEvalMetrics tail in SQL),
    * against the shared `truth` CTE. */
  private def geomEval(tag: String, bands: Int): String =
    s"""SELECT CAST($bands AS INT) AS bands, CAST(${8 / bands} AS INT) AS rows_per_band,
  n_true, n_cand, n_caught,
$pairPctSql
FROM (
  $pairCountsSql
  FROM (
    SELECT $pairFlagsSql
    FROM truth t FULL JOIN cand$tag m
      ON $pairKeySql) u) agg"""

  /** Transitive closure over `mh_pairs` ending in `lbl` (id → component
    * minimum) — shared by the cluster and survivor oracles so the three
    * minhash-derived rows (pairs, clusters, survivors) can never drift
    * on candidate or closure semantics. */
  private val closureChain: String = minhashPairsChain + """,
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
  UNION
  SELECT doc_b, doc_a FROM mh_pairs
), reach(id, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.id
), lbl AS (
  SELECT id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY 1
)"""

  /** DuckDB twin of the IVF chain (centroids → probe nprobe cells →
    * exact top-k in the probed cells) — the same SQL verifies both the
    * inline (q_sim_ivf) and the persisted-index (q_sim_ivf_probe2)
    * formulations, because parquet round-trips floats/doubles exactly. */
  private def ivfOracle(nprobe: Int): String =
    s"""WITH cent AS (
       |  SELECT label AS cell, i,
       |    CAST(CAST(SUM(CAST(embedding[i+1] AS DECIMAL(27,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS c
       |  FROM embeddings, unnest(generate_series(0, 63)) t(i)
       |  WHERE vec_id >= 5
       |  GROUP BY 1, 2
       |), cvec AS (
       |  SELECT cell, list(c ORDER BY i) AS ce FROM cent GROUP BY 1
       |), $embQueryCte, probe AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT query_id, qe, cell,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY cscore DESC, cell ASC) AS crnk
       |    FROM (
       |      SELECT q.query_id, q.qe, cv.cell,
       |        CAST(floor(list_dot_product(q.qe, cv.ce)
       |              / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(cv.ce, cv.ce)))
       |              * 1000000) AS BIGINT) AS cscore
       |      FROM q, cvec cv) x) y
       |  WHERE crnk <= $nprobe
       |), scored AS (
       |  SELECT p.query_id, e.label AS cell, e.vec_id AS corpus_id,
       |    CAST(floor(list_dot_product(p.qe, CAST(e.embedding AS DOUBLE[]))
       |          / (sqrt(list_dot_product(p.qe, p.qe))
       |             * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
       |          * 1000000) AS BIGINT) AS score_q
       |  FROM probe p JOIN embeddings e ON e.label = p.cell AND e.vec_id >= 5
       |)
       |SELECT query_id, cell, corpus_id, CAST(rnk AS INT) AS rnk, score_q FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY score_q DESC, corpus_id ASC) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 10""".stripMargin

  /** The ANN corpus CTE `name` (twin of annCorpus without the label):
    * every vector but the five queries, cast to DOUBLE[]; `where`
    * narrows it (the incremental oracle's base slice). */
  private def embCorpusCte(name: String = "c", where: String = "vec_id >= 5"): String =
    s"""$name AS (
       |  SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS ce
       |  FROM embeddings WHERE $where
       |)""".stripMargin

  /** The five ANN queries as the CTE `q` (twin of annQueries). */
  private val embQueryCte: String =
    """q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 5
      |)""".stripMargin

  /** 1e-6-quantized cosine in DuckDB — the SQL twin of Ann.cosQ /
    * graft_cosine (same floor, same tick). */
  private def cosSql(a: String, b: String): String =
    s"""CAST(floor(list_dot_product($a, $b)
       |      / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))
       |      * 1000000) AS BIGINT)""".stripMargin

  /** Quantized subspace L2 in SQL — twin of Ann.pqDq: per-term floor
    * then BIGINT sum over the 8 subspace dims (order-free). */
  private def pqDqSql(a: String, b: String): String =
    (1 to 8).map(i =>
      s"CAST(floor(($a[$i] - $b[$i]) * ($a[$i] - $b[$i]) * 1000000.0) AS BIGINT)")
      .mkString(" + ")

  /** One PQ ASSIGNMENT step in SQL (twin of Ann.pqAssign): subvector
    * CTE `sv` (overridable — the incremental oracle encodes the FULL
    * corpus's subvectors against the base-trained codebook) ×
    * per-subspace codebook, argmin quantized L2, ties to the lower
    * cell. */
  private def pqAssignSql(cb: String, sv: String = "sv"): String =
    s"""SELECT corpus_id, sub, cell, d, sv FROM (
       |    SELECT v.corpus_id, v.sub, k.cell, ${pqDqSql("v.sv", "k.sc")} AS d, v.sv,
       |      ROW_NUMBER() OVER (PARTITION BY v.corpus_id, v.sub
       |                         ORDER BY ${pqDqSql("v.sv", "k.sc")} ASC, k.cell ASC) AS rk
       |    FROM $sv v JOIN $cb k ON k.sub = v.sub) x WHERE rk = 1""".stripMargin

  /** One PQ UPDATE step in SQL (twin of Ann.pqMeans): per-(sub, cell)
    * per-dimension DECIMAL(27,10) means over the subvector slices. */
  private def pqMeansSql(assign: String): String =
    s"""SELECT sub, cell, list(v ORDER BY i) AS sc FROM (
       |    SELECT a.sub, a.cell, i,
       |      CAST(CAST(SUM(CAST(a.sv[i+1] AS DECIMAL(27,10))) AS VARCHAR) AS DOUBLE)
       |        / COUNT(*) AS v
       |    FROM ($assign) a, unnest(generate_series(0, 7)) t(i)
       |    GROUP BY 1, 2, 3) m GROUP BY 1, 2""".stripMargin

  /** One Lloyd ASSIGNMENT step in SQL (twin of Ann.assignCells): corpus
    * CTE `c` (overridable — the incremental oracle assigns the FULL
    * corpus against the base-trained centroids) × codebook CTE
    * `cents`, argmax quantized cosine, ties to the lower cell. */
  private def kmAssign(cents: String, corpus: String = "c"): String =
    s"""SELECT corpus_id, cell, score FROM (
       |  SELECT c.corpus_id, k.cell, ${cosSql("c.ce", "k.ce")} AS score,
       |    ROW_NUMBER() OVER (PARTITION BY c.corpus_id
       |                       ORDER BY ${cosSql("c.ce", "k.ce")} DESC, k.cell ASC) AS rk
       |  FROM $corpus c, $cents k) x WHERE rk = 1""".stripMargin

  /** One Lloyd UPDATE step in SQL (twin of Ann.centroids): per-cell
    * per-dimension DECIMAL(27,10) means over the RAW float embeddings —
    * the same accumulator type and float element source as the Spark
    * side, so the centroid doubles are bit-identical. */
  private def kmMeans(assign: String): String =
    s"""SELECT cell, list(v ORDER BY i) AS ce FROM (
       |  SELECT a.cell, i,
       |    CAST(CAST(SUM(CAST(e.embedding[i+1] AS DECIMAL(27,10))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS v
       |  FROM $assign a JOIN embeddings e ON e.vec_id = a.corpus_id,
       |       unnest(generate_series(0, 63)) t(i)
       |  GROUP BY 1, 2) m GROUP BY 1""".stripMargin

  /** Trigram-LM surprisal oracle — shared verbatim by the inline
    * (q_text_perplexity) and served (q_text_perplexity_served) forms:
    * the output is representation-free, so one SQL grades both the
    * explode-join-aggregate corpus shape and the embedded compiled
    * model table. */
  private lazy val phraseOracle: String =
    """WITH p AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, a[i] AS term
      |  FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents) d,
      |       unnest(generate_series(1, len(a))) t(i)
      |  WHERE len(a[i]) > 0
      |), s(term, slot) AS (
      |  VALUES ('table', 0), ('table', 1), ('key', 2)
      |), m AS (
      |  SELECT p.doc_id, p.pos - s.slot AS anchor, s.slot
      |  FROM p JOIN s ON p.term = s.term
      |  WHERE p.pos - s.slot >= 0
      |), g AS (
      |  SELECT doc_id, anchor FROM m GROUP BY doc_id, anchor
      |  HAVING COUNT(DISTINCT slot) = 3
      |)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  CAST(MIN(anchor) AS BIGINT) AS first_pos
      |FROM g GROUP BY 1""".stripMargin

  private lazy val perplexityOracle: String =
    """WITH tri AS (
  SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS tri
  FROM documents, unnest(generate_series(1, length(text) - 2)) t(i)
  WHERE length(text) >= 3
), model AS (
  SELECT tri, COUNT(*) AS cnt FROM tri WHERE lang = 'en' GROUP BY 1
), tot AS (
  SELECT SUM(cnt) AS tot, COUNT(*) AS v FROM model
), scored AS (
  SELECT d.doc_id, d.lang,
    COUNT(*) AS n_tri,
    CAST(SUM(CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
    CAST(SUM(length(bin(COALESCE(m.cnt, 0) + 1))) AS BIGINT) AS sum_bl
  FROM tri d LEFT JOIN model m ON d.tri = m.tri
  GROUP BY 1, 2
)
SELECT s.doc_id, s.lang, s.n_tri, s.n_oov,
  CAST((length(bin(t.tot + t.v)) * s.n_tri - s.sum_bl) * 1000 // s.n_tri AS BIGINT) AS surprisal_mb,
  CAST((length(bin(t.tot + t.v)) * s.n_tri - s.sum_bl) * 1000 // s.n_tri AS BIGINT) < 7340 AS keep
FROM scored s, tot t"""

  /** Top-2 assignment twin of kmAssign (r15, the probe2 rows): same
    * rank expression, rk <= 2 retained with the rank emitted. NULLS
    * LAST is explicit — the Spark fold keeps null-score cells after
    * every defined one, and this SQL must pin the same order even on a
    * corpus with zero-norm vectors. */
  private def kmAssignTop2(cents: String): String =
    s"""SELECT corpus_id, ce, cell, rk FROM (
       |  SELECT c.corpus_id, c.ce, k.cell,
       |         ROW_NUMBER() OVER (PARTITION BY c.corpus_id
       |                       ORDER BY ${cosSql("c.ce", "k.ce")} DESC NULLS LAST,
       |                                k.cell ASC) AS rk
       |  FROM c, $cents k) x WHERE rk <= 2""".stripMargin

  /** The hash-seeded 2-iteration Lloyd training over the corpus CTE
    * `c`, ending in the codebook `k2` (twin of Ann.kmeansCodebook with
    * k = 4, iters = 2) — shared by q_sim_kmeans, the IVF-PQ oracles and
    * SemDeDup's cells, so none of them can train apart. */
  private def kmTrainCtes(materializeK2: Boolean): String =
    s"""seeds AS (
       |  SELECT corpus_id, ce, md5('km|' || CAST(corpus_id AS VARCHAR)) AS h
       |  FROM c ORDER BY h, corpus_id LIMIT 4
       |), k0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, corpus_id) - 1 AS INT) AS cell, ce
       |  FROM seeds
       |), a1 AS (${kmAssign("k0")}
       |), k1 AS (${kmMeans("a1")}
       |), a2 AS (${kmAssign("k1")}
       |), k2 AS ${if (materializeK2) "MATERIALIZED " else ""}(${kmMeans("a2")}
       |)""".stripMargin

  /** The corpus subvectors CTE `name` over the corpus CTE `corpus`:
    * one 8-dim slice per (vector, subspace), as Ann.pqSubvecs cuts it. */
  private def pqSubvecsCte(name: String, corpus: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT corpus_id, s.sub, ce[s.sub*8+1 : s.sub*8+8] AS sv
       |  FROM $corpus, (SELECT unnest(generate_series(0, 7)) AS sub) s
       |)""".stripMargin

  /** The hash-seeded 2-round PQ codebook training over the corpus CTE
    * `c` (twin of Ann.pqCodebook with iters = 2), ending in the
    * codebook `${p}k2` — shared by the PQ and both IVF-PQ oracles. The
    * initial cells come from one md5 hex digit per (sub, vector). */
  private def pqTrainCtes(p: String): String =
    pqSubvecsCte("sv", "c") + ", " +
      s"""${p}a0 AS (
         |  SELECT corpus_id, sub,
         |    CAST(strpos('0123456789abcdef',
         |      substr(md5('pq|' || CAST(sub AS VARCHAR) || '|'
         |                 || CAST(corpus_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS cell,
         |    sv
         |  FROM sv
         |), ${p}k0 AS MATERIALIZED (${pqMeansSql(s"SELECT * FROM ${p}a0")}
         |), ${p}a1 AS (${pqAssignSql(s"${p}k0")}
         |), ${p}k1 AS MATERIALIZED (${pqMeansSql(s"SELECT * FROM ${p}a1")}
         |), ${p}a2 AS (${pqAssignSql(s"${p}k1")}
         |), ${p}k2 AS MATERIALIZED (${pqMeansSql(s"SELECT * FROM ${p}a2")}
         |)""".stripMargin

  /** The query subvectors `qs` and each query's subspace distance
    * lookup table `lq` against the codebook CTE `cb` (twin of
    * Ann.pqLut). */
  private def pqLutCtes(cb: String): String =
    s"""qs AS (
       |  SELECT query_id, s.sub, qe[s.sub*8+1 : s.sub*8+8] AS qsv
       |  FROM q, (SELECT unnest(generate_series(0, 7)) AS sub) s
       |), lq AS (
       |  SELECT g.query_id, k.sub, k.cell, ${pqDqSql("g.qsv", "k.sc")} AS lq
       |  FROM qs g JOIN $cb k ON k.sub = g.sub
       |)""".stripMargin

  /** The top-5 by ADC distance over the scored CTE `d`, emitting `cols`. */
  private def pqRankSql(cols: String): String =
    s"""SELECT $cols FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY dist_q ASC, corpus_id ASC) AS rnk
       |  FROM d) t
       |WHERE rnk <= 5""".stripMargin

  /** The unrolled PQ train+ADC oracle — shared by q_sim_pq and its
    * recall row so candidate set and graded set can never train apart. */
  private lazy val oraclePq: String =
    "WITH " + embCorpusCte() + ", " + embQueryCte + ", " + pqTrainCtes("") +
      s", af AS MATERIALIZED (${pqAssignSql("k2")}\n), " + pqLutCtes("k2") +
      """, d AS (
        |  SELECT l.query_id, a.corpus_id, CAST(SUM(l.lq) AS BIGINT) AS dist_q
        |  FROM af a JOIN lq l ON l.sub = a.sub AND l.cell = a.cell
        |  GROUP BY 1, 2
        |)
        |""".stripMargin + pqRankSql("query_id, corpus_id, dist_q, rnk")

  /** The exact top-k CTE `brute` (twin of annBrute: the q_sim_topk
    * cosine) — the ground truth of every recall oracle. */
  private def bruteTopkSql(k: Int): String =
    s"""brute AS (
       |  SELECT query_id, corpus_id FROM (
       |    SELECT query_id, corpus_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY score_q DESC, corpus_id ASC) AS rnk
       |    FROM (
       |      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |        ${cosSql("CAST(q.embedding AS DOUBLE[])", "CAST(c.embedding AS DOUBLE[])")} AS score_q
       |      FROM embeddings q, embeddings c
       |      WHERE q.vec_id < 5 AND c.vec_id >= 5) s) t
       |  WHERE rnk <= $k
       |)""".stripMargin

  /** topkEvalMetrics' SQL twin: the brute top-k left-joined with the
    * candidate rung's top-k — its whole oracle `candidate`, nested as
    * the subquery `alias` of the CTE `cte` — then per query the hits
    * and recall_pct = hits·100/k. */
  private def topkRecallSql(k: Int, cte: String, alias: String,
      candidate: String): String =
    // the candidate joins in AFTER stripMargin: its lines can start with
    // whitespace + `||` (string concat), and a second margin strip would
    // eat the first pipe and corrupt the SQL
    s"""WITH ${bruteTopkSql(k)}, $cte AS (
       |  SELECT query_id, corpus_id, 1 AS hit FROM (
       |""".stripMargin + candidate.linesIterator.map("    " + _).mkString("\n") +
      s"""
         |  ) $alias
         |)
         |SELECT b.query_id,
         |  CAST(COUNT(i.hit) AS BIGINT) AS n_hits,
         |  CAST(COUNT(i.hit) * ${100 / k} AS BIGINT) AS recall_pct
         |FROM brute b
         |LEFT JOIN $cte i ON i.query_id = b.query_id AND i.corpus_id = b.corpus_id
         |GROUP BY 1""".stripMargin

  /** The unrolled IVF-PQ train+probe oracle — shared by the inline
    * (q_sim_ivfpq) and served (q_sim_ivfpq_served) formulations so
    * the two can never train apart: the kmeans chain trains the coarse
    * cells, the PQ chain the fine codebooks, then [[ivfPqSearchSql]]. */
  private lazy val oracleIvfPq: String =
    "WITH " + embCorpusCte() + ", " + embQueryCte + ", " +
      kmTrainCtes(materializeK2 = true) +
      s", cellof AS MATERIALIZED (${kmAssign("k2")}\n), " + pqTrainCtes("p") +
      s", paf AS MATERIALIZED (${pqAssignSql("pk2")}\n), " + ivfPqSearchSql

  /** The INCREMENTAL IVF-PQ oracle (r17): codebooks trained on the
    * BASE slice only (vec_id % 10 ≠ 0 — the standing index), the FULL
    * corpus `ca` encoded and cell-assigned against them, same probe/ADC/
    * top-k. This IS what build-then-append produces (encode and
    * assignment are deterministic given the codebooks), so the one SQL
    * proves the append lost and invented nothing. */
  private lazy val oracleIvfPqInc: String =
    "WITH " + embCorpusCte(where = "vec_id >= 5 AND vec_id % 10 <> 0") + ", " +
      embCorpusCte("ca") + ", " + embQueryCte + ", " + kmTrainCtes(materializeK2 = true) +
      s", cellof AS MATERIALIZED (${kmAssign("k2", "ca")}\n), " + pqTrainCtes("p") +
      ", " + pqSubvecsCte("sva", "ca") +
      s", paf AS MATERIALIZED (${pqAssignSql("pk2", "sva")}\n), " + ivfPqSearchSql

  /** The IVF-PQ search over the coarse codebook `k2`, the cells
    * `cellof`, the fine codebook `pk2` and the codes `paf`: `probe`
    * keeps each query's 2 best coarse cells, and the ADC join is
    * restricted to codes whose coarse cell that query probed. */
  private lazy val ivfPqSearchSql: String =
    s"""probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, k.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |                         ORDER BY ${cosSql("q.qe", "k.ce")} DESC, k.cell ASC) AS crnk
       |    FROM q, k2 k) x WHERE crnk <= 2
       |), ${pqLutCtes("pk2")}, d AS (
       |  SELECT l.query_id, cf.cell, a.corpus_id,
       |    CAST(SUM(l.lq) AS BIGINT) AS dist_q
       |  FROM paf a
       |  JOIN lq l ON l.sub = a.sub AND l.cell = a.cell
       |  JOIN cellof cf ON cf.corpus_id = a.corpus_id
       |  JOIN probe p ON p.query_id = l.query_id AND p.cell = cf.cell
       |  GROUP BY 1, 2, 3
       |)
       |${pqRankSql("query_id, cell, corpus_id, dist_q, rnk")}""".stripMargin

  /** SemDeDup's oracle prefix: the shared kmeans training, every
    * corpus vector's k2 cell `cellof`, then (top2) the top-2
    * assignment `cellof2`. */
  private def semdedupCellsSql(top2: Boolean): String =
    "WITH " + embCorpusCte() + ", " + kmTrainCtes(materializeK2 = true) +
      s", cellof AS MATERIALIZED (${kmAssign("k2")}\n)" +
      (if (top2) s",\ncellof2 AS MATERIALIZED (${kmAssignTop2("k2")}\n), " else ",\n")

  /** Ann.cellPairs' SQL twin, the CTE `name` of (a, b) pairs: in-cell
    * pairs with the exact cosine verify, DISTINCT over the top-2
    * assignment, where a pair can share both its cells. */
  private def cellPairsSql(name: String, top2: Boolean, a: String, b: String): String = {
    val cells = if (top2) "cellof2" else "cellof"
    s"""$name AS (
  SELECT ${if (top2) "DISTINCT " else ""}a.corpus_id AS $a, b.corpus_id AS $b
  FROM $cells a JOIN $cells b ON a.cell = b.cell AND a.corpus_id < b.corpus_id
  JOIN c ea ON ea.corpus_id = a.corpus_id
  JOIN c eb ON eb.corpus_id = b.corpus_id
  WHERE ${cosSql("ea.ce", "eb.ce")} >= $MinCosQ
)"""
  }

  /** A SemDeDup rung's verdicts: each pair drops its higher id, and a
    * top-2 rung's verdict row keys on the primary (rk = 1) cell. */
  private def semdedupOracle(top2: Boolean): String =
    semdedupCellsSql(top2) + cellPairsSql("pairs", top2, "va", "vb") + s""", drops AS (
  SELECT vb, CAST(MIN(va) AS BIGINT) AS dup_of FROM pairs GROUP BY 1
)
SELECT f.corpus_id, f.cell, d.dup_of, d.dup_of IS NULL AS keep
FROM ${if (top2) "cellof2" else "cellof"} f LEFT JOIN drops d ON d.vb = f.corpus_id""" +
      (if (top2) "\nWHERE f.rk = 1" else "")

  /** A SemDeDup rung's quality row: the exact all-pairs quantized
    * cosine truth over the same corpus, graded against the rung's own
    * [[cellPairsSql]] candidates. */
  private def semdedupRecallOracle(top2: Boolean): String =
    semdedupCellsSql(top2) + s"""truth AS (
  SELECT a.corpus_id AS doc_a, b.corpus_id AS doc_b
  FROM c a, c b
  WHERE a.corpus_id < b.corpus_id AND ${cosSql("a.ce", "b.ce")} >= $MinCosQ
), """ + cellPairsSql("candp", top2, "doc_a", "doc_b") + ", " +
      pairEvalSql(s"FROM truth t FULL JOIN candp m ON $pairKeySql")

  /** Exact quantized-cosine SQL fragment (1e-6 floor ticks) — the ONE
    * formula shared by the embcos pair row and its quality row. */
  private def embCosQSql(a: String, b: String): String =
    s""" CAST(floor(list_dot_product($a, $b)
       |      / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))
       |      * 1000000) AS BIGINT)""".stripMargin.linesIterator.mkString("\n")

  /** The embedding-LSH candidate chain, ending in `ec_cand` (+ `e`, the
    * cast embeddings) — shared by the pair row and its quality row. */
  private lazy val embcosChain: String =
    """hp AS (
      |  SELECT p,
      |    list((strpos('0123456789abcdef',
      |            substr(md5(CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 1)) - 1) - 7.5
      |         ORDER BY i) AS r
      |  FROM range(0, 32) t1(p), unnest(generate_series(0, 63)) t2(i)
      |  GROUP BY p
      |), e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), bits AS (
      |  SELECT vec_id, p // 4 AS t, p,
      |    CASE WHEN list_dot_product(v, r) >= 0 THEN '1' ELSE '0' END AS b
      |  FROM e, hp
      |), buckets AS (
      |  SELECT vec_id, t, bucket, count(*) OVER (PARTITION BY t, bucket) AS bsz FROM (
      |    SELECT vec_id, t, string_agg(b, '' ORDER BY p) AS bucket
      |    FROM bits GROUP BY 1, 2)
      |), ec_cand AS (
      |  -- candidate iff the FIRST co-bucketing table is uncapped
      |  -- (Dedup.firstMatch twin)
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a JOIN buckets b
      |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2
      |  HAVING arg_min(a.bsz, a.t) <= 10000
      |)""".stripMargin

  /** The SimHash candidate chain, ending in `sh_cand` (pairs with both
    * sigs; hamming filtered by the consumer) — shared by the pair row
    * and its quality row so the two cannot drift. */
  private lazy val simhashChain: String =
    """wc AS (
      |  SELECT doc_id, w AS word, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY 1, 2
      |), votes AS (
      |  SELECT doc_id, i,
      |    SUM(cnt * (2 * (((strpos('0123456789abcdef', substr(md5(word), (i // 4) + 1, 1)) - 1)
      |                     >> (3 - i % 4)) & 1) - 1)) AS v
      |  FROM wc, unnest(generate_series(0, 63)) t(i)
      |  GROUP BY 1, 2
      |), sigs AS (
      |  SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
      |  FROM votes GROUP BY 1
      |), chunks AS (
      |  SELECT doc_id, sig, j, chunk, count(*) OVER (PARTITION BY j, chunk) AS bsz FROM (
      |    SELECT doc_id, sig, j, substr(sig, j*16 + 1, 16) AS chunk
      |    FROM sigs, unnest(generate_series(0, 3)) t(j))
      |), sh_cand AS (
      |  -- candidate iff the FIRST shared chunk's bucket is uncapped
      |  -- (Dedup.firstMatch twin)
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
      |  FROM chunks a JOIN chunks b
      |    ON a.j = b.j AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |  HAVING arg_min(a.bsz, a.j) <= 10000
      |)""".stripMargin

  /** The inline build+probe oracle — shared verbatim by
    * q_dedup_substr_incremental and q_dedup_substr_served. */
  private lazy val substrIncrementalOracle: String =
    """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |cg AS (
        |  SELECT DISTINCT array_to_string(a[i+1 : i+10], ' ') AS g
        |  FROM arr, LATERAL unnest(generate_series(0, CAST(len(a) - 10 AS BIGINT))) t(i)
        |  WHERE len(a) >= 10 AND doc_id % 10 <> 0),
        |dg AS (
        |  SELECT doc_id, i, array_to_string(a[i+1 : i+10], ' ') AS g
        |  FROM arr, LATERAL unnest(generate_series(0, CAST(len(a) - 10 AS BIGINT))) t(i)
        |  WHERE len(a) >= 10 AND doc_id % 10 = 0),
        |flagged AS (SELECT doc_id, i FROM dg JOIN cg USING (g)),
        |covered AS (
        |  SELECT DISTINCT doc_id, i + d AS p
        |  FROM flagged, LATERAL unnest(generate_series(0, 9)) t(d)),
        |runs AS (
        |  SELECT doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_removed,
        |         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
        |  FROM (SELECT doc_id, p,
        |          COALESCE(p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p), 2) > 1 AS is_new
        |        FROM covered)
        |  GROUP BY 1),
        |wordrows AS (
        |  SELECT arr.doc_id, q - 1 AS p, a[CAST(q AS INT)] AS word
        |  FROM arr, LATERAL unnest(generate_series(1, CAST(len(a) AS BIGINT))) t(q)
        |  WHERE doc_id % 10 = 0),
        |clean AS (
        |  SELECT w.doc_id,
        |         string_agg(CASE WHEN c.p IS NULL THEN w.word END, ' ' ORDER BY w.p)
        |           AS clean_text
        |  FROM wordrows w LEFT JOIN covered c ON c.doc_id = w.doc_id AND c.p = w.p
        |  GROUP BY 1)
        |SELECT d.doc_id, COALESCE(cl.clean_text, '') AS clean_text,
        |       COALESCE(r.n_removed, 0) AS n_removed,
        |       COALESCE(r.n_spans, 0) AS n_spans
        |FROM documents d
        |LEFT JOIN clean cl USING (doc_id)
        |LEFT JOIN runs r USING (doc_id)
        |WHERE d.doc_id % 10 = 0""".stripMargin

  /** The 4-gate ingest oracle (r13): q_bloom_probe's bit-table
    * derivation (at the ingest width 2^20), the shared minhash bands
    * chain with q_dedup_incremental's index/delta split, the substring
    * build+probe chain (q_dedup_substr_incremental's, verbatim CTEs),
    * and q_sample_quota's window (at the ingest seed) composed in gate
    * order — each gate filtered to the previous gate's survivors, so
    * the pipeline's oracle nests its parts' verified oracles. */
  /** The gates-1–3 CTE chain (through `clean`) shared by the pipeline
    * oracle, its served twin, and the index-update oracle. */
  private lazy val ingestCutCtes: String =
    "WITH " + minhashBandsChain + s""",
batch AS (
  SELECT doc_id, text, source FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 7000000, text, source FROM documents
  WHERE doc_id % 10 <> 0 AND doc_id % 97 = 1
), ci AS (
  SELECT DISTINCT md5(text) AS item FROM documents WHERE doc_id % 10 <> 0
), bbits AS (
  SELECT DISTINCT j, ($hexToH) % 1048576 AS pos FROM (
    SELECT t.j, md5('bf' || CAST(t.j AS VARCHAR) || '|' || item) AS hx
    FROM ci, (SELECT unnest(generate_series(0, 2)) AS j) t)
), bp AS (
  SELECT doc_id, j, ($hexToH) % 1048576 AS pos FROM (
    SELECT doc_id, t.j, md5('bf' || CAST(t.j AS VARCHAR) || '|' || md5(text)) AS hx
    FROM batch, (SELECT unnest(generate_series(0, 2)) AS j) t)
), fresh AS (
  -- gate 1 survivors: NOT all three bloom bits set
  SELECT b.doc_id FROM batch b
  LEFT JOIN (SELECT doc_id FROM bp JOIN bbits ON bp.j = bbits.j AND bp.pos = bbits.pos
             GROUP BY 1 HAVING COUNT(*) = 3) m ON b.doc_id = m.doc_id
  WHERE m.doc_id IS NULL
), ib AS (SELECT doc_id, b, bk FROM bands WHERE doc_id % 10 <> 0
), ibs AS (SELECT b, bk, COUNT(*) AS ibsz FROM ib GROUP BY 1, 2
), db AS (
  SELECT doc_id, b, bk FROM bands
  WHERE doc_id % 10 = 0 AND doc_id IN (SELECT doc_id FROM fresh)
), novel AS (
  -- gate 2 survivors: no uncapped band bucket shared with the corpus
  SELECT doc_id FROM fresh WHERE doc_id NOT IN (
    SELECT DISTINCT db.doc_id FROM db
    JOIN ib ON db.b = ib.b AND db.bk = ib.bk
    JOIN ibs ON ib.b = ibs.b AND ib.bk = ibs.bk
    WHERE ibs.ibsz <= 10000)
), arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents
), cg AS (
  SELECT DISTINCT array_to_string(a[i+1 : i+10], ' ') AS g
  FROM arr, LATERAL unnest(generate_series(0, CAST(len(a) - 10 AS BIGINT))) t(i)
  WHERE len(a) >= 10 AND doc_id % 10 <> 0
), dg AS (
  SELECT doc_id, i, array_to_string(a[i+1 : i+10], ' ') AS g
  FROM arr, LATERAL unnest(generate_series(0, CAST(len(a) - 10 AS BIGINT))) t(i)
  WHERE len(a) >= 10 AND doc_id % 10 = 0
), flagged AS (SELECT doc_id, i FROM dg JOIN cg USING (g)
), covered AS (
  SELECT DISTINCT doc_id, i + d AS p
  FROM flagged, LATERAL unnest(generate_series(0, 9)) t(d)
), runs AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_removed,
         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
  FROM (SELECT doc_id, p,
          COALESCE(p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p), 2) > 1 AS is_new
        FROM covered)
  GROUP BY 1
), wordrows AS (
  SELECT arr.doc_id, q - 1 AS p, a[CAST(q AS INT)] AS word
  FROM arr, LATERAL unnest(generate_series(1, CAST(len(a) AS BIGINT))) t(q)
  WHERE doc_id % 10 = 0
), clean AS (
  SELECT w.doc_id,
         string_agg(CASE WHEN c.p IS NULL THEN w.word END, ' ' ORDER BY w.p) AS clean_text
  FROM wordrows w LEFT JOIN covered c ON c.doc_id = w.doc_id AND c.p = w.p
  GROUP BY 1
)"""

  private lazy val ingestGatesOracle: String = ingestCutCtes + """,
admitted AS (
  -- gate 3 survivors: the gram-cut text is non-empty
  SELECT n.doc_id, b.source,
         COALESCE(r.n_removed, 0) AS n_removed,
         COALESCE(r.n_spans, 0) AS n_spans
  FROM novel n
  JOIN batch b ON b.doc_id = n.doc_id
  LEFT JOIN clean cl ON cl.doc_id = n.doc_id
  LEFT JOIN runs r ON r.doc_id = n.doc_id
  WHERE COALESCE(cl.clean_text, '') <> ''
)
SELECT doc_id, source, n_removed, n_spans, CAST(rk AS BIGINT) AS qrank FROM (
  SELECT doc_id, source, n_removed, n_spans,
    ROW_NUMBER() OVER (PARTITION BY source
      ORDER BY md5('ingest0|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM admitted) t
WHERE rk <= 8"""

  /** The index-update oracle: the appended bit table is the bit set of
    * corpus items ∪ STORED (post-quota, r14) CUT texts' items — set
    * algebra the SQL derives from the same cut chain, the q_sample_quota
    * window at the ingest seed (nested verbatim from the pipeline
    * oracle's tail), and the q_bloom_probe bit arithmetic at the ingest
    * width. */
  private lazy val ingestIndexUpdateOracle: String = ingestCutCtes + s""",
adm AS (
  SELECT n.doc_id, b.source, cl.clean_text
  FROM novel n
  JOIN batch b ON b.doc_id = n.doc_id
  JOIN clean cl ON cl.doc_id = n.doc_id
  WHERE COALESCE(cl.clean_text, '') <> ''
), stored AS (
  SELECT doc_id, clean_text FROM (
    SELECT doc_id, clean_text,
      ROW_NUMBER() OVER (PARTITION BY source
        ORDER BY md5('ingest0|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM adm) t
  WHERE rk <= 8
), all_items AS (
  SELECT DISTINCT md5(text) AS item FROM documents WHERE doc_id % 10 <> 0
  UNION
  SELECT md5(clean_text) AS item FROM stored
)
SELECT DISTINCT CAST(j AS INT) AS j, CAST(($hexToH) % 1048576 AS BIGINT) AS pos
FROM (
  SELECT t.j, md5('bf' || CAST(t.j AS VARCHAR) || '|' || item) AS hx
  FROM all_items, (SELECT unnest(generate_series(0, 2)) AS j) t)"""

  /** The admission-quality oracle (r14): the pipeline side is the cut
    * chain's own CTEs (fresh / novel / clean — nothing re-derived), the
    * truth side nests the exact τ=0.8 inverted-index join restricted to
    * (delta, corpus) cross pairs (q_dedup_recall's truth CTEs over the
    * shared sh0) plus the md5 exact-dup set and the exact substring cut
    * the chain already computes — so the grade and the graded pipeline
    * share every derivation and cannot drift. */
  private lazy val ingestRecallOracle: String = ingestCutCtes + """,
sizes AS (
  SELECT doc_id, count(*) AS nsh FROM sh0 GROUP BY 1
), xc AS (
  SELECT a.doc_id AS d_doc, b.doc_id AS c_doc, count(*) AS n_common
  FROM sh0 a JOIN sh0 b ON a.s = b.s
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
  GROUP BY 1, 2
), near AS (
  SELECT DISTINCT d_doc AS doc_id FROM xc
  JOIN sizes na ON xc.d_doc = na.doc_id
  JOIN sizes nb ON xc.c_doc = nb.doc_id
  WHERE n_common * 1000000 >= 800000 * (na.nsh + nb.nsh - n_common)
), adm3 AS (
  SELECT n.doc_id FROM novel n
  LEFT JOIN clean cl ON cl.doc_id = n.doc_id
  WHERE COALESCE(cl.clean_text, '') <> ''
), verdicts AS (
  SELECT b.doc_id,
    md5(b.text) NOT IN (SELECT item FROM ci)
      AND b.doc_id NOT IN (SELECT doc_id FROM near)
      AND COALESCE(cl.clean_text, '') <> '' AS t_admit,
    b.doc_id IN (SELECT doc_id FROM fresh) AS in_fresh,
    b.doc_id IN (SELECT doc_id FROM adm3) AS p_admit
  FROM batch b LEFT JOIN clean cl ON cl.doc_id = b.doc_id
), agg AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n_batch,
    CAST(COALESCE(SUM(CASE WHEN t_admit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true_admit,
    CAST(COALESCE(SUM(CASE WHEN t_admit THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_true_refuse,
    CAST(COALESCE(SUM(CASE WHEN p_admit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_admitted,
    CAST(COALESCE(SUM(CASE WHEN t_admit AND NOT in_fresh THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_fr_bloom,
    CAST(COALESCE(SUM(CASE WHEN t_admit AND in_fresh AND NOT p_admit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_fr_band,
    CAST(COALESCE(SUM(CASE WHEN NOT t_admit AND p_admit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_false_admit
  FROM verdicts
)
SELECT n_batch, n_true_admit, n_true_refuse, n_admitted, n_fr_bloom,
  n_fr_band, n_false_admit,
  CASE WHEN n_true_admit > 0
    THEN (n_fr_bloom + n_fr_band) * 100 // n_true_admit END AS false_refuse_pct,
  CASE WHEN n_true_refuse > 0
    THEN n_false_admit * 100 // n_true_refuse END AS false_admit_pct
FROM agg"""

  val oracle: Map[String, String] = Map(
    "q_sim_kmeans" -> (
      "WITH " + embCorpusCte() + ", " + kmTrainCtes(materializeK2 = false) +
        s"""
           |SELECT corpus_id, cell,
           |  CAST(floor(score / 1000.0) AS BIGINT) AS score_mq
           |FROM (${kmAssign("k2")}) f""".stripMargin),

    // PQ: identical hash-seeded per-subspace Lloyd training, then ADC
    // scoring via a (sub, cell) join — the packed-code lut lookup and
    // this join are the same Σ of assigned-cell subspace distances
    "q_sim_pq" -> oraclePq,

    // recall rows for the lossy rungs that actually serve (r12):
    // topkRecallSql grades the rung's own oracle (oraclePq /
    // oracleIvfPq) as the candidate top-5, so the graded set can never
    // drift from the graded query
    "q_sim_recall_pq" -> topkRecallSql(5, "cand", "cd", oraclePq),
    "q_sim_recall_ivfpq" -> topkRecallSql(5, "cand", "cd", oracleIvfPq),

    // IVF-PQ composition: q_sim_kmeans's kmTrainCtes trains the coarse
    // cells, q_sim_pq's pqTrainCtes the fine codebooks
    "q_sim_ivfpq" -> oracleIvfPq,
    "q_dedup_exact" ->
      """SELECT md5(text) AS digest, MIN(doc_id) AS survivor, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_spans" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |seg AS (
        |  SELECT doc_id, j AS pos, array_to_string(a[j*10+1 : j*10+10], ' ') AS seg
        |  FROM arr, LATERAL unnest(range((len(a)+9)//10)) AS t(j)),
        |df AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY 1)
        |SELECT s.doc_id,
        |  coalesce(string_agg(CASE WHEN df = 1 THEN s.seg END, ' ' ORDER BY s.pos), '') AS clean_text,
        |  CAST(coalesce(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed
        |FROM seg s JOIN df USING (seg) GROUP BY 1""".stripMargin,

    // substring-dedup twin: overlapping 10-grams by TEXT equality (the
    // Spark side's md5 is a shuffle-width choice, not semantics), covered
    // word positions from the flagged starts, maximal runs by the
    // gaps-and-islands lag, and reassembly keeps exactly the uncovered
    // words in order; every doc comes back (LEFT joins from documents)
    "q_dedup_substrings" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |grams AS (
        |  SELECT doc_id, i, array_to_string(a[i+1 : i+10], ' ') AS g
        |  FROM arr, LATERAL unnest(generate_series(0, CAST(len(a) - 10 AS BIGINT))) t(i)
        |  WHERE len(a) >= 10),
        |dup AS (SELECT g FROM grams GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1),
        |flagged AS (SELECT doc_id, i FROM grams JOIN dup USING (g)),
        |covered AS (
        |  SELECT DISTINCT doc_id, i + d AS p
        |  FROM flagged, LATERAL unnest(generate_series(0, 9)) t(d)),
        |runs AS (
        |  SELECT doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_removed,
        |         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
        |  FROM (SELECT doc_id, p,
        |          COALESCE(p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p), 2) > 1 AS is_new
        |        FROM covered)
        |  GROUP BY 1),
        |wordrows AS (
        |  SELECT arr.doc_id, q - 1 AS p, a[CAST(q AS INT)] AS word
        |  FROM arr, LATERAL unnest(generate_series(1, CAST(len(a) AS BIGINT))) t(q)),
        |clean AS (
        |  SELECT w.doc_id,
        |         string_agg(CASE WHEN c.p IS NULL THEN w.word END, ' ' ORDER BY w.p)
        |           AS clean_text
        |  FROM wordrows w LEFT JOIN covered c ON c.doc_id = w.doc_id AND c.p = w.p
        |  GROUP BY 1)
        |SELECT d.doc_id, COALESCE(cl.clean_text, '') AS clean_text,
        |       COALESCE(r.n_removed, 0) AS n_removed,
        |       COALESCE(r.n_spans, 0) AS n_spans
        |FROM documents d
        |LEFT JOIN clean cl USING (doc_id)
        |LEFT JOIN runs r USING (doc_id)""".stripMargin,

    // incremental-substring twin: corpus grams as a DISTINCT text set,
    // delta grams joined against it, then the same covered/runs/reassembly
    // pipeline restricted to the delta docs
    // shared verbatim with the served form below: the persisted bucketed
    // index round-trips the 64-bit digest lanes exactly, so served ≡
    // inline is a checked property, not an assumption
    "q_dedup_substr_incremental" -> substrIncrementalOracle,
    "q_dedup_substr_served" -> substrIncrementalOracle,

    // the 4-gate admission pipeline (r13): bloom → band probe → gram
    // cut → quota, each gate's CTE chain nested from its own oracle;
    // the served form shares the SQL verbatim — parquet round-trips the
    // persisted bit/band/gram artifacts exactly, so served ≡ inline is
    // hash-checked (the q_dedup_substr_served convention)
    "q_ingest_gates" -> ingestGatesOracle,
    "q_ingest_gates_served" -> ingestGatesOracle,
    // maintenance row: the appended bloom bit set over the same cut chain
    "q_ingest_index_update" -> ingestIndexUpdateOracle,
    // admission-quality row (r14): end-to-end decisions vs exact truth
    "q_ingest_recall" -> ingestRecallOracle,


    "q_freq_heavyhitters" ->
      """WITH w AS (
        |  SELECT u.w AS item
        |  FROM (SELECT string_split(text, ' ') AS a FROM documents) d,
        |       LATERAL unnest(a) AS u(w))
        |SELECT item, count(*) AS cnt FROM w GROUP BY 1
        |HAVING count(*) * 50 > (SELECT count(*) FROM w)""".stripMargin,

    // per-language twin of the global heavy-hitters oracle: the HAVING
    // threshold compares against each language's own stream size
    "q_freq_hh_grouped" ->
      """WITH w AS (
        |  SELECT lang, u.w AS item
        |  FROM (SELECT lang, string_split(text, ' ') AS a FROM documents) d,
        |       LATERAL unnest(a) AS u(w)
        |), n AS (SELECT lang, count(*) AS n FROM w GROUP BY 1)
        |SELECT w.lang, item, count(*) AS cnt
        |FROM w JOIN n USING (lang)
        |GROUP BY w.lang, item, n.n
        |HAVING count(*) * 50 > n.n""".stripMargin,

    // the Bloom twin recomputes the identical 3×16384 md5 bit table
    // (salt 'bf<j>|', shared hexToH arithmetic); LEFT JOIN keeps
    // zero-hit probes, and the verdict — false positives included — is
    // deterministic, so the row hash-matches, not merely rows-matches
    "q_bloom_probe" ->
      s"""WITH corpus AS (
         |  SELECT DISTINCT md5(text) AS item FROM documents WHERE doc_id % 10 <> 0
         |), bits AS (
         |  SELECT DISTINCT j, ($hexToH) % 16384 AS pos FROM (
         |    SELECT t.j, md5('bf' || CAST(t.j AS VARCHAR) || '|' || item) AS hx
         |    FROM corpus, (SELECT unnest(generate_series(0, 2)) AS j) t)
         |), probes AS (
         |  SELECT doc_id, md5(text) AS item FROM documents WHERE doc_id % 10 = 0
         |), pp AS (
         |  SELECT doc_id, j, ($hexToH) % 16384 AS pos FROM (
         |    SELECT doc_id, t.j, md5('bf' || CAST(t.j AS VARCHAR) || '|' || item) AS hx
         |    FROM probes, (SELECT unnest(generate_series(0, 2)) AS j) t)
         |), hits AS (
         |  SELECT pp.doc_id, COUNT(*) AS n_hits
         |  FROM pp JOIN bits ON pp.j = bits.j AND pp.pos = bits.pos
         |  GROUP BY 1
         |)
         |SELECT p.doc_id, CAST(COALESCE(h.n_hits, 0) AS INT) AS n_hits,
         |  COALESCE(h.n_hits, 0) = 3 AS maybe_member
         |FROM probes p LEFT JOIN hits h ON p.doc_id = h.doc_id""".stripMargin,

    // the CMS twin recomputes the identical 4×1024 md5 cells: hexToH is
    // the shared 15-nibble md5 -> BIGINT arithmetic, salted 'cm<j>|'
    "q_freq_cms" ->
      s"""WITH w AS (
         |  SELECT u.w AS item
         |  FROM (SELECT string_split(text, ' ') AS a FROM documents) d,
         |       LATERAL unnest(a) AS u(w)
         |), cells AS (
         |  SELECT j, bucket, count(*) AS cnt FROM (
         |    SELECT j, ($hexToH) % 1024 AS bucket FROM (
         |      SELECT t.j, md5('cm' || CAST(t.j AS VARCHAR) || '|' || item) AS hx
         |      FROM w, (SELECT unnest(generate_series(0, 3)) AS j) t)
         |  ) GROUP BY 1, 2
         |), p AS (
         |  SELECT DISTINCT u.w AS item
         |  FROM (SELECT string_split(text, ' ') AS a FROM documents WHERE doc_id < 5) d,
         |       LATERAL unnest(a) AS u(w)
         |), pm AS (
         |  SELECT item, j, ($hexToH) % 1024 AS bucket FROM (
         |    SELECT p.item, t.j, md5('cm' || CAST(t.j AS VARCHAR) || '|' || item) AS hx
         |    FROM p, (SELECT unnest(generate_series(0, 3)) AS j) t)
         |)
         |SELECT pm.item, MIN(COALESCE(c.cnt, 0)) AS est
         |FROM pm LEFT JOIN cells c ON c.j = pm.j AND c.bucket = pm.bucket
         |GROUP BY 1""".stripMargin,

    // single-window twin of the two-phase per-group ranking: the
    // oracle's per-source ROW_NUMBER is the semantics, the Spark side
    // reaches the identical kept set via bounded (source, sub) windows
    // token-budget mixture: single-window twin of the two-phase prefix
    // sum (the q_sample_systematic convention); budgets are integer-
    // exact (floor(sqrt) is IEEE-deterministic, everything after is
    // BIGINT division) so the admitted set is a hash-order prefix with
    // no float boundary
    "q_sample_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    md5('mix|' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents
        |), g AS (
        |  SELECT source, SUM(tok) AS gtok,
        |    CAST(floor(sqrt(CAST(SUM(tok) AS DOUBLE))) AS BIGINT) AS w
        |  FROM d GROUP BY 1
        |), bud AS (
        |  -- HUGEINT twin of the Spark side's DECIMAL(38,0) widening:
        |  -- total*num and B*w both overflow BIGINT at trillion-token
        |  -- scale (r15 ADVICE); the quotient fits BIGINT by construction
        |  SELECT source,
        |    (CAST(SUM(gtok) OVER () AS HUGEINT) * 1 // 4) * w
        |      // SUM(w) OVER () AS budget
        |  FROM g
        |), c AS (
        |  SELECT doc_id, source, tok,
        |    SUM(tok) OVER (PARTITION BY source ORDER BY skey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d
        |)
        |SELECT c.doc_id, c.source, c.tok,
        |  CAST(c.cum AS BIGINT) AS cum_tok, CAST(b.budget AS BIGINT) AS budget
        |FROM c JOIN bud b ON c.source = b.source
        |WHERE c.cum <= b.budget""".stripMargin,

    "q_sample_quota" ->
      """WITH k AS (
        |  SELECT doc_id, source,
        |    md5('quota0|' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents
        |)
        |SELECT doc_id, source, CAST(rk AS BIGINT) AS qrank FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY skey, doc_id) AS rk
        |  FROM k) t
        |WHERE rk <= 8""".stripMargin,

    // single-window twin of the two-phase prefix sum: (skey, doc_id)
    // order is total, so ROWS/RANGE framing coincide
    "q_sample_systematic" ->
      """WITH k AS (
        |  SELECT doc_id, COALESCE(n_chars, 0) AS w,
        |    md5('sys0|' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, w,
        |    CAST(SUM(w) OVER (ORDER BY skey, doc_id) AS BIGINT) AS cum_w FROM k
        |)
        |SELECT doc_id, w AS n_chars, cum_w FROM c
        |WHERE cum_w // 10000 > (cum_w - w) // 10000""".stripMargin,

    "q_corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id, md5(coalesce(text, '')) AS d FROM documents
        |), nw AS (
        |  SELECT doc_id,
        |    md5(coalesce(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END, '')) AS d
        |  FROM documents WHERE doc_id % 31 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5(coalesce(text, '')) FROM documents WHERE doc_id < 3
        |)
        |SELECT COALESCE(old.doc_id, nw.doc_id) AS doc_id,
        |  CASE WHEN old.d IS NULL THEN 'added'
        |       WHEN nw.d IS NULL THEN 'removed'
        |       WHEN old.d = nw.d THEN 'unchanged' ELSE 'changed' END AS status,
        |  old.d AS old_digest, nw.d AS new_digest
        |FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id""".stripMargin,

    "q_corpus_drift" ->
      """WITH nw AS (
        |  SELECT CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 31 <> 0
        |  UNION ALL
        |  SELECT text FROM documents WHERE doc_id < 3
        |), co AS (
        |  SELECT u.w AS term, count(*) AS c_old
        |  FROM (SELECT string_split(text, ' ') AS a FROM documents) d,
        |       LATERAL unnest(a) AS u(w)
        |  WHERE len(u.w) > 0 GROUP BY 1
        |), cn AS (
        |  SELECT u.w AS term, count(*) AS c_new
        |  FROM (SELECT string_split(text, ' ') AS a FROM nw) d,
        |       LATERAL unnest(a) AS u(w)
        |  WHERE len(u.w) > 0 GROUP BY 1
        |), j AS (
        |  SELECT COALESCE(co.term, cn.term) AS term,
        |    COALESCE(c_old, 0) AS c_old, COALESCE(c_new, 0) AS c_new
        |  FROM co FULL OUTER JOIN cn ON co.term = cn.term
        |)
        |SELECT term, c_old, c_new FROM j,
        |  (SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
        |          CAST(SUM(c_new) AS BIGINT) AS n_new FROM j) t
        |ORDER BY abs(CAST(c_old AS HUGEINT) * n_new
        |           - CAST(c_new AS HUGEINT) * n_old) DESC, term ASC
        |LIMIT 20""".stripMargin,

    "q_text_search" ->
      """WITH p AS (
        |  SELECT u.w AS term, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents) d,
        |       LATERAL unnest(a) AS u(w)
        |  WHERE len(u.w) > 0 GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_sum
        |FROM p WHERE term IN ('hash', 'window')
        |GROUP BY 1 HAVING count(*) = 2""".stripMargin,

    // same postings CTE as q_text_search; weight = (N·10^6) // df in
    // BIGINT (HUGEINT sums cast back), ORDER BY (score, doc_id) total
    // so the LIMIT boundary is deterministic on both engines
    "q_text_search_ranked" ->
      """WITH p AS (
        |  SELECT u.w AS term, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents) d,
        |       LATERAL unnest(a) AS u(w)
        |  WHERE len(u.w) > 0 GROUP BY 1, 2
        |), pr AS (
        |  SELECT * FROM p WHERE term IN ('hash', 'window', 'the')
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM pr GROUP BY 1
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(tf * (((SELECT COUNT(*) FROM documents) * 1000000) // df)) AS BIGINT) AS score
        |FROM pr JOIN df USING (term)
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 20""".stripMargin,

    // positional twin: pos numbers the split array (empty tokens keep
    // their slot, emit no posting — same as the Spark build); anchor
    // voting with COUNT(DISTINCT slot), the repeated probe term filling
    // two slots exactly as the broadcast slot-table fan-out does.
    // The SERVED row shares it verbatim: parquet round-trips
    // (term, doc_id, pos) exactly, so served ≡ inline by construction.
    "q_text_phrase" -> phraseOracle,
    "q_text_phrase_served" -> phraseOracle,
    "q_text_phrase_incremental" -> phraseOracle,

    // single-window twin of the two-phase value-axis ranking; the
    // integer keep rule (rank·100 in (lo·n, hi·n]) has no float
    // percentile boundary
    "q_trim_outliers" ->
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE n_chars IS NOT NULL
        |), r AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM k
        |)
        |SELECT doc_id, lang, n_chars, CAST(rk AS BIGINT) AS grank
        |FROM r WHERE rk * 100 > 5 * n AND rk * 100 <= 95 * n""".stripMargin,

    "q_dedup_ngram_jaccard" -> (
      "WITH " + shinglesCte + """,
sh AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh0)
  WHERE df <= 50
), sizes AS (
  SELECT doc_id, count(*) AS nsh FROM sh GROUP BY 1
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT doc_a, doc_b, n_common,
  CAST(n_common AS DOUBLE) / (na.nsh + nb.nsh - n_common) AS jaccard
FROM common
JOIN sizes na ON doc_a = na.doc_id
JOIN sizes nb ON doc_b = nb.doc_id
WHERE CAST(n_common AS DOUBLE) / (na.nsh + nb.nsh - n_common) >= 0.3"""),

    // exact prefix-filtering join: the oracle is the plain quadratic
    // inverted-index count over the FULL shingle universe (no df cap)
    // with the identical integer τ filter — prefix filtering must be
    // invisible in the result
    "q_simjoin_prefix" -> prefixJoinOracle,
    // identical twin on purpose: block geometry is a cost choice, never
    // a semantics choice — the blocked run must produce the same pairs
    "q_simjoin_blocked" -> prefixJoinOracle,

    "q_dedup_minhash" -> (
      "WITH " + minhashPairsChain + "\nSELECT doc_a, doc_b, n_bands FROM mh_pairs"),

    // dedup quality eval (r12): q_dedup_minhash's minhashPairsChain
    // graded by pairEvalSql against jaccardTruthSql (q_simjoin_prefix's
    // join over the chain's sh0) — both graded sets are the graded
    // queries' own CTEs, so the eval can never drift from them
    "q_dedup_recall" -> (
      "WITH " + minhashPairsChain + ",\n" + jaccardTruthSql(materialized = false) + ", " +
        pairEvalSql(s"""FROM truth t
  FULL JOIN (SELECT doc_a, doc_b FROM mh_pairs) m
    ON $pairKeySql""")),

    // geometry sweep: THREE bandings of the SAME signature CTEs, each
    // graded against the SAME (materialized) exact-truth join — the
    // S-curve knob measured, not argued
    "q_dedup_recall_geom" -> (
      "WITH " + minhashSigsChain + ",\n" +
        Seq(8, 4, 2).map(b => geomCtes(b.toString, b)).mkString(",\n") + ",\n" +
        jaccardTruthSql(materialized = true) + "\n" +
        Seq(8, 4, 2).map(b => geomEval(b.toString, b)).mkString("\nUNION ALL\n")),

    // transitive closure of the SAME candidate pairs (shared CTE chain):
    // component = minimum doc reachable over the pair graph. The
    // recursive-closure oracle is the obviously-correct spec; the Spark
    // side must reach the identical fixpoint via bounded-round
    // pointer-doubling label propagation (operators.Components).
    "q_dedup_clusters" -> (
      "WITH RECURSIVE " + closureChain +
        "\nSELECT id AS doc_id, component FROM lbl"),

    // survivor selection over the SAME closure: one doc per cluster (the
    // component minimum) plus every doc outside the pair graph.
    "q_dedup_survivors" -> (
      "WITH RECURSIVE " + closureChain + """
SELECT d.doc_id FROM documents d
LEFT JOIN lbl ON d.doc_id = lbl.id
WHERE lbl.component IS NULL OR lbl.component = d.doc_id"""),

    // incremental probe over the SAME band derivation (shared prefix
    // chain): index = corpus-side bands with corpus-only bucket sizes,
    // delta docs hit any uncapped shared bucket. The combined-population
    // bsz the shared chain computes is deliberately ignored — the
    // incremental contract caps on what the INDEX saw at build time.
    "q_dedup_incremental" -> (
      "WITH " + minhashBandsChain + """,
ib AS (SELECT doc_id, b, bk FROM bands WHERE doc_id % 10 <> 0),
ibs AS (SELECT b, bk, COUNT(*) AS ibsz FROM ib GROUP BY 1, 2),
db AS (SELECT doc_id, b, bk FROM bands WHERE doc_id % 10 = 0),
hits AS (
  SELECT DISTINCT db.doc_id, ib.doc_id AS dup_of
  FROM db
  JOIN ib ON db.b = ib.b AND db.bk = ib.bk
  JOIN ibs ON ib.b = ibs.b AND ib.bk = ibs.bk
  WHERE ibs.ibsz <= 10000
)
SELECT doc_id, CAST(min(dup_of) AS BIGINT) AS dup_of, COUNT(*) AS n_dups
FROM hits GROUP BY 1"""),

    "q_dedup_simhash" -> (
      "WITH " + simhashChain + """
SELECT doc_a, doc_b, hamming(sig_a, sig_b) AS hamming
FROM sh_cand WHERE hamming(sig_a, sig_b) <= 8"""),

    // simhash quality row (r12): q_dedup_simhash's simhashChain graded
    // by pairEvalSql against q_dedup_recall's jaccardTruthSql
    "q_dedup_recall_simhash" -> (
      "WITH " + shinglesCte + ",\n" + simhashChain + ",\n" +
        jaccardTruthSql(materialized = false) + ", " + pairEvalSql(s"""FROM truth t
  FULL JOIN (SELECT doc_a, doc_b FROM sh_cand
             WHERE hamming(sig_a, sig_b) <= 8) m
    ON $pairKeySql""")),

    "q_dedup_embcos" -> (
      "WITH " + embcosChain + s"""
SELECT vec_a, vec_b, cos_q FROM (
  SELECT vec_a, vec_b,${embCosQSql("ea.v", "eb.v")} AS cos_q
  FROM ec_cand JOIN e ea ON vec_a = ea.vec_id JOIN e eb ON vec_b = eb.vec_id) t
WHERE cos_q >= $MinCosQ"""),

    // embedding-rung quality row (r12): q_dedup_embcos's embcosChain,
    // verified at the same MinCosQ, graded by pairEvalSql against the
    // exact all-pairs cosine truth
    "q_dedup_recall_embcos" -> (
      "WITH " + embcosChain + s""",
truth AS (
  SELECT ea.vec_id AS doc_a, eb.vec_id AS doc_b
  FROM e ea, e eb
  WHERE ea.vec_id < eb.vec_id
    AND${embCosQSql("ea.v", "eb.v")} >= $MinCosQ
), """ + pairEvalSql(s"""FROM truth t
  FULL JOIN (
    SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
      SELECT vec_a, vec_b,${embCosQSql("ea.v", "eb.v")} AS cos_q
      FROM ec_cand JOIN e ea ON vec_a = ea.vec_id JOIN e eb ON vec_b = eb.vec_id) cq
    WHERE cos_q >= $MinCosQ
  ) m ON $pairKeySql""")),

    // SemDeDup and its probe2 rung, each with its quality row: cells
    // from the SHARED kmeans chain (q_sim_kmeans's training), in-cell
    // pairs from [[cellPairsSql]] — the clustering, the similarity and
    // the candidate set are the same CTEs in a rung and its grade
    "q_dedup_semdedup" -> semdedupOracle(top2 = false),
    "q_dedup_semdedup_probe2" -> semdedupOracle(top2 = true),
    "q_dedup_recall_semdedup" -> semdedupRecallOracle(top2 = false),
    "q_dedup_recall_semdedup_probe2" -> semdedupRecallOracle(top2 = true),

    "q_text_langid" -> (
      """WITH words AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS dw FROM documents
), scored AS (
  SELECT doc_id, lang,
  """ + langScores + """
  FROM words
)
SELECT doc_id, lang, """ + predCase + s""" AS pred_lang,
  CAST($mx AS INT) AS top_score
FROM scored"""),

    "q_text_quality" -> (
      s"""WITH w AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
), f AS (
  SELECT doc_id,
    CAST(len(ws) AS INT) AS n_words,
    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_ratio,
    CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws) AS avg_word_len,
    CAST(len(list_filter(ws, x -> list_contains(${sqlList(TextAnalysis.Stopwords.flatMap(_._2))}, x))) AS DOUBLE) / len(ws) AS stop_ratio
  FROM w
)
SELECT doc_id, n_words, distinct_ratio, avg_word_len, stop_ratio,
  distinct_ratio * 0.5 + least(avg_word_len / 10.0, 1.0) * 0.3 + stop_ratio * 0.2 AS quality_score,
  n_words >= 20 AND distinct_ratio > 0.2 AS keep
FROM f"""),

    // trigram-LM surprisal: bin()/length() IS the integer log2 both
    // engines share, so the mean-millibit score hash-matches with no
    // float log-prob summation anywhere (see TextAnalysis
    // .trigramSurprisal's rationale). The SAME SQL grades the served
    // form (embedded compiled model table) — output is representation-
    // free, so one oracle proves both scoring shapes.
    "q_text_perplexity" -> perplexityOracle,
    "q_text_perplexity_served" -> perplexityOracle,

    // CCNet terciles over the SAME scored chain (embedded as a derived
    // table so the bucket thresholds can never train apart from the
    // scores they split): per-lang histogram -> cumulative window ->
    // value-threshold buckets, all integer
    "q_text_ppl_buckets" -> (
      s"""WITH s AS (
  SELECT doc_id, lang, surprisal_mb FROM ($perplexityOracle) q
), h AS (
  SELECT lang, surprisal_mb, COUNT(*) AS c FROM s GROUP BY 1, 2
), cum AS (
  SELECT lang, surprisal_mb,
    SUM(c) OVER (PARTITION BY lang ORDER BY surprisal_mb) AS cm,
    SUM(c) OVER (PARTITION BY lang) AS n
  FROM h
), th AS (
  SELECT lang,
    MIN(CASE WHEN cm * 3 >= n THEN surprisal_mb END) AS t1,
    MIN(CASE WHEN cm * 3 >= n * 2 THEN surprisal_mb END) AS t2
  FROM cum GROUP BY 1
)
SELECT s.doc_id, s.lang, s.surprisal_mb,
  CASE WHEN s.surprisal_mb <= t.t1 THEN 'head'
       WHEN s.surprisal_mb <= t.t2 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM s JOIN th t ON s.lang = t.lang"""),

    // the LM gate's quality grade: the SAME trigram scoring chain as
    // perplexityOracle, but the model trains on the standing-corpus
    // split, the thresholds CALIBRATE on that slice's own score
    // distribution (exact percentile via the 35c3 histogram+cumulative
    // machinery), and the scored batch is the four planted classes
    // (pure SQL over the held-out ids — md5 chains and a literal
    // phrase — so both engines grade byte-identical text)
    "q_lm_gate_recall" -> (
      s"""WITH held AS (
  SELECT * FROM documents WHERE doc_id % 10 = 0
), batch AS (
  SELECT 'clean' AS class, doc_id, text FROM held WHERE lang = 'en'
  UNION ALL
  SELECT 'nonref' AS class, doc_id, text FROM held WHERE lang <> 'en'
  UNION ALL
  SELECT 'gibberish' AS class, doc_id,
    md5(CAST(doc_id AS VARCHAR)) || ' ' || md5(CAST(doc_id + 1 AS VARCHAR))
      || ' ' || md5(CAST(doc_id + 2 AS VARCHAR)) || ' ' || md5(CAST(doc_id + 3 AS VARCHAR))
      || ' ' || md5(CAST(doc_id + 4 AS VARCHAR)) || ' ' || md5(CAST(doc_id + 5 AS VARCHAR))
      || ' ' || md5(CAST(doc_id + 6 AS VARCHAR)) || ' ' || md5(CAST(doc_id + 7 AS VARCHAR))
      AS text
  FROM held
  UNION ALL
  SELECT 'boilerplate' AS class, doc_id, '$LmGateBoiler' AS text FROM held
), ctri AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 3) AS tri
  FROM documents, unnest(generate_series(1, length(text) - 2)) t(i)
  WHERE doc_id % 10 <> 0 AND length(text) >= 3 AND lang = 'en'
), model AS (
  SELECT tri, COUNT(*) AS cnt FROM ctri GROUP BY 1
), tot AS (
  SELECT SUM(cnt) AS tot, COUNT(*) AS v FROM model
), trsc AS (
  SELECT c.doc_id, COUNT(*) AS n_tri,
    CAST(SUM(length(bin(m.cnt + 1))) AS BIGINT) AS sum_bl
  FROM ctri c JOIN model m ON c.tri = m.tri
  GROUP BY 1
), trfin AS (
  SELECT CAST((length(bin(t.tot + t.v)) * s.n_tri - s.sum_bl) * 1000 // s.n_tri
    AS BIGINT) AS smb
  FROM trsc s, tot t
), h AS (
  SELECT smb, COUNT(*) AS c FROM trfin GROUP BY 1
), cum AS (
  SELECT smb, SUM(c) OVER (ORDER BY smb) AS cm, SUM(c) OVER () AS n FROM h
), th AS (
  SELECT CAST(p AS BIGINT) AS cal_pct,
    MIN(CASE WHEN cm * 100 >= p * n THEN smb END) AS keep_below_mb
  FROM cum, (VALUES $lmGateSweepSql) pp(p)
  GROUP BY 1
), btri AS (
  SELECT class, doc_id, substr(text, CAST(i AS INT), 3) AS tri
  FROM batch, unnest(generate_series(1, length(text) - 2)) t(i)
  WHERE length(text) >= 3
), scored AS (
  SELECT b.class, b.doc_id, COUNT(*) AS n_tri,
    CAST(SUM(length(bin(COALESCE(m.cnt, 0) + 1))) AS BIGINT) AS sum_bl
  FROM btri b LEFT JOIN model m ON b.tri = m.tri
  GROUP BY 1, 2
), fin AS (
  SELECT s.class,
    CAST((length(bin(t.tot + t.v)) * s.n_tri - s.sum_bl) * 1000 // s.n_tri
      AS BIGINT) AS surprisal_mb
  FROM scored s, tot t
)
SELECT th.cal_pct, th.keep_below_mb, f.class,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN f.surprisal_mb <= th.keep_below_mb THEN 1 ELSE 0 END)
    AS BIGINT) AS n_kept,
  f.class = 'clean' AS truth_keep,
  CAST(CASE WHEN f.class = 'clean'
    THEN (COUNT(*) - SUM(CASE WHEN f.surprisal_mb <= th.keep_below_mb THEN 1 ELSE 0 END)) * 100 // COUNT(*)
    ELSE SUM(CASE WHEN f.surprisal_mb <= th.keep_below_mb THEN 1 ELSE 0 END) * 100 // COUNT(*)
  END AS BIGINT) AS err_pct
FROM fin f, th
GROUP BY 1, 2, 3"""),

    "q_text_tokens" -> (
      s"""SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(CAST(len(string_split(text, ' ')) AS INT)) AS BIGINT) AS ws_total,
  CAST(SUM(CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}')) AS INT)) AS BIGINT) AS bpe_total,
  CAST(SUM(CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}')) AS INT)) AS DOUBLE) / COUNT(*) AS avg_bpe_per_doc
FROM documents GROUP BY 1"""),

    "q_text_pii" -> (
      s"""WITH planted AS (
  SELECT doc_id,
    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'
         || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
         || ' tel +1555000' || CAST(doc_id % 10000 AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailPiiRe}')) AS INT) AS n_pii_emails,
  CAST(len(regexp_extract_all(t, '${TextAnalysis.Ipv4PiiRe}')) AS INT) AS n_pii_ips,
  CAST(len(regexp_extract_all(t, '${TextAnalysis.PhonePiiRe}')) AS INT) AS n_pii_phones,
  regexp_replace(
    regexp_replace(
      regexp_replace(t, '${TextAnalysis.EmailPiiRe}', '<EMAIL>', 'g'),
      '${TextAnalysis.Ipv4PiiRe}', '<IP>', 'g'),
    '${TextAnalysis.PhonePiiRe}', '<PHONE>', 'g') AS scrubbed
FROM planted"""),

    "q_text_repetition" -> (
      "WITH " + shinglesCte + """,
t AS (SELECT doc_id, greatest(len(w) - 2, 0) AS total FROM words),
d AS (SELECT doc_id, count(*) AS nd FROM sh0 GROUP BY 1)
SELECT t.doc_id, CAST(total AS INT) AS n_grams,
  CAST(coalesce(nd, 0) AS INT) AS n_distinct_grams,
  CASE WHEN total > 0 THEN 1.0 - CAST(coalesce(nd, 0) AS DOUBLE) / total
       ELSE 0.0 END AS rep_ratio
FROM t LEFT JOIN d USING (doc_id)"""),

    "q_decontaminate" -> (
      "WITH " + shinglesCte + """,
ev AS (SELECT DISTINCT s FROM sh0 WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, s FROM sh0 WHERE doc_id % 97 <> 0)
SELECT tr.doc_id, COUNT(*) AS n_overlap
FROM tr JOIN ev USING (s)
GROUP BY 1 HAVING COUNT(*) >= 2"""),

    "q_text_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents
        |)
        |SELECT doc_id, fp,
        |  count(*) OVER (PARTITION BY fp) AS cluster_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
        |FROM f""".stripMargin,

    "q_pipeline_prep" -> (
      s"""WITH w AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws,
         list_distinct(string_split(text, ' ')) AS dw
  FROM documents
), scored AS (
  SELECT doc_id, text, ws,
  """ + langScores + s"""
  FROM w
), langed AS (
  SELECT doc_id, text, ws, """ + predCase + s""" AS pred_lang
  FROM scored
  WHERE len(ws) >= 20
    AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) > 0.2
), fp AS (
  SELECT doc_id, text, ws, pred_lang,
    md5(trim(regexp_replace(lower(text), '""" + "\\s+" + s"""', ' ', 'g'))) AS f
  FROM langed
), canon AS (
  SELECT * FROM (
    SELECT doc_id, text, ws, pred_lang,
      doc_id = min(doc_id) OVER (PARTITION BY f) AS is_c
    FROM fp) t
  WHERE is_c
)
SELECT pred_lang, COUNT(*) AS n_docs,
  CAST(SUM(CAST(len(ws) AS INT)) AS BIGINT) AS ws_total,
  CAST(SUM(CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}')) AS INT)) AS BIGINT) AS bpe_total
FROM canon GROUP BY 1"""),

    // the training-prep composition: pipelinePrep's curation CTEs
    // (langScores/predCase shared so the gates can never drift), then
    // the q_sample_mixture arithmetic keyed on pred_lang (HUGEINT
    // budget product, num=1 den=2, seed 'train0'), then the epoch
    // shuffle's (md5, id) permutation over the admitted set
    "q_pipeline_train" -> (
      s"""WITH w AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws,
         list_distinct(string_split(text, ' ')) AS dw
  FROM documents
), scored AS (
  SELECT doc_id, text, ws,
  """ + langScores + s"""
  FROM w
), langed AS (
  SELECT doc_id, text, ws, """ + predCase + s""" AS pred_lang
  FROM scored
  WHERE len(ws) >= 20
    AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) > 0.2
), fp AS (
  SELECT doc_id, text, ws, pred_lang,
    md5(trim(regexp_replace(lower(text), '""" + "\\s+" + s"""', ' ', 'g'))) AS f
  FROM langed
), canon AS (
  SELECT doc_id, pred_lang, CAST(len(ws) AS BIGINT) AS tok FROM (
    SELECT doc_id, ws, pred_lang,
      doc_id = min(doc_id) OVER (PARTITION BY f) AS is_c
    FROM fp) t
  WHERE is_c
), d AS (
  SELECT doc_id, pred_lang, tok,
    md5('train0|' || CAST(doc_id AS VARCHAR)) AS skey
  FROM canon
), g AS (
  SELECT pred_lang, SUM(tok) AS gtok,
    CAST(floor(sqrt(CAST(SUM(tok) AS DOUBLE))) AS BIGINT) AS wg
  FROM d GROUP BY 1
), bud AS (
  SELECT pred_lang,
    (CAST(SUM(gtok) OVER () AS HUGEINT) * 1 // 2) * wg
      // SUM(wg) OVER () AS budget
  FROM g
), c AS (
  SELECT doc_id, pred_lang, tok,
    SUM(tok) OVER (PARTITION BY pred_lang ORDER BY skey, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
), m AS (
  SELECT c.doc_id, c.pred_lang, c.tok,
    CAST(c.cum AS BIGINT) AS cum_tok, CAST(b.budget AS BIGINT) AS budget
  FROM c JOIN bud b ON c.pred_lang = b.pred_lang
  WHERE c.cum <= b.budget
)
SELECT doc_id, pred_lang, tok, cum_tok, budget,
  CAST(ROW_NUMBER() OVER (
    ORDER BY md5('epoch0|' || CAST(doc_id AS VARCHAR)), doc_id) - 1
    AS BIGINT) AS train_idx
FROM m"""),

    "q_sample_stratified" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    16*(strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 1, 1))-1)
        |      + (strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 2, 1))-1) AS u256
        |  FROM documents
        |)
        |SELECT doc_id, lang, CAST(u256 AS INT) AS u256 FROM c
        |WHERE u256 < CASE lang WHEN 'en' THEN 64 WHEN 'zh' THEN 256 ELSE 128 END""".stripMargin,

    // thresholds floor(sqrt(n_min/n_i)*256) are bit-identical across
    // engines because /, sqrt and * are all correctly rounded on the
    // same BIGINT-derived doubles (this is why α is fixed at 1/2)
    "q_sample_temperature" ->
      """WITH n AS (
        |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1
        |), m AS (
        |  SELECT MIN(n) AS nmin FROM n
        |), r AS (
        |  SELECT lang,
        |    CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 256) AS INT) AS thr
        |  FROM n, m
        |), c AS (
        |  SELECT doc_id, lang,
        |    16*(strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 1, 1))-1)
        |      + (strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 2, 1))-1) AS u256
        |  FROM documents
        |)
        |SELECT c.doc_id, c.lang, CAST(c.u256 AS INT) AS u256
        |FROM c JOIN r ON c.lang = r.lang
        |WHERE c.u256 < r.thr""".stripMargin,

    // the oracle's single global ROW_NUMBER is the semantics; the Spark
    // side reaches the identical permutation via the bounded two-phase
    // bucket ranking (monotone _sub prefix + exclusive bucket offsets)
    "q_shuffle_order" ->
      """WITH s AS (
        |  SELECT doc_id, md5('epoch0|' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents
        |)
        |SELECT doc_id, skey,
        |  CAST(ROW_NUMBER() OVER (ORDER BY skey, doc_id) - 1 AS BIGINT) AS train_idx
        |FROM s""".stripMargin,

    "q_pack_sequences" -> (
      s"""WITH t AS (
  SELECT doc_id, lang,
    CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}')) AS INT) AS bpe_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, bpe_tokens,
    SUM(bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
  FROM t
)
SELECT lang, CAST(floor((cum - bpe_tokens) / 4096) AS BIGINT) AS pack_id,
  COUNT(*) AS n_docs, CAST(SUM(bpe_tokens) AS BIGINT) AS pack_tokens
FROM c GROUP BY 1, 2"""),

    "q_sim_topk" ->
      s"""WITH $embQueryCte, ${embCorpusCte()}, s AS (
        |  SELECT query_id, corpus_id,
        |    CAST(floor(list_dot_product(qe, ce)
        |          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))
        |          * 1000000) AS BIGINT) AS score_q
        |  FROM q, c
        |)
        |SELECT query_id, corpus_id, CAST(rnk AS INT) AS rnk, score_q FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |                               ORDER BY score_q DESC, corpus_id ASC) AS rnk
        |  FROM s) t
        |WHERE rnk <= 10""".stripMargin,

    "q_sim_ivf" -> ivfOracle(nprobe = 1),
    "q_sim_ivf_probe2" -> ivfOracle(nprobe = 2),

    // recall twin: topkRecallSql grades q_sim_ivf's own ivfOracle (a
    // subquery — its WITH nests legally) against the brute top-10
    "q_sim_recall" -> topkRecallSql(10, "ivf", "iv", ivfOracle(nprobe = 1)),

    // the nprobe sweep (r12): five arms over ONE bruteTopkSql CTE, each
    // arm nesting ivfOracle at its nprobe — the chain the single-point
    // eval grades, so the curve and the point cannot drift
    "q_sim_recall_sweep" ->
      s"""WITH ${bruteTopkSql(10)}
         |${Seq(1, 2, 4, 8, 10).map { np =>
             s"""SELECT CAST($np AS BIGINT) AS nprobe, b.query_id,
                |  CAST(COUNT(i$np.hit) AS BIGINT) AS n_hits,
                |  CAST(COUNT(i$np.hit) * 10 AS BIGINT) AS recall_pct
                |FROM brute b
                |LEFT JOIN (
                |  SELECT query_id, corpus_id, 1 AS hit FROM (
                |${ivfOracle(nprobe = np).linesIterator.map("    " + _).mkString("\n")}
                |  ) iv$np
                |) i$np ON i$np.query_id = b.query_id AND i$np.corpus_id = b.corpus_id
                |GROUP BY 1, 2""".stripMargin
           }.mkString("\nUNION ALL\n")}""".stripMargin,

    // identical top-k rank semantics as q_sim_topk, then the majority
    // vote with ties to the smallest label — integer end to end
    "q_sim_knn" ->
      s"""WITH $embQueryCte, c AS (
        |  SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS ce, label
        |  FROM embeddings WHERE vec_id >= 5
        |), s AS (
        |  SELECT query_id, corpus_id, label,
        |    CAST(floor(list_dot_product(qe, ce)
        |          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))
        |          * 1000000) AS BIGINT) AS score_q
        |  FROM q, c
        |), topk AS (
        |  SELECT query_id, label FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |                                 ORDER BY score_q DESC, corpus_id ASC) AS rnk
        |    FROM s) t
        |  WHERE rnk <= 10
        |), v AS (
        |  SELECT query_id, label, COUNT(*) AS votes FROM topk GROUP BY 1, 2
        |)
        |SELECT query_id, label AS pred_label, votes FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |                               ORDER BY votes DESC, label ASC) AS vr
        |  FROM v) t
        |WHERE vr = 1""".stripMargin,

    // same truncating-integer arithmetic as the operator; nd is the
    // corpus count the Spark side reads as a catalog stat
    "q_text_commonness" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), dfs AS (
        |  SELECT w, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1
        |), n AS (SELECT COUNT(*) AS nd FROM documents)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM((df * 1000000) // nd) // COUNT(*) AS BIGINT) AS mean_df_ppm
        |FROM w JOIN dfs USING (w) CROSS JOIN n
        |GROUP BY 1""".stripMargin,

    // unrolled BPE twin: symbol streams as chr(1)-wrapped strings so
    // the merge application is a plain left-to-right non-overlapping
    // replace (verified = the Spark fold's semantics); identical
    // (count desc, a, b) winner order per round; an exhausted vocab
    // empties the cross join on both sides identically
    "q_bpe_merges" ->
      (bpeTrainCtes + "\n" +
        (0 until 8).map(k =>
          s"SELECT CAST($k AS BIGINT) AS merge_idx, a, b, n FROM b$k")
          .mkString("\nUNION ALL ")),

    // training chain + encode chain: every distinct word folds through
    // the 8 trained replaces (a LEFT JOIN guards an exhausted round —
    // the word passes through unchanged, as in the Spark fold), then
    // the corpus occurrences join the per-word token counts
    "q_bpe_tokenize" -> bpeTokenizeOracle,
    // the served variant reads the SAME model back from parquet, which
    // round-trips bit-exactly — one oracle adjudicates both formulations
    "q_bpe_tokenize_served" -> bpeTokenizeOracle,

    // same integer chunk-count arithmetic ((n - o + s - 1) // s, min 1),
    // 1-based inclusive list_slice == Spark's (start, length) slice
    "q_chunk_docs" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |       CAST(i * 48 AS BIGINT) AS start_word,
        |       CAST(least(64, n - i * 48) AS BIGINT) AS n_words,
        |       array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' ')
        |         AS chunk_text
        |FROM w, LATERAL unnest(generate_series(0,
        |       greatest((n - 16 + 48 - 1) // 48, 1) - 1)) t(i)
        |""".stripMargin,

    // independent ground-truth decode: the WAV payload IS the UTF-8
    // text by construction, so the oracle parses channel-0 16-bit LE
    // samples out of hex(encode(text)) directly — no RIFF walking —
    // and must land on the identical integer features the Spark side
    // recovered by walking the real bytes
    "q_audio_pcm" -> {
      // hex byte at 1-based position `pos` of uppercase hex column hx
      def hb(pos: String) =
        s"((strpos('0123456789ABCDEF', substr(hx, $pos, 1)) - 1) * 16 + " +
          s"(strpos('0123456789ABCDEF', substr(hx, ($pos) + 1, 1)) - 1))"
      s"""WITH w AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         (1 + doc_id % 2) * 2 AS block,
         |         octet_length(encode(text)) AS plen
         |  FROM documents WHERE doc_id % 5 = 2
         |), fr AS (
         |  SELECT doc_id, plen // block AS n_frames, block, hx
         |  FROM w WHERE plen // block > 0
         |), s AS (
         |  SELECT doc_id, n_frames, g.i,
         |         ${hb("g.i * block * 2 + 1")} +
         |         256 * ${hb("g.i * block * 2 + 3")} AS u
         |  FROM fr, LATERAL (SELECT unnest(generate_series(0,
         |         CAST(n_frames AS INT) - 1)) AS i) g
         |), v AS (
         |  SELECT doc_id, n_frames, i,
         |         CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS v
         |  FROM s
         |), x AS (
         |  SELECT doc_id, n_frames, v,
         |         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
         |  FROM v
         |)
         |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
         |       CAST(MAX(abs(v)) AS BIGINT) AS peak_abs,
         |       CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
         |       CAST(COUNT(*) FILTER (pv IS NOT NULL AND
         |         ((pv < 0) <> (v < 0))) AS BIGINT) AS n_zero_cross
         |FROM x GROUP BY 1, 2""".stripMargin
    },

    // magic/sha256 are computed over the hex encoding by construction
    // (installed DuckDB can neither slice nor sha256 a BLOB); Spark
    // derives both from the real binary column — same values. The
    // header hex is the shared Multimodal.duckHeaderHexSql twin of the
    // Spark-side construction.
    "q_multimodal_meta" ->
      (s"""WITH b AS (
        |  SELECT doc_id,
        |    (${Multimodal.duckHeaderHexSql}) || hex(encode(text)) AS full_hex
        |  FROM documents
        |), meta AS (""".stripMargin +
      """
        |  SELECT doc_id,
        |    CAST(length(full_hex) // 2 AS BIGINT) AS byte_len,
        |    sha256(full_hex) AS sha256,
        |    substr(full_hex, 1, 24) AS magic
        |  FROM b
        |), sniffed AS (
        |  SELECT *,
        |    CASE WHEN magic LIKE 'FFD8FF%' THEN 'jpeg'
        |         WHEN magic LIKE '89504E47%' THEN 'png'
        |         WHEN magic LIKE '52494646%' AND substr(magic, 17, 8) = '57415645' THEN 'wav'
        |         WHEN substr(magic, 9, 8) = '66747970' THEN 'mp4'
        |         ELSE 'none' END AS container
        |  FROM meta
        |)
        |SELECT doc_id, byte_len, sha256, magic, container,
        |  CASE WHEN container IN ('jpeg', 'png') THEN 'image'
        |       WHEN container = 'wav' THEN 'audio'
        |       WHEN container = 'mp4' THEN 'video'
        |       ELSE 'text' END AS modality
        |FROM sniffed""".stripMargin),

    // ground-truth oracle: the EXPECTED parameters straight from the
    // synthesis formulas (no byte parsing on the oracle side) — the
    // Spark result must have RECOVERED these from the bytes alone
    "q_multimodal_dims" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
        |    WHEN 2 THEN 'wav' WHEN 3 THEN 'mp4' ELSE 'none' END AS container,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN CAST(64 + doc_id % 1920 AS BIGINT)
        |    WHEN 1 THEN CAST(16 + doc_id % 4096 AS BIGINT) END AS width,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN CAST(48 + doc_id % 1080 AS BIGINT)
        |    WHEN 1 THEN CAST(16 + doc_id % 2160 AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 5 = 2 THEN CAST(
        |    CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 11025
        |      WHEN 2 THEN 16000 WHEN 3 THEN 22050 WHEN 4 THEN 32000
        |      WHEN 5 THEN 44100 WHEN 6 THEN 48000 END AS BIGINT) END AS sample_rate,
        |  CASE WHEN doc_id % 5 = 2 THEN CAST(1 + doc_id % 2 AS BIGINT) END AS channels,
        |  CASE WHEN doc_id % 5 = 3
        |    THEN CAST(600 + (doc_id % 4) * 300 AS BIGINT) END AS timescale,
        |  CASE WHEN doc_id % 5 = 3
        |    THEN CAST((600 + (doc_id % 4) * 300) * (1 + doc_id % 30) AS BIGINT)
        |    END AS duration_ts
        |FROM documents""".stripMargin,

    // image-decode twin: expected width/height/channel-sums derived
    // ARITHMETICALLY from the synthesis formula (raw pixel byte i =
    // (doc_id*31 + i*7) % 256 over a w*h*3 RGB stream) — the oracle
    // never touches bytes, so a hash-match proves the Spark side's
    // zlib inflate + five-filter unfiltering reconstructed the exact
    // raw stream the synthesizer filtered and deflated
    "q_image_pixels" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        |  FROM documents WHERE doc_id % 5 = 1
        |), px AS (
        |  SELECT doc_id, w, h, i % 3 AS c, (doc_id * 31 + i * 7) % 256 AS v
        |  FROM m, LATERAL unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT))) t(i)
        |)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3""".stripMargin,

    // image-resize twin: every output pixel of the factor-2 box filter
    // derived ARITHMETICALLY — group the synthesis formula's bytes by
    // (x div 2, y div 2, channel) and integer-divide each block sum by
    // its actual pixel count (edge blocks are smaller); a hash-match
    // proves the Spark side decoded the true pixels AND floor-averaged
    // the same blocks
    "q_image_resize" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        |  FROM documents WHERE doc_id % 5 = 1
        |), px AS (
        |  SELECT doc_id, (i % (w * 3)) // 3 AS x, i // (w * 3) AS y, i % 3 AS c,
        |         (doc_id * 31 + i * 7) % 256 AS v
        |  FROM m, LATERAL unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT))) t(i)
        |), blk AS (
        |  SELECT doc_id, x // 2 AS px, y // 2 AS py, c, SUM(v) // COUNT(*) AS av
        |  FROM px GROUP BY 1, 2, 3, 4
        |)
        |SELECT doc_id, CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
        |  CAST(MAX(CASE WHEN c = 0 THEN av END) AS BIGINT) AS r,
        |  CAST(MAX(CASE WHEN c = 1 THEN av END) AS BIGINT) AS g,
        |  CAST(MAX(CASE WHEN c = 2 THEN av END) AS BIGINT) AS b
        |FROM blk GROUP BY 1, 2, 3""".stripMargin,

    // video-decode twin: every kept frame's channel sums derived
    // ARITHMETICALLY from the synthesis formula (stored byte j of
    // frame f = (doc_id*37 + f*11 + j*5) % 256 over height rows of
    // DWORD-padded stride s) — byte positions j with (j % s) >= 3*w
    // are the DIB row padding and never enter a sum, and (j % s) % 3
    // indexes the channel in DIB's B,G,R order; the oracle never
    // touches bytes, so a hash-match proves the Spark side's container
    // walk found the real frame chunks, skipped the pad, and mapped
    // the channels per spec
    "q_video_frames" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h,
        |         2 + doc_id % 5 AS nf, ((3 * (4 + doc_id % 9) + 3) // 4) * 4 AS s
        |  FROM documents WHERE doc_id % 5 = 3
        |), fr AS (
        |  SELECT doc_id, w, h, s, f
        |  FROM m, LATERAL unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) tf(f)
        |  WHERE f % 2 = 0
        |), px AS (
        |  SELECT doc_id, w, h, f, (j % s) % 3 AS c,
        |         (doc_id * 37 + f * 11 + j * 5) % 256 AS v
        |  FROM fr, LATERAL unnest(generate_series(0, CAST(h * s - 1 AS BIGINT))) tj(j)
        |  WHERE (j % s) < 3 * w
        |)
        |SELECT doc_id, f AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

    // frame-demux twin: every kept frame's RAW bytes re-derived
    // arithmetically (synthesis formula, PAD BYTES INCLUDED — a raw DIB
    // frame ships its DWORD padding) and reduced to md5-of-uppercase-hex,
    // the same reduction the Spark side applies to the actual demuxed
    // blob; pts is the exact integer frame_idx · dwMicroSecPerFrame
    // (33333 + (doc_id % 3) · 8334, the avih synthesis value)
    "q_video_demux" ->
      """WITH m AS (
        |  SELECT doc_id, 3 + doc_id % 7 AS h, 2 + doc_id % 5 AS nf,
        |         ((3 * (4 + doc_id % 9) + 3) // 4) * 4 AS s,
        |         33333 + (doc_id % 3) * 8334 AS usf
        |  FROM documents WHERE doc_id % 5 = 3
        |), fr AS (
        |  SELECT doc_id, h, s, usf, f
        |  FROM m, LATERAL unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) tf(f)
        |  WHERE f % 2 = 0
        |), hx AS (
        |  SELECT doc_id, f, usf,
        |         string_agg(lpad(upper(to_hex((doc_id * 37 + f * 11 + j * 5) % 256)),
        |                    2, '0'), '' ORDER BY j) AS fhex,
        |         COUNT(*) AS flen
        |  FROM fr, LATERAL unnest(generate_series(0, CAST(h * s - 1 AS BIGINT))) tj(j)
        |  GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, f AS frame_idx, CAST(f * usf AS BIGINT) AS pts_us,
        |       CAST(flen AS BIGINT) AS frame_len, md5(fhex) AS frame_md5
        |FROM hx""".stripMargin,

    // MP4 demux twin: sample bytes re-derived arithmetically from the
    // synthesis formula, pts from the two-run stts arithmetic (run 1 of
    // ceil(ns/2) samples at delta d1, the rest at d1+25), reduced to the
    // same md5-of-uppercase-hex as the Spark side's actual demuxed blob;
    // the floor µs division matches Java integer / for nonnegatives
    "q_video_demux_mp4" ->
      """WITH m AS (
        |  SELECT doc_id, 600 + (doc_id % 4) * 300 AS ts, 2 + doc_id % 5 AS ns,
        |         (2 + doc_id % 5 + 1) // 2 AS n1, 100 + doc_id % 50 AS d1
        |  FROM documents WHERE doc_id % 5 = 3
        |), s AS (
        |  SELECT doc_id, ts, i, 9 + (doc_id + 3 * i) % 14 AS slen,
        |         CASE WHEN i <= n1 THEN i * d1
        |              ELSE n1 * d1 + (i - n1) * (d1 + 25) END AS ticks
        |  FROM m, LATERAL unnest(generate_series(0, CAST(ns - 1 AS BIGINT))) t(i)
        |  WHERE i % 2 = 0
        |), hx AS (
        |  SELECT doc_id, i, ts, ticks,
        |         string_agg(lpad(upper(to_hex((doc_id * 41 + i * 13 + j * 7) % 256)),
        |                    2, '0'), '' ORDER BY j) AS fhex,
        |         COUNT(*) AS flen
        |  FROM s, LATERAL unnest(generate_series(0, CAST(slen - 1 AS BIGINT))) tj(j)
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT doc_id, i AS frame_idx,
        |       CAST(ticks * 1000000 // ts AS BIGINT) AS pts_us,
        |       CAST(flen AS BIGINT) AS frame_len, md5(fhex) AS frame_md5
        |FROM hx""".stripMargin,

    // JPEG-decode twin: the synthesis pins the QUANTIZED COEFFICIENTS
    // (DC-only blocks), so each block's decoded value is exactly
    // dc + 128 (luma q0 = 8 cancels the IDCT's /8) and the oracle
    // re-derives every pixel arithmetically — block grid with edge
    // cropping (vis), then the EXACT fixed-point color formula the
    // decoder applies: floor((c·x + 32768) / 65536) via a positive-bias
    // integer division (x + 2^31) // 65536 - 32768, so the rounding of
    // negative chroma products matches Spark's arithmetic >> bit-for-bit
    "q_image_jpeg" ->
      """WITH m AS (
        |  SELECT doc_id, 9 + doc_id % 24 AS w, 8 + doc_id % 17 AS h,
        |         (9 + doc_id % 24 + 7) // 8 AS bw, (8 + doc_id % 17 + 7) // 8 AS bh
        |  FROM documents WHERE doc_id % 5 = 0
        |), blk AS (
        |  SELECT doc_id, w, h,
        |         LEAST(8, w - (k % bw) * 8) * LEAST(8, h - (k // bw) * 8) AS vis,
        |         (doc_id * 13 + k * 7) % 128 + 64 AS yy,
        |         (doc_id * 13 + 29 + k * 7) % 128 - 64 AS cbb,
        |         (doc_id * 13 + 58 + k * 7) % 128 - 64 AS crr
        |  FROM m, LATERAL unnest(generate_series(0, CAST(bw * bh - 1 AS BIGINT))) t(k)
        |), px AS (
        |  SELECT doc_id, w, h, vis,
        |    LEAST(255, GREATEST(0,
        |      yy + ((91881 * crr + 32768 + 2147483648) // 65536) - 32768)) AS r,
        |    LEAST(255, GREATEST(0,
        |      yy - ((22554 * cbb + 46802 * crr + 32768 + 2147483648) // 65536) + 32768)) AS g,
        |    LEAST(255, GREATEST(0,
        |      yy + ((116130 * cbb + 32768 + 2147483648) // 65536) - 32768)) AS b
        |  FROM blk
        |)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(r * vis) AS BIGINT) AS sum_r,
        |  CAST(SUM(g * vis) AS BIGINT) AS sum_g,
        |  CAST(SUM(b * vis) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3""".stripMargin
  ) ++ Map(
    // the served IVF-PQ query returns the inline composition's exact
    // rows (parquet round-trips both codebooks and the codes
    // bit-exactly), so the SAME unrolled train+probe oracle
    // adjudicates both formulations — the q_bpe_tokenize_served
    // convention applied to ANN serving
    "q_sim_ivfpq_served" -> oracleIvfPq,
    "q_sim_ivfpq_incremental" -> oracleIvfPqInc)
}
