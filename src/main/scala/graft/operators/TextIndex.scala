package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted text index — term→document postings as a TABLE, the
  * structure that answers "which documents contain these terms" at
  * 100 TB without ever scanning text at query time.
  *
  * Spark-shaped: the postings build is one explode + distinct-by-
  * construction aggregate (term frequency rides along); persisted
  * BUCKETED BY TERM ([[graft.sources.Sinks.saveBucketed]]) a term
  * lookup reads only the term's buckets and joins with zero exchange.
  * Query time: the probe term set is tiny and becomes a broadcast
  * semi-filter on the postings scan (a pushed `isin` — no join against
  * the corpus at all); only the candidate doc ids shuffle, and only
  * for the conjunctive count. */
object TextIndex {

  /** Postings of `docs(textCol)` split on single spaces: one row per
    * (term, doc_id) with the term's in-doc frequency `tf`. Empty terms
    * (leading/trailing/double spaces) are dropped; NULL text yields no
    * postings. */
  def buildPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Conjunctive (AND) search: documents containing EVERY query term,
    * ranked by total matched term frequency (an exact integer — BM25's
    * log-weighted cousin is not engine-portable, raw tf is). Returns
    * (doc_id, tf_sum) for all full matches. The term filter is a
    * literal `isin` pushed into the postings scan: with term-bucketed
    * postings that is bucket pruning, never a full index scan. */
  def searchAll(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.nonEmpty),
      "searchAll: need at least one non-empty term")
    val distinctTerms = terms.distinct
    postings
      .filter(col("term").isin(distinctTerms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_sum"))
      .filter(col("n_terms") === distinctTerms.length)
      .select(col("doc_id"), col("tf_sum"))
  }

  /** POSITIONAL postings: one row per (term, doc_id, pos) occurrence,
    * `pos` = the term's 0-based index in the doc's single-space word
    * split (empty tokens from doubled spaces keep their slot in the
    * numbering — position arithmetic must agree with the SQL twin's
    * split semantics — but emit no posting). The artifact behind
    * [[searchPhrase]]; persist via [[writePositionalIndex]] —
    * DIRECTORY-partitioned on a term-digest bucket, NOT a hash-bucketed
    * table: a bucketed table prunes a term probe to its bucket but
    * scans it as ONE TASK (bucket = the scan split unit), so a
    * common-term posting list reads on 1 of 32 cores — measured at 5M
    * docs (r16): the bucketed-table probe ran 16.3 s steady, 3.4×
    * SLOWER than the inline rebuild, parallelism-bound by
    * SelectedBucketsCount=2. Partition DIRECTORIES prune identically
    * (static partition pruning on the `tb` filter) while the files
    * inside split by row group like any parquet — pruning AND full
    * scan parallelism. Hash-bucketed tables stay right for the JOIN
    * artifacts (gram/band/signature indexes probe bucket-to-bucket);
    * single-key PROBE artifacts take the directory layout — the Ann
    * cell-directory convention. */
  def buildPositionalPostings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)

  /** The term-digest directory key: first 4 md5 hex chars mod
    * `buckets` — md5 so the DRIVER can compute a probe term's bucket
    * with java.security.MessageDigest and get the same value the write
    * path computed in-plan (the repo's engine-portable digest
    * convention; Spark's murmur `hash()` has no such twin). */
  def termBucket(term: org.apache.spark.sql.Column, buckets: Int)
      : org.apache.spark.sql.Column =
    // first 4 md5 hex nibbles = top 16 bits of the string-free 60-bit
    // digest (bit-identical; plans/Md5Bits60Expr.scala); empty prefix
    // keeps the digest exactly md5(term), so [[termBucketOf]] still
    // computes the same value driver-side
    shiftright(call_function("graft_md5_60", lit(""), term), 44) % buckets

  /** Driver-side twin of [[termBucket]], for building the probe's
    * partition filter. */
  def termBucketOf(term: String, buckets: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  /** Persist positional postings directory-partitioned on the term
    * digest (see [[buildPositionalPostings]] for why not a bucketed
    * table). The write shuffles on (tb, doc_id-salt) into
    * buckets×filesPerDir partitions so each directory holds ~
    * `filesPerDir` files: a single file per dir re-creates the
    * bucketed table's parallelism wall in miniature (measured r16 at
    * 5M docs — Spark only splits parquet ABOVE maxPartitionBytes, so
    * two pruned 40–60 MB single-file dirs scanned as 2 tasks and the
    * anchor aggregation's partial phase ran on 2 of 32 cores: 15.2 s
    * steady, still 3× slower than the inline rebuild); with the salt
    * the same pruned probe reads ~2×filesPerDir splits at full
    * parallelism. Completeness marker: the dynamic-partition committer
    * does NOT leave a root `_SUCCESS` the way flat parquet writes do
    * (also measured r16: a build-once gate keyed on it silently
    * rebuilt the 2.5 GB index every run), so this writes its own
    * `_GRAFT_DONE` after the commit, which [[openPositionalIndex]]
    * requires. */
  def writePositionalIndex(postings: DataFrame, path: String,
      buckets: Int = 64, filesPerDir: Int = 8): Unit = {
    // a REBUILD must start from an empty tree: GraftSession pins
    // partitionOverwriteMode=dynamic, so the overwrite below only
    // replaces `tb=` directories present in the NEW postings — leftover
    // files from a crashed append in an untouched bucket would survive
    // the rebuild and silently duplicate postings for any tf-weighted
    // consumer (searchPhrase happens to be duplicate-insensitive, the
    // artifact contract is not). Deleting the target (marker included)
    // also closes the crash window: a rebuild that dies mid-write
    // leaves no stale _GRAFT_DONE claiming completeness.
    graft.sources.Fs.delete(path)
    postings.withColumn("tb", termBucket(col("term"), buckets))
      .repartition(buckets * filesPerDir, col("tb"),
        pmod(col("doc_id"), lit(filesPerDir)))
      .write.mode("overwrite").partitionBy("tb").parquet(path)
    // the marker carries the bucket count: a probe pruning under a
    // different modulus would silently read the WRONG directories and
    // return incomplete results, so the artifact records the one
    // number the probe must agree on and openPositionalIndex reads it
    // back instead of trusting a parameter
    graft.sources.Fs.writeString(s"$path/_GRAFT_DONE", s"buckets=$buckets\n")
  }

  /** The bucket count a [[writePositionalIndex]] artifact was keyed
    * with, read back from its `_GRAFT_DONE` marker — the one number
    * every later reader AND writer must agree on (a mismatched modulus
    * prunes probes to directories that don't hold their terms, and
    * appends deltas into directories probes will never read). Fails
    * loudly on an unmarked/incomplete store. */
  def positionalIndexBuckets(path: String): Int = {
    val marker = s"$path/_GRAFT_DONE"
    require(graft.sources.Fs.exists(marker),
      s"positionalIndexBuckets: no _GRAFT_DONE under $path (incomplete " +
        "or not a writePositionalIndex artifact)")
    val txt = graft.sources.Fs.readString(marker)
    "buckets=(\\d+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(
        s"positionalIndexBuckets: marker under $path carries no bucket count"))
  }

  /** Open a [[writePositionalIndex]] artifact: the frame plus the
    * bucket count its directories were keyed with (from the
    * `_GRAFT_DONE` marker — pass THAT to [[prunePositionalIndex]],
    * never a caller-side constant; a mismatched modulus prunes to
    * directories that don't hold the probe terms and returns silently
    * incomplete hits). Fails loudly on an unmarked/incomplete store. */
  def openPositionalIndex(spark: SparkSession, path: String)
      : (DataFrame, Int) =
    (spark.read.parquet(path), positionalIndexBuckets(path))

  /** Append a DELTA's positional postings to a standing
    * [[writePositionalIndex]] artifact — the nightly-maintenance form
    * (the gram-index 31c4 convention applied to the phrase family):
    * the write is DELTA-sized, log-structured into the existing term
    * directories (new parquet files land inside the `tb=` dirs the
    * marker's OWN bucket count selects — never a caller constant, the
    * silent-modulus-mismatch failure mode), and the standing index is
    * never rewritten. Probe cost is unchanged: directory pruning reads
    * the same `tb` slice and the appended files split by row group
    * like the originals. Files accumulate one-per-touched-dir per
    * append (the LSM trade); compaction is a periodic
    * [[writePositionalIndex]] rebuild — the keep-two retention
    * discipline of the served stores applies. New TERMS are new rows
    * inside existing directories (the digest space is fixed at build
    * time), so no append can create an unprunable directory. */
  def appendPositionalIndex(postings: DataFrame, path: String,
      filesPerDir: Int = 2): Unit = {
    val buckets = positionalIndexBuckets(path)
    postings.withColumn("tb", termBucket(col("term"), buckets))
      .repartition(buckets * filesPerDir, col("tb"),
        pmod(col("doc_id"), lit(filesPerDir)))
      .write.mode("append").partitionBy("tb").parquet(path)
  }

  /** Prune a [[writePositionalIndex]] artifact to the directories the
    * probe terms can live in — static partition pruning; the returned
    * frame feeds [[searchPhrase]]/[[searchAll]] unchanged (their term
    * `isin` filters inside the pruned directories). `buckets` has NO
    * default deliberately (r16 ADVICE): the modulus must come from the
    * artifact's own marker ([[openPositionalIndex]]) — a caller-side
    * constant that disagrees with the layout prunes to directories
    * that don't hold the probe terms and returns silently incomplete
    * hits. */
  def prunePositionalIndex(index: DataFrame, terms: Seq[String],
      buckets: Int): DataFrame =
    index.filter(col("tb").isin(
      terms.map(termBucketOf(_, buckets)).distinct.map(Long.box): _*))

  /** PHRASE search — documents where the words of `phrase` occur at
    * CONSECUTIVE positions, the classic positional-index query (the
    * conjunctive [[searchAll]] finds the documents, this finds the
    * documents that say it IN ORDER). Returns (doc_id, n_hits,
    * first_pos) per matching doc.
    *
    * Spark-first shape — ONE anchor aggregation, never a k-way
    * positional self-join: each probe posting row fans out to the
    * phrase SLOTS its term fills (a broadcast join against the k-row
    * slot table — a term repeated in the phrase fills several slots,
    * handled by construction), every slot votes for its implied match
    * START (`anchor = pos − slot`), and an anchor with all k DISTINCT
    * slots present is a phrase occurrence. The probe terms are a
    * pushed `isin` on the postings scan (bucket-pruned on a
    * term-bucketed index); the only corpus-delta shuffle keys
    * (doc_id, anchor), and the per-doc rollup sees match-sized rows. */
  def searchPhrase(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2 && phrase.forall(_.nonEmpty),
      "searchPhrase: need a phrase of at least two non-empty words")
    val spark = postings.sparkSession
    import spark.implicits._
    val slots = phrase.zipWithIndex
      .map { case (t, i) => (t, i.toLong) }.toDF("term", "slot")
    postings.filter(col("term").isin(phrase.distinct: _*))
      .join(broadcast(slots), "term")
      .select(col("doc_id"), (col("pos") - col("slot")).as("anchor"),
        col("slot"))
      .filter(col("anchor") >= 0)
      .groupBy(col("doc_id"), col("anchor"))
      .agg(countDistinct(col("slot")).as("_ns"))
      .filter(col("_ns") === phrase.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("anchor")).as("first_pos"))
  }

  /** Disjunctive (OR) search with RARITY-weighted ranking — the IDF
    * idea in engine-portable integers: a term's weight is
    * `(nDocs·10^6) DIV df(term)` (rare terms weigh more, linear in
    * inverse document frequency), a doc's score is Σ tf·weight over its
    * matched terms, and the top k emit by (score DESC, doc_id). BM25's
    * log weights order almost identically but are not bit-portable
    * across engines; this weighting is exact BIGINT arithmetic, so the
    * ranking — tie boundary included — hash-matches the SQL twin.
    *
    * Scale shape: the probe terms are a pushed `isin` on the postings
    * scan (bucket-pruned on a term-bucketed index, never a full scan);
    * the per-term df comes from a count-window over the SAME filtered
    * probe subtree — one plan branch, so the probe postings are read
    * once (a dfs-aggregate + join-back would re-plan the probe side
    * per reference), and the window's term partitions are each term's
    * posting list, the unit a term-bucketed index already co-locates;
    * the only other shuffle groups candidate doc ids; top-k is a
    * distributed TakeOrdered, never a global sort. `nDocs` is the
    * corpus document count — a stored catalog stat in deployment, so it
    * is a parameter, not a second corpus scan. */
  def searchRanked(postings: DataFrame, terms: Seq[String], nDocs: Long,
      k: Int): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.nonEmpty),
      "searchRanked: need at least one non-empty term")
    require(nDocs > 0 && k > 0, s"searchRanked: nDocs=$nDocs k=$k")
    require(nDocs <= Long.MaxValue / 1000000L,
      s"searchRanked: nDocs=$nDocs overflows the 10^6-scaled weight")
    val distinctTerms = terms.distinct
    postings.filter(col("term").isin(distinctTerms: _*))
      .withColumn("_df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      // BIGINT literals: bare int literals here fold as 32-bit and a
      // corpus over ~2147 docs overflows the 10^6-scaled weight at PLAN
      // time under ANSI (caught by the sf0.1 plan audit, r11)
      .withColumn("_w", expr(s"(${nDocs}L * 1000000L) DIV _df"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf") * col("_w")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }
}
