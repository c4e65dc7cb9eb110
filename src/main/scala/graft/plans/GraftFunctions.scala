package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, MaxBy}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}

import graft.functions.Patterns

/** SQL-name registry for the graft function surface — the Spark-native
  * analogue of the reference registering every UDF with
  * `tEnv.createTemporaryFunction` (sql-functions README): after
  * [[GraftExtensions]] is installed, `spark.sql` can call each of these
  * (and so can `functions.call_function`).
  *
  * Builders construct Catalyst expression trees directly from the same
  * [[Patterns]] the Column API uses, so the SQL path and the Column path
  * are the same codegen'd expressions.
  */
object GraftFunctions {
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def nullIfEmpty(e: Expression): Expression = new NullIf(e, Literal(""))

  private def rx(subject: Expression, pattern: String, group: Int): Expression =
    RegExpExtract(subject, Literal(pattern), Literal(group))

  private def fn(name: String, usage: String, arity: Int)(
      builder: FunctionBuilder): FunctionDescription =
    (new FunctionIdentifier(name),
      new ExpressionInfo(GraftFunctions.getClass.getCanonicalName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      exprs => {
        // a clean arity error instead of the builder's MatchError
        if (exprs.length != arity)
          throw new IllegalArgumentException(
            s"$name requires $arity argument(s), got ${exprs.length}")
        builder(exprs)
      })

  /** md5-short(6) of the email local part, domain kept (Obfuscate.java). */
  private def obfuscate(e: Expression): Expression = {
    val local  = SubstringIndex(e, Literal("@"), Literal(1))
    val domain = SubstringIndex(e, Literal("@"), Literal(-1))
    val hashed = Substring(Md5(Cast(local, BinaryType)), Literal(1), Literal(6))
    If(IsNull(e), Literal(null, StringType),
      If(Contains(e, Literal("@")),
        Concat(Seq(hashed, Literal("@"), domain)),
        hashed))
  }

  val registry: Seq[FunctionDescription] = Seq(
    fn("graft_source_component", "component of a repo file path", 1) {
      case Seq(e) => nullIfEmpty(rx(e, Patterns.SourceComponent, 1))
    },
    fn("graft_email_thread", "subject normalized to its thread (reply prefixes stripped)", 1) {
      case Seq(e) => rx(e, Patterns.EmailThread, 1)
    },
    fn("graft_jira_ticket_action", "Jira action from a subject, NULL if not a Jira mail", 1) {
      case Seq(e) => nullIfEmpty(rx(e, Patterns.JiraSubject, 1))
    },
    fn("graft_jira_ticket_number", "Jira ticket number from a subject", 1) {
      case Seq(e) => nullIfEmpty(rx(e, Patterns.JiraSubject, 2))
    },
    fn("graft_jira_ticket_from", "Jira ticket author from the From field", 1) {
      case Seq(e) => nullIfEmpty(rx(e, Patterns.JiraFrom, 1))
    },
    fn("graft_is_jira_ticket", "whether the From field is Jira's sender format", 1) {
      case Seq(e) => Coalesce(Seq(RLike(e, Literal(Patterns.JiraFrom)), Literal(false)))
    },
    fn("graft_obfuscate", "md5-short(6) of the email local part, domain kept", 1) {
      case Seq(e) => obfuscate(e)
    },
    fn("graft_components_split", "bracket-aware split of a component list", 1) {
      case Seq(e) => StringSplit(e, Literal(Patterns.ComponentsSplit), Literal(-1))
    },
    fn("graft_cosine", "cosine similarity of two float/double arrays", 2) {
      case Seq(a, b) => CosineSimilarity(a, b)
    },
    fn("graft_pq_adc", "ADC distance: packed PQ code against a [sub*16+cell] lookup table", 2) {
      case Seq(code, lut) => PqAdcDistance(code, lut)
    },
    fn("graft_md5_60",
      "top 60 bits of md5(prefix || item) as BIGINT — the sketch-family hash, string-free", 2) {
      case Seq(p, x) => Md5Bits60(p, x)
    },
    fn("graft_dec_ticks",
      "unscaled BIGINT of CAST(x AS DECIMAL(27,10)) — the exact-mean tier's tick count, string-free", 1) {
      case Seq(d) => DecTicks(d)
    },
    fn("graft_tick_means",
      "aggregate: per-element exact DECIMAL(27,10) means of the first dim elements of a " +
        "double/float array — bit-identical to CAST(SUM(CAST(arr[i] AS DECIMAL(27,10))) AS DOUBLE)/COUNT(1)", 2) {
      // dim sizes the aggregation buffer, so it is fixed at plan time
      case Seq(a, Literal(dim: Int, IntegerType)) => TickMeans(a, dim)
      case Seq(_, d) =>
        throw new IllegalArgumentException(s"graft_tick_means: dim must be an INT literal, got $d")
    },
    fn("graft_wav_pcm",
      "[n_frames, peak_abs, sum_sq, n_zero_cross] of a 16-bit PCM WAV blob; NULL if not one", 1) {
      case Seq(b) => WavPcmStats(b)
    },
    fn("graft_png_pixels",
      "[width, height, sum_r, sum_g, sum_b] of an 8-bit truecolor PNG; NULL if not one", 1) {
      case Seq(b) => PngPixelStats(b)
    },
    fn("graft_png_synth",
      "deterministic synthetic RGB PNG for a doc id (the decode tier's test signal)", 1) {
      case Seq(id) => PngSynth(id)
    },
    fn("graft_png_resize",
      "per-output-pixel (px, py, r, g, b) box-filter downsample of an 8-bit truecolor PNG", 2) {
      case Seq(b, f) => PngResize(b, f)
    },
    fn("graft_avi_frames",
      "per-frame (frame_idx, width, height, sum_r, sum_g, sum_b) of a DIB-frame AVI; NULL if not one", 1) {
      case Seq(b) => AviFrameStats(b)
    },
    fn("graft_avi_synth",
      "deterministic synthetic DIB-frame AVI for a doc id (the decode tier's test signal)", 1) {
      case Seq(id) => AviSynth(id)
    },
    fn("graft_avi_demux",
      "every Nth (frame_idx, pts_us, frame_bytes) of a DIB-frame AVI; NULL if not one", 2) {
      case Seq(b, n) => AviDemux(b, n)
    },
    fn("graft_mp4_synth",
      "deterministic sample-table ISO-BMFF MP4 for a doc id (the demux tier's test signal)", 1) {
      case Seq(id) => Mp4Synth(id)
    },
    fn("graft_mp4_demux",
      "every Nth (frame_idx, pts_us, frame_bytes) via the MP4 sample tables; NULL if not one", 2) {
      case Seq(b, n) => Mp4Demux(b, n)
    },
    fn("graft_jpeg_pixels",
      "[width, height, sum_r, sum_g, sum_b] of a baseline 4:4:4 JFIF; NULL if not one", 1) {
      case Seq(b) => JpegPixelStats(b)
    },
    fn("graft_jpeg_synth",
      "deterministic DC-only baseline JFIF for a doc id (the decode tier's test signal)", 1) {
      case Seq(id) => JpegSynth(id)
    },
    fn("graft_gram_hashes",
      "rolling 128-bit digests of every L-word window of a word array, one pass", 2) {
      case Seq(w, l) => GramHashes(w, l)
    },
    fn("graft_minhash_sig",
      "per-row MinHash signature of a word array: perms mins over k-word windows, one compiled pass", 3) {
      case Seq(w, k, p) => MinhashSig(w, k, p)
    },
    fn("graft_shingle_md5s",
      "distinct k-word-shingle md5 hex digests of a word array, one compiled pass", 2) {
      case Seq(w, k) => ShingleMd5s(w, k)
    },
    fn("graft_shingle_digest_set",
      "distinct k-word-shingle md5 digests of a word array, sorted and packed 16 bytes each", 2) {
      case Seq(w, k) => ShingleDigestSet(w, k)
    },
    fn("graft_digest_set_common",
      "common-token count of two packed sorted digest sets, one linear merge", 2) {
      case Seq(a, b) => DigestSetCommon(a, b)
    },
    fn("graft_char_ngrams",
      "all character n-grams of a string, one compiled UTF-8 pass", 2) {
      case Seq(t, n) => CharNgrams(t, n)
    },
    fn("graft_char_ngram_codes",
      "all character n-grams packed as code-point BIGINTs (n <= 3), one pass", 2) {
      case Seq(t, n) => CharNgramCodes(t, n)
    },
    fn("graft_lm_stats",
      "row-local trigram-LM [n_tri, n_oov, sum_bl] vs an embedded literal model", 4) {
      case Seq(t, n, ks, cs) => LmStats(t, n, ks, cs)
    },
    // The reference ships FOUR ArrayListAggFunction variants (.java, 2, 3,
    // 4) solely to thread generic element types through Flink's type
    // inference tiers; Catalyst aggregates are natively generic, so ONE
    // registration is the whole multi-arity surface.
    fn("graft_array_agg", "null-skipping collect-to-array, any element type", 1) {
      case Seq(e) => CollectList(e)
    },
    // LastNonNullValueAggFunction[2].java — latest non-null value ordered
    // by the second argument (rows with a null value don't advance time:
    // their ordering key is nulled so max_by skips them).
    fn("graft_last_non_null", "latest non-null 1st argument ordered by the 2nd", 2) {
      case Seq(v, o) => MaxBy(v, CaseWhen(Seq((IsNotNull(v), o)), None))
    },
    // ExpandJiraTicketComponents.java — the 1-ary table function emitting
    // one row per component (the 2-ary ...Components2 shape with counts is
    // the q_fn_expand_jira_components query). No components line → no rows.
    fn("graft_expand_components", "table function: one row per Jira component", 1) {
      case Seq(e) =>
        Explode(StringSplit(nullIfEmpty(rx(e, Patterns.JiraComponentsLine, 1)),
          Literal(Patterns.ComponentsSplit), Literal(-1)))
    }
  )
}
