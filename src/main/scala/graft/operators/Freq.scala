package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequent-items (heavy-hitters) over a 100 TB stream via a mergeable
  * Misra-Gries sketch + an exact verification pass — the "novel sketch"
  * tier of the custom-operator ladder, at the `TypedColumn` rung.
  *
  * Why not a plain GROUP BY at scale: the item domain (e.g. a web-scale
  * token vocabulary) can be billions of keys, so the exact-count shuffle
  * carries the whole domain. The sketch pass shuffles at most k counters
  * per map partition (KBs), and the verify pass shuffles only the <= k
  * candidate keys' rows. Output is EXACT, not approximate: Misra-Gries
  * with k counters guarantees every item with true count > n/(k+1)
  * survives the sketch, so for any threshold above that bound the
  * candidate set is a superset of the true heavy hitters and the exact
  * verify pass (count only candidate keys, broadcast-joined) recovers
  * precisely the true answer — approximate-then-verify, the standard
  * two-pass trick for sketch-sized shuffles with exact results.
  */
object Freq {

  /** Mergeable Misra-Gries summary of at most k counters.
    *
    * The buffer is a MUTABLE HashMap updated in place: Aggregator
    * semantics permit mutating and returning the buffer, and the reduce
    * path runs once per input ROW — an immutable `Map.updated` there
    * allocates a fresh map per row, which at billions of rows dominates
    * the whole sketch pass (it was the measured bottleneck at sf10).
    * Serialization (the encoder) only touches the buffer at partial-agg
    * shuffle boundaries, never per row.
    *
    * reduce: classic MG — increment a tracked item, insert while free
    * slots remain, else decrement ALL counters (dropping zeros). The
    * decrement sweep is O(k) but fires at most n/(k+1) times total, so
    * the per-row cost is amortized O(1).
    *
    * merge (per map partition per group, not per row): sum counters,
    * then if over k subtract the (k+1)-largest count from all and drop
    * the non-positive — the standard mergeable-MG reduction
    * (Agarwal et al., "Mergeable Summaries", PODS'12), preserving the
    * n/(k+1) guarantee. */
  final class MisraGries(k: Int)
      extends Aggregator[String, mutable.HashMap[String, Long], Seq[String]] {

    override def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty

    override def reduce(
        b: mutable.HashMap[String, Long], x: String): mutable.HashMap[String, Long] = {
      val c = b.getOrElse(x, 0L)
      if (c > 0L || b.size < k) b.update(x, c + 1L)
      else {
        // decrement-all, dropping zeros: two in-place O(k) sweeps
        b.mapValuesInPlace((_, c) => c - 1L)
        b.filterInPlace((_, c) => c > 0L)
      }
      b
    }

    override def merge(
        a: mutable.HashMap[String, Long],
        b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
      b.foreach { case (w, c) => a.update(w, a.getOrElse(w, 0L) + c) }
      if (a.size > k) {
        val cut = a.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
        a.mapValuesInPlace((_, c) => c - cut)
        a.filterInPlace((_, c) => c > 0L)
      }
      a
    }

    override def finish(r: mutable.HashMap[String, Long]): Seq[String] =
      r.keys.toSeq.sorted
    override def bufferEncoder: Encoder[mutable.HashMap[String, Long]] =
      ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder()
  }

  /** Exact heavy hitters of `items` (a single string column `item`):
    * every item whose count × `denom` > n (i.e. frequency > 1/denom of
    * the stream), found with a k-counter sketch pass + exact verify.
    *
    * `k` must satisfy k + 1 >= denom, else the sketch's guarantee no
    * longer covers the threshold and true heavy hitters could be missed
    * — enforced here, not documented away.
    *
    * Null items carry no identity and are dropped ONCE, up front, so the
    * population n, the sketch stream, and the verify count all agree on
    * what they are counting (a null-bearing column must not inflate the
    * threshold denominator against keys that can never match it).
    *
    * Plan shape (asserted in PlanSpec): pass 1 aggregates the sketch AND
    * the population count in ONE scan (the udaf-wrapped MG and count()
    * are parallel aggregates of the same groupBy — a separate
    * total-count pass would re-scan the whole stream); the <= k
    * candidate rows, each carrying n, then BROADCAST into pass 2, whose
    * only shuffle groups the candidate keys' rows. Two scans of the
    * stream total — the information-theoretic floor for exact output
    * (the sketch cannot know exact counts, and the verify cannot know
    * the candidates in the same pass). */
  def heavyHitters(spark: SparkSession, items: DataFrame, k: Int, denom: Long): DataFrame = {
    require(k + 1 >= denom,
      s"heavyHitters: k=$k counters cannot guarantee capture at threshold 1/$denom " +
        s"(need k+1 >= denom) — raise k or the threshold")
    val mg = udaf(new MisraGries(k), org.apache.spark.sql.Encoders.STRING)
    val pop = items.select(col("item").cast("string")).filter(col("item").isNotNull)
    val candidates = pop
      .agg(mg(col("item")).as("cands"), count(lit(1)).as("n"))
      .select(explode(col("cands")).as("item"), col("n"))
    pop.join(broadcast(candidates), "item")
      .groupBy(col("item"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(denom) > col("n"))
      .select(col("item"), col("cnt"))
  }

  /** PER-GROUP exact heavy hitters — "each language's dominant tokens",
    * the stratified form of [[heavyHitters]]: one independent k-counter
    * Misra-Gries summary per group (the udaf partial-aggregates
    * map-side per (group, partition) and merges — mergeability is per
    * group for free), so the corpus-wide shuffle carries groups×k
    * counters, never any group's item domain. The per-group population
    * count rides the same scan, the groups×k candidate rows broadcast
    * into the exact verify pass, and the guarantee is [[heavyHitters]]'
    * applied group-wise (k+1 >= denom enforced once — it is
    * group-size-independent). Two scans total, like the global form. */
  def heavyHittersByGroup(spark: SparkSession, items: DataFrame,
      k: Int, denom: Long): DataFrame = {
    require(k + 1 >= denom,
      s"heavyHittersByGroup: k=$k counters cannot guarantee capture at threshold " +
        s"1/$denom (need k+1 >= denom)")
    val mg = udaf(new MisraGries(k), org.apache.spark.sql.Encoders.STRING)
    val pop = items.select(col("grp"), col("item").cast("string"))
      .filter(col("item").isNotNull)
    val candidates = pop.groupBy(col("grp"))
      .agg(mg(col("item")).as("cands"), count(lit(1)).as("n"))
      .select(col("grp"), explode(col("cands")).as("item"), col("n"))
    pop.join(broadcast(candidates), Seq("grp", "item"))
      .groupBy(col("grp"), col("item"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(denom) > col("n"))
      .select(col("grp"), col("item"), col("cnt"))
  }

  // ---- Count-Min sketch ----------------------------------------------------
  //
  // The complement of Misra-Gries: MG answers "which items are heavy"
  // (top-k membership, nothing about the rest); Count-Min answers "how
  // often does THIS item occur" for ANY item, from depth×width cells of
  // state, with the one-sided guarantee est >= true and
  // est <= true + 2n/width at probability 1 - 2^-depth per hash row.
  //
  // Deliberately built as a plain DataFrame aggregation, not an
  // Aggregator: a CMS cell count is just COUNT(*) grouped by
  // (hash row, bucket), so Spark's map-side partial aggregation IS the
  // sketch's mergeability — each map partition reduces to <= depth×width
  // partial cells before the one KB-scale shuffle, the exact
  // one-pass/bounded-state shape the sketch exists for. The md5-derived
  // bucket hashes make every cell deterministic, so unlike most sketches
  // the whole structure is engine-portable and carries a hash-matched
  // DuckDB oracle, not just a rows-only check.

  /** Bucket of `item` under hash row j: the first 15 md5 hex nibbles of
    * the row-salted item, mod width — uniform, deterministic, and the
    * same arithmetic the oracle SQL does. Since r18 computed by the
    * string-free codegen hash (plans/Md5Bits60Expr.scala — the top 60
    * digest bits, bit-identical to the hex substring/conv parse, the
    * [[hllHash]] precedent): the CMS lanes run corpus×depth rows per
    * build, and the hex round-trip was the dominant per-row cost. */
  private def cmsBucket(item: org.apache.spark.sql.Column, j: Int, width: Int) =
    pmod(call_function("graft_md5_60", lit(s"cm$j|"), item.cast("string")),
      lit(width.toLong))

  /** All `depth` bucket positions of `item` as one array column —
    * shared by the batch sketch below and the streaming twin
    * ([[graft.streaming.StreamingJobs.cmsSketchStream]]), so the two
    * can never hash apart. */
  def cmsBuckets(item: org.apache.spark.sql.Column, depth: Int, width: Int) =
    array((0 until depth).map(j => cmsBucket(item, j, width)): _*)

  /** Build the sketch TABLE (j, bucket, cnt) over `items` (one string
    * column `item`; nulls dropped — no identity, nothing to count).
    * depth×width cells max (absent cells are implicit zeros); one
    * shuffle whose payload is the map-side-combined cells, never the
    * items. */
  def cmsSketch(items: DataFrame, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"cmsSketch: depth=$depth width=$width")
    val it = items.select(col("item").cast("string")).filter(col("item").isNotNull)
    it.select(posexplode(cmsBuckets(col("item"), depth, width)).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `probes` (distinct string column `item`)
    * against a [[cmsSketch]]: min over the depth cells, absent cells
    * read 0. The sketch (<= depth×width rows) broadcasts; the probe
    * side never shuffles. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame,
      depth: Int, width: Int): DataFrame = {
    val melted = probes
      .select(col("item").cast("string")).filter(col("item").isNotNull).distinct()
      .select(col("item"),
        posexplode(cmsBuckets(col("item"), depth, width)).as(Seq("j", "bucket")))
    melted.join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  // ---- Bloom filter --------------------------------------------------------
  //
  // The third sketch of the family: Misra-Gries answers "which items are
  // heavy", Count-Min answers "how often does THIS item occur", Bloom
  // answers "have I EVER seen this item" — the membership question an
  // ingest pipeline asks of every arriving document against the standing
  // corpus ("is this digest already in the store?"). The contract is
  // one-sided like CMS's: no false negatives ever (a true member always
  // probes positive), false positives at a rate bounded by
  // (1 - e^(-n/width))^k for n distinct items — and a positive can then
  // be confirmed by the exact path (incrementalDupes / an id lookup), so
  // the corpus-sized work runs only for the tiny maybe-member fraction.
  //
  // Same construction discipline as the CMS: a PARTITIONED Bloom filter
  // (k hash rows × width bits, one md5-derived bit per row) built as a
  // plain DataFrame aggregation — the set-bit table is just
  // DISTINCT (row, bit), so map-side partial aggregation bounds every
  // partition's shuffle contribution at k×width cells, and the
  // md5-derived bits make the filter deterministic and engine-portable:
  // the whole structure (and every probe verdict, false positives
  // included) hash-matches a DuckDB twin.

  /** Bit position of `item` under hash row j: first 15 md5 hex nibbles
    * of the row-salted item, mod width — the same arithmetic family as
    * [[cmsBuckets]], salted "bf" to decorrelate from the CMS cells;
    * string-free via graft_md5_60 since r18 (every ingest gate derives
    * these bits for the full batch, and the build for the corpus). */
  private def bloomBit(item: org.apache.spark.sql.Column, j: Int, width: Int) =
    pmod(call_function("graft_md5_60", lit(s"bf$j|"), item.cast("string")),
      lit(width.toLong))

  /** All k bit positions of `item` as one array column — shared by the
    * batch build/probe and the streaming probe twin
    * ([[graft.streaming.StreamingJobs]]), so they can never hash apart. */
  def bloomBits(item: org.apache.spark.sql.Column, k: Int, width: Int) =
    array((0 until k).map(j => bloomBit(item, j, width)): _*)

  /** Build the filter's SET-BIT table (j, pos) over `items` (one string
    * column `item`; nulls dropped — membership of null is defined false).
    * At most k×width rows; ONE shuffle whose payload is the map-side-
    * deduplicated bit positions, never the items. Persist the result
    * next to the corpus and every future ingest batch probes it for the
    * cost of a broadcast. */
  def bloomBuild(items: DataFrame, k: Int, width: Int): DataFrame =
    withGeometry(bitRows(items, k, width).distinct(), k, width)

  /** The build-time (k, width) ride the bit table's schema as metadata
    * on `pos` ([[Geometry]]): a probe or append under another geometry
    * derives bit positions the table never set, so it fails loudly. */
  private def bloomGeometry(k: Int, width: Int) =
    Seq("graft.bloom_k" -> k.toLong, "graft.bloom_width" -> width.toLong)

  private def withGeometry(bits: DataFrame, k: Int, width: Int): DataFrame =
    bits.select(col("j"), col("pos").as("pos", Geometry.meta(bloomGeometry(k, width))))

  private def requireBloomGeometry(bits: DataFrame, k: Int, width: Int, op: String): Unit =
    Geometry.check(bits, "pos", bloomGeometry(k, width), op, "bit table")

  /** Every item's k (j, pos) rows, duplicates kept. */
  private def bitRows(items: DataFrame, k: Int, width: Int): DataFrame = {
    require(k >= 1 && width >= 2, s"bloomBuild: k=$k width=$width")
    items.select(col("item").cast("string")).filter(col("item").isNotNull)
      .select(posexplode(bloomBits(col("item"), k, width)).as(Seq("j", "pos")))
  }

  /** OR an admitted batch's items into a standing bit table (r13 — the
    * "incremental OR-in" the ingest docs promise, made a real
    * operator): a Bloom filter's state is a bit SET, so append is
    * exactly set union of the (j, pos) rows. Equivalence
    * `bloomAppend(bloomBuild(c), b) ≡ bloomBuild(c ∪ b)` is
    * property-tested. Everything here is ≤ k×width rows (KBs) plus the
    * batch's own bit derivation — maintenance is as cheap as the probe.
    * That bound is why the union dedups in ONE task: no shuffle, and the
    * rewrite is a single job. */
  def bloomAppend(bits: DataFrame, items: DataFrame, k: Int, width: Int): DataFrame = {
    requireBloomGeometry(bits, k, width, "bloomAppend")
    withGeometry(bits.unionByName(bitRows(items, k, width)).coalesce(1).distinct(), k, width)
  }

  // ---- HyperLogLog ---------------------------------------------------------
  //
  // The fourth sketch of the family, answering the remaining question:
  // Misra-Gries = "which items are heavy", Count-Min = "how often does
  // THIS item occur", Bloom = "have I seen this item", HyperLogLog =
  // "HOW MANY DISTINCT items" — the cardinality a pipeline wants per
  // group (distinct users per component, distinct shingles per source)
  // without paying the exact-distinct shuffle, which at a web-scale
  // domain carries the whole item universe to the reducers.
  //
  // Same construction discipline as the CMS/Bloom: the register table is
  // a plain DataFrame aggregation — register r_j is just MAX(rho) grouped
  // by bucket j, so Spark's map-side partial aggregation IS the sketch's
  // mergeability (every map partition reduces to <= m register rows
  // before the one KB-scale shuffle; m registers replace a domain-sized
  // exact-distinct exchange). The md5-derived (bucket, rho) split makes
  // every register deterministic, so the whole structure hash-matches a
  // DuckDB twin; the estimate itself is kept bit-portable by computing
  // the harmonic denominator as an EXACT INTEGER (sum of 2^(R - r_j),
  // R = 61 - p >= r_j, max m·2^R = 2^61 for any p — BIGINT-safe) and
  // dividing the driver-side constant alpha_m·m²·2^R by it: one IEEE
  // division, no float accumulation order to drift across engines.

  /** 60-bit item hash: first 15 md5 hex nibbles of the salted item —
    * the same VALUE family as [[cmsBuckets]]/[[bloomBits]], salted
    * "hl|" to decorrelate from both, computed by the string-free
    * codegen expression (plans/Md5Bits60Expr.scala: digest top-60-bits
    * == the hex-nibble parse bit-for-bit, so the DuckDB twin's
    * hex arithmetic still matches; measured 3× on the 60M-row
    * register build where the hex/substring/conv round-trips were the
    * whole profile). */
  private def hllHash(item: org.apache.spark.sql.Column) =
    call_function("graft_md5_60", lit("hl|"), item)

  /** (bucket, rho) of `item` under 2^p registers: bucket = low p bits,
    * rho = 1 + leading-zero count of the remaining w = (60 − p)-bit word
    * (range 1..61−p; w = 0 reads 61−p). The leading-zero count is exact
    * integer/string arithmetic — (60−p) − length(minimal base-2 string)
    * — whose DuckDB mirror is length(bin(w)): both engines render the
    * minimal binary string ("0" for zero), so the two can never drift.
    * Public because the streaming twin
    * ([[graft.streaming.StreamingJobs.hllRegistersStream]]) shares this
    * arithmetic — the two register builds can never hash apart. */
  def hllFields(item: org.apache.spark.sql.Column, p: Int) = {
    val h = hllHash(item)
    val w = shiftright(h, p)
    val bitlen = when(w === 0L, lit(0))
      .otherwise(length(conv(w, 10, 2))).cast("int")
    (pmod(h, lit(1L << p)), (lit(60 - p + 1) - bitlen).cast("int"))
  }

  /** Per-group distinct-cardinality estimates for `items` (columns
    * `grp`, `item`; null items dropped — no identity, nothing to count):
    * one independent 2^p-register HLL per group, emitted as
    * (grp, n_zero, s_scaled, est) where n_zero is the empty-register
    * count V, s_scaled the exact-integer harmonic denominator
    * Σ_j 2^(R − r_j) (empty registers contribute 2^R), and est the raw
    * HLL estimate alpha_m·m²/Z = alpha_m·m²·2^R / s_scaled.
    *
    * Plan shape: two KB-bounded shuffles — partial-MAX registers on
    * (grp, bucket) (<= groups×m rows after map-side combine, never the
    * item domain), then the groups-sized register fold. The small/large-
    * range corrections are [[hllCorrected]], applied OUTSIDE the
    * hash-matched columns: ln is libm-dependent and would break the
    * bit-portable oracle contract this family maintains. */
  def hllDistinctByGroup(items: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"hllDistinctByGroup: p=$p out of range 4..16 " +
      "(m = 2^p registers per group — keep the register table KB-scale; the " +
      "integer denominator is m·2^(61−p) = 2^61 at worst for any p)")
    val m = 1 << p
    val rMax = 60 - p + 1
    val c = hllNumerator(p)
    val (bucket, rho) = hllFields(col("item"), p)
    items.select(col("grp"), col("item").cast("string"))
      .filter(col("item").isNotNull)
      .select(col("grp"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("grp"), col("bucket"))
      .agg(max(col("rho")).as("r"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("nb"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $rMax - r)")).as("sp"))
      .select(col("grp"), (lit(m.toLong) - col("nb")).as("n_zero"),
        (col("sp") + (lit(m.toLong) - col("nb")) * lit(1L << rMax))
          .as("s_scaled"))
      .withColumn("est", lit(c) / col("s_scaled"))
  }

  /** The estimate's numerator constant alpha_m·m²·2^(61−p), computed
    * driver-side (alpha_m·m² pays one rounding, the 2-power scale is
    * exact) — public so the oracle SQL interpolates the SAME double
    * literal and both engines perform the identical single division. */
  def hllNumerator(p: Int): Double = {
    val m = 1 << p
    (0.7213 / (1.0 + 1.079 / m)) * m * m * math.pow(2.0, 60 - p + 1)
  }

  /** DuckDB-SQL twin of the shared 60-bit hash contract (`graft_md5_60` /
    * Similarity.shingleHash): first 15 md5 hex nibbles of a column named
    * `hx` → non-negative BIGINT. Hoisted here so the sketch oracles in
    * QueriesLlm and QueriesEvents interpolate ONE fragment and can never
    * drift apart from each other (or from this comment's contract). */
  val hexToHSql: String = (1 to 15)
    .map(i => s"CAST(strpos('0123456789abcdef', substr(hx, $i, 1))-1 AS BIGINT)*${1L << (4 * (15 - i))}")
    .mkString(" + ")

  /** Standard HLL range corrections over [[hllDistinctByGroup]] output,
    * as a driver-visible column transform: linear counting
    * m·ln(m/V) when est <= 2.5m and V > 0 (the raw estimator biases high
    * at small cardinalities), raw estimate otherwise (the 60-bit hash
    * space needs no large-range correction at any realistic corpus).
    * Deliberately separate from the sketch query: ln's last-ulp behavior
    * is libm-specific, so this column is accuracy-tested in ScalaTest
    * rather than hash-matched across engines. */
  def hllCorrected(p: Int)(est: org.apache.spark.sql.Column,
      nZero: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = (1 << p).toDouble
    when(est <= lit(2.5 * m) && nZero > 0L,
      lit(m) * log(lit(m) / nZero.cast("double"))).otherwise(est)
  }

  /** Probe `probes` (any columns + a string `item`) against a
    * [[bloomBuild]] bit table: appends `n_hits` (how many of the k bits
    * are set) and `maybe_member` (all k set — the Bloom verdict).
    *
    * ZERO shuffles on the probe side: each of the k bit positions is
    * row-local arithmetic and checks against its hash row's set-bit list
    * via one BROADCAST left join (the bit table is <= k×width rows ≈ KBs
    * by construction), so the probe path runs at scan speed — the shape
    * that matters when "probes" is every arriving document at ingest
    * rate. A NULL item probes to n_hits = 0, maybe_member = false.
    *
    * ONE broadcast serves all k lanes: every lane joins the same build
    * side, the bit table keyed `j·width + pos`, so the planner reuses a
    * single broadcast (a per-lane filter would make k different ones).
    * The operator runs no job of its own: pass a materialized bit table
    * (a persisted parquet version, or a checkpointed build) — an inline
    * [[bloomBuild]] stays one lazy subtree whose distinct runs with the
    * probe. */
  def bloomProbe(bits: DataFrame, probes: DataFrame, k: Int, width: Int): DataFrame = {
    require(k >= 1 && width >= 2, s"bloomProbe: k=$k width=$width")
    requireBloomGeometry(bits, k, width, "bloomProbe")
    val reserved = (0 until k).flatMap(j => Seq(s"_bp$j", s"_hit$j")) ++
      Seq("n_hits", "maybe_member")
    val clash = probes.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"bloomProbe: input columns collide with reserved working names: ${clash.mkString(", ")}")
    val key = col("j").cast("long") * width + col("pos")
    val joined = (0 until k).foldLeft(probes) { (acc, j) =>
      acc.join(
        broadcast(bits.select(key.as(s"_bp$j"), lit(1).as(s"_hit$j"))),
        lit(j.toLong * width) + bloomBit(col("item"), j, width) === col(s"_bp$j"), "left")
        .drop(s"_bp$j")
    }
    joined
      .withColumn("n_hits",
        (0 until k).map(j => coalesce(col(s"_hit$j"), lit(0)))
          .reduce(_ + _).cast("int"))
      .withColumn("maybe_member", col("n_hits") === k)
      .drop((0 until k).map(j => s"_hit$j"): _*)
  }
}
