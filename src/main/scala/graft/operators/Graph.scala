package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis over an edge list: fixed-iteration PageRank as
  * bounded-round distributed iteration — the IMPORTANCE complement of
  * [[Components]]' connectivity (components says "these pages are one
  * cluster"; PageRank says "this page matters most"). In a training-data
  * pipeline this is the quality prior a web corpus is weighted by
  * (the original use of the measure) before sampling.
  *
  * ENGINE-PORTABLE BY CONSTRUCTION, like every oracle-checked operator
  * here: ranks are unscaled integers (`scale` units = rank 1.0) and the
  * d = 0.85 damped update runs entirely in BIGINT with truncating
  * division —
  *
  *   rank'(v) = (scale·15) DIV 100  +  85 · (Σ_{u→v} rank(u) DIV deg(u)) DIV 100
  *
  * Truncating integer division is deterministic and identical across
  * engines (all operands non-negative), so an unrolled-iteration SQL
  * twin reproduces the ranks BIT-EXACTLY — no float summation-order
  * question anywhere. The truncation itself only LOSES mass (each DIV
  * drops < 1 unit per edge/vertex), so ranks are a deterministic
  * lower-adjusted fixpoint of the real-valued iteration at 1/scale
  * resolution — at the default scale the per-iteration drift is ~1e-12
  * of total mass, far under any ranking-relevant difference.
  *
  * Scale shape (the 100 TB posture): the edge list is reliably
  * CHECKPOINTED once up front PRE-PARTITIONED ON `src`, and the vertex
  * table localCheckpoints PRE-PARTITIONED ON `id` (checkpoints preserve
  * output partitioning — `LogicalRDD` carries it), so per iteration the
  * plan pays exactly ONE exchange: the map-side-combined dst SUM. The
  * rank⋈edges join co-locates on the stored src partitioning (the rank
  * table inherits hashpartitioning(id) from the previous round's
  * update join), and the update join reuses the dst aggregation's
  * partitioning against the stored vertex partitioning (r10 — the
  * four-exchange-per-round formulation re-shuffled the same corpus on
  * the same keys every iteration; asserted in PlanSpec and measured at
  * sf30). State is one (id, deg, rank) row per vertex — never the edge
  * closure — and each round's rank table localCheckpoints (at cadence)
  * to cut the iteration's lineage; the reliable edge checkpoint keeps
  * failure-recovery lineage bounded (same rationale as [[Components]]:
  * the upstream edge derivation must not recompute per round, and
  * memory-pinning a corpus-scale edge list is the OOM the operator
  * must not have).
  *
  * Dangling vertices (no out-edges) would leak rank mass and complicate
  * the arithmetic contract; this operator REQUIRES none exist — callers
  * symmetrize the graph or add self-loops (both standard) — and fails
  * loudly otherwise, same fail-closed convention as
  * [[Components.connectedComponents]]'s convergence require.
  */
object Graph {

  /** @param edges directed edges (two integral columns); duplicates are
    *              deduplicated, self-loops allowed
    * @param iters fixed iteration count (PageRank converges
    *              geometrically at rate d — 10-20 iterations is the
    *              standard production choice; the oracle unrolls the
    *              same count)
    * @param scale integer units per 1.0 of rank; total mass n·scale
    *              must fit a signed 64-bit long (require()d — at the
    *              default 1e12 that is ~9.2M vertices; drop scale for
    *              larger graphs)
    * @return (id, rank) — rank in `scale` units, every vertex present
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000000000L,
      checkpointEvery: Int = 1): DataFrame = {
    require(iters >= 1, s"pageRank: iters=$iters")
    require(scale >= 100, s"pageRank: scale=$scale must carry the DIV 100 damping")
    require(checkpointEvery >= 1, s"pageRank: checkpointEvery=$checkpointEvery")
    graft.sources.Store.checkpointDir(edges.sparkSession.sparkContext)
    // stored pre-partitioned on src: every iteration's rank⋈edges join
    // then co-locates against this one materialization — zero edge-side
    // exchange per round (the repartition is the one time the corpus
    // moves for the join key)
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .checkpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
    // vertex table with out-degree attached once, stored pre-partitioned
    // on id — the per-iteration contribution (rank DIV deg) needs no
    // extra join, and the update join reuses this partitioning
    val vd = verts.join(deg, verts("id") === deg("src"), "left")
      .select(col("id"), col("deg"))
      .repartition(col("id"))
      .localCheckpoint()
    val nDangling = vd.filter(col("deg").isNull).count()
    require(nDangling == 0,
      s"pageRank: $nDangling dangling vertices (no out-edges) would leak rank mass — " +
        "symmetrize the graph or add self-loops")
    val nV = vd.count()
    require(nV <= Long.MaxValue / scale,
      s"pageRank: total mass $nV x $scale overflows 64-bit — lower scale")
    val teleport = scale * 15 / 100
    var rank = vd.withColumn("rank", lit(scale)).localCheckpoint()
    for (i <- 1 to iters) {
      val contrib = rank.select(col("id").as("_cid"), expr("rank DIV deg").as("_c"))
      // SHUFFLE_HASH: rank and edge tables are both corpus-sized (never
      // broadcastable) and the hash join needs no sort — same choice as
      // Components' label joins
      val in = e.join(contrib.hint("shuffle_hash"), e("src") === col("_cid"))
        .groupBy(col("dst")).agg(sum(col("_c")).as("_in"))
      val next = vd.join(in.hint("shuffle_hash"), vd("id") === in("dst"), "left")
        .select(col("id"), col("deg"),
          expr(s"$teleport + (coalesce(_in, CAST(0 AS BIGINT)) DIV 100) * 85")
            .as("rank"))
      // checkpoint CADENCE: a localCheckpoint is an eager materialization
      // job, so at cadence c only every c-th iteration pays one — the
      // skipped rounds' lineage (≤ c-1 join+agg stages, vertex-sized
      // state) re-plans as one wider job. Cadence trades a deeper plan
      // against fewer scheduled jobs; with failure-recovery lineage
      // bounded either way by the reliable edge checkpoint above.
      rank = if (i % checkpointEvery == 0 || i == iters) next.localCheckpoint()
             else next
    }
    rank.select(col("id"), col("rank"))
  }

  /** Per-vertex TRIANGLE counts over an undirected edge list — the
    * local-clustering building block (community density, spam/link-farm
    * signals; the classic "count without exploding" graph problem).
    *
    * The naive wedge join is the hazard: joining the adjacency list
    * with itself on the center vertex materializes Σ deg(v)² wedges,
    * and one celebrity vertex with 10M neighbors is 10¹⁴ wedges. The
    * standard fix (Cohen's MapReduce triangle counting / the
    * Suri–Vassilvitskii degree orientation) is implemented here: orient
    * every edge from its (degree, id)-SMALLER endpoint to the larger;
    * every vertex's OUT-degree is then O(√m) regardless of its raw
    * degree, wedges are bounded by Σ outdeg(v)² = O(m^1.5) — the
    * theoretical optimum — and each triangle forms exactly one wedge at
    * its (degree, id)-minimum apex, so no dedup pass exists.
    *
    * Every triangle credits all three corners (one explode), so
    * `n_tri(v)` = the number of triangles through v; vertices on no
    * triangle emit nothing (inner-join semantics — LEFT-join a vertex
    * table for zeros). Orientation affects COST only, never the
    * triangle set, so the SQL oracle can (and does) use plain id
    * ordering — same triangles, different join sizes.
    *
    * Shape: canonicalize+distinct (one shuffle), two vertex-keyed joins
    * to attach endpoint degrees, the wedge self-join on the apex, the
    * closure probe on the (lo, hi) wedge pair, one per-corner count.
    * All joins are hash equi-joins on vertex/pair keys; the oriented
    * edge list is checkpointed once (it is read three times — as apex
    * adjacency twice and as the closure probe side). */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    graft.sources.Store.checkpointDir(edges.sparkSession.sparkContext)
    val e0 = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b")) // self-loops close no triangle
      .distinct()
    val deg = e0.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    // orient by (degree, id): src = the smaller endpoint under that
    // total order; carry the dst's key so wedge pairs can be ordered
    // the same way without a third join
    val withDeg = e0
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("d", "db"), "b")
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    val o = withDeg.select(
        when(ka < kb, col("a")).otherwise(col("b")).as("src"),
        when(ka < kb, kb).otherwise(ka).as("dk"))
      .select(col("src"), col("dk.i").as("dst"), col("dk").as("dstKey"))
      .checkpoint()
    // wedges at the apex: unordered out-neighbor pairs, canonically
    // (lo, hi) by the SAME (degree, id) order the orientation used —
    // the closing edge, if present, is oriented exactly lo -> hi
    val x = o.select(col("src"), col("dst").as("v"), col("dstKey").as("vk"))
    val y = o.select(col("src"), col("dst").as("w"), col("dstKey").as("wk"))
    val wedges = x.join(y, "src")
      .filter(col("vk") < col("wk"))
      .select(col("src").as("u"), col("v").as("lo"), col("w").as("hi"))
    val closing = o.select(col("src").as("lo"), col("dst").as("hi"))
    wedges.join(closing, Seq("lo", "hi"))
      .select(explode(array(col("u"), col("lo"), col("hi"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
  }
}
