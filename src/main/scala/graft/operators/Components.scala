package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the CLUSTERING
  * step between candidate-pair dedup and survivor selection. Pair
  * emission (minhash/simhash/embedding LSH) finds A~B and B~C as
  * separate rows; deciding that {A, B, C} is ONE duplicate cluster with
  * ONE survivor is a transitive-closure problem, and at corpus scale it
  * must run as bounded-round distributed iteration, not as a union-find
  * walked on one machine.
  *
  * Algorithm: min-label propagation with POINTER DOUBLING. Every vertex
  * starts labeled with itself; each round it adopts the minimum of its
  * own label, its neighbors' labels (one equi-join on the edge list),
  * and its label's label (one self-join on the label table — the
  * pointer jump). Neighbor propagation alone needs O(diameter) rounds —
  * a 10⁶-long chain of near-dups would need 10⁶ rounds; the pointer
  * jump compresses label chains like union-find path halving, giving
  * O(log n) convergence on ANY topology (each round at least doubles
  * the distance a minimum has traveled). Labels are monotone
  * non-increasing and always name a vertex of the same component, so
  * the fixpoint labels every vertex with its component's minimum id —
  * checked for exact convergence via an order-independent label sum in
  * exact DECIMAL, and require()d to converge within maxIter (fail loud,
  * never emit half-merged clusters).
  *
  * Scale shape: per round, one shuffle of (vertex, label) on the edge
  * join + one map-side-combined min-agg + one tiny self-join — state is
  * one label row per vertex, never the closure. The edge list is
  * CHECKPOINTED once up front — to disk, serialized (the upstream pair
  * generation, an LSH pipeline, must not recompute per round, and a
  * memory-pinned cache of a corpus-scale edge list is exactly the OOM
  * the operator must not have; reliable checkpointing is also what cuts
  * the iteration's lineage). Per-round label tables are vertex-sized
  * and localCheckpoint in memory. The driver loop only orchestrates and
  * reads per-round convergence aggregates — no row data ever collects.
  */
object Components {

  /** @param pairs undirected edges as two vertex-id columns (any
    *              integral type); self-loops and duplicate edges are
    *              tolerated
    * @return (id, component) for every vertex present in `pairs` —
    *         component = the minimum vertex id reachable; vertices with
    *         no edges are their own singleton components and are the
    *         caller's join-back (they never needed clustering)
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame = {
    require(maxIter > 0)
    // reliable (disk) checkpointing for the edge list
    graft.sources.Store.checkpointDir(pairs.sparkSession.sparkContext)
    // symmetric, deduplicated edge set, materialized once
    val e = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .unionByName(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct()
      .checkpoint()
    var lbl = e.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    // exact order-independent signature: labels only decrease, so the
    // sum strictly decreases every round until the fixpoint
    def sig(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
    var cur = sig(lbl)
    // no edges → no vertices to label: the decimal signature of an empty
    // label table is null (SQL sum over zero rows) and the loop would
    // NPE comparing it; the empty (id, component) frame is the answer
    if (cur == null) return lbl.select(col("id"), col("lbl").as("component"))
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // SHUFFLE_HASH, not broadcast: the label table is vertex-sized —
      // corpus-scale, never broadcastable (and a driver-side broadcast
      // build per round is exactly the collect this operator forbids)
      val viaEdge = e.join(lbl.hint("shuffle_hash"), e("dst") === lbl("id"))
        .select(col("src").as("id"), col("lbl"))
      val jump = lbl.as("x")
        .join(lbl.as("y").hint("shuffle_hash"), col("x.lbl") === col("y.id"))
        .select(col("x.id").as("id"), col("y.lbl").as("lbl"))
      val next = lbl.unionByName(viaEdge).unionByName(jump)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      val nextSig = sig(next)
      converged = nextSig.compareTo(cur) == 0
      cur = nextSig
      lbl = next
      it += 1
    }
    require(converged,
      s"connectedComponents: not converged after $maxIter rounds — " +
        "raise maxIter (pointer doubling needs ~log2(n) rounds)")
    lbl.select(col("id"), col("lbl").as("component"))
  }
}
