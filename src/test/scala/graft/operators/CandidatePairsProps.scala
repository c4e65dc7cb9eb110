package graft.operators

import org.scalacheck.{Gen, Prop, Properties, Test => SCTest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Property checks for the embedding candidate-pair vocabulary the
  * dedup rungs and their quality rows share: [[Dedup.cosinePairs]] (the
  * exact all-pairs truth) must equal both a driver-side brute force and
  * the broadcast self-join it replaced, and [[Ann.cellPairs]] must equal
  * the brute in-cell pair set under the real top-1 and top-2
  * assignments — each pair once, even when it shares both its cells. */
object CandidatePairsProps extends Properties("CandidatePairs") {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10)

  // 4-dim vectors over a few exact coordinates: duplicate vectors
  // (cosine exactly 1), orthogonal ones, opposite ones and the zero
  // vector (NULL cosine, never a pair) all occur at this size
  private val genVecs: Gen[List[(Long, Seq[Float])]] = for {
    n  <- Gen.choose(2, 14)
    vs <- Gen.listOfN(n, Gen.listOfN(4, Gen.oneOf(-1f, 0f, 0.5f, 1f, 2f)))
  } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  private val genTau: Gen[Long] = Gen.oneOf(0L, 450000L, 900000L, 1000000L)

  /** graft_cosine's arithmetic (in-order double accumulation over
    * widened floats, NULL on a zero norm), floored to 1e-6 ticks. */
  private def cosQ(a: Seq[Float], b: Seq[Float]): Option[Long] = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.zip(b).foreach { case (x, y) =>
      dot += x.toDouble * y; na += x.toDouble * x; nb += y.toDouble * y
    }
    if (na == 0.0 || nb == 0.0) None
    else Some(math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000000.0).toLong)
  }

  private def pairs(d: DataFrame): List[(Long, Long)] =
    d.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted

  property("cosinePairs == brute force == the broadcast self-join it replaced") =
    Prop.forAll(genVecs, genTau) { (vecs, tau) =>
      import TestSpark.spark.implicits._
      val e = vecs.toDF("vec_id", "ce")
      val got = pairs(Dedup.cosinePairs(e, tau))
      val selfJoin = pairs(e.select(col("vec_id").as("doc_a"), col("ce").as("ca"))
        .join(broadcast(e.select(col("vec_id").as("doc_b"), col("ce").as("cb"))),
          col("doc_a") < col("doc_b"))
        .filter(floor(call_function("graft_cosine", col("ca"), col("cb"))
          * lit(1000000.0)).cast("long") >= tau))
      val brute = (for {
        (a, va) <- vecs; (b, vb) <- vecs
        if a < b && cosQ(va, vb).exists(_ >= tau)
      } yield (a, b)).sorted
      Prop(got == brute && got == selfJoin) :| s"tau=$tau got=$got brute=$brute self=$selfJoin"
    }

  property("cellPairs == brute in-cell pairs, each pair once, top-1 and top-2") =
    Prop.forAll(genVecs, genTau) { (vecs, tau) =>
      import TestSpark.spark.implicits._
      val corpus = vecs.toDF("corpus_id", "ce")
      val vec = vecs.toMap
      Prop.all((for (k <- 1 to 3; top2 <- Seq(false, true)) yield {
        // the first k vectors are the codebook; with top-2 over k = 2
        // every vector sits in both cells, so every pair is co-bucketed twice
        val cents = vecs.take(k).zipWithIndex.map { case ((_, v), c) => (c, v) }
          .toDF("cell", "ce").select(col("cell"), col("ce").cast("array<double>").as("ce"))
        val cells = (if (top2) Ann.assignCellsTop2(cents, corpus)
          else Ann.assignCells(cents, corpus)).drop("cscore")
        val got = pairs(Ann.cellPairs(cells, tau))
        val cellOf = cells.select("corpus_id", "cell").collect()
          .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getInt(1)).toSet }
        val brute = (for {
          (a, ca) <- cellOf.toList; (b, cb) <- cellOf.toList
          if a < b && (ca & cb).nonEmpty && cosQ(vec(a), vec(b)).exists(_ >= tau)
        } yield (a, b)).sorted
        Prop(got == brute) :| s"k=$k top2=$top2 tau=$tau got=$got brute=$brute"
      }): _*)
    }
}
