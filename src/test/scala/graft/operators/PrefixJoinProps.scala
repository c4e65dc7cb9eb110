package graft.operators

import org.scalacheck.{Gen, Prop, Properties, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Property checks for the exact prefix-filtering similarity join and
  * its hot-bucket pair rebalancer: the block decomposition must emit the
  * IDENTICAL pair multiset as the in-task suffix explode at any block
  * geometry (blocks dividing the bucket evenly, ragged tails, every
  * bucket in one block, every member its own block), and the full join
  * must equal brute-force exact Jaccard — prefix filtering is a cost
  * optimization and must be invisible in the result. */
object PrefixJoinProps extends Properties("PrefixJaccardJoin") {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10)

  private val genBuckets: Gen[List[List[Long]]] = for {
    n  <- Gen.choose(1, 6)
    bs <- Gen.listOfN(n, for {
      m   <- Gen.choose(1, 25)
      ids <- Gen.listOfN(m, Gen.choose(0L, 80L))
    } yield ids.distinct.sorted)
  } yield bs

  property("explodePairsBalanced == explodePairs pair multiset, any blockSize") =
    Prop.forAll(genBuckets, Gen.choose(2, 7)) { (bs, blockSize) =>
      import TestSpark.spark.implicits._
      val df = bs.zipWithIndex.map { case (ids, i) => (i.toLong, ids) }
        .toDF("bk", "ids")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val base = rows(Dedup.explodePairs(df, "ids", carry = Seq("bk")))
      val bal  = rows(Dedup.explodePairsBalanced(df, "ids", blockSize, carry = Seq("bk")))
      Prop(base == bal) :| s"blockSize=$blockSize base=$base bal=$bal"
    }

  // tiny vocabularies + short docs → dense overlap structure, boundary
  // jaccard values (exact thirds/halves) hit the integer τ filter edge;
  // docs shorter than k words have no tokens at all, and docs drawn from
  // the two disjoint vocabularies make pairs sharing zero tokens
  private val genDocs: Gen[List[(Long, String)]] = for {
    n  <- Gen.choose(2, 12)
    ds <- Gen.listOfN(n, for {
      m     <- Gen.choose(0, 10)
      vocab <- Gen.oneOf(Seq("a", "b", "c", "d", "e", "f"), Seq("u", "v", "w"))
      ws    <- Gen.listOfN(m, Gen.oneOf(vocab))
    } yield ws.mkString(" "))
  } yield ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("prefixJaccardPairs == brute-force exact jaccard") =
    Prop.forAll(genDocs, Gen.oneOf(100000L, 300000L, 500000L, 800000L, 1000000L),
        Gen.choose(2, 5), Gen.choose(1, 3)) { (docsL, tauQ, blockSize, k) =>
      import TestSpark.spark.implicits._
      val df = docsL.toDF("doc_id", "text")
      val got = Dedup.prefixJaccardPairs(df, k, tauQ, blockSize)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val sets = docsL.map { case (id, t) =>
        val ws = t.split(" ")
        id -> ws.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        o = (sa & sb).size.toLong
        if o * 1000000L >= tauQ * (sa.size + sb.size - o)
      } yield (a, b) -> o).toMap
      Prop(got == want) :| s"k=$k tauQ=$tauQ got=$got want=$want"
    }
}
