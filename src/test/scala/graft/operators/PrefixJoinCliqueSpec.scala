package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobProbe, TestSpark}

/** The exact prefix join's adversarial input: a mass-duplicate corpus in
  * which every doc sits in a clique of near-identical docs, so the
  * candidate count is quadratic in the clique size. */
class PrefixJoinCliqueSpec extends AnyFunSuite {
  import TestSpark._

  private val Cliques = 40
  private val Size = 30
  private val Words = 100
  private val K = 3
  private val TauQ = 800000L

  /** Each clique shares one random 100-word text; doc j of a clique
    * replaces one word with a doc-unique one. Vocabularies are
    * clique-prefixed, so docs of different cliques share no shingle. */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    for {
      c <- 0 until Cliques
      base = Array.fill(Words)(s"c${c}v${rnd.nextInt(1000)}")
      j <- 0 until Size
    } yield {
      val w = base.clone()
      w((j * 37 + c) % Words) = s"c${c}x$j"
      ((c * Size + j).toLong, w.mkString(" "))
    }
  }

  /** Shuffle bytes written by the jobs `f` runs on this thread. */
  private def shuffleWriteBytes(f: => Unit): Long =
    JobProbe(f).taskEnds.filter(_.taskMetrics != null)
      .map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum

  test("mass-duplicate cliques: pairs equal brute-force exact Jaccard, shuffle bytes stay " +
      "token- and candidate-sized") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    var got = Map.empty[(Long, Long), Long]
    val written = shuffleWriteBytes {
      got = Dedup.prefixJaccardPairs(df, K, TauQ).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }

    // brute force over all pairs, on interned shingle ids
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    val sets = corpus.map { case (id, t) =>
      id -> t.split(" ").sliding(K).map(w => ids.getOrElseUpdate(w.mkString(" "), ids.size))
        .toArray.distinct.sorted
    }.toArray
    def common(a: Array[Int], b: Array[Int]): Long = {
      var i = 0; var j = 0; var n = 0L
      while (i < a.length && j < b.length)
        if (a(i) == b(j)) { n += 1; i += 1; j += 1 } else if (a(i) < b(j)) i += 1 else j += 1
      n
    }
    val want = (for {
      x <- sets.indices; y <- x + 1 until sets.length
      (a, sa) = sets(x); (b, sb) = sets(y)
      o = common(sa, sb)
      if o * 1000000L >= TauQ * (sa.length + sb.length - o)
    } yield (a, b) -> o).toMap
    assert(want.size == Cliques * Size * (Size - 1) / 2, "every clique pair is a true pair")
    assert(got == want)

    // Shuffle-bytes bound from the plan shape. Every exchange is either
    // corpus-token-sized (the h-keyed df window, the per-doc rank
    // window, the prefix bucket agg and block rows, the digest sets) or
    // candidate-sized (the pair dedup, the doc_a re-key, and the doc_b
    // re-key that carries one packed set per candidate). Budget 64
    // written bytes per corpus token and 256 per candidate; measured
    // about 42 and 240 (shuffle compression shrinks the clique's
    // near-identical rows and sets), 9.1 MB in all. No exchange may
    // scale with candidates × tokens: a verify that joins each
    // candidate to its tokens on (doc_b, h) writes 1.7M such rows
    // (19.5 MB) for these 17,400 candidates, 29 MB in all.
    val tokens = sets.map(_._2.length.toLong).sum
    val bound = 64L * tokens + 256L * want.size
    assert(written <= bound,
      s"shuffle write $written B over the plan-shape bound $bound B " +
        s"($tokens tokens, ${want.size} candidates)")
  }
}
