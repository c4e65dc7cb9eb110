package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Behavior, Fuzzy}
import graft.sources.{Fs, Store, Tables}

/** The served-store primitive: one key, one path layout, one lock and
  * one marker for every corpus artifact a served query persists. */
class StoreSpec extends AnyFunSuite {
  import TestSpark._

  private val root = Paths.get(scratch("store"))

  /** A fresh copy of the test corpus at `<root>/<rel>` — a dir no store
    * has been built for yet. */
  private def fixture(rel: String): String = {
    val to = root.resolve(rel)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(sfDir), to.toFile)
    to.toString
  }

  /** Shared by the crash and layout tests: the crash test builds every
    * store on it, the layout test then inspects them. */
  private lazy val corpus = fixture("sf")

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def q(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** Inline twin of the fuzzy served rows: the signature index built in
    * the query, never persisted. */
  private def fuzzyInline(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir).customer.select(col("c_custkey"), col("c_name"))
    Fuzzy.probeSignatureIndex(c.filter(col("c_custkey") % 10 === 0), "c_custkey", "c_name",
      index = Fuzzy.signatureIndex(c.filter(col("c_custkey") % 10 =!= 0),
        "c_custkey", "c_name", maxDist = 1),
      maxDist = 1)
  }

  /** Inline twin of q_sim_ivfpq_incremental: train on the base slice,
    * encode base ∪ delta with those codebooks. */
  private def ivfPqIncInline(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    val all = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("corpus_id"), col("embedding").as("ce"))
    val base = all.filter(col("corpus_id") % 10 =!= 0)
    val (coarse, pqcb) = Ann.trainBoth(Ann.kmeansCodebook(base, k = 4, iters = 2),
      Ann.pqCodebook(base, iters = 2))
    val codes = Ann.pqEncode(pqcb, all)
      .join(Ann.assignCells(coarse, all).select(col("corpus_id"), col("cell")), "corpus_id")
    Ann.ivfPqTopK(coarse, pqcb, codes,
      e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding").as("qe")),
      k = 5, nprobe = 2)
  }

  /** One row per [[Store.once]] kind: (kind, a served query that builds
    * it, its inline twin, the dir under the store its reader scans). */
  private val kinds: Seq[(String, String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("gram_index", "q_dedup_substr_served", q("q_dedup_substr_incremental"), ""),
    ("bloom_bits", "q_ingest_gates_served", q("q_ingest_gates"), ""),
    ("band_index", "q_ingest_gates_served", q("q_ingest_gates"), ""),
    ("ivfpq_index", "q_sim_ivfpq_served", q("q_sim_ivfpq"), "codes/cell=99"),
    ("ivfpq_index_inc", "q_sim_ivfpq_incremental", ivfPqIncInline, "codes/cell=99"),
    ("pos_index", "q_text_phrase_served", q("q_text_phrase"), "tb=999"),
    ("pos_index_inc", "q_text_phrase_incremental", q("q_text_phrase"), "tb=999"),
    ("fuzzy_index", "q_fuzzy_join_served", fuzzyInline, ""),
    ("fuzzy_index_inc", "q_fuzzy_join_incremental", fuzzyInline, "seg"),
    ("user_stats", "q_event_transitions",
      (s, dir) => Behavior.transitionCounts(Tables(s, dir).events, "user_id", "ts",
        "event_id", "event_type", 86400L), ""),
    ("bpe_model", "q_bpe_tokenize_served", q("q_bpe_tokenize"), ""))

  test("Store.once under contention: build runs exactly once, marker only after it returns") {
    val dir = s"contention-${System.nanoTime()}"
    val path = Store.path("once_contention", spark, dir)
    val marker = s"$path/${Store.Marker}"
    val builds = new AtomicInteger
    val markerDuringBuild = new AtomicBoolean
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val results = (1 to n).map(_ => pool.submit(new Callable[(String, Boolean)] {
        def call() = {
          start.await()
          val p = Store.once("once_contention", spark, dir) { p =>
            builds.incrementAndGet()
            if (Fs.exists(marker)) markerDuringBuild.set(true)
            Thread.sleep(200)
            Fs.writeString(s"$p/artifact", "x\n")
            if (Fs.exists(marker)) markerDuringBuild.set(true)
          }
          (p, Fs.exists(marker))
        }
      }))
      start.countDown()
      val got = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"build ran ${builds.get} times")
      assert(!markerDuringBuild.get, "marker existed while build was running")
      assert(got.forall(_ == (path, true)), s"a caller returned before the marker: $got")
      assert(Fs.exists(s"$path/artifact"))
    } finally {
      pool.shutdownNow()
      Fs.delete(path)
    }
  }

  test("served stores: dirs differing only in punctuation resolve distinct stores") {
    // both dirs sanitise to the same string under a replaceAll of
    // non-alphanumerics; the md5 key of the raw dir keeps them apart
    val a = fixture("x/sf")
    val b = fixture("x-sf")
    def run(name: String, dir: String) = {
      val df = q(name)(spark, dir)
      rows(df, df.columns.toSeq)
    }
    for ((name, kind) <- Seq("q_bpe_tokenize_served" -> "bpe_model",
        "q_sim_ivfpq_served" -> "ivfpq_index", "q_sim_ivf_probe2" -> "ivf_index")) {
      val (pa, pb) = (Store.path(kind, spark, a), Store.path(kind, spark, b))
      assert(pa != pb)
      val ra = run(name, a)
      assert(Fs.exists(pa) && !Fs.exists(pb), s"$name on $a touched $pb")
      val rb = run(name, b)
      assert(Fs.exists(pb), s"$name on $b did not build $pb")
      assert(ra == rb && ra.nonEmpty, s"$name: same corpus, different rows")
    }
  }

  test("served stores: crash leftovers are cleared and rows equal the inline form, every kind") {
    val dir = corpus
    // a half-written part-file under each store, no marker: what a
    // build that died mid-write leaves behind
    val strays = kinds.map { case (kind, _, _, sub) =>
      val stray = Seq(Store.path(kind, spark, dir), sub, "part-00000-crashed.snappy.parquet")
        .filter(_.nonEmpty).mkString("/")
      Fs.writeString(stray, "PAR1 truncated")
      kind -> stray
    }.toMap
    for ((kind, name, inline, _) <- kinds) {
      val served = q(name)(spark, dir)
      val cols = served.columns.toSeq
      assert(rows(served, cols) == rows(inline(spark, dir), cols), s"$kind: $name != inline")
      assert(!Fs.exists(strays(kind)), s"$kind: crash leftover survived the build")
      assert(Fs.exists(s"${Store.path(kind, spark, dir)}/${Store.Marker}"), s"$kind: no marker")
    }
  }

  test("served stores: on-disk layout is <scope root>/graft_<kind>/<md5 of dir>") {
    // the layout Bench's tmp_store_bytes sizes: every store lives in the
    // application's scope and dies with it
    val dir = corpus
    val scope = Store.root(spark.sparkContext)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val layout = s"\\Q$scope\\E/graft_([a-z_]+)/[0-9a-f]{32}".r
    val expected = kinds.map(_._1).toSet + "ivf_index"
    (kinds.map(_._2) :+ "q_sim_ivf_probe2").distinct.foreach(q(_)(spark, dir).collect())
    for (kind <- expected)
      assert(layout.matches(Store.path(kind, spark, dir)), Store.path(kind, spark, dir))
    // every store built for this dir is one of the known kinds, at
    // exactly that layout
    val found = Files.list(Paths.get(scope)).toArray.map(_.toString)
      .filter(_.startsWith(s"$scope/graft_"))
      .map(r => s"$r/$md5").filter(p => Files.isDirectory(Paths.get(p)))
      .map {
        case p @ layout(kind) => assert(p == Store.path(kind, spark, dir)); kind
        case p => fail(s"store off the layout: $p")
      }.toSet
    assert(found == expected)
  }

  test("application scope: a stopped application leaves no store, checkpoint or memo behind") {
    // two applications in sequence in one child JVM (this JVM's shared
    // session must stay up for later suites); the child reports what it
    // saw as `key=value` lines
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val log = new java.io.File(scratch("scope-apps.log"))
    val child = new ProcessBuilder((Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g",
        "-Dspark.ui.enabled=false") ++ jvm ++
        Seq("-cp", sys.props("java.class.path"), "graft.StoreSpec", sfDir)): _*)
      .redirectError(log).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).getLines().toList
    assert(child.waitFor(300, TimeUnit.SECONDS) && child.exitValue == 0,
      scala.io.Source.fromFile(log).getLines().toSeq.takeRight(30).mkString("\n"))
    val seen = out.collect { case s"scope.$k=$v" => k -> v }.toMap
    val (a, b) = (seen("a.app"), seen("b.app"))
    assert(a != b)
    val root = seen("a.root")
    assert(seen("a.store").startsWith(s"$root/graft_bpe_model/"), seen("a.store"))
    assert(seen("a.checkpoint").startsWith(s"file:$root/checkpoint"), seen("a.checkpoint"))
    assert(seen("a.built") == "true" && seen("a.live") == "true")
    // after A stops: its scope root is gone, the registry forgot it, and
    // nothing keyed by its applicationId is left in /tmp or the tmpdir
    assert(seen("a.stopped.root") == "false" && seen("a.stopped.live") == "false")
    for (d <- Seq("/tmp", sys.props("java.io.tmpdir")); f <- new java.io.File(d).listFiles())
      if (f.getName.startsWith("graft")) for (k <- Seq(a, a.replaceAll("[^A-Za-z0-9]", "_")))
        assert(!f.getName.endsWith(k) && !new java.io.File(f, k).exists, s"$f holds $k")
    // B builds its own stores again and returns the same rows
    assert(seen("b.built") == "true" && !seen("b.store").startsWith(root))
    assert(seen("b.rows") == seen("a.rows") && seen("a.rows").nonEmpty)
  }
}

/** The child JVM of the application-scope test: runs application A and
  * then application B on the corpus `args(0)`, each building a served
  * store, resolving `Tables`, serving the LM model and running connected
  * components, and prints what it saw as `scope.<key>=<value>` lines. */
object StoreSpec {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def put(k: String, v: Any): Unit = println(s"scope.$k=$v")
    for (tag <- Seq("a", "b")) {
      val spark = GraftSession.builder(s"graft-scope-$tag", "2").getOrCreate()
      import spark.implicits._
      val sc = spark.sparkContext
      val root = Store.root(sc)
      val store = Store.path("bpe_model", spark, dir)
      val served = Seq("q_bpe_tokenize_served", "q_text_perplexity_served")
        .map(n => SparkEntry.queries(n)(spark, dir).collect().map(_.mkString("|")).sorted.mkString(";"))
      val docs = Tables(spark, dir).documents.count()
      val cc = graft.operators.Components.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b"), "a", "b")
        .collect().map(_.mkString("|")).sorted.mkString(";")
      put(s"$tag.app", sc.applicationId)
      put(s"$tag.root", root)
      put(s"$tag.store", store)
      put(s"$tag.built", Fs.exists(s"$store/${Store.Marker}"))
      put(s"$tag.checkpoint", sc.getCheckpointDir.getOrElse(""))
      put(s"$tag.live", Store.live(sc))
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest((served :+ docs.toString :+ cc).mkString("\n").getBytes("UTF-8"))
      put(s"$tag.rows", digest.map("%02x".format(_)).mkString)
      spark.stop()
      put(s"$tag.stopped.root", new java.io.File(root).exists)
      put(s"$tag.stopped.live", Store.live(sc))
    }
  }
}
