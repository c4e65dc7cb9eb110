package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{SparkContext, SparkFiles}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Served artifact stores: a corpus artifact (an index, a model, a
  * stats dim) built once per (application, corpus) and read by every
  * later probe. [[once]] owns the whole decision — the key, the path,
  * the lock and the completeness marker — so no query carries a gate
  * of its own.
  *
  *  - Path: `<scope root>/graft_<kind>/<key>`, inside the application's
  *    scope (below), never in the warehouse, whose data would outlive
  *    the in-memory catalog.
  *  - Key: the md5 of the RAW corpus dir. The scope already separates
  *    applications, and dirs that differ only in punctuation never
  *    collide.
  *  - Lock: one per path in the scope's memo, so concurrent callers in
  *    one application wait for the first build instead of racing its
  *    writes.
  *  - Delete-first: a store without its marker was never built, or a
  *    build died in it; the path is deleted before `build` runs, so
  *    part-files a crashed build left can never be served.
  *  - Marker-last: the marker is written only after `build` returns, so
  *    it commits everything `build` wrote. A build-then-append store is
  *    one `build` with one marker, and a crash between its steps
  *    rebuilds both.
  *
  * Lifetime: every store, cache and scratch dir graft keeps for an
  * application lives in that application's scope, and dies with its
  * SparkContext. The scope root is `graft/` under the application's
  * Spark-managed driver scratch dir (`SparkFiles.getRootDirectory`),
  * which Spark deletes on `SparkContext.stop()` and at JVM shutdown; it
  * also holds the default reliable-checkpoint dir ([[checkpointDir]]).
  * The scope's in-memory [[memo]] (the `Tables` relations, the served LM
  * model, the build locks) is dropped by one `onApplicationEnd` listener
  * that the scope registers when it is first used.
  *
  * The marker lives on the store's own filesystem ([[Fs]]), so the gate
  * holds wherever the path points. Bucketed tables keep their data
  * under the store path and take their catalog name from it
  * ([[table]]); the catalog is the application's in-memory one, like
  * the scope.
  *
  * Versioned stores ([[versions]]) are the streaming programs' standing
  * artifacts: siblings `<dir>/<name>_v<n>` under the same marker and
  * the same two rules. They live in the user's dir, not in the scope,
  * because a restarted stream resumes them. A version is committed
  * exactly when its marker exists, and only committed versions are
  * read. A committed version is never rewritten, so a replayed batch
  * skips what its first run committed. Retention keeps the two newest
  * committed versions (the newest's reader may still be on the previous
  * one) and drops every version below them, marker or not. One writer
  * per family — the stream's own micro-batch — so commits take no lock.
  * A stream reads its versions through one [[Resolver]], which resolves
  * each version once. */
object Store {

  private[graft] val Marker = "_GRAFT_STORE"

  /** One application's scratch root and memo. */
  private final class Scope(val root: String) {
    val memo = TrieMap.empty[Any, AnyRef]
  }

  /** The live applications' scopes: graft's one JVM-static map of
    * per-application state, each entry dropped at its application's end. */
  private val scopes = new ConcurrentHashMap[SparkContext, Scope]

  private def scope(sc: SparkContext): Scope = scopes.computeIfAbsent(sc, _ => {
    require(!sc.isStopped, s"application ${sc.applicationId} has stopped")
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = scopes.remove(sc)
    })
    new Scope(s"${SparkFiles.getRootDirectory()}/graft")
  })

  /** Whether `sc`'s application holds a scope. */
  private[graft] def live(sc: SparkContext): Boolean = scopes.containsKey(sc)

  /** The application's scope root (see the object doc). */
  private[graft] def root(sc: SparkContext): String = scope(sc).root

  /** `make`'s value for `key` in the application's memo, made on the
    * first call. Keys are tuples that name what they hold, so the memo's
    * users never meet: `(session, path)` for a `Tables` relation,
    * `("lm_model", dir)`, `("lock", path)`. Concurrent first calls may
    * both run `make`; every caller gets the one value the memo keeps. */
  private[graft] def memo[T <: AnyRef](sc: SparkContext, key: Any)(make: => T): T =
    scope(sc).memo.getOrElseUpdate(key, make).asInstanceOf[T]

  /** Give the application a reliable-checkpoint dir, `<scope
    * root>/checkpoint`, unless the deployment set one (a cluster points
    * it at durable storage). */
  def checkpointDir(sc: SparkContext): Unit = scope(sc).synchronized {
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(s"${root(sc)}/checkpoint")
  }

  /** Where a `kind` store for `dir` lives — for artifacts that are
    * rebuilt on purpose (no marker, no lock) but keyed like the rest. A
    * sanitising replace on the dir would collide distinct corpora
    * (`/data/sf0.1` vs `/data-sf0.1`), so the dir is hashed, never
    * rewritten. */
  def path(kind: String, s: SparkSession, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${root(s.sparkContext)}/graft_$kind/$key"
  }

  /** The store's path, built by `build(path)` first if its marker is
    * missing (see the object doc for the delete-first and marker-last
    * rules). */
  def once(kind: String, spark: SparkSession, dir: String)(build: String => Unit): String = {
    val p = path(kind, spark, dir)
    memo(spark.sparkContext, ("lock", p))(new Object).synchronized(commitAt(p)(build))
    p
  }

  /** Delete-first, `write(p)`, marker-last — unless `p` already carries
    * its marker. */
  private def commitAt(p: String)(write: String => Unit): Unit =
    if (!Fs.exists(s"$p/$Marker")) {
      Fs.delete(p)
      write(p)
      Fs.writeString(s"$p/$Marker", "ok\n")
    }

  /** The versioned family `<dir>/<name>_v<n>` (see the object doc). */
  def versions(dir: String, name: String): Versions = new Versions(dir, name)

  /** The one restart contract every versioned read fails with. */
  private[graft] def restartContract(dir: String, name: String, upTo: Long): String =
    s"store $dir has no committed $name version" +
      (if (upTo == Long.MaxValue) "" else s" <= $upTo") + ". A stream must " +
      "either RESUME its own checkpoint (batch ids continue where the " +
      "versions do) or run against a freshly initialized store: a new " +
      "checkpoint restarts batch ids at 0, which cannot read a matured " +
      "store's pruned early versions (and would re-number new versions " +
      "below the standing ones). Re-init the store or resume the " +
      "original checkpoint."

  final class Versions private[Store] (dir: String, name: String) {
    private[Store] val family = s"$dir/$name"
    private val Dir = (java.util.regex.Pattern.quote(name) + "_v(\\d+)").r
    def path(v: Long): String = s"$dir/${name}_v$v"
    private def listed: Seq[Long] = Fs.listDirNames(dir).collect { case Dir(v) => v.toLong }
    private def isCommitted(v: Long): Boolean = Fs.exists(s"${path(v)}/$Marker")
    private def drop(vs: Seq[Long], cut: Long): Unit =
      vs.filter(_ < cut).foreach(v => Fs.delete(path(v)))

    /** Committed versions, ascending. */
    def committed: Seq[Long] = listed.filter(isCommitted).sorted

    /** The newest committed version `<= upTo`, else the restart contract. */
    def latest(upTo: Long = Long.MaxValue): Long = latestOf(committed, upTo)

    private[Store] def latestOf(live: Seq[Long], upTo: Long): Long = {
      val vs = live.filter(_ <= upTo)
      require(vs.nonEmpty, restartContract(dir, name, upTo))
      vs.last
    }

    /** [[once]]'s body without the lock: a no-op if `v` is committed. */
    def commit(v: Long)(write: String => Unit): Unit = commitAt(path(v))(write)

    /** Keep the two newest committed versions, drop everything below. */
    def retain(): Unit = {
      val vs = listed
      vs.filter(isCommitted).sorted.takeRight(2).headOption.foreach(drop(vs, _))
    }

    /** Drop every version below `cut`, marker or not. */
    def dropBelow(cut: Long): Unit = drop(listed, cut)

    /** Drop the whole family. */
    def clear(): Unit = dropBelow(Long.MaxValue)
  }

  /** One stream's reads of its versioned families. A committed version
    * is never rewritten, so its relation — and whatever a program derives
    * from it, such as a collected model — is resolved the first time the
    * stream reads that version and then serves every later batch.
    *
    *  - Schema: a family's versions are read with the schema of the first
    *    one this resolver met, taken from its parquet footer on the
    *    driver, so no read runs a schema-inference job.
    *  - Listing: [[latest]] and [[committed]] list the family on every
    *    call, so only committed versions are served, a replayed batch
    *    resolves the same `latest(batchId)` its first run did, and a
    *    version retention dropped is forgotten.
    *  - Lifetime: the stream's own; a direct step call without one gets
    *    its own. Nothing here is JVM-static, and one micro-batch at a
    *    time uses it, so it takes no lock. */
  final class Resolver {
    private final class Family {
      var schema: Option[StructType] = None
      val frames = mutable.HashMap.empty[Long, DataFrame]
      val derived = mutable.HashMap.empty[Long, Any]
    }
    private val families = mutable.HashMap.empty[String, Family]
    private def of(v: Versions) = families.getOrElseUpdate(v.family, new Family)

    /** [[Versions.committed]], forgetting every other version. */
    def committed(v: Versions): Seq[Long] = {
      val live = v.committed
      val keep = live.toSet
      val f = of(v)
      f.frames.filterInPlace((n, _) => keep(n))
      f.derived.filterInPlace((n, _) => keep(n))
      live
    }

    /** [[Versions.latest]], through [[committed]]. */
    def latest(v: Versions, upTo: Long): Long = v.latestOf(committed(v), upTo)

    /** Version `n`'s relation, read once. */
    def frame(spark: SparkSession, v: Versions, n: Long): DataFrame = {
      val f = of(v)
      f.frames.getOrElseUpdate(n, {
        val p = v.path(n)
        val schema = f.schema.getOrElse(Fs.parquetSchema(p))
        f.schema = Some(schema)
        spark.read.schema(schema).parquet(p)
      })
    }

    /** `make`, run once for version `n` (a program's derived value). */
    def derive[T](v: Versions, n: Long)(make: => T): T =
      of(v).derived.getOrElseUpdate(n, make).asInstanceOf[T]
  }

  /** Catalog name of the bucketed table whose data lives at `location`
    * (a store path or a directory inside one): the path from its
    * `graft_<kind>` segment on. */
  def table(location: String): String =
    location.substring(location.lastIndexOf("/graft_") + 1).replace('/', '_')
}
