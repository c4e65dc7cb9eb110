package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** Served artifact stores: a corpus artifact (an index, a model, a
  * stats dim) built once per (application, corpus) and read by every
  * later probe. [[once]] owns the whole decision — the key, the path,
  * the lock and the completeness marker — so no query carries a gate
  * of its own.
  *
  *  - Key: the sanitised applicationId, then the md5 of the
  *    RAW corpus dir. Concurrent applications never share a store, and
  *    dirs that differ only in punctuation never collide.
  *  - Path: `/tmp/graft_<kind>/<key>` — tmp-cleaner reclaimed, and out
  *    of the warehouse, whose data would outlive the in-memory catalog.
  *  - Lock: one per path, so concurrent callers in one JVM wait for the
  *    first build instead of racing its writes.
  *  - Delete-first: a store without its marker was never built, or a
  *    build died in it; the path is deleted before `build` runs, so
  *    part-files a crashed build left can never be served.
  *  - Marker-last: the marker is written only after `build` returns, so
  *    it commits everything `build` wrote. A build-then-append store is
  *    one `build` with one marker, and a crash between its steps
  *    rebuilds both.
  *
  * The marker lives on the store's own filesystem ([[Fs]]), so the gate
  * holds wherever the path points. Bucketed tables keep their data
  * under the store path and take their catalog name from it
  * ([[table]]); the catalog is the application's in-memory one, and the
  * key already carries the applicationId. */
object Store {

  private val Root = "/tmp/"
  private[graft] val Marker = "_GRAFT_STORE"
  private val locks = new ConcurrentHashMap[String, Object]

  /** `<sanitised applicationId>/<md5 of the raw dir>`. A sanitising
    * replace on the dir itself would collide distinct corpora
    * (`/data/sf0.1` vs `/data-sf0.1`), so the dir is hashed, never
    * rewritten. */
  private def key(s: SparkSession, dir: String): String = {
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") + "/" + dirKey
  }

  /** Where a `kind` store for `dir` lives — for artifacts that are
    * rebuilt on purpose (no marker, no lock) but keyed like the rest. */
  def path(kind: String, s: SparkSession, dir: String): String =
    s"${Root}graft_$kind/${key(s, dir)}"

  /** The store's path, built by `build(path)` first if its marker is
    * missing (see the object doc for the delete-first and marker-last
    * rules). */
  def once(kind: String, spark: SparkSession, dir: String)(build: String => Unit): String = {
    val p = path(kind, spark, dir)
    locks.computeIfAbsent(p, _ => new Object).synchronized {
      if (!Fs.exists(s"$p/$Marker")) {
        Fs.delete(p)
        build(p)
        Fs.writeString(s"$p/$Marker", "ok\n")
      }
    }
    p
  }

  /** Catalog name of the bucketed table whose data lives at `location`
    * (a store path or a directory inside one). */
  def table(location: String): String =
    location.stripPrefix(Root).replace('/', '_')
}
