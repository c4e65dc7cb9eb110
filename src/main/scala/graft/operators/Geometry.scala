package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** An artifact's build-time geometry — the parameters its keys were
  * derived with, such as a gram index's span width or a bit table's
  * (k, width) — carried as metadata on one of its columns (parquet and
  * `saveAsTable` both round-trip it). A probe or append under another
  * geometry derives keys that never match the artifact's and silently
  * misses every member, so [[check]] refuses it instead. */
private[graft] object Geometry {

  /** `geometry`'s `(graft.<name>, value)` pairs as column metadata. */
  def meta(geometry: Seq[(String, Long)]): Metadata =
    geometry.foldLeft(new MetadataBuilder()) { case (b, (k, v)) => b.putLong(k, v) }.build()

  /** Loud-mismatch check of `artifact`'s `column`: enforced only when the
    * column still carries the build-time geometry (a hand-built frame
    * without it runs unchecked). */
  def check(artifact: DataFrame, column: String, geometry: Seq[(String, Long)],
      op: String, what: String): Unit =
    artifact.schema.fields.find(_.name == column).map(_.metadata)
      .filter(m => geometry.forall(g => m.contains(g._1))).foreach { m =>
        val built = geometry.map { case (k, _) => k -> m.getLong(k) }
        require(built == geometry,
          s"$op: $what was built with ${show(built)} but is being probed/appended " +
            s"with ${show(geometry)} — its keys would never match and every " +
            "probe would silently miss")
      }

  /** `graft.span_words` → `spanWords=10`. */
  private def show(geometry: Seq[(String, Long)]): String =
    geometry.map { case (k, v) =>
      "_([a-z])".r.replaceAllIn(k.stripPrefix("graft."), m => m.group(1).toUpperCase) + s"=$v"
    }.mkString(" ")
}
