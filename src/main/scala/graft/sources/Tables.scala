package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Typed catalog over the driver-provided parquet tables.
  *
  * Readers are plain `spark.read.parquet` — schema comes from the footer
  * and Catalyst prunes columns / pushes filters into the scan, which is
  * the property that matters at 100 TB (check `PushedFilters` +
  * `ReadSchema` in `.explain("formatted")`).
  *
  * Mirrors the reference's entity model (see
  * reference common/src/main/java/com/ververica/platform/entities/): the
  * `events` table stands in for the commit/activity stream, `documents`
  * for mailing-list bodies, `orders` for pull requests (SURVEY.md §3).
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    Tables.resolved(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Events with the timestamp truncated to whole seconds.
    *
    * The parquet column is nanosecond-precision; Spark truncates to
    * microseconds on read while other engines keep nanos, so every
    * time-based operator in graft keys off the second-truncated `ts` to
    * stay engine-portable (sub-second precision carries no analytic
    * meaning for these windows).
    */
  def events: DataFrame = {
    // Driver testdata stores INT64 TIMESTAMP(NANOS) which Spark's
    // vectorized reader rejects; read nanos as long and convert exactly
    // (integer div, no double round-trip). ScaleUp-produced corpora
    // already carry a second-truncated TIMESTAMP — pass through. Second
    // granularity is the engine-portable contract for every time-based
    // operator (DuckDB keeps full nanos).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_seconds(ts div 1000000000)"))
      case _ =>
        raw.withColumn("ts", expr("date_trunc('second', ts)"))
    }
  }

  // ---- typed entity accessors (reference entity POJOs ≙ case classes) ----

  /** Commit stream as `Dataset[Commit]` (Commit.java shape, nested
    * files_changed ARRAY<STRUCT>). */
  def commitsTyped: Dataset[Commit] =
    Synth.commits(events).as(Encoders.product[Commit])

  /** Mailing-list stream as `Dataset[Email]` (Email.java shape). */
  def emailsTyped: Dataset[Email] =
    Synth.emails(documents)
      .select("doc_id", "mail_date", "subject", "from_raw", "from_email", "text_body")
      .as(Encoders.product[Email])

  /** Pull requests as `Dataset[PullRequest]` (PullRequest.java shape). */
  def pullsTyped: Dataset[PullRequest] =
    Synth.pulls(orders).as(Encoders.product[PullRequest])
}

object Tables {
  // Resolved-relation memo: one `spark.read.parquet` per (session,
  // path), held in the application's scope ([[Store.memo]]) and dropped
  // with it. Re-resolving a parquet relation costs 110-175 ms WARM
  // (datasource resolution + file listing + footer schema read —
  // measured r18), and the query registry pays it 1-4x per query PER
  // EXECUTION; a real engine resolves a table once into its catalog
  // and plans against the resolved relation. This memo holds ONLY
  // plan metadata (schema + file index) — no row data is cached, and
  // every execution scans the parquet files fresh. Contract: driver
  // tables are immutable for the life of a session (true of the
  // testdata and of every fixture, which writes a fresh tmp dir
  // before its first read); a path rewritten after first resolution
  // would serve a stale file listing, exactly as a catalog table
  // would.
  private def resolved(spark: SparkSession, path: String): DataFrame =
    Store.memo(spark.sparkContext, (spark, path))(spark.read.parquet(path))
}
