package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Result sinks — the Spark-native analogue of the reference's
  * Elasticsearch sink (commit-analytics FlinkCommitProgram.java
  * `addSink(getElasticsearchSink(...))`: window aggregates indexed for
  * dashboards). No ES client exists in this environment; the durable
  * contract the reference's sink provides — append of keyed window
  * results, idempotent re-writes, time-bounded reads — maps to a
  * date-partitioned parquet store:
  *
  *  - writes partition by the window date, and GraftSession sets
  *    `partitionOverwriteMode=dynamic`, so re-running a window job
  *    replaces exactly the partitions it touches (the reference gets
  *    the same idempotence from ES doc ids);
  *  - readers filtering on `p_date` prune partitions at planning time
  *    (`PartitionFilters` in the scan) — the property that keeps
  *    dashboard queries off the 100 TB history.
  *
  * Served artifact stores (indexes, models, stats dims built once per
  * corpus) are keyed, located and gated by [[Store]], not here.
  */
object Sinks {

  val PartitionCol = "p_date"

  /** Write window-keyed results date-partitioned by `epochSecCol`. */
  def writePartitioned(df: DataFrame, path: String, epochSecCol: String): Unit =
    df.withColumn(PartitionCol, to_date(timestamp_seconds(col(epochSecCol))))
      .write
      .mode("overwrite")
      .partitionBy(PartitionCol)
      .parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Streaming twin: checkpointed append parquet sink (exactly-once file
    * sink; the streaming analogue of the reference's ES sink). */
  def streamToParquet(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Save a relation hash-BUCKETED (and per-bucket sorted) on its join
    * key. Two relations bucketed on the same key with the same bucket
    * count join with ZERO Exchange — at 100 TB this turns every repeated
    * fact⋈fact / fact⋈big-dim join on a stable key from the single most
    * expensive shuffle in the pipeline into a co-located merge, paid once
    * at ingest. Equality filters on the key also prune to one bucket at
    * planning time (`SelectedBucketsCount` in the scan). */
  def saveBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    saveBucketed(df, table, Seq(key), buckets)

  /** Multi-column bucket key (e.g. a band index on (band, bk)): a join
    * on exactly these columns reads the table pre-partitioned.
    *
    * `path` (optional) makes the table EXTERNAL with its data at that
    * location instead of under the warehouse dir. Bucketing metadata
    * lives in the catalog either way (a path-only parquet read cannot
    * carry a bucket spec), but an external location keeps served
    * indexes under their [[Store]] path instead of the warehouse — a
    * per-application catalog entry dies with the session, while
    * warehouse DATA would otherwise accumulate across runs forever. */
  def saveBucketed(df: DataFrame, table: String, keys: Seq[String], buckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}
