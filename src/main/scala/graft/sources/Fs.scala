package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Hadoop-FileSystem helpers for the served-artifact stores — markers,
  * versioned-directory listings, store clears, parquet footers.
  *
  * [[Store.once]]'s completeness marker, the ingest program's versioned
  * stores and the maintenance loops all key on store-side filesystem
  * state. Going through the Hadoop FileSystem API
  * instead of `java.io.File` keeps that state wherever the artifact
  * path points — local disk in this sandbox, HDFS or an object store on
  * a real cluster, resolved per path by URI scheme exactly as Spark's
  * own reads and writes are. A `java.io.File` gate against an
  * `s3a://` store would answer "missing" for every marker and silently
  * rebuild every artifact on every run — the failure mode this object
  * retires (r16 verdict "what's wrong" #2).
  *
  * All helpers resolve the FileSystem from the ACTIVE SparkSession's
  * Hadoop configuration: gates always run with a session up (they gate
  * reads/writes through that same session), and per-path resolution
  * means one store on local disk and another on HDFS coexist.
  */
object Fs {
  private def fsOf(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    // the SparkContext's shared Hadoop conf, READ-ONLY — cloning via
    // sessionState.newHadoopConf() per call would copy the full conf
    // inside gates that run every steady bench execution (r17 review)
    (p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = fsOf(path); fs.exists(p)
  }

  /** Write a small marker/metadata file (create-overwrite then close —
    * the artifact's commit point; readers gate on [[exists]]). */
  def writeString(path: String, content: String): Unit = {
    val (fs, p) = fsOf(path)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readString(path: String): String = {
    val (fs, p) = fsOf(path)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Recursive delete; a missing path is a no-op (idempotent clears). */
  def delete(path: String): Unit = {
    val (fs, p) = fsOf(path)
    fs.delete(p, true)
    ()
  }

  /** Child DIRECTORY names directly under `path` (empty for a missing
    * path) — the versioned-store listing primitive. */
  def listDirNames(path: String): Seq[String] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Bytes under `dir`, recursively (0 for a missing dir). */
  def bytes(dir: String): Long = {
    val (fs, p) = fsOf(dir)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** The footers of the parquet data files under `dir`, recursively,
    * each read on the driver when the iterator reaches it (none for a
    * missing dir). */
  private def footers(dir: String): Iterator[(FileStatus, ParquetMetadata)] = {
    val (fs, p) = fsOf(dir)
    if (!fs.exists(p)) Iterator.empty
    else {
      val files = fs.listFiles(p, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf))
          st -> (try reader.getFooter finally reader.close())
        }
    }
  }

  /** The Spark schema of the parquet data under `dir`, from the footer of
    * its first data file, read on the driver: the schema Spark's own
    * inference answers, without the job that inference runs to read
    * footers. */
  def parquetSchema(dir: String): StructType = {
    val (st, footer) = footers(dir).nextOption()
      .getOrElse(throw new IllegalArgumentException(s"no parquet data under $dir"))
    ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
      new ParquetToSparkSchemaConverter(SparkSession.active.sessionState.conf))
  }

  /** Rows in the parquet data under `dir` (0 for a missing dir), summed
    * from its files' footers on the driver, so counting runs no job. */
  def parquetRows(dir: String): Long =
    footers(dir).map(_._2.getBlocks.asScala.map(_.getRowCount).sum).sum
}
