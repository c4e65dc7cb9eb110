package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared session for the whole forked test JVM (ScalaTest suites
  * run sequentially in it). 4 cores keeps specs fast; the configuration
  * is the production GraftSession one, so plan-shape assertions hold for
  * the engine users actually run. */
object TestSpark {
  /** Every test fixture, test-owned store and the session's warehouse
    * live under one per-run root, deleted when the test JVM exits. */
  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("graft-test-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** `<per-run root>/<name>`, not created: a test's scratch path. */
  def scratch(name: String): String = s"$root/$name"

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", "4")
      .config("spark.sql.warehouse.dir", scratch("warehouse")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Fully-resolved physical plan text (post-AQE initial plan). */
  def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  def formattedPlan(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)
  }
}
