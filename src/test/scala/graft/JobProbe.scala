package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** The Spark jobs a block of test code runs, for exact job budgets and
  * per-stage metric bounds. */
object JobProbe {

  /** The jobs a block started on its thread, and the task ends of their
    * stages. */
  final case class Jobs(starts: Seq[SparkListenerJobStart], taskEnds: Seq[SparkListenerTaskEnd]) {

    /** Each job's SQL execution (`spark.sql.execution.id`), or None for a
      * job no query ran, such as an RDD action. */
    def executionOf(job: SparkListenerJobStart): Option[Long] =
      Option(job.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)

    /** The SQL executions the jobs ran under, in the order they started. */
    def executions: Seq[Long] = starts.flatMap(executionOf).distinct
  }

  /** Runs `f` and returns the jobs it ran on this thread. Jobs are tagged
    * with a local property; a marker job posted last drains the listener
    * bus, whose events arrive in order. The bus also carries the
    * query-execution events, so a `QueryExecutionListener` registered
    * around the call has seen every query `f` ran when this returns. */
  def apply(f: => Unit): Jobs = {
    val sc = TestSpark.spark.sparkContext
    val key = "graft.test.jobProbe"
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val ends = new ConcurrentLinkedQueue[SparkListenerTaskEnd]
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("probe") =>
            starts.add(e)
            e.stageIds.foreach(stages.add(_))
          case Some("marker") => marker.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) ends.add(e)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "probe")
      f
      sc.setLocalProperty(key, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    Jobs(starts.asScala.toSeq, ends.asScala.toSeq)
  }
}
