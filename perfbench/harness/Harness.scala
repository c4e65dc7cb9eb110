package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's JVM side. It calls graft only through its public
  * surface (`SparkEntry.queries`, `Programs.ingestStoreInit`,
  * `Programs.ingestProgramStream`, `GraftSession`, `Tables`) and writes
  * raw samples as one JSON document; `run.py` turns them into metrics.
  *
  * Flags (all `--key value`): workload, data, root, out, ops (comma list,
  * closed loop), seconds, pass_s (nominal pass, closed loop), trace (0|1),
  * cpus, setups;
  * for ingest also interval (s between arrivals), cold (single-file
  * batches of the cold cycle) and quota.
  *
  * With trace 0 nothing is registered on the listener bus: the run
  * records only wall-clock stamps. With trace 1 the listeners record
  * jobs, stages, tasks, planning phases and stream progress in memory,
  * and the harness writes them at exit.
  */
object Harness {
  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanoTime resolution. */
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = new Json
    val workload = a("workload")
    val trace = a("trace") == "1"
    val root = a("root")
    out.str("workload", workload).num("jvm_start_ms",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val rec = if (trace) Some(new Recorder) else None
    val appIds = mutable.ArrayBuffer.empty[String]

    // Several set-ups per run; the benchmark reports their median. The
    // first one counts from JVM start, the later ones from their own
    // start. Each earlier session is stopped before the next one.
    def setup(i: Int, last: Boolean): (SparkSession, Double) = {
      val start = if (i == 0) out.getNum("jvm_start_ms") else now()
      val spark = graft.GraftSession.builder("graft-perfbench", a("cpus")).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      appIds += spark.sparkContext.applicationId
      if (workload == "ingest") {
        val store = s"$root/store$i"
        graft.Programs.ingestStoreInit(spark.read.parquet(s"${a("data")}/corpus.parquet"), store)
      } else {
        // input registration: resolve the generated tables once
        val t = graft.sources.Tables(spark, a("data"))
        Seq(t.documents, t.embeddings).foreach(_.schema)
      }
      val took = (now() - start) / 1000
      if (!last) spark.stop()
      (spark, took)
    }
    val nSetups = a("setups").toInt
    val setups = (0 until nSetups).map(i => setup(i, i == nSetups - 1))
    val spark = setups.last._1
    out.arr("setup_s", setups.map(_._2))
    rec.foreach(_.register(spark))

    val jiffies0 = Host.jiffies()
    val windowStart = now()
    if (workload == "ingest") Ingest.run(spark, a, out)
    else Closed.run(spark, a, rec, out)
    val windowEnd = now()

    out.num("window_ms", windowEnd - windowStart)
    val jiffies1 = Host.jiffies()
    out.arr("jiffies", Seq(jiffies0, jiffies1).flatMap(j => Seq(j._1, j._2, j._3).map(_.toDouble)))
    out.num("cores", spark.sparkContext.defaultParallelism.toDouble)
    val comp = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    out.num("codegen_mean_ms", comp.getSnapshot.getMean)
    rec.foreach { r => r.drain(spark); r.write(out) }
    out.strs("app_ids", appIds.toSeq)
    spark.stop()
    out.num("peak_rss_kb", Host.vmHwmKb().toDouble)
    Files.writeString(Paths.get(a("out")), out.render())
  }
}

/** Closed loop: one client runs the op list pass after pass. */
object Closed {
  import Harness.now

  def run(spark: SparkSession, a: Map[String, String], rec: Option[Recorder],
      out: Json): Unit = {
    val ops = a("ops").split(",").toSeq
    val dir = a("data")
    val seconds = a("seconds").toDouble
    val comp = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val rows = mutable.ArrayBuffer.empty[String]
    val errors = mutable.LinkedHashMap.empty[String, String]

    val traced = rec.isDefined
    def once(pass: Int, name: String): Unit = {
      val tag = s"$pass:$name"
      val sc = spark.sparkContext
      if (traced) sc.setLocalProperty(Recorder.OpKey, tag)
      val c0 = comp.getCount
      val g0 = if (traced) Host.gcMillis() else 0L
      val t0 = now()
      var t1 = t0
      var err: String = null
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        t1 = now()
        rec.foreach(_.addPhases(df.queryExecution))
        // the cold pass keeps each op's rows for the correctness check;
        // timed passes write to the noop sink
        if (pass == 0) df.write.mode("overwrite").parquet(s"${a("root")}/out/$name")
        else df.write.mode("overwrite").format("noop").save()
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = now()
          err = e.toString.take(300)
          errors.getOrElseUpdate(name, err)
      }
      val t2 = now()
      sc.setLocalProperty(Recorder.OpKey, null)
      rows += new Json().num("pass", pass).str("op", name).str("tag", tag)
        .num("t0", t0).num("t1", t1).num("t2", t2)
        .num("compiles", (comp.getCount - c0).toDouble)
        .num("gc_ms", if (traced) (Host.gcMillis() - g0).toDouble else 0)
        .bool("ok", err == null).render()
    }

    // Pass p runs the op list rotated by p: every op meets other
    // neighbours from pass to pass, and every run meets the same sequence.
    // A per-seed shuffle made the JIT profile, and with it the steady pass
    // time, depend on the seed.
    def order(pass: Int): Seq[String] = {
      val k = pass % ops.size
      ops.drop(k) ++ ops.take(k)
    }

    // Pass 0 is the cold pass. The timed window runs the whole passes
    // that cover `seconds` at the nominal pass time: a count that no
    // run's pace can change, because the JIT still makes each pass faster
    // than the last and the median of a different number of passes is
    // another figure.
    val passes = math.max(1, math.ceil(seconds / a("pass_s").toDouble).toInt)
    (0 to passes).foreach(p => order(p).foreach(once(p, _)))
    out.raw("ops", rows.mkString("[", ",", "]"))

    out.raw("oracle", ops.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
      .map { case (k, v) => s"${Json.q(k)}:${Json.q(v)}" }.mkString("{", ",", "}"))
    out.raw("errors", errors.map { case (k, v) => s"${Json.q(k)}:${Json.q(v)}" }
      .mkString("{", ",", "}"))
  }
}

/** Open loop: arrival files land on a fixed schedule whatever the
  * stream's progress; `Programs.ingestProgramStream` reads them through
  * Spark's file source. */
object Ingest {
  import Harness.now

  def run(spark: SparkSession, a: Map[String, String], out: Json): Unit = {
    val root = a("root")
    val staging = Paths.get(a("data"), "staging")
    val landing = Paths.get(root, "landing")
    Files.createDirectories(landing)
    val files = Files.list(staging).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    val interval = a("interval").toDouble * 1000
    val store = s"$root/store${a("setups").toInt - 1}"
    val checkpoint = s"$root/checkpoint"
    val schema = spark.read.parquet(files.head.toString).schema

    def land(f: Path): Double = {
      Files.move(f, landing.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      now()
    }
    def committed(batchId: Long): Boolean =
      Files.exists(Paths.get(checkpoint, "commits", batchId.toString))

    val comp = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = comp.getCount
    val docs = spark.readStream.schema(schema).parquet(landing.toString)
    val query = graft.Programs.ingestProgramStream(docs, store, checkpoint,
      quotaPerSource = a("quota").toLong)
    val scheduled = mutable.ArrayBuffer.empty[Double]
    val landed = mutable.ArrayBuffer.empty[Double]
    // lands one file and waits until its batch has committed: each such
    // batch carries exactly that file
    def alone(f: Path, batchId: Long): Unit = {
      val t = now()
      scheduled += t
      landed += land(f)
      while (!committed(batchId) && query.isActive && now() - t < 120000) Thread.sleep(2)
    }
    // the cold cycle: `cold` single-file batches from stream start,
    // through the program's first maintenance fold. Every operation of
    // the program runs once here with the JIT and codegen cold, so the
    // timed window meets neither a first-time fold nor uncompiled code.
    val cold = a("cold").toInt
    files.take(cold).zipWithIndex.foreach { case (f, i) => alone(f, i) }
    val c1 = comp.getCount
    // the timed window: one file every `interval`, on schedule
    val fsw0 = Host.fileBytesWritten()
    val gc0 = Host.gcMillis()
    val start = now() + interval
    val rest = files.drop(cold)
    rest.zipWithIndex.foreach { case (f, i) =>
      val due = start + i * interval
      var w = due - now()
      while (w > 0) { Thread.sleep(math.max(1L, math.min(w.toLong, 50L))); w = due - now() }
      scheduled += due
      landed += land(f)
    }
    val lastDue = scheduled.last
    query.processAllAvailable()
    query.stop()
    out.num("window_file_bytes_written", (Host.fileBytesWritten() - fsw0).toDouble)
      .num("window_gc_ms", (Host.gcMillis() - gc0).toDouble)
      .num("cold_compiles", (c1 - c0).toDouble).num("steady_compiles", (comp.getCount - c1).toDouble)
    out.arr("scheduled_ms", scheduled.toSeq).arr("landed_ms", landed.toSeq)
      .num("cold", cold).num("last_due_ms", lastDue)
      .str("store", store).str("checkpoint", checkpoint)
      .strs("arrivals", files.map(_.getFileName.toString))
      .str("stream_error", query.exception.map(_.toString.take(300)).orNull)
  }
}

/** Trace recorder: listeners that copy timestamps and counters into
  * memory. Everything is tagged with the op that caused it (a local
  * property set on the client thread, carried by each job). */
class Recorder {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val phases = new ConcurrentLinkedQueue[String]()
  private val batches = new ConcurrentLinkedQueue[String]()
  // stage id -> tag of the job that ran it, for stages of recorded jobs
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private final class StageAcc {
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, shufW, shufR, spill, inBytes, inRows, outBytes, failed = 0L
  }
  private val acc = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // streaming batches carry no op tag: they are matched by time later
      val t = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpKey)))
        .getOrElse("")
      jobTag.put(e.jobId, t)
      e.stageIds.foreach(s => stageTag.put(s, t))
      jobs.add(new Json().num("id", e.jobId).str("tag", t).num("start", e.time)
        .arr("stages", e.stageIds.map(_.toDouble)).render())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobTag.containsKey(e.jobId)) jobs.add(new Json().num("id", e.jobId).num("end", e.time)
        .bool("ok", e.jobResult == JobSucceeded).render())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageTag.containsKey(e.stageId)) {
        val s = acc.computeIfAbsent(e.stageId, _ => new StageAcc)
        s.synchronized {
          val m = e.taskMetrics
          s.durations += e.taskInfo.duration
          if (!e.taskInfo.successful) s.failed += 1
          if (m != null) {
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.shufW += m.shuffleWriteMetrics.bytesWritten
            s.shufR += m.shuffleReadMetrics.totalBytesRead
            s.spill += m.diskBytesSpilled
            s.inBytes += m.inputMetrics.bytesRead
            s.inRows += m.inputMetrics.recordsRead
            s.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageTag.containsKey(i.stageId)) {
        val s = acc.computeIfAbsent(i.stageId, _ => new StageAcc)
        val d = s.synchronized(s.durations.sorted)
        stages.add(new Json().num("id", i.stageId).str("tag", stageTag.get(i.stageId))
          .num("submit", i.submissionTime.getOrElse(0L).toDouble)
          .num("complete", i.completionTime.getOrElse(0L).toDouble)
          .num("tasks", d.size).num("max_task_ms", if (d.isEmpty) 0 else d.last.toDouble)
          .num("median_task_ms", if (d.isEmpty) 0 else d(d.size / 2).toDouble)
          .num("run_ms", s.runMs.toDouble).num("cpu_ns", s.cpuNs.toDouble)
          .num("shuffle_write", s.shufW.toDouble).num("shuffle_read", s.shufR.toDouble)
          .num("spill", s.spill.toDouble).num("in_bytes", s.inBytes.toDouble)
          .num("in_rows", s.inRows.toDouble).num("out_bytes", s.outBytes.toDouble)
          .num("failed_tasks", s.failed.toDouble).render())
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = addPhases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = addPhases(qe)
  }

  /** Catalyst phase spans (analysis, optimization, planning) of `qe`. */
  def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(new Json().str("name", name).num("start", p.startTimeMs.toDouble)
        .num("end", p.endTimeMs.toDouble).render())
    }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val j = new Json().num("batch", p.batchId.toDouble)
        .num("start", java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
        .num("rows", p.numInputRows.toDouble)
      p.durationMs.asScala.foreach { case (k, v) => j.num("d_" + k, v.toDouble) }
      batches.add(j.render())
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered everything posted so far:
    * a marker job is posted last, and its end event arrives after all
    * earlier events on the same bus. */
  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.setLocalProperty(Recorder.OpKey, Recorder.Marker)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty(Recorder.OpKey, null)
    val deadline = System.nanoTime() + 30e9.toLong
    def seen = stages.asScala.exists(_.contains(Json.q(Recorder.Marker)))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def write(out: Json): Unit = {
    out.raw("jobs", jobs.asScala.mkString("[", ",", "]"))
    out.raw("stages", stages.asScala.filterNot(_.contains(Json.q(Recorder.Marker)))
      .mkString("[", ",", "]"))
    out.raw("phases", phases.asScala.mkString("[", ",", "]"))
    out.raw("batches", batches.asScala.mkString("[", ",", "]"))
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  val Marker = "perfbench.drain"
}

/** Host readings: /proc for CPU and memory, JVM-wide counters for GC and
  * Hadoop file-system writes. */
object Host {
  private def read(p: String) = new String(Files.readAllBytes(Paths.get(p)))

  /** (machine busy jiffies, steal jiffies, this process's jiffies) —
    * busy is user+nice+system+irq+softirq; steal is reported on its own
    * (the method of graft's Bench). */
  def jiffies(): (Long, Long, Long) =
    try {
      val cpu = read("/proc/stat").linesIterator.next().split("\\s+")
      val busy = (cpu.slice(1, 4) ++ cpu.slice(6, 8)).map(_.toLong).sum
      val st = read("/proc/self/stat")
      val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
      (busy, cpu(8).toLong, rest(11).toLong + rest(12).toLong)
    } catch { case _: Throwable => (-1L, -1L, -1L) }

  def vmHwmKb(): Long =
    try read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def fileBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** A flat JSON object builder (numbers, strings, arrays, raw values). */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def num(k: String, v: Double): Json = { fields(k) = Json.n(v); this }
  def num(k: String, v: Int): Json = num(k, v.toDouble)
  def str(k: String, v: String): Json = { fields(k) = if (v == null) "null" else Json.q(v); this }
  def bool(k: String, v: Boolean): Json = { fields(k) = v.toString; this }
  def arr(k: String, v: Seq[Double]): Json = { fields(k) = v.map(Json.n).mkString("[", ",", "]"); this }
  def strs(k: String, v: Seq[String]): Json = { fields(k) = v.map(Json.q).mkString("[", ",", "]"); this }
  def raw(k: String, v: String): Json = { fields(k) = v; this }
  def getNum(k: String): Double = fields(k).toDouble
  def render(): String = fields.map { case (k, v) => s"${Json.q(k)}:$v" }.mkString("{", ",", "}")
}

object Json {
  def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
