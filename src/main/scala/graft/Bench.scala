package graft

/** Per-round benchmark: runs the SURVEY §6 headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Uses the same [[GraftSession]] configuration as Verify so benchmarked
  * plans are the verified plans (UTC timezone, AQE, extensions). A query
  * that throws is reported in an `"errors"` map with wall-time -1 — a
  * crashed query must never read as a speedup.
  */
object Bench {
  /** 1-minute load average, or -1 where /proc/loadavg is unavailable. */
  private def loadAvg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Idle-host gate: a benchmark started on a contended host produces a
    * wrong-by-measurement artifact (round 10 committed one 1.95× off its
    * own idle re-run). Wait, bounded, for the 1-min load to drop below
    * the threshold before timing anything; if it never does, proceed but
    * the recorded `load_start` marks the artifact as suspect.
    */
  private def awaitIdle(maxLoad: Double, maxWaitSec: Int): Double = {
    val deadline = System.nanoTime() + maxWaitSec * 1e9.toLong
    var l = loadAvg()
    while (l >= 0 && l > maxLoad && System.nanoTime() < deadline) {
      System.err.println(f"bench: host load $l%.2f > $maxLoad%.2f, waiting for idle...")
      Thread.sleep(15000)
      l = loadAvg()
    }
    l
  }

  /** (machine busy jiffies across all cores, steal jiffies, this JVM's
    * jiffies).
    * The PER-QUERY contention signal (r13): the start-of-run load gate
    * cannot see a neighbor arriving MID-run (r12's artifact carried one
    * such row, q_audio_pcm 3.42 s vs 0.31 s idle), and re-reading
    * loadavg between queries is useless — by then the load is dominated
    * by the bench's own 32-thread work. Machine-busy minus self is
    * self-load-free: on an idle host it is ~0 regardless of what the
    * bench itself burns, and any neighbor's CPU shows up in it
    * core-for-core. (-1, -1) where /proc is unavailable. */
  private def cpuJiffies(): (Long, Long, Long) =
    try {
      val cpu = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat"))).linesIterator.next().split("\\s+")
      // Busy = user+nice+system+irq+softirq (r14 ADVICE: user+nice+system
      // alone is blind to neighbors landing in irq/softirq). Fields after
      // "cpu": user nice system idle iowait irq softirq steal [guest...]
      // — sum 1-3 and 6-7; idle(4) is idle, iowait(5) stays out because
      // the bench's own IO parks cores there (it would read as phantom
      // neighbors), and guest time is already accounted inside user.
      // STEAL (8) is reported SEPARATELY (r18 measurement fix): it is
      // hypervisor-level preemption, not an in-VM neighbor process — it
      // SCALES WITH THE BENCH'S OWN LOAD (4% chronic steal × 32 busy
      // cores ≈ 1.3 phantom "others" cores, measured on this round's
      // host with the machine otherwise 99% idle), so counting it in
      // `others` made the gate unpassable on a perfectly idle VM and
      // every retry burned a window that could never come back clean.
      // A reader still sees steal per query in the artifact and can
      // reject a window whose hypervisor was pathological.
      val busy = (cpu.slice(1, 4) ++ cpu.slice(6, 8)).map(_.toLong).sum
      val steal = cpu(8).toLong
      val st = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      // comm (field 2) may contain spaces: fields 3.. start after the
      // last ')'; utime/stime are fields 14/15 -> offsets 11/12 there
      val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
      (busy, steal, rest(11).toLong + rest(12).toLong)
    } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** Longest stdout line that survives a 2000-char tail capture with
    * room left for the build tool's closing line. */
  private[graft] val SlimBudget = 1700

  /** The slim stdout line: the `keep` fields (`"key":value` each), the
    * `queries` map and the `errors` map. Over [[SlimBudget]] it degrades
    * step by step — the query map goes first, then error strings are
    * cut to 80 chars, then the errors map goes — so the `keep` fields
    * (total, window_status, n_failed) always parse. */
  private[graft] def slimLine(keep: Seq[String], queries: String,
      errors: Seq[(String, String)]): String = {
    def line(withQueries: Boolean, errLen: Int): String = {
      val qs = if (withQueries) Seq(s""""queries":$queries""") else Nil
      val es =
        if (errLen == 0) Nil
        else Seq(errors.map { case (k, v) => s"${Jsons.str(k)}:${Jsons.str(v.take(errLen))}" }
          .mkString(""""errors":{""", ",", "}"))
      (keep ++ qs ++ es).mkString("{", ",", "}")
    }
    Iterator(line(true, 200), line(false, 200), line(false, 80))
      .find(_.length <= SlimBudget).getOrElse(line(false, 0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 2.0, not 4.0 (r12): two consecutive rounds committed a graded
    // artifact from a 3.4-load window that distorted the shuffle-heavy
    // queries ~2x while still passing the 4.0 gate. On 32 CPUs a 1-min
    // load of 2 is genuinely idle; anything above it is the neighbors.
    val maxLoad = 2.0
    val maxWait = 1800
    // per-query contention gate: average CPU cores burned by OTHER
    // processes during the timed run. 1.0 core on a 32-core host is the
    // noise floor of system daemons; a neighbor build or bench shows as
    // many cores. A steady run above the gate is re-tried (bounded).
    val maxOthers = 1.0
    val maxRetries = 3
    val loadStart = awaitIdle(maxLoad, maxWait)
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var errors = List.empty[(String, String)]
    // Codegen (Janino) compilations during a timed run: the r18 root
    // cause of zero-steal steady-run outliers is AQE assigning
    // codegenStageId in materialization order, renaming identical
    // sources and missing the codegen cache — 18-50 recompiles per
    // steady run on the composed queries. The counter makes that churn
    // visible per query per run IN the artifact (VERDICT r18 #4), so a
    // reader can attribute an outlier row to compile storms instead of
    // guessing. CodegenMetrics.METRIC_COMPILATION_TIME is a histogram
    // whose count is the number of compilations in this JVM.
    def compileCount(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    /** One timed execution:
      * (wall sec, others-cores, steal-cores, codegen compiles). */
    def once(name: String): (Double, Double, Double, Long) = {
      val (b0, st0, s0) = cpuJiffies()
      val c0 = compileCount()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val (b1, st1, s1) = cpuJiffies()
      if (b0 < 0 || b1 < 0 || wall <= 0) (wall, -1.0, -1.0, compileCount() - c0)
      else ((wall,
        ((b1 - b0) - (s1 - s0)) / 100.0 / wall, // USER_HZ = 100
        (st1 - st0) / 100.0 / wall,
        compileCount() - c0))
    }
    // Three executions per query: the first ("cold") pays JVM/codegen/JIT
    // warmup; the min of the remaining runs is steady-state engine
    // throughput — the number comparable across rounds and against
    // BASELINE.md (whose DuckDB timings use the same best-of policy).
    // Min, not mean: this host shows 10x wall-clock noise spikes, and
    // min-of-k is the standard noise-robust estimator for that regime.
    // r13: runs whose others-cores exceeds the gate are discarded and
    // re-tried (bounded); if no clean run materializes the global min is
    // reported WITH its contention annotation — a contended window can
    // no longer silently poison a row of the committed artifact.
    // Optional env override of the headline set (dev loop / scale
    // profiling of specific operators); unknown names fail loudly.
    // "ALL" = every registry query (r17): the per-round full-registry
    // SMOKE — the headline window times 57 rows, the other ~79 are
    // hash-checked but were never TIMED, so a plan regression there
    // was invisible until a campaign hit it. Pair with
    // SPARK_GRAFT_BENCH_STEADY_RUNS=1 for the smoke cadence.
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map {
        case "ALL" => SparkEntry.queries.keys.toSeq.sorted
        case s     => s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      }
      .getOrElse(SparkEntry.headline)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown bench queries: $unknown")
    val steadyRuns =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_STEADY_RUNS", "3").toInt
    require(steadyRuns >= 1, s"SPARK_GRAFT_BENCH_STEADY_RUNS=$steadyRuns")
    val timed = names.map { name =>
      try {
        val (cold, _, _, _) = once(name)
        var runs = List.fill(steadyRuns)(once(name))
        var retries = 0
        // others == -1 exactly means UNMEASURED (/proc unreadable), not
        // clean (r14 ADVICE: -1 < gate made the whole mechanism
        // self-disable silently); unmeasured runs neither satisfy the
        // clean check nor trigger retries — they surface as
        // others_unmeasured in the line. Small NEGATIVE readings
        // (±0.2 of tick rounding on an idle host) are measurements,
        // not sentinels — the threshold is -1, not 0 (the first cut
        // counted a -0.04 idle row as unmeasured and retried on it).
        def measured(o: Double) = o > -1.0
        while (runs.exists(r => measured(r._2)) &&
            !runs.exists { case (_, o, _, _) => measured(o) && o < maxOthers } &&
            retries < maxRetries) {
          System.err.println(f"bench: $name%s all steady runs contended " +
            f"(best others ${runs.map(_._2).min}%.2f cores), retrying...")
          retries += 1
          runs ::= once(name)
        }
        val clean = runs.filter { case (_, o, _, _) => measured(o) && o < maxOthers }
        val (steady, others, steal, compiles) =
          (if (clean.nonEmpty) clean else runs).minBy(_._1)
        (name, cold, steady, others, steal, compiles)
      } catch {
        case e: Throwable =>
          errors ::= (name -> e.toString.take(200))
          (name, -1.0, -1.0, -1.0, -1.0, -1L)
      }
    }
    val results = timed.map { case (n, _, s, _, _, _) => n -> s }
    val colds = timed.map { case (n, c, _, _, _, _) => n -> c }
    val otherRows = timed.map { case (n, _, _, o, _, _) => n -> o }
    val stealRows = timed.map { case (n, _, _, _, st, _) => n -> st }
    val compileRows = timed.map { case (n, _, _, _, _, cc) => n -> cc }

    // r19 driver-contract repair (VERDICT r18 #1/#2): the driver captures
    // only the LAST 2000 chars of the sbt output, and the full line with
    // per-query cold/others/steal maps is ~6 KB — BENCH_r01..r18 ALL have
    // parsed:null because the captured tail starts mid-JSON. The STDOUT
    // line is therefore the contract-minimal record (total + queries map
    // + status, ~1.7 KB at 58 queries, 3-decimal seconds — wall noise is
    // >> 1 ms); the FULL record (cold, others_cores, steal_cores,
    // compiles, tmp bytes, loads) is unchanged and lands in
    // SPARK_GRAFT_BENCH_OUT and BENCH_full_log.jsonl, where it always
    // lived. No timing methodology change; stdout keys are a subset,
    // `queries` keys unchanged.
    def d3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"${Jsons.str(k)}:${d3(v)}" }.mkString("{", ",", "}")
    val cs = colds.map { case (k, v) => s"${Jsons.str(k)}:${d3(v)}" }.mkString("{", ",", "}")
    val os = otherRows.map { case (k, v) =>
      s"${Jsons.str(k)}:${"%.2f".formatLocal(java.util.Locale.ROOT, v)}"
    }.mkString("{", ",", "}")
    val sts = stealRows.map { case (k, v) =>
      s"${Jsons.str(k)}:${"%.2f".formatLocal(java.util.Locale.ROOT, v)}"
    }.mkString("{", ",", "}")
    val ccs = compileRows.map { case (k, v) => s"${Jsons.str(k)}:$v" }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${Jsons.str(k)}:${Jsons.str(v)}" }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val nContended = timed.count { case (_, _, s, o, _, _) => s >= 0 && o >= maxOthers }
    // a row whose contention could not be read is UNMEASURED, distinct
    // from clean: n_contended 0 with others_unmeasured > 0 means the
    // idle gate did not actually run for those rows (r14 ADVICE)
    val nUnmeasured = timed.count { case (_, _, s, o, _, _) => s >= 0 && o <= -1.0 }
    // load_start/load_end make a contended window visible IN the artifact:
    // a reader comparing rounds can reject a run whose load_start exceeded
    // the gate instead of grading a measurement of the neighbors' work.
    // (load_end includes the bench's own 32-thread work — read it only as
    // a gross-contention flag; the per-query "others_cores" map is the
    // self-load-free signal — any row at/above the gate after retries is
    // counted in n_contended and must not be graded as engine throughput)
    val loadEnd = loadAvg()
    // served-store footprint (r13 verdict: 1.2 GB/round of unreclaimed
    // graft_gram_index was invisible): this application's own scope,
    // read before spark.stop() deletes it
    val tmpStoreBytes = graft.sources.Fs.bytes(graft.sources.Store.root(spark.sparkContext))
    // the window self-describes (r16 verdict "what's wrong" #1): a
    // reader starting from the round artifact alone must see whether
    // the run was contention-clean without cross-referencing the log.
    // "clean" requires the gate to have actually RUN on every row:
    // unmeasured rows (unreadable /proc) are their own status — the
    // r14 rule (n_contended 0 with others_unmeasured > 0 means the
    // idle gate never ran) applied to the self-description itself.
    val windowStatus =
      if (nContended > 0) "contended"
      else if (nUnmeasured > 0) "unmeasured"
      else "clean"
    val line =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","window_status":"$windowStatus","n_queries":${names.size},"queries":$qs,"cold":$cs,"others_cores":$os,"steal_cores":$sts,"compiles":$ccs,"n_contended":$nContended,"others_unmeasured":$nUnmeasured,"tmp_store_bytes":$tmpStoreBytes,"errors":$es,"n_failed":${errors.size},"load_start":$loadStart,"load_end":$loadEnd,"sf":${Jsons.str(sfDir)}}"""
    // Stdout gets the SLIM line (see the contract note above): it must
    // survive a 2000-char tail capture, so only the driver-contract keys
    // plus the window's quality self-description ride it.
    val slim = slimLine(
      Seq(s""""metric":"total","value":${d3(total)},"unit":"sec"""",
        s""""window_status":"$windowStatus","n_queries":${names.size}""",
        s""""n_contended":$nContended,"others_unmeasured":$nUnmeasured""",
        s""""n_failed":${errors.size},"sf":${Jsons.str(sfDir)}"""),
      qs, errors)
    if (!slim.contains(""""queries":""")) System.err.println(
      s"bench: stdout line trimmed to ${slim.length} chars for the $SlimBudget-char " +
        "tail budget; the full record is in the bench file and log")
    // also land the line in a file, so the harness never has to scrape it
    // out of the sbt log tail (overridable for concurrent runs).
    // A CONTENDED window must not clobber a recent CLEAN artifact for
    // the same corpus and query count (r16: the driver's named artifact
    // held a 19:21 contended re-run, 17% slower than the graded 18:43
    // clean window nobody could see from the file alone). Recency bound
    // (6 h, file mtime) keeps a stale clean file from a PREVIOUS round
    // masking this round's only measurement.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    // gate on windowStatus, not bare nContended (r17 ADVICE): an
    // UNMEASURED window (idle gate never ran, quality unknown) must
    // also defer to a recent clean artifact, not clobber it
    val keepCleanExisting = windowStatus != "clean" && {
      try {
        val f = new java.io.File(outFile)
        f.isFile &&
          System.currentTimeMillis() - f.lastModified() < 6L * 3600 * 1000 && {
            val prev = new String(
              java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            // window_status (not bare n_contended) so an UNMEASURED
            // artifact is never defended as clean; n_queries matched
            // WITH its trailing comma so 5 cannot prefix-match 57
            prev.contains(""""window_status":"clean"""") &&
              prev.contains(s""""sf":${Jsons.str(sfDir)}""") &&
              prev.contains(s""""n_queries":${names.size},""")
          }
      } catch { case _: Throwable => false }
    }
    if (keepCleanExisting)
      System.err.println(s"bench: window $windowStatus (n_contended=$nContended, " +
        s"unmeasured=$nUnmeasured); keeping the recent clean artifact at " +
        s"$outFile (full log still appended)")
    else try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"bench.json write failed: $e") }
    // and APPEND every run (timestamped) to a repo-local log: the
    // driver's BENCH_r{N}.json artifact truncates the line and loses
    // the steady per-query map every round (r15 verdict "what's wrong"
    // #1) — this file is committed with the round, self-contained, and
    // append-only so local at-scale runs never clobber the sf0.1 row.
    // Anchored to the repo root (build.sbt as the landmark), not bare
    // cwd: launched from elsewhere, a cwd-relative append would land
    // the row outside the repo and silently lose it — the exact
    // failure this log exists to prevent. SPARK_GRAFT_BENCH_LOG
    // overrides; with neither, the append is skipped loudly.
    val logPath = sys.env.get("SPARK_GRAFT_BENCH_LOG")
      .orElse(if (new java.io.File("build.sbt").isFile)
        Some("BENCH_full_log.jsonl") else None)
    logPath match {
      case Some(lp) =>
        try {
          // fail loudly on format drift rather than corrupting the
          // append-only committed log with malformed JSONL (r16 ADVICE)
          require(line.startsWith("{") && line.endsWith("}"),
            s"bench line is not a JSON object: ${line.take(80)}")
          val stamped = s"""{"ts":"${java.time.Instant.now()}",""" + line.drop(1) + "\n"
          java.nio.file.Files.write(java.nio.file.Paths.get(lp),
            stamped.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        } catch { case e: Throwable => System.err.println(s"bench log append failed: $e") }
      case None => System.err.println(
        "bench log skipped: cwd is not the repo root and SPARK_GRAFT_BENCH_LOG is unset")
    }
    spark.stop()
    // last, so no shutdown output can push it out of a captured tail
    println(slim)
    if (errors.nonEmpty) sys.exit(1)
  }
}
