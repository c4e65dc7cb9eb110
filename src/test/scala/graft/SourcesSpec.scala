package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources._

/** Typed entity accessors (row 39/40) and the declared-schema JSON
  * round-trip (row 41, the Kafka-shape import tier). */
class SourcesSpec extends AnyFunSuite {
  import TestSpark._

  /** Locate the enclosing working tree's .git by walking up from the
    * test's working directory — the test must hold in any checkout
    * location, not just the original author's. */
  private def findGitRoot(): Option[java.io.File] =
    Iterator.iterate(new java.io.File(".").getCanonicalFile)(_.getParentFile)
      .takeWhile(_ != null).take(16)
      .find(d => new java.io.File(d, ".git").isDirectory)

  test("GitRepo walker: loose + packed + delta objects match the git binary exactly") {
    import scala.sys.process._
    // ground truth from git itself, over THIS repository — exercises
    // loose objects, the pack, and delta chains in one walk
    val gitOk = scala.util.Try(Process(Seq("git", "--version")).!!).isSuccess
    assume(gitOk, "git binary not available")
    val repoRoot = findGitRoot()
    assume(repoRoot.isDefined, "no enclosing git working tree")
    val repo = repoRoot.get.getPath
    // git prints UTF-8: decode it as such, not in the JVM's default
    // charset (ASCII under a POSIX locale garbles non-ASCII subjects)
    def git(args: String*): String = {
      val out = new java.io.ByteArrayOutputStream
      assert((Process("git" +: "-C" +: repo +: args) #> out).! == 0)
      new String(out.toByteArray, "UTF-8")
    }
    val fmt = "%H|%T|%P|%an|%ae|%at|%cn|%ce|%ct"
    val expected = git("log", "--all", s"--format=$fmt").trim.linesIterator.map { l =>
      val f = l.split("\\|", -1); f(0) -> f
    }.toMap
    val got = GitRepo.walk(s"$repo/.git")
    assert(got.map(_.sha).toSet == expected.keySet,
      s"commit sets differ: walked ${got.length}, git ${expected.size}")
    got.foreach { c =>
      val f = expected(c.sha)
      assert(c.tree == f(1), s"tree ${c.sha}")
      assert(c.parents.mkString(" ") == f(2), s"parents ${c.sha}")
      assert(c.author_name == f(3) && c.author_email == f(4) &&
        c.author_ts == f(5).toLong, s"author ${c.sha}")
      assert(c.committer_name == f(6) && c.committer_email == f(7) &&
        c.committer_ts == f(8).toLong, s"committer ${c.sha}")
    }
    // subjects come through the message body intact
    val head = git("log", "-1", "--format=%H %s").trim
    val (hsha, hsubj) = head.splitAt(40)
    assert(got.find(_.sha == hsha).exists(_.message.linesIterator.next() == hsubj.trim))
    // and the source lands in Spark as a queryable DataFrame
    val df = GitRepo.commits(spark, s"$repo/.git")
    assert(df.count() == expected.size)
    assert(df.columns.contains("author_ts") && df.columns.contains("parents"))
  }

  test("GitRepo walker: annotated + nested tags resolve to the TARGET commit sha, once") {
    import scala.sys.process._
    val gitOk = scala.util.Try(Process(Seq("git", "--version")).!!).isSuccess
    assume(gitOk, "git binary not available")
    // scratch repo: two commits on main; an annotated tag on HEAD (also
    // branch-reachable — the double-emission trap), a tag-of-a-tag on
    // the same target, and an annotated tag on an ORPHAN commit that is
    // reachable only through the tag chain
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(scratch("git_tags"))).toFile
    def git(args: String*): String =
      Process(Seq("git", "-C", dir.getPath) ++ args,
        None,
        "GIT_AUTHOR_NAME" -> "a", "GIT_AUTHOR_EMAIL" -> "a@x",
        "GIT_COMMITTER_NAME" -> "c", "GIT_COMMITTER_EMAIL" -> "c@x",
        "GIT_AUTHOR_DATE" -> "1700000000 +0000",
        "GIT_COMMITTER_DATE" -> "1700000000 +0000").!!.trim
    try {
      git("init", "-q", "-b", "main")
      java.nio.file.Files.write(new java.io.File(dir, "f").toPath, "1".getBytes)
      git("add", "f"); git("commit", "-q", "-m", "one")
      java.nio.file.Files.write(new java.io.File(dir, "f").toPath, "2".getBytes)
      git("add", "f"); git("commit", "-q", "-m", "two")
      git("tag", "-a", "v1", "-m", "annotated")            // tag → HEAD commit
      git("tag", "-a", "v1-nest", "-m", "nested", "v1")    // tag → tag → commit
      git("checkout", "-q", "--orphan", "side")
      java.nio.file.Files.write(new java.io.File(dir, "g").toPath, "3".getBytes)
      git("add", "g"); git("commit", "-q", "-m", "orphan")
      git("tag", "-a", "vside", "-m", "side-tag")
      git("checkout", "-q", "main")
      git("branch", "-q", "-D", "side")                    // orphan now tag-only-reachable
      val expected = git("log", "--all", "--format=%H").linesIterator.toSet
      val got = GitRepo.walk(s"${dir.getPath}/.git")
      // every emitted sha is a real commit sha, each exactly once, and
      // the tag-only-reachable orphan is found
      assert(got.map(_.sha).toSet == expected, "walked set != git log --all")
      assert(got.map(_.sha).distinct.length == got.length, "duplicate emission")
      assert(got.count(_.message.startsWith("orphan")) == 1)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("github replay: commits round-trip API pages entity-identically, user fill is real") {
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    val api = scratch("github_api_commits")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(api))
    GithubUserCache.invalidate(s"$api/users")
    val entities = Synth.commits(Tables(spark, sfDir).events)
      .as(Encoders.product[Commit])
    GithubReplay.writeCommitPages(entities, api, pageSize = 100)
    // the page tier really paged (parallel unit = page file)
    assert(new java.io.File(s"$api/commits").listFiles().count(_.getName.endsWith(".json")) > 1)
    val back = spark.read.format("github").option("entity", "commits").load(api)
    // entities identical to JsonIO.readCommits' declared schema
    val want = Encoders.product[Commit].schema
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      want.fields.map(f => (f.name, f.dataType)).toSeq, back.schema.treeString)
    val expected = entities.collect().map(c =>
      if (c.author == null) c.copy(author = "unknown") else c).toSet
    assert(back.as(Encoders.product[Commit]).collect().toSet == expected)
    // column pruning reaches the page parser (the V2 scan's output is
    // the single required column — formatted V2 scans print Output, not
    // ReadSchema)
    val pruned = formattedPlan(back.select("event_id"))
    assert(pruned.contains("BatchScan github:commits") &&
      pruned.contains("Output [1]: [event_id#"), pruned)
    // the user-detail fill is REAL: logins differ from display names, so
    // removing the users endpoint degrades to the login fallback
    // (getUserName: name null -> login), never to silently-correct names
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$api/users"))
    GithubUserCache.invalidate(s"$api/users")
    val shallow = spark.read.format("github").option("entity", "commits").load(api)
      .select("author").as[String].collect()
    assert(shallow.forall(a => a == "unknown" || a.startsWith("login-user")), shallow.take(3).mkString(","))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(api))
  }

  test("github replay: pulls round-trip incl. merged-state derivation and weight") {
    import org.apache.spark.sql.Encoders
    val api = scratch("github_api_pulls")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(api))
    GithubUserCache.invalidate(s"$api/users")
    val entities = Synth.pulls(Tables(spark, sfDir).orders)
      .as(Encoders.product[PullRequest])
    GithubReplay.writePullPages(entities, api, pageSize = 100)
    val back = spark.read.format("github").option("entity", "pulls").load(api)
    val want = Encoders.product[PullRequest].schema
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      want.fields.map(f => (f.name, f.dataType)).toSeq, back.schema.treeString)
    val got = back.as(Encoders.product[PullRequest]).collect().toSet
    val expected = entities.collect().toSet
    assert(got == expected)
    // all three states survive (merged is DERIVED from merged_at — the
    // fixture stays in the API's open/closed vocabulary)
    assert(got.map(_.state) == Set("open", "closed", "merged"))
    // the import program twin: JSON-lines out == readPulls back
    Programs.pullsImport(spark, api, scratch("pulls_import"))
    assert(JsonIO.readPulls(spark, scratch("pulls_import")).collect().toSet == expected)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(api))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch("pulls_import")))
  }

  test("github replay: LRU user cache bounds entries with access-ordered eviction") {
    // the reference's LRUCache.java semantics exactly: insert beyond the
    // bound evicts the least-recently-ACCESSED entry
    val c = new LruCache[String, Int](3)
    c.put("a", 1); c.put("b", 2)
    c.get("a") // refresh a — b is now eldest
    c.put("c", 3) // size reaches bound: evict eldest (b)
    assert(c.containsKey("a") && c.containsKey("c") && !c.containsKey("b"))
  }

  test("github replay stream: checkpointed page cursor is exactly-once across restarts") {
    import spark.implicits._
    val root = scratch("github_stream")
    val api = s"$root/api"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    new java.io.File(s"$api/commits").mkdirs()
    GithubUserCache.invalidate(s"$api/users")
    def page(name: String, ids: Seq[Long]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$api/commits", name),
        ids.map(i =>
          s"""{"sha":"${"%040x".format(i)}","commit":{"author":{"name":null,"email":null,
             |"date":"2024-03-0${i}T10:00:00Z"},"committer":{"name":null,"email":null,
             |"date":"2024-03-0${i}T10:00:00Z"},"message":"[click] commit $i"},
             |"author":{"login":"login-u$i"},"committer":{"login":"login-u$i"},
             |"files":[{"filename":"f$i.java","additions":$i,"deletions":0,"changes":$i}]}"""
            .stripMargin.replace("\n", "")).mkString("[", ",", "]"))
    page("commits-p00001.json", Seq(1L, 2L))
    // a FILE sink (not memory — it cannot recover a checkpoint): the
    // restart below must resume from the offset log alone
    val out = s"$root/out"
    def start() = spark.readStream.format("github").option("entity", "commits")
      .load(api).writeStream
      .format("json").option("path", out)
      .option("checkpointLocation", s"$root/ckpt").start()
    def stored() = spark.read
      .schema(org.apache.spark.sql.Encoders.product[Commit].schema)
      .json(out).as(org.apache.spark.sql.Encoders.product[Commit]).collect()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(stored().length == 2)
    } finally q1.stop()
    // RESTART from the offset log: a page landed while the query was
    // down; only ITS rows emit (the committed cursor survives) — the
    // reference's initializeState restore (GithubCommitSource.java:158-167)
    page("commits-p00002.json", Seq(3L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = stored()
      assert(got.map(_.event_id).sorted.toSeq == Seq(1L, 2L, 3L), got.mkString(";"))
      // no user fixtures here: names fall back to the page's login
      assert(got.forall(_.author.startsWith("login-u")))
      // a page backfilled BELOW the committed cursor fails loudly
      // instead of being skipped silently (the HWM validation contract)
      page("commits-p00000.json", Seq(9L))
      val ex = intercept[Exception] { q2.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("below the committed watermark")), ex.toString)
    } finally {
      try q2.stop() catch { case _: Exception => () }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("typed catalog: Dataset[Commit]/[Email]/[PullRequest] accessors decode") {
    val t = Tables(spark, sfDir)
    val c = t.commitsTyped.head()
    assert(c.files_changed.nonEmpty && c.files_changed.forall(_.filename.nonEmpty))
    assert(c.author.startsWith("user"))
    val e = t.emailsTyped.head()
    assert(e.subject.nonEmpty && e.from_email.contains("@"))
    val p = t.pullsTyped.filter((p: PullRequest) => p.state != "open").head()
    assert(p.closed_at.isDefined)
  }

  test("partitioned result sink: idempotent dynamic overwrite + partition-pruned reads") {
    import org.apache.spark.sql.functions._
    val dir = scratch("sink_test")
    val res = QueriesRef.componentActivity(spark, sfDir)
    Sinks.writePartitioned(res, dir, "w_start")
    // pruned read: the scan must carry a partition filter, not a data filter
    val oneDay = Sinks.readPartitioned(spark, dir)
      .filter(col(Sinks.PartitionCol) === "2024-01-02")
    val plan = formattedPlan(oneDay)
    assert(plan.contains("PartitionFilters: [isnotnull(p_date"), plan)
    // dynamic overwrite: re-writing a SUBSET only replaces its partitions
    val minStart = res.agg(min(col("w_start"))).collect()(0).getLong(0)
    val firstDay = res.filter(col("w_start") < minStart + 86400)
    val total = Sinks.readPartitioned(spark, dir).count()
    Sinks.writePartitioned(firstDay, dir, "w_start")
    assert(Sinks.readPartitioned(spark, dir).count() == total,
      "dynamic partitionOverwrite must keep untouched partitions")
  }

  test("streaming parquet sink appends with checkpointing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val out = scratch("stream_sink/out")
    val q = Sinks.streamToParquet(
      graft.streaming.StreamingJobs.tumbleAgg(df, "1 hour", "10 minutes"),
      out, scratch("stream_sink/ckpt"))
    try {
      in.addData((new Timestamp(90000L * 1000), "core", 5.0))
      q.processAllAvailable()
      in.addData((new Timestamp(990000L * 1000), "core", 1.0)) // advance watermark
      q.processAllAvailable()
      val got = spark.read.parquet(out)
      assert(got.count() >= 1)
      assert(got.columns.toSet == Set("w_start", "event_type", "lines_changed", "n_events"))
    } finally {
      q.stop()
      // clean checkpoints so re-runs in the same /tmp start fresh
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch("stream_sink")))
    }
  }

  test("mbox archive round-trips Email entities through From_-delimited text") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    val dir = scratch("mbox_test")
    // single-line bodies only: mbox headers cannot carry embedded
    // newlines, and multi-line bodies are exercised separately below
    val emails = t.emailsTyped.filter((e: Email) => !e.subject.contains("\n")).limit(100)
    MboxIO.write(emails, dir)
    val back = MboxIO.read(spark, dir)
    def key(ds: org.apache.spark.sql.Dataset[Email]) = ds.collect()
      .map(e => e.doc_id -> ((e.mail_date.getTime / 1000, e.subject, e.from_raw,
        e.from_email, e.text_body))).toMap
    assert(key(back) == key(emails))

    // body lines starting "From " must be quoted on write, unquoted on read
    import spark.implicits._
    val tricky = Seq(Email(1L, new java.sql.Timestamp(1709251200L * 1000),
      "s", "a@b.c", "a@b.c", "line one\nFrom the start of a line\nlast")).toDS()
    MboxIO.write(tricky, s"$dir/tricky")
    val rawText = spark.read.option("wholetext", "true").text(s"$dir/tricky")
      .collect()(0).getString(0)
    assert(rawText.contains(">From the start"), "delimiter-colliding body line must be quoted")
    assert(MboxIO.read(spark, s"$dir/tricky").collect()(0).text_body ==
      "line one\nFrom the start of a line\nlast")
  }

  test("mbox DataSource V2 connector parses identically to MboxIO and prunes columns") {
    val t = Tables(spark, sfDir)
    val dir = scratch("mbox_dsv2")
    val emails = t.emailsTyped.filter((e: Email) => !e.subject.contains("\n")).limit(100)
    MboxIO.write(emails, dir)

    // row-identical to the wholetext parser (same mboxrd semantics)
    val viaIo = MboxIO.read(spark, dir)
    val viaV2 = spark.read.format("mbox").load(dir).as(org.apache.spark.sql.Encoders.product[Email])
    def key(ds: org.apache.spark.sql.Dataset[Email]) = ds.collect()
      .map(e => e.doc_id -> ((e.mail_date.getTime / 1000, e.subject, e.from_raw,
        e.from_email, e.text_body))).toMap
    assert(key(viaV2) == key(viaIo))
    assert(viaV2.count() == 100)

    // column pruning reaches the custom scan: projecting subject only
    // must plan a read schema without text_body (the parser then skips
    // body assembly entirely — O(headers) per message)
    val pruned = spark.read.format("mbox").load(dir).select("subject")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.nonEmpty, "mbox read must plan as a v2 BatchScan")
    assert(!scan.get.output.map(_.name).contains("text_body"))
    assert(pruned.distinct().count() == emails.select("subject").distinct().count())

    // multi-line + delimiter-colliding bodies survive the streaming parser
    import spark.implicits._
    val tricky = Seq(Email(7L, new java.sql.Timestamp(1709251200L * 1000),
      "s", "a@b.c", "a@b.c", "line one\nFrom the start of a line\n\ntail\n")).toDS()
    MboxIO.write(tricky, s"$dir/tricky")
    val got = spark.read.format("mbox").load(s"$dir/tricky")
      .as(org.apache.spark.sql.Encoders.product[Email]).collect()(0)
    assert(got.text_body == "line one\nFrom the start of a line\n\ntail\n")
  }

  test("bucketed tables join with zero Exchange and prune to one bucket on key equality") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — clear both
    for (tbl <- Seq("b_orders", "b_customer")) {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(scratch(s"warehouse/$tbl")))
    }
    Sinks.saveBucketed(t.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", "o_custkey", 8)
    Sinks.saveBucketed(t.customer.select("c_custkey", "c_nationkey"),
      "b_customer", "c_custkey", 8)
    // co-located join: force the merge path (no broadcast) and check the
    // bucketed layout replaced BOTH shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(sum(col("o_totalprice")).as("rev"))
      val plan = physicalPlan(joined)
      val joinSegment = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSegment.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle its inputs:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (64L * 1024 * 1024).toString)
    // bucket pruning: an equality filter on the bucket key scans 1 of 8.
    // (The planner's auto-bucketed-scan rule turns bucketed reads off for
    // plans with no bucket-aligned join/agg, which would also forfeit the
    // pruning — disable it for this check.)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val pruned = physicalPlan(
        spark.table("b_orders").filter(col("o_custkey") === 42))
      assert(pruned.contains("SelectedBucketsCount: 1 out of 8"), pruned)
    } finally
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }

  test("mbox V2 write path round-trips through both readers and truncates on overwrite") {
    import spark.implicits._
    val dir = scratch("mbox_v2_write")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    def email(i: Long) = Email(i, new java.sql.Timestamp(86400000L + i * 60000L),
      s"subject $i", s"User $i <u$i@x.org>", s"u$i@x.org",
      s"line one of $i\nFrom the body line that needs quoting\nlast line $i")
    val first = (1L to 40L).map(email)
    first.toDS().write.format("mbox").mode("append").save(dir)
    // identical entities back through the V2 reader AND the wholetext parser
    val viaV2 = spark.read.format("mbox").load(dir).as[Email].collect().toSet
    val viaIO = MboxIO.read(spark, dir).collect().toSet
    assert(viaV2 == first.toSet && viaIO == first.toSet)
    // overwrite truncates: only the second batch remains afterwards
    val second = (100L to 104L).map(email)
    second.toDS().write.format("mbox").mode("overwrite").save(dir)
    assert(spark.read.format("mbox").load(dir).as[Email].collect().toSet == second.toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("mbox V2 connector streams micro-batches with an offset high-water mark") {
    import spark.implicits._
    val root = scratch("mbox_v2_stream")
    val dir = s"$root/in"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    new java.io.File(dir).mkdirs()
    def archive(name: String, ids: Seq[Long]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name),
        ids.map(i => s"From mbox@graft x\nMessage-ID: <$i@graft>\n" +
          s"Date: 4 Mar 2024 10:00:0$i +0000\nFrom: u$i@x.org\n" +
          s"X-From-Email: u$i@x.org\nSubject: s$i\n\nbody $i\n").mkString)
    archive("2024-03.mbox", Seq(1L, 2L))
    val q = spark.readStream.format("mbox").load(dir).writeStream
      .format("memory").queryName("mbox_v2_stream")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mbox_v2_stream").count() == 2)
      // a later archive lands above the committed mark: exactly its rows emit
      archive("2024-04.mbox", Seq(3L))
      q.processAllAvailable()
      val got = spark.table("mbox_v2_stream").as[Email].collect()
      assert(got.map(_.doc_id).toSet == Set(1L, 2L, 3L))
      assert(got.forall(e => e.text_body == s"body ${e.doc_id}"))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
    // the offset survives its own json round-trip, escapes included,
    // with and without the membership digest
    val off = MboxOffset("/data/ar\"chive\\2024\t.mbox", 7L, Some(-42L))
    assert(MboxOffset.fromJson(off.json()) == off)
    val noDigest = MboxOffset("/data/a.mbox", 7L)
    assert(MboxOffset.fromJson(noDigest.json()) == noDigest)
    // a legacy bare-string offset (pre-seenBelow checkpoints) still loads
    assert(MboxOffset.fromJson(graft.Jsons.str("/data/a.mbox")) ==
      MboxOffset("/data/a.mbox", -1L))
    // the digest is order-insensitive and name-sensitive
    assert(MboxOffset.setDigest(Seq("a", "b")) == MboxOffset.setDigest(Seq("b", "a")))
    assert(MboxOffset.setDigest(Seq("a", "b")) != MboxOffset.setDigest(Seq("a", "c")))
  }

  test("mbox stream fails loudly when a backfill lands below the committed watermark") {
    val root = scratch("mbox_backfill")
    val dir = s"$root/in"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    new java.io.File(dir).mkdirs()
    def archive(name: String, id: Long): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name),
        s"From mbox@graft x\nMessage-ID: <$id@graft>\n" +
          s"Date: 4 Mar 2024 10:00:0$id +0000\nFrom: u$id@x.org\n" +
          s"X-From-Email: u$id@x.org\nSubject: s$id\n\nbody $id\n")
    archive("2024-04.mbox", 1L)
    val q = spark.readStream.format("mbox").load(dir).writeStream
      .format("memory").queryName("mbox_backfill")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mbox_backfill").count() == 1)
      // an archive whose name sorts BELOW the committed mark would be
      // skipped silently by the high-water filter — it must fail instead
      archive("2024-03.mbox", 2L)
      val ex = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("below the committed watermark")), ex.toString)
    } finally {
      try q.stop() catch { case _: Exception => () }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("mbox stream fails loudly when a delete cancels a backfill in the count") {
    val root = scratch("mbox_cancel")
    val dir = s"$root/in"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    new java.io.File(dir).mkdirs()
    def archive(name: String, id: Long): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name),
        s"From mbox@graft x\nMessage-ID: <$id@graft>\n" +
          s"Date: 4 Mar 2024 10:00:0$id +0000\nFrom: u$id@x.org\n" +
          s"X-From-Email: u$id@x.org\nSubject: s$id\n\nbody $id\n")
    archive("2024-02.mbox", 1L)
    archive("2024-04.mbox", 2L)
    val q = spark.readStream.format("mbox").load(dir).writeStream
      .format("memory").queryName("mbox_cancel")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mbox_cancel").count() == 2)
      // a backfill below the watermark lands in the same interval as a
      // delete below it: the at-or-below COUNT is unchanged, so the
      // count-only guard is blind — the membership digest must fire
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "2024-02.mbox"))
      archive("2024-03.mbox", 3L)
      val ex = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("changed membership at equal count")),
        ex.toString)
    } finally {
      try q.stop() catch { case _: Exception => () }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("CRLF mbox archives parse identically to LF in both readers") {
    import spark.implicits._
    val root = scratch("mbox_crlf")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    // write a normal LF archive, then clone it byte-for-byte with CRLF
    // line endings — a real-world mbox fetched over SMTP/NNTP is CRLF
    val emails = (1L to 40L).map(i => Email(i,
      new java.sql.Timestamp(86400000L + i * 60000L), s"subject $i",
      s"User $i <u$i@x.org>", s"u$i@x.org",
      s"first line $i\nFrom the quoted line\n\nbody tail $i"))
    emails.toDS().coalesce(1).write.format("mbox").mode("append").save(s"$root/lf")
    val crlfDir = new java.io.File(s"$root/crlf"); crlfDir.mkdirs()
    for (f <- new java.io.File(s"$root/lf").listFiles() if f.getName.endsWith(".mbox")) {
      val lf = java.nio.file.Files.readString(f.toPath)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(crlfDir.getPath, f.getName), lf.replace("\n", "\r\n"))
    }
    // header terminator is "\r\n\r\n" now; both parsers must still see the
    // blank line, and bodies come back CR-free (BufferedReader semantics)
    assert(MboxIO.read(spark, s"$root/crlf").collect().toSet == emails.toSet)
    assert(spark.read.format("mbox").load(s"$root/crlf").as[Email].collect().toSet
      == emails.toSet)
    // byte-range splits count the CR bytes in their offsets — resync still
    // assigns every message to exactly one split
    val split = spark.read.format("mbox").option("splitSize", "512").load(s"$root/crlf")
    assert(split.rdd.getNumPartitions > 1)
    assert(split.as[Email].collect().toSet == emails.toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("mbox byte-range splits read one archive as N partitions, row-identical to unsplit") {
    import spark.implicits._
    val dir = scratch("mbox_split")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // ONE archive of 500 multi-line messages (~60 KB) — split at 4 KB it
    // must fan out into many tasks with the From_-delimiter resync
    // assigning every message to exactly one split
    val emails = (1L to 500L).map(i => Email(i,
      new java.sql.Timestamp(86400000L + i * 60000L), s"subject $i",
      s"User $i <u$i@x.org>", s"u$i@x.org",
      s"first line of message $i\nFrom the quoted line\n\nbody tail $i"))
    emails.toDS().coalesce(1).write.format("mbox").mode("append").save(dir)
    val unsplit = spark.read.format("mbox").load(dir)
    val split = spark.read.format("mbox").option("splitSize", "4096").load(dir)
    assert(unsplit.rdd.getNumPartitions == 1)
    assert(split.rdd.getNumPartitions > 10,
      s"expected many byte-range splits, got ${split.rdd.getNumPartitions}")
    assert(split.as[Email].collect().toSet == emails.toSet)
    assert(split.as[Email].collect().toSet == unsplit.as[Email].collect().toSet)
    // pathological split size (smaller than one message) still partitions
    // the message set exactly
    val tiny = spark.read.format("mbox").option("splitSize", "64").load(dir)
    assert(tiny.as[Email].collect().toSet == emails.toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("folded RFC 5322 headers unfold identically in both mbox parsers") {
    val dir = scratch("mbox_folded")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    // a real-world archive folds long headers: continuation lines start
    // with WSP and unfold by dropping the newline, keeping the WSP
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.mbox"),
      "From mbox@graft x\nMessage-ID: <1@graft>\n" +
        "Date: 4 Mar 2024 10:00:01 +0000\nFrom: Some User\n <u1@x.org>\n" +
        "X-From-Email: u1@x.org\nSubject: a long subject\n\tthat was folded\n twice\n" +
        "\nbody line\n")
    val viaV2 = spark.read.format("mbox").load(dir)
      .as(org.apache.spark.sql.Encoders.product[Email]).collect()(0)
    val viaIo = MboxIO.read(spark, dir).collect()(0)
    for (e <- Seq(viaV2, viaIo)) {
      assert(e.subject == "a long subject\tthat was folded twice", e.subject)
      assert(e.from_raw == "Some User <u1@x.org>", e.from_raw)
      assert(e.text_body == "body line")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("mbox writers map null fields to empty and reject newline-bearing headers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = scratch("mbox_nulls")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val ts = new java.sql.Timestamp(1709251200L * 1000)
    // null subject/from_raw/text_body: both writers emit "" (mbox cannot
    // represent null-vs-empty) instead of NPEing / "null" literals /
    // nulling out the whole message
    val withNulls = Seq(Email(1L, ts, null, null, "a@b.c", null)).toDS()
    MboxIO.write(withNulls, s"$root/io")
    val ioBack = MboxIO.read(spark, s"$root/io").collect()(0)
    assert(ioBack.subject == "" && ioBack.from_raw == "" && ioBack.text_body == "")
    withNulls.write.format("mbox").mode("append").save(s"$root/v2")
    val v2Back = spark.read.format("mbox").load(s"$root/v2").as[Email].collect()(0)
    assert(v2Back.subject == "" && v2Back.from_raw == "" && v2Back.text_body == "")
    // a newline inside a header value would silently corrupt the message
    // structure: both writers must fail loudly
    val folded = Seq(Email(2L, ts, "line1\nline2", "a@b.c", "a@b.c", "body")).toDS()
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    val exIo = intercept[Exception] { MboxIO.write(folded, s"$root/io_bad") }
    assert(messages(exIo).exists(_.contains("must not contain newlines")), exIo.toString)
    val exV2 = intercept[Exception] {
      folded.write.format("mbox").mode("append").save(s"$root/v2_bad")
    }
    assert(messages(exV2).exists(_.contains("must not contain newlines")), exV2.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("streaming mbox source discovers and parses archives incrementally") {
    import spark.implicits._
    val root = scratch("mbox_stream")
    val dir = s"$root/in"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    new java.io.File(dir).mkdirs()
    def archive(name: String, ids: Seq[Long]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name),
        ids.map(i => s"From mbox@graft x\nMessage-ID: <$i@graft>\n" +
          s"Date: 4 Mar 2024 10:00:0$i +0000\nFrom: u$i@x.org\n" +
          s"X-From-Email: u$i@x.org\nSubject: s$i\n\nbody $i\n").mkString)
    archive("2024-03.mbox", Seq(1L, 2L))
    val q = MboxIO.readStream(spark, dir).writeStream
      .format("memory").queryName("mbox_stream")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mbox_stream").count() == 2)
      // a later archive lands; only its messages are emitted (exactly once)
      archive("2024-04.mbox", Seq(3L))
      q.processAllAvailable()
      val got = spark.table("mbox_stream").as[Email].collect()
      assert(got.map(_.doc_id).toSet == Set(1L, 2L, 3L))
      assert(got.forall(e => e.text_body == s"body ${e.doc_id}" &&
        e.from_email == s"u${e.doc_id}@x.org"))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("JSON lines round-trip preserves the typed entities exactly") {
    val t = Tables(spark, sfDir)
    val dir = scratch("json_test")
    val commits = t.commitsTyped
    JsonIO.write(commits, s"$dir/commits")
    val back = JsonIO.readCommits(spark, s"$dir/commits")
    // declared-schema JSON reads are always nullable; types must match
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType.sql)).toSeq
    assert(shape(back.schema) == shape(commits.schema))
    val a = commits.collect().sortBy(_.event_id).toSeq
    val b = back.collect().sortBy(_.event_id).toSeq
    assert(a == b)

    val emails = t.emailsTyped
    JsonIO.write(emails, s"$dir/emails")
    assert(JsonIO.readEmails(spark, s"$dir/emails").count() == emails.count())
  }
}
