package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.Programs.Admission
import graft.sources.{JsonIO, MboxIO, Sinks}

/** The application tier end-to-end: each program is run as a user would
  * run it (import → analytics → store) and its store is compared against
  * the same transform computed directly — the program must add plumbing,
  * never query logic. */
class ProgramsSpec extends AnyFunSuite {
  import TestSpark._

  private val root = scratch("programs")
  private def fresh(sub: String): String = {
    val d = s"$root/$sub"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    d
  }

  test("commitProgram: import JSON → windowed component summary → partitioned store") {
    val dir = fresh("batch")
    Programs.commitsImport(spark, sfDir, s"$dir/commits")
    Programs.commitProgram(spark, s"$dir/commits", s"$dir/store")

    val stored = Sinks.readPartitioned(spark, s"$dir/store")
    assert(stored.columns.contains(Sinks.PartitionCol), "store must be date-partitioned")
    val direct = Programs.componentSummary(JsonIO.readCommits(spark, s"$dir/commits").toDF())
    val a = stored.drop(Sinks.PartitionCol).collect().map(_.toSeq).toSet
    val b = direct.collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)

    // --start-date: the ranged store is the direct summary of ranged
    // input, and the FLEXIBLE shapes (date-only and datetime, the
    // reference's Utils.java:40-47 contract) produce the same store as
    // the full literal they default to
    val directRanged = Programs.componentSummary(
      JsonIO.readCommits(spark, s"$dir/commits").toDF()
        .filter(col("commit_date") >= lit("2024-01-15 00:00:00").cast("timestamp")))
      .collect().map(_.toSeq).toSet
    for ((shape, tag) <- Seq("2024-01-15" -> "d", "2024-01-15T00:00:00Z" -> "dt")) {
      Programs.commitProgram(spark, s"$dir/commits", s"$dir/store_ranged_$tag", Some(shape))
      val ranged = Sinks.readPartitioned(spark, s"$dir/store_ranged_$tag")
        .drop(Sinks.PartitionCol).collect().map(_.toSeq).toSet
      assert(ranged == directRanged && ranged.size < a.size, s"shape=$shape")
    }
  }

  test("flexible --start-date parsing: year-month, date and datetime shapes default like the reference") {
    import java.time.LocalDateTime
    import graft.functions.Dates.parseFlexibleDate
    // Utils.java:21-47 semantics: day defaults to 1, time to midnight;
    // empty means now; T/Z are case-insensitive; anything else is loud
    assert(parseFlexibleDate("2019-06") == LocalDateTime.of(2019, 6, 1, 0, 0))
    assert(parseFlexibleDate("2019-06-15") == LocalDateTime.of(2019, 6, 15, 0, 0))
    assert(parseFlexibleDate("2019-06-15T12:30:00Z") == LocalDateTime.of(2019, 6, 15, 12, 30))
    assert(parseFlexibleDate("2019-06-15t12:30z") == LocalDateTime.of(2019, 6, 15, 12, 30))
    assert(parseFlexibleDate("2019-06-15T12:30:45.5Z") ==
      LocalDateTime.of(2019, 6, 15, 12, 30, 45, 500000000))
    val pinned = LocalDateTime.of(2030, 1, 2, 3, 4)
    assert(parseFlexibleDate("", () => pinned) == pinned)
    assert(parseFlexibleDate(null, () => pinned) == pinned)
    intercept[IllegalArgumentException](parseFlexibleDate("2019"))
    intercept[IllegalArgumentException](parseFlexibleDate("2024-01-15 00:00:00"))
    intercept[java.time.DateTimeException](parseFlexibleDate("2019-13"))
  }

  test("commitProgramStream emits closed windows exactly once into the store") {
    val dir = fresh("stream")
    new java.io.File(s"$dir/in").mkdirs()
    def commit(id: Long, ts: String, file: String, lines: Int): String =
      s"""{"event_id":$id,"commit_date":"$ts","author":"u$id","event_type":"commit",""" +
        s""""files_changed":[{"filename":"$file","linesChanged":$lines}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/b1.json"),
      Seq(
        commit(1, "2024-03-04T10:05:00.000Z", "flink-runtime/src/A.java", 100),
        commit(2, "2024-03-04T10:35:00.000Z", "flink-core/src/B.java", 20),
        commit(3, "2024-03-04T11:05:00.000Z", "flink-runtime/src/C.java", 7)).mkString("\n"))

    val q = Programs.commitProgramStream(spark, s"$dir/in", s"$dir/store", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      // a far-future commit lands: its batch advances the watermark past
      // every earlier window, which then emit (the sentinel's own open
      // window must NOT emit)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/b2.json"),
        commit(99, "2030-01-01T00:00:00.000Z", "docs/x.md", 1))
      q.processAllAvailable()

      val stored = spark.read.parquet(s"$dir/store")
      val expected = Programs.componentSummary(
          JsonIO.readCommits(spark, s"$dir/in/b1.json").toDF())
        .collect().map(_.toSeq).toSet
      assert(stored.collect().map(_.toSeq).toSet == expected)
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("curationProgram ships the scrubbed canonical corpus partitioned by language") {
    import org.apache.spark.sql.functions._
    val dir = fresh("curation")
    Programs.curationProgram(spark, sfDir, s"$dir/out")
    val curated = spark.read.parquet(s"$dir/out")
    assert(curated.columns.toSet == Set("doc_id", "pred_lang", "text", "bpe_tokens"))
    // partitioned-by-language layout: a per-language read prunes partitions
    val oneLang = curated.filter(col("pred_lang") === "en")
    assert(formattedPlan(oneLang).contains("PartitionFilters: [isnotnull(pred_lang"),
      "curated corpus must prune by language partition")
    // the program adds plumbing, never query logic: store == direct transform
    val direct = Programs.curationCore(
      graft.sources.Tables(spark, sfDir).documents)
    val cols = Seq("doc_id", "pred_lang", "text", "bpe_tokens")
    val a = curated.select(cols.map(col): _*).collect().map(_.toSeq.toVector).toSet
    val b = direct.select(cols.map(col): _*).collect().map(_.toSeq.toVector).toSet
    assert(a == b && a.nonEmpty)
    // the funnel dropped something (quality gate + dedup both bite)
    assert(curated.count() <
      graft.sources.Tables(spark, sfDir).documents.count())
  }

  test("ingestProgram admits only novel, near-novel, passage-cut, quota-fitting docs") {
    import org.apache.spark.sql.functions._
    val dir = fresh("ingest")
    val docs = graft.sources.Tables(spark, sfDir).documents
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    // the arriving batch: genuinely new docs PLUS re-deliveries of
    // corpus content under fresh ids (the case gate 1 exists for)
    val redelivered = corpus.limit(5)
      .withColumn("doc_id", col("doc_id") + 7000000L)
    // ...PLUS a genuinely-new doc QUOTING a standing corpus passage
    // (15 contiguous corpus words mid-doc) — novel as a WHOLE, so
    // gates 1-2 must admit it, but the quoted passage is exactly what
    // gate 3 (the gram-index cut) exists to remove at admission
    val corpusWords = corpus.orderBy(col("doc_id"))
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 25)
      .first().getSeq[String](0)
    val passage = corpusWords.slice(5, 20).mkString(" ")
    val fresh60 = (1 to 60).map(i => s"zqfresh$i").mkString(" ")
    val quoter = spark.range(1).select(
      lit(8000001L).as("doc_id"),
      concat_ws(" ", lit(fresh60), lit(passage), lit("zqtail1 zqtail2"))
        .as("text"),
      lit("en").as("lang"), lit("srcquote").as("source"),
      lit(0L).as("n_chars"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .unionByName(redelivered).unionByName(quoter)
    Programs.ingestProgram(spark, corpus, batch, s"$dir/out", quotaPerSource = 3L)
    val accepted = spark.read.parquet(s"$dir/out")
    assert(accepted.count() > 0)
    // gate 1: no accepted text exists verbatim in the corpus — in
    // particular every re-delivered doc was refused
    assert(accepted.join(corpus.select(col("text")), Seq("text"), "left_semi")
      .count() == 0, "an exact corpus duplicate was admitted")
    // gate 2: accepted docs have no band collision with the corpus
    val stillColliding = graft.operators.Dedup.probeBandIndex(
      accepted, graft.operators.Dedup.minhashBandIndex(corpus, 3, 8, 4), 3, 8, 4)
    assert(stillColliding.count() == 0, "a near-dup of the corpus was admitted")
    // gate 3: the quoting doc was ADMITTED (it is new as a whole) but
    // its corpus PASSAGE was cut at admission — stored text keeps the
    // fresh words, drops the quote, and carries the cut audit
    val storedQuoter = accepted.filter(col("doc_id") === 8000001L).collect()
    assert(storedQuoter.length == 1, "the passage-quoting doc must be admitted")
    val qRow = storedQuoter.head
    val qText = qRow.getAs[String]("text")
    assert(!qText.contains(passage), "a standing corpus passage survived admission")
    assert(qText.contains("zqfresh1") && qText.contains("zqtail2"),
      "gate 3 must cut the quoted passage, not the doc's own words")
    assert(qRow.getAs[Long]("n_removed") == 15L && qRow.getAs[Long]("n_spans") == 1L,
      s"cut audit wrong: $qRow")
    // gate 4: the per-source cap holds, and the store partitions by
    // source (per-source audits prune)
    val perSource = accepted.groupBy(col("source")).count()
      .collect().map(_.getLong(1))
    assert(perSource.nonEmpty && perSource.forall(_ <= 3L))
    assert(formattedPlan(accepted.filter(col("source") === "src1"))
      .contains("PartitionFilters: [isnotnull(source"),
      "ingest store must prune by source partition")
    // the program adds plumbing only: store == direct core transform
    val direct = Programs.ingestCore(Admission.bloomBuild(corpus),
      Admission.minhashBandIndex(corpus), Admission.gramIndex(corpus), batch, 3L)
    val a = accepted.select(col("doc_id"), col("qrank"), col("n_removed")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = direct.select(col("doc_id"), col("qrank"), col("n_removed")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("ingest index maintenance: append equals rebuild, updated indexes refuse re-delivery") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, sfDir).documents
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val bits = Admission.bloomBuild(corpus).localCheckpoint()
    val bandIdx = Admission.minhashBandIndex(corpus).localCheckpoint()
    val gramIdx = Admission.gramIndex(corpus).localCheckpoint()
    // what the pipeline STORES (post-quota, cut text — r14: appends must
    // derive from what the store actually carries; a quota-rejected doc
    // whose digest were marked seen could never enter the corpus later)
    val admitted = Programs.ingestCore(bits, bandIdx, gramIdx, batch, 8L)
      .select(col("doc_id"), col("text")).localCheckpoint()
    assert(admitted.count() > 0)
    val union = corpus.select(col("doc_id"), col("text")).unionByName(admitted)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toVector).toSet
    // append ≡ rebuild, for each of the three standing artifacts — the
    // "incremental OR-in / append-able index" claims as checked algebra
    assert(rows(Admission.bloomAppend(bits, admitted)) == rows(Admission.bloomBuild(union)))
    assert(rows(Admission.gramIndexAppend(gramIdx, admitted)) ==
      rows(Admission.gramIndex(union)))
    assert(rows(Admission.bandIndexAppend(bandIdx, admitted)) ==
      rows(Admission.minhashBandIndex(union)))
    // the lifecycle point: a re-delivery of an ADMITTED doc under a
    // fresh id passes gate 1 against the STALE bit table but is refused
    // by the APPENDED one — the update is what closes the loop
    val redelivery = admitted.limit(3)
      .withColumn("doc_id", col("doc_id") + 9000000L)
    val staleFresh = Admission.bloomNovel(bits, redelivery).count()
    assert(staleFresh > 0, "stale bits should not know the admitted docs")
    val updatedBits = Admission.bloomAppend(bits, admitted)
    val updatedFresh = Admission.bloomNovel(updatedBits, redelivery).count()
    assert(updatedFresh == 0, "appended bits must refuse re-delivered admitted docs")
  }

  test("index maintenance is post-quota: a quota-rejected doc stays admissible") {
    // r14 (r13 ADVICE): appends derive from what the store CARRIES.
    // Two novel same-source docs under quota 1 — one stored, one
    // rejected. The rejected doc's digest must NOT enter the appended
    // bit table: when quota room frees up and it is re-delivered, it
    // must still pass gate 1 (a pre-quota append would tombstone it as
    // seen-but-unstored forever).
    import spark.implicits._
    val corpus = Seq((1L, "aa bb cc dd ee ff gg hh ii jj kk", "base"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (100L, "wholly novel alpha content one", "s"),
      (101L, "different fresh beta material two", "s"))
      .toDF("doc_id", "text", "source")
    val bits = Admission.bloomBuild(corpus).localCheckpoint()
    val stored = Programs.ingestCore(bits, Admission.minhashBandIndex(corpus),
      Admission.gramIndex(corpus), batch, quotaPerSource = 1L).localCheckpoint()
    assert(stored.count() == 1, "quota 1 must store exactly one of the pair")
    val rejected = batch.join(stored.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    assert(rejected.count() == 1)
    val updated = Admission.bloomAppend(bits, stored).localCheckpoint()
    val rejectedFresh = Admission.bloomNovel(updated, rejected).count()
    assert(rejectedFresh == 1, "quota-rejected doc must NOT be tombstoned as seen")
    val storedRefused = Admission.bloomNovel(updated, stored).count()
    assert(storedRefused == 0, "stored doc's re-delivery must be refused")
  }

  test("curationProgramStream emits closed per-language windows into the store") {
    val dir = fresh("curation_stream")
    new java.io.File(s"$dir/in").mkdirs()
    def good(tag: String) =
      (1 to 30).map(i => s"$tag$i").mkString(" ") + " the and of to is"
    def doc(min: Long, id: Long, text: String): String = {
      val iso = java.time.Instant.ofEpochSecond(86400L + min * 60L).toString
      s"""{"ts":"$iso","doc_id":$id,"text":"$text"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/b1.json"),
      Seq(doc(5, 1L, good("alpha")), doc(10, 2L, good("alpha")), // dup dropped
        doc(15, 3L, "too short")).mkString("\n"))                // gate dropped
    val q = Programs.curationProgramStream(spark, s"$dir/in", s"$dir/out", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      // sentinel far past the 1h watermark closes the hour-0 window
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/b2.json"),
        doc(2000, 99L, good("omega")))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/out")
        .select("pred_lang", "n_docs", "ws_total").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq(("en", 1L, 35L)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("mailingListImport: mbox archives → declared-schema JSON lines, losslessly") {
    val dir = fresh("mail")
    import spark.implicits._
    val emails = MboxIO.read(spark, {
      new java.io.File(s"$dir/mbox").mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/mbox/a.mbox"),
        (1L to 3L).map(i => s"From mbox@graft x\nMessage-ID: <$i@graft>\n" +
          s"Date: 4 Mar 2024 10:00:0$i +0000\nFrom: u$i@x.org\n" +
          s"X-From-Email: u$i@x.org\nSubject: s$i\n\nbody $i\n").mkString)
      s"$dir/mbox"
    })
    Programs.mailingListImport(spark, s"$dir/mbox", s"$dir/json")
    val back = JsonIO.readEmails(spark, s"$dir/json").collect().toSet
    assert(back == emails.collect().toSet && back.size == 3)
  }
}
