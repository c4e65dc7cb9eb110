package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Layout
import graft.sources.Tables

/** Z-order layout contract: the key math (column ≡ scala twin, monotone
  * per coordinate — the property [[Layout.zRange]]'s box bound rests
  * on), the write→pruned-read round-trip, and the locality claim itself
  * (a box's matches concentrate in few files vs a hash layout). */
class LayoutSpec extends AnyFunSuite {
  import TestSpark._

  private def ev = Tables(spark, sfDir).events
    .select(col("event_id"),
      pmod(col("user_id"), lit(4096L)).as("ux"),
      pmod(unix_timestamp(col("ts")), lit(4096L)).as("uy"))

  test("zkey2 column matches the scala twin; bit-spread is monotone per coordinate") {
    val rows = ev.limit(300)
      .withColumn("zkey", Layout.zkey2(col("ux"), col("uy"), 12)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("zkey") ==
        Layout.zkey2Long(r.getAs[Long]("ux"), r.getAs[Long]("uy"), 12))
    }
    for (y <- Seq(0L, 77L, 4095L); x <- 0L until 128L)
      assert(Layout.zkey2Long(x, y, 12) < Layout.zkey2Long(x + 1, y, 12))
    for (x <- Seq(0L, 77L, 4095L); y <- 0L until 128L)
      assert(Layout.zkey2Long(x, y, 12) < Layout.zkey2Long(x, y + 1, 12))
  }

  test("z-ordered box read: exact box rows back, zkey range pushed to the scan") {
    val dir = scratch("zorder/roundtrip")
    Layout.writeZOrdered(ev, "ux", "uy", bits = 12, nFiles = 16, path = dir)
    // the user dimension is low-cardinality at this SF (ids 0..14) — a
    // realistic "these users, this time range" box
    val (xlo, xhi, ylo, yhi) = (3L, 9L, 1024L, 2047L)
    val got = Layout.readBox(spark, dir, "ux", "uy", 12, xlo, xhi, ylo, yhi)
    val want = ev.filter(col("ux").between(xlo, xhi) && col("uy").between(ylo, yhi))
    assert(want.count() > 0, "test box is empty — not exercising anything")
    // exact equivalence on ids: the zkey range is a superset bound, the
    // residual box filter restores exactness
    assert(got.select("event_id").except(want.select("event_id")).isEmpty)
    assert(want.select("event_id").except(got.select("event_id")).isEmpty)
    // the coarse range really reaches the parquet scan as a pushed
    // filter — that is the row-group/page pruning path
    val plan = formattedPlan(got)
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").matches("(?s).*PushedFilters:\\[[^\\]]*zkey.*"),
      plan)
  }

  test("locality: an aligned box's matches touch few z-ordered files, many hash files") {
    val base = scratch("zorder")
    // coordinates quantized to a 16×16 grid (bits=4): ux = user id
    // (0..14 at this SF), uy = time bucket. The box is the (4..7)²
    // aligned tile, whose z interval is exactly one second-level
    // quadrant = 1/16 of the key space — with 16 range-partitioned
    // files that interval spans ~1-2 of them, while a hash layout
    // spreads the same matches over most files
    val quant = ev.select(col("event_id"),
      pmod(col("ux"), lit(16L)).as("ux"),
      (col("uy") / 256).cast("long").as("uy"))
    Layout.writeZOrdered(quant, "ux", "uy", bits = 4, nFiles = 16, path = s"$base/z")
    quant.repartition(16).write.mode("overwrite").parquet(s"$base/hash")
    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("ux").between(4, 7) && col("uy").between(4, 7))
        .select(input_file_name()).distinct().count()
    val zFiles = filesTouched(s"$base/z")
    val hashFiles = filesTouched(s"$base/hash")
    assert(zFiles > 0, "aligned box matched no rows — test data assumption broken")
    assert(zFiles <= 4, s"z-order layout did not cluster the box: $zFiles files")
    assert(hashFiles > zFiles,
      s"hash layout unexpectedly as clustered as z-order: hash=$hashFiles z=$zFiles")
  }

  test("compact: small files collapse to the byte-target count, rows identical") {
    val base = scratch("compact")
    val small = s"$base/small"
    val out = s"$base/compacted"
    val docs = Tables(spark, sfDir).documents
    docs.repartition(32).write.mode("overwrite").parquet(small)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    val smallFiles = parquetFiles(small)
    assert(smallFiles.length == 32, s"expected 32 small files, got ${smallFiles.length}")
    // target a quarter of the total: expect ceil(total/target) = 4-5
    // output files (ceil slack), each ~targetBytes
    val total = smallFiles.map(_.length).sum
    val n = Layout.compact(spark, small, out, targetBytes = total / 4)
    val outFiles = parquetFiles(out)
    assert(outFiles.length == n, s"returned $n but wrote ${outFiles.length} files")
    assert(n >= 4 && n <= 6, s"expected ~4 compacted files, got $n")
    // row-identical, multiplicities included
    val a = spark.read.parquet(small)
    val b = spark.read.parquet(out)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "compaction changed the row multiset")
    // in-place compaction is refused
    intercept[IllegalArgumentException] {
      Layout.compact(spark, small, small, targetBytes = total / 4)
    }
  }
}
