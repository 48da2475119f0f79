package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The property that makes Z-order layout worth a compaction pass: every
  * output file covers a compact range of BOTH dimensions (so min/max footer
  * stats prune files for predicates on either), where a single-column sort
  * bounds only its leading column and leaves the other dimension full-width
  * in every file.
  */
class ZOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-zorder-test")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private def tmp(name: String) =
    s"${System.getProperty("java.io.tmpdir")}/$name"

  /** Mean per-file extent of `c` as a fraction of its global extent. */
  private def meanFileExtent(laid: DataFrame, c: String): Double = {
    val per = laid.groupBy(input_file_name())
      .agg((max(col(c)) - min(col(c))).cast("double").as("ext"))
      .agg(avg(col("ext"))).head.getDouble(0)
    val global = laid.agg((max(col(c)) - min(col(c))).cast("double")).head.getDouble(0)
    per / global
  }

  test("z-order bounds BOTH dims per file; plain sort leaves one full-width") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("o_custkey_d", col("o_custkey").cast("double"))
    val z = SparkOps.zorderWrite(orders, "o_custkey", "o_totalprice",
      tmp("graft_zorder_spec_z"), nFiles = 16)

    val zCust = meanFileExtent(z, "o_custkey")
    val zPrice = meanFileExtent(z, "o_totalprice")
    // 16 files over a 2-D Morton curve ≈ 4×4 grid: each file's box should
    // span roughly 1/4 of each dimension; allow slack for range-partition
    // boundary files that straddle curve quadrants.
    assert(zCust < 0.6, s"z-order o_custkey mean file extent $zCust")
    assert(zPrice < 0.6, s"z-order o_totalprice mean file extent $zPrice")

    // Baseline: sort by custkey only — price stays ~full-width per file.
    val sortedPath = tmp("graft_zorder_spec_sorted")
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(sortedPath)
    val s1 = spark.read.parquet(sortedPath)
    val sPrice = meanFileExtent(s1, "o_totalprice")
    assert(sPrice > 0.9, s"1-D sort should leave price full-width, got $sPrice")
    assert(zPrice < sPrice / 2,
      s"z-order must at least halve the non-sort dim extent ($zPrice vs $sPrice)")
  }

  test("zvalue matches a reference Morton interleave on random 16-bit inputs") {
    import spark.implicits._
    def refMorton(x: Long, y: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 16) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val rnd = new scala.util.Random(42)
    val pts = Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L)) ++
      (1 to 200).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), SparkOps.zvalue(col("x"), col("y")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) === refMorton(x, y), s"mismatch at ($x,$y)")
    }
    // Interleave is a bijection: distinct inputs → distinct z-values.
    assert(got.values.toSeq.distinct.size === got.size)
  }

  test("z-order layout is a lossless permutation") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val z = SparkOps.zorderWrite(orders, "o_custkey", "o_totalprice",
      tmp("graft_zorder_spec_perm"), nFiles = 8)
    assert(z.count() === orders.count())
    assert(z.exceptAll(orders).isEmpty && orders.exceptAll(z).isEmpty)
  }

  test("z-order layout actually SKIPS under a non-sort-dim predicate") {
    // The claimed benefit, measured: a tight o_totalprice band (the
    // dimension a 1-D custkey sort cannot bound per file) must (a) find
    // its matches concentrated in a minority of z-ordered files and (b)
    // make the parquet scan DECODE fewer rows — row-group min/max pruning
    // driven by the footer stats the layout exists to tighten. The same
    // band over the 1-D custkey-sorted copy touches every file.
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val zPath = tmp("graft_zorder_spec_skip_z")
    val sPath = tmp("graft_zorder_spec_skip_s")
    SparkOps.zorderWrite(orders, "o_custkey", "o_totalprice", zPath, nFiles = 16)
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(sPath)
    val Array(lo, hi) =
      orders.stat.approxQuantile("o_totalprice", Array(0.40, 0.45), 0.0)
    def measure(path: String): (Long, Long) = {
      val df = spark.read.parquet(path)
        .filter(col("o_totalprice").between(lo, hi))
      val matches = df.select(input_file_name()).distinct().count()
      df.collect()
      val decoded = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
      (matches, decoded)
    }
    val (zFiles, zDecoded) = measure(zPath)
    val (sFiles, sDecoded) = measure(sPath)
    info(s"files-with-matches z=$zFiles sorted=$sFiles; " +
      s"scan-decoded rows z=$zDecoded sorted=$sDecoded")
    assert(sFiles >= 12, s"1-D sort should smear the band over ~all files: $sFiles")
    assert(zFiles * 2 <= sFiles,
      s"z-order must concentrate the band: $zFiles vs $sFiles files")
    assert(zDecoded * 2 <= sDecoded,
      s"row-group pruning must cut decoded rows: $zDecoded vs $sDecoded")
  }
}
