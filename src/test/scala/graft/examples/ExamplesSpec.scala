package graft.examples

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shipped examples must RUN, not just compile: the README quickstart
  * snippet is [[Quickstart.curate]] verbatim, so this spec is the fence
  * that keeps the documented developer surface executable.
  */
class ExamplesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-examples-test")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("README quickstart curates, mixes, shards, and traces end-to-end") {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_quickstart_spec"
    val trace = Quickstart.curate(spark, dir, out)
    // the summary reads the sink back: shards exist and hold rows
    val summary = trace.result.collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(summary.nonEmpty && summary.forall(_._2 > 0))
    assert(summary.map(_._1).toSet.subsetOf((0 until 8).toSet))
    // the sharded layout really is hash-partitioned on disk
    val laid = spark.read.parquet(out)
    assert(laid.filter(col("shard") =!=
      pmod(xxhash64(col("doc_id")), lit(8)).cast("int")).count() == 0)
    // dedup ran and counted; mixture kept every surviving source bounded
    // by the smallest one (uniform target, integer thresholds)
    assert(trace.counterTotals.contains("near_dup_docs_dropped"))
    // hash keying end to end: a re-run is bit-identical (no rand() anywhere)
    val again = Quickstart.curate(spark, dir, out)
      .result.collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(again.sameElements(summary), "quickstart is not deterministic")
    assert(trace.result.columns.sameElements(Array("shard", "n_docs")))
  }

  test("warehouse SQL-text report runs through the algebra and matches the DataFrame twin") {
    val trace = Quickstart.warehouseReport(spark, dir)
    val rows = trace.result.collect()
    assert(rows.length > 0 && rows.length <= 10)
    // revenue strictly ordered desc with orderkey tiebreak (total order)
    val revs = rows.map(r => (r.getDouble(2), r.getLong(0)))
    assert(revs.sameElements(revs.sortBy { case (rev, k) => (-rev, k) }))
    // cross-check against the DataFrame-API computation of the same report
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val twin = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg((floor((sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 10000 + 0.5).cast("long")) + 50) / 100) / 100.0).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).sameElements(twin),
      "SQL-text report diverged from the DataFrame twin")
  }

  test("OtelQuickstart: the SDK-shaped adapter receives spans, counters, gauges") {
    // prod path: the OTel adapter against the recording SDK shim
    val (out, Some(sdk)) = OtelQuickstart.run("prod"): @unchecked
    assert(out == 10) // "spark" + "graft" lengths
    val calls = sdk.calls.toList
    assert(calls.head.startsWith("span.start:processing env=prod"),
      s"first SDK call must open the span: $calls")
    assert(calls.last == "span.end:processing",
      s"span must close after the block: $calls")
    assert(calls.contains("counter:items+=3"), calls.toString)
    assert(calls.contains("span.event:processing/validation.start"),
      s"Tel.addEvent must land on the enclosing span: $calls")
    assert(calls.exists(_.startsWith("gauge:data.quality.ratio=0.666")), calls.toString)
    assert(calls.exists(_.startsWith("histogram:item.length<<10")), calls.toString)
    // dev path: console provider, no SDK constructed
    val (devOut, devSdk) = OtelQuickstart.run("dev")
    assert(devOut == 10 && devSdk.isEmpty)
    // failure path: the span still closes and records the exception
    val sdk2 = new OtelQuickstart.RecordingOtelSdk
    val tel = new OtelQuickstart.OtelTelemetry(sdk2, sdk2)
    val boom = Node[Unit, Int] { _ =>
      Tel.withSpan("explodes") { throw new IllegalStateException("die") }
    }
    assert(boom.safeRun(())(tel).isFailure)
    assert(sdk2.calls.toList == List("span.start:explodes",
      "span.exception:explodes/IllegalStateException", "span.end:explodes"),
      sdk2.calls.toString)
  }
}
