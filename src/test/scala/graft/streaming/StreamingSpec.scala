package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

/** Streaming semantics on crafted MemoryStream input: tumbling windows,
  * session merging, stateful dedup.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-stream-test")
    .getOrCreate()

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("tumbling window counts per 10-minute bucket") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(1), 1, 1.0), Ev(2, ts(5), 1, 2.0),
      Ev(3, ts(11), 2, 3.0), Ev(4, ts(19), 2, 4.0), Ev(5, ts(25), 1, 5.0))
    val agg = mem.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val out = StreamingOps.runToTable(agg, "complete")
      .select(col("window.start").cast("string").as("start"), col("n"))
      .orderBy("start")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(
      ("2024-01-01 00:00:00", 2L),
      ("2024-01-01 00:10:00", 2L),
      ("2024-01-01 00:20:00", 1L)))
  }

  test("session window merges events within the gap, splits beyond it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // user 1: events at 0,4,8 (one session), then 30 (new session)
    mem.addData(
      Ev(1, ts(0), 1, 0), Ev(2, ts(4), 1, 0), Ev(3, ts(8), 1, 0),
      Ev(4, ts(30), 1, 0))
    val agg = mem.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val out = StreamingOps.runToTable(agg, "complete")
      .select(col("session_window.start").cast("string").as("start"), col("n"))
      .orderBy("start")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("2024-01-01 00:00:00", 3L), ("2024-01-01 00:30:00", 1L)))
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val out = StreamingOps.statefulUserTotals(mem.toDS(), alertThreshold = 100.0)
    val name = "graft_state_test"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(UserEvent(1, 40.0), UserEvent(2, 10.0))
      q.processAllAvailable()
      mem.addData(UserEvent(1, 70.0)) // user 1 crosses 100 in batch 2
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(3)))
    // batch 1 emits (1, 40, 1, false), (2, 10, 1, false); batch 2 emits (1, 110, 2, true)
    assert(rows.toSet == Set((1L, 40.0, 1L, false), (2L, 10.0, 1L, false),
      (1L, 110.0, 2L, true)))
  }

  test("transformWithState final totals equal the flatMapGroupsWithState API's") {
    // Same contract, two state APIs: the Spark-4 StatefulProcessor path
    // must land on identical final per-user state as the
    // flatMapGroupsWithState path at the same threshold.
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val fmgws = rows(StreamingOps.statefulUserTotalsGraded(spark, dir, 330000L))
    val tws = rows(StreamingOps.statefulUserTotalsTws(spark, dir, 330000L))
    assert(tws == fmgws, "the two arbitrary-state APIs diverged")
    assert(tws.nonEmpty)
  }

  test("watermark drops events later than the lateness bound (append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val name = "graft_late_test"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(1), 1, 0), Ev(2, ts(5), 1, 0))
      q.processAllAvailable()
      // advance watermark far past the first window...
      mem.addData(Ev(3, ts(59), 1, 0))
      q.processAllAvailable()
      // ...then send an event for the long-closed first window: too late
      mem.addData(Ev(4, ts(2), 1, 0))
      q.processAllAvailable()
      mem.addData(Ev(5, Timestamp.valueOf("2024-01-01 02:00:00"), 1, 0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select(col("window.start").cast("string").as("start"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // first window emitted with 2 rows only; the late 4th event was dropped
    assert(rows.get("2024-01-01 00:00:00").contains(2L))
  }

  test("streaming dedup drops repeated event ids") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(1), 1, 0), Ev(1, ts(2), 1, 0), Ev(2, ts(3), 1, 0))
    val deduped = mem.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy()
      .agg(count(lit(1)).as("n"))
    val out = StreamingOps.runToTable(deduped, "complete").collect()
    assert(out(0).getLong(0) == 2L)
  }

  test("foreachBatch upsert merges a genuinely multi-batch replay") {
    val (state, nBatches) =
      StreamingOps.foreachBatchUpsert(spark, "/root/testdata/sf0.001")
    // The 3-slice staging + maxFilesPerTrigger=1 must yield 3 micro-batches
    // — otherwise the merge path (full-outer + coalesce) never runs.
    assert(nBatches === 3, s"expected 3 micro-batches, got $nBatches")
    // Final state must equal the single-pass batch rollup (merge is
    // associative+commutative, so batching cannot change it).
    val batch = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("ts_us"), col("event_id"), col("value"))).as("last"))
      .select(col("user_id"), col("n_events"),
        timestamp_micros(col("last.ts_us")).as("last_ts"),
        col("last.value").as("last_value"))
    assert(state.exceptAll(batch).isEmpty && batch.exceptAll(state).isEmpty)
  }

  test("left-outer stream-stream join emits ALL unmatched purchases as outer rows") {
    // The flush-wave staging must push the watermark past every real
    // purchase: every purchase without a click in [p-1h, p] appears with
    // the (-1, -1) sentinel right side. A missing eviction batch (the
    // lateDataDrop failure mode) would silently drop the tail's outer rows
    // and this equality breaks.
    val got = StreamingOps.streamStreamLeftJoin(spark, "/root/testdata/sf0.001")
    val e = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"), col("ts").as("cts"))
    val oracle = p.join(
        c.withColumnRenamed("user_id", "cu"),
        col("cu") === col("user_id") && col("cts") <= col("pts") &&
          col("cts") >= col("pts") - expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("user_id"), col("purchase_id"),
        coalesce(col("cid"), lit(-1L)).as("click_id"),
        coalesce(unix_micros(col("pts")) - unix_micros(col("cts")), lit(-1L))
          .as("gap_us"))
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty)
    // and the outer rows genuinely exist in the replay output
    assert(got.filter(col("click_id") === -1L).count() > 0)
  }

  test("stream-stream join state is EVICTED after watermark closure (left + full)") {
    // Output-correct is not enough at scale: an outer join whose watermark
    // never evicts buffers the whole stream. Assert over the per-batch
    // progress ledger that join state numRowsTotal (a) peaks while the
    // data wave is in flight, then (b) DROPS once the flush waves push the
    // watermark past every real event — eviction observed, not assumed.
    for (
      (run, name) <- Seq(
        (() => StreamingOps.streamStreamLeftJoin(spark, "/root/testdata/sf0.001"),
          "stream_stream_left_join"),
        (() => StreamingOps.streamStreamFullJoin(spark, "/root/testdata/sf0.001"),
          "stream_stream_full_join"))
    ) {
      run().count() // drive the replay to completion
      val stateRows = StreamingOps.progressFor(name)
        .filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      assert(stateRows.nonEmpty, "no stateful progress recorded")
      val peak = stateRows.max
      val fin = stateRows.last
      info(s"join state rows per batch: ${stateRows.mkString(" -> ")}")
      // the data wave buffers every click+purchase; the watermark must
      // then close ALL real rows — only the handful of sentinel flush
      // rows (above the final watermark) may remain buffered
      assert(peak > 100, s"peak state suspiciously small: $peak")
      assert(fin < peak / 10,
        s"state not evicted after watermark closure: final=$fin peak=$peak")
      assert(fin <= 8, s"more than the sentinel rows left in state: $fin")
    }
  }
}
