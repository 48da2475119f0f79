package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Fences on the concurrent wave runner itself (the graded family's
  * execution path): wave results must be row-identical to standalone
  * runs of the same jobs, and a member dying mid-replay must fail the
  * wave loudly — never surface as a silently truncated memory table.
  */
class WaveSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(8)
    .appName("graft-wave-test")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty && a.count() == b.count()

  test("wave results are row-identical to standalone runs (memoized family path)") {
    // familyResult drives the WHOLE wave once; each standalone call runs
    // its job as a solo stream. Any cross-query interference in the wave
    // (conf capture, shared staging, progress bookkeeping) would break
    // this equality on some member — compare one member per conf shape:
    // complete-mode agg, noData-dependent append (tumbling uniques),
    // flush-wave staged outer join, and the RocksDB-backed TWS job.
    val pairs = Seq(
      "stream_tumbling_agg" -> (() => StreamingOps.tumblingAgg(spark, dir)),
      "stream_tumbling_uniques" -> (() => StreamingOps.tumblingUniques(spark, dir)),
      "stream_stream_left_join" -> (() => StreamingOps.streamStreamLeftJoin(spark, dir)),
      "stream_transform_with_state" ->
        (() => StreamingOps.statefulUserTotalsTws(spark, dir, alertCents = 250000L)))
    for ((name, solo) <- pairs) {
      val wave = StreamingOps.familyResult(spark, dir, name)
      assert(sameRows(wave, solo()), s"wave vs standalone divergence for $name")
    }
  }

  test("a failing wave member fails the wave (no silent truncation)") {
    val boom = StreamingOps.StreamJob(
      "wave_spec_boom", "append",
      build = (s, d) => {
        import org.apache.spark.sql.functions._
        // fails at runtime inside the micro-batch (user ids are >= 0),
        // not at analysis time
        StreamingOps.replayEvents(s, d)
          .select(assert_true(col("user_id") < lit(0L)).as("y"))
      })
    val ok = StreamingOps.StreamJob(
      "wave_spec_ok", "complete",
      build = (s, d) => {
        import org.apache.spark.sql.functions._
        StreamingOps.replayEvents(s, d).groupBy("event_type").count()
      })
    val err = intercept[RuntimeException] {
      StreamingOps.runJobs(spark, dir, Seq(ok, boom))
    }
    assert(err.getMessage.contains("wave_spec_boom"),
      s"failure did not name the dead job: ${err.getMessage}")
  }

  test("a failed start stops the wave before the next conf group starts") {
    val laterBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
    val dead = StreamingOps.StreamJob(
      "wave_spec_dead_start", "append",
      build = (_, _) => throw new IllegalStateException("source unavailable"))
    // A different conf group (noData batches on) that appears after the
    // dead member: its build must never run once a start has failed.
    val later = StreamingOps.StreamJob(
      "wave_spec_later_group", "complete",
      build = (s, d) => {
        laterBuilds.incrementAndGet()
        StreamingOps.replayEvents(s, d).groupBy("event_type").count()
      },
      needsNoDataBatches = true)
    val err = intercept[RuntimeException] {
      StreamingOps.runJobs(spark, dir, Seq(dead, later))
    }
    assert(err.getMessage.contains("wave_spec_dead_start"),
      s"failure did not name the dead job: ${err.getMessage}")
    assert(laterBuilds.get() == 0, "a later conf group started after a failed start")
  }
}
