package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adaptive Query Execution is the runtime half of the 100 TB posture:
  * static plans are built from estimates, and at scale the estimates are
  * wrong exactly when it hurts (post-filter sizes, skewed keys). These
  * tests pin that the two AQE re-plans the operator library relies on
  * actually fire on this engine build — a conf regression or a plan shape
  * that defeats AQE (e.g. a user-visible repartition between join and
  * sink) would flip them.
  *
  * Thresholds are scaled down to test-data sizes; the MECHANISM asserted
  * (runtime stats overriding the static choice) is size-independent.
  */
class AqeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-aqe-test")
    .getOrCreate()

  /** Set confs, run, restore. */
  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE converts a statically-planned SortMergeJoin to broadcast at runtime") {
    // Static estimate: both sides "large" (static broadcast disabled), so
    // the initial plan is SMJ. Runtime: the filtered side's shuffle output
    // is tiny, so AQE re-plans the join as broadcast-hash. At 100 TB this
    // is the fact ⋈ post-filter-tiny-dim case where the filter selectivity
    // is only known at runtime.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB") {
      val s = spark
      import s.implicits._
      val big = s.range(0, 50000).select(col("id").as("k"), (col("id") % 7).as("v"))
      val small = s.range(0, 50000).select(col("id").as("k"))
        .filter(col("k") % 1000 === 0) // 50 rows survive, unknown statically
      val joined = big.join(small, "k").groupBy().agg(sum("v").as("s"))
      val before = joined.queryExecution.executedPlan.toString
      assert(before.contains("SortMergeJoin"),
        s"setup broken: static plan should be SMJ:\n$before")
      joined.collect()
      val after = joined.queryExecution.executedPlan.toString
      assert(after.contains("BroadcastHashJoin"),
        s"AQE did not convert the join to broadcast at runtime:\n$after")
    }
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    // One key carries ~half the left side; with 4 shuffle partitions its
    // partition dwarfs the median. Thresholds are lowered so the test-size
    // skew crosses them; at cluster scale the defaults (256 MB) play the
    // same role. The skew-salted manual pattern (join_skew_salted) remains
    // for engines/joins AQE can't split — this pins that the automatic
    // path works when available.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val s = spark
      import s.implicits._
      // The payload must survive column pruning (it feeds the aggregate) —
      // otherwise the skewed partition is 8 bytes/row and never crosses
      // the size threshold.
      val skewed = s.range(0, 200000)
        .select(when(col("id") % 2 === 0, lit(0L)).otherwise(col("id")).as("k"),
          concat(lit("payload_payload_payload_"), col("id")).as("pay"))
      val right = s.range(0, 200000).select(col("id").as("k"), (col("id") % 13).as("w"))
      val joined = skewed.join(right, "k")
        .groupBy().agg(count(lit(1)).as("n"), sum(length(col("pay"))).as("b"))
      joined.collect()
      val after = joined.queryExecution.executedPlan.toString
      assert(after.contains("skew=true"),
        s"AQE skew-join split did not fire:\n$after")
    }
  }

  test("AQE skew interplay with the salted operators: join yes (free-standing), aggregation no") {
    // The round-15 adjudication of WHY the engine ships explicit salting
    // (agg_skew_salted, join_skew_salted / SparkOps.saltedEquiJoin) when
    // Spark 4 AQE has automatic skew-join splitting. Measured here, at the
    // graded shapes with the thresholds scaled to test size (the mechanism
    // is size-independent — the same rules fire at 10x/100x with the
    // default 256 MB thresholds):
    //
    //  1. A free-standing skewed equi-join (join_skew_salted's lineitem ⋈
    //     orders shape, hot orderkey, aggregate on a NON-join column
    //     afterwards → exchange after the join anyway): AQE splits it
    //     (skew=true) — automatic handling IS the first line here, and the
    //     plain join would be fine at 10x. saltedEquiJoin remains for the
    //     shapes below and for sinks that must bound per-task output size
    //     deterministically (a split decision made at runtime from size
    //     stats is not a guarantee; the salt is).
    //  2. The SAME join feeding a groupBy on the JOIN KEY (the join's hash
    //     partitioning would be reused by the aggregate): AQE declines the
    //     split — splitting a skewed partition duplicates the hot key
    //     across tasks, which would break the downstream requirement
    //     unless an EXTRA shuffle is inserted, and by default
    //     spark.sql.adaptive.forceOptimizeSkewedJoin=false says never add
    //     one. No skew=true in the final plan; the hot key still lands on
    //     one reducer. This join→agg-on-key pipeline is exactly where the
    //     explicit salt still earns its place at 100 TB.
    //  3. Aggregation skew (agg_skew_salted's shape): AQE has NO skewed-
    //     aggregate splitter at all (OptimizeSkewedJoin matches joins;
    //     OptimizeSkewInRebalancePartitions matches only REBALANCE hints).
    //     Partial (map-side) aggregation absorbs skew for collapsible
    //     aggregates like sum/count, but any per-key expansion that
    //     partial agg can't collapse (collect_list, exact distinct) keeps
    //     the hot key whole on one task — the salt is the only spread.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val s = spark
      // ~half the fact rows share orderkey 0 (the hot order); payload wide
      // enough that the hot partition crosses the scaled-down threshold.
      val fact = s.range(0, 200000)
        .select(when(col("id") % 2 === 0, lit(0L)).otherwise(col("id")).as("l_orderkey"),
          (col("id") % 5).as("prio_k"),
          concat(lit("payload_payload_payload_"), col("id")).as("pay"))
      val dim = s.range(0, 200000)
        .select(col("id").as("o_orderkey"), (col("id") % 5).as("o_prio"))

      // shape 1: join then aggregate on a non-join column (exchange after
      // the join regardless) — AQE splits the skewed join partition
      val free = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_prio")).agg(sum(length(col("pay"))).as("b"))
      free.collect()
      val freePlan = free.queryExecution.executedPlan.toString
      assert(freePlan.contains("skew=true"),
        s"free-standing skewed join should be AQE-split:\n$freePlan")

      // shape 2: join then aggregate ON the join key — the split would
      // break the reused partitioning, so AQE declines it by default
      val keyed = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(sum(length(col("pay"))).as("b"))
      keyed.collect()
      val keyedPlan = keyed.queryExecution.executedPlan.toString
      assert(!keyedPlan.contains("skew=true"),
        s"join feeding agg-on-join-key was expected to DEFEAT the AQE skew split " +
          s"(forceOptimizeSkewedJoin=false):\n$keyedPlan")

      // shape 3: skewed aggregation — no AQE rewrite exists for it
      val agg = fact.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), sum(length(col("pay"))).as("b"))
      agg.collect()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("skew=true"),
        s"no skewed-aggregate splitter should exist:\n$aggPlan")
    }
  }
}
