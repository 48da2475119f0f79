package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The production state-store backend: at 100 TB / firehose scale the
  * default HDFS-backed provider keeps every key's state on the executor
  * HEAP (state size is bounded by executor memory — a dealbreaker for
  * high-cardinality keyed state), while RocksDB spills to local SSD and
  * bounds only the working set. Spark ships the provider; switching is one
  * conf. This spec pins the contract the streaming operators rely on:
  * every stateful shape we run (windowed agg, dropDuplicates state,
  * flatMapGroupsWithState custom state) produces IDENTICAL results on
  * RocksDB — so a deployment can flip the conf without re-validating
  * semantics.
  */
class RocksDbStateSpec extends AnyFunSuite {

  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-rocksdb-state-test")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** Run `q` under the RocksDB provider, restoring the default after. */
  private def withRocksDb[A](f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rocksProvider)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("windowed aggregation state is backend-identical (tumbling agg)") {
    val default = rows(StreamingOps.tumblingAgg(spark, dir))
    val rocks = withRocksDb(rows(StreamingOps.tumblingAgg(spark, dir)))
    assert(rocks == default)
    assert(rocks.nonEmpty)
  }

  test("dropDuplicates keyed state is backend-identical (stream dedup)") {
    val default = rows(StreamingOps.streamDedup(spark, dir))
    val rocks = withRocksDb(rows(StreamingOps.streamDedup(spark, dir)))
    assert(rocks == default)
    assert(rocks.nonEmpty)
  }

  test("flatMapGroupsWithState custom state is backend-identical (session timeout)") {
    val default = rows(StreamingOps.sessionTimeoutAgg(spark, dir))
    val rocks = withRocksDb(rows(StreamingOps.sessionTimeoutAgg(spark, dir)))
    assert(rocks == default)
    assert(rocks.nonEmpty)
  }
}
