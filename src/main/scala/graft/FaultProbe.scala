package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Executor-loss fault injection on the durable-checkpoint path — the
  * round-15 probe that turns COVERAGE.md's single-JVM-mode CLASSIFICATION
  * ("`localCheckpoint` blocks die with a lost executor; set
  * `graft.checkpoint.dir` on real clusters") into a measured test.
  *
  * Runs under `local-cluster[2,2,4096]` (real executor JVMs forked as
  * child processes) and records four phases into `regime_boundary.json`
  * under the `fault_injection` key (the merge keeps the artifact's other
  * entries):
  *
  *  1. `durable_kill_all`: [[graft.ops.SparkOps.materialize]] with
  *     `graft.checkpoint.dir` set (reliable `checkpoint(eager=true)` to a
  *     shared directory), then EVERY executor killed (`destroyForcibly` on
  *     the CoarseGrainedExecutorBackend children), then the materialized
  *     frame consumed: the truncated lineage must recompute from the
  *     checkpoint FILES on replacement executors, bit-identical.
  *  2. `local_kill_all`: same frame via the default `localCheckpoint`
  *     path, every executor killed: blocks lived in the dead executors'
  *     storage and the truncated lineage is NOT recomputable — the
  *     documented EXPECTED failure (SparkException, checkpoint block not
  *     found). If Spark ever returns a result here the probe records the
  *     unexpected success loudly instead of asserting.
  *  3. `mine_kill_one`: the real mining path — `dedup_minhash_lsh` on a
  *     fresh session with `graft.checkpoint.dir` set, ONE executor killed
  *     the moment the first `rdd-*` checkpoint directory appears (i.e.
  *     mid-mine, after the first materialize); the faulted run's result
  *     must hash-equal an unfaulted baseline run (separate session, so the
  *     mine-once caches don't serve the baseline's frames to the faulted
  *     run).
  *  4. `stream_kill_one`: the 20-member streaming wave
  *     ([[graft.streaming.StreamingOps.familyResult]]) on a fresh session,
  *     ONE executor killed ~1 s after the wave's queries are all running;
  *     state reloads from the HDFS-backed store's checkpoint files on the
  *     replacement executor and every member must hash-equal the
  *     unfaulted baseline wave from a prior session.
  *
  * At 100 TB executor loss is routine, not exceptional — a 1000-executor
  * job sees preemptions and spot reclaims every few minutes; phases 1/3/4
  * are the recovery contract and phase 2 is why the durable flag exists.
  *
  * Usage (env shape as the r14 multi-JVM probe, COVERAGE.md round 14):
  * {{{
  * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  * SPARK_GRAFT_EXECUTOR_CLASSPATH=target/scala-2.13/classes \
  * runMain graft.FaultProbe [sfDir] [outPath]
  * }}}
  */
object FaultProbe {

  /** The forked CoarseGrainedExecutorBackend JVMs under this driver. */
  private def executorProcs(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator().asScala.filter { ph =>
      ph.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false)
    }.toSeq

  /** Kill `n` executors (all when n < 0); returns how many were killed. */
  private def killExecutors(n: Int): Int = {
    val procs = executorProcs()
    val victims = if (n < 0) procs else procs.take(n)
    victims.foreach(_.destroyForcibly())
    victims.foreach(p => p.onExit().join())
    victims.size
  }

  /** Block until the standalone master has re-launched executors and the
    * app again has `want` registered (statusTracker counts driver too). */
  private def awaitExecutors(spark: SparkSession, want: Int): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getExecutorInfos.length < want + 1
        && System.nanoTime() < deadline) Thread.sleep(200)
  }

  /** Order-independent canonical hash of a frame: per-row string images
    * sorted then digested (the driver-oracle convention, minus DuckDB). */
  private def canonHash(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outPath = args.lift(1).getOrElse("regime_boundary.json")
    val master = GraftSession.envMaster("local-cluster[2,2,4096]")
    require(master.startsWith("local-cluster"),
      s"FaultProbe needs real executor processes to kill; got master=$master")
    val ckptRoot = s"${System.getProperty("java.io.tmpdir")}/graft_fault_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptRoot))
    val spark = GraftSession.builder(master, 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    awaitExecutors(spark, 2)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def jstr(s: String): String =
      "\"" + s.map(c => if (c == '\\' || c == '"' || c < ' ') ' ' else c)
        .take(160) + "\""

    // A frame whose recompute-from-source answer is known and whose blocks
    // span both executors: per-orderkey revenue over lineitem, 8 partitions.
    def revenue(s: SparkSession): DataFrame = s.read
      .parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_orderkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .repartition(8)

    // ---- phase 1: durable checkpoint survives loss of EVERY executor
    try {
      val s1 = spark.newSession()
      s1.conf.set("graft.checkpoint.dir", s"$ckptRoot/p1")
      val expected = canonHash(revenue(s1))
      val m = graft.ops.SparkOps.materialize(revenue(s1))
      val killed = killExecutors(-1)
      val got = canonHash(m.toDF())
      awaitExecutors(spark, 2)
      results += "durable_kill_all" ->
        s"""{"killed": $killed, "recovered": ${got == expected}, "hash_expected": "$expected", "hash_got": "$got"}"""
      println(s"[fault] durable_kill_all: killed=$killed recovered=${got == expected}")
    } catch { case e: Throwable =>
      results += "durable_kill_all" ->
        s"""{"error": ${jstr(s"${e.getClass.getName}: ${e.getMessage}")}}"""
      awaitExecutors(spark, 2)
    }

    // ---- phase 2: localCheckpoint blocks die with the executors (the
    // documented failure the durable flag exists to prevent)
    try {
      val s2 = spark.newSession() // graft.checkpoint.dir unset => localCheckpoint
      val m = graft.ops.SparkOps.materialize(revenue(s2))
      val killed = killExecutors(-1)
      val outcome =
        try {
          val h = canonHash(m.toDF())
          s""""unexpected_success", "hash_got": "$h""""
        } catch {
          case e: Throwable =>
            s""""failed_as_expected", "exception": ${jstr(e.getClass.getName)}, "message": ${jstr(String.valueOf(e.getMessage))}"""
        }
      awaitExecutors(spark, 2)
      results += "local_kill_all" -> s"""{"killed": $killed, "outcome": $outcome}"""
      println(s"[fault] local_kill_all: killed=$killed outcome=$outcome")
    } catch { case e: Throwable =>
      results += "local_kill_all" ->
        s"""{"error": ${jstr(s"${e.getClass.getName}: ${e.getMessage}")}}"""
      awaitExecutors(spark, 2)
    }

    // ---- phase 3: kill ONE executor mid-mine on the durable path
    try {
      val mine = graft.queries.Catalog.queriesMap("dedup_minhash_lsh")
      val sBase = spark.newSession()
      sBase.conf.set("graft.checkpoint.dir", s"$ckptRoot/p3base")
      val baseline = canonHash(mine(sBase, sfDir))
      val sFault = spark.newSession()
      sFault.conf.set("graft.checkpoint.dir", s"$ckptRoot/p3fault")
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val killer = new Thread(() => {
        // fire the moment the first materialize lands checkpoint files
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        var seen = false
        while (!seen && System.nanoTime() < deadline) {
          val root = Paths.get(s"$ckptRoot/p3fault")
          seen = Files.exists(root) && {
            val s = Files.walk(root)
            try s.iterator().asScala.exists(_.getFileName.toString.startsWith("rdd-"))
            finally s.close()
          }
          if (!seen) Thread.sleep(50)
        }
        if (seen) { killExecutors(1); fired.set(true) }
      })
      killer.setDaemon(true)
      killer.start()
      val faulted = canonHash(mine(sFault, sfDir))
      killer.join(1000)
      awaitExecutors(spark, 2)
      results += "mine_kill_one" ->
        (s"""{"query": "dedup_minhash_lsh", "kill_fired": ${fired.get}, """ +
          s""""recovered": ${faulted == baseline}, "hash_baseline": "$baseline", "hash_faulted": "$faulted"}""")
      println(s"[fault] mine_kill_one: fired=${fired.get} recovered=${faulted == baseline}")
    } catch { case e: Throwable =>
      results += "mine_kill_one" ->
        s"""{"error": ${jstr(s"${e.getClass.getName}: ${e.getMessage}")}}"""
      awaitExecutors(spark, 2)
    }

    // ---- phase 4: kill ONE executor mid-streaming-wave; state reloads
    // from the store's checkpoint files on the replacement executor
    try {
      val members = graft.streaming.StreamingOps.familyMemberNames
      val sBase = spark.newSession()
      val baseHash = members.map(m => m ->
        canonHash(graft.streaming.StreamingOps.familyResult(sBase, sfDir, m))).toMap
      val sFault = spark.newSession()
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val killer = new Thread(() => {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (sFault.streams.active.length < 8 && System.nanoTime() < deadline)
          Thread.sleep(100)
        if (sFault.streams.active.length >= 8) {
          Thread.sleep(1000) // let micro-batches get in flight
          killExecutors(1)
          fired.set(true)
        }
      })
      killer.setDaemon(true)
      killer.start()
      val faultHash = members.map(m => m ->
        canonHash(graft.streaming.StreamingOps.familyResult(sFault, sfDir, m))).toMap
      killer.join(1000)
      awaitExecutors(spark, 2)
      val mismatched = members.filter(m => baseHash(m) != faultHash(m))
      results += "stream_kill_one" ->
        (s"""{"members_n": ${members.size}, "kill_fired": ${fired.get}, """ +
          s""""recovered": ${mismatched.isEmpty}, "mismatched": ${
            mismatched.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
      println(s"[fault] stream_kill_one: fired=${fired.get} mismatched=$mismatched")
    } catch { case e: Throwable =>
      results += "stream_kill_one" ->
        s"""{"error": ${jstr(s"${e.getClass.getName}: ${e.getMessage}")}}"""
    }

    // ---- merge the fault_injection key into the regime artifact
    // (read-modify-write: every other top-level key is kept as is)
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (Files.exists(Paths.get(outPath))) try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val tree = mapper.readTree(Files.readString(Paths.get(outPath)))
      val it = tree.fields()
      while (it.hasNext) { val e = it.next(); merged += e.getKey -> e.getValue.toString }
    } catch { case _: Throwable => () }
    merged += "fault_injection" ->
      (results.map { case (k, v) => s""""$k": $v""" }
        .mkString(s"""{"master": "$master", "sf": "$sfDir", """, ", ", "}"))
    Files.writeString(Paths.get(outPath),
      merged.map { case (k, v) => s""""$k": $v""" }.mkString("{\n", ",\n", "\n}\n"))
    println(s"[fault] merged fault_injection into $outPath")
    spark.stop()
  }
}
