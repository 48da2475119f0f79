package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core._
import graft.ops.{DedupOps, SparkOps, TextOps}
import graft.queries._

/** One benchmark run in its own JVM: start a session, run its first Spark
  * job, then run timed passes of the workload until the time budget is
  * spent (at least one). Every pass uses a fresh session and starts with
  * every in-memory graft cache empty.
  *
  * The timed action of a query is its full graded result written to the
  * `noop` sink. An `observe` on that write computes the row count and an
  * order-insensitive digest in the same pass over the result; they are
  * compared with the reference after the clock stops.
  *
  * With `--trace 1` every pass registers Spark, SQL and streaming
  * listeners and records spans; after the passes each layer probe runs
  * once in a fresh session.
  *
  * Usage: GraftBench <workload> <dataDir> <runDir> <seconds> <trace 0|1>
  *          <refs.json> <out.json>
  *        GraftBench setup <runDir> <out.json>
  *
  * The second form only sets up (session start and first Spark job) and
  * exits; it gives the harness more samples of the set-up time.
  */
object GraftBench {

  final case class Q(name: String, run: SparkSession => DataFrame)

  /** The workloads; why each one exists is in perfbench/WORKLOADS.md. */
  def workload(name: String, dir: String): Seq[Q] = {
    val byName = Catalog.all.map(q => q.name -> q).toMap
    def graded(names: Seq[String]): Seq[Q] =
      names.map(byName).map(q => Q(q.name, s => q.run(s, dir)))
    name match {
      case "warehouse_stream" =>
        graded(WarehouseQueries.queries.map(_.name).filter(_.startsWith("tpch_")) ++
          Seq("fanout_load", "zorder_layout", "write_parquet", "ext_sql_topk")) ++
          Seq(Q("quickstart_warehouse_report", s =>
            graft.examples.Quickstart.warehouseReport(s, dir).result)) ++
          graded(StreamingQueries.queries.map(_.name))
      case "dedup_mining" =>
        graded(Seq("dedup_ngram_jaccard", "dedup_clusters", "dedup_keep_best",
          "dedup_minhash_lsh", "dedup_decontaminate", "dedup_simhash",
          "dedup_embedding_cosine", "similarity_lsh_topk")) :+
          Q("quickstart_curate", s =>
            graft.examples.Quickstart.curate(s, dir, s"${System.getProperty("java.io.tmpdir")}/quickstart_out").result)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  // ------------------------------------------------------------ digests

  /** Row hash that accepts every result type: map columns go through
    * `to_json`, which `xxhash64` cannot hash directly.
    */
  private def rowHash(df: DataFrame): Column = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case ArrayType(e, _) => hasMap(e)
      case StructType(fs) => fs.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    xxhash64(lit("perfbench") +: cols: _*)
  }

  /** Writes the full result to `noop`; returns "rows:lo:hi" where lo and hi
    * are the sums of the low and high 32 bits of every row hash.
    */
  def writeNoop(df: DataFrame): String = {
    val obs = Observation("perfbench_digest")
    val h = rowHash(df)
    df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("n")}:${m("lo")}:${m("hi")}"
  }

  // ------------------------------------------------------------- spans

  final case class Span(id: Int, parent: Int, name: String, kind: String,
      startUs: Long, endUs: Long, attrs: Map[String, String] = Map.empty)

  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  final class Tracer {
    val spans = new ConcurrentLinkedQueue[Span]()
    private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
    def nextId(): Int = ids.incrementAndGet()
    def add(s: Span): Unit = spans.add(s)
    def timed[T](parent: Int, name: String, kind: String)(f: => T): T = {
      val id = nextId()
      val t0 = nowUs()
      try f finally add(Span(id, parent, name, kind, t0, nowUs()))
    }
  }

  // ---------------------------------------------------------- listeners

  final case class JobRec(id: Int, startMs: Long, tag: Option[String],
      var endMs: Long = -1L)
  final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, shWrite: Long, shRead: Long, spill: Long, outBytes: Long)

  final class SparkProbe extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    val stageTasks = new ConcurrentLinkedQueue[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, tag))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTasks.add(e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
    def settled: Boolean = jobs.values().asScala.forall(_.endMs >= 0)
  }

  final class SqlProbe extends QueryExecutionListener {
    val planMs = new java.util.concurrent.atomic.AtomicLong(0)
    val topK = new java.util.concurrent.atomic.AtomicLong(0)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      topK.addAndGet("FinalTopK".r.findAllMatchIn(qe.executedPlan.treeString).size)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  final case class Progress(query: String, triggerMs: Long, inputRows: Long,
      addBatchMs: Long, planningMs: Long, walMs: Long, stateRows: Long,
      stateCommitMs: Long, stateMem: Long)

  final class StreamProbe extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      progress.add(Progress(p.id.toString, d("triggerExecution"), p.numInputRows,
        d("addBatch"), d("queryPlanning"), d("walCommit") + d("commitOffsets"),
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
        ops.map(_.memoryUsedBytes).sum))
    }
  }

  val TagKey = "perfbench.span"

  // ---------------------------------------------------------------- JVM

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Sum of the heap pools' peak use since their last reset. The pools peak
    * at different moments, so this bounds the heap's peak from above.
    */
  private def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  // ------------------------------------------------------------- passes

  final case class QueryRes(name: String, span: Int, buildS: Double, actionS: Double,
      startUs: Long, endUs: Long, digest: String, ok: Boolean, error: String)
  final case class PassRes(wallS: Double, cpuS: Double,
      gcS: Double, peakHeapMb: Double, heapAfterGcMb: Double,
      queries: Seq[QueryRes], layer: Map[String, Double])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1 max 0))
  }

  private def json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Session start and the first Spark job of the process: the set-up.
    * Returns the session, the epoch ms it was ready at and the warm-up time.
    */
  private def setUp(name: String, runDir: String, cores: Int): (SparkSession, Long, Double) = {
    val root = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    root.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val w0 = System.nanoTime()
    warmUp(root)
    (root, readyMs, (System.nanoTime() - w0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    if (args(0) == "setup") {
      val Array(_, runDir, outPath) = args
      val (root, readyMs, warmupS) = setUp("setup", runDir, cores)
      json.writeValue(new java.io.File(outPath),
        Map[String, Any]("session_ready_ms" -> readyMs, "warmup_s" -> warmupS).asJava)
      root.stop()
      return
    }
    val Array(wl, dir, runDir, secondsS, traceS, refsPath, outPath) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val tmp = System.getProperty("java.io.tmpdir")
    // Set-up ends with the first Spark job of the process. Everything else
    // a query needs - JIT of its own code paths, table schemas, the
    // streaming engine, the on-disk stream stagings under java.io.tmpdir,
    // the mining memos - is paid inside the timed pass, as in any fresh
    // driver process.
    val (root, sessionReadyMs, warmupS) = setUp(wl, runDir, cores)
    val refs = readRefs(refsPath, wl)
    val queries = workload(wl, dir)

    def freshSession(): SparkSession = {
      val s = root.newSession()
      SparkSession.setActiveSession(s)
      SparkSession.setDefaultSession(s)
      s
    }
    def release(s: SparkSession): Unit = {
      DedupOps.clearCaches(s)
      root.catalog.clearCache()
      System.gc()
    }

    val tracer = new Tracer
    val wlSpan = tracer.nextId()
    val wlStart = nowUs()

    def runPass(traced: Boolean, passNo: Int): PassRes = {
      val s = freshSession()
      val sc = s.sparkContext
      val sparkP = new SparkProbe
      val sqlP = new SqlProbe
      val streamP = new StreamProbe
      val passSpan = tracer.nextId()
      if (traced) {
        sc.addSparkListener(sparkP)
        s.listenerManager.register(sqlP)
        s.streams.addListener(streamP)
      }
      heapPools.foreach(_.resetPeakUsage())
      val cpu0 = cpuNs
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val passStartUs = nowUs()
      val phases = mutable.ArrayBuffer.empty[Span]
      val results = queries.map { q =>
        val qStart = nowUs()
        val qSpan = tracer.nextId()
        if (traced) sc.setLocalProperty(TagKey, qSpan.toString)
        var buildS = 0.0
        var actionS = 0.0
        val res = try {
          val b0 = System.nanoTime()
          val bStart = nowUs()
          val df = q.run(s)
          buildS = (System.nanoTime() - b0) / 1e9
          val aStart = nowUs()
          val a0 = System.nanoTime()
          val digest = writeNoop(df)
          actionS = (System.nanoTime() - a0) / 1e9
          if (traced) phases ++= Seq(
            Span(tracer.nextId(), qSpan, "build", "build", bStart, aStart),
            Span(tracer.nextId(), qSpan, "action", "action", aStart, nowUs()))
          val ok = refs.get(q.name).contains(digest)
          QueryRes(q.name, qSpan, buildS, actionS, qStart, nowUs(), digest, ok,
            if (ok) "" else s"digest $digest != reference ${refs.getOrElse(q.name, "<none>")}")
        } catch {
          case e: Throwable =>
            QueryRes(q.name, qSpan, buildS, actionS, qStart, nowUs(), "", ok = false,
              s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        if (traced) {
          sc.setLocalProperty(TagKey, null)
          tracer.add(Span(qSpan, passSpan, q.name, "query", qStart, res.endUs))
        }
        res
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpuNs - cpu0) / 1e9
      val gcS = (gcMs - gc0) / 1e3
      val peak = heapPeakMb
      val layer =
        if (traced) layerMetrics(s, sparkP, sqlP, streamP, results, wallS, cpuS, cores, dir)
        else Map.empty[String, Double]
      val waveS = graft.streaming.StreamingOps.familyWaveWall(s, dir)
      if (traced) {
        sc.removeSparkListener(sparkP)
        s.listenerManager.unregister(sqlP)
        s.streams.removeListener(streamP)
        tracer.add(Span(passSpan, wlSpan, s"pass$passNo", "pass", passStartUs, nowUs()))
        phases.foreach(tracer.add)
        // The wave runs inside the first family member's build.
        val members = graft.streaming.StreamingOps.familyMemberNames.toSet
        for (w <- waveS; first <- results.find(r => members.contains(r.name)))
          tracer.add(Span(tracer.nextId(), first.span, "stream_wave", "wave",
            first.startUs, first.startUs + (w * 1e6).toLong))
        // A job hangs under the build or action span that holds its start,
        // else under its query, else under the pass; none is dropped.
        sparkP.jobs.values().asScala.foreach { j =>
          val at = jobAtUs(j)
          val parent = phases.find(p => at >= p.startUs && at <= p.endUs).map(_.id)
            .orElse(results.find(r => at >= r.startUs && at <= r.endUs).map(_.span))
            .getOrElse(passSpan)
          tracer.add(Span(tracer.nextId(), parent, s"job${j.id}", "spark_job",
            j.startMs * 1000, math.max(j.endMs, j.startMs) * 1000,
            j.tag.map(t => Map("tag" -> t)).getOrElse(Map.empty)))
        }
      }
      val heapAfterGc = heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
      release(s)
      PassRes(wallS, cpuS, gcS, peak, heapAfterGc, results, layer)
    }

    val passes = mutable.ArrayBuffer.empty[PassRes]
    val m0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - m0) / 1e9 < seconds)
      passes += runPass(traced = trace, passes.size + 1)

    val probes: Map[String, Double] =
      if (trace) layerProbes(freshSession _, release, dir, tmp, tracer, wlSpan)
      else Map.empty
    tracer.add(Span(wlSpan, 0, wl, "workload", wlStart, nowUs()))

    val endToEnd = Map(
      "wall_s" -> median(passes.map(_.wallS).toSeq),
      "cpu_s" -> median(passes.map(_.cpuS).toSeq))
    val layer: Map[String, Double] = if (!trace) Map.empty else {
      val keys = passes.flatMap(_.layer.keys).distinct
      keys.map(k => k -> median(passes.map(_.layer.getOrElse(k, 0.0)).toSeq)).toMap ++ Map(
        "jvm.gc_s" -> median(passes.map(_.gcS).toSeq),
        "jvm.heap_after_gc_mb" -> median(passes.map(_.heapAfterGcMb).toSeq),
        "peak_heap_mb" -> median(passes.map(_.peakHeapMb).toSeq)
      ) ++ probes
    }

    val all = passes.toSeq
    val byQuery = all.flatMap(_.queries).groupBy(_.name)
    val result = Map(
      "session_ready_ms" -> sessionReadyMs,
      "warmup_s" -> warmupS,
      "passes" -> all.size,
      "attempted" -> all.map(_.queries.size).sum,
      "failed" -> all.map(_.queries.count(!_.ok)).sum,
      "failures" -> all.flatMap(_.queries.filterNot(_.ok))
        .map(r => s"${r.name}: ${r.error}").distinct.asJava,
      "end_to_end" -> endToEnd.asJava,
      "per_layer" -> layer.asJava,
      "pass_walls" -> all.map(_.wallS).asJava,
      "digests" -> byQuery.map { case (k, rs) =>
        k -> rs.map(_.digest).filter(_.nonEmpty).distinct.asJava }.asJava,
      "query_walls" -> byQuery.map { case (k, rs) =>
        k -> median(rs.map(r => r.buildS + r.actionS)) }.asJava)
    json.writeValue(new java.io.File(outPath), result.asJava)
    if (trace) writeSpans(tracer, s"$outPath.spans.jsonl", s"$wl-${ProcessHandle.current().pid()}")
    root.stop()
  }

  /** The first Spark job of the process. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id) s").collect()

  private def readRefs(path: String, wl: String): Map[String, String] = {
    val node = json.readTree(new java.io.File(path)).path(wl)
    node.fieldNames().asScala.map(k => k -> node.get(k).asText()).toMap
  }

  /** One JSON line per span, with its self time: its duration minus the
    * part of its interval that its children cover.
    */
  private def writeSpans(t: Tracer, path: String, runId: String): Unit = {
    val spans = t.spans.asScala.toSeq.sortBy(_.startUs)
    val children = spans.groupBy(_.parent)
    val sb = new StringBuilder
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      val selfUs = s.endUs - s.startUs - covered(kids, s.startUs, s.endUs)
      val attrs = s.attrs.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      sb ++= s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""kind":"${s.kind}","start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""self_us":$selfUs,"attrs":$attrs}""" + "\n"
    }
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  // --------------------------------------------------- per-layer numbers

  /** Listener times have millisecond resolution: place a job mid-millisecond. */
  private def jobAtUs(j: JobRec): Long = j.startMs * 1000 + 500

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: (Long, Long) = null
    c.foreach { iv =>
      if (cur == null) cur = iv
      else if (iv._1 <= cur._2) cur = (cur._1, math.max(cur._2, iv._2))
      else { total += cur._2 - cur._1; cur = iv }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  private def layerMetrics(s: SparkSession, sp: SparkProbe, qp: SqlProbe,
      st: StreamProbe, qs: Seq[QueryRes], wallS: Double, cpuS: Double,
      cores: Int, dir: String): Map[String, Double] = {
    // Listener events arrive asynchronously; wait until every started job
    // has ended and the queues stop growing.
    var last = -1
    val deadline = System.nanoTime() + 5e9.toLong
    while ((!sp.settled || last != sp.tasks.size) && System.nanoTime() < deadline) {
      last = sp.tasks.size
      Thread.sleep(100)
    }
    val jobs = sp.jobs.values().asScala.toSeq
    val tasks = sp.tasks.asScala.toSeq
    val mb = 1048576.0
    // A job belongs to the query whose interval holds its start: pooled
    // futures (`&>`, the stream wave) may carry a stale tag or none.
    val byQuery = qs.map { q =>
      q -> jobs.filter { j => val at = jobAtUs(j); at >= q.startUs && at <= q.endUs }
    }
    val attributed = byQuery.flatMap(_._2.map(_.id)).toSet
    val driverOnly = byQuery.map { case (q, qj) =>
      val lo = q.startUs / 1000; val hi = q.endUs / 1000
      (hi - lo - covered(qj.map(j => (j.startMs, if (j.endMs < 0) hi else j.endMs)), lo, hi)) / 1e3
    }.sum
    val byStage = tasks.groupBy(_.stage)
    val skew = byStage.values.filter(_.size >= 2).map { ts =>
      val med = median(ts.map(_.runMs.toDouble))
      if (med <= 0) 1.0 else ts.map(_.runMs).max / med
    }
    val stageTasks = sp.stageTasks.asScala.toSeq
    val taskCpuS = tasks.map(_.cpuNs).sum / 1e9
    val prog = st.progress.asScala.toSeq
    val waveS = graft.streaming.StreamingOps.familyWaveWall(s, dir)
    val members = graft.streaming.StreamingOps.familyMemberNames.toSet
    val memoRead = if (waveS.isEmpty) 0.0 else
      qs.filter(q => members.contains(q.name)).drop(1).map(q => q.buildS + q.actionS).sum
    val perQuery = prog.groupBy(_.query).values
    val inputRows = prog.map(_.inputRows).sum.toDouble
    val cacheMb = s.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => max - rem }.sum / mb
    Map(
      "queries.build_s" -> qs.map(_.buildS).sum,
      "queries.action_s" -> qs.map(_.actionS).sum,
      "queries.driver_only_s" -> driverOnly,
      "spark.plan_s" -> qp.planMs.get / 1e3,
      "plans.topk_execs" -> qp.topK.get.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.jobs_unattributed" -> jobs.count(j => !attributed.contains(j.id)).toDouble,
      "spark.jobs_tag_mismatch" -> byQuery.map { case (q, qj) =>
        qj.count(!_.tag.contains(q.span.toString)) }.sum.toDouble,
      "spark.stages" -> stageTasks.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> taskCpuS,
      "spark.task_gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.cpu_util" -> taskCpuS / (wallS * cores),
      "spark.scan_mb" -> tasks.map(_.inBytes).sum / mb,
      "spark.shuffle_write_mb" -> tasks.map(_.shWrite).sum / mb,
      "spark.shuffle_read_mb" -> tasks.map(_.shRead).sum / mb,
      "spark.spill_mb" -> tasks.map(_.spill).sum / mb,
      "spark.write_mb" -> tasks.map(_.outBytes).sum / mb,
      "spark.single_task_stages" -> stageTasks.count(_ == 1).toDouble,
      "spark.max_task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.cache_mb" -> cacheMb,
      "streaming.wave_s" -> waveS.getOrElse(0.0),
      "streaming.memo_read_s" -> memoRead,
      "streaming.batches" -> prog.size.toDouble,
      "streaming.input_rows" -> inputRows,
      "streaming.add_batch_ms" -> prog.map(_.addBatchMs).sum.toDouble,
      "streaming.query_planning_ms" -> prog.map(_.planningMs).sum.toDouble,
      "streaming.wal_commit_ms" -> prog.map(_.walMs).sum.toDouble,
      "streaming.state_rows" -> perQuery.map(_.map(_.stateRows).max).sum.toDouble,
      "streaming.state_commit_ms" -> prog.map(_.stateCommitMs).sum.toDouble,
      "streaming.state_mem_mb" -> perQuery.map(_.map(_.stateMem).max).sum / mb,
      "stream_rows_per_s" -> waveS.filter(_ > 0).map(inputRows / _).getOrElse(0.0),
      "stream_batch_p50_ms" -> median(prog.map(_.triggerMs.toDouble)),
      "stream_batch_p90_ms" -> pct(prog.map(_.triggerMs.toDouble), 0.9))
  }

  /** Each probe is one direct call into a graft module plus one action,
    * in a fresh session so no mining cache is warm.
    */
  private def layerProbes(fresh: () => SparkSession, release: SparkSession => Unit,
      dir: String, tmp: String, tracer: Tracer, parent: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def probe(name: String)(f: SparkSession => Unit): Unit = {
      val s = fresh()
      val t0 = System.nanoTime()
      tracer.timed(parent, name, "probe")(f(s))
      out(name) = (System.nanoTime() - t0) / 1e9
      release(s)
    }
    def docs(s: SparkSession) = Tables.read(s, dir, "documents").select("doc_id", "text")
    probe("ops.minhash_lsh_s")(s => writeNoop(DedupOps.minhashLsh(docs(s), threshold = 0.8)))
    probe("ops.containment_best_s")(s => writeNoop(DedupOps.containmentBest(docs(s),
      col("doc_id") % 10 === 0, col("doc_id") % 10 =!= 0, threshold = 0.9)))
    probe("ops.quality_score_s")(s => writeNoop(TextOps.qualityScore(docs(s))))
    probe("ops.lang_id_s")(s => writeNoop(TextOps.langId(docs(s))))
    probe("ops.write_parquet_s")(s =>
      SparkOps.writeParquet(s"$tmp/perfbench_probe_write").unsafeRun(docs(s)))

    // Kernel inputs are cached first, and repeated 50 times, so each probe
    // times one function over one column rather than the scan, the
    // tokenization and the job start-up around it.
    val s = fresh()
    val reps = s.range(50).toDF("rep")
    val text = docs(s).crossJoin(reps).select("text").cache()
    val toks = text.selectExpr("ws_distinct_tokens(text) AS toks").cache()
    val sigs = toks.selectExpr("array_sort(minhash_sig(toks, 64)) AS sig").cache()
    val vecs = Tables.read(s, dir, "embeddings").crossJoin(reps).select("embedding").cache()
    Seq(text, toks, sigs, vecs).foreach(_.count())
    def kernel(name: String, df: DataFrame, e: String): Unit = {
      val t0 = System.nanoTime()
      tracer.timed(parent, name, "probe")(writeNoop(df.selectExpr(s"$e AS r")))
      out(name) = (System.nanoTime() - t0) / 1e9
    }
    kernel("functions.ws_distinct_tokens_s", text, "ws_distinct_tokens(text)")
    kernel("functions.minhash_sig_s", toks, "minhash_sig(toks, 64)")
    kernel("functions.simhash64_s", toks, "simhash64(toks)")
    kernel("functions.srp_bands_s", vecs, "srp_bands(embedding, 8, 8)")
    kernel("functions.cosine_sim_s", vecs, "cosine_sim(embedding, embedding)")
    kernel("functions.sorted_intersect_count_s", sigs, "sorted_intersect_count(sig, sig)")
    release(s)

    // The algebra itself: a 1,000-node ~> chain over an Int, both ways of
    // running it JIT-warmed before either is timed.
    val chain = Seq.fill(1000)(Node[Int, Int](_ + 1)).reduce(_ ~> _)
    def runPlain(): Unit = chain.unsafeRun(0)
    def runTraced(): Unit = chain.unsafeRunTrace(0)
    (1 to 3000).foreach { _ => runPlain(); runTraced() }
    def perNodeUs(f: () => Unit): Double = median((1 to 300).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e3 / 1000
    })
    out("core.run_us_per_node") = perNodeUs(runPlain _)
    out("core.trace_us_per_node") = perNodeUs(runTraced _)
    out.toMap
  }
}
