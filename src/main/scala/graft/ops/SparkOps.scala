package graft.ops

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Environment threaded through Spark pipelines via the Reader layer:
  * the live session plus the dataset directory (one parquet per table).
  */
final case class SparkEnv(spark: SparkSession, dir: String)

/** Prebuilt, composable pipeline nodes over `org.apache.spark.sql`.
  *
  * These realize the capability layer of SURVEY.md §2.2: each factory
  * returns a [[graft.core.Node]] (or config-dependent Reader of one) whose
  * payload is a DataFrame, so ETL graphs compose with `~>`/`&`/`>>` while
  * the data plane stays fully declarative — Catalyst sees one logical plan
  * per pipeline and optimizes across node boundaries (pushdown, pruning,
  * join selection are NOT blocked by the algebra).
  *
  * Reference motifs: extract/filter/agg/write Spark pipeline
  * (`/root/reference/docs/examples-spark.md:19-41`), multi-source extract
  * (`:102-108`), broadcast-join (`docs/examples-flink.md:104-109`).
  */
object SparkOps {

  /** Stable unique id for a live `SparkSession`, used to scope the mining
    * caches (DedupOps/GraphOps/SimilarityOps/TextOps). A UUID is issued
    * per session instance and held weakly: unlike
    * `System.identityHashCode`, an id is never reused after the session is
    * GC'd, so a new session can never read a dead session's cached
    * artifacts even if its plans hash identically. (Spark 4 exposes
    * `sessionUUID` only on the classic subclass — this helper stays
    * engine-agnostic.)
    */
  private val sessionIdMap = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())
  def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    sessionIdMap.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** Session ids still reachable (the WeakHashMap drops GC'd sessions);
    * iteration over a synchronizedMap requires holding its own monitor.
    */
  private[ops] def liveSessionIds: Set[String] = sessionIdMap.synchronized {
    val out = Set.newBuilder[String]
    val it = sessionIdMap.values().iterator()
    while (it.hasNext) out += it.next()
    out.result()
  }

  /** Eager lineage-truncating materialization — the single primitive
    * behind every "compute this expensive frame once for its N consumers
    * / per-iteration plan reset" site in the mining, graph, and ANN ops.
    *
    * Durability is a DEPLOYMENT property, so it is config-driven, not a
    * per-site decision:
    *
    *  - `graft.checkpoint.dir` unset (default, and always on `local[*]`):
    *    `localCheckpoint(eager = true)` — blocks live in executor
    *    storage, zero filesystem traffic. On a single-JVM master,
    *    executor loss ≡ application loss, so durability buys nothing.
    *  - `graft.checkpoint.dir` set (a real cluster): reliable
    *    `checkpoint(eager = true)` into that directory (HDFS/object
    *    store) — the truncated lineage is NOT recomputable, so on a
    *    multi-executor deployment the blocks must survive executor loss;
    *    local-checkpointed blocks don't. The frame is persisted for the
    *    duration of the checkpoint write (reliable checkpointing
    *    otherwise RECOMPUTES the plan for the file-write job — 2× every
    *    iterative call site) and unpersisted after. Checkpoint FILES are
    *    cleaned by the ContextCleaner only when the session was built
    *    with `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    *    (a static conf, default false) — set it on durable deployments
    *    or clean the directory per job; localCheckpoint blocks (the
    *    default path) are always cleaner-released.
    *
    * The session's Spark checkpoint dir follows the config: it is
    * (re)initialized whenever the conf value differs from the one this
    * session was last initialized from (tracked per session below), so
    * re-pointing `graft.checkpoint.dir` mid-session takes effect on the
    * next call.
    */
  // The graft.checkpoint.dir value this session's checkpoint dir was last
  // initialized from — exact-string bookkeeping, because sc.getCheckpointDir
  // returns a qualified path + UUID subdir that cannot be compared to the
  // raw conf value without false substring matches.
  private val configuredCkptDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Drop `sid`'s checkpoint-dir bookkeeping (invoked by
    * [[graft.ops.DedupOps.clearCaches]] alongside the mining caches, and
    * pruned lazily for GC'd sessions in the conflict scan below).
    */
  private[ops] def clearCkptEntry(sid: String): Unit = {
    configuredCkptDir.remove(sid); ()
  }

  def materialize[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.getOption("graft.checkpoint.dir").filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        val sid = sessionId(spark)
        // setCheckpointDir is CONTEXT-global while graft.checkpoint.dir is
        // a SESSION conf: the supported deployment shape is one checkpoint
        // dir per context. Serialize the check-then-set on the context so
        // concurrent sessions can't interleave it, and warn when a second
        // session re-points the shared dir — its frames would otherwise be
        // checkpointed under the other session's directory silently.
        sc.synchronized {
          if (sc.getCheckpointDir.isEmpty || configuredCkptDir.get(sid) != dir) {
            // Prune entries from GC'd sessions before the conflict scan —
            // sessionIdMap is weak but this map is not, so without the
            // prune a long-lived context churning sessions would both warn
            // against long-dead sessions and grow the map unboundedly.
            val live = liveSessionIds
            val it = configuredCkptDir.entrySet().iterator()
            var conflict: String = null
            while (it.hasNext) {
              val e = it.next()
              if (!live.contains(e.getKey)) it.remove()
              else if (e.getKey != sid && e.getValue != dir) conflict = e.getValue
            }
            if (conflict != null)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"graft.checkpoint.dir='$dir' re-points the CONTEXT-global " +
                  s"checkpoint dir away from '$conflict' configured by another " +
                  "session sharing this SparkContext; use one dir per context.")
            sc.setCheckpointDir(dir)
            configuredCkptDir.put(sid, dir)
          }
        }
        val persisted = ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try persisted.checkpoint(eager = true)
        finally persisted.unpersist(blocking = false)
      case None => ds.localCheckpoint(eager = true)
    }
  }

  /** `.materialized` postfix syntax for [[materialize]] — keeps the
    * lineage-truncation sites as readable as the raw `localCheckpoint`
    * calls they replace.
    */
  implicit class Materialize[T](private val ds: org.apache.spark.sql.Dataset[T])
      extends AnyVal {
    def materialized: org.apache.spark.sql.Dataset[T] = SparkOps.materialize(ds)
  }

  /** Widen an under-parallel stage before expensive per-row work (round
    * 16; guide §2.5 input skew / §6 split sizing): when the frame's
    * physical parallelism is below half the session width, round-robin
    * repartition to the width; otherwise return it UNCHANGED.
    *
    * Why it exists: file-split packing floors each split at
    * `spark.sql.files.openCostInBytes` (4 MB), so any input under ~4 MB —
    * a small corpus snapshot, one gzip file, a dimension feeding an
    * expensive codec/explode — scans as ONE task and serializes every
    * map-side operator above it no matter how many cores the cluster
    * has (measured here: the 13-gram explode over the one-split sf0.1
    * corpus runs 1.9-3.2 s single-task vs 0.3-0.6 s widened on 32
    * cores). At warehouse scale the same scan has thousands of splits,
    * the guard fails, and this is the identity — the repartition can
    * never become a fixed cost of the scaled-up plan. Apply it ONLY
    * above heavy per-row stage-1 work (codec encode/decode, n-gram
    * explode, tokenize): for cheap scans feeding a shuffle the exchange
    * already spreads the work and an extra repartition is pure cost.
    *
    * Results are partitioning-independent at every call site (aggregates
    * / joins / per-row maps with a final orderBy), and round-robin
    * repartition keeps its retry-determinism local sort
    * (`spark.sql.execution.sortBeforeRepartition`, on by default).
    */
  def widen[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val width = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (ds.rdd.getNumPartitions * 2 <= width) ds.repartition(width) else ds
  }

  /** Mining caches outside [[graft.ops]] (e.g. the ER fuzzy pair cache in
    * `graft.queries`) register a per-session clear hook here so
    * [[clearMiningCaches]] / [[DedupOps.clearCaches]] reach them without a
    * reverse package dependency. Hooks registered at object init — a cache
    * that was never touched has no hook AND no entries, so the contract
    * holds either way.
    */
  private val cacheClearHooks =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()
  def registerCacheClearHook(f: String => Unit): Unit = cacheClearHooks.add(f)
  private[ops] def runCacheClearHooks(sessionId: String): Unit = {
    val it = cacheClearHooks.iterator()
    while (it.hasNext) it.next()(sessionId)
  }

  // ------------------------------------------------------------- sources

  /** Scan a named parquet table from the environment's dataset dir. */
  def scanParquet(name: String): Reader[SparkEnv, Extract[Unit, DataFrame]] =
    Node.requires(env => _ => env.spark.read.parquet(s"${env.dir}/$name.parquet"))

  /** Scan an explicit parquet path. */
  def scanParquetPath(path: String): Reader[SparkEnv, Extract[Unit, DataFrame]] =
    Node.requires(env => _ => env.spark.read.parquet(path))

  /** Scan CSV with header+schema inference off by default (schema given). */
  def scanCsv(path: String, schema: org.apache.spark.sql.types.StructType)
      : Reader[SparkEnv, Extract[Unit, DataFrame]] =
    Node.requires(env => _ => env.spark.read.schema(schema).option("header", "true").csv(path))

  /** Scan newline-delimited JSON with an explicit schema (schema inference
    * costs a full extra pass at 100 TB — never infer in production paths).
    */
  def scanJson(path: String, schema: org.apache.spark.sql.types.StructType)
      : Reader[SparkEnv, Extract[Unit, DataFrame]] =
    Node.requires(env => _ => env.spark.read.schema(schema).json(path))

  /** Multi-source extract: a map of named tables read in one node. */
  def scanTables(names: String*): Reader[SparkEnv, Extract[Unit, Map[String, DataFrame]]] =
    Node.requires(env =>
      _ => names.map(n => n -> env.spark.read.parquet(s"${env.dir}/$n.parquet")).toMap
    )

  // --------------------------------------------------------------- sinks

  /** Overwrite-write parquet; passes the input through for `>>` chains. */
  def writeParquet(path: String, partitionBy: Seq[String] = Nil): Load[DataFrame, DataFrame] =
    Node { df =>
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
      df
    }

  /** Parquet load with SINGLE-PASS data-quality metrics: each `(name,
    * aggExpr)` rides the write's own scan via `Dataset.observe` — at
    * 100 TB a separate `count()`/profiling aggregate is a full second
    * read of the table, while observed metrics are computed by the same
    * tasks that write. On completion every numeric metric lands in the
    * trace channel as a gauge `<prefix>.<name>` (plus one Tel event
    * carrying all of them), so `unsafeRunTrace`/OTLP export surface
    * sink-side row counts and null rates with ZERO extra Spark jobs —
    * the engine-side realization of the reference's observability focus.
    *
    * Null observations (what `sum`/`min`/`max` return over a ZERO-ROW
    * write) cannot become gauges — they ride the Tel event only, so
    * gauge consumers must read with a default rather than assume every
    * declared metric is present. `count`-family metrics are never null.
    */
  def writeParquetObserved(
      path: String,
      prefix: String,
      metrics: (String, Column)*): Load[DataFrame, DataFrame] = {
    require(metrics.nonEmpty,
      "writeParquetObserved needs at least one (name, aggExpr) metric — " +
        "use writeParquet for an unobserved write")
    Node { df =>
      val obs = org.apache.spark.sql.Observation(prefix)
      val cols = metrics.map { case (n, c) => c.as(n) }
      val observed = df.observe(obs, cols.head, cols.tail: _*)
      observed.write.mode("overwrite").parquet(path)
      val got = obs.get // action already ran — returns without blocking
      got.foreach {
        case (k, v: Number) => Tel.setGauge(s"$prefix.$k", v.doubleValue())
        case _ => () // null/non-numeric observations ride the event only
      }
      Tel.addEvent(prefix, got.toSeq: _*)
      df
    }
  }

  /** Run `write` into `target` once per GENERATION of `src`: a `_STAGED`
    * marker newer than the source file means the staged artifact is
    * current; a regenerated source invalidates it. This is the single
    * mtime-staging contract shared by every staged dir (streaming replay
    * slices, partitioned-fact copies) — the `write` block owns producing
    * the content (including clearing any previous layout), the helper
    * owns the marker protocol. Returns `target` as a string.
    */
  def stageOnce(src: java.nio.file.Path, target: java.nio.file.Path)(
      write: => Unit): String = stageLock.synchronized {
    import java.nio.file.Files
    val marker = target.resolve("_STAGED")
    val stale = !Files.exists(marker) ||
      Files.getLastModifiedTime(marker).compareTo(Files.getLastModifiedTime(src)) < 0
    if (stale) {
      Files.deleteIfExists(marker)
      write
      Files.createDirectories(target)
      Files.createFile(marker)
    }
    target.toString
  }

  /** Staging runs from concurrent streaming-family threads share staged
    * dirs; one coarse lock keeps the check-then-write race-free (staging
    * happens once per data generation, so contention is nil after warmup).
    */
  private val stageLock = new Object

  // ---------------------------------------------------------- transforms

  def where(cond: Column): Transform[DataFrame, DataFrame] = Node(_.filter(cond))

  def selectCols(cols: Column*): Transform[DataFrame, DataFrame] = Node(_.select(cols: _*))

  def withCol(name: String, col: Column): Transform[DataFrame, DataFrame] =
    Node(_.withColumn(name, col))

  def dropCols(names: String*): Transform[DataFrame, DataFrame] = Node(_.drop(names: _*))

  /** Explicit repartition — reach for this only to fix skew or co-locate a
    * downstream join; Catalyst + AQE handle the default case.
    */
  def repartitionBy(n: Int, cols: Column*): Transform[DataFrame, DataFrame] =
    Node(df => if (cols.isEmpty) df.repartition(n) else df.repartition(n, cols: _*))

  def groupAgg(keys: Seq[Column], aggs: Seq[Column]): Transform[DataFrame, DataFrame] =
    Node(df => df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))

  def sortLimit(n: Int, order: Column*): Transform[DataFrame, DataFrame] =
    Node(_.orderBy(order: _*).limit(n))

  def dedupKeys(keys: String*): Transform[DataFrame, DataFrame] =
    Node(df => if (keys.isEmpty) df.dropDuplicates() else df.dropDuplicates(keys))

  /** Invalidate the session-scoped mining caches (token/prefix indexes,
    * mined pair lists, cluster labels — see [[DedupOps.clearCaches]]'s
    * cache contract) and pass the input through unchanged. Slot this into
    * a pipeline right after a corpus-snapshot overwrite: caches key on the
    * logical PLAN, so re-reading an overwritten path without clearing
    * would silently serve the previous snapshot's artifacts.
    */
  def clearMiningCaches: Transform[DataFrame, DataFrame] =
    Node { df => DedupOps.clearCaches(df.sparkSession); df }

  // ------------------------------------------------------ binary combine

  /** Join the two sides of a fan-out. Broadcast the right side explicitly
    * with `broadcastRight = true` when it is dimension-sized.
    */
  def joinOn(
      cond: (DataFrame, DataFrame) => Column,
      how: String = "inner",
      broadcastRight: Boolean = false
  ): Transform[(DataFrame, DataFrame), DataFrame] =
    Node { case (l, r) =>
      val rr = if (broadcastRight) broadcast(r) else r
      l.join(rr, cond(l, rr), how)
    }

  def joinUsing(
      cols: Seq[String],
      how: String = "inner",
      broadcastRight: Boolean = false
  ): Transform[(DataFrame, DataFrame), DataFrame] =
    Node { case (l, r) =>
      l.join(if (broadcastRight) broadcast(r) else r, cols, how)
    }

  def unionAll: Transform[(DataFrame, DataFrame), DataFrame] =
    Node { case (l, r) => l.unionByName(r) }

  def intersectAll: Transform[(DataFrame, DataFrame), DataFrame] =
    Node { case (l, r) => l.intersect(r) }

  def exceptAll: Transform[(DataFrame, DataFrame), DataFrame] =
    Node { case (l, r) => l.except(r) }

  // ------------------------------------------------------- skew / layout

  /** Skew-proof sum/count aggregation: spread each hot key over
    * `saltBuckets` partial groups (salt varies per row, so one giant key
    * splits into `saltBuckets` partial rows), aggregate, then merge. The
    * result is identical to a direct groupBy — sums/counts are associative
    * — only the shuffle distribution changes. Use when one key dominates:
    * AQE splits join skew but not aggregation skew.
    */
  def saltedSumCount(
      keys: Seq[Column],
      value: Column,
      saltBuckets: Int
  ): Transform[DataFrame, DataFrame] =
    Node { df =>
      df.withColumn("__salt",
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
        .groupBy(keys :+ col("__salt"): _*)
        .agg(sum(value).as("__psum"), count(lit(1)).as("__pcnt"))
        .groupBy(keys: _*)
        .agg(sum(col("__psum")).as("sum"), sum(col("__pcnt")).as("count"))
    }

  /** Skew-proof equi-join: replicate the small side across `saltBuckets`
    * salt values (a broadcast cross join with a tiny salt range — no
    * shuffle of the small side rows themselves until the join) and give
    * each big-side row a deterministic salt from `bigSaltSrc` (any
    * roughly-uniform per-row column, e.g. a line number). The join then
    * shuffles on (key, salt), so one hot key's rows spread over
    * `saltBuckets` reducers instead of hammering one. Result is identical
    * to the plain equi-join: every big row matches exactly the one replica
    * carrying its salt — rows whose `bigSaltSrc` is NULL land
    * deterministically on replica 0 (a null salt must still match exactly
    * one replica, not silently drop the row). At cluster scale, salt only
    * the keys a stats pass flags as hot — replicating the whole small side
    * multiplies its shuffle volume by `saltBuckets`.
    */
  def saltedEquiJoin(
      big: DataFrame,
      small: DataFrame,
      cond: (DataFrame, DataFrame) => Column,
      bigSaltSrc: Column,
      saltBuckets: Int
  ): DataFrame = {
    val salts = small.sparkSession.range(saltBuckets.toLong)
      .select(col("id").cast("int").as("__rsalt"))
    val smallX = small.crossJoin(broadcast(salts))
    val bigS = big.withColumn("__lsalt",
      coalesce(pmod(bigSaltSrc, lit(saltBuckets)).cast("int"), lit(0)))
    bigS.join(smallX, cond(bigS, smallX) && bigS("__lsalt") === smallX("__rsalt"))
      .drop("__lsalt", "__rsalt")
  }

  /** Bucketed write: co-locates future joins/aggregations on `bucketCols`
    * — two tables bucketed the same way join with ZERO exchange. The
    * cluster-scale alternative to re-shuffling a fact table every query.
    * (Requires a table catalog; writes via `saveAsTable`.)
    */
  def writeBucketed(
      table: String,
      buckets: Int,
      bucketCols: Seq[String],
      sortCols: Seq[String] = Nil
  ): Load[DataFrame, DataFrame] =
    Node { df =>
      val spark = df.sparkSession
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // a dropped-from-catalog but still-on-disk location blocks re-create
      val loc = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
        table.toLowerCase)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        rm(loc)
      }
      val w = df.write.mode("overwrite").bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
        .saveAsTable(table)
      spark.table(table)
    }

  // -------------------------------------------------------------- layout

  /** Morton spread: distribute the low 16 bits of `c` into the even bit
    * positions of a 32-bit lane (mask-shift cascade — 5 codegen'd integer
    * ops, no loop, no UDF).
    */
  private def spreadBits16(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-value (Morton code) of two 16-bit quantized dimensions: bit
    * interleave x₀y₀x₁y₁… — points close in BOTH dimensions are close on
    * the curve, so a curve-ordered file layout bounds every file's
    * bounding box in every dimension at once (a plain sort bounds only its
    * leading column). This is the multi-dimensional data-skipping layout
    * (Delta/Iceberg OPTIMIZE ZORDER; Morton 1966).
    */
  def zvalue(xQ: Column, yQ: Column): Column =
    spreadBits16(xQ).bitwiseOR(shiftleft(spreadBits16(yQ), 1))

  /** Quantize `c` to 0..65535 within observed [lo, hi] bounds (exact
    * integer output; callers broadcast-join the 1-row bounds first).
    */
  def quantize16(c: Column, lo: Column, hi: Column): Column =
    least(lit(65535L), floor((c - lo) / (hi - lo + 1e-9) * 65536).cast("long"))

  /** Z-order layout write: quantize the two dimensions against their
    * observed bounds (one tiny agg, broadcast back), range-partition +
    * sort by the interleaved z-value, write `nFiles` parquet files. Each
    * output file then covers a compact square-ish region of (x, y) space,
    * so min/max footer stats prune files for predicates on EITHER
    * dimension — the layout step a 100 TB table runs at compaction time to
    * make both `WHERE x BETWEEN …` and `WHERE y BETWEEN …` skip most of
    * its files. Returns the re-read frame.
    */
  def zorderWrite(
      df: DataFrame,
      xCol: String,
      yCol: String,
      path: String,
      nFiles: Int
  ): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).as("__xlo"), max(col(xCol)).as("__xhi"),
      min(col(yCol)).as("__ylo"), max(col(yCol)).as("__yhi"))
    val z = df.crossJoin(broadcast(bounds))
      .withColumn("__z", zvalue(
        quantize16(col(xCol), col("__xlo"), col("__xhi")),
        quantize16(col(yCol), col("__ylo"), col("__yhi"))))
      .drop("__xlo", "__xhi", "__ylo", "__yhi")
    z.repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** `ntile(buckets)` over a TOTAL order, computed as a two-phase
    * distributed ranking instead of Spark's single-partition global window
    * (`Window.orderBy` with no `partitionBy` funnels the whole input
    * through ONE task): range-repartition on the order keys, rank within
    * each partition in parallel, then add broadcast per-partition offsets
    * — the same shape as pack_sequences' distributed prefix sum. The only
    * serial step is the cumulative sum over ONE ROW PER PARTITION
    * (cluster-sized, not data-sized). The order must be TOTAL (include a
    * unique tiebreak column): range boundaries must never split ties, and
    * ntile itself is only deterministic under a total order.
    *
    * Bucket arithmetic reproduces SQL ntile exactly: with n rows and B
    * buckets, the first n mod B buckets hold n div B + 1 rows, the rest
    * n div B — all in integer expressions, so no double rounding enters.
    */
  def distributedNtile(df: DataFrame, buckets: Int, outCol: String, order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Materialize the input once: this plan reads it THREE times — the
    // range partitioner's sampling pass, the offsets aggregate, and the
    // ranked join — and chained ntile calls (one per metric) would
    // otherwise re-execute the whole upstream multiplicatively per phase.
    // The checkpoint also keeps each phase planning against a leaf.
    val base = materialize(df)
    // The RANKED frame must be materialized too, not just the input: the
    // offsets aggregate and the final join both consume it, and after
    // column pruning their range-exchange subplans are NOT equal (the
    // offsets branch prunes the row_number), so exchange reuse does not
    // apply and each branch would run its OWN repartitionByRange. A
    // range-repartition without an explicit partition count is advisory
    // to AQE, and the two branches' coalesce decisions diverge once the
    // frame is wide enough (narrow pruned rows coalesce to fewer
    // partitions) — the inner join on `_ntile_pid` then silently DROPS
    // every partition id present in one execution but not the other.
    // Found by the round-15 sf1 oracle gate: rfm_segmentation lost 59% of
    // its customers (r_q 3-4 vanished) at the 150k-customer universe
    // while every smaller SF agreed. One checkpoint = one execution = one
    // set of partition ids, under any AQE decision.
    val withRn = materialize(base.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_ntile_pid", spark_partition_id())
      .withColumn("_ntile_lrn",
        row_number().over(Window.partitionBy(col("_ntile_pid")).orderBy(order: _*))))
    val offsets = withRn.groupBy(col("_ntile_pid")).agg(count(lit(1)).as("_ntile_pc"))
      .select(col("_ntile_pid"),
        coalesce(sum(col("_ntile_pc")).over(
          Window.orderBy(col("_ntile_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_ntile_off"),
        sum(col("_ntile_pc")).over(
          Window.orderBy(col("_ntile_pid"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("_ntile_n"))
    withRn.join(broadcast(offsets), "_ntile_pid")
      .withColumn("_ntile_k", col("_ntile_off") + col("_ntile_lrn"))
      .withColumn(outCol, expr(
        s"""cast(CASE
              WHEN _ntile_k <= (_ntile_n % $buckets) * ((_ntile_n div $buckets) + 1)
              THEN (_ntile_k + (_ntile_n div $buckets)) div ((_ntile_n div $buckets) + 1)
              ELSE (_ntile_n % $buckets) +
                   ((_ntile_k - (_ntile_n % $buckets) * ((_ntile_n div $buckets) + 1)
                     + (_ntile_n div $buckets) - 1) div (_ntile_n div $buckets))
            END as int)"""))
      .drop("_ntile_pid", "_ntile_lrn", "_ntile_off", "_ntile_n", "_ntile_k")
  }

  // ------------------------------------------------------------- quality

  /** Data-quality gate: fail the pipeline if any row violates `invariant`.
    * Runs as ONE distributed action (`filter(!inv).limit(1)`) — no collect
    * of the violating set; scale-safe.
    */
  def ensureRows(invariant: Column, label: String): Transform[DataFrame, DataFrame] =
    Node[DataFrame, DataFrame](df => df).ensure(
      output = Seq((df: DataFrame) =>
        if (df.filter(!invariant).limit(1).isEmpty) None
        else Some(s"rows violate invariant: $label")
      )
    )

  /** Observe row count into the Trace as a counter (driver-side action). */
  def countTo(counter: String): Transform[DataFrame, DataFrame] =
    Node { df => Tel.addCounter(counter, df.count()); df }
}
