package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Synthesize the FULL-table sf1-equivalent universe (10× the sf0.1
  * grading tables) for the at-scale DuckDB oracle gate — it extends the
  * `tpch_10x` universe recorded in `regime_boundary.json`, which scaled
  * only the five TPC-H fact/dim tables and symlinked the rest.
  *
  * Construction (one parquet dir per table under `outDir`, all 10 names
  * the Verify/oracle contract expects):
  *
  *  - `region`, `nation`: copied verbatim — constant in TPC-H at every SF.
  *  - `customer/supplier/part/orders/lineitem`: 10 replicas with every
  *    scaling key offset per replica (same offsets as tpch_10x), so each
  *    replica preserves the original join structure exactly and replicas
  *    never join across. Result sizes scale ×10 by construction.
  *  - `documents`: 10 replicas, doc_id offset + bijective per-replica
  *    token rename (suffix `xR`) — preserves every replica's internal
  *    pairwise Jaccard structure while replicas share zero tokens, so
  *    mining cost and true pair counts scale ×10, never ×100 (same
  *    construction as the mining regime probes). `n_chars` is recomputed
  *    over the renamed text to keep the generator's invariant.
  *  - `embeddings`: 10 replicas, vec_id offset + deterministic one-dim
  *    perturbation per replica (replica 0 verbatim — the windowed exact
  *    twins that grade vec_id < 300 see the original vectors).
  *  - `events`: 10 replicas with event_id/user_id offsets — per-user
  *    sequences (sessions, funnels, streaks) replicate exactly; global
  *    aggregates scale ×10.
  *
  * Usage: `runMain graft.BuildSf1 [sfDir] [outDir]`
  * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1). Then:
  * `runMain graft.Verify <outDir> /tmp/verify_sf1` +
  * `python3 tools/check_oracle.py <outDir> /tmp/verify_sf1`.
  */
object BuildSf1 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))

    def done(t: String): Boolean =
      Files.exists(Paths.get(s"$outDir/$t.parquet/_SUCCESS"))
    def write(t: String)(df: => DataFrame): Unit = {
      if (!done(t)) {
        df.repartition(32).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
        println(s"[sf1] wrote $t")
      } else println(s"[sf1] $t fresh, skipped")
    }
    def base(t: String): DataFrame = spark.read.parquet(s"$sfDir/$t.parquet")
    def replicate(t: String, keyOffsets: Map[String, Long])(
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until 10).map { r =>
        extra(keyOffsets.foldLeft(base(t)) { case (d, (c, off)) =>
          d.withColumn(c, col(c) + lit(r * off))
        }, r)
      }.reduce(_ unionByName _)

    // constant dims: rewrite as spark dirs so every table in the universe
    // has the same physical shape (the oracle reader globs dirs)
    Seq("region", "nation").foreach(t => write(t)(base(t).coalesce(1)))

    val CK = 10000000L; val SK = 1000000L; val PK = 10000000L
    val OK = 1000000000L
    write("customer")(replicate("customer", Map("c_custkey" -> CK))())
    write("supplier")(replicate("supplier", Map("s_suppkey" -> SK))())
    write("part")(replicate("part", Map("p_partkey" -> PK))())
    write("orders")(replicate("orders",
      Map("o_orderkey" -> OK, "o_custkey" -> CK))())
    write("lineitem")(replicate("lineitem",
      Map("l_orderkey" -> OK, "l_partkey" -> PK, "l_suppkey" -> SK))())

    write("documents")(replicate("documents", Map("doc_id" -> 10000000L)) {
      (d, r) =>
        d.withColumn("text", array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"x$r"))), " "))
          .withColumn("n_chars", length(col("text")))
    })

    write("embeddings")(replicate("embeddings", Map("vec_id" -> 10000000L)) {
      (d, r) =>
        if (r == 0) d
        else d.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(i === r, x * lit(0.5f) + lit(0.1f * r)).otherwise(x)))
    })

    write("events")(replicate("events",
      Map("event_id" -> 1000000000L, "user_id" -> 10000000L))())

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings", "events")
      .map(t => t -> spark.read.parquet(s"$outDir/$t.parquet").count())
    counts.foreach { case (t, n) => println(f"[sf1] $t%-12s $n%10d rows") }
    spark.stop()
  }
}
