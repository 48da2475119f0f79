package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Machine-readable accuracy report for every approximate operator:
  * each raw approximate frame (the computation under the round-13
  * verdict-frame queries — see [[graft.queries.Approx]]) is scored
  * against its EXACT twin on the same testdata the driver grades
  * (RecallSpec's checks, emitted as JSON the driver can archive per
  * round instead of trusting test logs).
  *
  * All candidate generation is seeded-hash deterministic, so the scores
  * are reproducible numbers, not statistics.
  *
  * Usage: `runMain graft.RecallReport [sfDir] [outPath]`
  * (defaults: /root/testdata/sf0.01, ./recall_report.json)
  */
object RecallReport {

  private final case class Score(
      metric: String,
      value: Double,
      floor: Double,
      detail: String,
      watch: Double = Double.NaN) {
    def pass: Boolean = value >= floor - 1e-12
    // round 14: the graded frames carry 2/1/0 band columns against a WATCH
    // threshold above the floor (drift visibility before the floor fails);
    // watchOk mirrors "band == 2". NaN = degenerate band (watch == floor).
    def watchVal: Double = if (watch.isNaN) floor else watch
    def watchOk: Boolean = value >= watchVal - 1e-12
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outPath = args.lift(1).getOrElse("recall_report.json")
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val run = graft.queries.Catalog.queriesMap
    // Since the round-13 graduation the graded queries emit verdict
    // frames; the raw approximate frames are built directly from
    // Approx / the ops — same parameters as the graded queries.
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val embDf = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def pairs(name: String): Set[(Long, Long)] =
      rawPairs(run(name)(spark, sfDir))
    def rawPairs(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def topIds(name: String): Set[Long] =
      rawTopIds(run(name)(spark, sfDir))
    def rawTopIds(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    def recallOf(hit: Set[(Long, Long)], exact: Set[(Long, Long)]): (Double, String) =
      ((hit & exact).size.toDouble / math.max(1, exact.size),
        s"${(hit & exact).size}/${exact.size} exact pairs recovered")

    val scores = scala.collection.mutable.LinkedHashMap.empty[String, Score]
    def grade(name: String)(f: => Score): Unit =
      scores(name) =
        try f
        catch { case e: Throwable =>
          Score("error", 0.0, 1.0, s"${e.getClass.getName}: ${e.getMessage}")
        }

    // -- pair-recall family (exact twin: mined exact-Jaccard / cosine pairs)
    val exactJaccard = pairs("dedup_ngram_jaccard")
    grade("dedup_minhash_lsh") {
      val lsh = rawPairs(graft.queries.Approx.minhashPairs(docsDf))
      val (r, d) = recallOf(lsh, exactJaccard)
      Score("recall_vs_exact_jaccard_pairs", r, graft.queries.Approx.MinhashRecallFloor, d,
        watch = graft.queries.Approx.MinhashRecallWatch)
    }
    grade("dedup_simhash") {
      // 4x16-bit banding pigeonholes hamming<=3: must EQUAL brute force
      val sh = graft.ops.DedupOps.simhash(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
      val brute = a.join(b, col("id_a") < col("id_b"))
        .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val banded = pairs("dedup_simhash")
      Score("set_equality_vs_brute_force", if (banded == brute) 1.0 else 0.0, 1.0,
        s"banded=${banded.size} brute=${brute.size} pairs")
    }
    grade("dedup_embedding_lsh") {
      // exact twin is windowed to vec_id < 300; grade inside that window
      val exact = pairs("dedup_embedding_cosine")
      val w = graft.queries.Approx.EmbeddingExactMaxId
      val lsh = rawPairs(graft.queries.Approx.embeddingLshPairs(embDf))
        .filter(p => p._1 < w && p._2 < w)
      val (r, d) = recallOf(lsh, exact)
      Score("recall_vs_exact_cosine_pairs", r, graft.queries.Approx.EmbeddingLshRecallFloor, d,
        watch = graft.queries.Approx.EmbeddingLshRecallWatch)
    }
    grade("dedup_substring_hashed") {
      // digest variant must produce IDENTICAL per-doc dup-gram counts
      def counts(df: DataFrame): Set[(Long, Long)] =
        df.select("doc_id", "n_dup_grams").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = counts(run("dedup_substring")(spark, sfDir))
      val hashed = counts(run("dedup_substring_hashed")(spark, sfDir))
      Score("set_equality_vs_string_grams", if (exact == hashed) 1.0 else 0.0, 1.0,
        s"${hashed.size} per-doc rows, exact twin ${exact.size}")
    }

    // -- top-k overlap family (exact twin: brute-force cosine top-k)
    val exactTopK = topIds("similarity_topk")
    def rawOverlap(df: DataFrame, exact: Set[Long]): (Double, String) = {
      val ids = rawTopIds(df)
      ((ids & exact).size.toDouble / math.max(1, exact.size),
        s"${(ids & exact).size}/${exact.size} of exact top-k recovered")
    }
    grade("similarity_lsh_topk") {
      val (v, d) = rawOverlap(graft.queries.Approx.lshTopK(embDf), exactTopK)
      // query-adaptive multi-probe (margin-ordered probe set, Lv et al.):
      // measured 0.9 at sf0.001/0.01/0.1 — same floor as the banded
      // production path now that the probe policy is principled
      Score("topk_overlap_vs_exact", v, graft.queries.Approx.LshTopKFloor,
        d + " (single-table adaptive multi-probe; scale path is _banded)",
        watch = graft.queries.Approx.LshTopKWatch)
    }
    grade("similarity_lsh_topk_banded") {
      val (v, d) = rawOverlap(graft.queries.Approx.lshTopKBanded(embDf), exactTopK)
      Score("topk_overlap_vs_exact", v, graft.queries.Approx.LshTopKBandedFloor, d,
        watch = graft.queries.Approx.LshTopKBandedWatch)
    }
    grade("similarity_ivf_topk") {
      val (v, d) = rawOverlap(graft.queries.Approx.ivfTopK(embDf), exactTopK)
      Score("topk_overlap_vs_exact", v, graft.queries.Approx.IvfTopKFloor, d,
        watch = graft.queries.Approx.IvfTopKWatch)
    }
    // Shared collector for the batched-serving grades: per-query id sets
    // keyed by q_id; the exact batch twin runs ONCE for both grades.
    def batchTop(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (qid, xs) => qid -> xs.map(_._2).toSet }
    lazy val exactBatch = batchTop(run("similarity_batch_topk")(spark, sfDir))
    def batchOverlap(df: DataFrame): (Double, String) = {
      val mine = batchTop(df)
      val per = exactBatch.keys.toSeq.sorted
        .map(qid => (mine.getOrElse(qid, Set.empty) & exactBatch(qid)).size / 10.0)
      (per.sum / per.size, s"per-query overlap@10 = ${per.mkString(",")}")
    }
    grade("similarity_ivf_batch_topk") {
      val (v, d) = batchOverlap(graft.queries.Approx.ivfBatchTopK(embDf))
      Score("mean_per_query_overlap_vs_exact_batch", v, graft.queries.Approx.IvfBatchMeanFloor,
        d + s" (min floor ${graft.queries.Approx.IvfBatchPerQueryFloor} in RecallSpec)",
        watch = graft.queries.Approx.IvfBatchMeanWatch)
    }
    grade("similarity_pq_topk") {
      val (v, d) = rawOverlap(graft.queries.Approx.pqTopK(embDf), exactTopK)
      Score("topk_overlap_vs_exact", v, graft.queries.Approx.PqTopKFloor, d,
        watch = graft.queries.Approx.PqTopKWatch)
    }
    grade("similarity_pq_batch_topk") {
      val (v, d) = batchOverlap(graft.queries.Approx.pqBatchTopK(embDf))
      Score("mean_per_query_overlap_vs_exact_batch", v, graft.queries.Approx.PqBatchMeanFloor,
        d + s" (min floor ${graft.queries.Approx.PqBatchPerQueryFloor} in RecallSpec)",
        watch = graft.queries.Approx.PqBatchMeanWatch)
    }

    // -- sketch-error family (value = 1 - normalized error, floor on that)
    grade("agg_hll_merge") {
      val exact = spark.read.parquet(s"$sfDir/customer.parquet")
        .join(spark.read.parquet(s"$sfDir/nation.parquet"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"))
        .agg(countDistinct(col("c_custkey")).as("n"))
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
      val approx = graft.queries.Approx.hllMergeByRegion(spark, sfDir)
        .collect().map(r => r.get(0).toString -> r.getLong(1).toDouble).toMap
      val maxRel = exact.map { case (g, n) =>
        math.abs(approx.getOrElse(g, 0.0) - n) / math.max(1.0, n.toDouble)
      }.max
      // lgK=14 sketch: rse ~0.8%; 4% tolerance (5 sigma)
      Score("one_minus_max_rel_err", 1.0 - maxRel, 0.96,
        f"max relative error $maxRel%.4f over ${exact.size} regions",
        watch = 1.0 - graft.queries.Approx.HllMergeWatchTol)
    }
    grade("agg_approx_distinct") {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val exact = li.agg(
        countDistinct(col("l_partkey")), countDistinct(col("l_orderkey"))).head
      val approx = graft.queries.Approx.approxDistinct(spark, sfDir).head
      val relP = math.abs(approx.getLong(0).toDouble / exact.getLong(0) - 1)
      val relO = math.abs(approx.getLong(1).toDouble / exact.getLong(1) - 1)
      Score("one_minus_max_rel_err", 1.0 - math.max(relP, relO), 0.95,
        f"rel err parts=$relP%.4f orders=$relO%.4f (rsd=0.01)",
        watch = 1.0 - graft.queries.Approx.ApproxDistinctWatchTol)
    }
    grade("agg_approx_percentile") {
      // fraction of (group, quantile) cells whose approx value lies within
      // the sketch's guaranteed rank band (n/1000 + 1) of the exact order
      // statistics; accuracy=1000 guarantees all of them.
      val byGroup = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(sort_array(collect_list(col("l_extendedprice"))).as("vals"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
      val approx = graft.queries.Approx.approxPercentile(spark, sfDir).collect()
      var ok = 0; var total = 0
      approx.foreach { row =>
        val vals = byGroup(row.getString(0))
        val n = vals.length
        val slack = math.ceil(n.toDouble / 1000).toInt + 1
        Seq(0.25 -> 1, 0.5 -> 2, 0.75 -> 3).foreach { case (qf, i) =>
          val a = row.getDouble(i)
          val r = (qf * n).toInt
          val lo = vals(math.max(0, r - slack))
          val hi = vals(math.min(n - 1, r + slack))
          total += 1
          if (a >= lo && a <= hi) ok += 1
        }
      }
      Score("frac_within_rank_error_band", ok.toDouble / math.max(1, total), 1.0,
        s"$ok/$total (group, quantile) cells within rank band n/1000+1")
    }

    grade("agg_cms_freq") {
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      val exact = cust.groupBy("c_nationkey", "c_mktsegment").count()
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val est = graft.queries.Approx.cmsEstimates(spark, sfDir)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val slack = math.max(1L,
        math.ceil(graft.queries.Approx.CmsEps * cust.count()).toLong)
      val bad = exact.count { case (k, e) =>
        val a = est(k); a < e || a > e + slack
      }
      Score("frac_probes_within_one_sided_band",
        1.0 - bad.toDouble / math.max(1, exact.size), 1.0,
        s"${exact.size - bad}/${exact.size} probes in [exact, exact+$slack]")
    }
    grade("text_compression_ratio") {
      val rows = graft.queries.Approx.deflateRatio(docsDf)
        .select("deflate_ratio").collect()
      val inBounds = rows.count { r => val x = r.getDouble(0); x > 0 && x < 1.2 }
      Score("frac_ratios_in_bounds",
        inBounds.toDouble / math.max(1, rows.length), 1.0,
        s"$inBounds/${rows.length} deflate ratios in (0, 1.2)")
    }

    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val rows = scores.map { case (name, s) =>
      s"${jq(name)}: {" +
        s""""metric": ${jq(s.metric)}, "value": ${f"${s.value}%.4f"}, """ +
        s""""floor": ${s.floor}, """ +
        // a degenerate band (no watch threshold) emits null, so consumers
        // can tell it from a real watch that happens to equal the floor
        (if (s.watch.isNaN) s""""watch": null, "has_watch": false, """
         else s""""watch": ${s.watch}, "has_watch": true, """) +
        s""""pass": ${s.pass}, "watch_pass": ${s.watchOk}, """ +
        s""""detail": ${jq(s.detail)}}"""
    }.mkString(",\n  ")
    val allPass = scores.values.forall(_.pass)
    val json =
      s"""{\n  "sf_dir": ${jq(sfDir)},\n  "all_pass": $allPass,\n  "queries": {\n  $rows\n}}"""
    Files.writeString(Paths.get(outPath), json)
    println(json)
    if (!allPass) System.err.println(
      "[recall] FLOOR VIOLATIONS: " +
        scores.collect { case (n, s) if !s.pass => n }.mkString(", "))
    spark.stop()
  }
}
