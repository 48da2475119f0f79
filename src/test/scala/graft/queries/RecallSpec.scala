package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Thresholded accuracy grading for every approximate operator: each is
  * scored against its EXACT twin on the real testdata corpus, with a fixed
  * numeric floor. All candidate generation is seeded-hash deterministic,
  * so these scores are exact reproducible numbers, not flaky statistics —
  * a future regression that degrades recall fails loudly here.
  *
  * Since the round-13 graduation, the graded QUERIES emit deterministic
  * verdict frames (exact values + boolean floors, hash-checked by the
  * driver's DuckDB oracle); this spec keeps the underlying accuracy
  * NUMBERS floored by grading the RAW approximate frames
  * ([[graft.queries.Approx]] / the ops builders) — same floors as the
  * verdict booleans — plus a belt-and-braces check that every verdict
  * frame actually reads all-true.
  */
class RecallSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(8)
    .appName("graft-recall-test")
    .getOrCreate()

  // 500 docs / 500 vectors — identical corpus shape to the sf0.01 grading
  // the driver runs, small enough for exact twins in a unit test.
  private val dir = "/root/testdata/sf0.001"

  private def idPairs(name: String): Set[(Long, Long)] =
    Catalog.queriesMap(name)(spark, dir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def topIds(name: String): Set[Long] =
    Catalog.queriesMap(name)(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet

  private def rawPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def rawTopIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  private def docsDf = spark.read.parquet(s"$dir/documents.parquet")
  private def embDf = spark.read.parquet(s"$dir/embeddings.parquet")

  test("dedup_minhash_lsh recall vs exact jaccard pairs") {
    val exact = idPairs("dedup_ngram_jaccard") // exact J >= 0.8
    // est_jaccard >= 0.8, auto-fit bands (raw LSH frame under the verdict)
    val lsh = rawPairs(Approx.minhashPairs(docsDf))
    val recall = (lsh & exact).size.toDouble / exact.size
    info(f"minhash-LSH recall = ${(lsh & exact).size}/${exact.size} = $recall%.3f")
    assert(recall >= Approx.MinhashRecallFloor,
      f"minhash recall degraded: $recall%.3f")
    assert(recall >= Approx.MinhashRecallWatch,
      f"minhash recall $recall%.3f fell below the WATCH threshold " +
        f"${Approx.MinhashRecallWatch} — the graded recall_band flips 2 -> 1")
  }

  test("agg_cms_freq never under-estimates; over-estimate bounded by eps*N") {
    val est = Approx.cmsEstimates(spark, dir)
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val exact = cust.groupBy("c_nationkey", "c_mktsegment").count()
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
    val slack = math.max(1L, math.ceil(Approx.CmsEps * cust.count()).toLong)
    exact.foreach { case (key, e) =>
      val a = est(key)
      assert(a >= e, s"CMS under-estimated $key: $a < $e — violates the one-sided guarantee")
      assert(a <= e + slack, s"CMS over-estimate for $key out of bound: $a > $e + $slack")
    }
    info(s"${exact.size} probes within [exact, exact+$slack]")
  }

  test("text_compression_ratio: bounded, deterministic, separates repetition from natural text") {
    import spark.implicits._
    def ratios(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "deflate_ratio").orderBy("doc_id").collect()
    val run1 = ratios(Approx.deflateRatio(docsDf))
    assert(run1.nonEmpty)
    run1.foreach { r =>
      val ratio = r.getDouble(1)
      assert(ratio > 0 && ratio < 1.2, s"deflate ratio out of bounds: $ratio")
    }
    val run2 = ratios(Approx.deflateRatio(docsDf))
    assert(run1.map(_.toSeq).toSeq == run2.map(_.toSeq).toSeq,
      "deflate ratio must be deterministic across runs")
    // Synthetic separation probe: a pure repetition vs hash-noise words.
    val rep = ("spark " * 200).trim
    val nat = (1 to 200).map(i => (i * 2654435761L % 99991).toString).mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cr").toString
    Seq((1L, rep), (2L, nat)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Approx.deflateRatio(spark.read.parquet(s"$tmp/documents.parquet"))
      .select("doc_id", "deflate_ratio")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    info(f"repetitive=${out(1L)}%.4f natural=${out(2L)}%.4f")
    assert(out(1L) < out(2L) * 0.5,
      s"repetition (${out(1L)}) must compress far below natural text (${out(2L)})")
  }

  test("dedup_simhash finds EXACTLY the brute-force hamming<=3 pairs") {
    // 4x16-bit banding pigeonholes d<=3, so recall must be 1.0 — assert
    // set equality against the windowless brute-force join (500 docs).
    val sh = graft.ops.DedupOps.simhash(
      spark.read.parquet(s"$dir/documents.parquet"))
    val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = idPairs("dedup_simhash")
    assert(banded == brute,
      s"simhash banding must equal brute force: banded=${banded.size} brute=${brute.size}")
  }

  test("dedup_embedding_lsh (auto band config) recall vs exact cosine pairs") {
    val exact = idPairs("dedup_embedding_cosine") // cos >= 0.4, vec_id < 300
    val w = Approx.EmbeddingExactMaxId
    val lsh = rawPairs(Approx.embeddingLshPairs(embDf))
      .filter(p => p._1 < w && p._2 < w) // exact twin's id window
    val recall = (lsh & exact).size.toDouble / exact.size
    info(f"SRP-LSH recall = ${(lsh & exact).size}/${exact.size} = $recall%.3f")
    assert(recall >= Approx.EmbeddingLshRecallFloor,
      f"embedding-LSH recall degraded: $recall%.3f") // measured 0.917
    assert(recall >= Approx.EmbeddingLshRecallWatch,
      f"embedding-LSH recall $recall%.3f below WATCH " +
        f"${Approx.EmbeddingLshRecallWatch} — recall_band flips 2 -> 1")
  }

  test("auto band config holds the recall floor at sf0.01 too") {
    val sf01 = "/root/testdata/sf0.01"
    val exact = graft.ops.DedupOps
      .cosineNearDupExact(spark.read.parquet(s"$sf01/embeddings.parquet"), 300, 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = graft.ops.DedupOps
      .cosineLshPairsAuto(spark.read.parquet(s"$sf01/embeddings.parquet"), threshold = 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 < 300 && p._2 < 300)
    val recall = (auto & exact).size.toDouble / exact.size
    info(f"SRP-LSH auto recall (sf0.01) = ${(auto & exact).size}/${exact.size} = $recall%.3f")
    assert(recall >= 0.85, f"auto-config recall degraded at sf0.01: $recall%.3f") // measured 1.000
  }

  test("similarity_lsh_topk overlap vs exact top-k") {
    val exact = topIds("similarity_topk")
    val lsh = rawTopIds(Approx.lshTopK(embDf))
    val overlap = (lsh & exact).size.toDouble / exact.size
    info(f"LSH top-k overlap = ${(lsh & exact).size}/${exact.size} = $overlap%.2f")
    // query-adaptive multi-probe (margin-ordered, 12 probes of a 4-bit
    // table): measured 0.9 at sf0.001/0.01/0.1
    assert(overlap >= Approx.LshTopKFloor,
      f"LSH top-k overlap degraded: $overlap%.2f")
    assert(overlap >= Approx.LshTopKWatch,
      f"LSH top-k overlap $overlap%.2f below WATCH ${Approx.LshTopKWatch}")
  }

  test("similarity_lsh_topk_banded (auto-fit L tables) overlap vs exact top-k") {
    val exact = topIds("similarity_topk")
    val banded = rawTopIds(Approx.lshTopKBanded(embDf))
    val overlap = (banded & exact).size.toDouble / exact.size
    info(f"banded LSH top-k overlap = ${(banded & exact).size}/${exact.size} = $overlap%.2f")
    assert(overlap >= Approx.LshTopKBandedFloor,
      f"banded LSH top-k overlap degraded: $overlap%.2f") // measured 0.90
    assert(overlap >= Approx.LshTopKBandedWatch,
      f"banded LSH overlap $overlap%.2f below WATCH ${Approx.LshTopKBandedWatch}")
  }

  private def batchTop(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }

  test("similarity_ivf_batch_topk per-query overlap vs the exact batch twin") {
    val exact = batchTop(Catalog.queriesMap("similarity_batch_topk")(spark, dir))
    val ivf = batchTop(Approx.ivfBatchTopK(embDf))
    val per = exact.keys.toSeq.sorted
      .map(q => (ivf.getOrElse(q, Set.empty) & exact(q)).size / 10.0)
    val mean = per.sum / per.size
    info(f"IVF batch overlap@10: mean=$mean%.3f per-query=${per.mkString(",")}")
    // measured mean 0.91/0.94/0.91 at sf0.001/0.01/0.1, per-query min 0.7
    assert(mean >= Approx.IvfBatchMeanFloor,
      f"IVF batch mean overlap degraded: $mean%.3f")
    assert(per.min >= Approx.IvfBatchPerQueryFloor,
      f"a query fell through the probed cells: ${per.min}")
    assert(mean >= Approx.IvfBatchMeanWatch,
      f"IVF batch mean $mean%.3f below WATCH ${Approx.IvfBatchMeanWatch}")
    assert(per.min >= Approx.IvfBatchPerQueryWatch,
      f"IVF per-query min ${per.min} below WATCH ${Approx.IvfBatchPerQueryWatch}")
  }

  test("similarity_pq_batch_topk per-query overlap vs the exact batch twin") {
    val exact = batchTop(Catalog.queriesMap("similarity_batch_topk")(spark, dir))
    val pq = batchTop(Approx.pqBatchTopK(embDf))
    val per = exact.keys.toSeq.sorted
      .map(q => (pq.getOrElse(q, Set.empty) & exact(q)).size / 10.0)
    val mean = per.sum / per.size
    info(f"PQ batch overlap@10: mean=$mean%.3f per-query=${per.mkString(",")}")
    assert(mean >= Approx.PqBatchMeanFloor,
      f"PQ batch mean overlap degraded: $mean%.3f")
    assert(per.min >= Approx.PqBatchPerQueryFloor,
      f"a query lost its neighborhood to quantization: ${per.min}")
    assert(mean >= Approx.PqBatchMeanWatch,
      f"PQ batch mean $mean%.3f below WATCH ${Approx.PqBatchMeanWatch}")
    assert(per.min >= Approx.PqBatchPerQueryWatch,
      f"PQ per-query min ${per.min} below WATCH ${Approx.PqBatchPerQueryWatch}")
  }

  test("similarity_ivf_topk overlap vs exact top-k") {
    val exact = topIds("similarity_topk")
    val ivf = rawTopIds(Approx.ivfTopK(embDf))
    val overlap = (ivf & exact).size.toDouble / exact.size
    info(f"IVF top-k overlap = ${(ivf & exact).size}/${exact.size} = $overlap%.2f")
    assert(overlap >= Approx.IvfTopKFloor,
      f"IVF top-k overlap degraded: $overlap%.2f") // measured 0.90
    assert(overlap >= Approx.IvfTopKWatch,
      f"IVF top-k overlap $overlap%.2f below WATCH ${Approx.IvfTopKWatch}")
  }

  test("similarity_pq_topk overlap vs exact top-k") {
    val exact = topIds("similarity_topk")
    val pq = rawTopIds(Approx.pqTopK(embDf))
    val overlap = (pq & exact).size.toDouble / exact.size
    info(f"PQ top-k overlap = ${(pq & exact).size}/${exact.size} = $overlap%.2f")
    // measured overlap at rerank budget 2/4/8/16 = 0.5/0.7/0.8/1.0 —
    // the default budget (8 ⇒ 16% of this corpus scanned exactly) sits at
    // 0.8; the floor leaves one candidate of slack.
    assert(overlap >= Approx.PqTopKFloor,
      f"PQ top-k overlap degraded: $overlap%.2f")
    assert(overlap >= Approx.PqTopKWatch,
      f"PQ top-k overlap $overlap%.2f below WATCH ${Approx.PqTopKWatch}")
  }

  test("agg_hll_merge region estimates stay within HLL error of exact distinct") {
    val exact = spark.read.parquet(s"$dir/customer.parquet")
      .join(spark.read.parquet(s"$dir/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey"))
      .agg(countDistinct(col("c_custkey")).as("n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val approx = Approx.hllMergeByRegion(spark, dir)
      .collect().map(r => r.get(0).toString -> r.getLong(1).toDouble).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (region, est) =>
      val n = exact(region).toDouble
      // lgK=14 ⇒ relative standard error ≈ 1.04/√2^14 ≈ 0.8%; allow 5σ
      // plus a small-count floor.
      val tol = math.max(Approx.HllMergeRelTol * n, Approx.HllMergeAbsFloor)
      assert(math.abs(est - n) <= tol,
        f"region $region: est $est%.1f vs exact $n%.0f (tol $tol%.1f)")
    }
  }

  test("agg_approx_percentile stays within the sketch's rank-error bound of exact") {
    // approx_percentile(accuracy = 1000) guarantees rank error <= n/1000
    // per group; grade VALUE closeness through the rank domain: for each
    // group and quantile, the approx value must lie between the exact
    // values at ranks floor(q*n) -+ n/1000 (+1 slack for interpolation).
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val approx = Approx.approxPercentile(spark, dir).collect()
    val byGroup = li.collect().groupBy(_.getString(0))
      .map { case (g, rows) => g -> rows.map(_.getDouble(1)).sorted }
    approx.foreach { row =>
      val vals = byGroup(row.getString(0))
      val n = vals.length
      // ceil of the rank-error radius plus one index for the 0/1-based
      // rank convention difference
      val slack = math.ceil(n.toDouble / 1000).toInt + 1
      Seq(0.25 -> 1, 0.5 -> 2, 0.75 -> 3).foreach { case (q, i) =>
        val a = row.getDouble(i)
        val r = (q * n).toInt
        val lo = vals(math.max(0, r - slack))
        val hi = vals(math.min(n - 1, r + slack))
        assert(a >= lo && a <= hi,
          f"group ${row.getString(0)} q=$q: approx $a%.2f outside exact rank band [$lo%.2f, $hi%.2f] (n=$n)")
      }
    }
  }

  test("agg_approx_distinct HLL estimates within the configured rsd") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = li.agg(
      countDistinct(col("l_partkey")).as("p"),
      countDistinct(col("l_orderkey")).as("o")).collect()(0)
    val approx = Approx.approxDistinct(spark, dir).collect()(0)
    val relP = math.abs(approx.getLong(0).toDouble / exact.getLong(0) - 1)
    val relO = math.abs(approx.getLong(1).toDouble / exact.getLong(1) - 1)
    info(f"HLL rel error: parts=$relP%.4f orders=$relO%.4f")
    // configured rsd = 0.01; 5 sigma headroom keeps this deterministic
    // check meaningful without being fragile to an implementation change
    assert(relP <= Approx.ApproxDistinctRelTol && relO <= Approx.ApproxDistinctRelTol,
      f"HLL error parts=$relP%.4f orders=$relO%.4f")
  }

  test("pairRecallVerdict: empty exact set reads vacuously true, never null") {
    import spark.implicits._
    val exact = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val approx = Seq((1L, 2L)).toDF("id_a", "id_b")
    val row = Approx.pairRecallVerdict(exact, approx, 0.85, 0.9).collect()(0)
    assert(row.getLong(0) == 0L)
    assert(!row.isNullAt(1) && row.getBoolean(1),
      "0 exact pairs must grade as vacuous recall = true (a NULL here " +
        "would hash-mismatch the oracle's literal TRUE)")
    assert(row.getInt(row.fieldIndex("recall_band")) == 2,
      "0 exact pairs must grade as vacuous band = 2 (a NULL or 0 here " +
        "would hash-mismatch the oracle's literal 2)")
  }

  test("band helpers: exact-boundary and epsilon behavior (the oracle hashes these)") {
    import spark.implicits._
    val df = Seq(
      (0.90, 0.0), // == watch            -> acc band 2
      (0.89999999999, 0.0), // watch - 1e-11 (inside eps) -> still 2
      (0.85, 0.0), // == floor            -> 1
      (0.84, 0.0), // below floor         -> 0
      (0.0, 1.0), // err path: > tol      -> 0
      (0.0, 0.02), // err == watchTol     -> 2
      (0.0, 0.05) // err == tol           -> 1
    ).toDF("acc", "err")
    val rows = df.select(
      Approx.accuracyBand(col("acc"), 0.9, 0.85).as("ab"),
      Approx.errorBand(col("err"), lit(0.02), lit(0.05)).as("eb")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 2, 1, 0, 0, 0, 0),
      "accuracyBand boundary grid diverged")
    assert(rows.map(_.getInt(1)).toSeq == Seq(2, 2, 2, 2, 0, 2, 1),
      "errorBand boundary grid diverged")
  }

  test("topKVerdict: partial overlap, missing query, and the mean gate grade correctly") {
    import spark.implicits._
    // exact: two queries, 5 hits each, cosines descending; tiebreak check:
    // q1's top cosine is shared by vec 20 and 21 — top1 must be vec 20.
    val exact = Seq(
      (0L, 10L, 0.9), (0L, 11L, 0.8), (0L, 12L, 0.7), (0L, 13L, 0.6), (0L, 14L, 0.5),
      (1L, 21L, 0.9), (1L, 20L, 0.9), (1L, 22L, 0.7), (1L, 23L, 0.6), (1L, 24L, 0.5)
    ).toDF("q_id", "vec_id", "cosine")
    // approx: q0 recovers 4/5 (plus noise ids that must not count);
    // q1 entirely missing from the approx result.
    val approx = Seq((0L, 10L), (0L, 11L), (0L, 12L), (0L, 13L), (0L, 99L))
      .toDF("q_id", "vec_id")
    val rows = Approx.topKVerdict(exact, approx,
        floor = 0.7, watch = 0.9, meanFloor = Some(0.75), meanWatch = Some(0.9))
      .collect().map { r =>
        r.getLong(r.fieldIndex("q_id")) -> ((
          r.getLong(r.fieldIndex("exact_top1")),
          r.getBoolean(r.fieldIndex("overlap_ok")),
          r.getInt(r.fieldIndex("overlap_band")),
          r.getBoolean(r.fieldIndex("mean_ok")),
          r.getInt(r.fieldIndex("mean_band"))))
      }.toMap
    assert(rows(0L) == ((10L, true, 1, false, 0)),
      s"q0: 4/5 = 0.8 in [floor 0.7, watch 0.9) = band 1; " +
        s"mean (0.8+0)/2 = 0.4 < 0.75 = mean_ok false, mean_band 0: ${rows(0L)}")
    assert(rows(1L) == ((20L, false, 0, false, 0)),
      s"q1: recovered 0 = band 0, top1 must tiebreak to the LOWER vec_id: ${rows(1L)}")
    // single-query form: no mean columns, floor met exactly at 4/5 = 0.8
    val single = Approx.topKVerdict(
      exact.filter($"q_id" === 0L), approx, floor = 0.8, watch = 0.8).collect()
    assert(single.length == 1 && single(0).getBoolean(2),
      "overlap == floor must pass (>= with epsilon)")
    assert(single(0).getInt(single(0).fieldIndex("overlap_band")) == 2,
      "overlap == watch must band as 2 (>= with epsilon)")
  }

  test("every graduated verdict frame reads all-true (the driver's oracle gate)") {
    // The 13 round-13 graduations: each query's boolean columns are the
    // in-engine projection of the floors this spec asserts numerically;
    // the DuckDB oracle replays them as literal TRUE, so a single false
    // bit is a driver-visible hash mismatch. Assert the same here.
    val graduated = Seq(
      "agg_approx_distinct", "agg_approx_percentile", "agg_cms_freq",
      "agg_hll_merge", "dedup_embedding_lsh", "dedup_minhash_lsh",
      "similarity_ivf_batch_topk", "similarity_ivf_topk",
      "similarity_lsh_topk", "similarity_lsh_topk_banded",
      "similarity_pq_batch_topk", "similarity_pq_topk",
      "text_compression_ratio")
    graduated.foreach { name =>
      val out = Catalog.queriesMap(name)(spark, dir)
      val boolCols = out.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.BooleanType).map(_.name)
      assert(boolCols.nonEmpty, s"$name verdict frame has no boolean verdict column")
      // round 14: every frame also carries >= 1 integer accuracy band
      // column (2 = above watch, 1 = above floor, 0 = below); the oracle
      // replays literal 2, so anything else is a driver hash mismatch
      val bandCols = out.schema.fields
        .filter(f => f.name.endsWith("_band")).map(_.name)
      assert(bandCols.nonEmpty, s"$name verdict frame has no _band column")
      val rows = out.collect()
      assert(rows.nonEmpty, s"$name verdict frame is empty")
      rows.foreach { r =>
        boolCols.foreach { c =>
          val i = r.fieldIndex(c)
          assert(!r.isNullAt(i) && r.getBoolean(i),
            s"$name: verdict column $c is not true on row $r")
        }
        bandCols.foreach { c =>
          val i = r.fieldIndex(c)
          assert(!r.isNullAt(i) && r.getInt(i) == 2,
            s"$name: band column $c is not 2 on row $r — accuracy drifted " +
              "below its watch threshold (driver-visible as a hash mismatch)")
        }
      }
      info(s"$name: ${rows.length} rows, verdict cols ${boolCols.mkString(",")} " +
        s"all true, band cols ${bandCols.mkString(",")} all 2")
    }
  }
}
