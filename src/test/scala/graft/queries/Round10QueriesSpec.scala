package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic properties of the round-10 queries that the row/hash oracle
  * can't see: conservation laws, monotonicity, and the left-groupwise
  * cogroup contract (order-less customers survive).
  */
class Round10QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-round10-test")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("typed_cogroup keeps order-less customers (left-groupwise join)") {
    val out = Catalog.queriesMap("typed_cogroup")(spark, dir)
      .agg(sum("n_customers"), sum("n_orders")).head()
    val nCust = spark.read.parquet(s"$dir/customer.parquet").count()
    val nOrd = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(out.getLong(0) == nCust,
      s"cogroup must emit every customer exactly once: ${out.getLong(0)} vs $nCust")
    assert(out.getLong(1) == nOrd,
      s"cogroup must account every order exactly once: ${out.getLong(1)} vs $nOrd")
  }

  test("quality_gopher_rules: keep is the AND of the five integer gates") {
    val df = Catalog.queriesMap("quality_gopher_rules")(spark, dir)
    val bad = df.filter(
      col("keep") =!= col("r_wc") * col("r_mwl") * col("r_sym") *
        col("r_alpha") * col("r_stop")).count()
    assert(bad == 0)
    val nonBinary = df.filter(
      !col("r_wc").isin(0, 1) || !col("r_mwl").isin(0, 1) ||
        !col("r_sym").isin(0, 1) || !col("r_alpha").isin(0, 1) ||
        !col("r_stop").isin(0, 1)).count()
    assert(nonBinary == 0, "rule flags must be 0/1")
    // the synthetic corpus is pure [a-z ] words — alphabetic + symbol
    // gates must pass everywhere (a failure means the tokenizer drifted)
    assert(df.filter(col("r_alpha") === 0 || col("r_sym") === 0).count() == 0)
  }

  test("corpus_token_mixture: rates capped, budget respected, deficit flagged") {
    val df = Catalog.queriesMap("corpus_token_mixture")(spark, dir).cache()
    try {
      assert(df.filter(col("rate_e6") > 1000000L || col("rate_e6") < 0).count() == 0)
      val r = df.agg(
        sum("n_tokens"), sum("expected_tokens"), sum("target_tokens")).head()
      val budget = r.getLong(0) / 2
      // floor-division only loses tokens, never invents them
      assert(r.getLong(1) <= r.getLong(2), "expected must not exceed target")
      assert(r.getLong(2) <= budget, "per-domain targets must fit the budget")
      val wrongFlag = df.filter(
        (col("needs_upsample") === 1) =!= (col("target_tokens") > col("n_tokens")))
        .count()
      assert(wrongFlag == 0)
      // a domain that needs no upsampling can deliver its whole target
      val short = df.filter(col("needs_upsample") === 0 &&
        col("expected_tokens") > col("n_tokens")).count()
      assert(short == 0)
    } finally df.unpersist()
  }

  test("shard first/last accounting is exact past the old 2^20 doc_id packing limit") {
    // corpus_shuffle_shard once packed (ord, doc_id) as ord*2^20 + doc_id,
    // silently corrupting order for doc_id >= 2^20. The struct-ordered
    // min_by/max_by must match a driver brute force on ids that straddle
    // that boundary.
    import spark.implicits._
    val ids = Seq(5L, 7L, 1048575L, 1048577L, 123456789L, 99999999999L)
    val key = md5(concat(col("doc_id").cast("string"), lit(":s7")))
    val out = ids.toDF("doc_id")
      .select(col("doc_id"),
        conv(substring(key, 1, 8), 16, 10).cast("long").as("sh"),
        conv(substring(key, 9, 8), 16, 10).cast("long").as("ord"))
      .select(col("doc_id"), (col("sh") % 16).as("shard"), col("ord"))
      .groupBy("shard")
      .agg(min_by(col("doc_id"), struct(col("ord"), col("doc_id"))).as("first_doc"),
        max_by(col("doc_id"), struct(col("ord"), col("doc_id"))).as("last_doc"))
      .collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val brute = ids.map { d =>
      val h = md5hex(s"$d:s7")
      (java.lang.Long.parseLong(h.substring(0, 8), 16) % 16,
        java.lang.Long.parseLong(h.substring(8, 16), 16), d)
    }
    val expected = brute.groupBy(_._1).map { case (sh, rows) =>
      val sorted = rows.map(r => (r._2, r._3)).sorted
      sh -> (sorted.head._2, sorted.last._2)
    }
    assert(out.nonEmpty)
    out.foreach { r =>
      val (f, l) = expected(r.getAs[Long]("shard"))
      assert(r.getAs[Long]("first_doc") == f && r.getAs[Long]("last_doc") == l,
        s"shard ${r.getAs[Long]("shard")}: got (${r.getAs[Long]("first_doc")}, ${r.getAs[Long]("last_doc")}), want ($f, $l)")
    }
  }

  test("mixture plan math floor-divides exactly at adversarial fractional parts") {
    // Spark decimal division rounds HALF_UP to the adjusted scale (6)
    // BEFORE floor(), so bare floor(a/b) returns q+1 whenever the exact
    // quotient's fraction >= 0.9999995. The subtract-remainder identity
    // ((a - a%b)/b) must hold at exactly those points.
    import spark.implicits._
    val cases = Seq(
      // (t, n) with t*1e6 ≡ n-1 (mod n): exact quotient fraction
      // (n-1)/n ≥ 0.9999995 once n ≥ 2e6, the HALF_UP round-up zone
      (1999997L, 1999999L), // fraction 1999998/1999999 = 0.9999995…
      (2999996L, 2999999L), // fraction 2999998/2999999 = 0.9999996…
      (1L, 3L), (2L, 3L), (999999L, 1000000L))
    val df = cases.toDF("t", "n")
      .select(col("t"), col("n"),
        ((col("t").cast("decimal(38,0)") * 1000000 -
          (col("t").cast("decimal(38,0)") * 1000000) % col("n")) / col("n"))
          .cast("long").as("got"),
        floor(col("t").cast("decimal(38,0)") * 1000000 / col("n"))
          .cast("long").as("naive"))
    df.collect().foreach { r =>
      val t = BigInt(r.getAs[Long]("t")); val n = BigInt(r.getAs[Long]("n"))
      val exact = (t * 1000000 / n).toLong
      assert(r.getAs[Long]("got") == exact,
        s"floorDiv($t*1e6, $n): got ${r.getAs[Long]("got")}, exact $exact")
    }
    // and the naive form really IS wrong somewhere in this set — the fence
    // fails loudly if Spark ever changes division rounding semantics
    val naiveWrong = df.collect().exists { r =>
      val t = BigInt(r.getAs[Long]("t")); val n = BigInt(r.getAs[Long]("n"))
      r.getAs[Long]("naive") != (t * 1000000 / n).toLong
    }
    assert(naiveWrong,
      "expected at least one naive floor(a/b) divergence in the adversarial set")
  }

  test("text_feature_hashing conserves bigram counts per document") {
    val feats = Catalog.queriesMap("text_feature_hashing")(spark, dir)
    assert(feats.filter(col("bucket") < 0 || col("bucket") > 7).count() == 0)
    val perDoc = feats.groupBy("doc_id").agg(sum("n").as("n_feats"))
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        expr("size(filter(split(lower(text), '\\\\s+'), t -> t <> ''))").as("nt"))
      .filter(col("nt") >= 2)
      .select(col("doc_id"), (col("nt") - 1).cast("long").as("n_bigrams"))
    val mismatched = perDoc.join(expected, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("n_feats"), lit(-1L)) =!=
        coalesce(col("n_bigrams"), lit(-1L)))
      .count()
    assert(mismatched == 0,
      "sum of hashed-feature counts must equal the doc's bigram count")
  }

  test("text_zipf_alpha: negative slope over min(100, #types) ranks") {
    val row = Catalog.queriesMap("text_zipf_alpha")(spark, dir).head()
    val types = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(
        expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')")).as("tok"))
      .select("tok").distinct().count()
    assert(row.getAs[Long]("n") == math.min(100L, types))
    val slope = row.getAs[Double]("zipf_slope")
    assert(slope < 0.0, s"rank-frequency slope must be negative: $slope")
    assert(slope > -5.0, s"implausible Zipf exponent: $slope")
  }

  test("dedup_passage: chunk grid matches doc_chunking; exact-dup docs are 100% duplicated") {
    val dp = Catalog.queriesMap("dedup_passage")(spark, dir).cache()
    try {
      assert(dp.filter(col("n_dup_chunks") > col("n_chunks") ||
        col("n_dup_chunks") < 0).count() == 0)
      // same chunk grid as the graded chunker
      val grid = Catalog.queriesMap("doc_chunking")(spark, dir)
        .groupBy("doc_id").agg(count(lit(1)).as("g"))
      val off = dp.join(grid, Seq("doc_id"))
        .filter(col("n_chunks") =!= col("g")).count()
      assert(off == 0, "dedup_passage must chunk on doc_chunking's grid")
      // a doc whose full text occurs twice corpus-wide has every chunk
      // duplicated
      val dupDocs = spark.read.parquet(s"$dir/documents.parquet")
        .groupBy("text").agg(count(lit(1)).as("c"), min("doc_id").as("doc_id"))
        .filter(col("c") >= 2).select("doc_id")
      val notFull = dp.join(dupDocs, Seq("doc_id"))
        .filter(col("dup_pct_e4") =!= 10000L).count()
      assert(notFull == 0, "exact-duplicate docs must be 100% passage-duplicated")
    } finally dp.unpersist()
  }

  test("text_rrf_fusion: scores decrease with rank and match the closed form") {
    val rows = Catalog.queriesMap("text_rrf_fusion")(spark, dir)
      .orderBy("rank").collect() // bounded: union of two top-20 lists
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("rrf_e6") >= b.getAs[Long]("rrf_e6"),
          "rrf_e6 must be nonincreasing in rank")
      case _ => ()
    }
    rows.foreach { r =>
      val t = r.getAs[Int]("tfidf_rank")
      val b = r.getAs[Int]("bm25_rank")
      assert(t > 0 || b > 0, "every fused doc must come from some ranker")
      val exact = math.floor(
        ((if (t > 0) 1.0 / (t + 60) else 0.0) +
          (if (b > 0) 1.0 / (b + 60) else 0.0)) * 1000000 + 0.5).toLong
      assert(r.getAs[Long]("rrf_e6") == exact)
    }
  }
}
