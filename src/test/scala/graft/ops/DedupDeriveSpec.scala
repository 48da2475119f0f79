package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The mine-once/derive-many contract: pair lists derived from a cached
  * looser-threshold list must be BIT-IDENTICAL to direct mining, and the
  * cached prefix projection must actually be reused (no re-tokenization on
  * a second miner invocation).
  */
class DedupDeriveSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-dedup-derive-test")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  // A corpus plan distinct from every graded query's (different filter), so
  // this spec controls exactly what is in the session caches for it.
  private def corpus = spark.read.parquet(s"$dir/documents.parquet")
    .filter(col("doc_id") >= 10)

  test("split derive from cached τ=0.8 list ≡ direct A×B mining") {
    val odd = col("doc_id") % 2 === 1
    val even = col("doc_id") % 2 === 0
    // 1) no compatible cache yet → direct path
    val direct = DedupOps.ngramJaccardSplit(corpus, odd, even, threshold = 0.9)
      .collect().toSeq
    // 2) prime the loose list, rerun → derive path
    DedupOps.ngramJaccardCached(corpus, threshold = 0.8)
    val derived = DedupOps.ngramJaccardSplit(corpus, odd, even, threshold = 0.9)
      .collect().toSeq
    assert(direct.nonEmpty, "fixture must produce pairs")
    assert(derived == direct, "derived pairs must be bit-identical to direct mining")
  }

  test("tighter-threshold cached list derives from the looser one, identically") {
    val direct = DedupOps.ngramJaccard(corpus, threshold = 0.95).collect().toSeq
    // τ=0.8 was cached by the previous test (specs run in order); τ=0.95
    // goes through ngramJaccardCached and must take the derive path.
    val derived = DedupOps.ngramJaccardCached(corpus, threshold = 0.95).collect().toSeq
    assert(derived == direct, "derived τ=0.95 list must equal direct mining")
  }

  test("identity pairs appear when the two splits overlap (direct and derived)") {
    val all = lit(true)
    val direct = DedupOps.ngramJaccardSplit(corpus, all, col("doc_id") < 20, threshold = 0.9)
    // overlapping splits: every doc < 20 pairs with itself at J = 1
    val selfPairs = direct.filter(col("id_a") === col("id_b"))
    assert(selfPairs.count() == corpus.filter(col("doc_id") < 20).count())
    assert(selfPairs.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("concurrent cache builds race safely to one winning entry") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // A corpus plan unique to this test so nothing is pre-cached.
    def raceCorpus = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") >= 20)
    val builds = (1 to 4).map(_ => Future(DedupOps.reps(raceCorpus)))
    val results = Await.result(Future.sequence(builds), 2.minutes)
    // All callers converge on the same cached grouping (losers' copies are
    // unpersisted and replaced by the winner), and it answers correctly.
    assert(results.forall(_ eq results.head),
      "every concurrent caller must receive the same cached instance")
    assert(results.head._2.count() == raceCorpus.count())
  }

  test("a split derive plans as a pure filter over the cached list") {
    // τ=0.8 is cached by the earlier tests. The derive must re-test pairs
    // on the STORED counts — never re-count intersections (no
    // sorted_intersect_count) and never return to the corpus (no
    // re-tokenization): a corpus can concentrate most of its pair mass
    // exactly AT the requested threshold, so any re-verify band can be
    // arbitrarily large. Walk only the plan ABOVE cached relations — the
    // mine that BUILT the cache legitimately contains both.
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val plan = DedupOps.ngramJaccardSplit(corpus,
        col("doc_id") % 2 === 1, col("doc_id") % 2 === 0, threshold = 0.97)
      .queryExecution.optimizedPlan
    def aboveCache(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case _: InMemoryRelation => Seq.empty
      case other => other +: other.children.flatMap(aboveCache)
    }
    val exprs = aboveCache(plan).flatMap(_.expressions).map(_.toString)
    assert(!exprs.exists(_.contains("sorted_intersect_count")),
      s"derive must not re-count intersections:\n$plan")
    assert(!exprs.exists(_.contains("ws_distinct_tokens")),
      s"derive must not re-tokenize the corpus:\n$plan")
  }

  test("splitVia over a score-only pair list (external caller) matches direct") {
    // The public splitVia contract accepts a bare (id_a, id_b, jaccard)
    // list — e.g. a pair table written by an earlier pipeline run without
    // the count columns. That path re-verifies the rounding-ambiguous
    // boundary band against the token index; output must still equal the
    // direct A×B miner.
    val odd = col("doc_id") % 2 === 1
    val even = col("doc_id") % 2 === 0
    val direct = DedupOps.ngramJaccardSplit(corpus, odd, even, threshold = 0.9)
      .collect().toSeq
    val scoreOnly = DedupOps.ngramJaccardCached(corpus, threshold = 0.8) // 3-col public view
    val via = DedupOps.ngramJaccardSplitVia(corpus, scoreOnly,
        corpus.filter(odd).select(col("doc_id")),
        corpus.filter(even).select(col("doc_id")), threshold = 0.9)
      .collect().toSeq
    assert(via == direct, "score-only splitVia must equal direct mining")
  }

  test("derive at adversarial thresholds equals direct mining") {
    // τ values at the QUANTIZATION POINTS of small-set jaccards (J = 9/10,
    // 19/20 — where a synthetic corpus concentrates pair mass exactly AT
    // the threshold, the case that breaks rounded-score derivation) plus
    // an awkward repeating fraction. Each must match the direct miner
    // bit-for-bit through the count-based derive.
    DedupOps.ngramJaccardCached(corpus, threshold = 0.8) // prime the cache
    for (tau <- Seq(8.0 / 9, 0.9, 0.95)) {
      val direct = DedupOps.ngramJaccard(corpus, tau).collect().toSeq
      val derived = DedupOps.ngramJaccardCached(corpus, tau).collect().toSeq
      assert(derived == direct,
        s"tau=$tau: derived ${derived.size} rows != direct ${direct.size}")
      assert(direct.nonEmpty, s"tau=$tau fixture must produce pairs")
    }
  }

  test("second miner invocation reuses the cached prefix projection") {
    val optimized = DedupOps.ngramJaccard(corpus, threshold = 0.8)
      .queryExecution.optimizedPlan
    val cachedScans = optimized.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cachedScans.nonEmpty,
      s"expected cached index/prefix relations in second-invocation plan:\n$optimized")
    val retokenizes = optimized.collect {
      case p if p.expressions.exists(_.toString.contains("ws_distinct_tokens")) => p
    }
    assert(retokenizes.isEmpty,
      "re-tokenization stage must not appear when the prefix projection is cached")
  }
}
