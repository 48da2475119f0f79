package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Containment decontamination semantics: C(A,B) = |A∩B|/|A| must flag a
  * small document fully embedded in a much larger one — the case Jaccard
  * structurally misses — and the argmax must be deterministic.
  */
class ContainmentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-containment-test")
    .getOrCreate()

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("full containment in a larger doc is found where Jaccard misses it") {
    import org.apache.spark.sql.functions.col
    // Doc 1 (eval): 5 tokens, all inside doc 10's 25 tokens → C = 1.0 but
    // J = 5/25 = 0.2. Doc 2 (eval): disjoint vocabulary → no match.
    val evalA = "alpha beta gamma delta epsilon"
    val train = (1 to 20).map(i => s"w$i").mkString(" ") + " " + evalA
    val corpus = df(Seq(
      1L -> evalA,
      2L -> "zeta eta theta",
      10L -> train,
      11L -> "iota kappa lambda"))
    val out = DedupOps.containmentBest(corpus,
        col("doc_id") < 10, col("doc_id") >= 10, threshold = 0.9)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((1L, 10L, 1.0)))
    // Jaccard at the same τ finds nothing across the split.
    val j = DedupOps.ngramJaccardBetween(
      corpus.filter(col("doc_id") < 10),
      corpus.filter(col("doc_id") >= 10), threshold = 0.9)
    assert(j.count() === 0)
  }

  test("containmentBest equals driver brute force on random corpora at adversarial τ") {
    import org.apache.spark.sql.functions.col
    val vocabWords = (0 until 40).map(i => s"w$i")
    var nonEmptyCases = 0
    // τ = 0.07 exercises the ceil/floor epsilon guards far from the shipped
    // thresholds (τ·sz land NEAR integers for many sz, and the size/prefix
    // bounds get extreme); 0.25 hits exact-integer products (0.25·8 = 2).
    for (seed <- Seq(7, 23, 91); tau <- Seq(0.07, 0.25, 0.8)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 30L).map { id =>
        val n = 2 + rnd.nextInt(12)
        id -> Seq.fill(n)(vocabWords(rnd.nextInt(vocabWords.size))).mkString(" ")
      }
      val corpus = df(rows)
      val evalSide = rows.filter(_._1 % 3 == 0)
      val trainSide = rows.filter(_._1 % 3 != 0).map { case (id, t) =>
        id -> t.split("\\s+").toSet
      }
      val expected = evalSide.flatMap { case (ida, ta) =>
        val sa = ta.split("\\s+").toSet
        if (sa.isEmpty) None
        else {
          // brute-force best: max intersection, lowest id on ties
          val best = trainSide.map { case (idb, sb) => (idb, (sa & sb).size) }
            .maxBy { case (idb, inter) => (inter, -idb) }
          if (best._2.toDouble / sa.size >= tau)
            Some((ida, best._1,
              math.floor(best._2.toDouble / sa.size * 10000 + 0.5) / 10000))
          else None
        }
      }.sortBy(_._1)
      val got = DedupOps.containmentBest(corpus,
          col("doc_id") % 3 === 0, col("doc_id") % 3 =!= 0, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === expected, s"seed $seed tau $tau")
      if (expected.nonEmpty) nonEmptyCases += 1
    }
    assert(nonEmptyCases > 0, "property vacuous: no seed produced matches")
  }

  test("argmax tiebreak: equal intersections resolve to the lowest train id") {
    import org.apache.spark.sql.functions.col
    // Both train docs contain ALL of doc 1's tokens (inter = 3, C = 1.0 for
    // each) → the lower id must win, deterministically.
    val corpus = df(Seq(
      1L -> "red green blue",
      20L -> "red green blue extra1 extra2 extra3",
      21L -> "red green blue other1 other2"))
    val out = DedupOps.containmentBest(corpus,
        col("doc_id") === 1, col("doc_id") >= 20, threshold = 0.9)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 20L)))
  }
}
