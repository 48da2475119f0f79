package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Distributed BPE must equal a straightforward driver-side reference on
  * random corpora — including merge rules that produce multi-character
  * symbols and adjacent self-pairs.
  *
  * The reference implements the SAME documented merge-application
  * convention as the product (TextOps.bpeApplyMerge): a two-pass
  * left-to-right non-overlapping replace over the spaced symbol encoding,
  * where a match consumes its trailing space, so the immediately
  * following pair position cannot start a match in the same pass (pass 2
  * catches those). This equals greedy leftmost merging except inside runs
  * of ≥5 repetitions of a self-merged symbol — [[twoPassMerge]] simulates
  * the regex semantics in collection code, and a dedicated test pins the
  * run-of-5/6 behavior so the convention is load-bearing, not
  * accidental.
  */
class BpePropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-bpe-prop-test")
    .getOrCreate()

  /** One regex pass of ` a b ` → ` ab ` simulated on the symbol list: a
    * merge at position i consumes the space before position i+2, so a
    * pair STARTING at i+2 cannot match in this pass.
    */
  private def onePass(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var blockedStart = -1
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b
          && i != blockedStart) {
        out += a + b; blockedStart = i + 2; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** The product's two-pass merge convention on a symbol list. */
  private def twoPassMerge(syms: Seq[String], a: String, b: String): Seq[String] =
    onePass(onePass(syms, a, b), a, b)

  /** Reference BPE: vocab of (word, count), up to k merge rounds (stops
    * early when no adjacent pair remains), two-pass merge application.
    */
  private def referenceBpe(
      words: Map[String, Long], k: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Seq[String], Long] =
      words.toSeq
        .groupMapReduce[Seq[String], Long] { case (w, _) =>
          w.map(_.toString).toSeq
        } { case (_, n) => n }(_ + _)
    (1 to k).flatMap { step =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.indices.dropRight(1).foreach { i =>
          val p = (syms(i), syms(i + 1))
          pc(p) = pc.getOrElse(p, 0L) + n
        }
      }
      if (pc.isEmpty) None
      else {
        val ((a, b), cnt) = pc.minBy { case ((x, y), c) => (-c, x, y) }
        vocab = vocab.toSeq.groupMapReduce[Seq[String], Long] { case (syms, _) =>
          twoPassMerge(syms, a, b)
        } { case (_, n) => n }(_ + _)
        Some((step, a, b, cnt))
      }
    }
  }

  test("distributed BPE == reference on random corpora (3 seeds)") {
    import spark.implicits._
    // tiny alphabet → heavy pair collisions, multi-char merges, self-pairs
    val alphabet = "abc"
    for (seed <- Seq(11, 42, 77)) {
      val rnd = new scala.util.Random(seed)
      val words = (1 to 60).map { _ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(3))).mkString
      }
      val text = words.mkString(" ")
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val k = 5
      val got = TextOps.bpeTrainMerges(docs, k)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      val wordCounts = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val expected = referenceBpe(wordCounts, k)
      assert(got === expected, s"seed $seed corpus: $text")
    }
  }

  test("BOTH trainer regimes (driver dictionary / distributed rounds) == reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, explode, expr, lit}
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val words = (1 to 80).map { _ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => "abcd"(rnd.nextInt(4))).mkString
      }
      val k = 5
      val wordCounts = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val expected = referenceBpe(wordCounts, k)
      // driver regime, called directly on the dictionary
      val drv = TextOps.trainMergesDriver(wordCounts.toArray, k)
      assert(drv === expected, s"driver regime diverged (seed $seed)")
      // distributed regime, forced regardless of dictionary size
      val vocabDf = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
        .select(explode(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      val dist = TextOps.trainMergesDistributed(vocabDf, k)
      assert(dist === expected, s"distributed regime diverged (seed $seed)")
    }
  }

  test("byte-budgeted regime routing: a tiny byte bound forces the distributed path") {
    import spark.implicits._
    // ~8 word types, a handful of bytes — word-count bound alone would
    // choose the driver loop; the byte budget (round 14) must route to
    // the distributed trainer, and both routes must produce the same
    // merges. Exercises the (count, sum bytes) aggregate gate.
    val docs = Seq((1L, "low lower lowest new newer newest wide wider"))
      .toDF("doc_id", "text")
    val k = 4
    val viaDriver = TextOps.trainMergesBounded(docs, k,
      maxWords = 1000000L, maxBytes = 1L << 30)
    val viaDistributed = TextOps.trainMergesBounded(docs, k,
      maxWords = 1000000L, maxBytes = 4L)
    assert(viaDriver.nonEmpty)
    assert(viaDistributed === viaDriver,
      "byte-budget routing changed the merge sequence")
  }

  test("two-pass convention on symbol runs: splits pinned at run 4/5/6") {
    // run of 4: == greedy leftmost
    assert(twoPassMerge(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    // run of 5: same token count as leftmost, different split
    assert(twoPassMerge(Seq("a", "a", "a", "a", "a"), "a", "a")
      === Seq("aa", "a", "aa"))
    // run of 6: diverges from leftmost (which gives aa,aa,aa)
    assert(twoPassMerge(Seq("a", "a", "a", "a", "a", "a"), "a", "a")
      === Seq("aa", "a", "aa", "a"))
    // and the Spark expression agrees on the same inputs
    import spark.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "aaaaa"), (3L, "aaaaaa"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeEncodeCounts(docs, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 2L, 2L -> 3L, 3L -> 4L))
  }

  /** Reference encode: apply the learned rules in rank order with the
    * same two-pass convention and return the word's final token count.
    */
  private def referenceEncode(
      merges: Seq[(Int, String, String, Long)])(w: String): Int =
    merges.foldLeft(w.map(_.toString): Seq[String]) {
      case (syms, (_, a, b, _)) => twoPassMerge(syms, a, b)
    }.length

  test("bpeEncodeCounts == reference two-pass encode per document (3 seeds)") {
    import spark.implicits._
    val alphabet = "abc"
    for (seed <- Seq(11, 42, 77)) {
      val rnd = new scala.util.Random(seed)
      val words = (1 to 60).map { _ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(3))).mkString
      }
      // three documents over the SAME corpus vocabulary the trainer sees
      val docs = words.grouped(20).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toSeq.toDF("doc_id", "text")
      val k = 5
      val wordCounts = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val merges = referenceBpe(wordCounts, k)
      val enc = referenceEncode(merges) _
      val expected = words.grouped(20).zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.size.toLong, ws.map(enc(_).toLong).sum)
      }.toSeq
      val got = TextOps.bpeEncodeCounts(docs, k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(got === expected, s"seed $seed")
    }
  }

  test("bpeEncodeCounts with k=0 counts one token per character") {
    import spark.implicits._
    val docs = Seq((1L, "abc de F!G hi7")).toDF("doc_id", "text")
    // words: abc, de, f, g, hi7 → 5 words, 3+2+1+1+3 = 10 chars
    val r = TextOps.bpeEncodeCounts(docs, 0).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 5L, 10L)))
  }

  test("pair-exhausted corpus: training stops early instead of failing") {
    import spark.implicits._
    // every word is a single character → zero adjacent pairs from step 1
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    assert(TextOps.bpeTrainMerges(docs, 3).collect().isEmpty)
    val enc = TextOps.bpeEncodeCounts(docs, 3).collect()(0)
    assert((enc.getLong(0), enc.getLong(1), enc.getLong(2)) === ((1L, 4L, 4L)))
    // partially exhausting: one merge possible, then no pairs remain
    val docs2 = Seq((1L, "ab ab c")).toDF("doc_id", "text")
    val m = TextOps.bpeTrainMerges(docs2, 5).collect()
    assert(m.length == 1 && m(0).getString(1) == "a" && m(0).getString(2) == "b")
  }
}
