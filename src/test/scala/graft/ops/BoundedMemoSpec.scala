package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The round-15 cache bound: session-scoped memo maps evict LRU past
  * `graft.cache.maxEntries`, run the evicted value's discard, and a
  * post-eviction lookup REBUILDS an identical value — the bound changes
  * memory behavior, never results. Also fences the size gauge name the
  * Tel surface exposes.
  */
class BoundedMemoSpec extends AnyFunSuite {

  test("memoize caches, evicts LRU past the bound, and rebuilds identically") {
    val memo = new BoundedMemo[String, String]("spec.lru", maxOverride = Some(2))
    var builds = 0
    var discards = List.empty[String]
    def build(k: String): String =
      memo.memoize(k) { builds += 1; k.toUpperCase }(v => discards ::= v)

    assert(build("a") == "A" && builds == 1)
    assert(build("a") == "A" && builds == 1) // cached, no rebuild
    assert(build("b") == "B" && builds == 2)
    assert(memo.size == 2 && discards.isEmpty)

    // touch "a" so "b" is the LRU, then overflow: "b" must be evicted
    assert(build("a") == "A" && builds == 2)
    assert(build("c") == "C" && builds == 3)
    assert(memo.size == 2)
    assert(discards == List("B"))
    assert(memo.get("b").isEmpty && memo.get("a").contains("A"))

    // post-eviction lookup rebuilds an IDENTICAL value; the get("a")
    // assertion above refreshed "a", so "c" is now the LRU entry
    assert(build("b") == "B" && builds == 4)
    assert(discards == List("C", "B"))
  }

  test("clearIf removes matching keys and runs their discard") {
    val memo = new BoundedMemo[(String, Int), Int]("spec.clear")
    var dropped = List.empty[Int]
    memo.memoize(("s1", 1))(10)(v => dropped ::= v)
    memo.memoize(("s1", 2))(20)(v => dropped ::= v)
    memo.memoize(("s2", 1))(30)(v => dropped ::= v)
    memo.clearIf(_._1 == "s1")
    assert(memo.size == 1 && dropped.sorted == List(10, 20))
    assert(memo.get(("s2", 1)).contains(30))
  }

  test("lost build race discards the loser and returns the winner") {
    val memo = new BoundedMemo[String, java.lang.Integer]("spec.race")
    var discarded = List.empty[Int]
    val winner = memo.memoize("k")(Int.box(1))(v => discarded ::= v)
    // simulate the loser thread: value already present, build's copy dropped
    val second = memo.memoize("k")(Int.box(2))(v => discarded ::= v)
    assert(winner == 1 && second == 1)
    // the second build expression is by-name: with the key present it is
    // never even evaluated (get() hits), so nothing to discard
    assert(discarded.isEmpty && memo.size == 1)
  }

  test("a bounded PRODUCT cache (bound=1) still returns identical mining results") {
    val prev = sys.props.get("graft.cache.maxEntries")
    sys.props("graft.cache.maxEntries") = "1"
    try {
      val spark = graft.GraftSession.local(4)
        .appName("graft-bounded-memo-test")
        .getOrCreate()
      import spark.implicits._
      DedupOps.clearCaches(spark)
      val corpusA = Seq(
        (0L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"),
        (2L, "totally different words here")).toDF("doc_id", "text")
      val corpusB = Seq(
        (0L, "one two three four"), (1L, "one two three four five"),
        (2L, "unrelated junk tokens")).toDF("doc_id", "text")
      def mine(df: org.apache.spark.sql.DataFrame) =
        DedupOps.ngramJaccardCached(df, threshold = 0.7)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val a1 = mine(corpusA)
      val b1 = mine(corpusB) // evicts A's pair artifact under bound=1
      val a2 = mine(corpusA) // rebuilt after eviction — must be identical
      val b2 = mine(corpusB)
      assert(a1 == a2 && b1 == b2)
      assert(a1 == Set((0L, 1L)))
      DedupOps.clearCaches(spark)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.cache.maxEntries") = v
        case None => sys.props -= "graft.cache.maxEntries"
      }
    }
  }

  test("cache sizes surface as Tel gauges under graft.cache.<name>.entries") {
    val t = graft.core.Node[Unit, Unit] { _ =>
      val memo = new BoundedMemo[String, Int]("spec.gauge")
      memo.memoize("x")(1)(_ => ())
      memo.memoize("y")(2)(_ => ())
    }.unsafeRunTrace(())
    val g = t.latestGauges.get("graft.cache.spec.gauge.entries")
    assert(g.contains(2.0), s"expected gauge 2.0, got $g")
  }
}
