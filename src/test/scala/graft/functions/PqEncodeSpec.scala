package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native PQ encoder must be BIT-IDENTICAL to the higher-order-function
  * composition it replaced — same normalization fold, same per-dimension
  * op order, same strict-< argmin — on the real embeddings table.
  *
  * The HoF oracle's normalization (`SimilarityOps.pqNormalizedHof`) is
  * materialized through a localCheckpoint barrier before the code
  * computation: inlined, the interpreted HoF tree re-evaluates the O(d)
  * norm fold inside every one of the m·ksub·dsub probes (no CSE in
  * interpreted eval, no codegen for lambda functions), which turns a
  * 500-row parity check into CPU-minutes.
  */
class PqEncodeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-pqencode-test")
    .getOrCreate()

  /** embeddings plus a materialized `nemb` column (checkpoint barrier —
    * nothing downstream can inline the normalization subtree back in).
    */
  private def withNemb(df: DataFrame): DataFrame =
    df.withColumn("nemb", graft.ops.SimilarityOps.pqNormalizedHof)
      .localCheckpoint(true)

  test("native pq_encode codes == HoF composition codes on all vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cbs = graft.ops.SimilarityOps.pqCodebooks(emb, m = 8, ksub = 16)
    val fn = PqEncode.registerUnique(spark, cbs)
    val both = withNemb(emb).select(
      col("vec_id"),
      expr(s"$fn(embedding)").as("native"),
      graft.ops.SimilarityOps.pqCodesHof(cbs, col("nemb")).as("hof"))
    val diff = both.filter(not(col("native") <=> col("hof")))
    assert(diff.isEmpty, s"codes diverge: ${diff.limit(3).collect().mkString(";")}")
    // sanity: codes are within [0, ksub) and the right arity
    val bad = both.filter(size(col("native")) =!= 8 ||
      exists(col("native"), c => c < 0 || c >= 16))
    assert(bad.isEmpty)
  }

  test("zero-norm vector: native == HoF, valid codes, no crash") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cbs = graft.ops.SimilarityOps.pqCodebooks(emb, m = 8, ksub = 16)
    val fn = PqEncode.registerUnique(spark, cbs)
    val d = emb.select(size(col("embedding"))).head.getInt(0)
    val zero = spark.range(1).select(
      array_repeat(lit(0.0f), d).as("embedding"))
    val row = withNemb(zero).select(
      expr(s"$fn(embedding)").as("native"),
      graft.ops.SimilarityOps.pqCodesHof(cbs, col("nemb")).as("hof")).head
    val native = row.getSeq[Int](0)
    val hof = row.getSeq[Int](1)
    assert(native == hof, s"zero-vector codes diverge: $native vs $hof")
    assert(native.forall(c => c >= 0 && c < 16),
      s"zero-vector produced out-of-range code (would crash 1-based ADC lookup): $native")
  }

  test("unique registration: two codebooks do not cross-wire") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb1 = graft.ops.SimilarityOps.pqCodebooks(emb, m = 8, ksub = 16)
    // degenerate second codebook: first centroid only → all codes 0
    val cb2 = cb1.map(s => Seq(s.head))
    val f1 = PqEncode.registerUnique(spark, cb1)
    val f2 = PqEncode.registerUnique(spark, cb2)
    assert(f1 != f2)
    val out = emb.limit(5).select(
      expr(s"$f2(embedding)").as("codes2"))
      .collect()
    assert(out.forall(_.getSeq[Int](0).forall(_ == 0)))
  }
}
