package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKPerGroupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.local(4)
    .appName("graft-topk-test")
    .getOrCreate()

  test("matches the window formulation on random data") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val df = (1 to 5000)
      .map(i => (s"g${rng.nextInt(20)}", i.toLong, rng.nextInt(1000).toDouble))
      .toDF("grp", "id", "score")
      .repartition(7)
    val mine = TopKPerGroup(df, 5, Seq("grp"), Seq("score" -> true, "id" -> false))
      .select("grp", "id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val w = Window.partitionBy($"grp").orderBy($"score".desc, $"id")
    val expected = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
      .select("grp", "id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mine == expected)
  }

  test("groups smaller than k keep all their rows") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("grp", "v")
    val out = TopKPerGroup(df, 10, Seq("grp"), Seq("v" -> false)).count()
    assert(out == 3)
  }

  test("optimizer rule rewrites window rn<=k into TopKPerGroup when rn is dropped") {
    val s = spark
    import s.implicits._
    TopKRewrite.install(spark)
    val rng = new scala.util.Random(11)
    val df = (1 to 2000)
      .map(i => (s"g${rng.nextInt(10)}", i.toLong, rng.nextInt(500).toDouble))
      .toDF("grp", "id", "score").repartition(5)
    val w = Window.partitionBy($"grp").orderBy($"score".desc, $"id")
    val query = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 4)
      .select("grp", "id", "score") // rn discarded -> rewrite eligible
    val plan = query.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("WindowGroupLimit"), s"redundant group limit:\n$plan")
    assert(!plan.contains("Sort ["), s"sort survived:\n$plan")
    // results identical to the unrewritten semantics
    val expected = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 4)
      .select("grp", "id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val got = query.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("optimizer rule does NOT fire when the rank column is kept") {
    val s = spark
    import s.implicits._
    TopKRewrite.install(spark)
    val df = (1 to 100).map(i => (s"g${i % 5}", i)).toDF("grp", "v")
    val w = Window.partitionBy($"grp").orderBy($"v".desc)
    val query = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select("grp", "v", "rn") // rn kept -> must stay a window
    val plan = query.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"window should survive:\n$plan")
    assert(!plan.contains("FinalTopK"))
  }

  test("physical plan is partial -> exchange -> final (no full sort)") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (s"g${i % 5}", i)).toDF("grp", "v")
    val plan = TopKPerGroup(df, 2, Seq("grp"), Seq("v" -> true))
      .queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK"))
    assert(plan.contains("PartialTopK"))
    assert(plan.contains("Exchange hashpartitioning(grp"))
    assert(!plan.contains("Sort ["), s"unexpected sort in:\n$plan")
  }
}
