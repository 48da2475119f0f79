package graft

import java.nio.file.{Files, Paths}

/** Round-15 optimization evidence tool: dump the executed (AQE-final)
  * formatted plan for the named queries into <plansDir>/<name>_<tag>.txt
  * (plansDir from -Dgraft.plans.dir, default plans/r16).
  *
  * Usage: runMain graft.ExplainSome <sfDir> <tag> <query> [<query> ...]
  */
object ExplainSome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val plansDir = System.getProperty("graft.plans.dir", "plans/r16")
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(plansDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // let AQE finalize so the plan is the executed one
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(s"$plansDir/${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[explainsome] wrote $plansDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
