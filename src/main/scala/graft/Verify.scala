package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER (GraftSession) overrides the default local[n]: the
    // multi-JVM probe runs the whole registry under `local-cluster[2,2,4096]`
    // (real executor processes, real serialization boundaries) to flush
    // single-JVM assumptions. Executors are then separate JVMs, so the
    // library classes ship via SPARK_GRAFT_EXECUTOR_CLASSPATH (the sbt
    // target/classes dirs).
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated allowlist for local iteration (the driver
    // sets no filter and runs everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Catalog (insertion) order, not Map hash order — keeps the
    // mine-once/derive-many cache priming deterministic across registry
    // growth (same reasoning as Bench).
    val selected = graft.queries.Catalog.all
      .filter(q => only.forall(_.contains(q.name)))
      .map(q => q.name -> q.run)
    // A failing query must leave a visible trace, not silently vanish from
    // the correctness report (round 3's broken query lost its row unseen).
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.map(_._1).mkString(", "))
    spark.stop()
  }
}
