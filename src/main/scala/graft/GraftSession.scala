package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built.
  *
  * Every session has the same shape: [[GraftExtensions]] injected, shuffle
  * partitions equal to the core count, UTC session time zone, UI off, and
  * the executor classpath/memory taken from `SPARK_GRAFT_EXECUTOR_CLASSPATH`
  * and `SPARK_GRAFT_EXECUTOR_MEM` (needed only when executors are separate
  * JVMs, e.g. `local-cluster[2,2,4096]`). The factory returns the builder,
  * so a caller can still add its own `.config(...)` before `getOrCreate()`.
  *
  * Mains size their session from the environment via [[fromEnv]]:
  * `SPARK_GRAFT_CPUS` (default: every processor of the JVM) and
  * `SPARK_GRAFT_MASTER` (default `local[cpus]`). Specs use [[local]] with
  * a fixed width.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_MASTER`, else `default`. */
  def envMaster(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", default)

  /** The graft session shape on `master` with `partitions` shuffle partitions. */
  def builder(master: String, partitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Seq(
      "SPARK_GRAFT_EXECUTOR_CLASSPATH" -> "spark.executor.extraClassPath",
      "SPARK_GRAFT_EXECUTOR_MEM" -> "spark.executor.memory"
    ).foldLeft(b) { case (acc, (env, conf)) =>
      sys.env.get(env).fold(acc)(acc.config(conf, _))
    }
  }

  /** `local[n]` with `n` shuffle partitions. */
  def local(n: Int): SparkSession.Builder = builder(s"local[$n]", n)

  /** The session a main runs on: master and width from the environment. */
  def fromEnv(): SparkSession.Builder = builder(envMaster(s"local[$envCpus]"), envCpus)
}
