package graft

import org.apache.spark.sql.SparkSession

/** The one local session every harness main and the test suites build:
  * `local[cpus]` with shuffle partitions pinned to the cores (not 200),
  * UTC, no UI, and the graft SQL functions. Callers pass only the
  * `spark.graft.*` keys that differ (allowQuadratic, skipEagerMaterialize,
  * sharedKeys). */
object GraftSession {
  /** Cores for the harness mains: `SPARK_GRAFT_CPUS`, default 4. It must
    * be known before the session exists (master URL), so it is env-only. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
