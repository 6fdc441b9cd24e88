package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** `analytics_batch`: one closed-loop analyst running the 12 keys of
  * [[Stats.families]] in one session, in a seeded order, each result
  * materialised with a `noop` write and the cache cleared after each key,
  * as `SparkEntry.queries` serves them. */
object Analytics {
  /** Timed passes per run, at least. A third pass did not narrow the
    * spread between runs: that comes from the host, not from the passes. */
  val MinPasses = 2
  final case class Outcome(samples: Map[String, Seq[Double]],
      warmS: Double, warmByKey: Map[String, Double], passS: Seq[Double],
      passCpuS: Seq[Double], failed: Set[String],
      lastGroup: Map[String, String]) {
    def passes: Int = passS.size
  }

  /** CPU time of this JVM, all threads. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Run one key under its own job group; `sink` materialises the frame.
    * Returns the wall time in seconds. */
  private def runKey(spark: SparkSession, key: String, data: String,
      group: String)(sink: DataFrame => Unit): Double = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      sink(SparkEntry.queries(key)(spark, data))
      val t1 = System.nanoTime()
      if (!group.endsWith("#warm"))
        Probe.trace.foreach(_.add("query", "query", group, None, t0, t1))
      (t1 - t0) / 1e9
    } finally {
      spark.catalog.clearCache()
      spark.sparkContext.clearJobGroup()
    }
  }

  /** One unrecorded warm-up pass, which also writes each key's result as
    * parquet (with the DuckDB oracle SQL) under `oracleDir` for the
    * orchestrator's comparison; then whole timed passes until `seconds`
    * have passed, at least [[MinPasses]]. `passS` holds each timed pass's
    * wall time. */
  def run(spark: SparkSession, data: String, seed: Long, seconds: Int,
      oracleDir: String): Outcome = {
    val order = new scala.util.Random(seed).shuffle(Stats.analyticsKeys)
    val failed = scala.collection.mutable.Set.empty[String]
    def attempt(key: String, group: String)(sink: DataFrame => Unit)
        : Option[Double] =
      try Some(runKey(spark, key, data, group)(sink))
      catch { case e: Exception =>
        System.err.println(s"[graftbench] $key failed: $e")
        failed += key
        None
      }
    val dir = Files.createDirectories(Paths.get(oracleDir))
    val w0 = System.nanoTime()
    val warmByKey = order.flatMap { k =>
      attempt(k, s"$k#warm")(_.coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(k).toString)).map(k -> _)
    }.toMap
    val warmS = (System.nanoTime() - w0) / 1e9
    Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(
      Stats.analyticsKeys.flatMap(k =>
        SparkEntry.oracleSql.get(k).map(s => k -> Json.str(s)))))
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val start = System.nanoTime()
    val passS, passCpuS = Vector.newBuilder[Double]
    var pass = 0
    while (pass < MinPasses || System.nanoTime() - start < seconds * 1000000000L) {
      val p0 = System.nanoTime()
      val c0 = processCpuNs()
      order.foreach { k =>
        attempt(k, s"$k#$pass")(_.write.format("noop").mode("overwrite")
          .save()).foreach { s =>
          samples(k) = samples.getOrElse(k, Vector.empty) :+ s
        }
      }
      passS += (System.nanoTime() - p0) / 1e9
      passCpuS += (processCpuNs() - c0) / 1e9
      pass += 1
    }
    Outcome(samples.toMap, warmS, warmByKey, passS.result(),
      passCpuS.result(), failed.toSet,
      order.map(k => k -> s"$k#${pass - 1}").toMap)
  }
}
