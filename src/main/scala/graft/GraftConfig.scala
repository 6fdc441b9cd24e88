package graft

import org.apache.spark.sql.SparkSession

/** R15: the unified config surface (main.go:33-50's pflag table), mapped
  * onto Spark's own config mechanism — one `spark.graft.*` namespace read
  * from the session conf instead of env vars and literals scattered across
  * entry points. Spark conf is the right carrier: it flows from
  * spark-submit `--conf`, session builders, and `SET` alike, and is
  * visible to every executor the same way pflags were visible to the one
  * process.
  *
  * Flag mapping (reference default in parens):
  *  - `spark.graft.bindAddr`       ← --bindAddr (":13013"), used by the
  *                                    ndjson ingest HTTP shim (IngestServer)
  *  - `spark.graft.gracePeriodMs`  ← --gracePeriod (30 s), used by
  *                                    Streams.gracefulDrain callers
  *  - `spark.graft.topicPrefix`    ← --topicPrefix (""), Streams.route
  *  - `spark.graft.sharedKeys`     ← --sharedKey (repeatable → comma list),
  *                                    Streams.authFilter
  *  - `spark.graft.dumpOnly`       ← --dumpOnly (false): consoleDump
  *                                    instead of routePublish
  *  - `spark.graft.sfDir`          — fixture dir for Bench/Verify; falls
  *                                    back to SPARK_GRAFT_SF_DIR (the
  *                                    driver's contract), then sf0.1
  *  - `spark.graft.credentials`    ← --credentials (""): path to a sink
  *                                    credentials JSON file. The bridge
  *                                    treats an unusable credentials file
  *                                    as FATAL at startup (main.go:35 +
  *                                    server.go:50-57: bad creds kill the
  *                                    process before it accepts traffic) —
  *                                    so does this: a set-but-unreadable
  *                                    path throws from `from()`. The
  *                                    in-sandbox sink (filesystem /
  *                                    NetBroker) never consults it; a
  *                                    production Kafka/PubSub swap reads
  *                                    the validated path from here.
  *  - `spark.graft.maxFilesPerTrigger` — micro-batch size for the file-
  *                                    drop ingest (0 = unbounded, the
  *                                    default). The reference has no
  *                                    analogue (it processes one POST at
  *                                    a time); micro-batch granularity is
  *                                    this engine's own degree of freedom,
  *                                    and the streaming bench records
  *                                    throughput at two settings of it.
  *  (--projectID remains Google-Cloud-specific with no analogue: topics
  *  here are directories/brokers, not cloud resource names.)
  */
final case class GraftConfig(
  bindAddr: String,
  gracePeriodMs: Long,
  topicPrefix: String,
  sharedKeys: Set[String],
  dumpOnly: Boolean,
  sfDir: String,
  credentials: Option[String],
  maxFilesPerTrigger: Int)

object GraftConfig {
  def from(spark: SparkSession): GraftConfig = {
    def c(key: String, dflt: String): String =
      spark.conf.get(s"spark.graft.$key", dflt)
    val creds = Option(c("credentials", "")).map(_.trim).filter(_.nonEmpty)
    creds.foreach { p =>
      val f = new java.io.File(p)
      if (!f.isFile || !f.canRead)
        throw new IllegalArgumentException(
          s"spark.graft.credentials=$p is not a readable file — refusing " +
            "to start with unusable sink credentials (R15 parity: the " +
            "reference exits fatally on bad --credentials)")
    }
    GraftConfig(
      bindAddr = c("bindAddr", ":13013"),
      gracePeriodMs = c("gracePeriodMs", "30000").toLong,
      topicPrefix = c("topicPrefix", ""),
      sharedKeys = c("sharedKeys", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSet,
      dumpOnly = c("dumpOnly", "false").toBoolean,
      sfDir = c("sfDir",
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")),
      credentials = creds,
      maxFilesPerTrigger = maxFilesPerTrigger(spark))
  }

  /** Shared parse for `spark.graft.maxFilesPerTrigger` (round-13 ADVICE):
    * `ingestLines` reads this knob directly (it must not run `from()`'s
    * whole-config validation — a bad credentials path is the publish
    * transport's failure, not the source's), so the parse lives HERE so
    * the two read paths can never drift on defaults or error shape.
    * 0 = unbounded (default); negative is rejected rather than silently
    * meaning unbounded. */
  def maxFilesPerTrigger(spark: SparkSession): Int = {
    val v = spark.conf.get("spark.graft.maxFilesPerTrigger", "0").toInt
    require(v >= 0,
      s"spark.graft.maxFilesPerTrigger=$v — must be >= 0 (0 = unbounded)")
    v
  }
}
