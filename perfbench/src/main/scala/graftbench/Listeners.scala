package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Job, stage and task counters from outside the engine, scoped by job
  * group (one group per analytics key execution) and by micro-batch (the
  * `streaming.sql.batchId` local property). Only installed on traced runs. */
final class JobListener(trace: Trace) extends SparkListener {
  import JobListener.Totals

  private val byGroup = mutable.HashMap.empty[String, Totals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val batchJobs = mutable.HashMap.empty[Long, Int]
  private var gcTotal = 0L
  private var spillTotal = 0L

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    batch.foreach(b => batchJobs(b.toLong) = batchJobs.getOrElse(b.toLong, 0) + 1)
    // Streaming jobs carry the query's run id as their group; their time is
    // already inside the batch spans, so only keys' jobs get spans here.
    groupOf(e.properties).filter(_ => batch.isEmpty).foreach { g =>
      byGroup.getOrElseUpdate(g, Totals()).jobs += 1
      e.stageIds.foreach { s => stageGroup(s) = g; stageJob(s) = e.jobId }
      jobGroup(e.jobId) = g
      jobStartMs(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for { g <- jobGroup.remove(e.jobId); t0 <- jobStartMs.remove(e.jobId) }
      trace.add("job", "spark", s"job-${e.jobId}", Some(g),
        trace.wallToNs(t0), trace.wallToNs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      for { j <- stageJob.get(si.stageId); s <- si.submissionTime
            c <- si.completionTime }
        trace.add("stage", "spark", s"stage-${si.stageId}-${si.attemptNumber()}",
          Some(s"job-$j"), trace.wallToNs(s), trace.wallToNs(c))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      gcTotal += m.jvmGCTime
      spillTotal += m.memoryBytesSpilled + m.diskBytesSpilled
      stageGroup.get(e.stageId).foreach { g =>
        val t = byGroup.getOrElseUpdate(g, Totals())
        t.tasks += 1
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
        t.taskMs += e.taskInfo.duration.toDouble
      }
    }
  }

  def group(g: String): Totals = synchronized(byGroup.getOrElse(g, Totals()))
  def jobsPerBatch: Double = synchronized {
    if (batchJobs.isEmpty) 0.0 else batchJobs.values.sum.toDouble / batchJobs.size
  }
  def gcMs: Long = synchronized(gcTotal)
  def spillBytes: Long = synchronized(spillTotal)
}

object JobListener {
  final case class Totals(var jobs: Int = 0, var tasks: Int = 0,
      var shuffleBytes: Long = 0L, var spillBytes: Long = 0L,
      var gcMs: Long = 0L, taskMs: mutable.ArrayBuffer[Double] =
        mutable.ArrayBuffer.empty)
}

/** Every progress event of the streaming queries, as it arrives. Cheap, so
  * it runs on untraced runs too: the correctness check needs the observed
  * `auth_filter.rejected_401` counts. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(id: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

  /** Sum of one observed metric over the given progress events. */
  def observed(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      group: String, field: String): Long =
    ps.flatMap(p => Option(p.observedMetrics.get(group)))
      .map(r => r.getAs[Any](field) match {
        case n: java.lang.Number => n.longValue()
        case _ => 0L
      }).sum
}
