package graftbench

/** One POST the generator owes the ingest server. `dueNs` is the offset
  * from the start of the measured window; `id` is unique across data files
  * and markers and becomes the file's 33-digit timestamp. */
final case class Send(dueNs: Long, id: Long, topic: Int, marker: Boolean)

/** The open-loop schedule of `bridge_steady`: data files at a fixed rate,
  * round-robin over the topics, plus one RESOLVED marker per topic per
  * second spread evenly across that second. Sends are due on this schedule
  * whether or not the server keeps up, so a stall shows up as latency of
  * every later request (each is timed from its due time). */
object Schedule {
  def openLoop(seconds: Int, filesPerSec: Int, topics: Int,
      firstId: Long = 0L): Vector[Send] = {
    require(seconds > 0 && filesPerSec > 0 && topics > 0)
    val sec = 1000000000L
    val files = (0 until seconds * filesPerSec).map { i =>
      (i * sec / filesPerSec, i % topics, false)
    }
    val markers = for { s <- 0 until seconds; t <- 0 until topics }
      yield (s * sec + (t * sec + sec / 2) / topics, t, true)
    (files ++ markers).sortBy(x => (x._1, x._3)).zipWithIndex.map {
      case ((due, topic, marker), i) => Send(due, firstId + i, topic, marker)
    }.toVector
  }

  /** How late each send started against its due time, in ns; never
    * negative (a send cannot start before the dispatcher releases it). */
  def lateness(dueNs: Seq[Long], startNs: Seq[Long]): Seq[Long] = {
    require(dueNs.size == startNs.size)
    dueNs.zip(startNs).map { case (d, s) => math.max(0L, s - d) }
  }
}
