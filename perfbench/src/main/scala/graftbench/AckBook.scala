package graftbench

import graft.streaming.PublishTransport
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** How the generator names things so the publish side can tell which file
  * and line a published row came from without parsing JSON: the file id is
  * the path's 33-digit timestamp, and a data line's `updated` HLC encodes
  * `id * LinesPerFile + line` above a fixed base. */
object Codec {
  val LinesPerFile = 10000L
  val HlcBase = 1700000000000000000L

  def ts33(id: Long): String = f"$id%033d"
  def dataPath(id: Long, topic: Int): String =
    s"/t$topic/2024-01-01/${ts33(id)}-u$id-orders-1.ndjson"
  def markerPath(id: Long, topic: Int): String =
    s"/t$topic/2024-01-01/${ts33(id)}.RESOLVED"
  def updated(id: Long, line: Int): String =
    s"${HlcBase + id * LinesPerFile + line}.0000000000"

  /** File id of a landed or routed path, or -1 when it has none. */
  def fileId(path: String): Long = {
    val i = path.lastIndexOf('/') + 1
    if (path.length < i + 33) -1L
    else try path.substring(i, i + 33).toLong
    catch { case _: NumberFormatException => -1L }
  }

  /** Line index of an envelope line (0 for a RESOLVED marker's only line),
    * or -1 when the line carries no benchmark HLC. */
  def line(payload: String): Int = {
    val tag = "\"updated\": \""
    val i = payload.indexOf(tag)
    if (i < 0) { if (payload.contains("\"resolved\"")) 0 else -1 }
    else {
      val j = payload.indexOf('.', i + tag.length)
      if (j < 0) -1
      else try ((payload.substring(i + tag.length, j).toLong - HlcBase) %
        LinesPerFile).toInt
      catch { case _: NumberFormatException => -1 }
    }
  }
}

/** Per-file ACK bookkeeping: a file is delivered when every one of its
  * lines has been ACKed at least once, and its delivery time is the first
  * moment that became true. Redeliveries (at-least-once replays) never
  * move a delivery time. */
final class AckBook {
  private final class FileState(val lines: Int) {
    val acked = new java.util.BitSet(lines)
    var nAcked = 0
    var doneNs = -1L
  }
  private val files = new ConcurrentHashMap[Long, FileState]()

  def expect(id: Long, lines: Int): Unit = {
    require(lines > 0 && lines <= Codec.LinesPerFile)
    files.put(id, new FileState(lines))
  }

  /** Record that `line` of file `id` was ACKed at `ns`. Rows of files the
    * book was not told about (earlier set-ups' replays) are ignored. */
  def ack(id: Long, line: Int, ns: Long): Unit = {
    val f = files.get(id)
    if (f != null && line >= 0 && line < f.lines) f.synchronized {
      if (!f.acked.get(line)) {
        f.acked.set(line)
        f.nAcked += 1
        if (f.nAcked == f.lines) f.doneNs = ns
      }
    }
  }

  def doneNs(id: Long): Option[Long] =
    Option(files.get(id)).flatMap(f => f.synchronized {
      if (f.doneNs >= 0) Some(f.doneNs) else None
    })
  def delivered(id: Long): Boolean = doneNs(id).isDefined
  /** Distinct expected lines ACKed at least once. */
  def uniqueRows: Long = {
    var n = 0L
    files.values().forEach(f => f.synchronized { n += f.nAcked })
    n
  }
}

/** JVM-global probes the benchmark's wrapping transport writes into.
  * Publishing runs in executor tasks; in `local[n]` those share this JVM,
  * so a singleton carries the counts back to the benchmark's main thread. */
object Probe {
  @volatile var book = new AckBook
  @volatile var trace: Option[Trace] = None
  val publishCalls = new AtomicLong()
  val publishRows = new AtomicLong()
  val publishBusyNs = new AtomicLong()
  val ensureTopicCalls = new AtomicLong()

  def reset(traceTo: Option[Trace]): Unit = {
    book = new AckBook
    trace = traceTo
    Seq(publishCalls, publishRows, publishBusyNs, ensureTopicCalls)
      .foreach(_.set(0))
  }
}

/** The benchmark's [[PublishTransport]]: delegates to the real transport
  * and, when a partition's `publishPartition` returns (every frame ACKed),
  * stamps the ACK time on each row it carried. */
final case class TimingTransport(inner: PublishTransport)
    extends PublishTransport {
  override def ensureTopic(topic: String): Unit = {
    Probe.ensureTopicCalls.incrementAndGet()
    inner.ensureTopic(topic)
  }

  override def publishPartition(
      rows: Iterator[(String, String, Map[String, String])]): Unit = {
    val ids = scala.collection.mutable.ArrayBuilder.make[Long]
    val lines = scala.collection.mutable.ArrayBuilder.make[Int]
    val t0 = System.nanoTime()
    inner.publishPartition(rows.map { r =>
      ids += Codec.fileId(r._3.getOrElse("path", ""))
      lines += Codec.line(r._2)
      r
    })
    val t1 = System.nanoTime()
    val is = ids.result()
    if (is.nonEmpty) {
      val ls = lines.result()
      val book = Probe.book
      var i = 0
      while (i < is.length) { book.ack(is(i), ls(i), t1); i += 1 }
      Probe.publishCalls.incrementAndGet()
      Probe.publishRows.addAndGet(is.length.toLong)
      Probe.publishBusyNs.addAndGet(t1 - t0)
      Probe.trace.foreach { tr =>
        val batch = Option(org.apache.spark.TaskContext.get())
          .flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
        tr.add("publish", "publish", s"p${tr.nextId()}",
          batch.map(b => s"addBatch-$b"), t0, t1)
      }
    }
  }
}
