package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary, on the `System.nanoTime` clock.
  * `parent` is the id of the span that caused it. */
final case class Span(name: String, layer: String, id: String,
    parent: Option[String], startNs: Long, endNs: Long) {
  def durNs: Long = math.max(0L, endNs - startNs)
}

/** In-memory span recorder for a traced run; written out once at the end.
  * Events timed in wall-clock milliseconds (streaming progress, listener
  * events) are mapped onto the nanoTime clock through one anchor taken at
  * construction. */
final class Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  def nextId(): Long = ids.incrementAndGet()
  def wallToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def add(name: String, layer: String, id: String, parent: Option[String],
      startNs: Long, endNs: Long): Unit =
    spans.add(Span(name, layer, id, parent, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    def q(s: String) = Json.str(s)
    val out = all.sortBy(_.startNs).map { s =>
      s"""{"name":${q(s.name)},"layer":${q(s.layer)},"id":${q(s.id)},""" +
        s""""parent":${s.parent.map(q).getOrElse("null")},""" +
        s""""start_ns":${s.startNs - anchorNs},"end_ns":${s.endNs - anchorNs}}"""
    }
    java.nio.file.Files.write(path, out.asJava)
  }
}

object Trace {
  /** Self time per layer, in seconds: each span's duration minus the part
    * of it that its children cover (children's overlap counted once). */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map { c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))
        })
        math.max(0L, s.durNs - covered)
      }.sum / 1e9
    }
  }

  /** Total length of a set of [start, end) intervals, overlaps merged. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Minimal JSON writing for the benchmark's records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
