package graftbench

import graft.streaming.PublishTransport
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a percentile needs ten samples beyond it") {
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.beyond(999, 99) == 9)
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(400).contains(95.0))
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(48).contains(75.0))
    assert(Stats.highestSupported(39).isEmpty)
  }

  test("task skew is max over median") {
    assert(Stats.skew(Seq(1.0, 1.0, 4.0)) == 4.0)
    assert(Stats.skew(Nil) == 0.0)
  }

  test("family sums add per-key medians and a total") {
    val samples = Stats.analyticsKeys.zipWithIndex.map { case (k, i) =>
      k -> Seq(i + 1.0, i + 3.0, 100.0 * (i + 1)) // median = i + 3
    }.toMap
    val sums = Stats.familySums(samples)
    val want = Stats.families.map { case (f, ks) =>
      f -> ks.map(k => Stats.analyticsKeys.indexOf(k) + 3.0).sum
    }.toMap
    want.foreach { case (f, v) => assert(sums(f) == v, f) }
    assert(sums("total") == want.values.sum)
    assert(sums.keySet == want.keySet + "total")
  }

  test("a key without samples fails the family sums") {
    val samples = Stats.analyticsKeys.map(_ -> Seq(1.0)).toMap
    intercept[IllegalArgumentException] {
      Stats.familySums(samples - Stats.analyticsKeys.head)
    }
  }

  test("open-loop schedule: rate, markers per topic per second, unique ids") {
    val s = Schedule.openLoop(seconds = 3, filesPerSec = 20, topics = 8,
      firstId = 5L)
    val (markers, files) = s.partition(_.marker)
    assert(files.size == 60)
    assert(markers.size == 24)
    assert(s.map(_.id) == (5L until 5L + 84L))
    assert(s.map(_.dueNs) == s.map(_.dueNs).sorted)
    assert(files.map(_.dueNs) == (0 until 60).map(_ * 50000000L))
    assert(files.groupBy(_.topic).values.map(_.size).toSet == Set(7, 8))
    assert(files.map(_.topic).take(8) == (0 until 8))
    (0 until 3).foreach { sec =>
      val m = markers.filter(x => x.dueNs / 1000000000L == sec)
      assert(m.map(_.topic).sorted == (0 until 8))
    }
  }

  test("lateness is start minus due, never negative") {
    assert(Schedule.lateness(Seq(100L, 200L, 300L), Seq(90L, 250L, 300L)) ==
      Seq(0L, 50L, 0L))
  }

  test("codec round-trips file ids and line numbers") {
    val id = 123456789L
    val path = s"file:///x/sharedKey=k1${Codec.dataPath(id, 3)}"
    assert(Codec.fileId(path) == id)
    assert(Codec.fileId(Codec.markerPath(7L, 0)) == 7L)
    assert(Codec.fileId("/t0/2024-01-01/nope") == -1L)
    val line = s"""{"after": null, "key": [1], "updated": "${Codec.updated(id, 4321)}"}"""
    assert(Codec.line(line) == 4321)
    assert(Codec.line("""{"resolved": "1.0"}""") == 0)
    assert(Codec.line("""{"after": null}""") == -1)
  }

  test("ack book: delivered once every line is ACKed; replays keep the time") {
    val b = new AckBook
    b.expect(1L, 3)
    b.ack(1L, 0, 10L)
    b.ack(1L, 1, 20L)
    assert(!b.delivered(1L))
    b.ack(1L, 1, 25L) // duplicate delivery of line 1
    assert(!b.delivered(1L))
    b.ack(1L, 2, 30L)
    assert(b.doneNs(1L).contains(30L))
    b.ack(1L, 0, 40L) // at-least-once replay after delivery
    assert(b.doneNs(1L).contains(30L))
    assert(b.uniqueRows == 3L)
    b.ack(2L, 0, 50L) // a file the book never expected
    b.ack(1L, 7, 50L) // a line beyond the file
    assert(b.uniqueRows == 3L)
    assert(!b.delivered(2L))
  }

  test("timing transport stamps each row's file and line after the inner call returns") {
    Probe.reset(None)
    val book = Probe.book
    book.expect(10L, 2)
    book.expect(11L, 1)
    val inner = new PublishTransport {
      def ensureTopic(topic: String): Unit = ()
      def publishPartition(
          rows: Iterator[(String, String, Map[String, String])]): Unit =
        rows.foreach(_ => ())
    }
    def row(id: Long, line: Int) = ("t0",
      s"""{"after": null, "key": [1], "updated": "${Codec.updated(id, line)}"}""",
      Map("path" -> Codec.dataPath(id, 0), "table" -> "orders"))
    val t = TimingTransport(inner)
    val before = System.nanoTime()
    t.publishPartition(Iterator(row(10L, 0), row(11L, 0)))
    assert(!book.delivered(10L))
    assert(book.delivered(11L))
    t.publishPartition(Iterator(row(10L, 0), row(10L, 1))) // line 0 again
    assert(book.doneNs(10L).exists(_ >= before))
    assert(Probe.publishCalls.get() == 2L)
    assert(Probe.publishRows.get() == 4L)
    assert(book.uniqueRows == 3L)
    t.publishPartition(Iterator.empty)
    assert(Probe.publishCalls.get() == 2L)
    t.ensureTopic("t0")
    assert(Probe.ensureTopicCalls.get() == 1L)
  }

  test("self time subtracts the union of children") {
    val spans = Seq(
      Span("batch", "batch", "b", None, 0L, 100L),
      Span("addBatch", "batch", "a", Some("b"), 10L, 90L),
      Span("publish", "publish", "p1", Some("a"), 20L, 50L),
      Span("publish", "publish", "p2", Some("a"), 40L, 70L))
    val self = Trace.selfTimeByLayer(spans)
    // batch: 100 - 80 + addBatch 80 - 50 (union of 20..70) = 50 ns
    assert(self("batch") == 50 / 1e9)
    assert(self("publish") == 60 / 1e9)
    assert(Trace.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
  }
}
