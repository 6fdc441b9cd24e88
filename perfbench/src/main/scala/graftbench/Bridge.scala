package graftbench

import graft.GraftConfig
import graft.streaming.{IngestServer, NetBroker, NetPublisher, NetTransport,
  StreamMetrics, Streams}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

/** The bridge workloads: changefeed files POSTed to `IngestServer`, through
  * the file source and the parse → auth → route micro-batch, to broker ACKs
  * from an in-process `NetBroker`, wired the way a deployment wires
  * `Streams.routePublishNet`. */
object Bridge {
  val Topics = 8
  val SharedKey = "k1"
  /** Offered load, well under the pipeline's capacity, so delivery latency
    * is set by per-trigger fixed costs. At twice this rate per-row work
    * fed back into batch length (a longer trigger collects more rows), and
    * latency swung 1.1-2.6 s between identical runs with host CPU steal. */
  val SteadyFilesPerSec = 10
  val SteadyLines = 250
  /** bridge_backfill: one round is Clients x FilesPerClient files. */
  val Clients = 4
  val FilesPerClient = 4
  val BackfillLines = 5000
  val DrainTimeoutNs: Long = 30L * 1000000000L
  /** Unrecorded load before the measured window, so JIT compilation and
    * the first batches' one-off costs do not land in it. */
  val WarmSeconds = 3

  val payload: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  /** A file the generator sends: its lines, kept to check what the broker
    * received, and its timing once sent. */
  final class Sent(val id: Long, val topic: Int, val marker: Boolean,
      val path: String, val lines: Array[String]) {
    val body: Array[Byte] =
      lines.map(_ + "\n").mkString.getBytes("UTF-8")
    @volatile var dueNs = 0L
    @volatile var startNs = 0L
    @volatile var endNs = 0L
    @volatile var doneNs = 0L
    @volatile var code = 0
  }

  /** Seeded changefeed lines: upserts of random keys, ~10% deletes. */
  def dataFile(seed: Long, id: Long, topic: Int, lines: Int): Sent = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + id)
    val ls = Array.tabulate(lines) { j =>
      val k = rnd.nextLong(1000000L)
      val upd = Codec.updated(id, j)
      if (rnd.nextInt(10) == 0)
        s"""{"after": null, "key": [$k], "updated": "$upd"}"""
      else {
        val st = "OFP".charAt(rnd.nextInt(3))
        val cents = rnd.nextLong(50000000L)
        f"""{"after": {"o_orderkey": $k, "o_custkey": ${rnd.nextLong(150000L)}, "o_orderstatus": "$st", "o_totalprice": ${cents / 100}.${cents % 100}%02d}, "key": [$k], "updated": "$upd"}"""
      }
    }
    new Sent(id, topic, false, Codec.dataPath(id, topic), ls)
  }

  def markerFile(id: Long, topic: Int): Sent =
    new Sent(id, topic, true, Codec.markerPath(id, topic),
      Array(s"""{"resolved": "${Codec.updated(id, 0)}"}"""))

  /** One POST over the JDK client; connections are kept alive and reused
    * across a sender thread's requests. Returns the HTTP status. */
  def post(port: Int, path: String, body: Array[Byte]): Int = {
    val c = URI.create(s"http://127.0.0.1:$port$path?sharedKey=$SharedKey")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(body.length)
    c.setRequestProperty("Content-Type", "application/x-ndjson")
    val os = c.getOutputStream
    try os.write(body) finally os.close()
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    if (is != null) try is.readAllBytes() finally is.close()
    code
  }

  def get(port: Int, path: String): String = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    val is = c.getInputStream
    try new String(is.readAllBytes(), "UTF-8") finally is.close()
  }

  /** The system under test: ingest server, streaming query and broker. */
  final class Pipeline(spark: SparkSession, dir: Path) extends AutoCloseable {
    val landing: Path = Files.createDirectories(dir.resolve("landing"))
    val broker = new NetBroker()
    val server = new IngestServer("127.0.0.1:0", landing.toString,
      Set(SharedKey), extraMetrics = () => StreamMetrics.snapshot(spark))
    NetPublisher.reset()
    private val cfg = GraftConfig.from(spark)
    private val routed = Streams.route(
      Streams.authFilter(
        Streams.parseEnvelope(Streams.ingestLines(spark, landing.toString),
          payload),
        cfg.sharedKeys),
      cfg.topicPrefix)
    val query: StreamingQuery = Streams.routePublishNet(routed,
      TimingTransport(NetTransport(broker.addr)),
      dir.resolve("checkpoint").toString)
    /** 201s answered outside the measured window: the set-up file and the
      * unrecorded warm-up load. */
    var warmPosts = 0L

    def port: Int = server.port
    def landed: Long =
      "\"landed\": (\\d+)".r.findFirstMatchIn(get(port, "/metrics"))
        .map(_.group(1).toLong).getOrElse(-1L)

    override def close(): Unit = {
      try query.stop() finally { server.close(); broker.close() }
    }
  }

  /** Wait until every file is delivered or the deadline passes. */
  def awaitDelivered(files: Seq[Sent], deadlineNs: Long): Unit = {
    while (System.nanoTime() < deadlineNs &&
        !files.forall(f => Probe.book.delivered(f.id)))
      Thread.sleep(5)
    files.foreach(f => Probe.book.doneNs(f.id).foreach(f.doneNs = _))
  }

  /** Build a pipeline and wait for the broker ACK of one warm-up file. */
  def setUp(spark: SparkSession, dir: Path, warmId: Long): Pipeline = {
    Probe.reset(None)
    val p = new Pipeline(spark, dir)
    val warm = dataFile(0L, warmId, 0, SteadyLines)
    Probe.book.expect(warm.id, warm.lines.length)
    warm.code = post(p.port, warm.path, warm.body)
    p.warmPosts += 1
    require(warm.code == 201, s"warm-up POST answered ${warm.code}")
    awaitDelivered(Seq(warm), System.nanoTime() + 120L * 1000000000L)
    require(Probe.book.delivered(warm.id), "warm-up file never ACKed")
    p
  }

  final case class Outcome(sent: Seq[Sent], startNs: Long, endNs: Long,
      roundRates: Seq[Double])

  /** Open loop: sends are released on schedule to at most `cpus` sender
    * threads, whatever the server does. */
  def steady(p: Pipeline, seed: Long, seconds: Int, cpus: Int,
      firstId: Long = 1L): Outcome = {
    val sched = Schedule.openLoop(seconds, SteadyFilesPerSec, Topics, firstId)
    val files = sched.map { s =>
      if (s.marker) markerFile(s.id, s.topic)
      else dataFile(seed, s.id, s.topic, SteadyLines)
    }
    files.foreach(f => Probe.book.expect(f.id, f.lines.length))
    val pool = Executors.newFixedThreadPool(cpus)
    val t0 = System.nanoTime() + 20000000L
    try {
      sched.zip(files).foreach { case (s, f) =>
        f.dueNs = t0 + s.dueNs
        var now = System.nanoTime()
        while (now < f.dueNs) { LockSupport.parkNanos(f.dueNs - now); now = System.nanoTime() }
        pool.submit(new Runnable {
          def run(): Unit = send(p, f)
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
    awaitDelivered(files, System.nanoTime() + DrainTimeoutNs)
    Outcome(files, t0, lastAck(files), Nil)
  }

  /** Closed loop: each of [[Clients]] clients POSTs its [[FilesPerClient]]
    * files, the next as soon as the previous one is answered. A round ends
    * when all its files are delivered (or the drain deadline passes), and
    * rounds repeat until `seconds` have passed, at least one. Each round
    * gives delivered rows per second from its first send to its last ACK. */
  def backfill(p: Pipeline, seed: Long, seconds: Int,
      firstId: Long = 1L): Outcome = {
    val all = Seq.newBuilder[Sent]
    val rates = Seq.newBuilder[Double]
    val start = System.nanoTime()
    var nextId = firstId
    while (nextId == firstId || System.nanoTime() - start < seconds * 1000000000L) {
      val files = (0 until Clients * FilesPerClient).map { i =>
        dataFile(seed, nextId + i, (nextId + i).toInt % Topics, BackfillLines)
      }
      nextId += files.size
      files.foreach(f => Probe.book.expect(f.id, f.lines.length))
      val pool = Executors.newFixedThreadPool(Clients)
      val r0 = System.nanoTime()
      try files.grouped(FilesPerClient).foreach { mine =>
        pool.submit(new Runnable {
          def run(): Unit = mine.foreach { f =>
            f.dueNs = System.nanoTime()
            send(p, f)
          }
        })
      } finally {
        pool.shutdown()
        pool.awaitTermination(120, TimeUnit.SECONDS)
      }
      awaitDelivered(files, System.nanoTime() + DrainTimeoutNs)
      val rows = files.filter(_.doneNs > 0).map(_.lines.length.toLong).sum
      val r1 = lastAck(files)
      if (r1 > r0) rates += rows / ((r1 - r0) / 1e9)
      all ++= files
    }
    val sent = all.result()
    Outcome(sent, start, lastAck(sent), rates.result())
  }

  private def send(p: Pipeline, f: Sent): Unit = {
    f.startNs = System.nanoTime()
    f.code = try post(p.port, f.path, f.body) catch { case _: Exception => -1 }
    f.endNs = System.nanoTime()
  }

  private def lastAck(files: Seq[Sent]): Long =
    if (files.isEmpty) 0L else files.map(_.doneNs).max

  /** Correctness of one run: every POST answered 201 and landed, every
    * line on its topic at least once with attributes {path, table}, the
    * markers as table RESOLVED, nothing dead-lettered and no 401 observed.
    * Returns the list of violations. */
  def check(p: Pipeline, sent: Seq[Sent], rejected401: Long): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val byId = sent.map(f => f.id -> f).toMap
    val seen = sent.map(f => f.id -> new java.util.BitSet(f.lines.length)).toMap
    val dead = p.broker.messages("__dead_letter")
    if (dead.nonEmpty) bad += s"${dead.size} rows on __dead_letter"
    for (t <- p.broker.topicNames.toSeq.filterNot(_ == "__dead_letter");
         m <- p.broker.messages(t)) {
      val id = Codec.fileId(m.attrs.getOrElse("path", ""))
      if (m.attrs.keySet != Set("path", "table"))
        bad += s"attributes ${m.attrs.keySet} on $t"
      byId.get(id).foreach { f =>
        val line = Codec.line(m.data)
        val want = if (f.marker) "RESOLVED" else "orders"
        if (t != s"t${f.topic}") bad += s"file $id on topic $t"
        else if (m.attrs.get("table").contains(want) && line >= 0 &&
            line < f.lines.length && f.lines(line) == m.data)
          seen(id).set(line)
        else bad += s"file $id line $line altered or mislabelled on $t"
      }
    }
    val missing = sent.filter(f => seen(f.id).cardinality() != f.lines.length)
    if (missing.nonEmpty) bad += s"${missing.size} files not fully on their topics"
    val non201 = sent.count(_.code != 201)
    if (non201 > 0) bad += s"$non201 POSTs not answered 201"
    val ok201 = p.warmPosts + sent.count(_.code == 201)
    val landed = p.landed
    if (landed != ok201) bad += s"landed $landed != $ok201 POSTs answered 201"
    if (rejected401 != 0) bad += s"observed rejected_401 = $rejected401"
    bad.result().distinct.take(20)
  }
}
