package graftbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. Runs one workload against the library's
  * public entry points and prints one JSON line tagged
  * `"record":"graftbench.jvm"` on stdout; `perfbench/run.py` builds this,
  * launches it, checks the analytics oracle and prints the final record.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --work DIR
  * [--data DIR --data-rows N] [--cpus N]. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      traced: Boolean, work: Path, data: String, dataRows: Long, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")),
      m.getOrElse("--data", ""), m.getOrElse("--data-rows", "0").toLong,
      m.get("--cpus").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors))
  }

  /** The session a user runs: local[nproc], nproc shuffle partitions and
    * the graft extensions; none of the fixture-only switches. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.graft.sharedKeys", Bridge.SharedKey)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val code = try {
      val t0 = System.nanoTime()
      val spark = session(a)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val rec = a.workload match {
        case "bridge_steady" | "bridge_backfill" => bridge(spark, a, sessionS)
        case "analytics_batch" => analytics(spark, a, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      spark.stop()
      println(rec)
      System.out.flush()
      0
    } catch { case e: Throwable =>
      e.printStackTrace()
      1
    }
    // Broker and HTTP pools hold non-daemon threads; end the JVM explicitly.
    System.exit(code)
  }

  private def record(a: Args, attempted: Long, failed: Long,
      violations: Seq[String], e2e: Seq[(String, Double)],
      layers: Seq[(String, Double)], info: Seq[(String, String)]): String = {
    def nums(xs: Seq[(String, Double)]) = Json.obj(xs.map(x => x._1 -> Json.num(x._2)))
    Json.obj(Seq(
      "record" -> Json.str("graftbench.jvm"),
      "workload" -> Json.str(a.workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "violations" -> violations.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> nums(e2e),
      "layers" -> nums(layers),
      "info" -> Json.obj(info)))
  }

  private def bridge(spark: SparkSession, a: Args, sessionS: Double): String = {
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    // Set up three times and keep the last: the median of the three is the
    // steady set-up cost, the first carries the one-off class loading.
    val setups = (0 until 3).map { i =>
      val s0 = System.nanoTime()
      val p = Bridge.setUp(spark, a.work.resolve(s"bridge-$i"), 1000000000L + i)
      val dt = (System.nanoTime() - s0) / 1e9
      if (i < 2) p.close()
      (p, dt)
    }
    val p = setups.last._1
    val setupS = sessionS + Stats.median(setups.map(_._2))
    val steady = a.workload == "bridge_steady"
    val warm =
      if (steady) Bridge.steady(p, a.seed, Bridge.WarmSeconds, a.cpus, 2000000000L)
      else Bridge.backfill(p, a.seed, 0, 2000000000L)
    p.warmPosts += warm.sent.count(_.code == 201)
    val trace = if (a.traced) Some(new Trace) else None
    val jobs = trace.map { t =>
      val l = new JobListener(t); spark.sparkContext.addSparkListener(l); l
    }
    Probe.reset(trace)
    val firstBatch = Option(p.query.lastProgress).map(_.batchId).getOrElse(-1L)
    val out =
      if (steady) Bridge.steady(p, a.seed, a.seconds, a.cpus)
      else Bridge.backfill(p, a.seed, a.seconds)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val ps = progress.of(p.query.id)
    val window = ps.filter(_.batchId > firstBatch)
    val rejected = progress.observed(ps, "auth_filter", "rejected_401")
    val unroutable = progress.observed(window, "route_publish_net", "unroutable_404")
    val violations = Bridge.check(p, out.sent, rejected)
    val landed = p.landed
    p.close()

    val data = out.sent.filterNot(_.marker)
    val delivered = data.filter(_.doneNs > 0)
    val deliverMs = delivered.map(f => (f.doneNs - f.dueNs) / 1e6)
    val posted = out.sent.filter(_.endNs > 0)
    val postMs = posted.map(f => (f.endNs - f.dueNs) / 1e6)
    val uniqueRows = Probe.book.uniqueRows
    val rowsPerS =
      if (out.roundRates.nonEmpty) Stats.median(out.roundRates)
      else if (out.endNs > out.startNs) uniqueRows / ((out.endNs - out.startNs) / 1e9)
      else 0.0
    val failed = out.sent.count(f => f.code != 201 || f.doneNs <= 0).toLong
    val late = Schedule.lateness(out.sent.map(_.dueNs), out.sent.map(_.startNs))

    val deliverP50 = if (deliverMs.isEmpty) 0.0 else Stats.median(deliverMs)
    val postP50 = if (postMs.isEmpty) 0.0 else Stats.median(postMs)
    // Backfill files land in a few large micro-batches, so a file's delivery
    // time is set by which batch picks it up and its median jumps between
    // batch boundaries from run to run. There the user-facing latency is
    // the changefeed's wait for each 201; delivery shows in rows_per_s.
    val e2e = Seq(
      "setup_s" -> setupS,
      "latency_p50_ms" -> (if (steady) deliverP50 else postP50),
      "rows_per_s" -> rowsPerS)

    val layers = trace.toSeq.flatMap { t =>
      val phase = (pr: org.apache.spark.sql.streaming.StreamingQueryProgress,
          k: String) => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      val ran = window.filter(_.durationMs.containsKey("addBatch"))
      // Batch spans from the progress events, with the durationMs phases as
      // children laid out in the order the micro-batch runs them.
      ran.foreach { pr =>
        val start = t.wallToNs(java.time.Instant.parse(pr.timestamp).toEpochMilli)
        val b = pr.batchId
        t.add("batch", "batch", s"batch-$b", None, start,
          start + (phase(pr, "triggerExecution") * 1e6).toLong)
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { k =>
          val d = (phase(pr, k) * 1e6).toLong
          val layer = if (k == "latestOffset" || k == "getBatch") "source" else "batch"
          t.add(k, layer, s"$k-$b", Some(s"batch-$b"), at, at + d)
          at += d
        }
      }
      posted.foreach(f =>
        t.add("post", "ingest", s"post-${f.id}", None, f.startNs, f.endNs))
      t.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
      val self = Trace.selfTimeByLayer(t.all)
      // Backlog: rows landed but not yet consumed, sampled at each trigger.
      val landedRows = out.sent.filter(_.code == 201)
        .map(f => (f.startNs, f.lines.length.toLong)).sortBy(_._1)
      var consumed = 0L
      val backlog = ran.map { pr =>
        val at = t.wallToNs(java.time.Instant.parse(pr.timestamp).toEpochMilli)
        val b = landedRows.takeWhile(_._1 <= at).map(_._2).sum - consumed
        consumed += pr.numInputRows
        b.toDouble
      }
      val sum = (k: String) => ran.map(phase(_, k)).sum
      val pubRows = Probe.publishRows.get().toDouble
      val busy = Probe.publishBusyNs.get() / 1e9
      Seq(
        "ingest.posts" -> out.sent.size.toDouble,
        "ingest.landed" -> (landed - p.warmPosts).toDouble,
        "ingest.bytes" -> out.sent.map(_.body.length.toDouble).sum,
        "ingest.post_busy_s" -> posted.map(f => (f.endNs - f.startNs) / 1e9).sum,
        "ingest.post_p50_ms" -> postP50,
        "ingest.post_tail_ms" -> tail(postMs),
        "gen.late_max_ms" -> (if (late.isEmpty) 0.0 else late.max / 1e6),
        "deliver.p50_ms" -> deliverP50,
        "deliver.tail_ms" -> tail(deliverMs),
        "deliver.samples" -> deliverMs.size.toDouble,
        "source.latest_offset_ms" -> sum("latestOffset"),
        "source.get_batch_ms" -> sum("getBatch"),
        "source.backlog_rows_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
        "batch.count" -> ran.size.toDouble,
        "batch.rows_p50" -> (if (ran.isEmpty) 0.0 else Stats.median(ran.map(_.numInputRows.toDouble))),
        "batch.trigger_ms_p50" -> (if (ran.isEmpty) 0.0 else Stats.median(ran.map(phase(_, "triggerExecution")))),
        "batch.add_batch_ms" -> sum("addBatch"),
        "batch.query_planning_ms" -> sum("queryPlanning"),
        "batch.wal_commit_ms" -> sum("walCommit"),
        "batch.commit_offsets_ms" -> sum("commitOffsets"),
        "batch.jobs_per_batch" -> jobs.map(_.jobsPerBatch).getOrElse(0.0),
        "batch.rejected_401" -> progress.observed(window, "auth_filter", "rejected_401").toDouble,
        "batch.unroutable_404" -> unroutable.toDouble,
        "publish.calls" -> Probe.publishCalls.get().toDouble,
        "publish.rows" -> pubRows,
        "publish.busy_s" -> busy,
        "publish.rows_per_busy_s" -> (if (busy > 0) pubRows / busy else 0.0),
        "publish.ensure_topic_calls" -> Probe.ensureTopicCalls.get().toDouble,
        "publish.useful_ratio" -> (if (pubRows > 0) uniqueRows / pubRows else 0.0),
        "query.gc_ms" -> jobs.map(_.gcMs.toDouble).getOrElse(0.0),
        "query.spill_bytes" -> jobs.map(_.spillBytes.toDouble).getOrElse(0.0),
        "trace.spans" -> t.all.size.toDouble,
        "jvm.peak_rss_mb" -> peakRssMb()) ++
        Seq("ingest", "source", "batch", "publish", "query").map(l =>
          s"self.${l}_s" -> self.getOrElse(l, 0.0))
    }
    val info = Seq(
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "session_s" -> Json.num(sessionS),
      "setup_pipeline_s" -> setups.map(x => Json.num(x._2)).mkString("[", ",", "]"),
      "files" -> data.size.toString,
      "markers" -> out.sent.count(_.marker).toString,
      "rounds" -> out.roundRates.size.toString,
      "deliver_samples" -> deliverMs.size.toString,
      "deliver_p50_ms" -> Json.num(deliverP50),
      "deliver_tail_pct" -> Json.num(Stats.highestSupported(deliverMs.size).getOrElse(0.0)),
      "deliver_tail_ms" -> Json.num(tail(deliverMs)),
      "post_samples" -> postMs.size.toString,
      "post_p50_ms" -> Json.num(postP50),
      "post_tail_pct" -> Json.num(Stats.highestSupported(postMs.size).getOrElse(0.0)),
      "post_tail_ms" -> Json.num(tail(postMs)),
      "unique_rows" -> uniqueRows.toString)
    record(a, out.sent.size.toLong, failed, violations, e2e, layers, info)
  }

  /** The highest percentile with at least ten samples beyond it; 0 when
    * even the 75th lacks them. */
  private def tail(xs: Seq[Double]): Double =
    Stats.highestSupported(xs.size).map(p => Stats.percentile(xs, p)).getOrElse(0.0)

  private def analytics(spark: SparkSession, a: Args, sessionS: Double): String = {
    require(a.data.nonEmpty, "analytics_batch needs --data")
    val trace = if (a.traced) Some(new Trace) else None
    val jobs = trace.map { t =>
      val l = new JobListener(t); spark.sparkContext.addSparkListener(l); l
    }
    Probe.reset(trace)
    val out = Analytics.run(spark, a.data, a.seed, a.seconds,
      a.work.resolve("oracle").toString)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val timed = out.samples.filter(_._2.nonEmpty)
    val complete = out.failed.isEmpty && timed.size == Stats.analyticsKeys.size
    val sums = if (complete) Stats.familySums(timed) else Map.empty[String, Double]
    val total = sums.getOrElse("total", 0.0)
    val perKey = timed.map { case (k, xs) => k -> Stats.median(xs) }
    val e2e = Seq(
      "setup_s" -> (sessionS + out.warmS),
      "latency_p50_ms" -> (if (complete) Stats.median(out.passS) * 1000 else 0.0),
      "rows_per_s" -> (if (total > 0) a.dataRows / total else 0.0))
    val layers = trace.toSeq.flatMap { t =>
      t.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
      val self = Trace.selfTimeByLayer(t.all)
      val l = jobs.get
      Stats.analyticsKeys.flatMap { k =>
        val g = l.group(out.lastGroup(k))
        Seq(s"query.$k.wall_s" -> perKey.getOrElse(k, 0.0),
          s"query.$k.jobs" -> g.jobs.toDouble,
          s"query.$k.tasks" -> g.tasks.toDouble,
          s"query.$k.shuffle_bytes" -> g.shuffleBytes.toDouble,
          s"query.$k.task_skew" -> Stats.skew(g.taskMs.toSeq))
      } ++ Stats.families.map(_._1).map(f => s"query.${f}_s" -> sums.getOrElse(f, 0.0)) ++
        Seq("query.total_s" -> total,
          "query.gc_ms" -> l.gcMs.toDouble,
          "query.spill_bytes" -> l.spillBytes.toDouble,
          "trace.spans" -> t.all.size.toDouble,
          "jvm.peak_rss_mb" -> peakRssMb()) ++
        Seq("ingest", "source", "batch", "publish", "query").map(x =>
          s"self.${x}_s" -> self.getOrElse(x, 0.0))
    }
    val info = Seq(
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(out.warmS),
      "passes" -> out.passes.toString,
      "pass_s" -> out.passS.map(Json.num).mkString("[", ",", "]"),
      "pass_cpu_s" -> out.passCpuS.map(Json.num).mkString("[", ",", "]"),
      "warmup_by_key_s" -> Json.obj(out.warmByKey.toSeq.sortBy(_._1).map(x => x._1 -> Json.num(x._2))),
      "median_by_key_s" -> Json.obj(perKey.toSeq.sortBy(_._1).map(x => x._1 -> Json.num(x._2))),
      "samples_by_key_s" -> Json.obj(timed.toSeq.sortBy(_._1).map(x =>
        x._1 -> x._2.map(Json.num).mkString("[", ",", "]"))),
      "failed_keys" -> out.failed.toSeq.sorted.map(Json.str).mkString("[", ",", "]")) ++
      sums.toSeq.sortBy(_._1).map { case (f, v) => s"query_${f}_s" -> Json.num(v) }
    record(a, Stats.analyticsKeys.size.toLong, out.failed.size.toLong,
      Nil, e2e, layers, info)
  }
}
