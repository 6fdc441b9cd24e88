package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-17 bench smear detector (r16 verdict #1). The driver's
  * BENCH_r16.json read 2.2x the same tree's quiet band — the host was
  * still draining a 25-minute DuckDB sweep when the 1-min-loadavg
  * quiet-wait passed — and only a judge re-run saved the round from a
  * false t3-gate breach. The detector compares every timed key against
  * the committed quiet gate row and stamps `smear_suspect` into the
  * record itself; these tests pin the counting rule and the real r16
  * pollution shape against the committed baseline row. */
class BenchSmearSpec extends AnyFunSuite {

  private def detect(cur: Map[String, Double], base: Map[String, Double])
      : Seq[String] = Bench.smearedKeys(cur, base, 2.0, 0.3)

  test("a key at >= 2x baseline and >= 0.3s above it is smeared") {
    assert(detect(Map("q_a" -> 2.5), Map("q_a" -> 1.0)) == Seq("q_a"))
  }

  test("ratio alone is not enough: tiny-key noise under the delta floor") {
    // 0.05 -> 0.12 s is 2.4x but pure noise — the floor keeps it out
    assert(detect(Map("q_a" -> 0.12), Map("q_a" -> 0.05)).isEmpty)
  }

  test("delta alone is not enough: +0.4s on a 5s key is a host band, not a smear") {
    assert(detect(Map("q_a" -> 5.4), Map("q_a" -> 5.0)).isEmpty)
  }

  test("the real r16 small-key smear clears the delta floor") {
    // q_token_count read 2.47 s against a 0.36 s quiet median — small
    // absolute time, unmistakable smear (6.9x, +2.1 s)
    assert(detect(Map("q_token_count" -> 2.47),
      Map("q_token_count" -> 0.36)) == Seq("q_token_count"))
  }

  test("keys absent from the baseline are never counted") {
    assert(detect(Map("q_new" -> 99.0), Map("q_other" -> 1.0)).isEmpty)
    assert(detect(Map("q_new" -> 99.0), Map.empty).isEmpty)
  }

  test("zero/negative baseline entries are ignored") {
    assert(detect(Map("q_a" -> 9.0), Map("q_a" -> 0.0)).isEmpty)
  }

  test("smeared keys come back sorted") {
    assert(detect(
      Map("q_z" -> 9.0, "q_a" -> 9.0, "q_m" -> 0.5),
      Map("q_z" -> 1.0, "q_a" -> 1.0, "q_m" -> 1.0)) == Seq("q_a", "q_z"))
  }

  test("parseQueriesJson reads a bench-shaped record") {
    val (qs, sf) = Bench.parseQueriesJson(
      """{"metric":"total","queries":{"q_a":1.25,"q_b":0.5},"sf":"/x/y"}""")
    assert(qs == Map("q_a" -> 1.25, "q_b" -> 0.5))
    assert(sf.contains("/x/y"))
  }

  test("parseQueriesJson degrades to empty on malformed input") {
    assert(Bench.parseQueriesJson("not json at all")._1.isEmpty)
    assert(Bench.parseQueriesJson("""{"no_queries":1}""")._1.isEmpty)
  }

  test("latestBaselinePath picks the highest round number") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smear")
    try {
      Seq("BASELINE_r09_local.json", "BASELINE_r16_local.json",
        "BASELINE_r7_local.json", "BASELINE_r16_sf1.json", "other.json")
        .foreach(n => java.nio.file.Files.write(dir.resolve(n),
          "{}".getBytes("UTF-8")))
      assert(Bench.latestBaselinePath(dir).map(_.getFileName.toString)
        .contains("BASELINE_r16_local.json"))
    } finally {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(dir)
      try s.iterator.asScala.foreach(java.nio.file.Files.delete)
      finally s.close()
      java.nio.file.Files.delete(dir)
    }
  }

  test("latestBaselinePath on an empty dir is None") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smear_empty")
    try assert(Bench.latestBaselinePath(dir).isEmpty)
    finally java.nio.file.Files.delete(dir)
  }

  test("loadAvgs reports both averages on this host") {
    val (l1, l5) = Bench.loadAvgs()
    assert(l1 >= 0.0)
    // procfs host: the 5-min leg must be live, not the -1 fallback
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get("/proc/loadavg")))
      assert(l5 >= 0.0)
  }

  // ── The r16 scenario against the COMMITTED gate row ────────────────
  // BASELINE_r16_local.json is the quiet n=3 median row for the same
  // tree the polluted BENCH_r16.json measured. A uniform 2.2x smear of
  // that row (what the draining host did) must flag; the row against
  // itself must not; a 5-key local spike must stay under the 10-key
  // verdict bar while still listing the keys.
  private lazy val gateRow: Map[String, Double] = {
    val p = java.nio.file.Paths.get("BASELINE_r16_local.json")
    if (java.nio.file.Files.isReadable(p))
      Bench.parseQueriesJson(new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8"))._1
    else Map.empty
  }

  test("r16 scenario: a uniform 2.2x smear of the committed gate row flags") {
    assume(gateRow.nonEmpty, "committed gate row not present in cwd")
    val polluted = gateRow.map { case (k, v) => k -> v * 2.2 }
    val smeared = detect(polluted, gateRow)
    assert(smeared.size >= 10,
      s"only ${smeared.size} of ${gateRow.size} keys detected")
    // the judge's headline example: a code-untouched graph key at 2.2x
    assert(smeared.contains("q_triangle_count"))
  }

  test("r16 scenario: the gate row against itself is clean") {
    assume(gateRow.nonEmpty, "committed gate row not present in cwd")
    assert(detect(gateRow, gateRow).isEmpty)
  }

  test("r16 scenario: a 5-key spike lists keys but stays under the verdict bar") {
    assume(gateRow.size >= 20, "committed gate row not present in cwd")
    val spiked = gateRow.keys.toSeq.sorted.take(5).toSet
    val cur = gateRow.map { case (k, v) =>
      k -> (if (spiked(k)) v * 3 + 1 else v) }
    val smeared = detect(cur, gateRow)
    assert(smeared.toSet == spiked)
    assert(smeared.size < 10)
  }

  // ── round-18 steal telemetry (r17 verdict #7) ─────────────────────

  test("stealPct: percent of elapsed jiffies stolen between samples") {
    val a = Some((100L, 10000L))
    val b = Some((150L, 11000L)) // 50 of 1000 elapsed stolen
    assert(Bench.stealPct(a, b).contains(5.0))
  }

  test("stealPct degrades to None without procfs or without progress") {
    assert(Bench.stealPct(None, Some((1L, 2L))).isEmpty)
    assert(Bench.stealPct(Some((1L, 2L)), None).isEmpty)
    // clock did not advance (t2 == t1): no division by zero, no value
    assert(Bench.stealPct(Some((1L, 100L)), Some((1L, 100L))).isEmpty)
  }

  test("parseCpuLine: total is the first 8 fields; guest time is not counted twice") {
    // guest/guest_nice (fields 9-10) are already inside user/nice
    assert(Bench.parseCpuLine("cpu  100 20 30 800 10 5 5 30 70 15")
      .contains((30L, 1000L)))
    // a pre-guest kernel: exactly 8 fields
    assert(Bench.parseCpuLine("cpu  100 20 30 800 10 5 5 30")
      .contains((30L, 1000L)))
    assert(Bench.parseCpuLine("cpu  100 20 30").isEmpty)
    assert(Bench.parseCpuLine("cpu  a b c d e f g h").isEmpty)
  }

  test("stealJiffies parses this host's /proc/stat when present") {
    // On a procfs host the sample is (steal, total) with total covering
    // at least user+idle; on anything else it must be None, never a
    // throw. Both outcomes are legal — the telemetry degrades.
    Bench.stealJiffies() match {
      case Some((steal, total)) =>
        assert(steal >= 0 && total > 0 && steal <= total)
      case None => succeed
    }
  }
}
