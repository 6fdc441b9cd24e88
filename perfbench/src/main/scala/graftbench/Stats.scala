package graftbench

/** Pure statistics the benchmark reports. Kept free of Spark so the
  * cut-offs and sums are unit-tested on their own. */
object Stats {
  /** Nearest-rank percentile of `xs` (0 < p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples strictly above the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** The highest of `candidates` with at least `minBeyond` samples beyond
    * it, for a sample of size `n`: a tail read from fewer is noise. */
  def highestSupported(n: Int, candidates: Seq[Double] = Seq(99, 95, 90, 75),
      minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= minBeyond)

  /** max / median; 1.0 means perfectly even. 0 when there are no samples. */
  def skew(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val m = median(xs)
      if (m <= 0) 0.0 else xs.max / m
    }

  /** The four analytics families and their keys. `cdc` is the batch twin
    * of the bridge's parse and route (same `Cdc` regexes); the others hold
    * the engine's named batch cost centres: fuzzy_edit and the dedup
    * family, the graph kernels' fixed per-iteration job cost, join_theta.
    * q_dedup_cluster, q_curation_keep, q_pagerank and q_entity_cluster are
    * left out: their cold first run alone (4-19 s each) would not fit the
    * benchmark's per-run time. */
  val families: Seq[(String, Seq[String])] = Seq(
    "cdc" -> Seq("q_cdc_envelope_parse", "q_cdc_route", "q_cdc_latest_by_key",
      "q_cdc_scd2"),
    "relational" -> Seq("q_agg_group", "q_join_multiway", "q_win_rank",
      "q_join_theta"),
    "dedup" -> Seq("q_dedup_minhash", "q_dedup_fuzzy_edit", "q_semdedup"),
    "graph" -> Seq("q_graph_components"))

  val analyticsKeys: Seq[String] = families.flatMap(_._2)

  /** Per-key median over passes, then per-family sums plus `total`.
    * `samples` maps each key to its timed executions (seconds). A key
    * with no samples is an error: a missing key would silently shrink
    * its family's sum. */
  def familySums(samples: Map[String, Seq[Double]]): Map[String, Double] = {
    val perKey = analyticsKeys.map { k =>
      val xs = samples.getOrElse(k, Nil)
      require(xs.nonEmpty, s"no timed samples for $k")
      k -> median(xs)
    }.toMap
    val fam = families.map { case (f, ks) => f -> ks.map(perKey).sum }
    (fam :+ ("total" -> fam.map(_._2).sum)).toMap
  }
}
