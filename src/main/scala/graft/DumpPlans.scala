package graft

/** Dev tool: dump formatted physical plans (source for PLANS.md and the
  * per-round plan evidence under plans/).
  *
  * Usage: runMain graft.DumpPlans [--sf DIR] [--keys k1,k2,...]
  *          [--out DIR [--suffix S]]
  *
  * Defaults: sf0.001 and the curated [[keys]] list. Without `--out` the
  * plans go to stdout, one `===== key =====` section each; with it each
  * plan is written to `DIR/<key>.txt` (`DIR/<key>_S.txt` with a suffix).
  *
  * The session is the harness session with eager materialization
  * disabled, so a dump never executes sketch jobs and the dumped plan is
  * the real pipeline rather than a post-checkpoint LogicalRDD scan.
  * Iterative fixpoint operators (pagerank / CC consumers) therefore dump
  * their lazy per-round chain — shape is still readable, rounds are
  * unrolled.
  */
object DumpPlans {
  val keys = Seq(
    "q_scan_pushdown", "q_agg_group", "q_join_multiway", "q_join_theta",
    "q_join_asof", "q_dedup_minhash", "q_similarity_cosine",
    "q_join_salted", "q_subquery_scalar", "q_ann_ivf", "q_dedup_embedding",
    "q_dedup_embedding_lsh", "q_embedding_quantize", "q_heavy_hitters",
    "q_decontaminate", "q_pack_sequences", "q_outlier_zscore",
    "q_ks_drift", "q_join_bucketed", "q_scan_partition_pruned",
    "q_dedup_incremental", "q_ann_ivfpq", "q_source_orc", "q_semdedup",
    "q_record_linkage", "q_semdedup_pipeline", "q_dedup_fuzzy_edit",
    "q_bm25_search",
    "q_rfm_segments", "q_win_rolling_time", "q_distinct_incremental",
    // graph + series families (q_pagerank / q_graph_components stay
    // hand-audited: with the eager checkpoints disabled for plan dumps
    // their explains are full multi-round lazy chains — shape is
    // documented in the bullets instead)
    "q_affinity_pairs", "q_triangle_count", "q_recommend_items",
    "q_link_predict", "q_degree_hist", "q_graph_stats",
    "q_changepoint_cusum", "q_session_features", "q_markov_transition",
    // round-11 layout/serving/privacy family
    "q_zorder_layout", "q_skyline_pareto", "q_k_anonymity",
    "q_affinity_incremental")

  private val usage = "usage: DumpPlans [--sf DIR] [--keys k1,k2,...] " +
    "[--out DIR [--suffix S]]"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k @ ("--sf" | "--keys" | "--out" | "--suffix"), v) => k -> v
      case _ => throw new IllegalArgumentException(usage)
    }.toMap
    require(opts.contains("--out") || !opts.contains("--suffix"), usage)
    val sfDir = opts.getOrElse("--sf", "/root/testdata/sf0.001")
    val dumpKeys = opts.get("--keys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(keys)
    dumpKeys.foreach(k => require(SparkEntry.queries.contains(k),
      s"unknown query '$k'"))
    val outDir = opts.get("--out").map(java.nio.file.Paths.get(_))
    outDir.foreach(java.nio.file.Files.createDirectories(_))
    val suffix = opts.get("--suffix").map("_" + _).getOrElse("")
    val spark = GraftSession.local(GraftSession.envCpus,
      "spark.graft.allowQuadratic" -> "true", // plan dump, not a run
      "spark.graft.skipEagerMaterialize" -> "true")
    spark.sparkContext.setLogLevel("ERROR")
    dumpKeys.foreach { k =>
      val plan = SparkEntry.queries(k)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(dir) =>
          java.nio.file.Files.write(dir.resolve(s"$k$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"[dumpplans] wrote $k$suffix.txt")
        case None =>
          println(s"\n===== $k =====")
          println(plan)
      }
    }
    spark.stop()
  }
}
