package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the order/part co-purchase graph — the retail
  * twin of the dedup family's doc-pair graph (q_dedup_cluster already
  * proves connected components; these add association mining and
  * centrality). Nodes are parts; an undirected edge joins two parts
  * co-purchased in >= 2 distinct orders (the support floor that keeps
  * the edge list signal, not noise).
  *
  * Scale shape: the edge list comes from ONE orderkey-keyed self-join of
  * the distinct (order, part) incidence — per-order pair fan-out is
  * bounded by basket size squared (fixture max 13 => <= 78 pairs/order;
  * a mega-basket at 100 TB would cap like shingleDfCap caps hot
  * shingles), then a two-phase agg on the (p1, p2) key. Everything
  * downstream (rule stats, PageRank) runs on the part-cardinality graph,
  * which is orders of magnitude smaller than the fact table.
  *
  * Determinism (the DuckDB gate): every rule metric is a ratio of exact
  * integers with identical expression shape on both engines (6dp); the
  * PageRank recurrence is PURE INTEGER arithmetic in pico-units (no
  * float op exists inside the iteration — float sums across an
  * unordered edge shuffle are order-dependent and even 12dp-rounded
  * doubles forked on rounding boundaries), so each iteration is a
  * deterministic function of the previous one and 8 iterations land
  * bit-identically on both engines.
  */
object GraphOps {

  /** Distinct (order, part) incidence and the undirected co-purchase
    * pair counts at the co >= 2 support floor. One definition shared by
    * affinity and PageRank so the two operators can never disagree
    * about what the graph is.
    *
    * `spark.graft.basketCap` (0 = off, the default) bounds the per-order
    * pair fan-out: an order with more than cap distinct parts keeps only
    * its cap LOWEST part keys before the self-join, so one mega-basket
    * (a wholesale order with 10k line items) can no longer emit basket²
    * pair rows on a single order key. The cut is deterministic and
    * repartition-stable (row_number over the total order (ok, pk) —
    * the shingleDfCap precedent, TextOps.shinglePairSizedOf), and the
    * window's ok-hash exchange is the same partitioning the self-join
    * needs anyway. With cap >= the corpus max basket the output is
    * bit-identical to uncapped (spec-pinned, QueriesSpec). */
  private[graft] def pairCounts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // Round-17 re-plan (guide §2.4 — the old shape paid THREE exchanges:
    // distinct (ok, pk), the ok-keyed self-join re-partitioning, and the
    // (p1, p2) pair agg; the basketCap mode paid a fourth for the
    // row_number window): one groupBy(ok) with a map-side-partial
    // collect_set replaces distinct + self-join — the per-order pair
    // fan-out becomes a nested explode over the sorted basket array
    // (p2 ranges over the elements greater than p1, so exactly the
    // a.pk < b.pk join rows appear), and the basketCap cut is a slice
    // of the same sorted array (identical to the window's "cap LOWEST
    // part keys" rule, still deterministic and repartition-stable).
    // Two exchanges total, in EVERY cap mode, and the basket array
    // shuffles deduplicated instead of row-per-line. The incidence
    // frame consumers read is the narrow re-explode of the same
    // grouped frame (same rows as the old distinct by construction).
    val cap = s.conf.get("spark.graft.basketCap", "0").toInt
    val grouped0 = Tables(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
    val grouped = if (cap <= 0) grouped0
      else grouped0.select(col("ok"), slice(col("ps"), 1, cap).as("ps"))
    val inc = grouped.select(col("ok"), explode(col("ps")).as("pk"))
    val pairs = grouped
      .select(col("ok"), explode(col("ps")).as("p1"), col("ps"))
      .select(col("p1"),
        explode(filter(col("ps"), x => x > col("p1"))).as("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
    (inc, pairs)
  }

  /** Shared pieces of the incremental index family (q_affinity_
    * incremental / q_recommend_incremental): one definition of the
    * drop split, the per-order basketCap cut, the pre-floor pair
    * aggregation, and the cap-aware content-addressed store root — so
    * the two maintained views, and the batch pairCounts they must
    * merge-match, can never disagree about what an incidence row or a
    * capped basket is. The cap cut is per-order and orders partition
    * by the drop split, so capping each side independently equals
    * capping the whole corpus (spec-pinned). The store root carries
    * the cap value: partials built under one cap can never silently
    * serve a session running another. */
  private def incrementalInc(s: SparkSession, d: String,
      newSide: Boolean): DataFrame = {
    val dropPred = col("l_orderkey") % 10 === 3
    val cap = s.conf.get("spark.graft.basketCap", "0").toInt
    val i0 = Tables(s, d, "lineitem")
      .filter(if (newSide) dropPred else !dropPred)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    if (cap <= 0) i0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("ok").orderBy("pk")
      i0.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= cap).drop("rn")
    }
  }

  /** Root of the maintained-view partial stores. Defaults to
    * java.io.tmpdir but is configurable (`spark.graft.indexRoot`,
    * round-11 advice #3): OS tmp reapers can delete a sub-store between
    * sessions — or even between the ensureDir commit and the lazy
    * parquet read of the same refresh — so a deployment that wants the
    * materialized view durable points this at real storage. The store
    * stays content-addressed + cap-tagged under whichever root. */
  private def affIdxBase(s: SparkSession, d: String): String = {
    val cap = s.conf.get("spark.graft.basketCap", "0").toInt
    val root = s.conf.get("spark.graft.indexRoot",
      System.getProperty("java.io.tmpdir"))
    val tag = FixtureLayout.contentTag(d, Seq("lineitem"))
    val capSuffix = if (cap > 0) s"_cap$cap" else ""
    s"$root/graft_affidx_$tag$capSuffix"
  }

  /** Stored-partial read with the DumpPlans escape hatch: a
    * plan-inspection session (`spark.graft.skipEagerMaterialize=true`)
    * must run NO jobs at frame-build time, but a cold store would force
    * full base-side write jobs through ensureDir just to dump a plan
    * (round-11 advice #4). In those sessions the stored read is
    * substituted with the EQUIVALENT lazy base-side frame — same rows by
    * the store's own construction (the store is nothing but `build`
    * materialized), so the dumped plan is the real pipeline shape, not a
    * parquet scan of an opaque cache, and the digest is stable whether
    * or not a prior run warmed the store. An inspection session that
    * wants the STORED-path plan instead (the refresh shape a production
    * maintainer runs) sets `spark.graft.requireWarmIndex=true`: the
    * store must be pre-warmed and is read lazily, and a cold store
    * fails fast rather than silently running the build jobs.
    * Harness/production sessions always take the stored path. */
  private def storedOr(s: SparkSession, path: String)
      (build: => DataFrame): DataFrame = {
    val skipEager = planOnly(s)
    val requireWarm =
      s.conf.get("spark.graft.requireWarmIndex", "false") == "true"
    if (skipEager && requireWarm) {
      if (!new java.io.File(path).isDirectory)
        throw new IllegalStateException(
          s"spark.graft.requireWarmIndex=true but the partial store at " +
            s"$path is cold — pre-warm it with a normal-session refresh " +
            "before inspecting the stored-path plan")
      s.read.parquet(path)
    } else if (skipEager) build
    else {
      val bf = () => build
      s.read.parquet(FixtureLayout.ensureDir(path) { st =>
        bf().write.parquet(st)
      })
    }
  }

  private def pairsPreFloor(i: DataFrame): DataFrame =
    // Round-17: same one-exchange basket-array shape as the batch
    // pairCounts (guide §2.4) — the input is already the distinct
    // (ok, pk) incidence, so collect_set + the sorted nested explode
    // emits exactly the a.pk < b.pk self-join rows without the join's
    // extra ok-keyed repartition of both sides.
    i.groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(col("ps")).as("p1"), col("ps"))
      .select(col("p1"),
        explode(filter(col("ps"), x => x > col("p1"))).as("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("co"))

  private val incSql =
    "SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem"
  // pairs is MATERIALIZED (round 12): DuckDB inlines plain CTEs, so any
  // oracle that references pairs/edges from more than one place — every
  // iteration CTE of q_pagerank, every round of a recursive closure —
  // re-evaluates the whole wedge join per reference (the sf1 check spilled
  // 66 GB on q_pagerank before this). Single-reference oracles are
  // unaffected: materializing a once-read CTE is plan-neutral.
  private val pairsSql =
    s"""inc AS ($incSql),
       |pairs AS MATERIALIZED (
       |  SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS co
       |  FROM inc a JOIN inc b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  val q: Map[String, Q] = Map(
    // ── Association rules / market-basket affinity (round 10) ────────
    // Support / confidence / lift for every co-purchase pair at the
    // support floor — the classic a-priori 2-itemset pass (the "people
    // who bought X" engine, and the lift signal mixture design reads
    // the same way q_pmi_collocations reads token affinity). Part
    // order-counts and the 1-row order total broadcast back onto the
    // tiny pair list; every metric is a 6dp ratio of exact counts.
    "q_affinity_pairs" -> ((s, d) => {
      val (inc, pairs) = pairCounts(s, d)
      val cnt = inc.groupBy(col("pk")).agg(count(lit(1)).as("c"))
      val tot = inc.agg(countDistinct(col("ok")).as("n_orders"))
      pairs
        .join(cnt.select(col("pk").as("p1"), col("c").as("c1")), "p1")
        .join(cnt.select(col("pk").as("p2"), col("c").as("c2")), "p2")
        .crossJoin(broadcast(tot))
        .select(col("p1"), col("p2"), col("co"), col("c1"), col("c2"),
          round(col("co").cast("double") / col("n_orders"), 6)
            .as("support"),
          round(col("co").cast("double") / col("c1"), 6).as("conf_1to2"),
          round(col("co").cast("double") / col("c2"), 6).as("conf_2to1"),
          round((col("co").cast("double") * col("n_orders"))
            / (col("c1").cast("double") * col("c2")), 6).as("lift"))
        .orderBy("p1", "p2")
    }),

    // ── PageRank centrality (round 10; dangling mass round 11) ───────
    // Damped PageRank (d=0.85, 8 fixed iterations) over the undirected
    // co-purchase graph — "which parts anchor the catalog": the
    // iterative-fixpoint class next to q_dedup_cluster's label
    // propagation (CC finds the components, PageRank ranks inside
    // them). Nodes are ALL parts purchased at least once; a part with
    // no qualifying (co >= 2) edge is DANGLING (degree 0) and its rank
    // mass redistributes uniformly each round — the canonical
    // dangling-node term, so the operator no longer leans on the
    // edge-support floor to guarantee degree >= 1 (round-10 verdict #3:
    // a graph built from an arbitrary change stream has no such floor).
    // Per iteration: one edge-keyed join against the current rank
    // vector + a two-phase agg on dst, plus one O(nodes) filter-agg for
    // the dangling sum (r carries its degree, so no extra join) —
    // O(edges) shuffle per round, 8 rounds, localCheckpoint between
    // rounds so round k's plan never re-embeds k copies of the chain
    // (the q_dedup_cluster lesson). ALL rank arithmetic is exact
    // integer PICO-units (rank x 10^12 as long): per-edge contribution
    // = rp div deg (floor), redistribution = dang div n, damping =
    // 0.15-in-pico div n + (85 * sum) div 100 — no float op and no
    // decimal rounding anywhere in the iteration, so there is no
    // rounding boundary to fork on (the first cut rounded 12dp doubles
    // and forked on 129/1880 cells at the last digit) and both engines
    // walk the bit-identical rank sequence. The double `rank` column is
    // derived once at the end from the same long.
    "q_pagerank" -> ((s, d) => {
      val (inc, pairs) = pairCounts(s, d)
      // one pair computation serves all 8 rounds (persistEager: no job
      // and no cache under the DumpPlans escape hatch)
      val edges = persistEager(
        pairs.select(col("p1").as("src"), col("p2").as("dst"))
          .unionByName(pairs.select(col("p2").as("src"),
            col("p1").as("dst"))))
      val out = pageRank(inc.select(col("pk")).distinct(), edges)
      materializeAndFree(out, edges)
    }),

    "q_triangle_count" -> (graphTriangles _),

    // ── Incremental affinity-index maintenance (round 11) ────────────
    // The graph family's O(drop) refresh story: the co-purchase pair
    // index maintained as a persisted materialized view instead of
    // recomputed from the fact table per refresh. Pair counts are
    // ALGEBRAIC over disjoint order sets (each order contributes its
    // pairs independently), so the stored PRE-FLOOR (p1, p2, co)
    // partials merge with the new drop's pairs by simple sum and the
    // co >= 2 support floor applies after the merge — giving counts
    // BIT-IDENTICAL to a full recompute, which is exactly what the
    // DuckDB twin (full-data pairs) verifies. The drop convention is
    // the family's modulo split (l_orderkey % 10 = 3); the stored side
    // is content-addressed (FixtureLayout), and per refresh the fact
    // table is scanned ONLY with the drop filter (CurationSpec-style
    // plan pin in QueriesSpec). basketCap composes: incrementalInc
    // applies the same per-order cut on both sides (orders partition by
    // the split, so per-side capping == whole-corpus capping,
    // spec-pinned) and the store root is cap-aware so partials built
    // under one cap never serve a session running another. At 100 TB
    // this is how the affinity/recommendation tables stay O(new
    // orders) per refresh.
    "q_affinity_incremental" -> ((s, d) => {
      val drop = persistEager(incrementalInc(s, d, newSide = true))
      val base = affIdxBase(s, d)
      val storedPairs = storedOr(s, s"$base/pairs") {
        pairsPreFloor(incrementalInc(s, d, newSide = false))
      }
      val storedTot = storedOr(s, s"$base/tot") {
        incrementalInc(s, d, newSide = false)
          .agg(countDistinct(col("ok")).as("n_orders"))
          .coalesce(1)
      }
      val merged = storedPairs
        .unionByName(pairsPreFloor(drop))
        .groupBy("p1", "p2").agg(sum("co").as("co"))
        .filter(col("co") >= 2)
      val tot = storedTot
        .unionByName(drop.agg(countDistinct(col("ok")).as("n_orders")))
        .agg(sum("n_orders").as("n_orders"))
      val out = merged.crossJoin(broadcast(tot))
        .select(col("p1"), col("p2"), col("co"),
          round(col("co").cast("double") / col("n_orders"), 6)
            .as("support"))
        .orderBy("p1", "p2")
      materializeAndFree(out, drop)
    }),

    // ── Connected components (round 11) ──────────────────────────────
    // Co-purchase communities: which parts form one connected cluster
    // of purchasing behavior — the retail twin of q_dedup_cluster's
    // near-dup components, REUSING the same pointer-doubling
    // min-label kernel (AnnOps.propagateMinLabels: O(log n) rounds on
    // chain-shaped graphs, component-min labels, O(edges) shuffle per
    // round) so the two operators can never diverge on CC semantics.
    // Component id = min part id in the component; singleton = a part
    // with no qualifying edge never enters the loop and labels itself.
    // Oracle: recursive-CTE transitive closure with MIN-reach — exact,
    // and cheap here because co-purchase graphs at the support floor
    // are FRAGMENTED (sf0.1: 2350 components over 5922 nodes).
    "q_graph_components" -> ((s, d) => {
      val (inc, pairs0) = pairCounts(s, d)
      val pairs = persistEager(pairs0.select("p1", "p2"))
      val edges = pairs.select(col("p1").as("src"), col("p2").as("dst"))
        .union(pairs.select(col("p2").as("src"), col("p1").as("dst")))
        .localCheckpoint(true)
      val (labels, _) = AnnOps.propagateMinLabels(edges)
      val csz = org.apache.spark.sql.expressions.Window
        .partitionBy("component_id")
      val out = inc.select(col("pk")).distinct()
        .join(labels.withColumnRenamed("doc_id", "pk"), Seq("pk"), "left")
        .select(col("pk"),
          coalesce(col("label"), col("pk")).as("component_id"))
        .withColumn("component_size", count(lit(1)).over(csz))
        .select(col("pk"), col("component_id"), col("component_size"),
          (col("pk") === col("component_id")).as("is_canonical"))
        .orderBy("pk")
      materializeAndFree(out, pairs)
    }),

    // ── 2-hop link prediction (round 11) ─────────────────────────────
    // "Parts that SHOULD be co-merchandised but aren't yet": for every
    // NON-adjacent part pair sharing >= 1 common neighbor, the three
    // classical link-prediction scores — common-neighbor count, Jaccard
    // over neighbor sets, Adamic-Adar (sum of 1/ln(deg) over the shared
    // neighbors, damping hub neighbors) — served as a top-3 per part,
    // the forward-looking twin of q_recommend_items' observed-lift
    // table. Determinism: cn/deg are exact integers; the AA terms
    // pre-round at 12dp into exact decimals (the q_unigram_logprob ln
    // scheme) so the sum is order-independent; the serving cut orders
    // by (cn desc, cand asc) — fully integer. Scale shape: wedge
    // enumeration is deg² at the MIDDLE node, and unlike the triangle
    // pass degree-orientation cannot save it (link prediction needs ALL
    // neighbor pairs of w, not oriented wedges). The seam for that is
    // `spark.graft.linkDegCap` (round-11 verdict #1): a node above the
    // cap contributes wedges only from a BOTTOM-K sketch of its
    // neighbor set (sketchAdjacency — a coordinated KMV sample by one
    // global hash over neighbor ids), bounding any middle node's
    // fan-out at cap² candidate rows; nodes at or below the cap stay
    // EXACT, and cap >= max degree is bit-identical to uncapped
    // (spec-pinned, so the fixture CORRECTNESS hash cannot move).
    // NB (r17 advice): with the cap UNSET the r17 basket re-plan
    // collect_set buffers a hub middle's whole neighbor set as one
    // array row in the aggregation buffer (the old self-join streamed
    // it row-per-neighbor), so uncapped runs at scale should set
    // linkDegCap to bound the basket array — the same guidance the cap
    // itself documents for the candidate fan-out.
    // Degrees — and therefore Jaccard/AA denominators — are computed
    // PRE-sketch and stay exact; only cn/aa through over-cap middles
    // become sampled estimates. Then one anti-join against the edge
    // list, one per-part window with WindowGroupLimit pruning rank > 3.
    // The scored frame feeds both direction branches, so the whole
    // wedge pipeline persists once (round-11 advice #1).
    "q_link_predict" -> ((s, d) => {
      val (_, pairs0) = pairCounts(s, d)
      val pairs = persistEager(pairs0.select("p1", "p2"))
      val adj = pairs.select(col("p1").as("w"), col("p2").as("nbr"))
        .unionByName(pairs.select(col("p2").as("w"), col("p1").as("nbr")))
      val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
      val cap = s.conf.get("spark.graft.linkDegCap", "0").toInt
      // Round-17 re-plan (guide §2.3/§2.4 — the pairCounts basket-array
      // mechanism): wedges through a middle node w are the unordered
      // pairs of w's (possibly sketched) neighbor set, so one
      // groupBy(w) with map-side-partial collect_set + a nested explode
      // over the sorted array replaces the adjacency self-join (and its
      // persistEager barrier — the basket frame feeds exactly one
      // consumer). The AA term is a function of the middle's PRE-sketch
      // degree alone, so it projects once per basket before the
      // fan-out; a hub middle's d² pair burst is in-stage CPU bounded
      // by linkDegCap, never a skewed shuffle partition (the planted-
      // hub pin). With cap > 0 the sketch window hashes on w — the
      // exact exchange the basket groupBy reuses.
      val baskets = sketchAdjacency(adj, cap)
        .groupBy("w").agg(sort_array(collect_set(col("nbr"))).as("nbrs"))
        .join(deg, "w")
      val aaTerm = round(lit(1.0) / log(col("deg").cast("double")), 12)
        .cast("decimal(14,12)")
      val wedges = baskets
        // a sub-2 basket emits no wedge (the nested explode would drop
        // it anyway) — filtering it FIRST keeps the AA projection off
        // degree-1 middles, where 1/ln(deg) is an ANSI divide-by-zero
        // the old join shape never evaluated (deg >= basket size >= 2
        // on every surviving row, so ln(deg) > 0 here)
        .filter(size(col("nbrs")) >= 2)
        .select(aaTerm.as("aat"), explode(col("nbrs")).as("u"),
          col("nbrs"))
        .select(col("aat"), col("u"),
          explode(filter(col("nbrs"), x => x > col("u"))).as("v"))
      val scored = persistEager(wedges
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("cn"), sum(col("aat")).as("aa"))
        .join(pairs, col("u") === col("p1") && col("v") === col("p2"),
          "left_anti")
        .join(deg.select(col("w").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("w").as("v"), col("deg").as("dv")), "v")
        .select(col("u"), col("v"), col("cn"),
          round(col("cn").cast("double")
            / (col("du") + col("dv") - col("cn")), 6).as("jaccard"),
          round(col("aa"), 6).cast("double").as("adamic_adar")))
      val dir = scored.select(col("u").as("part"), col("v").as("cand"),
          col("cn"), col("jaccard"), col("adamic_adar"))
        .unionByName(scored.select(col("v").as("part"),
          col("u").as("cand"), col("cn"), col("jaccard"),
          col("adamic_adar")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("part")
        .orderBy(col("cn").desc, col("cand").asc)
      val out = dir.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("part"), col("rk").cast("long").as("rk"), col("cand"),
          col("cn"), col("jaccard"), col("adamic_adar"))
        .orderBy("part", "rk")
      materializeAndFree(out, pairs, scored)
    }),

    // ── Degree distribution histogram (round 11) ─────────────────────
    // Log2-binned degree distribution of the co-purchase graph — the
    // first graph-health read before any centrality/community job ships
    // (a catalog whose head bucket explodes needs basketCap/salting
    // BEFORE the wedge pass, and the power-law tail here is the graph
    // twin of q_zipf_fit's token curve). The bin index is
    // length(bin(deg)) - 1 = floor(log2(deg)) computed on the BINARY
    // STRING — both engines render identical minimal binary strings for
    // positive ints, so the boundary at exact powers of two cannot fork
    // the way a float log2 would. One node-cardinality agg on an
    // O(nodes) frame; output is O(log maxdeg) rows at any scale.
    "q_degree_hist" -> ((s, d) => {
      // one pair computation feeds both union branches + the total
      val pairs = persistEager(pairCounts(s, d)._2.select("p1", "p2"))
      val deg = pairs.select(col("p1").as("pk"))
        .unionByName(pairs.select(col("p2").as("pk")))
        .groupBy("pk").agg(count(lit(1)).as("degree"))
      val tot = deg.agg(count(lit(1)).as("n_nodes_total"))
      val out = deg
        .select((length(bin(col("degree"))) - 1).cast("long").as("bucket"),
          col("degree"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"),
          min("degree").as("min_degree"), max("degree").as("max_degree"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"),
          expr("shiftleft(1L, cast(bucket as int))").as("bucket_lo"),
          expr("shiftleft(1L, cast(bucket + 1 as int)) - 1")
            .as("bucket_hi"),
          col("n_nodes"), col("min_degree"), col("max_degree"),
          round(col("n_nodes").cast("double") / col("n_nodes_total"), 6)
            .as("share"))
        .orderBy("bucket")
      materializeAndFree(out, pairs)
    }),

    // ── Whole-graph summary statistics (round 11) ────────────────────
    // The 1-row graph dashboard: node/dangling/edge counts, average
    // degree, max degree, total triangles, and the GLOBAL clustering
    // coefficient (3·triangles / wedges — how much of the wedge supply
    // actually closes), composing the same pairCounts/orientation
    // machinery as the per-node operators so the numbers can never
    // disagree with them. Every displayed value is a 6dp ratio of exact
    // integers; triangles come from the degree-oriented enumeration
    // (identical total to the oracle's id-ordered one). Scale shape:
    // everything aggregates node- or triangle-cardinality frames to ONE
    // row; the only non-trivial work is the wedge pass q_triangle_count
    // already bounds.
    "q_graph_stats" -> ((s, d) => {
      val (inc, pairs0) = pairCounts(s, d)
      val pairs = persistEager(pairs0.select("p1", "p2"))
      val deg = pairs.select(col("p1").as("pk"))
        .unionByName(pairs.select(col("p2").as("pk")))
        .groupBy("pk").agg(count(lit(1)).as("degree"))
      // the oriented list feeds the base-edge scan and the out-neighbor
      // array build (two reads since the r17 basket re-plan)
      val ori = persistEager(orientEdges(pairs, deg))
      val triCount = orientedTriangles(ori)
        .agg(count(lit(1)).as("n_triangles"))
      val degStats = deg.agg(count(lit(1)).as("n_nodes"),
        sum("degree").as("deg_sum"), max("degree").as("max_degree"),
        sum(col("degree") * (col("degree") - 1)).as("wedges2"))
      val nParts = inc.agg(countDistinct(col("pk")).as("n_parts"))
      val out = degStats.crossJoin(broadcast(triCount))
        .crossJoin(broadcast(nParts))
        .select(col("n_nodes"),
          (col("n_parts") - col("n_nodes")).as("n_dangling"),
          expr("deg_sum div 2").as("n_edges"),
          round(col("deg_sum").cast("double") / col("n_nodes"), 6)
            .as("avg_degree"),
          col("max_degree"), col("n_triangles"),
          round(lit(6.0) * col("n_triangles") / col("wedges2"), 6)
            .as("global_clustering"))
      materializeAndFree(out, pairs, ori)
    }),

    // ── Item-to-item recommendations (round 10) ──────────────────────
    // The serving view of q_affinity_pairs: per part, the top-3
    // co-purchase partners by lift (count tie-break, then id — a total
    // order, so the rank-3 cut is engine-deterministic), lift/conf
    // re-derived with the identical 6dp expressions. This is the
    // "customers also bought" table a storefront actually reads; at
    // 100 TB it materializes after each affinity refresh and serves
    // from a key-value store. One pair-keyed projection (each
    // undirected pair contributes both directions) + a per-part window
    // — WindowGroupLimit prunes rank > 3 before the shuffle completes.
    "q_recommend_items" -> ((s, d) => {
      val (inc, pairs) = pairCounts(s, d)
      val cnt = inc.groupBy(col("pk")).agg(count(lit(1)).as("c"))
      val tot = inc.agg(countDistinct(col("ok")).as("n_orders"))
      recommendFrom(pairs, cnt, tot)
    }),

    // ── Incremental recommendation serving table (round 11) ──────────
    // The maintained "customers also bought" table: the q_recommend_
    // items serving view computed from MERGED partials instead of a
    // fact-table recompute — the composition of q_affinity_incremental
    // (pair partials) with two more algebraic partials (per-part order
    // counts and the order total), all sharing ONE content-addressed
    // store, then the SAME serving helper as the batch operator (the
    // two literally cannot drift — recommendFrom is one definition).
    // Oracle = q_recommend_items' full-recompute SQL verbatim, so the
    // hash gate proves maintained-view == recompute end to end. Per
    // refresh the fact table is scanned only with the drop filter.
    "q_recommend_incremental" -> ((s, d) => {
      val base = affIdxBase(s, d)
      // the pair/tot stores are SHARED with q_affinity_incremental
      // (same cap-aware content-addressed paths); cnt is this
      // operator's own
      val storedPairs = storedOr(s, s"$base/pairs") {
        pairsPreFloor(incrementalInc(s, d, newSide = false))
      }
      val storedTot = storedOr(s, s"$base/tot") {
        incrementalInc(s, d, newSide = false)
          .agg(countDistinct(col("ok")).as("n_orders"))
          .coalesce(1)
      }
      val storedCnt = storedOr(s, s"$base/cnt") {
        incrementalInc(s, d, newSide = false)
          .groupBy("pk").agg(count(lit(1)).as("c"))
      }
      val drop = persistEager(incrementalInc(s, d, newSide = true))
      val pairs = storedPairs
        .unionByName(pairsPreFloor(drop))
        .groupBy("p1", "p2").agg(sum("co").as("co"))
        .filter(col("co") >= 2)
      val cnt = storedCnt
        .unionByName(drop.groupBy("pk").agg(count(lit(1)).as("c")))
        .groupBy("pk").agg(sum("c").as("c"))
      val tot = storedTot
        .unionByName(drop.agg(countDistinct(col("ok")).as("n_orders")))
        .agg(sum("n_orders").as("n_orders"))
      recommendFrom(pairs, cnt, tot, drop)
    }),
  )

  /** The recommendation serving computation: directional projection of
    * the supported pair list, lift/confidence at 6dp, integer-ordered
    * top-3 per part. ONE definition shared by q_recommend_items (live
    * pairCounts input) and q_recommend_incremental (merged partials
    * input) so the maintained view cannot drift from the batch
    * semantics. The sized pair frame feeds BOTH direction branches, so
    * it persists once (round 12 — the same double-execution shape the
    * r11 advice flagged on q_link_predict's scored frame; before this,
    * the whole pair pipeline ran twice per serve). `extraHandles` lets
    * callers hand their own upstream caches to the one
    * materializeAndFree. */
  private def recommendFrom(pairs: DataFrame, cnt: DataFrame,
      tot: DataFrame, extraHandles: DataFrame*): DataFrame = {
    val sized = persistEager(pairs
      .join(cnt.select(col("pk").as("p1"), col("c").as("c1")), "p1")
      .join(cnt.select(col("pk").as("p2"), col("c").as("c2")), "p2")
      .crossJoin(broadcast(tot)))
    val dir = sized.select(col("p1").as("part"), col("p2").as("rec"),
        col("co"), col("c1").as("cp"), col("c2").as("cr"),
        col("n_orders"))
      .unionByName(sized.select(col("p2").as("part"),
        col("p1").as("rec"), col("co"), col("c2").as("cp"),
        col("c1").as("cr"), col("n_orders")))
      .withColumn("lift",
        round((col("co").cast("double") * col("n_orders"))
          / (col("cp").cast("double") * col("cr")), 6))
      .withColumn("confidence",
        round(col("co").cast("double") / col("cp"), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("part")
      .orderBy(col("lift").desc, col("co").desc, col("rec").asc)
    val out = dir.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("part"), col("rk").cast("long").as("rk"), col("rec"),
        col("co"), col("lift"), col("confidence"))
      .orderBy("part", "rk")
    materializeAndFree(out, (sized +: extraHandles): _*)
  }

  /** The PageRank kernel over an explicit node set: `nodes` is one
    * `pk` column (every vertex, including DANGLING ones with no edge),
    * `edges` a symmetric (src, dst) list whose endpoints all appear in
    * `nodes`. Exposed to the spec so a planted dangling node is
    * testable without fixture surgery. All arithmetic is the integer
    * pico-unit scheme documented at the q_pagerank entry; per round the
    * dangling sum is a filter-agg over the checkpointed rank frame
    * (rank rows carry their degree precisely so this costs no join).
    * Output: (pk, degree, rank_pico, rank) ordered rank desc, pk. */
  private[graft] def pageRank(nodes: DataFrame, edges: DataFrame)
      : DataFrame = {
    val s = nodes.sparkSession
    val edeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // (pk, deg) for every node, deg 0 for dangling — checkpointed once,
    // reused as the spine of all 8 rounds and the final projection
    val degNodes0 = nodes
      .join(edeg.withColumnRenamed("src", "pk"), Seq("pk"), "left")
      .select(col("pk"), coalesce(col("deg"), lit(0L)).as("deg"))
    if (planOnly(s)) pageRankLazy(degNodes0, edges)
    else {
      // Round-17 re-plan (guide §2.4/§1.2): the old recurrence carried
      // n and the dangling mass as 1-row broadcast-joined frames, so
      // every round paid two extra jobs (the dang agg + the nDf agg
      // feeding each BroadcastExchange) on top of its checkpoint.
      // Both scalars are exact longs the driver may hold (the bounded
      // O(1)-collect class): n is constant across rounds — ONE count on
      // the checkpointed spine — and each round's dangling mass now
      // rides the round's own checkpoint action as a Dataset.observe
      // metric (checkpointedWithSum — the CC kernel's convergence-sum
      // machinery). One job per round instead of three; the integer
      // pico-unit recurrence is unchanged term for term (Scala Long
      // division == SQL div on these nonnegative values), so the rank
      // sequence is bit-identical — the DuckDB gate re-checks that.
      val degNodes = degNodes0.localCheckpoint(true)
      val n = degNodes.count()
      val dangSum = coalesce(sum(when(col("deg") === 0, col("rp"))),
        lit(0L))
      var (r, dang) = checkpointedWithSum(
        degNodes.select(col("pk"), col("deg"),
          lit(1000000000000L / n).as("rp")), dangSum)
      for (_ <- 1 to 8) {
        val contrib = edges
          .join(r, edges("src") === r("pk"))
          .groupBy(col("dst"))
          .agg(sum(expr("rp div deg")).as("m"))
          .withColumnRenamed("dst", "pk")
        val next = degNodes
          .join(contrib, Seq("pk"), "left")
          .select(col("pk"), col("deg"),
            // integer `div` (never Column./, which is a double Divide);
            // the two driver-literal terms are the SQL div results
            // verbatim — nonnegative Long division is identical in
            // Scala and SQL
            expr(s"${150000000000L / n}L + (85 * (coalesce(m, " +
              s"cast(0 as bigint)) + ${dang / n}L)) div 100").as("rp"))
        val (cp, ds) = checkpointedWithSum(next, dangSum)
        r = cp
        dang = ds
      }
      pageRankProject(r)
    }
  }

  /** The pre-round-17 broadcast-scalar recurrence, kept ONLY for
    * plan-inspection sessions (spark.graft.skipEagerMaterialize): a
    * digest/dump session must run no jobs at frame-build time, so the
    * driver-literal path above (one count + observed dangling sums) is
    * unavailable there. Lazy end to end — 8 unrolled rounds of a tiny
    * graph still dump fine. Execution sessions never take this path. */
  private def pageRankLazy(degNodes: DataFrame, edges: DataFrame)
      : DataFrame = {
    val nDf = degNodes.agg(count(lit(1)).as("n"))
    var r = degNodes.crossJoin(broadcast(nDf))
      .select(col("pk"), col("deg"),
        expr("1000000000000 div n").as("rp"))
    for (_ <- 1 to 8) {
      // mass parked on degree-0 nodes, redistributed uniformly below
      val dang = r.filter(col("deg") === 0)
        .agg(coalesce(sum("rp"), lit(0L)).as("dang"))
      val contrib = edges
        .join(r, edges("src") === r("pk"))
        .groupBy(col("dst"))
        .agg(sum(expr("rp div deg")).as("m"))
        .withColumnRenamed("dst", "pk")
      r = degNodes
        .join(contrib, Seq("pk"), "left")
        .crossJoin(broadcast(nDf))
        .crossJoin(broadcast(dang))
        .select(col("pk"), col("deg"),
          expr("150000000000 div n + " +
            "(85 * (coalesce(m, cast(0 as bigint)) + dang div n)) div 100")
            .as("rp"))
    }
    pageRankProject(r)
  }

  private def pageRankProject(r: DataFrame): DataFrame =
    r.select(col("pk"), col("deg").cast("long").as("degree"),
        col("rp").as("rank_pico"),
        (col("rp").cast("double") / lit(1000000000000.0)).as("rank"))
      .orderBy(col("rank_pico").desc, col("pk").asc)

  /** Bottom-k neighbor sketch for the wedge pass (round-11 verdict #1 —
    * the last acknowledged 100x scale-killer): a node with more than
    * `cap` neighbors keeps only the `cap` neighbors with the SMALLEST
    * xxhash64(nbr) (ties broken by id — a total order, so the kept set
    * is deterministic and repartition-stable). Because every node
    * samples by the SAME global hash of the neighbor id, the per-node
    * sketches are coordinated bottom-k (KMV) samples: two hub middles
    * keep consistent views of a shared neighbor, which is what makes
    * the sampled common-neighbor counts comparable across pairs. Nodes
    * at or below the cap are untouched — with cap >= the corpus max
    * degree the output is bit-identical to the input (spec-pinned).
    * The row_number window hashes on `w`, the exact exchange the wedge
    * self-join needs next, so the cut rides the shuffle that was
    * already being paid — the shingleDfCap/basketCap precedent applied
    * to adjacency lists. cap <= 0 (the default) disables the sketch. */
  private[graft] def sketchAdjacency(adj: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) adj else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("w").orderBy(xxhash64(col("nbr")), col("nbr"))
      adj.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= cap).drop("rn")
    }

  /** Orient the undirected p1<p2 edge list from the LOWER-degree
    * endpoint to the higher ((degree, id) lexicographic — id breaks
    * ties, so the orientation is a total order and every edge gets
    * exactly one direction). Output columns: src, dst, ddeg (= the
    * destination's degree, carried so wedge enumeration can order
    * out-neighbors without re-joining degrees). Exposed to the spec,
    * which pins the invariant (deg(src), src) < (deg(dst), dst) and
    * that a max-degree hub's out-degree is 0 on a star graph. */
  private[graft] def orientEdges(pairs: DataFrame, deg: DataFrame)
      : DataFrame = {
    val sized = pairs
      .join(deg.select(col("pk").as("p1"), col("degree").as("d1")), "p1")
      .join(deg.select(col("pk").as("p2"), col("degree").as("d2")), "p2")
    val p1Lower = col("d1") < col("d2") ||
      (col("d1") === col("d2") && col("p1") < col("p2"))
    sized.select(
      when(p1Lower, col("p1")).otherwise(col("p2")).as("src"),
      when(p1Lower, col("p2")).otherwise(col("p1")).as("dst"),
      when(p1Lower, col("d2")).otherwise(col("d1")).as("ddeg"))
  }

  /** ONE definition of the degree-oriented triangle enumeration
    * (round-11 verdict #7: q_graph_stats had inlined a second copy of
    * this wedge join, which could silently diverge from the per-node
    * pass). Each triangle {a,b,c} appears exactly once, at its
    * lowest-(degree, id) corner. Output columns (a, b, c).
    *
    * Round-17 re-plan (guide §2.3/§2.4 — the pairCounts basket-array
    * mechanism applied to adjacency): the old shape enumerated wedges
    * via an ori×ori self-join and shuffled the O(Σ out-deg²) wedge
    * rows into a (src, dst)-keyed closure join against ori a third
    * time. Triangles at the lowest corner are exactly
    *   Σ over oriented edges (a→b) of |out(a) ∩ out(b)|
    * — a triple (a,b,c) has a→b, a→c, b→c, so c ∈ out(a) ∩ out(b),
    * and the old wedgeOrder condition was IMPLIED by the closure edge
    * (b→c oriented ⇒ (deg_b, b) < (deg_c, c)); no other edge of the
    * triangle sees a common out-neighbor, so each triple lands exactly
    * once. The out-neighbor sets ride as per-node sorted arrays (one
    * groupBy(src) — map-side-partial collect_set over the cached ori),
    * the two attach joins are node-cardinality array frames (their
    * identical build exchanges deduplicate via ReuseExchange), and the
    * per-edge intersection is in-stage CPU — the wedge-row shuffle and
    * the pair-keyed closure exchange are gone. An edge whose dst has no
    * out-edge closes nothing and drops at the inner join; empty
    * intersections drop at the explode. */
  private[graft] def orientedTriangles(ori: DataFrame): DataFrame = {
    val outArr = ori.groupBy("src")
      .agg(sort_array(collect_set(col("dst"))).as("onb"))
    ori.select(col("src"), col("dst"))
      .join(outArr.select(col("src"), col("onb").as("oa")), "src")
      .join(outArr.select(col("src").as("dst"), col("onb").as("ob")),
        "dst")
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("oa"), col("ob"))).as("c"))
  }

  /** ── Triangle count + local clustering coefficient (round 10) ─────
    * How clique-y is each node's neighborhood — the community-structure
    * signal next to PageRank's centrality (a high-degree low-clustering
    * part is a generic staple; high-clustering parts form bundles).
    * Triangles enumerate once via the DEGREE-ordered orientation
    * (round-11, verdict #1): every edge points from its lower-(degree,
    * id) endpoint to the higher, wedges pair the out-neighbors of each
    * node ordered by the same (degree, id) key, and the closing edge is
    * looked up in the same oriented list. Each triangle {u,v,w} is
    * counted exactly once — at its lowest-(degree, id) corner — so the
    * TOTAL and the per-node counts are identical to the id-ordered
    * enumeration the DuckDB oracle runs (same oracle SQL, same hash).
    * The point of degree-ordering is SKEW at 100x: wedges fan out only
    * from ORIENTED out-edges, a max-degree hub has out-degree 0 (every
    * neighbor is lower), and any node's out-degree is O(sqrt(edges)) —
    * the classic bound that keeps one hot join key from carrying O(d²)
    * wedge rows. Per-node coefficient = 2T / (deg (deg-1)) at 6dp;
    * degree-1 nodes keep NULL on both engines. Shuffles: the wedge join
    * keys on the (low-degree) source node id, the closure join on the
    * (src, dst) pair; everything else is node-cardinality
    * aggregation. */
  private def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val (_, pairs0) = pairCounts(s, d)
    // one edge computation serves orientation + degree
    val pairs = persistEager(pairs0.select("p1", "p2"))
    val deg = pairs.select(col("p1").as("pk"))
      .unionByName(pairs.select(col("p2").as("pk")))
      .groupBy("pk").agg(count(lit(1)).as("degree"))
    // the oriented list feeds the base-edge scan and the out-neighbor
    // array build (two reads since the r17 basket re-plan): persist the
    // tiny frame rather than re-running the two degree joins
    val ori = persistEager(orientEdges(pairs, deg))
    val tri = orientedTriangles(ori)
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c")))
        .as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("n_triangles"))
    val out = deg.join(perNode, Seq("pk"), "left")
      .select(col("pk"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round((lit(2.0) * coalesce(col("n_triangles"), lit(0L)))
            / (col("degree").cast("double") * (col("degree") - 1)), 6))
          .as("clustering"))
      .orderBy("pk")
    materializeAndFree(out, pairs, ori)
  }

  // AS MATERIALIZED: each iteration reads its predecessor TWICE (the
  // dangling sum + the edge contributions); DuckDB 1.0 inlines CTEs by
  // default, which would re-evaluate r(k-1) twice per reference — 2^8
  // evaluations of the whole chain by r8. Materializing pins the
  // oracle to the same once-per-round evaluation the Spark side's
  // localCheckpoint enforces.
  private def rankIterSql(prev: String, k: Int): String =
    s"""r$k AS MATERIALIZED (
       |  SELECT nd.pk, nd.deg,
       |    CAST(150000000000 // n.n
       |      + (85 * (COALESCE(m.m, 0) + dg.d // n.n)) // 100
       |      AS BIGINT) AS rp
       |  FROM degnodes nd
       |  CROSS JOIN n
       |  CROSS JOIN (SELECT COALESCE(SUM(rp), 0) AS d
       |              FROM $prev WHERE deg = 0) dg
       |  LEFT JOIN (SELECT e.dst AS pk, SUM(r.rp // r.deg) AS m
       |             FROM edges e JOIN $prev r ON r.pk = e.src
       |             GROUP BY e.dst) m ON m.pk = nd.pk)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_affinity_pairs" ->
      s"""WITH $pairsSql,
         |cnt AS (SELECT pk, COUNT(*) AS c FROM inc GROUP BY pk),
         |tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM inc)
         |SELECT p1, p2, CAST(co AS BIGINT) AS co,
         |  CAST(c1.c AS BIGINT) AS c1, CAST(c2.c AS BIGINT) AS c2,
         |  round(CAST(co AS DOUBLE) / tot.n_orders, 6) AS support,
         |  round(CAST(co AS DOUBLE) / c1.c, 6) AS conf_1to2,
         |  round(CAST(co AS DOUBLE) / c2.c, 6) AS conf_2to1,
         |  round((CAST(co AS DOUBLE) * tot.n_orders)
         |        / (CAST(c1.c AS DOUBLE) * c2.c), 6) AS lift
         |FROM pairs
         |JOIN cnt c1 ON c1.pk = p1
         |JOIN cnt c2 ON c2.pk = p2
         |CROSS JOIN tot
         |ORDER BY p1, p2""".stripMargin,

    "q_triangle_count" ->
      s"""WITH $pairsSql,
         |e AS (SELECT p1, p2 FROM pairs),
         |tri AS (
         |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
         |  FROM e e1
         |  JOIN e e2 ON e1.p2 = e2.p1
         |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
         |pn AS (
         |  SELECT pk, COUNT(*) AS n_triangles FROM (
         |    SELECT a AS pk FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri)
         |  GROUP BY pk),
         |deg AS (
         |  SELECT pk, COUNT(*) AS degree FROM (
         |    SELECT p1 AS pk FROM e UNION ALL SELECT p2 FROM e)
         |  GROUP BY pk)
         |SELECT d.pk, CAST(d.degree AS BIGINT) AS degree,
         |  CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN d.degree >= 2 THEN
         |    round((2.0 * COALESCE(pn.n_triangles, 0))
         |      / (CAST(d.degree AS DOUBLE) * (d.degree - 1)), 6)
         |  END AS clustering
         |FROM deg d LEFT JOIN pn ON pn.pk = d.pk
         |ORDER BY d.pk""".stripMargin,

    "q_recommend_items" ->
      s"""WITH $pairsSql,
         |cnt AS (SELECT pk, COUNT(*) AS c FROM inc GROUP BY pk),
         |tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM inc),
         |sized AS (
         |  SELECT p1, p2, co, c1.c AS c1, c2.c AS c2, tot.n_orders
         |  FROM pairs
         |  JOIN cnt c1 ON c1.pk = p1
         |  JOIN cnt c2 ON c2.pk = p2
         |  CROSS JOIN tot),
         |dir AS (
         |  SELECT p1 AS part, p2 AS rec, co, c1 AS cp, c2 AS cr, n_orders
         |  FROM sized
         |  UNION ALL
         |  SELECT p2, p1, co, c2, c1, n_orders FROM sized),
         |scored AS (
         |  SELECT part, rec, CAST(co AS BIGINT) AS co,
         |    round((CAST(co AS DOUBLE) * n_orders)
         |          / (CAST(cp AS DOUBLE) * cr), 6) AS lift,
         |    round(CAST(co AS DOUBLE) / cp, 6) AS confidence
         |  FROM dir),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY part
         |    ORDER BY lift DESC, co DESC, rec ASC) AS rk
         |  FROM scored)
         |SELECT part, CAST(rk AS BIGINT) AS rk, rec, co, lift, confidence
         |FROM ranked WHERE rk <= 3
         |ORDER BY part, rk""".stripMargin,

    // Full-data recompute: the maintained serving table must be
    // bit-identical to q_recommend_items' output.
    "q_recommend_incremental" ->
      s"""WITH $pairsSql,
         |cnt AS (SELECT pk, COUNT(*) AS c FROM inc GROUP BY pk),
         |tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM inc),
         |sized AS (
         |  SELECT p1, p2, co, c1.c AS c1, c2.c AS c2, tot.n_orders
         |  FROM pairs
         |  JOIN cnt c1 ON c1.pk = p1
         |  JOIN cnt c2 ON c2.pk = p2
         |  CROSS JOIN tot),
         |dir AS (
         |  SELECT p1 AS part, p2 AS rec, co, c1 AS cp, c2 AS cr, n_orders
         |  FROM sized
         |  UNION ALL
         |  SELECT p2, p1, co, c2, c1, n_orders FROM sized),
         |scored AS (
         |  SELECT part, rec, CAST(co AS BIGINT) AS co,
         |    round((CAST(co AS DOUBLE) * n_orders)
         |          / (CAST(cp AS DOUBLE) * cr), 6) AS lift,
         |    round(CAST(co AS DOUBLE) / cp, 6) AS confidence
         |  FROM dir),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY part
         |    ORDER BY lift DESC, co DESC, rec ASC) AS rk
         |  FROM scored)
         |SELECT part, CAST(rk AS BIGINT) AS rk, rec, co, lift, confidence
         |FROM ranked WHERE rk <= 3
         |ORDER BY part, rk""".stripMargin,

    // Full-data recompute: the incremental merge must be bit-identical
    // to it (pair counts are algebraic over disjoint order sets).
    "q_affinity_incremental" ->
      s"""WITH $pairsSql,
         |tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM inc)
         |SELECT p1, p2, CAST(co AS BIGINT) AS co,
         |  round(CAST(co AS DOUBLE) / tot.n_orders, 6) AS support
         |FROM pairs CROSS JOIN tot
         |ORDER BY p1, p2""".stripMargin,

    "q_graph_components" ->
      s"""WITH RECURSIVE $pairsSql,
         |edges AS MATERIALIZED (
         |  SELECT p1 AS a, p2 AS b FROM pairs
         |  UNION SELECT p2, p1 FROM pairs),
         |allp AS (SELECT DISTINCT pk FROM inc),
         |reach(id, r) AS (
         |  SELECT pk, pk FROM allp
         |  UNION
         |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id),
         |lab AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         |csz AS (SELECT comp, COUNT(*) AS component_size
         |        FROM lab GROUP BY comp)
         |SELECT l.id AS pk, l.comp AS component_id, c.component_size,
         |  l.id = l.comp AS is_canonical
         |FROM lab l JOIN csz c ON c.comp = l.comp
         |ORDER BY l.id""".stripMargin,

    "q_link_predict" ->
      s"""WITH $pairsSql,
         |adj AS (
         |  SELECT p1 AS w, p2 AS nbr FROM pairs
         |  UNION ALL SELECT p2, p1 FROM pairs),
         |deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w),
         |adjd AS (SELECT a.w, a.nbr, d.deg FROM adj a
         |         JOIN deg d ON d.w = a.w),
         |scored0 AS (
         |  SELECT a.nbr AS u, b.nbr AS v, COUNT(*) AS cn,
         |    SUM(CAST(round(1.0 / ln(CAST(a.deg AS DOUBLE)), 12)
         |        AS DECIMAL(14,12))) AS aa
         |  FROM adjd a JOIN adjd b ON a.w = b.w AND a.nbr < b.nbr
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT s.u, s.v, s.cn,
         |    round(CAST(s.cn AS DOUBLE) / (du.deg + dv.deg - s.cn), 6)
         |      AS jaccard,
         |    CAST(round(s.aa, 6) AS DOUBLE) AS adamic_adar
         |  FROM scored0 s
         |  JOIN deg du ON du.w = s.u
         |  JOIN deg dv ON dv.w = s.v
         |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
         |                    WHERE p.p1 = s.u AND p.p2 = s.v)),
         |dir AS (
         |  SELECT u AS part, v AS cand, cn, jaccard, adamic_adar
         |  FROM scored
         |  UNION ALL
         |  SELECT v, u, cn, jaccard, adamic_adar FROM scored),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY part
         |    ORDER BY cn DESC, cand ASC) AS rk
         |  FROM dir)
         |SELECT part, CAST(rk AS BIGINT) AS rk, cand,
         |  CAST(cn AS BIGINT) AS cn, jaccard, adamic_adar
         |FROM ranked WHERE rk <= 3
         |ORDER BY part, rk""".stripMargin,

    "q_degree_hist" ->
      s"""WITH $pairsSql,
         |deg AS (
         |  SELECT pk, COUNT(*) AS degree FROM (
         |    SELECT p1 AS pk FROM pairs UNION ALL SELECT p2 FROM pairs)
         |  GROUP BY pk),
         |tot AS (SELECT COUNT(*) AS n_nodes_total FROM deg),
         |binned AS (
         |  SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS bucket,
         |    degree
         |  FROM deg)
         |SELECT bucket,
         |  CAST(1 AS BIGINT) << CAST(bucket AS INTEGER) AS bucket_lo,
         |  (CAST(1 AS BIGINT) << CAST(bucket + 1 AS INTEGER)) - 1
         |    AS bucket_hi,
         |  COUNT(*) AS n_nodes,
         |  CAST(MIN(degree) AS BIGINT) AS min_degree,
         |  CAST(MAX(degree) AS BIGINT) AS max_degree,
         |  round(CAST(COUNT(*) AS DOUBLE) / tot.n_nodes_total, 6) AS share
         |FROM binned CROSS JOIN tot
         |GROUP BY bucket, tot.n_nodes_total
         |ORDER BY bucket""".stripMargin,

    "q_graph_stats" ->
      s"""WITH $pairsSql,
         |e AS (SELECT p1, p2 FROM pairs),
         |tri AS (
         |  SELECT COUNT(*) AS n_triangles
         |  FROM e e1
         |  JOIN e e2 ON e1.p2 = e2.p1
         |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
         |deg AS (
         |  SELECT pk, COUNT(*) AS degree FROM (
         |    SELECT p1 AS pk FROM e UNION ALL SELECT p2 FROM e)
         |  GROUP BY pk),
         |ds AS (
         |  SELECT COUNT(*) AS n_nodes, SUM(degree) AS deg_sum,
         |    MAX(degree) AS max_degree,
         |    SUM(degree * (degree - 1)) AS wedges2
         |  FROM deg),
         |np AS (SELECT COUNT(DISTINCT pk) AS n_parts FROM inc)
         |SELECT CAST(ds.n_nodes AS BIGINT) AS n_nodes,
         |  CAST(np.n_parts - ds.n_nodes AS BIGINT) AS n_dangling,
         |  CAST(ds.deg_sum // 2 AS BIGINT) AS n_edges,
         |  round(CAST(ds.deg_sum AS DOUBLE) / ds.n_nodes, 6) AS avg_degree,
         |  CAST(ds.max_degree AS BIGINT) AS max_degree,
         |  CAST(tri.n_triangles AS BIGINT) AS n_triangles,
         |  round(6.0 * tri.n_triangles / ds.wedges2, 6)
         |    AS global_clustering
         |FROM ds CROSS JOIN tri CROSS JOIN np""".stripMargin,

    "q_pagerank" -> {
      val iters = (1 to 8)
        .map(k => rankIterSql(if (k == 1) "r0" else s"r${k - 1}", k))
        .mkString(",\n")
      s"""WITH $pairsSql,
         |edges AS MATERIALIZED (
         |  SELECT p1 AS src, p2 AS dst FROM pairs
         |  UNION ALL SELECT p2, p1 FROM pairs),
         |nodes AS (SELECT DISTINCT pk FROM inc),
         |edeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |degnodes AS MATERIALIZED (
         |  SELECT nd.pk, COALESCE(e.deg, 0) AS deg
         |  FROM nodes nd LEFT JOIN edeg e ON e.src = nd.pk),
         |n AS (SELECT COUNT(*) AS n FROM degnodes),
         |r0 AS MATERIALIZED (
         |  SELECT pk, deg, CAST(1000000000000 // n.n AS BIGINT) AS rp
         |  FROM degnodes CROSS JOIN n),
         |$iters
         |SELECT pk, CAST(deg AS BIGINT) AS degree,
         |  rp AS rank_pico,
         |  CAST(rp AS DOUBLE) / 1000000000000.0 AS rank
         |FROM r8
         |ORDER BY rank_pico DESC, pk""".stripMargin
    },
  )
}
