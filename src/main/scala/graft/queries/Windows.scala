package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window-function surface (SURVEY §2.3): ranking, lag/lead, row & range
  * frames, ntile/percent_rank/cume_dist, top-k per group, batch
  * sessionization (§2.6).
  *
  * Scale notes: every window here partitions by a real key (customer/user/
  * segment) — one shuffle, then partition-local sort; no single-partition
  * global windows. Top-k-per-group is row_number + filter, which Spark
  * executes with a partial sort limit per partition (WindowGroupLimit).
  */
object Windows {
  private val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  val q: Map[String, Q] = Map(
    // ── Pareto skyline (round 11) ────────────────────────────────────
    // The skyline operator over parts: minimize retail price, maximize
    // size — a part survives iff NO other part is at-most-equal on
    // price AND at-least-equal on size with one strict. The naive
    // formulation is the O(n²) dominance anti-join; this one is the
    // O(n log n) WINDOW form that scales: sort by price (exact integer
    // cents), then a part is dominated iff (a) some STRICTLY cheaper
    // part has size >= its own — a running max over the price-ordered
    // RANGE frame ending 1 cent before the current row — or (b) an
    // equal-priced part has strictly larger size (the per-cent group
    // max). Both are integer max comparisons: nothing to fork engines.
    // Shuffle shape: one brand-partitioned window pass (skylines are
    // computed per brand — the real catalog question, and the partition
    // key that keeps the sort distributed; no global single-partition
    // window).
    "q_skyline_pareto" -> ((s, d) => {
      val cents = expr("cast(round(p_retailprice * 100) as bigint)")
      val base = Tables(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("p_retailprice"), cents.as("cents"))
      val wPrev = Window.partitionBy("p_brand").orderBy(col("cents"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSame = Window.partitionBy("p_brand", "cents")
      val flagged = base
        .withColumn("prev_max_size",
          max(col("p_size")).over(wPrev))
        .withColumn("same_max_size", max(col("p_size")).over(wSame))
        .withColumn("dominated",
          coalesce(col("prev_max_size") >= col("p_size"), lit(false)) ||
            col("same_max_size") > col("p_size"))
      flagged.filter(!col("dominated"))
        .select(col("p_partkey"), col("p_brand"),
          col("p_retailprice"), col("p_size").cast("long").as("p_size"))
        .orderBy("p_brand", "p_partkey")
    }),

    // first/last/nth over an explicit full frame: last_value with the
    // default frame is the CURRENT row — always pin the frame (§7.4).
    "q_win_first_last" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // row_number over a unique ordering; rank/dense_rank over a banded
    // (tie-prone) ordering so they actually diverge from row_number.
    "q_win_rank" -> ((s, d) => {
      val wu = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wt = Window.partitionBy("o_custkey")
        .orderBy(floor(col("o_totalprice") / 10000).desc)
      Tables(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(wu).as("rn"),
          rank().over(wt).as("rnk"),
          dense_rank().over(wt).as("drnk"))
        .orderBy("o_custkey", "rn")
    }),

    "q_win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, d, "events")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), tsFmt).as("ts_s"), col("value"),
          lag(col("value"), 1, -1.0).over(w).as("prev_val"),
          lead(col("value"), 1, -1.0).over(w).as("next_val"))
        .orderBy("event_id")
    }),

    "q_win_frame_rows" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
          sum(Det.dec2(col("o_totalprice"))).over(w).cast("double")
            .as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Value-range frame: all orders of the same customer within 50k below
    // the current price. Range frames include ties, so no tie-break needed.
    "q_win_frame_range" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
        .rangeBetween(-50000, 0)
      Tables(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          count(lit(1)).over(w).as("n_in_band"),
          sum(Det.dec2(col("o_totalprice"))).over(w).cast("double")
            .as("sum_in_band"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_win_ntile" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("c_custkey")
    }),

    // Batch sessionization (gap > 300 s), the batch twin of the streaming
    // session window (s_window_session): lag -> new-session flag ->
    // running-sum session id -> per-session aggregate. All work happens
    // inside ONE shuffle keyed on user_id (window + groupBy share the
    // partitioning); time math is integer microseconds on both engines
    // (unix_micros == epoch_us), so no float drift anywhere.
    // Ordered-funnel analysis (round 5): how many users progressed
    // signup -> view -> purchase with STRICTLY increasing event times —
    // the classic product-analytics cascade, computed via the min-time
    // chain (stage k's anchor = earliest qualifying event after stage
    // k-1's anchor; no per-user sequence materialization). Scale shape:
    // three user_id-keyed two-phase aggs + two user_id equi-joins of
    // user-cardinality frames — never an event-sequence collect; event
    // times compared in exact integer micros (engine-portable).
    "q_funnel" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val t1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val t2 = e.filter(col("event_type") === "view").as("e")
        .join(t1.as("t"), col("e.user_id") === col("t.user_id") &&
          col("e.us") > col("t.t1"))
        .groupBy(col("e.user_id")).agg(min(col("e.us")).as("t2"))
      val t3 = e.filter(col("event_type") === "purchase").as("e")
        .join(t2.as("t"), col("e.user_id") === col("t.user_id") &&
          col("e.us") > col("t.t2"))
        .groupBy(col("e.user_id")).agg(min(col("e.us")).as("t3"))
      def stage(df: org.apache.spark.sql.DataFrame, idx: Long,
        name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
            col("n_users"))
      stage(t1, 1L, "signup")
        .unionByName(stage(t2, 2L, "view"))
        .unionByName(stage(t3, 3L, "purchase"))
        .orderBy("stage_idx")
    }),

    // Conversion-window funnel (round 10): q_funnel with the 24-hour
    // stage deadline every real funnel report carries — a purchase a
    // month after the view is not "conversion", it's a returning user
    // (the plain funnel counts it; the marketing question doesn't).
    // Identical min-time chain and scale shape; each stage's join gains
    // the `<= prev + 24h` bound in integer micros, which also SHRINKS
    // the join (candidate events outside the window drop at the join,
    // not after). QueriesSpec pins stagewise monotonicity vs q_funnel
    // and that the deadline genuinely cuts on the fixture.
    "q_funnel_window" -> ((s, d) => {
      val winUs = 86400000000L
      val e = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val t1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val t2 = e.filter(col("event_type") === "view").as("e")
        .join(t1.as("t"), col("e.user_id") === col("t.user_id") &&
          col("e.us") > col("t.t1") &&
          col("e.us") <= col("t.t1") + winUs)
        .groupBy(col("e.user_id")).agg(min(col("e.us")).as("t2"))
      val t3 = e.filter(col("event_type") === "purchase").as("e")
        .join(t2.as("t"), col("e.user_id") === col("t.user_id") &&
          col("e.us") > col("t.t2") &&
          col("e.us") <= col("t.t2") + winUs)
        .groupBy(col("e.user_id")).agg(min(col("e.us")).as("t3"))
      def stage(df: org.apache.spark.sql.DataFrame, idx: Long,
        name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
            col("n_users"))
      stage(t1, 1L, "signup")
        .unionByName(stage(t2, 2L, "view"))
        .unionByName(stage(t3, 3L, "purchase"))
        .orderBy("stage_idx")
    }),

    "q_sessionize" -> ((s, d) => {
      val gapUs = 300L * 1000000L
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("flag",
          when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("flag")).over(wRun))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy("user_id", "session_seq")
    }),

    // Session-level feature assembly (round 10): one row per session —
    // the session-grain companion to q_user_features' user grain (and
    // what churn/intent models actually train on): q_sessionize's
    // gap>300s session id, then per-session duration, size, type
    // counts (static pivot, the q_agg_pivot rule — a dynamic pivot
    // would force an extra distinct pass at scale), exact-decimal
    // purchase value, and the conversion flag. Same single user_id
    // shuffle as q_sessionize; the session agg rides the SAME
    // partitioning (user_id prefix), so no second exchange.
    "q_session_features" -> ((s, d) => {
      val gapUs = 300L * 1000000L
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value").cast("decimal(12,2)").as("dec"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("flag",
          when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("flag")).over(wRun))
        .groupBy("user_id", "session_seq")
        .agg(
          count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"),
          sum((col("event_type") === "click").cast("long")).as("n_click"),
          sum((col("event_type") === "view").cast("long")).as("n_view"),
          sum((col("event_type") === "purchase").cast("long"))
            .as("n_purchase"),
          round(sum(when(col("event_type") === "purchase", col("dec"))
            .otherwise(lit(0).cast("decimal(12,2)"))), 2)
            .cast("double").as("purchase_value"))
        // integral second math (div): double-quotient casts truncate in
        // Spark but round in DuckDB (the q_user_features rule)
        .withColumn("duration_s", expr("(end_us - start_us) div 1000000"))
        .withColumn("converted", col("n_purchase") > 0)
        .drop("start_us", "end_us")
        .orderBy("user_id", "session_seq")
    }),

    // Time-series gap fill (round 10): per-user HOURLY resample with
    // forward fill — the ClickHouse-WITH-FILL / QuestDB-SAMPLE-BY
    // telemetry shape a training-metrics pipeline runs before joining
    // sparse signals: hours with no events appear as explicit gap rows
    // (n_events = 0) carrying the LAST observed hourly value forward.
    // The grid is bounded PER SERIES ([first, last] active hour of that
    // user, never the global range), so row volume is sum of active
    // spans — the per-series resample contract that stays linear at any
    // scale. One (user, hour) two-phase agg, sequence()-exploded grids
    // off the O(users) bounds frame, one user-keyed left join + ONE
    // user-windowed running last() (bounded by the span). Hourly sums
    // ride the Det exact-decimal path; the fill copies those 2dp-rounded
    // doubles verbatim, so forward fill is engine-exact.
    "q_events_gap_fill" -> ((s, d) => {
      val hourly = Tables(s, d, "events")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_events"),
          Det.dsum(col("value")).as("hr_value"))
      val bounds = hourly.groupBy("user_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
      val grid = bounds.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hr"))
      val w = Window.partitionBy("user_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .withColumn("filled_value",
          last(col("hr_value"), ignoreNulls = true).over(w))
        .select(col("user_id"),
          date_format(col("hr"), "yyyy-MM-dd HH:00").as("hr"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("filled_value"),
          (coalesce(col("n_events"), lit(0L)) === 0).as("is_gap"))
        .orderBy("user_id", "hr")
    }),

    // Cohort retention (round 10): the classic product-analytics matrix
    // next to q_funnel and q_sessionize — users grouped by first-seen
    // DAY (cohort), each later active day counted as (cohort,
    // day-offset, distinct users), normalized by cohort size. Output is
    // O(days^2) rows regardless of corpus size. Scale shape: first-seen
    // is one user-keyed two-phase agg; attaching cohorts to activity is
    // one user-keyed equi-join; the distinct collapses (cohort, offset,
    // user) before the count; cohort sizes join back on the tiny
    // per-day frame. Retention rounds at 4dp on the double quotient of
    // two exact counts (the q_domain_mix-proven comparison class).
    "q_retention_cohort" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      val sizes = first.groupBy("cohort_day")
        .agg(count(lit(1)).as("n_cohort"))
      val act = e.join(first, "user_id")
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long")
            .as("day_offset"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_active"))
      act.join(sizes, "cohort_day")
        .select(date_format(col("cohort_day"), "yyyy-MM-dd")
            .as("cohort_day"),
          col("day_offset"), col("n_active"), col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort"), 4)
            .as("retention"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Rolling time-range window (round 10): per-user trailing-24h event
    // count and value sum AT EVERY EVENT — the event-time RANGE frame
    // (q_win_frame_range's band is value-based; telemetry feature
    // engineering needs the time-based one: "activity in the last day"
    // as a training feature, rate-limit audits, burst detection). Frame
    // is [t-24h, t] in integer micros, so tie instants share a frame on
    // both engines. Det exact-decimal sum keeps the windowed float sum
    // order-independent. One user_id-keyed shuffle; the range frame
    // evaluates with a sliding two-pointer over each partition — linear
    // per user at any scale, never a per-event rescan.
    "q_win_rolling_time" -> ((s, d) => {
      val dayUs = 86400000000L
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-dayUs, 0)
      Tables(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          col("value").cast("decimal(12,2)").as("dec"))
        .withColumn("n_24h", count(lit(1)).over(w))
        .withColumn("sum_24h",
          round(sum(col("dec")).over(w), 2).cast("double"))
        .select("event_id", "user_id", "us", "n_24h", "sum_24h")
        .orderBy("event_id")
    }),

    // Marketing attribution (round 10): per purchase, the FIRST-touch
    // and LAST-touch channel — the credit-assignment views every
    // conversion report starts from (q_funnel counts the canonical
    // cascade; attribution answers "which touch gets credit for THIS
    // purchase"). Touch = click/view/signup; error events and earlier
    // purchases never take credit. One user-keyed window pass with
    // ignore-nulls first/last over the strictly-preceding frame — the
    // q_sessionize shuffle, no joins at all; purchases with no prior
    // touch keep NULL on both engines. At 100 TB this is one shuffle of
    // the events table however long the history is.
    "q_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("touch",
          when(col("event_type").isin("click", "view", "signup"),
            col("event_type")))
        .withColumn("first_touch",
          first(col("touch"), ignoreNulls = true).over(w))
        .withColumn("last_touch",
          last(col("touch"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "us", "first_touch", "last_touch")
        .orderBy("event_id")
    }),

    // Per-user feature assembly (round 10): the feature-store
    // materialization every behavioral model trains on — one row per
    // user with activity counts, type breadth, exact-decimal monetary
    // totals, span/recency in integer time math, and a derived rate.
    // ONE user-keyed two-phase agg over raw events (count-distinct
    // expands internally), a 1-row global-max broadcast for recency —
    // nothing else shuffles; at 100 TB this materializes incrementally
    // like q_stats_incremental (counts/sums are algebraic partials).
    "q_user_features" -> ((s, d) => {
      val dayUs = 86400000000L
      val mx = Tables(s, d, "events")
        .agg(max(unix_micros(col("ts"))).as("mx_us"))
      Tables(s, d, "events")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum((col("event_type") === "purchase").cast("long"))
            .as("n_purchases"),
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(to_date(col("ts"))).as("active_days"),
          round(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
            .otherwise(lit(0).cast("decimal(12,2)"))), 2)
            .cast("double").as("purchase_value"),
          min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"), col("n_events"), col("n_purchases"),
          col("n_types"), col("active_days"), col("purchase_value"),
          // integral day math (div, not /): a double quotient cast back
          // truncates in Spark but ROUNDS in DuckDB — the one divide
          // class the Det scheme can't paper over
          expr(s"(last_us - first_us) div $dayUs").as("span_days"),
          expr(s"(mx_us - last_us) div $dayUs").as("recency_days"),
          round(col("n_events").cast("double") / col("active_days"), 4)
            .as("events_per_active_day"))
        .orderBy("user_id")
    }),

    // Markov transition matrix (round 10): per-user event-type bigrams
    // (this event -> next event by time) aggregated into the corpus-level
    // transition-probability matrix — the behavior model behind
    // next-action prediction, funnel-leak diagnosis, and session
    // simulation (q_funnel asks "did the canonical path happen";
    // this measures EVERY observed path edge). Scale shape: adjacency
    // comes from ONE user_id-keyed window pass (lead over (ts,
    // event_id) — the q_sessionize shuffle), the transition counts are a
    // two-phase agg on the tiny (from, to) key, and row totals join back
    // on the O(|event_types|) frame — output is |types|^2 regardless of
    // corpus size. p is a double quotient of two exact counts rounded at
    // 6dp (the q_retention_cohort-proven comparison class).
    "q_markov_transition" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val tr = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      val counts = tr.groupBy(col("event_type").as("from_type"),
          col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type")
        .agg(sum("n").as("n_from"))
      counts.join(totals, "from_type")
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          round(col("n").cast("double") / col("n_from"), 6).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // Sequential pattern mining (round 10): frequent contiguous 3-event
    // sequences across user histories with TWO support measures —
    // occurrence count and distinct-user support (the measure that
    // matters: one bot looping a path inflates occurrences, not users)
    // — at a user-support floor. q_markov_transition models single
    // edges; this surfaces the paths (the SPAM/PrefixSpan question at
    // contiguous-trigram scope). Scale shape: the same single user-
    // keyed window shuffle (two leads ride one pass), then a two-phase
    // agg on the tiny (e1,e2,e3) key — count-distinct users expands
    // internally but the key space is |types|³ regardless of corpus
    // size. Total-ordered output (count desc, pattern asc).
    "q_seq_mining" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("user_id")).as("n_users"))
        .filter(col("n_users") >= 3)
        .orderBy(col("n_occurrences").desc, col("e1").asc,
          col("e2").asc, col("e3").asc)
    }),

    "q_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),
  )

  val oracle: Map[String, String] = Map(
    // Deliberately the NAIVE dominance anti-join (NOT EXISTS) — an
    // independent derivation of the same skyline the window form
    // computes, so the hash gate cross-checks the formulations.
    "q_skyline_pareto" ->
      """SELECT a.p_partkey, a.p_brand, a.p_retailprice,
        |  CAST(a.p_size AS BIGINT) AS p_size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_brand = a.p_brand
        |    AND CAST(round(b.p_retailprice * 100) AS BIGINT)
        |        <= CAST(round(a.p_retailprice * 100) AS BIGINT)
        |    AND b.p_size >= a.p_size
        |    AND (CAST(round(b.p_retailprice * 100) AS BIGINT)
        |         < CAST(round(a.p_retailprice * 100) AS BIGINT)
        |         OR b.p_size > a.p_size))
        |ORDER BY a.p_brand, a.p_partkey""".stripMargin,

    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (
        |  SELECT user_id, min(us) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, min(e.us) AS t2 FROM e
        |  JOIN t1 ON e.user_id = t1.user_id AND e.us > t1.t1
        |  WHERE e.event_type = 'view' GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, min(e.us) AS t3 FROM e
        |  JOIN t2 ON e.user_id = t2.user_id AND e.us > t2.t2
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'signup',
        |   (SELECT CAST(count(*) AS BIGINT) FROM t1)),
        |  (CAST(2 AS BIGINT), 'view',
        |   (SELECT CAST(count(*) AS BIGINT) FROM t2)),
        |  (CAST(3 AS BIGINT), 'purchase',
        |   (SELECT CAST(count(*) AS BIGINT) FROM t3)))
        |  v(stage_idx, stage, n_users)
        |ORDER BY stage_idx""".stripMargin,

    "q_win_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY floor(o_totalprice / 10000) DESC) AS rnk,
        |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY floor(o_totalprice / 10000) DESC) AS drnk
        |FROM orders
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_win_lag_lead" ->
      """SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, value,
        |  lag(value, 1, -1.0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_val,
        |  lead(value, 1, -1.0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_val
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_win_frame_rows" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS od,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_frame_range" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  COUNT(*) OVER w AS n_in_band,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_in_band
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |             RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_ntile" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    // SUM OVER returns HUGEINT in DuckDB -> CAST (pandas would float64 it)
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |f AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |          OR us - lag(us) OVER w > 300000000
        |         THEN 1 ELSE 0 END AS flag
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, us,
        |    CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM f)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us,
        |  MAX(us) - MIN(us) AS duration_us
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "q_events_gap_fill" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hr,
        |    COUNT(*) AS n_events,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE)
        |      AS hr_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, min(hr) AS h0, max(hr) AS h1
        |  FROM hourly GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |  FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.hr,
        |    COALESCE(h.n_events, 0) AS n_events, h.hr_value
        |  FROM grid g LEFT JOIN hourly h
        |    ON h.user_id = g.user_id AND h.hr = g.hr)
        |SELECT user_id, strftime(hr, '%Y-%m-%d %H:00') AS hr,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  last_value(hr_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY j.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value,
        |  n_events = 0 AS is_gap
        |FROM j ORDER BY user_id, 2""".stripMargin,

    "q_retention_cohort" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |firsts AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
        |sizes AS (
        |  SELECT cohort_day, COUNT(*) AS n_cohort
        |  FROM firsts GROUP BY cohort_day),
        |act AS (
        |  SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
        |         e.user_id
        |  FROM e JOIN firsts f USING (user_id)
        |  GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT cohort_day, day_offset, COUNT(*) AS n_active
        |  FROM act GROUP BY 1, 2)
        |SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(a.day_offset AS BIGINT) AS day_offset,
        |  CAST(a.n_active AS BIGINT) AS n_active,
        |  CAST(s.n_cohort AS BIGINT) AS n_cohort,
        |  round(CAST(a.n_active AS DOUBLE) / s.n_cohort, 4) AS retention
        |FROM agg a JOIN sizes s USING (cohort_day)
        |ORDER BY 1, 2""".stripMargin,

    "q_win_rolling_time" ->
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  COUNT(*) OVER w AS n_24h,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))) OVER w, 2)
        |       AS DOUBLE) AS sum_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |    CASE WHEN event_type IN ('click', 'view', 'signup')
        |         THEN event_type END AS touch
        |  FROM events),
        |t AS (
        |  SELECT event_id, user_id, event_type, us,
        |    first_value(touch IGNORE NULLS) OVER w AS first_touch,
        |    last_value(touch IGNORE NULLS) OVER w AS last_touch
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, us, first_touch, last_touch
        |FROM t WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q_session_features" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(value AS DECIMAL(12,2)) AS dec, epoch_us(ts) AS us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev > 300000000
        |                 THEN 1 ELSE 0 END AS flag
        |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS prev FROM e)),
        |sess AS (
        |  SELECT *, SUM(flag) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_seq
        |  FROM f),
        |agg AS (
        |  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |    COUNT(*) AS n_events,
        |    min(us) AS start_us, max(us) AS end_us,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS n_click,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS n_view,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n_purchase,
        |    CAST(ROUND(SUM(CASE WHEN event_type = 'purchase' THEN dec
        |        ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE)
        |      AS purchase_value
        |  FROM sess GROUP BY user_id, session_seq)
        |SELECT user_id, session_seq,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_click AS BIGINT) AS n_click,
        |  CAST(n_view AS BIGINT) AS n_view,
        |  CAST(n_purchase AS BIGINT) AS n_purchase,
        |  purchase_value,
        |  CAST((end_us - start_us) // 1000000 AS BIGINT) AS duration_s,
        |  n_purchase > 0 AS converted
        |FROM agg
        |ORDER BY user_id, session_seq""".stripMargin,

    "q_user_features" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS mx_us FROM events),
        |u AS (
        |  SELECT user_id,
        |    COUNT(*) AS n_events,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n_purchases,
        |    COUNT(DISTINCT event_type) AS n_types,
        |    COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
        |    CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
        |        THEN CAST(value AS DECIMAL(12,2))
        |        ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE)
        |      AS purchase_value,
        |    min(epoch_us(ts)) AS first_us,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_purchases AS BIGINT) AS n_purchases,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  CAST(active_days AS BIGINT) AS active_days,
        |  purchase_value,
        |  CAST((last_us - first_us) // 86400000000 AS BIGINT) AS span_days,
        |  CAST((mx.mx_us - last_us) // 86400000000 AS BIGINT)
        |    AS recency_days,
        |  round(CAST(n_events AS DOUBLE) / active_days, 4)
        |    AS events_per_active_day
        |FROM u CROSS JOIN mx
        |ORDER BY user_id""".stripMargin,

    "q_funnel_window" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (
        |  SELECT user_id, min(us) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, min(e.us) AS t2 FROM e
        |  JOIN t1 ON e.user_id = t1.user_id AND e.us > t1.t1
        |   AND e.us <= t1.t1 + 86400000000
        |  WHERE e.event_type = 'view' GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, min(e.us) AS t3 FROM e
        |  JOIN t2 ON e.user_id = t2.user_id AND e.us > t2.t2
        |   AND e.us <= t2.t2 + 86400000000
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'signup',
        |   (SELECT CAST(count(*) AS BIGINT) FROM t1)),
        |  (CAST(2 AS BIGINT), 'view',
        |   (SELECT CAST(count(*) AS BIGINT) FROM t2)),
        |  (CAST(3 AS BIGINT), 'purchase',
        |   (SELECT CAST(count(*) AS BIGINT) FROM t3)))
        |  v(stage_idx, stage, n_users)
        |ORDER BY stage_idx""".stripMargin,

    "q_seq_mining" ->
      """WITH tri AS (
        |  SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id)),
        |agg AS (
        |  SELECT e1, e2, e3, COUNT(*) AS n_occurrences,
        |    COUNT(DISTINCT user_id) AS n_users
        |  FROM tri WHERE e3 IS NOT NULL GROUP BY e1, e2, e3)
        |SELECT e1, e2, e3,
        |  CAST(n_occurrences AS BIGINT) AS n_occurrences,
        |  CAST(n_users AS BIGINT) AS n_users
        |FROM agg WHERE n_users >= 3
        |ORDER BY n_occurrences DESC, e1, e2, e3""".stripMargin,

    "q_markov_transition" ->
      """WITH tr AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |counts AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |totals AS (
        |  SELECT from_type, SUM(n) AS n_from FROM counts GROUP BY 1)
        |SELECT c.from_type, c.to_type,
        |  CAST(c.n AS BIGINT) AS n,
        |  CAST(t.n_from AS BIGINT) AS n_from,
        |  round(CAST(c.n AS DOUBLE) / t.n_from, 6) AS p
        |FROM counts c JOIN totals t USING (from_type)
        |ORDER BY 1, 2""".stripMargin,
  )
}
