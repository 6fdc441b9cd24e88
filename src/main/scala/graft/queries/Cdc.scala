package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** CDC block (SURVEY §2.3, §8-B1): the reference's actual core re-expressed
  * as queries — CRDB changefeed envelope parsing (publisher.go:182-202),
  * changefeed-path routing (publisher.go:132-135, 152-165), and
  * at-least-once compaction (ordering restored by `updated`, not arrival,
  * per publisher.go:88-91's missing OrderingKey).
  *
  * Fixtures are derived deterministically from `orders` INSIDE the query
  * (FIXTURES.md §3), and each oracle derives the expected output
  * independently in SQL — so the Spark build-envelope→parse round trip is
  * checked against directly-computed semantics, not against itself.
  *
  * Scale notes: envelope parse and routing are stateless projections
  * (from_json / regexp_extract, codegen'd, no shuffle). Compaction is one
  * shuffle on the key + a partition-local window — the scale-correct shape
  * for 100 TB changefeeds (never a pairwise self-join).
  */
object Cdc {

  /** Fixed form of the reference's generalFile regex (publisher.go:133) —
    * groups: 1 topic, 2 date, 3 ts33, 4 uniquer, 5 table, 6 schema_id.
    * `\.ndjson` is escaped here (the reference's unescaped `.` accepts e.g.
    * `Xndjson`). */
  val generalFile = "/([^/]*)/(\\d{4}-\\d{2}-\\d{2})/(\\d{33})-(.+)-([^-]+)-([^-]+)\\.ndjson$"

  /** Fixed form of the broken resolvedFile regex — the reference's `(\d{33)`
    * (publisher.go:134) never matches, 404-ing every RESOLVED file
    * (SURVEY §8-B1). */
  val resolvedFile = "/([^/]*)/(\\d{4}-\\d{2}-\\d{2})/(\\d{33})\\.RESOLVED$"

  /** Deterministic changefeed path per order, exercising all three route
    * branches: data file, RESOLVED marker, and the 404 fall-through. */
  private[queries] def withPath(o: DataFrame): DataFrame = {
    val ts33 = lpad(col("o_orderkey").cast("string"), 33, "0")
    o.withColumn("path",
      when(col("o_orderkey") % 17 === 0,
        concat(lit("/v1/ord_topic/2024-01-01/"), ts33, lit(".RESOLVED")))
        .when(col("o_orderkey") % 13 === 0,
          concat(lit("/v1/bogus/"), col("o_orderkey").cast("string")))
        .otherwise(concat(
          lit("/v1/ord_topic/2024-01-01/"), ts33,
          lit("-u"), (col("o_orderkey") % 97).cast("string"),
          lit("-orders-1.ndjson"))))
  }

  /** SQL twin of [[withPath]] (DuckDB dialect). */
  private[queries] val withPathSql =
    """SELECT o.*, CASE
      |    WHEN o_orderkey % 17 = 0 THEN '/v1/ord_topic/2024-01-01/' || lpad(CAST(o_orderkey AS VARCHAR), 33, '0') || '.RESOLVED'
      |    WHEN o_orderkey % 13 = 0 THEN '/v1/bogus/' || CAST(o_orderkey AS VARCHAR)
      |    ELSE '/v1/ord_topic/2024-01-01/' || lpad(CAST(o_orderkey AS VARCHAR), 33, '0') || '-u' || CAST(o_orderkey % 97 AS VARCHAR) || '-orders-1.ndjson'
      |  END AS path
      |FROM orders o""".stripMargin

  /** CRDB wrapped-envelope schema (README.md:27 `WITH updated`;
    * publisher.go:131's linked v20.2 file format). */
  private val envSchema = StructType(Seq(
    StructField("after", StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", StringType),
      StructField("o_orderpriority", StringType)))),
    StructField("key", ArrayType(LongType)),
    StructField("updated", StringType)))

  val q: Map[String, Q] = Map(
    // Build the ndjson envelope line from orders, then parse it back with
    // from_json and classify insert/delete via `after IS NULL` (R2+R5).
    "q_cdc_envelope_parse" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val isDel = col("o_orderkey") % 10 === 0
      val afterJson = to_json(struct(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("o_orderdate"),
        col("o_orderpriority")))
      val updated = concat(
        lpad(col("o_orderkey").cast("string"), 23, "0"), lit(".0000000001"))
      val line = concat(
        lit("{\"after\": "), when(isDel, lit("null")).otherwise(afterJson),
        lit(", \"key\": ["), col("o_orderkey").cast("string"),
        lit("], \"updated\": \""), updated, lit("\"}"))
      o.select(from_json(line, envSchema).as("env"))
        .select(
          element_at(col("env.key"), 1).as("key_id"),
          when(col("env.after").isNull, "delete").otherwise("upsert").as("op"),
          col("env.after.o_custkey").as("after_custkey"),
          col("env.after.o_orderstatus").as("after_status"),
          col("env.after.o_totalprice").as("after_totalprice"),
          col("env.after.o_orderdate").as("after_date"),
          col("env.updated").as("updated"))
        .orderBy("key_id")
    }),

    // The R4+R5+R7 routing decision as a query: regex-destructure the path,
    // pick the branch, apply the topic prefix.
    "q_cdc_route" -> ((s, d) => {
      val p = withPath(Tables(s, d, "orders"))
      val isResolved = regexp_extract(col("path"), resolvedFile, 1) =!= ""
      val isGeneral = regexp_extract(col("path"), generalFile, 1) =!= ""
      p.select(
        col("o_orderkey"), col("path"),
        regexp_extract(col("path"), generalFile, 2).as("dt"),
        regexp_extract(col("path"), generalFile, 3).as("ts33"),
        regexp_extract(col("path"), generalFile, 4).as("uniquer"),
        regexp_extract(col("path"), generalFile, 6).as("schema_id"),
        when(isResolved, "RESOLVED")
          .when(isGeneral, regexp_extract(col("path"), generalFile, 5))
          .otherwise("404").as("tbl"),
        when(isResolved,
          concat(lit("cdc-"), regexp_extract(col("path"), resolvedFile, 1)))
          .when(isGeneral,
            concat(lit("cdc-"), regexp_extract(col("path"), generalFile, 1)))
          .otherwise(null).as("topic"))
        .orderBy("o_orderkey")
    }),

    // Schema-evolution timeline (round 5): CRDB bumps the filename's
    // <schema_id> suffix on ALTER TABLE; the reference CAPTURES the
    // suffix and DISCARDS it (group 6 used nowhere, publisher.go:158-159
    // reads only groups 1 and 5). This query surfaces what that throws
    // away — per schema version: its delivery-key range and row count,
    // i.e. when each schema became visible in the feed. Input is a
    // synthetic evolving feed (schema bumps every 1000 keys), and the id
    // travels THROUGH the path string and back out via the same
    // generalFile regex the router uses — the full capture path is
    // exercised, not just arithmetic. One groupBy: |schemas| rows out.
    "q_cdc_schema_evolution" -> ((s, d) => {
      val ts33 = lpad(col("o_orderkey").cast("string"), 33, "0")
      val sid = floor(col("o_orderkey") / 1000).cast("long") + 1
      val p = Tables(s, d, "orders")
        .withColumn("path", concat(
          lit("/v1/ord_topic/2024-01-01/"), ts33,
          lit("-u"), (col("o_orderkey") % 97).cast("string"),
          lit("-orders-"), sid.cast("string"), lit(".ndjson")))
      p.select(
          regexp_extract(col("path"), generalFile, 5).as("tbl"),
          regexp_extract(col("path"), generalFile, 6).cast("long")
            .as("schema_id"),
          regexp_extract(col("path"), generalFile, 3).as("ts33"))
        .groupBy("tbl", "schema_id")
        .agg(count(lit(1)).as("n_files"),
          min(col("ts33")).as("first_ts"),
          max(col("ts33")).as("last_ts"))
        .orderBy("tbl", "schema_id")
    }),

    // Changefeed compaction: v0 insert for every order, v1 update for
    // key%3==0, v2 delete for key%10==0; latest version per key wins by
    // `updated` (NOT arrival order), deletes drop the key (R11 semantics).
    "q_cdc_latest_by_key" -> ((s, d) => {
      val all = versionedFeed(s, d)
      val w = Window.partitionBy("o_orderkey").orderBy(col("updated").desc)
      all.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && !col("deleted"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "updated")
        .orderBy("o_orderkey")
    }),

    // SCD type-2 materialization (round 10): the HISTORY-keeping twin of
    // q_cdc_latest_by_key's last-writer-wins — every non-delete version
    // becomes a dimension row with its validity interval [valid_from,
    // valid_to), closed by the NEXT version's HLC `updated` (update or
    // delete alike; the open interval marks is_current). The standard
    // warehouse consumption of a changefeed when point-in-time joins
    // must keep working after upstream rows mutate. Ordering is by
    // `updated`, never arrival (the same R11 lesson). One key-window
    // lead() pass over the feed — a single o_orderkey shuffle at any
    // scale, the same cost as the latest-state compaction.
    "q_cdc_scd2" -> ((s, d) => {
      val all = versionedFeed(s, d)
      val w = Window.partitionBy("o_orderkey").orderBy(col("updated").asc)
      all.withColumn("valid_to", lead(col("updated"), 1).over(w))
        .filter(!col("deleted"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("updated").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
        .orderBy("o_orderkey", "valid_from")
    }),
  )

  /** The synthetic versioned changefeed shared by q_cdc_latest_by_key and
    * q_cdc_scd2: v0 insert for every order, v1 update for key%3==0, v2
    * delete for key%10==0, HLC-ordered by `updated` = key*10+version. */
  private def versionedFeed(s: SparkSession, d: String): DataFrame = {
    val o = Tables(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val v0 = o.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"),
      (col("o_orderkey") * 10).as("updated"), lit(false).as("deleted"))
    val v1 = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        (col("o_orderkey") * 10 + 1).as("updated"),
        lit(false).as("deleted"))
    val v2 = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit(null).cast("long").as("o_custkey"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"),
        (col("o_orderkey") * 10 + 2).as("updated"),
        lit(true).as("deleted"))
    v0.unionByName(v1).unionByName(v2)
  }

  val oracle: Map[String, String] = Map(
    // Independent derivation: expected parse output computed directly from
    // orders, never through JSON.
    "q_cdc_envelope_parse" ->
      """SELECT o_orderkey AS key_id,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op,
        |  CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END AS after_custkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderstatus END AS after_status,
        |  CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_totalprice END AS after_totalprice,
        |  CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') END AS after_date,
        |  lpad(CAST(o_orderkey AS VARCHAR), 23, '0') || '.0000000001' AS updated
        |FROM orders ORDER BY key_id""".stripMargin,

    "q_cdc_route" -> s"""WITH p AS ($withPathSql)
      |SELECT o_orderkey, path,
      |  regexp_extract(path, '$generalFile', 2) AS dt,
      |  regexp_extract(path, '$generalFile', 3) AS ts33,
      |  regexp_extract(path, '$generalFile', 4) AS uniquer,
      |  regexp_extract(path, '$generalFile', 6) AS schema_id,
      |  CASE WHEN regexp_extract(path, '$resolvedFile', 1) <> '' THEN 'RESOLVED'
      |       WHEN regexp_extract(path, '$generalFile', 1) <> '' THEN regexp_extract(path, '$generalFile', 5)
      |       ELSE '404' END AS tbl,
      |  CASE WHEN regexp_extract(path, '$resolvedFile', 1) <> '' THEN 'cdc-' || regexp_extract(path, '$resolvedFile', 1)
      |       WHEN regexp_extract(path, '$generalFile', 1) <> '' THEN 'cdc-' || regexp_extract(path, '$generalFile', 1)
      |       ELSE NULL END AS topic
      |FROM p ORDER BY o_orderkey""".stripMargin,

    "q_cdc_schema_evolution" ->
      s"""WITH p AS (
         |  SELECT '/v1/ord_topic/2024-01-01/'
         |    || lpad(CAST(o_orderkey AS VARCHAR), 33, '0')
         |    || '-u' || CAST(o_orderkey % 97 AS VARCHAR)
         |    || '-orders-'
         |    || CAST(CAST(floor(o_orderkey / 1000) AS BIGINT) + 1 AS VARCHAR)
         |    || '.ndjson' AS path
         |  FROM orders)
         |SELECT regexp_extract(path, '$generalFile', 5) AS tbl,
         |  CAST(regexp_extract(path, '$generalFile', 6) AS BIGINT)
         |    AS schema_id,
         |  CAST(count(*) AS BIGINT) AS n_files,
         |  min(regexp_extract(path, '$generalFile', 3)) AS first_ts,
         |  max(regexp_extract(path, '$generalFile', 3)) AS last_ts
         |FROM p GROUP BY 1, 2 ORDER BY tbl, schema_id""".stripMargin,

    "q_cdc_latest_by_key" ->
      """WITH versions AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderkey * 10 AS updated, FALSE AS deleted
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'U', o_totalprice + 1000.0,
        |         o_orderkey * 10 + 1, FALSE
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, NULL,
        |         o_orderkey * 10 + 2, TRUE
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |latest AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY updated DESC) AS rn
        |  FROM versions)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, updated
        |FROM latest WHERE rn = 1 AND NOT deleted
        |ORDER BY o_orderkey""".stripMargin,

    "q_cdc_scd2" ->
      """WITH versions AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderkey * 10 AS updated, FALSE AS deleted
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'U', o_totalprice + 1000.0,
        |         o_orderkey * 10 + 1, FALSE
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, NULL,
        |         o_orderkey * 10 + 2, TRUE
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |intervals AS (
        |  SELECT *, lead(updated) OVER (PARTITION BY o_orderkey
        |                                ORDER BY updated) AS valid_to
        |  FROM versions)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       updated AS valid_from, valid_to,
        |       valid_to IS NULL AS is_current
        |FROM intervals WHERE NOT deleted
        |ORDER BY o_orderkey, valid_from""".stripMargin,
  )
}
