package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Enrich
import graft.functions.TextFunctions._
import graft.operators._
import graft.operators.Marts.dec2
import Fixtures._

/** q1–q65: the reference's marts, merge, checks and joins (q1–q21), then
  * the relational SQL surface — windows, set operations, typed and sketch
  * aggregates, nested types, string/date/JSON functions. */
object RelationalGates {

  /** Typed row for the Dataset-API query (q23). */
  final case class Ev(event_id: Long, event_type: String, user_id: Long)

  /** Merge fixture: two overlapping keyed batches derived from `events`
    * (target = even ids at ts, batch = ids divisible by 3 at ts+1h) —
    * reproduces the reference's staging-vs-new-batch shape
    * (`sql/load/03_merge.sql`). */
  private def mergeFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), dec2(col("value")).as("val"),
        col("ts"))
    val target = ev.filter(col("event_id") % 2 === 0)
      .withColumn("extracted_at", col("ts")).drop("ts")
    val batch = ev.filter(col("event_id") % 3 === 0)
      .withColumn("extracted_at", col("ts") + expr("interval 1 hour")).drop("ts")
    (target, batch)
  }

  private val mergeFixtureSql =
    """target AS (
      |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS val,
      |         CAST(ts AS TIMESTAMP) AS extracted_at
      |  FROM events WHERE event_id % 2 = 0),
      |batch AS (
      |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS val,
      |         CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS extracted_at
      |  FROM events WHERE event_id % 3 = 0)""".stripMargin

  // Gates whose oracle others share (`SameAs`).

  // ---- marts (G1-G3, B3, C6-C11) ----
  val q1: Gate = Gate("q1_daily_metrics", (s, dir) => Marts.dailyMetrics(Tables.events(s, dir)),
    Sql("""SELECT CAST(ts AS DATE) AS metric_date,
      |       CAST(COUNT(*) AS INT) AS events_count,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_value
      |FROM events
      |WHERE event_type = 'purchase' AND ts IS NOT NULL
      |GROUP BY 1""".stripMargin))

  val q18: Gate = Gate("q18_tumbling_hour", (s, dir) =>
    Windows.tumbling(Tables.events(s, dir), "ts", "1 hour", Seq("event_type"),
      Seq(count(lit(1)).cast("bigint").as("n"),
        sum(dec2(col("value"))).cast("decimal(18,2)").cast("double").as("total")))
      .select(col("win_start_us"), col("event_type"), col("n"), col("total")),
    Sql("""SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS win_start_us,
      |       event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM events
      |GROUP BY 1, 2""".stripMargin))

  // ---- as-of join by composition (carry latest prior signup) ----
  val q20: Gate = Gate("q20_asof_join", (s, dir) => {
    val ev = Tables.events(s, dir)
    Windows.asOfCarry(ev, Seq("user_id"),
        Seq(col("ts").asc, col("event_id").asc),
        when(col("event_type") === "signup", unix_micros(col("ts"))),
        "last_signup_us")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        coalesce(col("last_signup_us"), lit(-1L)).as("last_signup_us"))
  },
    Sql("""WITH c AS (
      |  SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |         last_value(CASE WHEN event_type = 'signup'
      |                         THEN epoch_us(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_us
      |  FROM events)
      |SELECT event_id, user_id, ts_us,
      |       COALESCE(last_signup_us, -1) AS last_signup_us
      |FROM c WHERE event_type = 'purchase'""".stripMargin))

  val q38: Gate = Gate("q38_interval_join", (s, dir) => {
    val ev = Tables.events(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), unix_micros(col("ts")).as("s_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    signups.join(purchases, Seq("user_id"))
      .filter(col("p_us") > col("s_us") &&
        col("p_us") <= col("s_us") + 3600L * 1000000)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"))
  },
    Sql("""WITH s AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s_us
      |           FROM events WHERE event_type = 'signup'),
      |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |      FROM events WHERE event_type = 'purchase')
      |SELECT s.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM s JOIN p ON s.user_id = p.user_id
      |WHERE p.p_us > s.s_us AND p.p_us <= s.s_us + 3600000000
      |GROUP BY 1""".stripMargin))

  // ---- native session windows (same semantics as composed q21) ----
  val q25: Gate = Gate("q25_session_window", (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).cast("bigint").as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        col("n_events")),
    // Session-window summary oracle shared by batch q25 and streaming
    // s4 (identical semantics, two execution paths).
    Sql("""WITH t AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |         lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      |           (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
      |  FROM events),
      |-- strict >: verified on this Spark build — session_window MERGES an
      |-- event at exactly prev+gap into the same session (same boundary
      |-- rule as the composed q21 operator)
      |f AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
      |                     THEN 1 ELSE 0 END AS new_sess FROM t),
      |s AS (SELECT user_id, ts_us,
      |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |      FROM f)
      |SELECT user_id, MIN(ts_us) AS start_us, CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, session_id""".stripMargin))

  val gates: Seq[Gate] = Seq(
    q1,

    Gate("q2_domain_daily", (s, dir) =>
      Marts.groupedDaily(
        Tables.documents(s, dir)
          .select(col("lang"), Enrich.domainOf(col("source")).as("domain"),
            col("n_chars")),
        Seq("lang", "domain"), "n_chars"),
      Sql("""SELECT lang,
        |       CASE WHEN source IS NULL OR source = '' THEN '(no_domain)'
        |            ELSE lower(split_part(replace(replace(source,'https://',''),'http://',''),'/',1))
        |       END AS domain,
        |       CAST(COUNT(*) AS INT) AS events_count,
        |       CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_value
        |FROM documents
        |GROUP BY 1, 2""".stripMargin)),

    Gate("q3_user_activity", (s, dir) =>
      Marts.groupedDaily(
        Tables.events(s, dir)
          .filter(col("event_type") === "purchase" && col("ts").isNotNull)
          .select(to_date(col("ts")).as("metric_date"),
            coalesce(col("user_id").cast("string"), lit("(unknown)")).as("author"),
            col("value")),
        Seq("metric_date", "author"), "value"),
      Sql("""SELECT CAST(ts AS DATE) AS metric_date,
        |       COALESCE(CAST(user_id AS VARCHAR), '(unknown)') AS author,
        |       CAST(COUNT(*) AS INT) AS events_count,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_value
        |FROM events
        |WHERE event_type = 'purchase' AND ts IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),

    // ---- merge / dedup (D1, D2, J1, J2) ----
    Gate("q4_merge_upsert", (s, dir) => {
      val (target, batch) = mergeFixture(s, dir)
      Merge.merged(target, batch, Seq("event_id"), "extracted_at")
        .select(col("event_id"), col("event_type"),
          col("val").cast("double").as("val"),
          unix_micros(col("extracted_at")).as("extracted_at_us"))
    },
      Sql(s"""WITH $mergeFixtureSql,
         |u AS (SELECT *, 0 AS src FROM target UNION ALL SELECT *, 1 AS src FROM batch),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
         |                 ORDER BY extracted_at DESC, src ASC) AS rn FROM u)
         |SELECT event_id, event_type, CAST(val AS DOUBLE) AS val,
         |       epoch_us(extracted_at) AS extracted_at_us
         |FROM r WHERE rn = 1""".stripMargin)),

    Gate("q5_merge_counts", (s, dir) => {
      val (target, batch) = mergeFixture(s, dir)
      Merge.countsPlan(target, batch, Seq("event_id"), "extracted_at")
    },
      Sql(s"""WITH $mergeFixtureSql
         |SELECT CAST(COUNT(CASE WHEN t.event_id IS NULL THEN 1 END) AS BIGINT) AS inserted,
         |       CAST(COUNT(CASE WHEN t.event_id IS NOT NULL
         |                        AND b.extracted_at > t.extracted_at THEN 1 END) AS BIGINT) AS updated
         |FROM batch b LEFT JOIN target t USING (event_id)""".stripMargin)),

    Gate("q6_dedup_keep_last", (s, dir) => {
      val ev = Tables.events(s, dir)
      val b = ev.filter(col("event_id") % 5 === 0)
        .select(col("event_id"), dec2(col("value")).as("val"), lit(1).as("ord"))
        .unionByName(ev.filter(col("event_id") % 10 === 0)
          .select(col("event_id"), (dec2(col("value")) + 1).cast("decimal(18,2)").as("val"),
            lit(2).as("ord")))
      Dedup.keepLast(b, Seq("event_id"), col("ord")).drop("ord")
        .withColumn("val", col("val").cast("double"))
    },
      Sql("""WITH b AS (
        |  SELECT event_id, CAST(value AS DECIMAL(18,2)) AS val, 1 AS ord
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL
        |  SELECT event_id, CAST(CAST(value AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2)), 2
        |  FROM events WHERE event_id % 10 = 0),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ord DESC) rn FROM b)
        |SELECT event_id, CAST(val AS DOUBLE) AS val FROM r WHERE rn = 1""".stripMargin)),

    Gate("q12_anti_join_new", (s, dir) => {
      val (target, batch) = mergeFixture(s, dir)
      batch.join(target, Seq("event_id"), "left_anti")
        .select(col("event_id"), col("event_type"))
    },
      Sql("""SELECT event_id, event_type FROM events
        |WHERE event_id % 3 = 0 AND event_id % 2 <> 0""".stripMargin)),

    // ---- checks (B5, G4-G7, S1, J3) ----
    Gate("q7_dup_check", (s, dir) =>
      Checks.duplicateKeys(Tables.lineitem(s, dir), Seq("l_orderkey")),
      Sql("""SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin)),

    Gate("q8_summary_union", (s, dir) =>
      Checks.summaryUnion(Seq(
        ("orders", Tables.orders(s, dir), "o_orderdate"),
        ("lineitem", Tables.lineitem(s, dir), "l_shipdate"),
        ("events", Tables.events(s, dir), "ts"))),
      Sql("""SELECT 'orders' AS tbl, CAST(MIN(o_orderdate) AS DATE) AS min_date,
        |       CAST(MAX(o_orderdate) AS DATE) AS max_date, CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem', CAST(MIN(l_shipdate) AS DATE), CAST(MAX(l_shipdate) AS DATE), CAST(COUNT(*) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'events', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE), CAST(COUNT(*) AS BIGINT)
        |FROM events""".stripMargin)),

    Gate("q9_last_day_count", (s, dir) =>
      Checks.lastDayCount(Tables.events(s, dir), "ts"),
      Sql("""WITH d AS (SELECT CAST(ts AS DATE) AS dd FROM events),
        |last_day AS (SELECT MAX(dd) AS maxd FROM d)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n
        |FROM d JOIN last_day ON d.dd = last_day.maxd""".stripMargin)),

    // ---- ranking (T2, T4) ----
    Gate("q10_topk_per_group", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("metric_date"), col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"))
      TopK.perGroup(daily, Seq("metric_date"),
        Seq(col("n").desc, col("event_type").asc), 3)
    },
      Sql("""WITH c AS (SELECT CAST(ts AS DATE) AS metric_date, event_type,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY metric_date
        |                ORDER BY n DESC, event_type ASC) AS INT) AS rnk FROM c)
        |SELECT metric_date, event_type, n, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    Gate("q11_order_limit", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("metric_date"))
        .agg(sum(dec2(col("value"))).cast("decimal(18,2)").cast("double").as("total"))
        .orderBy(col("total").desc, col("metric_date").asc)
        .limit(5),
      Sql("""SELECT metric_date, CAST(total AS DOUBLE) AS total FROM (
        |  SELECT CAST(ts AS DATE) AS metric_date,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total
        |  FROM events GROUP BY 1)
        |ORDER BY total DESC, metric_date ASC LIMIT 5""".stripMargin)),

    // ---- enrichment (C2-C5, C7, C14) ----
    Gate("q13_enrich_contract", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        to_date(col("ts")).as("event_date"),
        coalesce(dec2(col("value")), lit(0).cast("decimal(18,2)")).cast("double").as("val"),
        Enrich.lenientLong(get_json_object(col("props"), "$.k")).as("prop_k"),
        Enrich.truncate(col("event_type"), 3).as("type3")),
      Sql("""SELECT event_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |       CAST(ts AS DATE) AS event_date,
        |       CAST(COALESCE(CAST(value AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS val,
        |       COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS prop_k,
        |       substr(event_type, 1, 3) AS type3
        |FROM events""".stripMargin)),

    Gate("q14_array_len", (s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        Enrich.arrayLen(col("embedding")).as("dim"),
        col("label")),
      Sql("""SELECT vec_id, CAST(COALESCE(len(embedding), 0) AS INT) AS dim, label
        |FROM embeddings""".stripMargin)),

    // ---- joins (J2, J3 shapes at scale) ----
    Gate("q15_join_agg_nation", (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("decimal(18,2)").cast("double").as("total")),
      Sql("""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin)),

    Gate("q16_semi_join", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      Sql("""SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)),

    // ---- windows (T4 extension, §2.I) ----
    Gate("q17_running_total", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("metric_date"), col("event_type"))
        .agg(sum(dec2(col("value"))).cast("decimal(18,2)").as("daily"))
      Windows.runningSum(daily, Seq("event_type"), col("metric_date"),
        col("daily"), "running")
        .withColumn("daily", col("daily").cast("double"))
        .withColumn("running", col("running").cast("decimal(18,2)").cast("double"))
    },
      Sql("""WITH d AS (SELECT CAST(ts AS DATE) AS metric_date, event_type,
        |                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS daily
        |           FROM events GROUP BY 1, 2)
        |SELECT metric_date, event_type, CAST(daily AS DOUBLE) AS daily,
        |       CAST(CAST(SUM(daily) OVER (PARTITION BY event_type ORDER BY metric_date
        |            ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS DOUBLE) AS running
        |FROM d""".stripMargin)),

    q18,

    // ---- rollup + distinct aggregation (extension beyond §2.F) ----
    Gate("q19_rollup", (s, dir) =>
      Tables.events(s, dir)
        .rollup(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(dec2(col("value"))).cast("decimal(18,2)").cast("double").as("total"),
          countDistinct(col("user_id")).cast("bigint").as("n_users"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          col("n"), col("total"), col("n_users")),
      Sql("""SELECT COALESCE(event_type, '(all)') AS event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY ROLLUP(event_type)""".stripMargin)),

    q20,

    // ---- gap sessionization (batch twin of streaming session windows) ----
    Gate("q21_sessionize", (s, dir) =>
      Windows.sessionize(Tables.events(s, dir), Seq("user_id"), "ts",
          30L * 60 * 1000000, col("event_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).cast("bigint").as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_us"), col("end_us")),
      Sql("""WITH t AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |         lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
        |           (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |                     THEN 1 ELSE 0 END AS new_sess FROM t),
        |s AS (SELECT user_id, event_id, ts_us,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |FROM s GROUP BY 1, 2""".stripMargin)),

    // ---- typed Dataset API (case-class Encoder + groupByKey) ----
    Gate("q23_typed_agg", (s, dir) => {
      import s.implicits._
      val ds = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("user_id")).as[Ev]
      ds.groupByKey(_.event_type)
        .mapGroups { (k, it) =>
          var n = 0L; var minId = Long.MaxValue; var users = Set.empty[Long]
          it.foreach { e =>
            n += 1; if (e.event_id < minId) minId = e.event_id
            if (users.size <= 64) users += e.user_id
          }
          (k, n, minId, math.min(users.size, 64).toLong)
        }
        .toDF("event_type", "n", "min_event_id", "n_users_capped")
    },
      Sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(event_id) AS min_event_id,
        |       CAST(LEAST(COUNT(DISTINCT user_id), 64) AS BIGINT) AS n_users_capped
        |FROM events GROUP BY 1""".stripMargin)),

    // ---- reproducible sampling / splits (training-set construction) ----
    Gate("q36_hash_sample", (s, dir) => {
      // deterministic stratified sample: hash-mod gate per stratum
      // (reproducible across runs/engines, unlike Bernoulli sample())
      val rate = when(col("event_type") === "purchase", 50).otherwise(5)
      Tables.events(s, dir)
        .filter(hash32(col("event_id").cast("string")) % 100 < rate)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n_sampled"))
    },
      Sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled
         |FROM events
         |WHERE ${hash32Sql(0, "CAST(event_id AS VARCHAR)")} % 100
         |      < CASE WHEN event_type = 'purchase' THEN 50 ELSE 5 END
         |GROUP BY 1""".stripMargin)),

    Gate("q37_leakage_safe_split", (s, dir) =>
      // group-stable 80/20 split: the split key is the USER hash, so
      // all of a user's events land on one side (no train/test leakage
      // through correlated rows — the split discipline near-dup dedup
      // exists to protect)
      Tables.events(s, dir)
        .withColumn("split",
          when(hash32(col("user_id").cast("string"), 1) % 10 < 8, "train")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).cast("bigint").as("n_events"),
          countDistinct(col("user_id")).cast("bigint").as("n_users")),
      Sql(s"""SELECT CASE WHEN ${hash32Sql(1, "CAST(user_id AS VARCHAR)")} % 10 < 8
         |            THEN 'train' ELSE 'test' END AS split,
         |       CAST(COUNT(*) AS BIGINT) AS n_events,
         |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM events GROUP BY 1""".stripMargin)),

    q38,

    // ---- funnel + cohort retention (event-analytics staples) ----
    Gate("q34_funnel", (s, dir) => {
      val ev = Tables.events(s, dir)
      val firstSignup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("first_signup_us"))
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .join(firstSignup, "user_id")
        .filter(col("p_us") > col("first_signup_us"))
        .groupBy(col("user_id"), col("first_signup_us"))
        .agg(count(lit(1)).cast("bigint").as("n_purchases_after"))
    },
      Sql("""WITH s AS (SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_signup_us
        |           FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT e.user_id, s.first_signup_us, CAST(COUNT(*) AS BIGINT) AS n_purchases_after
        |FROM events e JOIN s ON e.user_id = s.user_id
        |WHERE e.event_type = 'purchase'
        |  AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s.first_signup_us
        |GROUP BY 1, 2""".stripMargin)),

    Gate("q35_retention", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_date"))
      val active = ev.distinct()
      cohort.join(active, "user_id")
        .groupBy(col("cohort_date"))
        .agg(
          countDistinct(col("user_id")).cast("bigint").as("cohort_size"),
          countDistinct(when(col("d") === date_add(col("cohort_date"), 7),
            col("user_id"))).cast("bigint").as("retained_d7"))
    },
      Sql("""WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |cohort AS (SELECT user_id, MIN(d) AS cohort_date FROM ev GROUP BY 1)
        |SELECT c.cohort_date,
        |       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS cohort_size,
        |       CAST(COUNT(DISTINCT CASE WHEN ev.d = c.cohort_date + 7
        |                                THEN ev.user_id END) AS BIGINT) AS retained_d7
        |FROM cohort c JOIN ev ON ev.user_id = c.user_id
        |GROUP BY 1""".stripMargin)),

    // ---- set operations (INTERSECT / EXCEPT; beyond the reference's S1) ----
    Gate("q32_setops", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"))
      val a = ev.filter(col("event_id") % 2 === 0)
      val b = ev.filter(col("event_id") % 3 === 0)
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.exceptAll(b).withColumn("op", lit("only_even")))
    },
      Sql("""WITH a AS (SELECT event_id FROM events WHERE event_id % 2 = 0),
        |b AS (SELECT event_id FROM events WHERE event_id % 3 = 0)
        |SELECT event_id, 'both' AS op FROM (SELECT event_id FROM a INTERSECT SELECT event_id FROM b)
        |UNION ALL
        |SELECT event_id, 'only_even' AS op FROM (SELECT event_id FROM a EXCEPT ALL SELECT event_id FROM b)""".stripMargin)),

    // ---- edit distance (fuzzy matching over type labels) ----
    Gate("q33_edit_distance", (s, dir) =>
      Tables.events(s, dir).select(col("event_type")).distinct()
        .select(col("event_type"),
          levenshtein(col("event_type"), lit("purchase")).cast("int").as("dist")),
      Sql("""SELECT event_type, CAST(levenshtein(event_type, 'purchase') AS INT) AS dist
        |FROM (SELECT DISTINCT event_type FROM events)""".stripMargin)),

    // ---- z-order clustering key + table checksum (scale utilities) ----
    Gate("q30_zorder_key", (s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        Enrich.zorderKey(col("p_size"),
          pmod(col("p_partkey"), lit(1024)).cast("int"), 10).as("zkey")),
      Sql {
        val interleave = (0 until 10).map { i =>
          s"(((p_size >> $i) & 1) * ${1L << (2 * i)} + (((p_partkey % 1024) >> $i) & 1) * ${1L << (2 * i + 1)})"
        }.mkString(" + ")
        s"""SELECT p_partkey, CAST($interleave AS BIGINT) AS zkey FROM part"""
      }),

    Gate("q31_table_checksum", (s, dir) =>
      Checks.tableChecksum(Tables.nation(s, dir),
        Seq("n_nationkey", "n_name", "n_regionkey")),
      Sql(s"""SELECT CAST(SUM(${hash32Sql(0,
        "COALESCE(CAST(n_nationkey AS VARCHAR),'(null)') || '|' || COALESCE(n_name,'(null)') || '|' || COALESCE(CAST(n_regionkey AS VARCHAR),'(null)')")}) AS BIGINT) AS checksum,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM nation""".stripMargin)),

    // ---- cube / pivot / explode (relational surface beyond rollup) ----
    Gate("q27_cube", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("metric_month", date_trunc("month", col("ts")).cast("date"))
        .cube(col("event_type"), col("metric_month"))
        .agg(count(lit(1)).cast("bigint").as("n"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("metric_month"), lit(java.sql.Date.valueOf("1970-01-01"))).as("metric_month"),
          col("n")),
      Sql("""SELECT COALESCE(event_type, '(all)') AS event_type,
        |       COALESCE(CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE),
        |                DATE '1970-01-01') AS metric_month,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY CUBE(event_type, CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE))""".stripMargin)),

    Gate("q28_pivot", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("metric_date", to_date(col("ts")))
        .groupBy(col("metric_date"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(dec2(col("value"))))
        .select(col("metric_date") +:
          Seq("click", "error", "purchase", "signup", "view").map(c =>
            coalesce(col(c), lit(0)).cast("decimal(18,2)").cast("double").as(c)): _*),
      Sql("""SELECT CAST(ts AS DATE) AS metric_date,
        |  CAST(COALESCE(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2)), 0) AS DOUBLE) AS click,
        |  CAST(COALESCE(CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2)), 0) AS DOUBLE) AS error,
        |  CAST(COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2)), 0) AS DOUBLE) AS purchase,
        |  CAST(COALESCE(CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2)), 0) AS DOUBLE) AS signup,
        |  CAST(COALESCE(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2)), 0) AS DOUBLE) AS view
        |FROM events GROUP BY 1""".stripMargin)),

    Gate("q29_wordcount", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).cast("bigint").as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20),
      Sql(s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS n
         |FROM t GROUP BY 1
         |ORDER BY n DESC, token ASC LIMIT 20""".stripMargin)),

    // ---- exact percentiles (sort-based; interpolation parity w/ oracle) ----
    Gate("q26_percentiles", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(percentile(col("value"), array(lit(0.25), lit(0.5), lit(0.9)))
          .as("qs"))
        .select(col("event_type"),
          element_at(col("qs"), 1).cast("decimal(18,6)").cast("double").as("p25"),
          element_at(col("qs"), 2).cast("decimal(18,6)").cast("double").as("p50"),
          element_at(col("qs"), 3).cast("decimal(18,6)").cast("double").as("p90")),
      Sql("""SELECT event_type,
        |       CAST(CAST(quantile_cont(value, 0.25) AS DECIMAL(18,6)) AS DOUBLE) AS p25,
        |       CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
        |       CAST(CAST(quantile_cont(value, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS p90
        |FROM events GROUP BY 1""".stripMargin)),

    q25,

    // ---- incremental mart maintenance (combine partials == recompute) ----
    Gate("q24_incremental_mart", (s, dir) => {
      val ev = Tables.events(s, dir)
      val partA = Marts.dailyPartial(ev.filter(col("event_id") % 2 === 0))
      val partB = Marts.dailyPartial(ev.filter(col("event_id") % 2 =!= 0))
      Marts.finalizeDaily(Marts.combinePartials(partA, partB))
    },
      // combining the partials must equal the full recompute, which is
      // q1's daily mart — that equality IS the gate
      SameAs(q1)),

    // ---- salted aggregation (skew path; must equal the plain agg) ----
    Gate("q22_salted_agg", (s, dir) =>
      Skew.saltedAgg(
        Tables.events(s, dir).withColumn("val", Marts.dec2(col("value"))),
        Seq("event_type"),
        scala.collection.immutable.ListMap(
          "n" -> Skew.AlgebraicAgg.countAll,
          "total" -> Skew.AlgebraicAgg.sumOf(col("val")),
          "first_us" -> Skew.AlgebraicAgg.minOf(unix_micros(col("ts"))),
          "last_us" -> Skew.AlgebraicAgg.maxOf(unix_micros(col("ts")))),
        saltBuckets = 8)
        .select(col("event_type"), col("n").cast("bigint").as("n"),
          col("total").cast("decimal(18,2)").cast("double").as("total"),
          col("first_us"), col("last_us")),
      Sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
        |       MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |       MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        |FROM events GROUP BY 1""".stripMargin)),

    // ---- bucketed two-pass sessionization (mega-key skew path) ----
    Gate("q53_bucketed_sessions", (s, dir) =>
      Windows.sessionSummariesBucketed(
        Tables.events(s, dir).filter(col("ts").isNotNull),
        Seq("user_id"), "ts",
        gapMicros = 30L * 60 * 1000000, bucketMicros = 6L * 3600 * 1000000),
      Sql("""WITH t AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |         lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
        |           (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
        |  FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |                     THEN 1 ELSE 0 END AS new_sess FROM t),
        |s AS (SELECT user_id, ts_us,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM f)
        |SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin)),

    // ---- NULL-semantics suite (coalesce/nullif/null-safe compare) ----
    Gate("q54_null_semantics", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        coalesce(dec2(col("value")), lit(-1).cast("decimal(18,2)"))
          .cast("double").as("v_or_neg1"),
        nullif(col("event_type"), lit("view")).as("type_nonview"),
        col("value").isNull.as("v_missing"),
        // null-safe equality: NULL <=> NULL is TRUE, never NULL
        (col("value") <=> lit(null).cast("double"))
          .as("v_null_safe_eq_null"),
        when(col("ts").isNull, "no").otherwise("yes").as("has_ts")),
      Sql("""SELECT event_id,
        |       CAST(COALESCE(CAST(value AS DECIMAL(18,2)), CAST(-1 AS DECIMAL(18,2))) AS DOUBLE) AS v_or_neg1,
        |       nullif(event_type, 'view') AS type_nonview,
        |       value IS NULL AS v_missing,
        |       value IS NOT DISTINCT FROM NULL AS v_null_safe_eq_null,
        |       CASE WHEN ts IS NULL THEN 'no' ELSE 'yes' END AS has_ts
        |FROM events""".stripMargin)),

    // ---- relative-rank windows (percent_rank / cume_dist) ----
    Gate("q52_relative_rank", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("metric_date"), col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").asc, col("metric_date").asc)
      daily.select(col("event_type"), col("metric_date"), col("n"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    },
      Sql("""WITH d AS (SELECT CAST(ts AS DATE) AS metric_date, event_type,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, metric_date, n,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY n ASC, metric_date ASC)""".stripMargin)),

    // ---- positional explode (UNNEST WITH ORDINALITY parity) ----
    Gate("q51_token_positions", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .filter(col("col") === "the")
        .groupBy(col("doc_id"))
        .agg(min(col("pos")).cast("int").as("first_the_pos"),
          count(lit(1)).cast("bigint").as("n_the")),
      Sql(s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(range(len(toks))) AS pos FROM tk),
         |hits AS (SELECT p.doc_id, p.pos FROM p JOIN tk USING (doc_id)
         |         WHERE tk.toks[p.pos + 1] = 'the')
         |SELECT doc_id, CAST(MIN(pos) AS INT) AS first_the_pos,
         |       CAST(COUNT(*) AS BIGINT) AS n_the
         |FROM hits GROUP BY 1""".stripMargin)),

    // ---- FILTER-clause aggregates (conditional agg without CASE) ----
    Gate("q49_filtered_agg", (s, dir) => {
      graft.Sql.registerTables(s, dir)
      s.sql(
        """SELECT CAST(ts AS DATE) AS metric_date,
          |       CAST(COUNT(*) AS BIGINT) AS n_all,
          |       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
          |       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
          |       CAST(COUNT(DISTINCT user_id) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup_users
          |FROM events WHERE ts IS NOT NULL
          |GROUP BY 1""".stripMargin)
    },
      Sql("""SELECT CAST(ts AS DATE) AS metric_date,
        |       CAST(COUNT(*) AS BIGINT) AS n_all,
        |       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
        |       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
        |       CAST(COUNT(DISTINCT user_id) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup_users
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    // ---- outer-join shapes (left/full with null-side accounting) ----
    Gate("q50_outer_join", (s, dir) => {
      val custOrders = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).cast("bigint").as("n_orders"))
      Tables.customer(s, dir)
        .join(custOrders, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), lit(-1L)).as("custkey"),
          when(col("c_custkey").isNull, "order_only")
            .when(col("o_custkey").isNull, "customer_only")
            .otherwise("matched").as("side"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    },
      Sql("""WITH co AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |            FROM orders GROUP BY 1)
        |SELECT COALESCE(c_custkey, -1) AS custkey,
        |       CASE WHEN c_custkey IS NULL THEN 'order_only'
        |            WHEN o_custkey IS NULL THEN 'customer_only'
        |            ELSE 'matched' END AS side,
        |       COALESCE(n_orders, 0) AS n_orders
        |FROM customer FULL OUTER JOIN co ON c_custkey = o_custkey""".stripMargin)),

    // ---- one-pass column profile (data-quality staple) ----
    Gate("q48_profile", (s, dir) =>
      Tables.events(s, dir).agg(
        count(lit(1)).cast("bigint").as("n_rows"),
        count(col("value")).cast("bigint").as("value_nonnull"),
        count(col("ts")).cast("bigint").as("ts_nonnull"),
        countDistinct(col("event_type")).cast("bigint").as("type_card"),
        countDistinct(col("user_id")).cast("bigint").as("user_card"),
        min(col("event_id")).cast("bigint").as("min_id"),
        max(col("event_id")).cast("bigint").as("max_id"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value")),
      Sql("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COUNT(value) AS BIGINT) AS value_nonnull,
        |       CAST(COUNT(ts) AS BIGINT) AS ts_nonnull,
        |       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS type_card,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS user_card,
        |       CAST(MIN(event_id) AS BIGINT) AS min_id,
        |       CAST(MAX(event_id) AS BIGINT) AS max_id,
        |       MIN(value) AS min_value,
        |       MAX(value) AS max_value
        |FROM events""".stripMargin)),

    // ---- typed Aggregator UDAF (the §2.J extension point) ----
    Gate("q46_typed_udaf", (s, dir) => {
      import s.implicits._
      val prof = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value")).as[(String, Double)]
        .groupByKey(_._1)
        .agg(new TypedAggs.ProfileAgg[(String, Double)](_._2)
          .toColumn.name("p"))
        .toDF("event_type", "p")
      prof.select(col("event_type"),
        col("p.n").cast("bigint").as("n"),
        col("p.sum").cast("decimal(18,2)").cast("double").as("total"),
        col("p.min").as("min_v"), col("p.max").as("max_v"))
    },
      Sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
        |       MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin)),

    // ---- correlated subquery (Catalyst decorrelation) ----
    Gate("q47_correlated", (s, dir) => {
      graft.Sql.registerTables(s, dir)
      s.sql(
        """SELECT c1.c_nationkey AS nationkey,
          |       CAST(COUNT(*) AS BIGINT) AS n_above_avg
          |FROM customer c1
          |WHERE c1.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |                             / CAST(COUNT(*) AS DOUBLE)
          |                      FROM customer c2
          |                      WHERE c2.c_nationkey = c1.c_nationkey)
          |GROUP BY c1.c_nationkey""".stripMargin)
    },
      Sql("""SELECT c1.c_nationkey AS nationkey,
        |       CAST(COUNT(*) AS BIGINT) AS n_above_avg
        |FROM customer c1
        |WHERE c1.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) / COUNT(*) AS DECIMAL(18,2))
        |                      FROM customer c2
        |                      WHERE c2.c_nationkey = c1.c_nationkey)
        |GROUP BY c1.c_nationkey""".stripMargin)),

    // ---- array-function suite (int arrays: engine-portable output) ----
    Gate("q44_array_ops", (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          sequence(lit(1), (col("vec_id") % 5 + 2).cast("int")).as("base"))
        .select(col("vec_id"), col("base"),
          transform(col("base"), x => x * ((col("vec_id") % 3 + 1))).as("arr"))
        .select(col("vec_id"),
          // arrays computed natively; serialized to CSV strings at the
          // output boundary (driver comparer can't sort ndarray cells)
          array_join(sort_array(col("arr"), asc = false), ",").as("sorted_desc"),
          array_join(slice(col("arr"), 2, 2), ",").as("mid2"),
          array_position(col("arr"), col("vec_id") % 3 + 1).cast("int").as("pos_first"),
          array_contains(col("arr"), lit(2L)).as("has_two"),
          array_join(col("arr"), ",").as("joined"),
          array_join(array_sort(array_distinct(concat(col("base"), col("base")))), ",").as("dedup"),
          array_join(flatten(array(col("base"), col("arr"))), ",").as("flat")),
      Sql("""WITH b AS (SELECT vec_id, range(1, CAST(vec_id % 5 + 3 AS INT)) AS base
        |           FROM embeddings),
        |a AS (SELECT vec_id, base,
        |             list_transform(base, x -> x * (vec_id % 3 + 1)) AS arr
        |      FROM b)
        |SELECT vec_id,
        |       array_to_string(list_reverse_sort(arr), ',') AS sorted_desc,
        |       array_to_string(arr[2:3], ',') AS mid2,
        |       CAST(list_position(arr, vec_id % 3 + 1) AS INT) AS pos_first,
        |       list_contains(arr, 2) AS has_two,
        |       array_to_string(arr, ',') AS joined,
        |       array_to_string(list_sort(list_distinct(list_concat(base, base))), ',') AS dedup,
        |       array_to_string(flatten([base, arr]), ',') AS flat
        |FROM a""".stripMargin)),

    // ---- JSON-function suite (deterministic doc built by concat) ----
    Gate("q45_json_ops", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          concat(lit("{\"id\":"), col("event_id"),
            lit(",\"tags\":[\""), col("event_type"), lit("\",\"x\"]"),
            lit(",\"meta\":{\"k\":"),
            coalesce(get_json_object(col("props"), "$.k"), lit("0")),
            lit("}}")).as("j"))
        .select(col("event_id"),
          get_json_object(col("j"), "$.id").cast("bigint").as("id_back"),
          get_json_object(col("j"), "$.tags[0]").as("tag0"),
          json_array_length(get_json_object(col("j"), "$.tags"))
            .cast("int").as("n_tags"),
          get_json_object(col("j"), "$.meta.k").cast("bigint").as("k_meta"),
          array_join(array_sort(json_object_keys(col("j"))), ",").as("keys_sorted")),
      Sql("""WITH j AS (
        |  SELECT event_id,
        |         '{"id":' || event_id || ',"tags":["' || event_type ||
        |         '","x"],"meta":{"k":' ||
        |         COALESCE(json_extract_string(props, '$.k'), '0') || '}}' AS j
        |  FROM events)
        |SELECT event_id,
        |       CAST(json_extract_string(j, '$.id') AS BIGINT) AS id_back,
        |       json_extract_string(j, '$.tags[0]') AS tag0,
        |       CAST(json_array_length(j, '$.tags') AS INT) AS n_tags,
        |       CAST(json_extract_string(j, '$.meta.k') AS BIGINT) AS k_meta,
        |       array_to_string(list_sort(json_keys(j)), ',') AS keys_sorted
        |FROM j""".stripMargin)),

    // ---- string-function suite (C9-family breadth) ----
    Gate("q42_string_ops", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        upper(substring(col("text"), 1, 20)).as("head_upper"),
        lpad(col("doc_id").cast("string"), 8, "0").as("id_pad"),
        reverse(lower(substring(col("text"), 1, 10))).as("head_rev"),
        translate(lower(substring(col("text"), 1, 30)), "aeiou", "01234").as("head_tr"),
        regexp_extract(coalesce(col("source"), lit("")),
          "//([^/]+)", 1).as("host"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("int").as("n_digits"),
        instr(lower(col("text")), "the").cast("int").as("first_the"),
        split_part(coalesce(col("source"), lit("-")), lit("/"), lit(-1)).as("last_seg")),
      Sql("""SELECT doc_id,
        |       upper(substr(text, 1, 20)) AS head_upper,
        |       lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id_pad,
        |       reverse(lower(substr(text, 1, 10))) AS head_rev,
        |       translate(lower(substr(text, 1, 30)), 'aeiou', '01234') AS head_tr,
        |       COALESCE(regexp_extract(COALESCE(source, ''), '//([^/]+)', 1), '') AS host,
        |       CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INT) AS n_digits,
        |       CAST(instr(lower(text), 'the') AS INT) AS first_the,
        |       split_part(COALESCE(source, '-'), '/', -1) AS last_seg
        |FROM documents""".stripMargin)),

    // ---- date/time-function suite ----
    Gate("q43_date_ops", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .select(to_date(col("ts")).as("d")).distinct()
        .select(col("d"),
          date_add(col("d"), 7).as("plus7"),
          date_sub(col("d"), 1).as("minus1"),
          datediff(col("d"), lit(java.sql.Date.valueOf("2000-01-01")))
            .cast("int").as("since_y2k"),
          last_day(col("d")).as("month_end"),
          (dayofweek(col("d")) - 1).cast("int").as("dow_sun0"),
          weekofyear(col("d")).cast("int").as("iso_week"),
          quarter(col("d")).cast("int").as("qtr"),
          dayofyear(col("d")).cast("int").as("doy"),
          date_trunc("week", col("d")).cast("date").as("week_start")),
      Sql("""WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS d
        |           FROM events WHERE ts IS NOT NULL)
        |SELECT d,
        |       CAST(d + 7 AS DATE) AS plus7,
        |       CAST(d - 1 AS DATE) AS minus1,
        |       CAST(datediff('day', DATE '2000-01-01', d) AS INT) AS since_y2k,
        |       last_day(d) AS month_end,
        |       CAST(dayofweek(d) AS INT) AS dow_sun0,
        |       CAST(weekofyear(d) AS INT) AS iso_week,
        |       CAST(quarter(d) AS INT) AS qtr,
        |       CAST(dayofyear(d) AS INT) AS doy,
        |       CAST(date_trunc('week', d) AS DATE) AS week_start
        |FROM d""".stripMargin)),

    // ---- exact algebraic moments (mean/stddev from integer sums) ----
    // variance from EXACT integer moments (value scaled ×100): the
    // three sums (n, Σx, Σx²) are the canonical mergeable "moment
    // sketch" — partials combine associatively at any scale, and the
    // single double conversion at the end is correctly rounded in
    // both engines, so even stddev hash-matches the oracle
    Gate("q41_exact_stats", (s, dir) => {
      val xi = (dec2(col("value")) * 100).cast("decimal(38,0)")
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(xi).cast("decimal(38,0)").as("sx"),
          sum((xi * xi).cast("decimal(38,0)")).cast("decimal(38,0)").as("sx2"))
        .select(col("event_type"), col("n"),
          (col("sx").cast("double") / col("n").cast("double") / lit(100.0))
            .as("mean"),
          sqrt(
            (col("n").cast("decimal(38,0)") * col("sx2") - col("sx") * col("sx"))
              .cast("decimal(38,0)").cast("double")
              / (col("n") * (col("n") - 1)).cast("double") / lit(10000.0))
            .as("stddev"))
    },
      Sql("""WITH m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |         CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))
        |                       * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx2
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
        |       sqrt(CAST(CAST(CAST(n AS DECIMAL(38,0)) * sx2 - sx * sx AS DECIMAL(38,0)) AS DOUBLE)
        |            / CAST(n * (n - 1) AS DOUBLE) / 10000.0) AS stddev
        |FROM m""".stripMargin)),

    // ---- window-function suite (lag/lead/dense_rank/ntile/first_value) ----
    Gate("q39_window_suite", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("metric_date"), col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"))
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(col("metric_date").asc)
      val wRank = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("metric_date").asc)
      // both windows share one partitioning (event_type): a single
      // shuffle; Spark evaluates the two sort orders in two in-memory
      // window stages over the same exchange
      daily.select(
        col("event_type"), col("metric_date"), col("n"),
        coalesce(lag(col("n"), 1).over(wOrd), lit(-1L)).as("prev_n"),
        coalesce(lead(col("n"), 1).over(wOrd), lit(-1L)).as("next_n"),
        dense_rank().over(wRank).cast("int").as("rk"),
        ntile(4).over(wRank).cast("int").as("quartile"),
        first(col("n")).over(wOrd).as("first_n"))
    },
      Sql("""WITH d AS (SELECT CAST(ts AS DATE) AS metric_date, event_type,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, metric_date, n,
        |       COALESCE(lag(n) OVER w_ord, -1) AS prev_n,
        |       COALESCE(lead(n) OVER w_ord, -1) AS next_n,
        |       CAST(dense_rank() OVER w_rank AS INT) AS rk,
        |       CAST(ntile(4) OVER w_rank AS INT) AS quartile,
        |       first_value(n) OVER w_ord AS first_n
        |FROM d
        |WINDOW w_ord AS (PARTITION BY event_type ORDER BY metric_date ASC),
        |       w_rank AS (PARTITION BY event_type ORDER BY n DESC, metric_date ASC)""".stripMargin)),

    // ---- grouping sets with grouping() disambiguation ----
    Gate("q40_grouping_sets", (s, dir) => {
      val base = Tables.events(s, dir)
        .withColumn("metric_month", date_trunc("month", col("ts")).cast("date"))
      base.groupingSets(
          Seq(Seq(col("event_type")), Seq(col("metric_month")), Seq.empty),
          col("event_type"), col("metric_month"))
        .agg(grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("metric_month")).cast("int").as("g_month"),
          count(lit(1)).cast("bigint").as("n"),
          sum(dec2(col("value"))).cast("decimal(18,2)").cast("double").as("total"))
        .select(
          coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("metric_month"),
            lit(java.sql.Date.valueOf("1970-01-01"))).as("metric_month"),
          col("g_type"), col("g_month"), col("n"), col("total"))
    },
      Sql("""WITH b AS (SELECT event_type,
        |                  CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS metric_month,
        |                  value
        |           FROM events)
        |SELECT COALESCE(event_type, '(all)') AS event_type,
        |       COALESCE(metric_month, DATE '1970-01-01') AS metric_month,
        |       CAST(GROUPING(event_type) AS INT) AS g_type,
        |       CAST(GROUPING(metric_month) AS INT) AS g_month,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM b
        |GROUP BY GROUPING SETS ((event_type), (metric_month), ())""".stripMargin)),

    // ---- map-typed column suite (map build/lookup/filter/fold) ----
    Gate("q55_map_ops", (s, dir) => {
      val daily = Tables.events(s, dir).filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      daily.groupBy(col("d"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("n")))))
          .as("m"))
        .select(col("d"),
          size(col("m")).cast("int").as("n_types"),
          array_join(array_sort(map_keys(col("m"))), ",").as("types_csv"),
          coalesce(try_element_at(col("m"), lit("purchase")), lit(0L))
            .cast("bigint").as("n_purchase"),
          array_join(array_sort(map_keys(
            map_filter(col("m"), (_, v) => v >= 50))), ",").as("hot_types"),
          aggregate(map_values(col("m")), lit(0L), (a, b) => a + b)
            .cast("bigint").as("n_total"))
    },
      Sql("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
        |SELECT d,
        |       CAST(COUNT(*) AS INT) AS n_types,
        |       string_agg(event_type, ',' ORDER BY event_type) AS types_csv,
        |       CAST(COALESCE(SUM(n) FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS n_purchase,
        |       COALESCE(string_agg(event_type, ',' ORDER BY event_type)
        |                FILTER (WHERE n >= 50), '') AS hot_types,
        |       CAST(SUM(n) AS BIGINT) AS n_total
        |FROM daily GROUP BY d""".stripMargin)),

    // ---- unpivot / melt (wide->long; Dataset.unpivot) ----
    Gate("q56_unpivot", (s, dir) => {
      val wide = Tables.events(s, dir).filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(
          count(when(col("event_type") === "view", 1)).as("view"),
          count(when(col("event_type") === "click", 1)).as("click"),
          count(when(col("event_type") === "purchase", 1)).as("purchase"))
      wide.unpivot(Array(col("d")),
          Array(col("view"), col("click"), col("purchase")), "metric", "n")
        .select(col("d"), col("metric"), col("n").cast("bigint").as("n"))
    },
      Sql("""WITH wide AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         COUNT(*) FILTER (WHERE event_type = 'view') AS "view",
        |         COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |         COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1)
        |SELECT d, metric, CAST(n AS BIGINT) AS n
        |FROM wide UNPIVOT (n FOR metric IN ("view", click, purchase))""".stripMargin)),

    // ---- lateral join (correlated top-n subquery per outer row) ----
    Gate("q57_lateral_topn", (s, dir) => {
      graft.Sql.registerTables(s, dir)
      s.sql(
        """SELECT n.n_nationkey AS nationkey, t.custkey, t.bal
          |FROM nation n JOIN LATERAL (
          |  SELECT c_custkey AS custkey,
          |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
          |  FROM customer
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_custkey ASC
          |  LIMIT 2) t""".stripMargin)
    },
      Sql("""SELECT n.n_nationkey AS nationkey, t.custkey, t.bal
        |FROM nation n JOIN LATERAL (
        |  SELECT c_custkey AS custkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |  FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_custkey ASC
        |  LIMIT 2) t ON TRUE""".stripMargin)),

    // ---- regression/correlation stats from EXACT integer moments ----
    // (built-in corr/regr_* fold doubles in partition order — not
    // reproducible across engines; exact decimal sums then one final
    // double formula are, same recipe as q41)
    Gate("q58_regr_stats", (s, dir) => {
      val e = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"),
          (dec2(col("value")) * 100).cast("long").as("x"),
          (col("event_id") % 97).as("y"))
      val m = e.groupBy(col("event_type")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      val (nD, sxD, syD, sxyD, sxxD, syyD) =
        (col("n").cast("double"), col("sx").cast("double"),
          col("sy").cast("double"), col("sxy").cast("double"),
          col("sxx").cast("double"), col("syy").cast("double"))
      val num = nD * sxyD - sxD * syD
      val slope = num / (nD * sxxD - sxD * sxD)
      val corr = num / (sqrt(nD * sxxD - sxD * sxD) * sqrt(nD * syyD - syD * syD))
      m.select(col("event_type"), col("n").cast("bigint").as("n"),
        slope.as("slope"),
        (syD / nD - slope * (sxD / nD)).as("intercept"),
        corr.as("corr"), (corr * corr).as("r2"))
    },
      Sql("""WITH e AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |         event_id % 97 AS y
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type,
        |         CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        |         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |         SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
        |         SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |         SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
        |  FROM e GROUP BY event_type),
        |d AS (
        |  SELECT event_type, n,
        |         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope,
        |       syd / nd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * (sxd / nd) AS intercept,
        |       (nd * sxyd - sxd * syd)
        |         / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)) AS corr,
        |       ((nd * sxyd - sxd * syd)
        |         / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)))
        |       * ((nd * sxyd - sxd * syd)
        |         / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd))) AS r2
        |FROM d""".stripMargin)),

    // ---- bitwise aggregates + scalar bit ops ----
    Gate("q59_bitwise_agg", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          col("event_id").bitwiseAND(255).as("lo"),
          shiftright(col("event_id"), 4).as("hi"),
          col("event_id").bitwiseXOR(col("user_id")).as("x"))
        .groupBy(col("event_type"))
        .agg(expr("bit_and(event_id)").as("band"),
          expr("bit_or(lo)").as("bor"),
          expr("bit_xor(x)").as("bxor"),
          max(col("hi")).cast("bigint").as("hi_max")),
      Sql("""SELECT event_type,
        |       bit_and(event_id) AS band,
        |       bit_or(event_id & 255) AS bor,
        |       bit_xor(xor(event_id, user_id)) AS bxor,
        |       CAST(MAX(event_id >> 4) AS BIGINT) AS hi_max
        |FROM events GROUP BY event_type""".stripMargin)),

    // ---- higher-order function suite (exists/forall/aggregate/zip_with) ----
    Gate("q60_hof_suite", (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          sequence(lit(1L), col("vec_id") % 7 + 3).as("base"))
        .select(col("vec_id"),
          exists(col("base"), x => x * x > 20).as("any_big"),
          forall(col("base"), x => x <= 8).as("all_small"),
          aggregate(col("base"), lit(0L), (a, b) => a + b)
            .cast("bigint").as("total"),
          aggregate(zip_with(col("base"), reverse(col("base")), (a, b) => a * b),
            lit(0L), (a, b) => a + b).cast("bigint").as("dot_rev"),
          size(filter(col("base"), x => x % 3 === 0)).cast("int").as("n_div3")),
      Sql("""WITH b AS (
        |  SELECT vec_id, range(1, CAST(vec_id % 7 + 4 AS INT)) AS base
        |  FROM embeddings)
        |SELECT vec_id,
        |       len(list_filter(base, x -> x * x > 20)) > 0 AS any_big,
        |       len(list_filter(base, x -> x > 8)) = 0 AS all_small,
        |       CAST(list_reduce(list_prepend(0, base), (a, x) -> a + x) AS BIGINT) AS total,
        |       CAST(list_reduce(list_prepend(0,
        |         list_transform(list_zip(base, list_reverse(base)),
        |           p -> p[1] * p[2])), (a, x) -> a + x) AS BIGINT) AS dot_rev,
        |       CAST(len(list_filter(base, x -> x % 3 = 0)) AS INT) AS n_div3
        |FROM b""".stripMargin)),

    // ---- RANGE-frame window (7-day rolling totals; value-based frame) ----
    Gate("q61_range_frame", (s, dir) => {
      val daily = Tables.events(s, dir).filter(col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("total"))
        .withColumn("day_n",
          datediff(col("d"), lit(java.sql.Date.valueOf("2000-01-01"))))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("day_n")).rangeBetween(-6, 0)
      daily.select(col("event_type"), col("d"),
        sum(col("n")).over(w).cast("bigint").as("roll7_n"),
        sum(col("total")).over(w).cast("decimal(18,2)").cast("double")
          .as("roll7_total"))
    },
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total,
        |         datediff('day', DATE '2000-01-01', CAST(ts AS DATE)) AS day_n
        |  FROM events WHERE ts IS NOT NULL GROUP BY event_type, CAST(ts AS DATE))
        |SELECT event_type, d,
        |       CAST(SUM(n) OVER w AS BIGINT) AS roll7_n,
        |       CAST(CAST(SUM(total) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS roll7_total
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_n
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- regexp_extract_all + array reductions over the matches ----
    Gate("q62_regex_extract_all", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("regexp_extract_all(text, '[0-9]+', 0)").as("nums"),
          expr("regexp_extract_all(text, '[A-Z][a-z]+', 0)").as("caps"))
        .select(col("doc_id"),
          size(col("nums")).cast("int").as("n_nums"),
          size(array_distinct(col("nums"))).cast("int").as("n_uniq_nums"),
          coalesce(try_element_at(col("nums"), lit(1)), lit("")).as("first_num"),
          size(col("caps")).cast("int").as("n_caps"),
          coalesce(aggregate(col("caps"), lit(0),
            (a, c) => greatest(a, length(c))), lit(0))
            .cast("int").as("max_cap_len")),
      Sql("""WITH x AS (
        |  SELECT doc_id,
        |         regexp_extract_all(text, '[0-9]+') AS nums,
        |         regexp_extract_all(text, '[A-Z][a-z]+') AS caps
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(nums) AS INT) AS n_nums,
        |       CAST(len(list_distinct(nums)) AS INT) AS n_uniq_nums,
        |       COALESCE(nums[1], '') AS first_num,
        |       CAST(len(caps) AS INT) AS n_caps,
        |       CAST(COALESCE(list_reduce(list_prepend(0,
        |         list_transform(caps, c -> len(c))),
        |         (a, x) -> greatest(a, x)), 0) AS INT) AS max_cap_len
        |FROM x""".stripMargin)),

    // ---- generator source + calendar zero-fill (sequence/explode) ----
    Gate("q63_calendar_fill", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val cal = ev.agg(min(to_date(col("ts"))).as("mn"),
          max(to_date(col("ts"))).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("d"))
      val errDaily = ev.filter(col("event_type") === "error")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      cal.join(errDaily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n"), lit(0L)).cast("bigint")
          .as("n_errors"))
    },
      Sql("""WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
        |            FROM events WHERE ts IS NOT NULL),
        |b AS (SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM ev),
        |cal AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d FROM b),
        |errs AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
        |         FROM ev WHERE event_type = 'error' GROUP BY 1)
        |SELECT cal.d, CAST(COALESCE(errs.n, 0) AS BIGINT) AS n_errors
        |FROM cal LEFT JOIN errs ON cal.d = errs.d""".stripMargin)),

    // ---- exact median + deterministic mode (min key among max count) ----
    Gate("q64_median_mode", (s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          (dec2(col("value")) * 100).cast("long").as("xl"))
      // median over exact ×100 ints: odd n hits an integer, even n an
      // exact .5 — both representable, so the interpolation formula
      // difference between engines cannot round differently
      val med = e.groupBy(col("event_type"))
        .agg((expr("median(xl)") / 100.0).as("med_value"))
      val cnt = e.groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("n"))
      val mode = cnt.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("n").desc, col("d").asc)))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("d").as("mode_day"),
          col("n").cast("bigint").as("mode_n"))
      med.join(mode, "event_type")
    },
      Sql("""WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xl
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |med AS (SELECT event_type, median(xl) / 100.0 AS med_value
        |        FROM e GROUP BY event_type),
        |cnt AS (SELECT event_type, d, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |mode AS (SELECT event_type, d AS mode_day, CAST(n AS BIGINT) AS mode_n
        |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |                 ORDER BY n DESC, d ASC) AS rn FROM cnt)
        |         WHERE rn = 1)
        |SELECT med.event_type, med.med_value, mode.mode_day, mode.mode_n
        |FROM med JOIN mode ON med.event_type = mode.event_type""".stripMargin)),

    // ---- try_* error-safe arithmetic (ANSI mode stays on) ----
    Gate("q65_try_ops", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        // long÷long: Spark's `/` promotes to double and ANSI raises on
        // zero → try_divide yields NULL, matching DuckDB's x/0 = NULL
        // (double÷0.0 would give Infinity in Spark vs NULL in DuckDB)
        try_divide(col("event_id"), col("user_id") % 5).as("div_or_null"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k_json"),
        expr("try_cast(event_type AS BIGINT)").as("bad_int"),
        expr("try_cast(concat(cast(event_id AS STRING), '9999999999999999999') AS BIGINT)")
          .as("overflow_null")),
      Sql("""SELECT event_id,
        |       event_id / (user_id % 5) AS div_or_null,
        |       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_json,
        |       TRY_CAST(event_type AS BIGINT) AS bad_int,
        |       TRY_CAST(CAST(event_id AS VARCHAR) || '9999999999999999999' AS BIGINT) AS overflow_null
        |FROM events""".stripMargin))
  )
}
