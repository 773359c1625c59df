package graft
package ops

import org.apache.spark.sql.functions._

import graft.QueryShared.{completed, P, upserts}
import graft.SparkEntry.{DormancyGap, DormancyGapUs}

/** Event-stream analytics: funnels, sessions, retention, rolling and
  * trend features, interval/as-of joins, heavy hitters (the `events`
  * family). */
object EventQueries {

  def queries: Seq[GraftQuery] = Seq(
    // Rolling trailing-24h spend per account at EVERY completed debit
    // (RANGE frame over integer event time, integer-kobo money — the
    // continuous fraud-feature form of the tumbling daily spend)
    GraftQuery("q_rolling_spend", (s, dir) =>
      Windows.rollingSpend(
        upserts(s, dir).filter(Predicates.isDebit(col("txn_type")) &&
          Predicates.isCompleted(col("status"))),
        windowSec = 86400L),
      P +
      """SELECT txn_id, account_id, event_time_us,
        |  CAST(sum(CAST(round(amount * 100) AS BIGINT)) OVER w AS BIGINT) AS rolling_spend_kobo,
        |  CAST(count(*) OVER w AS BIGINT) AS rolling_n_txns
        |FROM completed
        |WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
        |WINDOW w AS (PARTITION BY account_id ORDER BY event_time_us
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    // Funnel conversion: first purchase strictly after each click within
    // 1h — one forward-looking conditional RANGE frame per user, no
    // (click, purchase) pair explosion
    GraftQuery("q_funnel_conversion", (s, dir) =>
      graft.ops.EventAnalytics.clickToPurchase(Tables.events(s, dir),
        withinSec = 3600L),
      """WITH e AS (SELECT event_id, user_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
        |           FROM events),
        |c AS (SELECT *,
        |        min(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER
        |          (PARTITION BY user_id ORDER BY ts_us
        |           RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING) AS next_purchase_us
        |      FROM e)
        |SELECT event_id, user_id, ts_us, next_purchase_us,
        |  next_purchase_us IS NOT NULL AS converted
        |FROM c WHERE event_type = 'click'""".stripMargin),

    // First-order Markov transition matrix over the event stream
    // (row-normalized; one user-partitioned window + one tiny agg)
    GraftQuery("q_event_transitions", (s, dir) =>
      graft.ops.EventAnalytics.eventTransitions(Tables.events(s, dir)),
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |pr AS (SELECT event_type AS next_event,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id) AS prev_event
        |       FROM ev),
        |c AS (SELECT prev_event, next_event, CAST(count(*) AS BIGINT) AS n
        |      FROM pr WHERE prev_event IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_event, next_event, n,
        |  n / CAST(sum(n) OVER (PARTITION BY prev_event) AS DOUBLE) AS p
        |FROM c""".stripMargin),

    // Weekly cohort retention triangle over the raw event stream
    GraftQuery("q_weekly_retention", (s, dir) =>
      graft.ops.EventAnalytics.weeklyRetention(Tables.events(s, dir)),
      """WITH w AS (SELECT DISTINCT user_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week
        |           FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS weeks_since,
        |  CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
        |FROM w JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin),

    // Time-series gap fill: per-account daily spend densified to every day
    // between the account's first and last activity (zero-filled, flagged)
    // — integer kobo + integer epoch days, engine-exact
    GraftQuery("q_gap_fill_daily", (s, dir) =>
      graft.ops.EventAnalytics.gapFillDailySpend(
        completed(s, dir).filter(Predicates.isDebit(col("txn_type")))),
      P +
      """, daily AS (
        |  SELECT account_id, event_time_ms // 86400000 AS day,
        |    sum(CAST(round(amount * 100) AS BIGINT)) AS spend_kobo,
        |    CAST(count(*) AS BIGINT) AS n_txns
        |  FROM completed
        |  WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
        |  GROUP BY 1, 2
        |), spans AS (
        |  SELECT account_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        |), grid AS (
        |  SELECT account_id, unnest(generate_series(d0, d1)) AS day FROM spans
        |)
        |SELECT g.account_id, g.day,
        |  CAST(coalesce(d.spend_kobo, 0) AS BIGINT) AS spend_kobo,
        |  CAST(coalesce(d.n_txns, 0) AS BIGINT) AS n_txns,
        |  d.n_txns IS NULL AS filled
        |FROM grid g LEFT JOIN daily d USING (account_id, day)""".stripMargin),

    // CEP / MATCH_RECOGNIZE stand-in: click -> view -> purchase, each step
    // strictly later and within 1h of the previous — one shared window
    // pass + a narrow co-partitioned join, never an A×B×C explosion
    GraftQuery("q_funnel_3step", (s, dir) =>
      graft.ops.EventAnalytics.threeStepPattern(Tables.events(s, dir),
        withinSec = 3600L),
      """WITH e AS (SELECT event_id, user_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
        |           FROM events),
        |a AS (SELECT *,
        |        min(CASE WHEN event_type = 'view' THEN ts_us END) OVER
        |          (PARTITION BY user_id ORDER BY ts_us
        |           RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING) AS next_view_us,
        |        min(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER
        |          (PARTITION BY user_id ORDER BY ts_us
        |           RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING) AS next_purchase_us
        |      FROM e),
        |v AS (SELECT user_id AS v_user, ts_us AS view_ts,
        |        min(next_purchase_us) AS purchase_us
        |      FROM a WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT event_id, user_id, ts_us, next_view_us, purchase_us,
        |  next_view_us IS NOT NULL AND purchase_us IS NOT NULL AS completed
        |FROM a LEFT JOIN v ON user_id = v_user AND next_view_us = view_ts
        |WHERE event_type = 'click'""".stripMargin),

    // k-step CEP: the same pruned-window construction folded over an
    // arbitrary chain — here k=4 (signup -> click -> view -> purchase),
    // each hop strictly later and within 1h of the PREVIOUS matched
    // event; one shared window annotation + k-2 narrow co-partitioned
    // stage joins, never a k-way candidate explosion
    GraftQuery("q_funnel_k", (s, dir) =>
      graft.ops.EventAnalytics.kStepPattern(Tables.events(s, dir),
        Seq("signup", "click", "view", "purchase"), withinSec = 3600L),
      // the k=4 chain in the same correlated window/collapse/join form the
      // 3-step oracle uses, one collapse CTE per intermediate hop
      """WITH e AS (SELECT event_id, user_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
        |           FROM events),
        |a AS (SELECT *,
        |        min(CASE WHEN event_type = 'click' THEN ts_us END) OVER w AS n1,
        |        min(CASE WHEN event_type = 'view' THEN ts_us END) OVER w AS n2,
        |        min(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER w AS n3
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |                   RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING)),
        |c AS (SELECT user_id AS cu, ts_us AS ct, min(n2) AS c_next
        |      FROM a WHERE event_type = 'click' GROUP BY 1, 2),
        |v AS (SELECT user_id AS vu, ts_us AS vt, min(n3) AS v_next
        |      FROM a WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT event_id, user_id, ts_us,
        |  n1 AS step1_us, c_next AS step2_us, v_next AS step3_us,
        |  n1 IS NOT NULL AND c_next IS NOT NULL AND v_next IS NOT NULL AS completed
        |FROM a
        |LEFT JOIN c ON user_id = cu AND n1 = ct
        |LEFT JOIN v ON user_id = vu AND c_next = vt
        |WHERE event_type = 'signup'""".stripMargin),

    // Time-weighted average balance: each running balance weighted by its
    // holding duration over the account's own transaction span — integer
    // kobo deltas, exact DECIMAL(38,0) numerator, ONE final IEEE division
    GraftQuery("q_time_weighted_balance", (s, dir) =>
      graft.ops.EventAnalytics.timeWeightedBalance(completed(s, dir)),
      P +
      """, t AS (
        |  SELECT account_id, txn_id, event_time_us,
        |    CASE WHEN txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
        |         THEN -CAST(round(amount * 100) AS BIGINT)
        |         ELSE CAST(round(amount * 100) AS BIGINT) END AS delta_kobo
        |  FROM completed
        |), b AS (
        |  SELECT account_id, event_time_us,
        |    sum(delta_kobo) OVER w AS bal_kobo,
        |    lead(event_time_us) OVER w AS next_us
        |  FROM t
        |  WINDOW w AS (PARTITION BY account_id ORDER BY event_time_us, txn_id)
        |), a AS (
        |  SELECT account_id,
        |    CAST(count(*) AS BIGINT) AS n_intervals,
        |    CAST(max(next_us) - min(event_time_us) AS BIGINT) AS span_us,
        |    sum(CAST(bal_kobo AS HUGEINT) * (next_us - event_time_us)) AS num
        |  FROM b WHERE next_us IS NOT NULL
        |  GROUP BY 1
        |)
        |SELECT account_id, n_intervals, span_us,
        |  CAST(CASE WHEN num < 0 THEN -((-num) * 1000000 // span_us)
        |       ELSE (num * 1000000 // span_us) END AS BIGINT) AS twab_micro_kobo
        |FROM a WHERE span_us > 0""".stripMargin),

    // Per-account OLS spend trend over the gap-filled dense series —
    // sufficient-statistics slope in one map-side-combined pass, exact
    // integer moments in DECIMAL(38,0), slope emitted as exact
    // micro-kobo/day (sign-separated truncating division)
    GraftQuery("q_spend_trend", (s, dir) =>
      graft.ops.EventAnalytics.spendTrend(
        completed(s, dir).filter(Predicates.isDebit(col("txn_type")))),
      // OLS slope from exact integer moments over the same dense grid;
      // HUGEINT internally, sign-separated truncating division at the end
      P +
      """, daily AS (
        |  SELECT account_id, event_time_ms // 86400000 AS day,
        |    sum(CAST(round(amount * 100) AS BIGINT)) AS spend_kobo
        |  FROM completed
        |  WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
        |  GROUP BY 1, 2
        |), spans AS (
        |  SELECT account_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        |), grid AS (
        |  SELECT account_id, unnest(generate_series(d0, d1)) AS day FROM spans
        |), dense AS (
        |  SELECT g.account_id, g.day, coalesce(d.spend_kobo, 0) AS y
        |  FROM grid g LEFT JOIN daily d USING (account_id, day)
        |), m AS (
        |  SELECT account_id, CAST(count(*) AS BIGINT) AS n_days,
        |    sum(CAST(day AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(day AS HUGEINT) * y) AS sxy,
        |    sum(CAST(day AS HUGEINT) * day) AS sxx
        |  FROM dense GROUP BY 1
        |)
        |SELECT account_id, n_days,
        |  CAST(CASE WHEN (n_days * sxy - sx * sy) < 0
        |       THEN -((-(n_days * sxy - sx * sy)) * 1000000 // (n_days * sxx - sx * sx))
        |       ELSE (n_days * sxy - sx * sy) * 1000000 // (n_days * sxx - sx * sx) END
        |    AS BIGINT) AS slope_micro_kobo_per_day
        |FROM m WHERE n_days >= 2""".stripMargin),

    // Anomaly capstone over the DENSE series: days >= 2 sigma from the
    // account's own mean, moments as whole-partition window aggs over the
    // gap-filled grid (sparse-log moments would omit the zero days)
    GraftQuery("q_spend_anomaly", (s, dir) =>
      graft.ops.EventAnalytics.spendAnomaly(
        completed(s, dir).filter(Predicates.isDebit(col("txn_type")))),
      P +
      """, daily AS (
        |  SELECT account_id, event_time_ms // 86400000 AS day,
        |    sum(CAST(round(amount * 100) AS BIGINT)) AS spend_kobo,
        |    CAST(count(*) AS BIGINT) AS n_txns
        |  FROM completed
        |  WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
        |  GROUP BY 1, 2
        |), spans AS (
        |  SELECT account_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        |), grid AS (
        |  SELECT account_id, unnest(generate_series(d0, d1)) AS day FROM spans
        |), filled AS (
        |  SELECT g.account_id, g.day,
        |    coalesce(d.spend_kobo, 0) AS spend_kobo,
        |    d.n_txns IS NULL AS filled
        |  FROM grid g LEFT JOIN daily d USING (account_id, day)
        |), sc AS (
        |  SELECT *, CAST(count(*) OVER w AS BIGINT) AS n_days,
        |    sum(spend_kobo) OVER w AS s1,
        |    sum(spend_kobo * spend_kobo) OVER w AS s2
        |  FROM filled
        |  WINDOW w AS (PARTITION BY account_id)
        |), z AS (
        |  SELECT account_id, day, CAST(spend_kobo AS BIGINT) AS spend_kobo,
        |    filled, n_days,
        |    s1 / CAST(n_days AS DOUBLE) AS mean_kobo,
        |    (n_days * s2 - s1 * s1) / CAST(n_days * n_days AS DOUBLE) AS var_kobo,
        |    CASE WHEN (n_days * s2 - s1 * s1) / CAST(n_days * n_days AS DOUBLE) > 0
        |         THEN (spend_kobo - s1 / CAST(n_days AS DOUBLE))
        |              / sqrt((n_days * s2 - s1 * s1) / CAST(n_days * n_days AS DOUBLE))
        |         ELSE 0.0 END AS z
        |  FROM sc
        |)
        |SELECT * FROM z WHERE abs(z) >= 2.0""".stripMargin),

    // Fraud feature matrix capstone: rolling spend + z-score + winsorize
    // flag for every completed debit, composed in ONE pipeline (a single
    // account window + two broadcast joins — no fact-to-fact join)
    GraftQuery("q_fraud_features", (s, dir) =>
      graft.ops.Features.fraudFeatures(
        completed(s, dir).filter(Predicates.isDebit(col("txn_type")))),
      P +
      """, t AS (SELECT txn_id, account_id, currency, event_time_us,
        |          CAST(round(amount * 100) AS BIGINT) AS kobo
        |        FROM completed
        |        WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')),
        |m AS (SELECT currency, CAST(count(*) AS BIGINT) AS n,
        |        sum(kobo) AS s1, sum(kobo * kobo) AS s2 FROM t GROUP BY 1),
        |h AS (SELECT currency, kobo, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
        |rc AS (SELECT *,
        |         sum(cnt) OVER (PARTITION BY currency ORDER BY kobo
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER (PARTITION BY currency) AS nn
        |       FROM h),
        |c AS (SELECT currency, min(kobo) AS cut_kobo FROM rc
        |      WHERE cum >= ceil(0.99 * nn) GROUP BY 1)
        |SELECT txn_id, account_id, t.currency, kobo,
        |  CAST(sum(kobo) OVER wnd AS BIGINT) AS rolling_spend_kobo,
        |  CAST(count(*) OVER wnd AS BIGINT) AS rolling_n_txns,
        |  CASE WHEN CAST(n * s2 - s1 * s1 AS DOUBLE) > 0
        |       THEN (kobo - s1 / CAST(n AS DOUBLE))
        |            / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE))
        |       ELSE 0.0 END AS z,
        |  kobo > cut_kobo AS is_clipped
        |FROM t JOIN m USING (currency) JOIN c USING (currency)
        |WINDOW wnd AS (PARTITION BY account_id ORDER BY event_time_us
        |               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    // Platform-wide session concurrency by day: ±1 session boundaries ->
    // running sum via the distributed two-pass PREFIX SCAN (per-partition
    // scans + driver offsets over the partition-count table) — the
    // cumulative-output case where a global ordered window would be a
    // one-task wall and no broadcast cut value can stand in for the curve
    GraftQuery("q_session_concurrency", (s, dir) =>
      graft.ops.EventAnalytics.sessionConcurrencyDaily(
        Windows.dormancySessions(upserts(s, dir), DormancyGap)),
      // dormancy sessions -> ±1 boundaries -> running concurrency -> day max
      // (the oracle's one-task ORDER BY window is exactly the formulation
      // the Spark side's distributed prefix scan replaces)
      P +
      s""", ordered AS (
         |  SELECT account_id, txn_id, event_time_us,
         |    CASE WHEN lag(event_time_us) OVER w IS NULL THEN 1
         |         WHEN event_time_us - lag(event_time_us) OVER w >= $DormancyGapUs THEN 1
         |         ELSE 0 END AS new_sess
         |  FROM upserts
         |  WINDOW w AS (PARTITION BY account_id ORDER BY event_time_us, txn_id)
         |), sess AS (
         |  SELECT *, sum(new_sess) OVER (PARTITION BY account_id ORDER BY event_time_us, txn_id
         |                               ROWS UNBOUNDED PRECEDING) AS sess_id
         |  FROM ordered
         |), s2 AS (
         |  SELECT min(event_time_us) // 1000 AS session_start_ms,
         |         (max(event_time_us) + $DormancyGapUs) // 1000 AS session_end_ms
         |  FROM sess GROUP BY account_id, sess_id
         |), b AS (
         |  SELECT session_start_ms AS ts_ms, 1 AS delta FROM s2
         |  UNION ALL
         |  SELECT session_end_ms, -1 FROM s2
         |), c AS (
         |  SELECT ts_ms, sum(delta) OVER (ORDER BY ts_ms, delta
         |                                 ROWS UNBOUNDED PRECEDING) AS running
         |  FROM b
         |)
         |SELECT ts_ms // 86400000 AS day,
         |  CAST(max(running) AS BIGINT) AS max_concurrent,
         |  CAST(count(*) AS BIGINT) AS n_boundaries
         |FROM c GROUP BY 1""".stripMargin),

    // Exact-integer EWMA (alpha=1/2, power-of-two weights) over each
    // customer's last 8 order totals — recency-biased spend score with
    // zero float decay; per-key window, k-pruned before aggregation
    GraftQuery("q_ewma_spend", (s, dir) =>
      graft.ops.EventAnalytics.ewmaRecency(
        Tables.table(s, dir, "orders").select(
          col("o_custkey").as("key"), col("o_orderdate").as("ts"),
          col("o_orderkey").as("seq"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("amount_cents"))),
      """WITH src AS (SELECT o_custkey AS key, o_orderdate AS ts,
         |    o_orderkey AS seq,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS amount_cents
         |  FROM orders),
         |""".stripMargin +
        graft.ops.EventAnalytics.ewmaRecencyOracleSql()),

    // TPC-H Q22-shaped idle-customer stats: scalar subquery (positive-
    // balance average) + NOT EXISTS recent order. The scalar arrives as a
    // broadcast one-row (sum, count) pair and the avg compare is
    // cross-multiplied in DECIMAL (c_acctbal * n > sum) — division-free,
    // engine-exact; the NOT EXISTS is a LEFT ANTI join against the
    // date-pruned order keys. Money out as exact integer cents.
    GraftQuery("q_idle_customer_stats", (s, dir) => {
      val cust = Tables.customer(s, dir)
      val bal = col("c_acctbal").cast("decimal(18,2)")
      val posAvg = cust.filter(col("c_acctbal") > 0)
        .agg(sum(bal).as("pos_sum"), count(lit(1)).as("pos_n"))
      val recent = Tables.table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01")).select("o_custkey")
      cust.crossJoin(broadcast(posAvg))
        .filter(bal * col("pos_n") > col("pos_sum"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          (sum(bal) * lit(100)).cast("decimal(38,0)").cast("long")
            .as("totacctbal_cents"))
    },
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS BIGINT) AS totacctbal_cents
        |FROM customer c,
        |  (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS pos_sum,
        |          count(*) AS pos_n
        |   FROM customer WHERE c_acctbal > 0) p
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * pos_n > pos_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin),

    // Set operation EXCEPT as a first-class query (churn: accounts active
    // active in the corpus window, silent in its final days) —
    // plans as distinct + left-anti, both shuffling once on account_id
    GraftQuery("q_churn_accounts", (s, dir) => {
      val t = completed(s, dir).select("account_id", "event_time_ms")
      val active = t.filter(col("event_time_ms") < lit(1706486400000L))
        .select("account_id").distinct()
      val lastDays = t.filter(col("event_time_ms") >= lit(1706486400000L))
        .select("account_id").distinct()
      active.except(lastDays)
    },
      P +
      """SELECT DISTINCT account_id FROM completed
        |WHERE event_time_ms < 1706486400000
        |EXCEPT
        |SELECT DISTINCT account_id FROM completed
        |WHERE event_time_ms >= 1706486400000""".stripMargin),

    // Temporal as-of join: each debit sees the newest CREDIT "profile
    // version" at-or-before its own event time (union+sort+carry-forward —
    // one shuffle, no range explosion; oracle = DuckDB's native ASOF JOIN)
    GraftQuery("q_asof_enrich", (s, dir) => {
      val up = upserts(s, dir)
      val facts = up
        .filter(Predicates.isCompleted(col("status")) &&
          Predicates.isDebit(col("txn_type")))
        .select("txn_id", "account_id", "amount", "event_time_us", "event_time_ms")
      val versions = up.filter(col("txn_type") === "CREDIT")
        .select(col("account_id"), col("event_time_us").as("ver_ts_us"),
          col("amount").as("profile_score"), col("txn_id").as("ver_txn_id"))
      val deduped = LatestByKey.latest(versions,
          Seq("account_id", "ver_ts_us"), Seq(col("ver_txn_id")))
        .drop("ver_txn_id")
      AsOfJoin.asOfLeft(facts, deduped, "account_id", "event_time_us", "ver_ts_us")
        .select(col("txn_id"), col("account_id"), col("amount"),
          expr("ver_ts_us div 1000").as("ver_ts_ms"), col("profile_score"))
    },
      P +
      """, facts AS (
        |  SELECT txn_id, account_id, amount, event_time_us, event_time_ms FROM completed
        |  WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
        |), vers AS (
        |  SELECT account_id, event_time_us AS ver_ts_us, amount AS profile_score,
        |         row_number() OVER (PARTITION BY account_id, event_time_us ORDER BY txn_id DESC) AS rn
        |  FROM upserts WHERE txn_type = 'CREDIT'
        |), dimd AS (SELECT account_id, ver_ts_us, profile_score FROM vers WHERE rn = 1)
        |SELECT f.txn_id, f.account_id, f.amount,
        |       d.ver_ts_us // 1000 AS ver_ts_ms, d.profile_score
        |FROM facts f ASOF LEFT JOIN dimd d
        |  ON f.account_id = d.account_id AND f.event_time_us >= d.ver_ts_us""".stripMargin),

    // Top-k ranking over a pre-aggregated frame (absent from the
    // reference, added as extension surface). orderBy().limit(k) plans as
    // TakeOrderedAndProject — per-partition top-k, driver merges only
    // k×partitions rows — so no single task ever sorts all accounts; the
    // rank window then runs over just the k surviving rows
    GraftQuery("q_topk_spenders", (s, dir) => {
      val totals = completed(s, dir)
        .filter(Predicates.isDebit(col("txn_type")))
        .groupBy("account_id")
        .agg(round(sum(col("amount")), 2).as("total_spend"))
      totals
        .orderBy(col("total_spend").desc, col("account_id"))
        .limit(10)
        // rank over the 10 surviving rows only. The partition key is a
        // constant-valued but non-foldable expression: it pins the bounded
        // 10-row input to one WindowExec partition BY DECLARATION (a bare
        // literal would be optimized away, reverting to the global-window
        // shape that cannot scale)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("account_id"), lit(1L)))
            .orderBy(col("total_spend").desc, col("account_id"))).cast("long"))
    },
      P +
      """, totals AS (
        |  SELECT account_id, round(sum(amount), 2) AS total_spend FROM completed
        |  WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
        |  GROUP BY 1
        |), ranked AS (
        |  SELECT account_id, total_spend,
        |    CAST(row_number() OVER (ORDER BY total_spend DESC, account_id) AS BIGINT) AS rank
        |  FROM totals
        |)
        |SELECT account_id, total_spend, rank FROM ranked WHERE rank <= 10""".stripMargin),

    // Exact distinct counts per group (approx_count_distinct is
    // engine-specific; its <5% error is asserted in DistinctSpec)
    GraftQuery("q_distinct_users", (s, dir) =>
      upserts(s, dir)
        .groupBy("txn_type")
        .agg(countDistinct(col("account_id")).as("n_accounts"),
          count(lit(1)).as("n_txns")),
      P +
      """SELECT txn_type,
        |       CAST(count(DISTINCT account_id) AS BIGINT) AS n_accounts,
        |       CAST(count(*) AS BIGINT) AS n_txns
        |FROM upserts GROUP BY 1""".stripMargin),

    // Frequency analysis: exact top-5 accounts per txn_type (partitioned
    // top-k; the approximate CMS twin is property-tested in SketchesSpec)
    GraftQuery("q_heavy_hitters", (s, dir) =>
      graft.ops.Sketches.heavyHitters(upserts(s, dir), "txn_type",
        "account_id", k = 5),
      P +
      """, hh AS (
        |  SELECT txn_type, account_id, CAST(count(*) AS BIGINT) AS n
        |  FROM upserts GROUP BY 1, 2
        |)
        |SELECT txn_type, account_id, n,
        |  CAST(row_number() OVER (PARTITION BY txn_type ORDER BY n DESC, account_id) AS BIGINT) AS rank
        |FROM hh QUALIFY rank <= 5""".stripMargin),

    // Interval (range) join: debits counted against credits of the same
    // account within ±1 h — bucketized candidate generation, never a
    // per-key cross product (stream-stream twin in Pipelines)
    GraftQuery("q_interval_join", (s, dir) => {
      val up = upserts(s, dir)
      val debits = up
        .filter(Predicates.isCompleted(col("status")) &&
          Predicates.isDebit(col("txn_type")))
        .select("txn_id", "account_id", "event_time_us")
      val credits = up.filter(Predicates.isCredit(col("txn_type")))
        .select(col("txn_id").as("credit_txn_id"), col("account_id"),
          col("event_time_us").as("credit_ts_us"))
      val hourUs = 3600000000L
      val counts = graft.ops.IntervalJoin.inner(debits, credits,
          "account_id", "event_time_us", "credit_ts_us", -hourUs, hourUs)
        .groupBy("txn_id").agg(count(lit(1)).as("n_nearby_credits"))
      debits.join(counts, Seq("txn_id"), "left")
        .select(col("txn_id"), col("account_id"),
          coalesce(col("n_nearby_credits"), lit(0L)).as("n_nearby_credits"))
    },
      P +
      """SELECT f.txn_id, f.account_id, CAST(count(e.ctxn) AS BIGINT) AS n_nearby_credits
        |FROM (SELECT txn_id, account_id, event_time_us FROM completed
        |      WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')) f
        |LEFT JOIN (SELECT txn_id AS ctxn, account_id AS cacct, event_time_us AS cts
        |           FROM upserts WHERE txn_type IN ('CREDIT','TRANSFER_IN','INTEREST')) e
        |  ON f.account_id = e.cacct
        |  AND e.cts >= f.event_time_us - 3600000000
        |  AND e.cts <= f.event_time_us + 3600000000
        |GROUP BY 1, 2""".stripMargin),
  )
}
