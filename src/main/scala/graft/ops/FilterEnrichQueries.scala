package graft
package ops

import org.apache.spark.sql.functions._

import graft.QueryShared.{completed, P, sqlAcctDim, sqlCustDim, upserts}
import graft.SparkEntry.{DailySpendAlert, DormancyGap, DormancyGapUs,
  HighValueThreshold, VelocityAdvanceSec, VelocityMinTxns, VelocityWindowSec}
import graft.cdc.DimensionCdc

/** Reference-pipeline filters, dimension enrichment, notification
  * formatting, velocity/daily-spend/dormancy alerts and reconciliation
  * queries (the `filters_enrich` family). */
object FilterEnrichQueries {

  /** DuckDB rendering of [[graft.ops.Notify.formatAmount]] (DuckDB's fmt
    * format() lacks thousands grouping for floats, so group the integer part
    * and append the 2-dp fraction). */
  private def sqlFormatted(amount: String, currency: String): String =
    s"(CASE WHEN $currency = 'NGN' THEN '₦' ELSE $currency || ' ' END" +
      s" || format('{:,}', CAST(floor($amount) AS BIGINT)) || '.'" +
      s" || lpad(CAST(CAST(round(($amount - floor($amount)) * 100) AS BIGINT) AS VARCHAR), 2, '0'))"

  /** NGN-only signed rendering of formatAmount (balances can be negative;
    * DuckDB format() has no signed thousands-grouping for floats). */
  private def sqlNgnSigned(amount: String): String =
    s"('₦' || CASE WHEN $amount < 0 THEN '-' ELSE '' END" +
      s" || format('{:,}', CAST(floor(abs($amount)) AS BIGINT)) || '.'" +
      s" || lpad(CAST(CAST(round((abs($amount) - floor(abs($amount))) * 100) AS BIGINT) AS VARCHAR), 2, '0'))"

  /** Lagos-rendered timestamp string (the DuckDB twin of
    * [[graft.ops.Notify.formatTimestampMs]]). */
  private def sqlLagosTs(epochMs: String): String =
    s"(strftime(make_timestamp(($epochMs) * 1000) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') || ' WAT')"

  def queries: Seq[GraftQuery] = Seq(
    // P6: domain predicates isDebit/isCompleted
    GraftQuery("q_debit_filter", (s, dir) =>
      upserts(s, dir)
        .filter(Predicates.isDebit(col("txn_type")) &&
          Predicates.isCompleted(col("status")))
        .select("txn_id", "account_id", "txn_type", "amount", "event_time_ms"),
      P +
      """SELECT txn_id, account_id, txn_type, amount, event_time_ms FROM upserts
        |WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT') AND status = 'COMPLETED'""".stripMargin),

    // P7: inclusive >= high-value threshold
    GraftQuery("q_high_value_filter", (s, dir) =>
      completed(s, dir)
        .filter(Predicates.isHighValue(col("amount"), HighValueThreshold))
        .select("txn_id", "account_id", "amount", "currency", "event_time_ms"),
      P +
      s"SELECT txn_id, account_id, amount, currency, event_time_ms FROM completed WHERE amount >= $HighValueThreshold"),

    // F1: formatAmount — ₦/ISO prefix + thousands-grouped 2 dp
    GraftQuery("q_format_amount", (s, dir) =>
      upserts(s, dir)
        .withColumn("amount_scaled", round(col("amount") * 1001, 2))
        .select(col("txn_id"), col("currency"), col("amount_scaled"),
          Notify.formatAmount(col("amount_scaled"), col("currency")).as("formatted")),
      P +
      """SELECT txn_id, currency, amount_scaled,
        |  CASE WHEN currency = 'NGN' THEN '₦' ELSE currency || ' ' END
        |    || format('{:,}', CAST(floor(amount_scaled) AS BIGINT)) || '.'
        |    || lpad(CAST(CAST(round((amount_scaled - floor(amount_scaled)) * 100) AS BIGINT) AS VARCHAR), 2, '0')
        |    AS formatted
        |FROM (SELECT txn_id, currency, round(amount * 1001, 2) AS amount_scaled FROM upserts)""".stripMargin),

    // F2: formatTimestampMs — Africa/Lagos display rendering
    GraftQuery("q_format_ts", (s, dir) =>
      upserts(s, dir)
        .select(col("txn_id"),
          Notify.formatTimestampMs(col("event_time_ms")).as("lagos_ts")),
      P +
      """SELECT txn_id,
        |  strftime(make_timestamp(event_time_ms * 1000) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') || ' WAT' AS lagos_ts
        |FROM upserts""".stripMargin),

    // J1: high-value stream enriched against the account dimension
    // (broadcast hash join; "N/A" fallback on missing dim row)
    GraftQuery("q_high_value_enrich", (s, dir) => {
      val hv = completed(s, dir)
        .filter(Predicates.isHighValue(col("amount"), HighValueThreshold))
      Enrich.withDim(hv,
          Tables.customer(s, dir).withColumnRenamed("c_custkey", "account_id"),
          "account_id")
        .select(col("txn_id"), col("account_id"), col("amount"), col("currency"),
          coalesce(col("c_name"), lit("N/A")).as("account_name"),
          coalesce(col("c_mktsegment"), lit("N/A")).as("segment"),
          Notify.formatAmount(col("amount"), col("currency")).as("formatted_amount"),
          col("event_time_ms"))
    },
      P +
      s"""SELECT txn_id, account_id, amount, currency,
         |  coalesce(c_name, 'N/A') AS account_name,
         |  coalesce(c_mktsegment, 'N/A') AS segment,
         |  ${sqlFormatted("amount", "currency")} AS formatted_amount,
         |  event_time_ms
         |FROM completed LEFT JOIN customer ON account_id = c_custkey
         |WHERE amount >= $HighValueThreshold""".stripMargin),

    // J3: declared-but-unwired second hop — customer -> nation
    GraftQuery("q_two_hop_enrich", (s, dir) => {
      val hv = completed(s, dir)
        .filter(Predicates.isHighValue(col("amount"), HighValueThreshold))
      Enrich.twoHop(hv, "account_id",
          Tables.customer(s, dir), "c_custkey",
          Tables.nation(s, dir), "c_nationkey", "n_nationkey")
        .select(col("txn_id"), col("account_id"), col("amount"),
          coalesce(col("c_name"), lit("N/A")).as("customer_name"),
          coalesce(col("n_name"), lit("N/A")).as("nation_name"))
    },
      P +
      s"""SELECT txn_id, account_id, amount,
         |  coalesce(c_name, 'N/A') AS customer_name,
         |  coalesce(n_name, 'N/A') AS nation_name
         |FROM completed
         |LEFT JOIN customer ON account_id = c_custkey
         |LEFT JOIN nation ON c_nationkey = n_nationkey
         |WHERE amount >= $HighValueThreshold""".stripMargin),

    // J1 against the CDC-built dimension: high-value transactions left-join
    // the accounts KTable (the reference's actual enrichment data flow —
    // `topology/ABBankTopology.java:233-240`; deleted accounts fall back to
    // "N/A" like missing KV-store rows)
    GraftQuery("q_enrich_cdc_dim", (s, dir) => {
      val hv = completed(s, dir)
        .filter(Predicates.isHighValue(col("amount"), HighValueThreshold))
      Enrich.withDim(hv, DimensionCdc.accountsDim(Tables.customer(s, dir)),
          "account_id")
        .select(col("txn_id"), col("account_id"), col("amount"),
          coalesce(col("account_number"), lit("N/A")).as("account_number"),
          coalesce(col("customer_id"), lit(-1L)).as("customer_id"),
          coalesce(col("balance"), lit(-1.0)).as("account_balance"),
          coalesce(col("account_status"), lit("N/A")).as("account_status"))
    },
      P + s", $sqlAcctDim\n" +
      s"""SELECT txn_id, t.account_id, amount,
         |  coalesce(account_number, 'N/A') AS account_number,
         |  coalesce(d.customer_id, -1) AS customer_id,
         |  coalesce(balance, -1.0) AS account_balance,
         |  coalesce(account_status, 'N/A') AS account_status
         |FROM completed t LEFT JOIN acct_dim d ON t.account_id = d.account_id
         |WHERE amount >= $HighValueThreshold""".stripMargin),

    // J1+J3 full reference flow: transactions -> accounts KTable (CDC) ->
    // customers KTable (CDC), surfacing getFullName/contact info
    // (reference builds both KTables at `ABBankTopology.java:107-144`)
    GraftQuery("q_enrich_cdc_two_hop", (s, dir) => {
      val hv = completed(s, dir)
        .filter(Predicates.isHighValue(col("amount"), HighValueThreshold))
      val acct = DimensionCdc.accountsDim(Tables.customer(s, dir))
        .select("account_id", "customer_id", "account_number")
      val cust = DimensionCdc.customersDim(Tables.customer(s, dir))
        .select("customer_id", "first_name", "last_name", "email", "segment")
      hv.join(broadcast(acct), Seq("account_id"), "left")
        .join(broadcast(cust), Seq("customer_id"), "left")
        .select(col("txn_id"), col("account_id"), col("amount"),
          coalesce(col("account_number"), lit("N/A")).as("account_number"),
          when(col("first_name").isNull, lit("N/A"))
            .otherwise(Notify.fullName(col("first_name"), col("last_name")))
            .as("customer_name"),
          coalesce(col("email"), lit("N/A")).as("email"),
          coalesce(col("segment"), lit("N/A")).as("segment"))
    },
      P + s", $sqlAcctDim,\n$sqlCustDim\n" +
      s"""SELECT t.txn_id, t.account_id, t.amount,
         |  coalesce(a.account_number, 'N/A') AS account_number,
         |  CASE WHEN c.first_name IS NULL THEN 'N/A'
         |       ELSE c.first_name || ' ' || c.last_name END AS customer_name,
         |  coalesce(c.email, 'N/A') AS email,
         |  coalesce(c.segment, 'N/A') AS segment
         |FROM completed t
         |LEFT JOIN acct_dim a ON t.account_id = a.account_id
         |LEFT JOIN cust_dim c ON a.customer_id = c.customer_id
         |WHERE t.amount >= $HighValueThreshold""".stripMargin),

    // W1: velocity fraud check — tumbling window count >= threshold
    GraftQuery("q_velocity_count", (s, dir) =>
      Windows.velocityCount(upserts(s, dir), VelocityWindowSec, VelocityMinTxns),
      P +
      s"""SELECT account_id,
         |  (event_time_ms // ${VelocityWindowSec}000) * ${VelocityWindowSec}000 AS window_start_ms,
         |  (event_time_ms // ${VelocityWindowSec}000) * ${VelocityWindowSec}000 + ${VelocityWindowSec}000 AS window_end_ms,
         |  CAST(count(*) AS BIGINT) AS n_txns
         |FROM upserts GROUP BY 1, 2, 3 HAVING count(*) >= $VelocityMinTxns""".stripMargin),

    // W1b (declared-intent extension): HOPPING-window velocity — the
    // reference's dead VelocityState model (model/VelocityState.java:15-63)
    // hand-rolls a sliding count the topology never wired; Kafka Streams
    // ofSizeAndAdvance == Spark's two-arg window(). Oracle replays the
    // per-event window fan-out with a generate_series cross join
    GraftQuery("q_velocity_hopping", (s, dir) =>
      Windows.velocityHopping(upserts(s, dir), VelocityWindowSec,
        VelocityAdvanceSec, VelocityMinTxns),
      // each event belongs to window/advance epoch-aligned hopping windows:
      // start = floor(ts/advance)*advance - k*advance for k in
      // [0, window/advance) — start <= ts < start+window holds for exactly
      // these k, matching Spark's two-arg window() expansion
      P +
      s"""SELECT account_id,
         |  (event_time_ms // ${VelocityAdvanceSec}000) * ${VelocityAdvanceSec}000 - k.k * ${VelocityAdvanceSec}000 AS window_start_ms,
         |  (event_time_ms // ${VelocityAdvanceSec}000) * ${VelocityAdvanceSec}000 - k.k * ${VelocityAdvanceSec}000 + ${VelocityWindowSec}000 AS window_end_ms,
         |  CAST(count(*) AS BIGINT) AS n_txns
         |FROM upserts
         |CROSS JOIN (SELECT unnest(generate_series(0, ${VelocityWindowSec / VelocityAdvanceSec} - 1)) AS k) k
         |GROUP BY 1, 2, 3 HAVING count(*) >= $VelocityMinTxns""".stripMargin),

    // W2: daily spend — 24 h tumbling debit sum >= threshold + Lagos label
    GraftQuery("q_daily_spend_sum", (s, dir) =>
      Windows.dailySpend(
        completed(s, dir).filter(Predicates.isDebit(col("txn_type"))),
        DailySpendAlert),
      P +
      s"""SELECT account_id,
         |  (event_time_ms // 86400000) * 86400000 AS day_start_ms,
         |  strftime(make_timestamp((event_time_ms // 86400000) * 86400000 * 1000) + INTERVAL 1 HOUR, '%Y-%m-%d') AS lagos_date,
         |  round(sum(amount), 2) AS total_spend,
         |  CAST(count(*) AS BIGINT) AS n_txns
         |FROM completed
         |WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
         |GROUP BY 1, 2, 3 HAVING round(sum(amount), 2) >= $DailySpendAlert""".stripMargin),

    // W3: dormancy — session windows (gap inactivity), single-event flag
    GraftQuery("q_dormancy_session", (s, dir) =>
      Windows.dormancySessions(upserts(s, dir), DormancyGap),
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
         |)
         |SELECT account_id,
         |  min(event_time_us) // 1000 AS session_start_ms,
         |  (max(event_time_us) + $DormancyGapUs) // 1000 AS session_end_ms,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  count(*) = 1 AS is_dormant
         |FROM sess GROUP BY account_id, sess_id""".stripMargin),

    // O1: balance reconciliation — per-account ordered scan w/ lag()
    GraftQuery("q_balance_reconcile", (s, dir) => Reconcile.reconcile(completed(s, dir)),
      P +
      s""", signedt AS (
         |  SELECT txn_id, account_id, event_time_ms, event_time_us,
         |    CASE WHEN txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
         |         THEN -amount ELSE amount END AS signed_amount
         |  FROM completed
         |), bal AS (
         |  SELECT *,
         |    round(sum(signed_amount) OVER (PARTITION BY account_id ORDER BY event_time_us, txn_id
         |                                  ROWS UNBOUNDED PRECEDING), 2) + 0.0 AS balance_after
         |  FROM signedt
         |), bb AS (
         |  SELECT *,
         |    round(balance_after - signed_amount
         |          + CASE WHEN txn_id % 97 = 0 THEN ${Reconcile.InjectedError} ELSE 0.0 END, 2) + 0.0 AS balance_before,
         |    lag(balance_after) OVER (PARTITION BY account_id ORDER BY event_time_us, txn_id) AS stored_balance
         |  FROM bal
         |), disc AS (
         |  SELECT *,
         |    CASE WHEN stored_balance IS NULL THEN 0.0
         |         ELSE round(abs(balance_before - stored_balance), 2) END AS discrepancy
         |  FROM bb
         |)
         |SELECT txn_id, account_id, event_time_ms, balance_before, balance_after, stored_balance, discrepancy,
         |  CASE WHEN stored_balance IS NULL THEN 'BOOTSTRAP'
         |       WHEN discrepancy > ${Reconcile.ToleranceNgn} THEN 'DISCREPANCY'
         |       ELSE 'BALANCE_UPDATE' END AS recon_status,
         |  CASE WHEN stored_balance IS NOT NULL AND discrepancy > ${Reconcile.ToleranceNgn}
         |       THEN 'HIGH' ELSE 'LOW' END AS severity
         |FROM disc""".stripMargin),

    // O2: notification JSON assembly (deterministic id; uuid()/now() live
    // only in the streaming sinks, excluded from verification)
    GraftQuery("q_notification_json", (s, dir) => {
      val hv = completed(s, dir)
        .filter(Predicates.isHighValue(col("amount"), HighValueThreshold))
      val enriched = Enrich.withDim(hv,
        Tables.customer(s, dir).withColumnRenamed("c_custkey", "account_id"),
        "account_id")
      val fmt = Notify.formatAmount(col("amount"), col("currency"))
      enriched.select(
        col("txn_id"),
        Notify.notificationJson(
          idPrefix = "HV",
          notificationType = "HIGH_VALUE_ALERT",
          severity = "HIGH",
          channel = "BOTH",
          entityId = col("txn_id"),
          accountId = col("account_id"),
          subject = lit("High value transaction alert"),
          body = concat(lit("Account "), col("account_id"), lit(" spent "), fmt),
          metadata = map(
            lit("amount"), fmt,
            lit("currency"), col("currency"),
            lit("accountName"), coalesce(col("c_name"), lit("N/A")))
        ).as("notification"))
    },
      P +
      s""", enriched AS (
         |  SELECT txn_id, account_id, amount, currency,
         |    coalesce(c_name, 'N/A') AS account_name,
         |    ${sqlFormatted("amount", "currency")} AS fmt
         |  FROM completed LEFT JOIN customer ON account_id = c_custkey
         |  WHERE amount >= $HighValueThreshold
         |)
         |SELECT txn_id,
         |  '{"notificationId":"HV-' || txn_id
         |    || '","notificationType":"HIGH_VALUE_ALERT","severity":"HIGH","channel":"BOTH","accountId":'
         |    || account_id
         |    || ',"subject":"High value transaction alert","body":"Account ' || account_id
         |    || ' spent ' || fmt
         |    || '","metadata":{"amount":"' || fmt
         |    || '","currency":"' || currency
         |    || '","accountName":"' || account_name || '"}}' AS notification
         |FROM enriched""".stripMargin),

    // O2 × pipeline 1 (velocity): FRAUD_ALERT notification JSON
    // (reference `topology/ABBankTopology.java:181-205`)
    GraftQuery("q_velocity_alert_json", (s, dir) => {
      val v = Windows.velocityCount(upserts(s, dir), VelocityWindowSec, VelocityMinTxns)
      v.select(col("account_id"), col("window_start_ms"),
        Notify.notificationJson(
          idPrefix = "FRAUD",
          notificationType = "FRAUD_ALERT",
          severity = "CRITICAL",
          channel = "BOTH",
          entityId = concat(col("account_id"), lit("-"), col("window_start_ms")),
          accountId = col("account_id"),
          subject = lit("Suspicious activity detected on your account"),
          body = concat(lit("We detected "), col("n_txns"),
            lit(s" transactions on your account within $VelocityWindowSec seconds starting at "),
            Notify.formatTimestampMs(col("window_start_ms")),
            lit(". Contact AB Bank immediately if this was not you.")),
          metadata = map(
            lit("windowStartMs"), col("window_start_ms").cast("string"),
            lit("windowEndMs"), col("window_end_ms").cast("string"),
            lit("transactionCount"), col("n_txns").cast("string"),
            lit("windowSizeSec"), lit(VelocityWindowSec.toString))
        ).as("notification"))
    },
      P +
      s""", vel AS (
         |  SELECT account_id,
         |    (event_time_ms // ${VelocityWindowSec}000) * ${VelocityWindowSec}000 AS window_start_ms,
         |    (event_time_ms // ${VelocityWindowSec}000) * ${VelocityWindowSec}000 + ${VelocityWindowSec}000 AS window_end_ms,
         |    CAST(count(*) AS BIGINT) AS n_txns
         |  FROM upserts GROUP BY 1, 2, 3 HAVING count(*) >= $VelocityMinTxns
         |)
         |SELECT account_id, window_start_ms,
         |  '{"notificationId":"FRAUD-' || account_id || '-' || window_start_ms
         |    || '","notificationType":"FRAUD_ALERT","severity":"CRITICAL","channel":"BOTH","accountId":'
         |    || account_id
         |    || ',"subject":"Suspicious activity detected on your account","body":"We detected '
         |    || n_txns || ' transactions on your account within $VelocityWindowSec seconds starting at '
         |    || ${sqlLagosTs("window_start_ms")}
         |    || '. Contact AB Bank immediately if this was not you.","metadata":{"windowStartMs":"'
         |    || window_start_ms || '","windowEndMs":"' || window_end_ms
         |    || '","transactionCount":"' || n_txns
         |    || '","windowSizeSec":"$VelocityWindowSec"}}' AS notification
         |FROM vel""".stripMargin),

    // O2 × pipeline 4 (dormancy): DORMANCY_ALERT notification JSON
    // (reference `topology/ABBankTopology.java:343-367`)
    GraftQuery("q_dormancy_alert_json", (s, dir) => {
      val d = Windows.dormancySessions(upserts(s, dir), DormancyGap)
        .filter(col("is_dormant"))
      d.select(col("account_id"), col("session_start_ms"),
        Notify.notificationJson(
          idPrefix = "DORM",
          notificationType = "DORMANCY_ALERT",
          severity = "LOW",
          channel = "EMAIL",
          entityId = concat(col("account_id"), lit("-"), col("session_start_ms")),
          accountId = col("account_id"),
          subject = lit("Your AB Bank account has been inactive"),
          body = concat(lit("Your AB Bank account (ID: "), col("account_id"),
            lit(") has had no follow-up activity. Make at least one transaction to keep it active.")),
          metadata = map(
            lit("sessionStartMs"), col("session_start_ms").cast("string"),
            lit("sessionEndMs"), col("session_end_ms").cast("string"))
        ).as("notification"))
    },
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
         |), dorm AS (
         |  SELECT account_id,
         |    min(event_time_us) // 1000 AS session_start_ms,
         |    (max(event_time_us) + $DormancyGapUs) // 1000 AS session_end_ms
         |  FROM sess GROUP BY account_id, sess_id HAVING count(*) = 1
         |)
         |SELECT account_id, session_start_ms,
         |  '{"notificationId":"DORM-' || account_id || '-' || session_start_ms
         |    || '","notificationType":"DORMANCY_ALERT","severity":"LOW","channel":"EMAIL","accountId":'
         |    || account_id
         |    || ',"subject":"Your AB Bank account has been inactive","body":"Your AB Bank account (ID: '
         |    || account_id
         |    || ') has had no follow-up activity. Make at least one transaction to keep it active.","metadata":{"sessionStartMs":"'
         |    || session_start_ms || '","sessionEndMs":"' || session_end_ms
         |    || '"}}' AS notification
         |FROM dorm""".stripMargin),

    // O2 × pipeline 5 (daily spend): DAILY_SPEND_SUMMARY notification JSON
    // (reference `topology/ABBankTopology.java:401-424`)
    GraftQuery("q_daily_spend_json", (s, dir) => {
      val d = Windows.dailySpend(
        completed(s, dir).filter(Predicates.isDebit(col("txn_type"))),
        DailySpendAlert)
      val fmt = Notify.formatAmount(col("total_spend"), lit("NGN"))
      d.select(col("account_id"), col("day_start_ms"),
        Notify.notificationJson(
          idPrefix = "DS",
          notificationType = "DAILY_SPEND_SUMMARY",
          severity = "MEDIUM",
          channel = "SMS",
          entityId = concat(col("account_id"), lit("-"), col("day_start_ms")),
          accountId = col("account_id"),
          subject = concat(lit("Daily spend alert - "), col("lagos_date")),
          body = concat(lit("AB Bank: your total debits on "), col("lagos_date"),
            lit(" reached "), fmt,
            lit(s", exceeding your alert threshold of ${"₦"}${"%.2f".format(DailySpendAlert)}. Reply STOP to unsubscribe.")),
          metadata = map(
            lit("date"), col("lagos_date"),
            lit("totalDebit"), col("total_spend").cast("string"),
            lit("thresholdNgn"), lit("%.2f".format(DailySpendAlert)))
        ).as("notification"))
    },
      P +
      s""", daily AS (
         |  SELECT account_id,
         |    (event_time_ms // 86400000) * 86400000 AS day_start_ms,
         |    strftime(make_timestamp((event_time_ms // 86400000) * 86400000 * 1000) + INTERVAL 1 HOUR, '%Y-%m-%d') AS lagos_date,
         |    round(sum(amount), 2) AS total_spend
         |  FROM completed
         |  WHERE txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
         |  GROUP BY 1, 2, 3 HAVING round(sum(amount), 2) >= $DailySpendAlert
         |)
         |SELECT account_id, day_start_ms,
         |  '{"notificationId":"DS-' || account_id || '-' || day_start_ms
         |    || '","notificationType":"DAILY_SPEND_SUMMARY","severity":"MEDIUM","channel":"SMS","accountId":'
         |    || account_id
         |    || ',"subject":"Daily spend alert - ' || lagos_date
         |    || '","body":"AB Bank: your total debits on ' || lagos_date
         |    || ' reached ' || ${sqlNgnSigned("total_spend")}
         |    || ', exceeding your alert threshold of ₦${"%.2f".format(DailySpendAlert)}. Reply STOP to unsubscribe.","metadata":{"date":"'
         |    || lagos_date || '","totalDebit":"' || CAST(total_spend AS VARCHAR)
         |    || '","thresholdNgn":"${"%.2f".format(DailySpendAlert)}"}}' AS notification
         |FROM daily""".stripMargin),

    // O2 × pipeline 3 (reconciliation): BALANCE_UPDATE discrepancy JSON
    // (reference `topology/BalanceReconciliationProcessor.java:95-144`;
    // discrepancy branch — severity HIGH, channel BOTH)
    GraftQuery("q_reconcile_alert_json", (s, dir) => {
      val r = Reconcile.reconcile(completed(s, dir))
        .filter(col("recon_status") === "DISCREPANCY")
      def ngn(c: org.apache.spark.sql.Column) = Notify.formatAmount(c, lit("NGN"))
      r.select(col("txn_id"), col("account_id"),
        Notify.notificationJson(
          idPrefix = "RECON",
          notificationType = "BALANCE_UPDATE",
          severity = "HIGH",
          channel = "BOTH",
          entityId = col("txn_id"),
          accountId = col("account_id"),
          subject = lit("Balance discrepancy detected"),
          body = concat(lit("AB Bank detected a balance discrepancy on account "),
            col("account_id"),
            lit(". Our records show: "), ngn(col("stored_balance")),
            lit(". Reported balance before this transaction: "), ngn(col("balance_before")),
            lit(". Difference: "), ngn(col("discrepancy")),
            lit(". Our team will investigate.")),
          metadata = map(
            lit("balanceBefore"), col("balance_before").cast("string"),
            lit("balanceAfter"), col("balance_after").cast("string"),
            lit("discrepancyAmount"), col("discrepancy").cast("string"),
            lit("hasDiscrepancy"), lit("true"))
        ).as("notification"))
    },
      P +
      s""", signedt AS (
         |  SELECT txn_id, account_id, event_time_ms, event_time_us,
         |    CASE WHEN txn_type IN ('DEBIT','TRANSFER_OUT','FEE','LOAN_REPAYMENT')
         |         THEN -amount ELSE amount END AS signed_amount
         |  FROM completed
         |), bal AS (
         |  SELECT *,
         |    round(sum(signed_amount) OVER (PARTITION BY account_id ORDER BY event_time_us, txn_id
         |                                  ROWS UNBOUNDED PRECEDING), 2) + 0.0 AS balance_after
         |  FROM signedt
         |), bb AS (
         |  SELECT *,
         |    round(balance_after - signed_amount
         |          + CASE WHEN txn_id % 97 = 0 THEN ${Reconcile.InjectedError} ELSE 0.0 END, 2) + 0.0 AS balance_before,
         |    lag(balance_after) OVER (PARTITION BY account_id ORDER BY event_time_us, txn_id) AS stored_balance
         |  FROM bal
         |), disc AS (
         |  SELECT *, round(abs(balance_before - stored_balance), 2) AS discrepancy
         |  FROM bb WHERE stored_balance IS NOT NULL
         |), alerts AS (
         |  SELECT * FROM disc WHERE discrepancy > ${Reconcile.ToleranceNgn}
         |)
         |SELECT txn_id, account_id,
         |  '{"notificationId":"RECON-' || txn_id
         |    || '","notificationType":"BALANCE_UPDATE","severity":"HIGH","channel":"BOTH","accountId":'
         |    || account_id
         |    || ',"subject":"Balance discrepancy detected","body":"AB Bank detected a balance discrepancy on account '
         |    || account_id
         |    || '. Our records show: ' || ${sqlNgnSigned("stored_balance")}
         |    || '. Reported balance before this transaction: ' || ${sqlNgnSigned("balance_before")}
         |    || '. Difference: ' || ${sqlNgnSigned("discrepancy")}
         |    || '. Our team will investigate.","metadata":{"balanceBefore":"'
         |    || CAST(balance_before AS VARCHAR) || '","balanceAfter":"' || CAST(balance_after AS VARCHAR)
         |    || '","discrepancyAmount":"' || CAST(discrepancy AS VARCHAR)
         |    || '","hasDiscrepancy":"true"}}' AS notification
         |FROM alerts""".stripMargin),
  )
}
