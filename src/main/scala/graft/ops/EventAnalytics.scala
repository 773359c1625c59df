package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the raw event stream (funnels, cohort
  * retention) — the product-analytics companions to the banking pipelines
  * (same stream, different consumers).
  *
  * Scale posture: the funnel is ONE window partitioned by the entity key
  * (a forward-looking conditional RANGE frame — no self-join, no
  * explosion of (click, purchase) candidate pairs the interval-join
  * formulation would build); retention is two user-keyed hash
  * aggregations and one co-partitioned equi-join. Nothing orders
  * globally, nothing collects.
  */
object EventAnalytics {

  /** First-order Markov transition matrix of the event stream: per user
    * (total order (ts_us, event_id) — deterministic under timestamp
    * ties), each adjacent pair contributes one (prev_event, next_event)
    * count; `p` is the row-normalized transition probability — ONE IEEE
    * division of exact integers per output row (event-types² rows), so
    * the result is engine-exact. Shuffle shape: one user-partitioned
    * window pass + one tiny aggregation; the normalizing window runs on
    * the types² frame, not the stream. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val counts = events
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev_event", lag(col("event_type"), 1).over(w))
      .filter(col("prev_event").isNotNull)
      .groupBy(col("prev_event"), col("event_type").as("next_event"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col("prev_event"))
    counts.withColumn("p", col("n") / sum(col("n")).over(tot).cast("double"))
  }

  /** Click→purchase funnel conversion: for every click, the timestamp of
    * the user's FIRST purchase strictly after it within `withinSec` (null
    * if none — the row survives so conversion ratios can be computed
    * downstream). A same-timestamp purchase does NOT convert (the frame
    * starts 1 µs after the click): simultaneous events carry no causal
    * order, so counting them would manufacture conversions.
    *
    * The 2-step [[kStepPattern]]: one window, partitioned by user,
    * forward-looking conditional RANGE frame — where a join formulation
    * would materialize every (click, purchase-within-horizon) pair, this
    * emits exactly one row per click. */
  def clickToPurchase(events: DataFrame, withinSec: Long): DataFrame =
    kStepPattern(events, Seq("click", "purchase"), withinSec)
      .withColumnRenamed("step1_us", "next_purchase_us")
      .withColumnRenamed("completed", "converted")

  /** Weekly cohort retention: users bucketed by their FIRST active week
    * (integer floor of epoch-micros — engine-exact, no calendar
    * arithmetic), counted once per (cohort, weeks-since-cohort) cell.
    * The classic retention triangle.
    *
    * Both aggregations and the join key on user_id, so the frames stay
    * co-partitioned; the distinct pass collapses each user's events to
    * one row per active week before anything joins. */
  def weeklyRetention(events: DataFrame): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val weeks = events
      .select(col("user_id"), expr(s"ts_us div $weekUs").as("week"))
      .distinct()
    val cohort = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    weeks.join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Three-step sequence pattern (CEP / MATCH_RECOGNIZE stand-in, which
    * Spark has no native operator for): click → view → purchase per user,
    * each step STRICTLY later than the previous and within `withinSec` of
    * it (the same no-causal-order-at-equal-ts rule as [[clickToPurchase]]).
    * Emits one row per click with the matched step timestamps (nulls where
    * the pattern stalls) and a `completed` flag.
    *
    * Shape: the shared window annotation computes "first view after me"
    * and "first purchase after me" per event; the click and view branches
    * of the final self-join each take a COLUMN-PRUNED pass over it (two
    * narrow user-keyed window passes physically — Catalyst prunes each
    * branch to the one hop column it needs), then clicks join the view
    * rows on (user, matched view ts) to read the purchase hop — a narrow
    * co-partitioned equi join, NOT an (A,B,C) candidate explosion; the
    * naive triple self-join this replaces would materialize every
    * click×view×purchase triple in the horizon. Views collapse to one row
    * per (user, ts) first, so equal-ts view twins cannot fan clicks out.
    * Measured 3.86 s at 10M events / 10k users (ScaleProbe). */
  def threeStepPattern(events: DataFrame, withinSec: Long): DataFrame =
    kStepPattern(events, Seq("click", "view", "purchase"), withinSec)
      .withColumnRenamed("step1_us", "next_view_us")
      .withColumnRenamed("step2_us", "purchase_us")

  /** k-step sequence pattern — the [[threeStepPattern]] construction
    * generalized to any strictly-ordered chain of distinct event types
    * (MATCH_RECOGNIZE-class coverage for `A -> B -> ... -> Z` funnels):
    * one row per `steps(0)` event, with `step<i>_us` = the timestamp of
    * the first `steps(i)` event strictly after the matched `steps(i-1)`
    * event and within `withinSec` OF THAT EVENT (nulls from the first
    * stalled hop onward — a null join key never matches, so stalls
    * propagate through the remaining hops for free), plus a `completed`
    * flag when every hop matched.
    *
    * Shape: ONE shared window annotation computes "first step-i event
    * after me" for every hop type (same window spec ⇒ a single Window
    * node; Catalyst prunes each consumer branch to the one hop column it
    * needs, so physically k−1 narrow user-keyed window passes). Hop i
    * rows collapse to one per (user, ts) BEFORE joining — equal-ts twins
    * cannot fan the chain out — and each hop resolves with a narrow
    * co-partitioned equi-join on (user, matched ts). The naive k-way
    * self-join this replaces would materialize every candidate tuple in
    * the horizon (|A|·|B|·...·|Z| per user worst-case); this stays linear
    * in events per hop. */
  def kStepPattern(events: DataFrame, steps: Seq[String],
      withinSec: Long): DataFrame = {
    require(steps.size >= 2, "a pattern needs at least two steps")
    require(steps.distinct.size == steps.size,
      "repeated step types unsupported: next-step annotations key on type")
    val k = steps.size
    val horizonUs = withinSec * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(1L, horizonUs)
    val annotated = (1 until k).foldLeft(events) { (df, i) =>
      df.withColumn(s"__next_$i",
        min(when(col("event_type") === steps(i), col("ts_us"))).over(w))
    }
    val s0 = annotated.filter(col("event_type") === steps(0))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("__next_1").as("step1_us"))
    val folded = (1 until k - 1).foldLeft(s0) { (acc, i) =>
      val stage = annotated.filter(col("event_type") === steps(i))
        .groupBy(col("user_id").as(s"__u$i"), col("ts_us").as(s"__t$i"))
        .agg(min(col(s"__next_${i + 1}")).as(s"step${i + 1}_us"))
      acc.join(stage,
          col("user_id") === col(s"__u$i") &&
            col(s"step${i}_us") === col(s"__t$i"), "left")
        .drop(s"__u$i", s"__t$i")
    }
    folded.withColumn("completed",
      (1 until k).map(i => col(s"step${i}_us").isNotNull).reduce(_ && _))
  }

  /** RFM quartile scoring over an account-level metric frame
    * `(account_id, recency_days, frequency, monetary_kobo)` — the three
    * quartile CUT VALUES per metric come from
    * [[OrderStatistics.kthSmallest]] (iterative range-narrowing exact
    * selection — NO sort of any kind, no window, nothing single-task; the
    * distinct-value-histogram trick does not survive an all-distinct
    * metric like monetary, where the histogram IS the dimension and its
    * cumsum window is a single reducer again — measured at a 10M-account
    * dimension: selection 14.0 s vs histogram-window 28.2 s vs naive
    * global cume_dist 17.3 s, SCALING.md round-9) and then enter the
    * plan as LITERALS, so the scored frame is one map-side pass over the
    * (checkpointed) account dimension: no join, no shuffle, no sort.
    *
    * Cut rule: cut_k = the (⌊k·N/4⌋+1)-th smallest value — identical to
    * `min value with 4·cnt(≤v) > k·N`, i.e. bit-identical to
    * `cume_dist(value) > k/4` (ties share a count, so they can never
    * split a quartile); recency negates so fresher = a higher score
    * rides the same ascending machinery. */
  def rfmScores(t: DataFrame): DataFrame = {
    // count, selection passes and scoring scan read the fact aggregate
    // once (sf0.1, 4 cores: 0.56-0.62x the persist it replaced)
    val tp = t.localCheckpoint()
    val lf = tp.select(explode(map(
      lit("r"), -col("recency_days"), // fresher = higher
      lit("f"), col("frequency"),
      lit("m"), col("monetary_kobo"))).as(Seq("metric", "value")))
    val n = tp.count()
    require(n > 0, "rfmScores needs a non-empty account frame")
    val rks = (1 to 3).map(k => k * n / 4 + 1L)
    val cuts = OrderStatistics.kthSmallest(lf, "metric", "value",
      Map("r" -> rks, "f" -> rks, "m" -> rks))
    def score(v: org.apache.spark.sql.Column, g: String) =
      (lit(1) + (v >= lit(cuts((g, rks(0))))).cast("int") +
        (v >= lit(cuts((g, rks(1))))).cast("int") +
        (v >= lit(cuts((g, rks(2))))).cast("int")).cast("long")
    tp
      .withColumn("r_score", score(-col("recency_days"), "r"))
      .withColumn("f_score", score(col("frequency"), "f"))
      .withColumn("m_score", score(col("monetary_kobo"), "m"))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .select("account_id", "recency_days", "frequency", "monetary_kobo",
        "r_score", "f_score", "m_score", "segment")
  }

  /** Time-series gap filling: the per-account DAILY spend series with the
    * missing days zero-filled between each account's first and last active
    * day — the dense-grid prep every downstream model (forecasting,
    * anomaly scoring, feature windows) assumes, and exactly what a sparse
    * event log does not give you. `filled = true` marks manufactured rows.
    *
    * Money is integer kobo (round-at-source, summed as BIGINT) so the
    * grouped sums are order-independent and engine-exact; days are integer
    * epoch-day floors — no calendar arithmetic anywhere.
    *
    * Scale posture: the daily agg is the only fact-size shuffle (narrow
    * (account, day, kobo) rows, map-side combined). The span table is one
    * row per account; the grid explode fans each account to its OWN day
    * range (output is bounded by Σ per-account active spans — it never
    * materializes accounts × global-calendar). The fill join keys on
    * (account_id, day), co-partitioned with the agg that produced both
    * sides. Nothing global-sorts, nothing collects. */
  def gapFillDailySpend(completedDebits: DataFrame): DataFrame = {
    val daily = completedDebits
      .select(col("account_id"),
        expr("event_time_ms div 86400000").as("day"),
        expr("CAST(round(amount * 100) AS BIGINT)").as("kobo"))
      .groupBy("account_id", "day")
      .agg(sum(col("kobo")).as("spend_kobo"), count(lit(1)).as("n_txns"))
    val spans = daily.groupBy("account_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = spans.select(col("account_id"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(daily, Seq("account_id", "day"), "left")
      .select(col("account_id"), col("day"),
        coalesce(col("spend_kobo"), lit(0L)).as("spend_kobo"),
        coalesce(col("n_txns"), lit(0L)).as("n_txns"),
        col("n_txns").isNull.as("filled"))
  }

  /** Per-account spend TREND: the OLS slope of daily spend against the
    * calendar day, fit over the GAP-FILLED dense series
    * ([[gapFillDailySpend]] — zero days must pull the trend down, or a
    * winding-down account whose rare remaining days are large would
    * read as growth). The classic sufficient-statistics formulation:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — ONE
    * map-side-combined aggregation over the grid; no per-account
    * regression loop, no collect.
    *
    * Exactness: x = epoch day, y = kobo — all moments are exact
    * integer sums in DECIMAL(38,0) (n·Σxy reaches ~10²⁰ at a
    * 10-year span, past a long), and the slope is emitted as exact
    * integer MICRO-kobo/day via the sign-separated truncating division
    * discipline of [[timeWeightedBalance]] — no float anywhere, so
    * engines cannot disagree. Accounts need ≥ 2 days (a one-day span
    * has no slope). */
  def spendTrend(completedDebits: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    gapFillDailySpend(completedDebits)
      .groupBy("account_id")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("day").cast(dec)).as("__sx"),
        sum(col("spend_kobo").cast(dec)).as("__sy"),
        sum(col("day").cast(dec) * col("spend_kobo").cast(dec)).as("__sxy"),
        sum(col("day").cast(dec) * col("day").cast(dec)).as("__sxx"))
      .filter(col("n_days") >= 2)
      .withColumn("__num",
        col("n_days").cast(dec) * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__den",
        col("n_days").cast(dec) * col("__sxx") - col("__sx") * col("__sx"))
      .select(col("account_id"), col("n_days"),
        (when(col("__num") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("CAST((abs(__num) * 1000000) div __den AS BIGINT)"))
          .as("slope_micro_kobo_per_day"))
  }

  /** Platform-wide session concurrency, rolled up to a per-day maximum:
    * each session contributes a +1 boundary at its start and a −1 at its
    * end; the running sum of boundaries in (ts, delta) order IS the
    * concurrency curve, computed by [[PrefixScan.runningSum]] — the
    * distributed two-pass scan, NOT a global one-task window. Equal-ts
    * boundaries resolve ends before starts (delta −1 < +1), the half-open
    * session convention, and the reported value is the curve SAMPLED AT
    * BOUNDARY EVENTS (a day with no boundaries carries the previous
    * day's level and is absent — the standard event-sampled form; densify
    * with [[gapFillDailySpend]]'s grid trick if a dense calendar is
    * needed). Deterministic: equal (ts, delta) permutations emit the
    * same value multiset, so the day-max cannot depend on partitioning. */
  def sessionConcurrencyDaily(sessions: DataFrame): DataFrame = {
    val bounds = sessions
      .select(col("session_start_ms").as("ts_ms"), lit(1L).as("delta"))
      .unionAll(sessions
        .select(col("session_end_ms").as("ts_ms"), lit(-1L).as("delta")))
    PrefixScan.runningSum(bounds, "ts_ms", "delta")
      .groupBy(expr("ts_ms div 86400000").as("day"))
      .agg(max(col("running")).as("max_concurrent"),
        count(lit(1)).as("n_boundaries"))
  }

  /** Time-weighted average balance (TWAB) per account — the interval-
    * accounting number a bank actually bills interest on: each running
    * balance weighted by how long the account HELD it, over the account's
    * own [first, last] transaction span. Accounts with fewer than two
    * distinct-timestamp events have no holding interval and are omitted
    * (a 0-duration average is undefined, and emitting a convention would
    * just be a cross-engine disagreement trap).
    *
    * Exactness: signed integer kobo deltas, cumulative balances as exact
    * window sums ordered by (event_time_us, txn_id) — txn_id is unique so
    * RANGE-peers cannot differ between engines — and the numerator
    * Σ balance·Δt accumulates in DECIMAL(38,0) (kobo·micros products
    * reach ~10²² — far past a long, ~16 digits of headroom left at 38).
    * NO float anywhere: the average itself is emitted as exact integer
    * MICRO-kobo via sign-separated truncating division (truncation equals
    * floor on the non-negative magnitudes, so DuckDB's toward-zero `//`
    * and Spark's `div` cannot disagree on negative balances — and unlike
    * a HUGEINT→double cast, which DuckDB performs with a double-rounding
    * two-half conversion, integers cannot differ in the last ulp;
    * measured: 5 of 149 accounts flipped an ulp under the float form).
    *
    * Scale shape: one account-partitioned window pass (cumsum + lead in
    * the same Window node) and one map-side-combined aggregation — no
    * self-join, nothing global. */
  def timeWeightedBalance(completedTxns: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val signedKobo = when(Predicates.isDebit(col("txn_type")),
        -expr("CAST(round(amount * 100) AS BIGINT)"))
      .otherwise(expr("CAST(round(amount * 100) AS BIGINT)"))
    val w = Window.partitionBy(col("account_id"))
      .orderBy(col("event_time_us"), col("txn_id"))
    val b = completedTxns
      .select(col("account_id"), col("txn_id"), col("event_time_us"),
        signedKobo.as("delta_kobo"))
      .withColumn("bal_kobo", sum(col("delta_kobo")).over(w))
      .withColumn("next_us", lead(col("event_time_us"), 1).over(w))
      .filter(col("next_us").isNotNull)
    b.groupBy("account_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        (max(col("next_us")) - min(col("event_time_us"))).as("span_us"),
        sum(col("bal_kobo").cast(dec) *
          (col("next_us") - col("event_time_us")).cast(dec)).as("__num"))
      .filter(col("span_us") > 0)
      .select(col("account_id"), col("n_intervals"), col("span_us"),
        (when(col("__num") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("CAST((abs(__num) * 1000000) div CAST(span_us AS DECIMAL(38,0)) AS BIGINT)"))
          .as("twab_micro_kobo"))
  }

  /** Spend-anomaly capstone: days whose spend deviates ≥ `zThreshold`
    * standard deviations from the account's OWN mean, computed over the
    * GAP-FILLED series — the composition is the point: moments over the
    * sparse log would omit the zero days and overstate every account's
    * mean (a quiet account's single big day would look normal).
    *
    * Exactness follows [[graft.ops.Features.zscore]]: integer-kobo Σx/Σx²
    * in DECIMAL(38,0) (order-independent, ~10¹⁵-day headroom), one cast
    * to double, one fixed IEEE expression for mean/var/z — the oracle
    * reproduces the same bits, so the |z| ≥ threshold cut can never
    * disagree across engines.
    *
    * Scale shape: per-account moments are WHOLE-PARTITION window
    * aggregates (no orderBy ⇒ no sort) over the account-partitioned fill
    * output — one pass, single plan branch; an agg-then-join-back would
    * both re-execute the fill lineage and need a non-broadcastable
    * #accounts-row join side. */
  def spendAnomaly(completedDebits: DataFrame,
      zThreshold: Double = 2.0): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(col("account_id"))
    val scored = gapFillDailySpend(completedDebits)
      .withColumn("n_days", count(lit(1)).over(w))
      .withColumn("s1", sum(col("spend_kobo").cast(dec)).over(w))
      .withColumn("s2",
        sum(col("spend_kobo").cast(dec) * col("spend_kobo").cast(dec)).over(w))
      .withColumn("mean_kobo", col("s1") / col("n_days").cast("double"))
      .withColumn("var_kobo",
        (col("n_days").cast(dec) * col("s2") -
          col("s1").cast(dec) * col("s1").cast(dec)).cast("double") /
          (col("n_days") * col("n_days")).cast("double"))
      .withColumn("z", when(col("var_kobo") > 0,
          (col("spend_kobo") - col("mean_kobo")) / sqrt(col("var_kobo")))
        .otherwise(lit(0.0)))
    scored.filter(abs(col("z")) >= zThreshold)
      .select("account_id", "day", "spend_kobo", "filled", "n_days",
        "mean_kobo", "var_kobo", "z")
  }

  /** Exponentially-weighted recency score — the exact-integer EWMA
    * (α = 1/2) over each key's last `k` amounts: the j-th most recent
    * amount weighs 2^(k−1−j), so the newest weighs 2^(k−1) and the
    * weight halves per step back — the standard recency-biased spend /
    * activity score, but with NO float decay: weights are powers of two
    * applied with shifts, the normalizing division is one truncating
    * integer div, and the result is bit-identical across engines and
    * aggregation orders.
    *
    *   ewma_cents = ( Σ_{j<min(k,n)} amount_j × 2^(k−1−j) )
    *                div ( Σ_{j<min(k,n)} 2^(k−1−j) )
    *
    * Input: (key, ts, seq, amount_cents) — `seq` breaks ts ties so the
    * recency order is strictly total. Output per key: n_recent,
    * weight_sum, ewma_num, ewma_cents.
    *
    * Scale posture: the window partitions BY KEY (per-key history,
    * bounded by the entity's own activity — never a global sort) and
    * row_number prunes to k rows per key before anything aggregates;
    * the final groupBy combines map-side. Overflow: amounts up to
    * 7×10^13 cents are safe at k=8 (shift ≤ 2^7). */
  def ewmaRecency(df: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 32, s"k $k out of [1, 32]")
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts").desc, col("seq").desc)
    df.select(col("key"), col("ts"), col("seq"), col("amount_cents"))
      .withColumn("__j", row_number().over(w).cast("long") - 1)
      .filter(col("__j") < k)
      .withColumn("__w",
        expr(s"shiftleft(1L, CAST(${k - 1} - __j AS INT))"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_recent"),
        sum(col("__w")).as("weight_sum"),
        sum(col("amount_cents") * col("__w")).as("ewma_num"))
      .select(col("key"), col("n_recent"), col("weight_sum"),
        col("ewma_num"),
        expr("ewma_num div weight_sum").as("ewma_cents"))
  }

  /** [[ewmaRecency]] oracle. Needs `src(key, ts, seq, amount_cents)`. */
  def ewmaRecencyOracleSql(k: Int = 8): String =
    s"""rk AS (SELECT key, amount_cents,
       |    CAST(row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC)
       |      AS BIGINT) - 1 AS j
       |  FROM src)
       |SELECT key, CAST(count(*) AS BIGINT) AS n_recent,
       |  CAST(sum(1::BIGINT << ($k - 1 - j)) AS BIGINT) AS weight_sum,
       |  CAST(sum(amount_cents * (1::BIGINT << ($k - 1 - j))) AS BIGINT)
       |    AS ewma_num,
       |  CAST(sum(amount_cents * (1::BIGINT << ($k - 1 - j)))
       |    // sum(1::BIGINT << ($k - 1 - j)) AS BIGINT) AS ewma_cents
       |FROM rk WHERE j < $k GROUP BY 1""".stripMargin
}
