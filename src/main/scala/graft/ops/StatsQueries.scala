package graft
package ops

import org.apache.spark.sql.functions._

import graft.QueryShared.{completed, P, SqlHash}
import graft.functions.GraftFunctions

/** Order statistics, sketches, outlier gates, distribution tests,
  * profiling and privacy audits (the `stats` family). */
object StatsQueries {

  /** The lineitem columns `q_profile` profiles, with their testdata
    * dtypes — pinned here so the Spark query (select order) and the
    * generated DuckDB oracle walk the SAME schema. `Tables.schemaProbe`
    * fails loud on corpus drift before this could silently diverge. */
  private val ProfileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("l_orderkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("l_partkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("l_suppkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("l_linenumber",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("l_quantity",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("l_extendedprice",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("l_discount",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("l_tax",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("l_returnflag",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("l_linestatus",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("l_shipdate",
      org.apache.spark.sql.types.TimestampNTZType)))

  private val ProfileCols: Seq[String] = ProfileSchema.fields.map(_.name).toSeq

  def queries: Seq[GraftQuery] = Seq(
    // Rank-exact winsorization at the p99 order statistic per currency —
    // the cut comes from the cumulative DISTINCT-VALUE histogram (only
    // distinct (currency, kobo) pairs sort; the fact table never does)
    GraftQuery("q_winsorize", (s, dir) =>
      graft.ops.Features.winsorize(completed(s, dir)),
      P +
      """, t AS (SELECT txn_id, currency, CAST(round(amount * 100) AS BIGINT) AS kobo
        |        FROM completed),
        |h AS (SELECT currency, kobo, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
        |rc AS (SELECT *,
        |         sum(cnt) OVER (PARTITION BY currency ORDER BY kobo
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER (PARTITION BY currency) AS n
        |       FROM h),
        |c AS (SELECT currency, min(kobo) AS cut_kobo FROM rc
        |      WHERE cum >= ceil(0.99 * n) GROUP BY 1)
        |SELECT txn_id, t.currency, kobo, cut_kobo,
        |  least(kobo, cut_kobo) AS kobo_winsorized,
        |  kobo > cut_kobo AS is_clipped
        |FROM t JOIN c USING (currency)""".stripMargin),

    // Exact per-currency p50/p90/p99 as order statistics (rank
    // ceil(p*n), duplicates counted) via range-narrowing selection —
    // exact unlike percentile_approx, sort-free unlike a row_number
    // window; the oracle replays the ranks with a per-group row_number
    GraftQuery("q_exact_percentiles", (s, dir) =>
      graft.ops.Features.exactPercentiles(completed(s, dir)),
      P +
      """, t AS (SELECT currency, CAST(round(amount * 100) AS BIGINT) AS kobo
        |        FROM completed),
        |n AS (SELECT currency, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |r AS (SELECT currency, kobo,
        |        row_number() OVER (PARTITION BY currency ORDER BY kobo) AS rk
        |      FROM t),
        |tgt AS (SELECT currency, CAST(num AS DOUBLE) / den AS p,
        |          (num * cnt + den - 1) // den AS rank
        |        FROM n CROSS JOIN (VALUES (1, 2), (9, 10), (99, 100)) v(num, den))
        |SELECT g.currency, g.p, CAST(g.rank AS BIGINT) AS rank, r.kobo
        |FROM tgt g JOIN r ON g.currency = r.currency AND r.rk = g.rank""".stripMargin),

    // Approximate percentiles from ONE bottom-k priority-sample pass
    // (graft_qsample, a native TypedImperativeAggregate: map-side
    // partials, the shuffle moves <= 16k bytes per group-partition) —
    // the single-pass bounded-state counterpart of q_exact_percentiles;
    // sample membership = k smallest xxhash64(txn_id), replayed exactly
    // by the oracle
    GraftQuery("q_approx_percentiles", (s, dir) =>
      graft.ops.Sketches.approxPercentiles(
        completed(s, dir)
          .withColumn("kobo", round(col("amount") * 100).cast("long")),
        "currency", expr("xxhash64(txn_id)"), col("kobo"), k = 64),
      // bottom-64-by-xxhash64(txn_id) sample per currency, then the
      // sample's own ceil-rank order statistics — the hash ranking, the
      // min-on-collision dedup, and the rank arithmetic all replayed
      {
        val (steps, hCol) = SqlHash.xxh64LongSteps("txn_id::HUGEINT", "42", "__qp")
        val inner = SqlHash.applySteps(
          "SELECT currency, txn_id, kobo FROM t", steps)
        P +
          s""", t AS (SELECT currency, txn_id, CAST(round(amount * 100) AS BIGINT) AS kobo
             |        FROM completed),
             |hh AS (SELECT currency, kobo, ${SqlHash.toSigned(hCol)} AS h FROM ($inner)),
             |mm AS (SELECT currency, h, min(kobo) AS v FROM hh GROUP BY 1, 2),
             |rr AS (SELECT currency, h, v,
             |         row_number() OVER (PARTITION BY currency ORDER BY h) AS rk
             |       FROM mm),
             |ss AS (SELECT currency, v FROM rr WHERE rk <= 64),
             |nn AS (SELECT currency, CAST(count(*) AS BIGINT) AS n_rows FROM t GROUP BY 1),
             |ms AS (SELECT currency, CAST(count(*) AS BIGINT) AS m FROM ss GROUP BY 1),
             |vr AS (SELECT currency, v,
             |         row_number() OVER (PARTITION BY currency ORDER BY v) AS vrk
             |       FROM ss)
             |SELECT nn.currency, nn.n_rows, ms.m AS n_sample,
             |  (SELECT v FROM vr WHERE vr.currency = nn.currency
             |     AND vr.vrk = greatest(1, (1 * ms.m + 1) // 2)) AS p1_2,
             |  (SELECT v FROM vr WHERE vr.currency = nn.currency
             |     AND vr.vrk = greatest(1, (9 * ms.m + 9) // 10)) AS p9_10,
             |  (SELECT v FROM vr WHERE vr.currency = nn.currency
             |     AND vr.vrk = greatest(1, (99 * ms.m + 99) // 100)) AS p99_100
             |FROM nn JOIN ms USING (currency)""".stripMargin
      }),

    // Robust outliers: |x - median| > 3*MAD, both medians exact order
    // statistics (two selection passes, broadcast back) — heavy-tail-safe
    // where the z-score gate is whale-dragged; all-integer, no float
    GraftQuery("q_mad_outliers", (s, dir) =>
      graft.ops.Features.madOutliers(completed(s, dir)),
      P +
      """, t AS (SELECT txn_id, currency, CAST(round(amount * 100) AS BIGINT) AS kobo
        |        FROM completed),
        |n AS (SELECT currency, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |r1 AS (SELECT currency, kobo,
        |         row_number() OVER (PARTITION BY currency ORDER BY kobo) AS rk
        |       FROM t),
        |med AS (SELECT r1.currency, kobo AS med_kobo
        |        FROM r1 JOIN n USING (currency) WHERE rk = (cnt + 1) // 2),
        |d AS (SELECT t.txn_id, t.currency, t.kobo, med_kobo,
        |        abs(t.kobo - med_kobo) AS adev
        |      FROM t JOIN med USING (currency)),
        |r2 AS (SELECT currency, adev,
        |         row_number() OVER (PARTITION BY currency ORDER BY adev) AS rk
        |       FROM d),
        |mad AS (SELECT r2.currency, adev AS mad_kobo
        |        FROM r2 JOIN n USING (currency) WHERE rk = (cnt + 1) // 2)
        |SELECT txn_id, d.currency, kobo, med_kobo, mad_kobo,
        |  adev > 3 * mad_kobo AS is_outlier
        |FROM d JOIN mad USING (currency)""".stripMargin),

    // Per-currency z-scores from exact integer moments (Σx, Σx² in kobo;
    // the float mean/σ/z are one fixed-order IEEE expression per row)
    GraftQuery("q_zscore", (s, dir) =>
      graft.ops.Features.zscore(completed(s, dir)),
      P +
      """, t AS (SELECT txn_id, currency, CAST(round(amount * 100) AS BIGINT) AS kobo
        |        FROM completed),
        |-- s1/s2 and the variance numerator stay in HUGEINT (the Spark side
        |-- uses DECIMAL(38,0)): both are exact, so the single cast to
        |-- DOUBLE rounds the same value to the same bits
        |m AS (SELECT currency, CAST(count(*) AS BIGINT) AS n,
        |        sum(kobo) AS s1,
        |        sum(kobo * kobo) AS s2
        |      FROM t GROUP BY 1)
        |SELECT txn_id, t.currency, kobo,
        |  s1 / CAST(n AS DOUBLE) AS mean_kobo,
        |  (n * s2 - s1 * s1) / CAST(n * n AS DOUBLE) AS var_kobo,
        |  CASE WHEN (n * s2 - s1 * s1) / CAST(n * n AS DOUBLE) > 0
        |       THEN (kobo - s1 / CAST(n AS DOUBLE))
        |            / sqrt((n * s2 - s1 * s1) / CAST(n * n AS DOUBLE))
        |       ELSE 0.0 END AS z
        |FROM t JOIN m USING (currency)""".stripMargin),

    // Equal-width amount histogram per currency (integer-exact bin edges;
    // two map-side-combined aggs + a broadcast, no sort)
    GraftQuery("q_amount_histogram", (s, dir) =>
      graft.ops.Features.amountHistogram(completed(s, dir)),
      P +
      """, t AS (SELECT currency, CAST(round(amount * 100) AS BIGINT) AS kobo
        |        FROM completed),
        |ext AS (SELECT currency, min(kobo) AS min_kobo, max(kobo) AS max_kobo
        |        FROM t GROUP BY 1)
        |SELECT t.currency,
        |  ((kobo - min_kobo) * 10) // (max_kobo - min_kobo + 1) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_txns, min_kobo, max_kobo
        |FROM t JOIN ext USING (currency)
        |GROUP BY 1, 2, min_kobo, max_kobo""".stripMargin),

    // PSI drift of order totals between the 1996 reference and the 1997+
    // current snapshot, per priority: buckets from the REFERENCE's exact
    // equi-depth edges, per-bucket micro-nat terms (floor before sum) —
    // the ML-observability feature-drift monitor
    GraftQuery("q_psi_drift", (s, dir) => {
      val cents =
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderpriority").as("grp"), cents.as("v"),
          col("o_orderdate"))
      graft.ops.Features.psiDrift(
        o.filter(col("o_orderdate") < lit("1997-01-01")).select("grp", "v"),
        o.filter(col("o_orderdate") >= lit("1997-01-01")).select("grp", "v"),
        nBuckets = 8)
    },
      """WITH oo AS (SELECT o_orderpriority AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    o_orderdate AS d
         |  FROM orders),
         |refsrc AS (SELECT grp, v FROM oo WHERE d < TIMESTAMP '1997-01-01'),
         |cursrc AS (SELECT grp, v FROM oo WHERE d >= TIMESTAMP '1997-01-01'),
         |""".stripMargin + graft.ops.Features.psiOracleSql(nBuckets = 8)),

    // Equi-depth histogram of order totals (cents) per priority: 8
    // equal-count buckets with EXACT edges from range-narrowing
    // selection (no sort); one scan assigns buckets against the
    // broadcast edge arrays
    GraftQuery("q_equidepth_hist", (s, dir) =>
      graft.ops.Features.equiDepthHistogram(
        Tables.table(s, dir, "orders").select(
          col("o_orderpriority").as("grp"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("v")),
        nBuckets = 8),
      """WITH src AS (SELECT o_orderpriority AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM orders),
         |""".stripMargin +
        graft.ops.Features.equiDepthOracleSql(nBuckets = 8)),

    // Benford first-digit conformance of order totals (cents): the
    // forensic data-quality screen; one scan, one 9-group count, the
    // irrational expectations frozen as shared micro-integer literals
    GraftQuery("q_benford", (s, dir) =>
      graft.ops.Benford.firstDigit(
        Tables.table(s, dir, "orders"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")),
      """WITH src AS (SELECT
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM orders),
         |""".stripMargin + graft.ops.Benford.oracleSql),

    // Chi-square cross-tab of market segment x order priority: per
    // cell, observed vs independence-expected counts and the exact
    // integer chi-square contribution (cross-multiplied, DECIMAL(38,0)
    // widened). One fact aggregation; marginals from the cells
    GraftQuery("q_chi_square", (s, dir) =>
      graft.ops.Contingency.chiSquare(
        Tables.table(s, dir, "orders")
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("row_key"),
            col("o_orderpriority").as("col_key"))),
      """WITH src AS (SELECT c_mktsegment AS row_key,
         |    o_orderpriority AS col_key
         |  FROM orders JOIN customer ON o_custkey = c_custkey),
         |""".stripMargin + graft.ops.Contingency.oracleSql),

    // RFM customer segmentation (recency / frequency / monetary quartile
    // scores, 4 = best): one account-level agg, then the nine quartile
    // CUT VALUES come from exact range-narrowing selection
    // (EventAnalytics.rfmScores / OrderStatistics.kthSmallest — nothing
    // sorts, nothing single-tasks; the previous three global cume_dist
    // windows were the repo's one single-reducer plan, and the histogram
    // form degrades on all-distinct monetary) and enter the plan as
    // LITERALS. Cut semantics are exactly cume_dist's: cut_k = the
    // (⌊kN/4⌋+1)-th smallest = min value with 4·cnt(<=v) > k·N — ties
    // share a count, so they can never split a quartile; recency negates
    // so "fresher = higher" rides the same ascending machinery.
    GraftQuery("q_rfm_segments", (s, dir) => {
      val nowMs = 1706659200000L // 2024-02-01: just past the corpus window
      graft.ops.EventAnalytics.rfmScores(
        completed(s, dir).groupBy("account_id").agg(
          expr(s"CAST(($nowMs - max(event_time_ms)) div 86400000 AS BIGINT)")
            .as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(expr("CAST(round(amount * 100) AS BIGINT)")).as("monetary_kobo")))
    },
      P +
      """, t AS (
        |  SELECT account_id,
        |    CAST((1706659200000 - max(event_time_ms)) // 86400000 AS BIGINT) AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT) AS monetary_kobo
        |  FROM completed GROUP BY 1
        |), sc AS (
        |  SELECT *,
        |    cume_dist() OVER (ORDER BY recency_days DESC) AS cd_r,
        |    cume_dist() OVER (ORDER BY frequency) AS cd_f,
        |    cume_dist() OVER (ORDER BY monetary_kobo) AS cd_m
        |  FROM t
        |)
        |SELECT account_id, recency_days, frequency, monetary_kobo,
        |  CAST(1 + (cd_r > 0.25)::INT + (cd_r > 0.5)::INT + (cd_r > 0.75)::INT AS BIGINT) AS r_score,
        |  CAST(1 + (cd_f > 0.25)::INT + (cd_f > 0.5)::INT + (cd_f > 0.75)::INT AS BIGINT) AS f_score,
        |  CAST(1 + (cd_m > 0.25)::INT + (cd_m > 0.5)::INT + (cd_m > 0.75)::INT AS BIGINT) AS m_score,
        |  CAST(1 + (cd_r > 0.25)::INT + (cd_r > 0.5)::INT + (cd_r > 0.75)::INT AS BIGINT) * 100
        |    + CAST(1 + (cd_f > 0.25)::INT + (cd_f > 0.5)::INT + (cd_f > 0.75)::INT AS BIGINT) * 10
        |    + CAST(1 + (cd_m > 0.25)::INT + (cd_m > 0.5)::INT + (cd_m > 0.75)::INT AS BIGINT) AS segment
        |FROM sc""".stripMargin),

    // Z-order clustering key: Morton interleave of the two quantized
    // filter dimensions — the published lakehouse Z-ORDER layout trick.
    // Bounds come from ONE broadcast min/max scalar; quantization is
    // integer-exact; the interleave runs as the codegen'd graft_zorder
    // kernel in the scan stage. ZOrderSpec measures the actual skipping
    // win (per-file min/max envelopes vs a box predicate)
    GraftQuery("q_zorder_curve", (s, dir) => {
      GraftFunctions.register(s)
      graft.sources.ZOrderLayout.withZValue(
        Tables.table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey")
    },
      """WITH b AS (SELECT min(l_partkey) AS xmin, max(l_partkey) AS xmax,
        |                  min(l_suppkey) AS ymin, max(l_suppkey) AS ymax
        |           FROM lineitem),
        |q AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |        ((l_partkey - xmin) * 65536) // (xmax - xmin + 1) AS qx,
        |        ((l_suppkey - ymin) * 65536) // (ymax - ymin + 1) AS qy
        |      FROM lineitem, b)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    (((qx >> i) & 1) << (2*i)) + (((qy >> i) & 1) << (2*i+1)))) AS BIGINT) AS zval
        |FROM q""".stripMargin),

    // Privacy audit: k-anonymity group sizes over the (nation, segment,
    // balance-band) quasi-identifier — one hash agg, QI-domain output
    GraftQuery("q_k_anonymity", (s, dir) =>
      graft.ops.Privacy.kAnonymity(Tables.customer(s, dir)),
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  c_mktsegment AS mktsegment,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
        |  CAST(count(*) AS BIGINT) AS group_n,
        |  count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2, 3""".stripMargin),

    // Privacy audit: distinct l-diversity over the same QI tuple —
    // groups whose sensitive attribute (exact balance) takes < l
    // distinct values leak even when k-anonymous; one two-level
    // map-side-combined distinct agg, QI-domain-bounded output
    GraftQuery("q_l_diversity", (s, dir) =>
      graft.ops.Privacy.lDiversity(Tables.customer(s, dir)),
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  c_mktsegment AS mktsegment,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
        |  CAST(count(*) AS BIGINT) AS group_n,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT c_acctbal) < 3 AS at_risk
        |FROM customer GROUP BY 1, 2, 3""".stripMargin),

    // One-pass table profiler (ANALYZE shape): per column, rows / nulls /
    // exact distinct / engine-stable min-max representations from a
    // single aggregation over lineitem; the oracle is GENERATED from the
    // same schema walk (Profile.oracleSql) so they cannot drift
    GraftQuery("q_profile", (s, dir) => graft.ops.Profile.profile(
      Tables.table(s, dir, "lineitem").select(ProfileCols.map(col): _*)),
      graft.ops.Profile.oracleSql(ProfileSchema, "lineitem")),

    // Analytic statistics per group: exact median (sort-based), mean,
    // sample stddev — rounded coarsely enough (4 dp) that the engines'
    // different accumulation orders cannot flip a digit
    GraftQuery("q_stats_summary", (s, dir) =>
      completed(s, dir)
        .groupBy("txn_type")
        .agg(
          round(median(col("amount")), 4).as("med_amount"),
          round(avg(col("amount")), 4).as("avg_amount"),
          round(stddev_samp(col("amount")), 4).as("std_amount"),
          count(lit(1)).as("n_txns")),
      P +
      """SELECT txn_type,
        |  round(median(amount), 4) AS med_amount,
        |  round(avg(amount), 4) AS avg_amount,
        |  round(stddev_samp(amount), 4) AS std_amount,
        |  CAST(count(*) AS BIGINT) AS n_txns
        |FROM completed GROUP BY 1""".stripMargin),
  )
}
