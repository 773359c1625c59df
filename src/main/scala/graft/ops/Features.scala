package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-preparation operators over transaction amounts (robust scaling
  * for model inputs / anomaly baselines).
  *
  * Scale posture: quantile cuts are computed on the DISTINCT-VALUE
  * HISTOGRAM, not the fact table — the only sort is over distinct
  * (group, value) pairs (bounded by value cardinality, tiny next to row
  * count), and the per-group cut table broadcasts back. The fact table
  * itself never sorts and shuffles only for the histogram aggregation
  * (map-side combined).
  */
object Features {

  /** Rank-exact winsorization: clip each currency's amounts at the
    * empirical p-quantile taken as an ORDER STATISTIC — the value whose
    * ascending rank is ceil(p·n) — over integer kobo. No interpolation,
    * so the cut is exact integer arithmetic and engine-exact (a float
    * interpolated percentile diverges in the last ulp between engines).
    *
    * The cut comes from the cumulative histogram: the smallest kobo whose
    * running count reaches ceil(p·n). Rows above the cut clip to it and
    * are flagged. */
  def winsorize(txns: DataFrame, p: Double = 0.99): DataFrame = {
    val t = txns.select(col("txn_id"), col("currency"),
      round(col("amount") * 100).cast("long").as("kobo"))
    val hist = t.groupBy("currency", "kobo").agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy(col("currency")).orderBy(col("kobo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("currency"))
    val cuts = hist
      .withColumn("__cum", sum(col("cnt")).over(cum))
      .withColumn("__n", sum(col("cnt")).over(tot))
      .filter(col("__cum") >= ceil(lit(p) * col("__n")))
      .groupBy("currency").agg(min(col("kobo")).as("cut_kobo"))
    t.join(broadcast(cuts), "currency")
      .select(col("txn_id"), col("currency"), col("kobo"), col("cut_kobo"),
        least(col("kobo"), col("cut_kobo")).as("kobo_winsorized"),
        (col("kobo") > col("cut_kobo")).as("is_clipped"))
  }

  /** Equal-width histogram of amounts per currency: `nBins` bins over the
    * group's [min, max] kobo range, bin = (x − min)·nBins div (span + 1)
    * — all integer arithmetic, so bin edges are engine-exact (a float
    * width accumulates ulp drift at the edges and can flip a boundary
    * value's bin between engines). The max value lands in bin nBins−1 by
    * construction. One min/max aggregation broadcast back + one
    * map-side-combined count — the classic two-pass distributed
    * histogram; no sort anywhere. */
  def amountHistogram(txns: DataFrame, nBins: Int = 10): DataFrame = {
    val t = txns.select(col("currency"),
      round(col("amount") * 100).cast("long").as("kobo"))
    val ext = t.groupBy("currency")
      .agg(min(col("kobo")).as("min_kobo"), max(col("kobo")).as("max_kobo"))
    t.join(broadcast(ext), "currency")
      .withColumn("bin", expr(
        s"((kobo - min_kobo) * $nBins) div (max_kobo - min_kobo + 1)"))
      .groupBy("currency", "bin", "min_kobo", "max_kobo")
      .agg(count(lit(1)).as("n_txns"))
      .select("currency", "bin", "n_txns", "min_kobo", "max_kobo")
  }

  /** The fraud feature matrix: every completed debit annotated with its
    * trailing-24h rolling spend, its per-currency z-score, and its
    * winsorization flag — the row a fraud model actually consumes,
    * composed from the individual operators IN ONE PIPELINE: a single
    * account-partitioned window pass over the fact table, then two
    * BROADCAST joins (the per-currency moment and cut tables are tiny by
    * construction). No fact-to-fact join anywhere — deriving each feature
    * independently and equi-joining on txn_id would sort-merge the fact
    * table against itself three times. */
  def fraudFeatures(txns: DataFrame, windowSec: Long = 86400L,
      p: Double = 0.99): DataFrame = {
    val dec = "decimal(38,0)"
    val t = txns.select(col("txn_id"), col("account_id"), col("currency"),
      col("event_time_us"), round(col("amount") * 100).cast("long").as("kobo"))
    val w = Window.partitionBy(col("account_id")).orderBy(col("event_time_us"))
      .rangeBetween(-windowSec * 1000000L, 0L)
    val moments = t.groupBy("currency").agg(
      count(lit(1)).as("n"), sum(col("kobo")).as("s1"),
      sum(col("kobo").cast(dec) * col("kobo").cast(dec)).as("s2"))
    val hist = t.groupBy("currency", "kobo").agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy(col("currency")).orderBy(col("kobo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("currency"))
    val cuts = hist
      .withColumn("__cum", sum(col("cnt")).over(cum))
      .withColumn("__n", sum(col("cnt")).over(tot))
      .filter(col("__cum") >= ceil(lit(p) * col("__n")))
      .groupBy("currency").agg(min(col("kobo")).as("cut_kobo"))
    t
      .withColumn("rolling_spend_kobo", sum(col("kobo")).over(w))
      .withColumn("rolling_n_txns", count(lit(1)).over(w))
      .join(broadcast(moments), "currency")
      .join(broadcast(cuts), "currency")
      .withColumn("z", when(
          (col("n").cast(dec) * col("s2") -
            col("s1").cast(dec) * col("s1").cast(dec)).cast("double") > 0,
          (col("kobo") - col("s1") / col("n").cast("double")) /
            sqrt((col("n").cast(dec) * col("s2") -
              col("s1").cast(dec) * col("s1").cast(dec)).cast("double") /
              (col("n") * col("n")).cast("double")))
        .otherwise(lit(0.0)))
      .select(col("txn_id"), col("account_id"), col("currency"), col("kobo"),
        col("rolling_spend_kobo"), col("rolling_n_txns"), col("z"),
        (col("kobo") > col("cut_kobo")).as("is_clipped"))
  }

  /** Exact per-currency percentiles as ORDER STATISTICS — p is taken as
    * the integer rational num/den and the percentile is the value at
    * ascending rank ceil(p·n) = (num·n + den − 1) div den, duplicates
    * counted: rank-exact, no interpolation, engine-exact (the same
    * definition as [[winsorize]]'s cut). Computed by
    * [[OrderStatistics.kthSmallest]] — iterative range-narrowing
    * selection, NO sort of any kind — so unlike `percentile_approx` the
    * answer is exact, and unlike a `row_number` window nothing
    * single-tasks. The result is model-sized (groups × percentiles) and
    * materializes via the driver as a literal frame — the
    * plan-constant-model pattern. */
  def exactPercentiles(txns: DataFrame,
      ps: Seq[(Int, Int)] = Seq((1, 2), (9, 10), (99, 100))): DataFrame = {
    val spark = txns.sparkSession
    import spark.implicits._
    val t = txns.select(col("currency"),
      round(col("amount") * 100).cast("long").as("kobo")).persist()
    val ns = t.groupBy("currency").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def rank(nu: Int, de: Int, n: Long): Long = (nu.toLong * n + de - 1) / de
    val targets = ns.map { case (c, n) =>
      c -> ps.map { case (nu, de) => rank(nu, de, n) }
    }
    val cuts = OrderStatistics.kthSmallest(t, "currency", "kobo", targets)
    t.unpersist()
    val rows = for ((c, n) <- ns.toSeq; (nu, de) <- ps) yield {
      val r = rank(nu, de, n)
      (c, nu.toDouble / de, r, cuts((c, r)))
    }
    rows.toDF("currency", "p", "rank", "kobo")
  }

  /** Robust outlier flagging via MEDIAN ABSOLUTE DEVIATION — the
    * heavy-tail-safe alternative to [[zscore]] (one whale transaction
    * drags a mean/σ gate; the median and MAD barely move). Two exact
    * order-statistic passes through [[OrderStatistics.kthSmallest]]
    * (lower median, rank (n+1) div 2): the group median of kobo, then
    * the median of |kobo − median|; both are integers, the medians
    * broadcast back as a literal-sized frame, and the outlier test
    * `|x − med| > k·MAD` is an integer compare — no float exists
    * anywhere in the operator, so engines cannot disagree.
    *
    * Scale shape: two selection passes (each ≤7 map-side bucket-count
    * scans, nothing sorts) + one broadcast join; the fact never
    * shuffles. A MAD of 0 (>half the group at one value) flags every
    * deviation, the textbook degenerate case — callers gate on
    * `mad_kobo > 0` if they want spread-only flagging. */
  def madOutliers(txns: DataFrame, k: Int = 3): DataFrame = {
    val spark = txns.sparkSession
    import spark.implicits._
    val t = txns.select(col("txn_id"), col("currency"),
      round(col("amount") * 100).cast("long").as("kobo")).persist()
    val ns = t.groupBy("currency").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val medRank = ns.map { case (c, n) => c -> (n + 1) / 2 }
    val med = OrderStatistics.kthSmallest(t, "currency", "kobo",
      medRank.map { case (c, r) => c -> Seq(r) })
    val medDf = medRank.toSeq
      .map { case (c, r) => (c, med((c, r))) }.toDF("currency", "med_kobo")
    val dev = t.join(broadcast(medDf), "currency")
      .withColumn("adev", abs(col("kobo") - col("med_kobo")))
    val mad = OrderStatistics.kthSmallest(dev, "currency", "adev",
      medRank.map { case (c, r) => c -> Seq(r) })
    val madDf = medRank.toSeq
      .map { case (c, r) => (c, mad((c, r))) }.toDF("currency", "mad_kobo")
    // the driver-side passes are done; the returned frame rescans
    t.unpersist()
    dev.join(broadcast(madDf), "currency")
      .select(col("txn_id"), col("currency"), col("kobo"),
        col("med_kobo"), col("mad_kobo"),
        (col("adev") > lit(k) * col("mad_kobo")).as("is_outlier"))
  }

  /** Per-group z-score standardization from EXACT INTEGER moments: the
    * group's Σx and Σx² accumulate as integer kobo (order-independent, so
    * engines and partitionings agree bit-for-bit), and the float work —
    * mean = Σx/n, population variance = (n·Σx² − (Σx)²)/n², z = (x −
    * mean)/σ — is one fixed-order IEEE expression per row evaluated from
    * those integers. A running float mean/M2 (Welford) would be
    * accumulation-order-dependent and non-reproducible across engines.
    *
    * One map-side-combined aggregation (3 sums per group), the tiny
    * per-group moment table broadcast back; single-valued groups (σ = 0)
    * emit z = 0 rather than NaN. Σx² and the variance numerator n·Σx² −
    * (Σx)² accumulate in DECIMAL(38,0) — a long overflows the numerator
    * past ~10M rows per group (caught by the 10M ScaleProbe under ANSI
    * mode) while 38 digits carry ~10¹⁵ rows; the decimal is exact, so
    * its one cast to double rounds the same value to the same bits as
    * the oracle's HUGEINT→double conversion. */
  def zscore(txns: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val t = txns.select(col("txn_id"), col("currency"),
      round(col("amount") * 100).cast("long").as("kobo"))
    val moments = t.groupBy("currency").agg(
      count(lit(1)).as("n"),
      sum(col("kobo")).as("s1"),
      sum(col("kobo").cast(dec) * col("kobo").cast(dec)).as("s2"))
    t.join(broadcast(moments), "currency")
      .withColumn("mean_kobo", col("s1") / col("n").cast("double"))
      .withColumn("var_kobo",
        (col("n").cast(dec) * col("s2") -
          col("s1").cast(dec) * col("s1").cast(dec)).cast("double") /
          (col("n") * col("n")).cast("double"))
      .withColumn("z", when(col("var_kobo") > 0,
          (col("kobo") - col("mean_kobo")) / sqrt(col("var_kobo")))
        .otherwise(lit(0.0)))
      .select("txn_id", "currency", "kobo", "mean_kobo", "var_kobo", "z")
  }

  /** Equi-depth histogram — B buckets of (approximately) equal ROW
    * count per group, the selectivity-estimation / data-distribution
    * summary an optimizer or drift monitor wants (equi-WIDTH histograms
    * lie about skewed data; equi-depth edges ARE the distribution).
    *
    * Exact construction: bucket edges are the values at ranks
    * ceil(i·n/B), i = 1..B−1, found by [[OrderStatistics.kthSmallest]]
    * (range-narrowing selection — NO sort anywhere); a row's bucket is
    * |{i : v > edge_i}| — count of edges strictly below it — so ties
    * collapse deterministically into the lowest admissible bucket and
    * the whole histogram is engine-exact integer arithmetic. Duplicate
    * rank targets (n < B) keep their multiplicity in the edge list:
    * the oracle replays the same i = 1..B−1 walk.
    *
    * Scale shape: one count aggregation, one selection pass (≤7
    * map-side scans), then ONE scan assigning buckets against the
    * broadcast edge array (a ≤B-element scan-stage array fold) + one
    * map-side-combined count. The fact never sorts, never self-joins.
    * Driver state: groups × B longs (plan-constant pattern). */
  def equiDepthHistogram(df: DataFrame, nBuckets: Int = 8): DataFrame = {
    val t = df.select(col("grp"), col("v")).persist()
    val out = t
      .join(broadcast(equiDepthEdges(t, nBuckets)), "grp")
      .withColumn("bucket",
        expr("size(filter(__edges, e -> v > e))").cast("long"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("cnt"))
    t.unpersist()
    out
  }

  /** The exact equi-depth bucket EDGES of `df(grp, v)` as a
    * (grp, __edges ARRAY<LONG>) frame — ranks ceil(i·n/B), i = 1..B−1,
    * duplicates kept; shared by [[equiDepthHistogram]] and the drift
    * monitors that bucket a LATER snapshot by a reference snapshot's
    * edges ([[psiDrift]]). */
  def equiDepthEdges(df: DataFrame, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1024,
      s"nBuckets $nBuckets out of [2, 1024]")
    // r14 (guide §1.2/§5): the edges now come from ONE distinct-value
    // histogram + cumulative window, with the B−1 rank targets matched
    // in-row — replacing the driver-coordinated range-narrowing
    // selection (kthSmallest: ~7 sequential scan jobs per call, plus a
    // driver-side group→count collect and cut map). The rank-t order
    // statistic is the unique histogram row whose cumulative count
    // first reaches t (cum ≥ t ∧ cum − cnt < t), so the edge VALUES are
    // bit-identical; duplicates across targets are kept, as before.
    // The only sort is over distinct (grp, v) pairs — the same
    // cardinality-bounded posture as [[winsorize]] — and no driver
    // state remains at all. kthSmallest stays the right tool for the
    // FEW-targets-over-huge-cardinality queries (exact percentiles,
    // RFM cuts); here every group needs B−1 ranks and the histogram
    // pass amortizes them all at once.
    //
    // r15: the target match is ARITHMETIC, not a ×(B−1) explode+filter.
    // Row (cum, cnt) serves target t_i = (i·n + B−1) div B exactly when
    // t_i ∈ (cum−cnt, cum]; since t_i is nondecreasing in i, the served
    // i form the contiguous range
    //   i ∈ [ (cum−cnt)·B div n + 1 ,  min(cum·B div n, B−1) ]
    // (t_i ≤ cum ⟺ i·n ≤ cum·B; t_i > cum−cnt ⟺ i·n ≥ (cum−cnt)·B + 1
    // ⟺ i ≥ (cum−cnt)·B div n + 1 — all truncating long division), so
    // sequence() generates ONLY the matching (i, v) rows: the same
    // multiset the explode+filter produced, without materializing B−1
    // candidates per distinct value first. i_lo ≥ 1 always; an empty
    // range yields no row (sequence guarded by the filter).
    val hist = df.select(col("grp"), col("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("__cnt"))
    val cum = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("grp"))
    hist
      .withColumn("__cum", sum(col("__cnt")).over(cum))
      .withColumn("__n", sum(col("__cnt")).over(tot))
      .withColumn("__ilo",
        expr(s"(__cum - __cnt) * ${nBuckets} div __n + 1L"))
      .withColumn("__ihi",
        expr(s"least(__cum * ${nBuckets} div __n, ${nBuckets - 1}L)"))
      .filter(col("__ihi") >= col("__ilo"))
      .select(col("grp"), col("v"),
        explode(expr("sequence(__ilo, __ihi)")).as("__i"))
      .groupBy("grp")
      .agg(expr("transform(array_sort(collect_list(named_struct(" +
        "'i', __i, 'v', v))), s -> s.v)").as("__edges"))
  }

  /** [[equiDepthHistogram]] oracle. Needs `src(grp, v)` in scope. */
  def equiDepthOracleSql(nBuckets: Int = 8): String =
    s"""nn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1),
       |rk AS (SELECT grp, v,
       |    row_number() OVER (PARTITION BY grp ORDER BY v) AS rn FROM src),
       |ed AS (SELECT nn.grp, ii.i, rk.v AS edge
       |       FROM nn CROSS JOIN (SELECT unnest(range(1, $nBuckets)) AS i) ii
       |       JOIN rk ON rk.grp = nn.grp
       |              AND rk.rn = (ii.i * nn.n + $nBuckets - 1) // $nBuckets),
       |vals AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt
       |         FROM src GROUP BY 1, 2),
       |bkt AS (SELECT vals.grp, vals.v, vals.cnt,
       |    CAST(coalesce(sum(CASE WHEN vals.v > ed.edge THEN 1 END), 0)
       |      AS BIGINT) AS bucket
       |  FROM vals LEFT JOIN ed ON ed.grp = vals.grp
       |  GROUP BY 1, 2, 3)
       |SELECT grp, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
       |FROM bkt GROUP BY 1, 2""".stripMargin

  /** Population-stability-index drift between two snapshots — THE
    * feature-drift monitor (the credit-scoring PSI, standard in ML
    * observability): bucket BOTH snapshots by the REFERENCE snapshot's
    * exact equi-depth edges, add-one smooth, and score each bucket
    *
    *   term = (p_ref − p_cur) · ln(p_ref / p_cur)
    *
    * truncated to INTEGER micro-nats per bucket before any sum (the
    * corpus-LM discipline: one double-typed scalar expression per row,
    * identical in the oracle — floor kills cross-engine drift). PSI =
    * Σ term_micro; the usual gates read ~0.1 → 100_000 micro-nats.
    * Smoothing keeps empty buckets finite; all B buckets emit for every
    * REFERENCE group (the reference defines the population — current
    * rows in groups unseen at reference time don't score; monitor group
    * churn with [[graft.cdc.SnapshotDiff]] instead).
    *
    * Scale shape: one selection pass on the reference for edges, one
    * bucket-assigning scan per snapshot (broadcast edge arrays), two
    * map-side-combined counts, then grid-sized joins — the snapshots
    * never join each other row-wise. */
  def psiDrift(ref: DataFrame, cur: DataFrame, nBuckets: Int = 8)
      : DataFrame = {
    val edges = broadcast(equiDepthEdges(ref, nBuckets))
    def bucketCounts(df: DataFrame, cname: String): DataFrame =
      df.select(col("grp"), col("v"))
        .join(edges, "grp")
        .withColumn("bucket",
          expr("size(filter(__edges, e -> v > e))").cast("long"))
        .groupBy("grp", "bucket").agg(count(lit(1)).as(cname))
    def totals(df: DataFrame, cname: String): DataFrame =
      df.groupBy("grp").agg(count(lit(1)).as(cname))
    val grid = edges.select(col("grp"),
      explode(expr(s"sequence(0L, ${nBuckets - 1}L)")).as("bucket"))
    val b = nBuckets.toLong
    grid
      .join(broadcast(bucketCounts(ref, "__ca")), Seq("grp", "bucket"), "left")
      .join(broadcast(bucketCounts(cur, "__cb")), Seq("grp", "bucket"), "left")
      .join(broadcast(totals(ref, "__na")), Seq("grp"), "left")
      .join(broadcast(totals(cur, "__nb")), Seq("grp"), "left")
      .withColumn("cnt_ref", coalesce(col("__ca"), lit(0L)))
      .withColumn("cnt_cur", coalesce(col("__cb"), lit(0L)))
      .withColumn("__tna", coalesce(col("__na"), lit(0L)) + b)
      .withColumn("__tnb", coalesce(col("__nb"), lit(0L)) + b)
      .select(col("grp"), col("bucket"), col("cnt_ref"), col("cnt_cur"),
        floor((
          (col("cnt_ref") + 1) / col("__tna").cast("double") -
            (col("cnt_cur") + 1) / col("__tnb").cast("double")) *
          log(((col("cnt_ref") + 1) * col("__tnb")) /
            ((col("cnt_cur") + 1) * col("__tna")).cast("double")) *
          1e6).cast("long").as("term_micro"))
  }

  /** [[psiDrift]] oracle. Needs `refsrc(grp, v)` and `cursrc(grp, v)`
    * in scope. */
  def psiOracleSql(nBuckets: Int = 8): String = {
    val b = nBuckets
    def bucketCte(src: String, tag: String): String =
      s"""v$tag AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM $src GROUP BY 1, 2),
         |b$tag AS (SELECT v$tag.grp, v$tag.v, v$tag.cnt,
         |    CAST(coalesce(sum(CASE WHEN v$tag.v > ed.edge THEN 1 END), 0)
         |      AS BIGINT) AS bucket
         |  FROM v$tag LEFT JOIN ed ON ed.grp = v$tag.grp GROUP BY 1, 2, 3),
         |c$tag AS (SELECT grp, bucket, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM b$tag GROUP BY 1, 2),
         |n$tag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
         |  FROM $src GROUP BY 1)""".stripMargin
    s"""nn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM refsrc GROUP BY 1),
       |rk AS (SELECT grp, v,
       |    row_number() OVER (PARTITION BY grp ORDER BY v) AS rn FROM refsrc),
       |ed AS MATERIALIZED (SELECT nn.grp, ii.i, rk.v AS edge
       |       FROM nn CROSS JOIN (SELECT unnest(range(1, $b)) AS i) ii
       |       JOIN rk ON rk.grp = nn.grp
       |              AND rk.rn = (ii.i * nn.n + $b - 1) // $b),
       |${bucketCte("refsrc", "ref")},
       |${bucketCte("cursrc", "cur")},
       |grid AS (SELECT nn.grp, CAST(ii.b AS BIGINT) AS bucket
       |  FROM nn CROSS JOIN (SELECT unnest(range(0, $b)) AS b) ii)
       |SELECT grid.grp, grid.bucket,
       |  CAST(coalesce(cref.c, 0) AS BIGINT) AS cnt_ref,
       |  CAST(coalesce(ccur.c, 0) AS BIGINT) AS cnt_cur,
       |  CAST(floor((
       |      (coalesce(cref.c, 0) + 1)
       |        / CAST(coalesce(nref.n, 0) + $b AS DOUBLE)
       |      - (coalesce(ccur.c, 0) + 1)
       |        / CAST(coalesce(ncur.n, 0) + $b AS DOUBLE))
       |    * ln(((coalesce(cref.c, 0) + 1) * (coalesce(ncur.n, 0) + $b))
       |      / CAST((coalesce(ccur.c, 0) + 1)
       |             * (coalesce(nref.n, 0) + $b) AS DOUBLE))
       |    * 1e6) AS BIGINT) AS term_micro
       |FROM grid
       |LEFT JOIN cref ON cref.grp = grid.grp AND cref.bucket = grid.bucket
       |LEFT JOIN ccur ON ccur.grp = grid.grp AND ccur.bucket = grid.bucket
       |LEFT JOIN nref ON nref.grp = grid.grp
       |LEFT JOIN ncur ON ncur.grp = grid.grp""".stripMargin
  }
}
