package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frequency sketching: exact per-group heavy hitters and mergeable
  * per-group sketches (KMV distinct counts, quantile samples) — extension
  * surface; the approximate operators pair with exact ones the same way
  * approx_count_distinct pairs with countDistinct in `q_distinct_users`.
  *
  * Scale posture: the exact path is one partial-aggregating count shuffle
  * (narrow (group, id, count) rows) + a per-group top-k window —
  * partitioned by the group key, never global. The sketch paths reduce a
  * whole partition's stream to one fixed-size buffer map-side, so the
  * shuffle moves `O(groups × sketch_bytes)` regardless of row count — the
  * standard mergeable-summary play for 100 TB frequency queries.
  */
object Sketches {

  /** Exact heavy hitters: the `k` most frequent `idCol` values per
    * `groupCol`, deterministic tiebreak (count DESC, id ASC). */
  def heavyHitters(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(idCol))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n").desc, col(idCol))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // ---- KMV distinct sketches & cross-group overlap --------------------------

  /** One KMV bottom-k sketch per group over `hashCol` (a 64-bit hash of
    * the identity being counted — content fingerprint, n-gram hash, …):
    * (group, kmv: array<bigint> ascending, n_rows).
    *
    * [[graft.functions.KmvSketchAgg]] partial-aggregates map-side, so the
    * exchange moves one <= 8k-byte buffer per (group, map partition) —
    * never the hashes themselves. That is the whole point at 100 TB: a
    * full-corpus distinct/overlap question answered by a shuffle of
    * kilobytes.
    */
  def kmvPerGroup(df: DataFrame, groupCol: String, hashCol: Column,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(groupCol), hashCol.as("__h"))
      .groupBy(col(groupCol))
      .agg(expr(s"graft_kmv(__h, $k)").as("kmv"),
        count(lit(1)).as("n_rows"))
  }

  /** Pairwise cross-group distinct overlap from KMV sketches — the
    * training-pipeline "how much do these sources share?" question
    * (cross-source contamination, vocabulary overlap) answered WITHOUT an
    * exact distinct-join over the corpus.
    *
    * For each unordered group pair (a < b), over the k-smallest union
    * sketch U = bottom-k(kmv_a ∪ kmv_b) (bottom-k of a union of bottom-k's
    * is the union's true bottom-k — the KMV union rule):
    *   - `union_k`  = |U| (= min(k, total distinct) — saturation telltale)
    *   - `theta`    = k-th smallest union hash (null while unsaturated)
    *   - `rho`      = |U ∩ kmv_a ∩ kmv_b| — co-occurring minima
    *   - `est_union`   = (k-1) * 2^64 div (theta + 2^63)   [saturated]
    *                   = union_k exactly                   [unsaturated]
    *   - `jaccard_micro` = rho * 1e6 div union_k (exact Jaccard * 1e6 when
    *     unsaturated — the sketches then hold EVERY distinct hash)
    *   - `est_inter`  = est_union * jaccard_micro div 1e6
    * All arithmetic is integral (`div`, not `/`): bit-identical across
    * engines, so the DuckDB oracle replays the whole estimator.
    *
    * Scale: after [[kmvPerGroup]] the data is G rows of <= k longs; the
    * pair expansion is G²/2 sketch-sized rows on the driver-side-tiny
    * grid — broadcast join, zero further passes over the corpus. Beyer et
    * al. SIGMOD'07 give the estimator and its ~1/sqrt(k-2) error.
    */
  def kmvOverlap(df: DataFrame, groupCol: String, hashCol: Column,
      k: Int): DataFrame = {
    val sk = kmvPerGroup(df, groupCol, hashCol, k)
    val a = sk.select(col(groupCol).as("source_a"), col("kmv").as("kmv_a"))
    val b = sk.select(col(groupCol).as("source_b"), col("kmv").as("kmv_b"))
    val twoP63 = "9223372036854775808"   // 2^63; 2^64 = 2 * that
    val pairs = a.join(broadcast(b), col("source_a") < col("source_b"))
      .withColumn("u_k",
        slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, k))
      .withColumn("union_k", size(col("u_k")).cast("long"))
      .withColumn("theta",
        when(col("union_k") >= k, element_at(col("u_k"), k)))
      .withColumn("rho",
        size(array_intersect(array_intersect(col("u_k"), col("kmv_a")),
          col("kmv_b"))).cast("long"))
    pairs.select(
      col("source_a"), col("source_b"), col("union_k"), col("theta"),
      col("rho"),
      when(col("theta").isNull, col("union_k"))
        .otherwise(expr(
          // greatest(.., 1): theta == Long.MinValue would make theta_u = 0
          s"CAST(($k - 1) * 2 * CAST($twoP63 AS DECIMAL(38,0)) AS DECIMAL(38,0))" +
          s" div greatest(CAST(theta AS DECIMAL(38,0)) + CAST($twoP63 AS DECIMAL(38,0))," +
          " CAST(1 AS DECIMAL(38,0)))"))
        .as("est_union"))
      .withColumn("jaccard_micro",
        expr("rho * CAST(1000000 AS BIGINT) div union_k"))
      .withColumn("est_inter",
        when(col("theta").isNull, col("rho"))
          .otherwise(expr("est_union * jaccard_micro div 1000000")))
  }

  // ---- Bottom-k priority sample & approximate percentiles -------------------

  /** One uniform bottom-k priority sample per group
    * ([[graft.functions.QSampleAgg]]): `(group, sample:
    * array<struct<h,v>> ascending by h, n_rows)`. `hashCol` must be a
    * 64-bit hash of the ROW IDENTITY (unique key), `valueCol` the bigint
    * measure being sampled. Same shuffle shape as [[kmvPerGroup]]: one
    * <= 16k-byte buffer per (group, map partition) crosses the exchange. */
  def qsamplePerGroup(df: DataFrame, groupCol: String, hashCol: Column,
      valueCol: Column, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(groupCol), hashCol.as("__h"), valueCol.as("__v"))
      .groupBy(col(groupCol))
      .agg(expr(s"graft_qsample(__h, __v, $k)").as("sample"),
        count(lit(1)).as("n_rows"))
  }

  /** Approximate per-group percentiles from ONE bottom-k-sample pass —
    * the single-pass bounded-state counterpart of
    * [[graft.ops.Features.exactPercentiles]] (which is exact but needs
    * iterative selection passes). For each `(num, den)` the estimate is
    * the sample's own ceil-rank order statistic — the same rank
    * definition as the exact operator, applied to the k-row sample, so
    * rank error is the sample's ~O(1/sqrt(k)) and groups with
    * `n_rows <= k` are EXACT (the sample is the whole group).
    *
    * Everything after the aggregate is integer arithmetic over a
    * <= k-element array (`array_sort` + `element_at`): deterministic,
    * engine-exact, and replayed verbatim by the DuckDB oracle.
    */
  def approxPercentiles(df: DataFrame, groupCol: String, hashCol: Column,
      valueCol: Column, k: Int,
      ps: Seq[(Int, Int)] = Seq((1, 2), (9, 10), (99, 100))): DataFrame = {
    val sk = qsamplePerGroup(df, groupCol, hashCol, valueCol, k)
      .withColumn("__sorted", array_sort(expr("transform(sample, x -> x.v)")))
      .withColumn("n_sample", size(col("sample")).cast("long"))
    val pCols = ps.map { case (nu, de) =>
      // ceil-rank (nu*m + de - 1) div de, clamped to >= 1 for safety;
      // an all-null group yields an empty sample, where element_at(_, 1)
      // would throw under ANSI — such groups report null percentiles
      when(col("n_sample") > 0,
        element_at(col("__sorted"),
          greatest(lit(1L), expr(s"($nu * n_sample + ${de - 1}) div $de"))
            .cast("int")))
        .as(s"p${nu}_${de}")
    }
    sk.select(col(groupCol) +: col("n_rows") +: col("n_sample") +: pCols: _*)
  }
}
