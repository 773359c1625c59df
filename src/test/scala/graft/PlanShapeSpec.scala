package graft

import org.apache.spark.sql.functions._

/** Plan-shape regressions: the scale properties the engine promises must
  * be visible in the physical plan, not just asserted in prose. */
class PlanShapeSpec extends SparkSpecBase {

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("high-value filter is pushed into the parquet scan through the envelope") {
    val plan = formattedPlan(
      SparkEntry.queries("q_high_value_filter")(spark, sf0001))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(value,200.0)"), plan.take(2000))
  }

  test("token count reads only the columns it needs (column pruning)") {
    val plan = formattedPlan(
      SparkEntry.queries("q_token_count")(spark, sf0001))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema) // untouched columns must not reach the scan
  }

  test("enrichment join broadcasts the dimension (no fact shuffle)") {
    val plan = formattedPlan(
      SparkEntry.queries("q_high_value_enrich")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("top-k spenders plans as TakeOrderedAndProject, not a global sort") {
    val plan = formattedPlan(
      SparkEntry.queries("q_topk_spenders")(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("iterative dedup manifests emit BOUNDED plans (lineage checkpoint-truncated)") {
    // r10 regression pin: dupClusters/dupClustersStar localCheckpoint
    // every round, so the EMITTED plan's leaves are checkpoint RDDs and
    // the per-round join pipeline never re-embeds upstream lineage. The
    // r9 shape peaked at 441 BroadcastExchange nodes / 27 shuffles in
    // one q_multimodal_manifest plan; a persist-only regression would
    // blow these bounds immediately.
    for (q <- Seq("q_dedup_clusters", "q_dedup_clusters_star",
        "q_dedup_manifest", "q_dedup_keep_best", "q_multimodal_manifest")) {
      val plan = formattedPlan(SparkEntry.queries(q)(spark, sf0001))
      val bcasts = "BroadcastExchange".r.findAllIn(plan).size / 2
      val shuffles =
        "Arguments: (hash|range)partitioning".r.findAllIn(plan).size
      assert(bcasts <= 8, s"$q: $bcasts BroadcastExchange nodes — " +
        "iterative lineage is leaking into the emitted plan")
      assert(shuffles <= 8, s"$q: $shuffles shuffles")
      assert(!plan.contains("SortMergeJoin"), s"$q: unexpected SMJ")
    }
  }

  test("funnel: one user-keyed exchange, no pair-materializing join") {
    val plan = formattedPlan(
      SparkEntry.queries("q_funnel_conversion")(spark, sf0001))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges === 1, plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000)) // window form, not self-join
  }

  test("winsorize: cut broadcasts back; the fact table never sort-merges") {
    val plan = formattedPlan(SparkEntry.queries("q_winsorize")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("part-supplier count: the NOT-IN exclusion plans as a broadcast anti join") {
    val plan = formattedPlan(
      SparkEntry.queries("q_part_supplier_cnt")(spark, sf0001))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("semantic dedup: scan-stage bucketing, one scalar exchange, no joins") {
    val plan = formattedPlan(SparkEntry.queries("q_semantic_dedup")(spark, sf0001))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges === 1, plan.take(2000))
    assert(!plan.contains("Join"))
  }

  test("fraud features: one window pass + broadcasts, never a fact-fact join") {
    val plan = formattedPlan(
      SparkEntry.queries("q_fraud_features")(spark, sf0001))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("k-means seeding is scan-only (no window, no global sort)") {
    val all = graft.sim.Similarity.withNorm(Tables.embeddings(spark, sf0001))
    val plan = formattedPlan(
      graft.sim.Similarity.kmeansCentroids(all, stride = 37, iters = 0))
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Sort"), plan.take(2000))
  }

  test("CDC-dim enrichment broadcasts the accounts KTable") {
    val plan = formattedPlan(
      SparkEntry.queries("q_enrich_cdc_dim")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("bloom decontamination probes as a plan constant, not a joined array") {
    val plan = formattedPlan(
      SparkEntry.queries("q_decontaminate_bloom")(spark, sf0001))
    // the probe is a scan-stage filter expression...
    assert(plan.contains("graft_bloom_probe"), plan.take(2000))
    // ...NOT an array column attached to every gram row (the 7x-slower
    // first cut joined a one-row bitset frame into the fact side)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("mixture sampling is scan-only: zero exchanges in the plan") {
    val plan = formattedPlan(
      SparkEntry.queries("q_mixture_sample")(spark, sf0001))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("AQE splits a planted power-law skew join (skew=true in the final plan)") {
    // the velocity hot-account pattern (reference ABBankTopology.java:173-177):
    // one account carries 90% of the fact rows, so one reducer would own
    // 90% of the join. ops.Salt covers skewed AGGREGATIONS; for joins the
    // engine's contract is Spark AQE's skew-split — this pins that the
    // split actually fires on a planted power-law key (thresholds scaled
    // to the test corpus; the ratios mirror a 256MB-threshold cluster)
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // broadcast disabled: at probe scale the dim fits in memory, on the
      // 100 TB cluster it wouldn't — force the shuffled-join path under test
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

      val fact = spark.range(200000L).select(
        when(pmod(col("id"), lit(10)) < 9, lit(7L))
          .otherwise(pmod(xxhash64(col("id")), lit(20000L))).as("account_id"),
        concat(lit("payload-"), col("id").cast("string"),
          lit("-" + "x" * 48)).as("payload"))
      val dim = spark.range(20000L).select(col("id").as("account_id"),
        col("id").cast("string").as("attr"))
      val joined = fact.join(dim, "account_id")

      val qe = joined.queryExecution
      qe.executedPlan.execute().count() // finalizes the adaptive plan
      val finalPlan = qe.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(3000))
    } finally {
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("IVF: assignment is scan-stage (no exchange or join before rerank)") {
    functions.GraftFunctions.register(spark)
    val plan = formattedPlan(
      SparkEntry.queries("q_sim_ivf_topk")(spark, sf0001))
    // the vector table is scanned, assigned via the plan-constant
    // graft_ivf_cell argmax, and broadcast-joined to the probe set — the
    // only sort-merge/cartesian-free shape that survives 100 TB; the old
    // join+max_by assignment would show a corpus-wide Exchange + HashAggregate
    assert(plan.contains("graft_ivf_cell"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
    // exactly the rerank/probe broadcasts remain; the corpus-side argmax
    // contributes no Exchange (window top-k exchanges are per-query-key)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("PQ: encode is scan-stage, ADC search never sort-merges the corpus") {
    functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf0001)
    val model = graft.sim.PQ.train(emb)
    // encode: grid + kernel argmin in the scan stage — zero exchanges
    val enc = formattedPlan(graft.sim.PQ.encode(emb, model))
    assert(enc.contains("graft_pq_encode"), enc.take(2000))
    assert(!enc.contains("Exchange"), enc.take(2000))
    // search: candidates come from a broadcast of the tiny query set; the
    // coded corpus is scanned, never sort-merged or fanned out wide
    val topk = formattedPlan(graft.sim.PQ.topK(emb, model, 10, 5))
    assert(topk.contains("graft_pq_lut"), topk.take(2000))
    assert(!topk.contains("SortMergeJoin"))
    assert(!topk.contains("CartesianProduct"))
    assert(topk.contains("BroadcastNestedLoopJoin") ||
      topk.contains("BroadcastHashJoin"), topk.take(2000))
  }

  test("IVF-PQ: one scan carries both kernels; candidates come from a broadcast cell join") {
    functions.GraftFunctions.register(spark)
    val plan = formattedPlan(
      SparkEntry.queries("q_sim_ivfpq_topk")(spark, sf0001))
    // the corpus scan computes coarse cell AND PQ codes via the two
    // plan-constant kernels — no join or exchange materializes
    // |corpus| x |cells| rows anywhere
    assert(plan.contains("graft_ivf_cell"), plan.take(2000))
    assert(plan.contains("graft_pq_encode"), plan.take(2000))
    assert(plan.contains("graft_pq_lut"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("minhash candidates: signature stage is scan-only, banding is the only wide op") {
    val plan = formattedPlan(
      graft.dedup.MinHashLSH.bandingCandidates(
        graft.dedup.MinHashLSH.signaturesPerRow(
          Tables.documents(spark, sf0001))))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // formatted explain lists each node twice (tree + details): 2 real
    // scans (the self-join's two sides) = 4 occurrences
    val scanCount = "Scan parquet".r.findAllIn(plan).size
    assert(scanCount <= 4, s"signature scan duplicated: $scanCount\n" +
      plan.take(2000))
    // signature computation must never shuffle: the only Exchanges
    // allowed are the (band,bucket) join's two and the distinct's one —
    // 3 real = 6 formatted occurrences. A regression to groupBy
    // signatures adds a per-side signature shuffle and fails this bound
    val exchangeCount = "Exchange".r.findAllIn(plan).size
    assert(exchangeCount <= 6, s"unexpected shuffle count: $exchangeCount\n" +
      plan.take(2000))
  }

  // ---- subquery-decorrelation family (r8) ---------------------------------

  test("priority check: EXISTS plans as ONE left-semi join, lineitem pruned to 2 columns") {
    val plan = formattedPlan(SparkEntry.queries("q_priority_semi")(spark, sf0001))
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    val liSchema = plan.linesIterator
      .filter(_.contains("ReadSchema")).find(_.contains("l_orderkey"))
    assert(liSchema.exists(l => l.contains("l_shipdate") &&
      !l.contains("l_quantity") && !l.contains("l_extendedprice")),
      s"lineitem scan not pruned: $liSchema")
  }

  test("small-qty revenue: per-part stats broadcast back, no fact sort-merge") {
    val plan = formattedPlan(
      SparkEntry.queries("q_small_qty_revenue")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("waiting supplier: decorrelated to one grouped pass — fact scans at most twice, supplier broadcasts") {
    val plan = formattedPlan(
      SparkEntry.queries("q_waiting_supplier")(spark, sf0001))
    // the EXISTS/NOT-EXISTS literal form would scan lineitem 3x; the
    // grouped rewrite reads it twice (formatted explain doubles nodes)
    val scanCount = "Scan parquet".r.findAllIn(plan).size
    assert(scanCount <= 6, s"fact scanned too often: $scanCount\n" + plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("idle customers: scalar attaches as one-row broadcast, NOT EXISTS as left anti") {
    val plan = formattedPlan(
      SparkEntry.queries("q_idle_customer_stats")(spark, sf0001))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("top supplier: one fact scan feeds both the agg and its max (no rescan), ties kept") {
    val plan = formattedPlan(SparkEntry.queries("q_top_supplier")(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("min-cost supplier: window-min keeps the fact in ONE plan branch (no rescan)") {
    val plan = formattedPlan(
      SparkEntry.queries("q_min_cost_supplier")(spark, sf0001))
    // formatted explain doubles nodes: 2 real scans (lineitem + part) = 4
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 4, s"fact rescanned: $scans\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"))
  }

  test("RFM: cuts are plan literals — no window, no join, no sort in the scored plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Join => LJoin}
    // the quartile cuts come from range-narrowing exact selection at
    // construction time (driver-bounded passes, nothing sorts) and enter
    // the plan as literals: the final frame is ONE map-side pass over the
    // persisted account dimension (the pre-r9 form ran three global
    // cume_dist sorts = a single reducer, three times)
    val df = SparkEntry.queries("q_rfm_segments")(spark, sf0001)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case w: LWindow => w }.isEmpty, opt.toString.take(2000))
    assert(opt.collect { case j: LJoin => j }.isEmpty, opt.toString.take(2000))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    // the nine cut literals are visible in the score expressions
    assert(p.contains("r_score") && p.contains(">="), p.take(2000))
  }

  test("TWAB: one account-partitioned window pass + one agg, no self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Join => LJoin}
    val df = SparkEntry.queries("q_time_weighted_balance")(spark, sf0001)
    val opt = df.queryExecution.optimizedPlan
    val wins = opt.collect { case w: LWindow => w }
    assert(wins.size == 1 && wins.forall(_.partitionSpec.nonEmpty),
      opt.toString.take(2000))
    assert(opt.collect { case j: LJoin => j }.isEmpty, opt.toString.take(2000))
    val scans = "Scan parquet".r.findAllIn(formattedPlan(df)).size
    assert(scans <= 2, s"fact rescanned: $scans") // formatted doubles: 1 real
  }

  test("k-step funnel: pruned window branches + narrow equi-joins, no explosion") {
    val plan = formattedPlan(SparkEntry.queries("q_funnel_k")(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("exact percentiles: the result is a plan literal (selection ran at construction)") {
    val df = SparkEntry.queries("q_exact_percentiles")(spark, sf0001)
    val plan = formattedPlan(df)
    assert(plan.contains("LocalTableScan"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(df.count() > 0)
  }

  test("MAD outliers: medians broadcast back; no sort, no window, no SMJ") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q_mad_outliers")(spark, sf0001)
    assert(df.queryExecution.optimizedPlan
      .collect { case w: LWindow => w }.isEmpty)
    val plan = formattedPlan(df)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(df.count() > 0)
  }

  test("training manifest: at most 4 text scans (2 train-corpus + eval-slice reads)") {
    val plan = formattedPlan(
      SparkEntry.queries("q_training_manifest")(spark, sf0001))
    // full-text reads in the plan: the fused annotate+digest pass and the
    // decontamination shingle pass over the TRAIN corpus (the 98% slice —
    // these are the expensive ones; the pre-fusion form had THREE), plus
    // the 2%-slice eval-gram reads. The mixture side scans (doc_id, lang)
    // only and must never pull text. A 5th text scan = the fusion
    // regressed.
    val textScans = plan.linesIterator
      .filter(_.contains("ReadSchema")).count(_.contains("text"))
    assert(textScans <= 4, s"text read $textScans times\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }
}
