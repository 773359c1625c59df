package graft.streaming

import java.nio.file.Files

import graft.SparkSpecBase

/** The application entrypoint must bring up all five pipelines from
  * config and land output in every sink (the reference's `main()`
  * smoke path). */
class GraftAppSpec extends SparkSpecBase {

  test("GraftApp starts all five pipelines and every sink receives output") {
    val outBase = Files.createTempDirectory("graft_app").toString
    val queries = GraftApp.start(spark, sf0001, outBase)
    try {
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())

    // GraftSession.statePartitions divides the cores among the stateful
    // queries, so the divisor must count exactly the queries holding state
    val stateful = queries.count(_.recentProgress.exists(_.stateOperators.nonEmpty))
    assert(stateful === graft.GraftSession.StatefulQueries)

    // stateless + stateful-complete sinks land rows from the single batch;
    // the windowed append-mode sinks (fraud/dormancy/daily) legitimately
    // hold rows back until the watermark closes their windows — a single
    // static batch never closes them, so assert directory creation there
    val mustHaveRows = Seq("high_value_alerts", "balance_updates")
    mustHaveRows.foreach { n =>
      assert(spark.read.parquet(s"$outBase/$n").count() > 0, n)
    }
    val allSinks = Seq("high_value_alerts", "fraud_alerts", "balance_updates",
      "dormancy_alerts", "daily_spend", "funnel_conversions", "pattern3_matches")
    allSinks.foreach { n =>
      assert(new java.io.File(s"$outBase/$n").exists(), s"sink dir $n")
      assert(new java.io.File(s"$outBase/_checkpoints/$n").exists(), s"ckpt $n")
    }

    // the product-analytics sinks resolve in-batch matches from the one
    // static file (later same-user events seal earlier entries), so both
    // emit rows — and every emitted 3-step row is a click
    Seq("funnel_conversions", "pattern3_matches").foreach { n =>
      assert(spark.read.parquet(s"$outBase/$n").count() > 0, n)
    }

    // the TWAB sink emits live per-event accruals in-batch (no watermark
    // dependency), and its final emission per account equals the batch
    // operator (the PipelinesSpec equivalence, re-checked at the app seam)
    val twab = spark.read.parquet(s"$outBase/twab_updates")
    assert(twab.count() > 0, "twab_updates")
    val twabFinal = twab.collect()
      .map(r => (r.getAs[Long]("account_id"), r.getAs[Long]("n_intervals"),
        r.getAs[Long]("span_us"), r.getAs[Long]("twab_micro_kobo")))
      .groupBy(_._1).map(_._2.maxBy(_._2)).toSet
    val twabWant = graft.SparkEntry.queries("q_time_weighted_balance")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(twabFinal === twabWant)

    // thresholds came from GraftConfig defaults == the oracle-verified
    // batch constants, so the high-value sink matches the batch query
    val hv = spark.read.parquet(s"$outBase/high_value_alerts").collect().toSet
    val want = graft.SparkEntry.queries("q_enrich_cdc_dim")(spark, sf0001)
      .collect().toSet
    assert(hv === want)

    // the two KTable queries committed their tables, and the two-hop sink
    // emitted every high-value txn (enrichment values depend on dim-vs-txn
    // arrival order — same as a Kafka Streams stream-table join; the
    // sequenced equivalence is pinned in PipelinesSpec)
    Seq("acct_store" -> "account_id BIGINT", "cust_store" -> "customer_id BIGINT")
      .foreach { case (s, key) =>
        assert(Pipelines.ktableSnapshot(spark, s"$outBase/_checkpoints/$s", key)
          .count() > 0, s)
      }
    assert(spark.read.parquet(s"$outBase/high_value_two_hop").count() ===
      want.size)
  }
}
