package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftConfig, GraftSession, Tables}
import graft.cdc.{DimensionCdc, Wire}
import graft.ops.Enrich

/** Application entrypoint — the analog of the reference's `main()`
  * (`ABBankStreamProcessorApplication.java`: load config, build the
  * topology, start, await). [[start]] launches 12 streaming queries: the
  * five reference pipelines, the rolling-spend and TWAB extensions, the
  * two KTables, the two-hop enrichment, and the funnel and 3-step
  * pattern trackers. Each owns its sink and (for the stateful ones) its
  * state store. They share the parsed stream's plan, not its rows: every
  * query opens its own source scan and decodes each event again
  * (perfbench's `stream_app_backlog` measured `source.rows_per_event` =
  * 10.03); decoding once per micro-batch for all of them is still open.
  * Thresholds come from [[GraftConfig]] (spark conf > `ABBANK_*` env
  * vars > oracle-verified defaults).
  *
  * Source and sinks are config-driven ([[Sources]]): files (default) or
  * `format("kafka")` the day a connector jar is present — a `--conf`
  * switch, not a code change. Each query checkpoints under
  * `outBase/_checkpoints/<name>` so a restart resumes exactly where it
  * stopped (RecoverySpec proves the state recovery path).
  *
  * The two KTables live only in their queries' state stores, checkpointed
  * at `outBase/_checkpoints/acct_store` and `cust_store`; the two-hop
  * query reads them from there ([[Pipelines.ktableSnapshot]]). Upgrade
  * rule: the `outBase/acct_store` and `outBase/cust_store` directories
  * that older builds wrote are no longer read and can be deleted; the
  * KTable checkpoints restore as before.
  *
  * Run: `spark-submit --class graft.streaming.GraftApp <jar> <srcDir> <outBase>`
  */
object GraftApp {

  /** Start the 12 queries; returns them running (callers — and tests —
    * control their lifecycle). */
  def start(spark: SparkSession, srcDir: String, outBase: String): Seq[StreamingQuery] = {
    val cfg = GraftConfig.load(spark)
    // transport chosen by spark.graft.source (files | files-avro | kafka)
    // and spark.graft.sink (parquet | kafka) — see [[Sources]]
    val parsed = Sources.cdcSource(spark, srcDir)
    val customerDim = Tables.customer(spark, srcDir)

    def sink(df: DataFrame, name: String, mode: String = "append"): StreamingQuery =
      Sources.sink(df, name, outBase, mode)

    Seq(
      // 1: high-value alerts against the CDC-built accounts KTable
      // (stream-static join; the table is rebuilt through the JSON wire on
      // every trigger)
      sink(Enrich.highValueCdcEnriched(parsed,
        DimensionCdc.Accounts.dim(customerDim, Wire.Json),
        cfg.highValueThreshold), "high_value_alerts"),
      // 2: velocity fraud (windowed count; append emits on window close)
      sink(Pipelines.velocityAlerts(parsed, cfg.velocityWindowSec,
        cfg.velocityMinTxns), "fraud_alerts"),
      // 3: balance reconciliation (flatMapGroupsWithState)
      sink(Pipelines.reconcileAlerts(spark, parsed).toDF(), "balance_updates"),
      // 4: dormancy sessions (append on session close)
      sink(Pipelines.dormancyAlerts(parsed, cfg.dormancyGap), "dormancy_alerts"),
      // 5: daily spend (24h tumbling)
      sink(Pipelines.dailySpendAlerts(parsed, cfg.dailySpendAlert), "daily_spend"),
      // 6 (extension, not in the reference): rolling trailing-24h spend
      // features at every debit — bounded per-key state
      sink(Pipelines.rollingSpendAlerts(spark, parsed).toDF(), "rolling_spend"),
      // 6b (extension): live time-weighted average balance per account —
      // O(1) state, exact integer accrual (the interest-billing view)
      sink(Pipelines.twabUpdates(spark, parsed).toDF(), "twab_updates"),
      // 7-8: the two continuously-maintained KTables (accounts, customers
      // — reference ABBankTopology.java:107-144), each held in its own
      // query's state store, which the enrichment reads per micro-batch
      Pipelines.ktableQuery(
        Pipelines.ktableStream(spark, DimensionCdc.Accounts, srcDir),
        s"$outBase/_checkpoints/acct_store"),
      Pipelines.ktableQuery(
        Pipelines.ktableStream(spark, DimensionCdc.Customers, srcDir),
        s"$outBase/_checkpoints/cust_store"),
      // 9: the declared two-hop enrichment against BOTH live KTables
      Pipelines.highValueTwoHopCdcStream(parsed,
        s"$outBase/_checkpoints/acct_store", s"$outBase/_checkpoints/cust_store",
        cfg.highValueThreshold, s"$outBase/high_value_two_hop",
        s"$outBase/_checkpoints/high_value_two_hop"),
      // 10-11 (extensions): product analytics over the RAW event stream
      // (funnel/CEP consume event types, not the synthesized CDC
      // envelopes) — 2-step conversions and the 3-step pattern, both
      // bounded-state flatMapGroupsWithState with event-time timers
      sink(Pipelines.funnelAlerts(spark,
        Pipelines.eventStreamFromPath(spark, srcDir, glob = "events.parquet"))
        .toDF(), "funnel_conversions"),
      sink(Pipelines.pattern3Alerts(spark,
        Pipelines.eventStreamFromPath(spark, srcDir, glob = "events.parquet"))
        .toDF(), "pattern3_matches"))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outBase = args.lift(1).getOrElse("/tmp/graft_app_out")
    val spark = GraftSession.create(appName = "graft-app")
    // ops sidecar (reference ABBankStreamsApp.java:78-79 starts its
    // HealthServer before awaiting the topology); registered BEFORE the
    // queries so their started events are tracked
    val healthPort =
      GraftConfig.resolve(spark, "healthPort", "ABBANK_HEALTH_PORT", "8080").toInt
    val health = new HealthServer(spark, healthPort).start()
    try {
      val queries = start(spark, srcDir, outBase)
      queries.foreach(_.processAllAvailable())
      spark.streams.awaitAnyTermination()
    } finally health.stop()
  }
}
