package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.{GraftConfig, SparkEntry}
import graft.streaming.{GraftApp, Pipelines, Sources}

/** The streaming face, as a closed loop: every input file is in place
  * before the first `start()`, and the clock runs until every query has
  * processed all of it.
  *
  *   - `stream_stateful_replay`: event files in event-time order, consumed
  *     one file per trigger by the six stateful pipelines, each built
  *     through `Pipelines.*` and written through `Sources.sink`.
  *   - `stream_app_backlog`: `GraftApp.start` (all 12 queries, `files`
  *     source) drains one events.parquet in one trigger, like a catch-up
  *     after a connector outage.
  *
  * Outputs are checked after the clock stops, against the batch twins
  * over the same events (the GraftAppSpec and PipelinesSpec equalities).
  */
object StreamWorkload {

  /** The directory holding the same events as one `events.parquet` beside
    * `customer.parquet` — what the batch twins read. */
  def twinDir(workload: String, dataDir: String): String =
    if (workload == "stream_stateful_replay") s"$dataDir/twin" else dataDir

  /** The replay's pipelines, by sink name. */
  val replayPipelines = Seq("balance_updates", "rolling_spend", "twab_updates",
    "fraud_alerts", "dormancy_alerts", "daily_spend")

  private def replayQueries(spark: SparkSession, feed: String,
      out: String): Seq[StreamingQuery] = {
    val cfg = GraftConfig.load(spark)
    def parsed(): DataFrame =
      Pipelines.parsedStreamFromPath(spark, feed, "*.parquet", Some(1))
    val build: Map[String, () => DataFrame] = Map(
      "balance_updates" -> (() => Pipelines.reconcileAlerts(spark, parsed()).toDF()),
      "rolling_spend" -> (() => Pipelines.rollingSpendAlerts(spark, parsed()).toDF()),
      "twab_updates" -> (() => Pipelines.twabUpdates(spark, parsed()).toDF()),
      "fraud_alerts" -> (() => Pipelines.velocityAlerts(parsed(),
        cfg.velocityWindowSec, cfg.velocityMinTxns)),
      "dormancy_alerts" -> (() => Pipelines.dormancyAlerts(parsed(), cfg.dormancyGap)),
      "daily_spend" -> (() => Pipelines.dailySpendAlerts(parsed(), cfg.dailySpendAlert)))
    replayPipelines.map(n => Sources.sink(build(n)(), n, out))
  }

  def run(spark: SparkSession, workload: String, dataDir: String,
      workDir: String, tracer: Option[Tracer], setup: () => Double): RunResult = {
    val tally = new Tally
    val out = s"$workDir/out"
    val twin = twinDir(workload, dataDir)
    val setupS = setup()

    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val queries = tally.attempt("start") {
      if (workload == "stream_stateful_replay")
        replayQueries(spark, s"$dataDir/feed", out)
      else GraftApp.start(spark, dataDir, out)
    }.getOrElse(Nil)
    queries.foreach(q => tally.attempt(s"${q.name} drain")(q.processAllAvailable()))
    val passS = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    queries.foreach(_.stop())
    val events = spark.read.parquet(s"$twin/events.parquet").count()

    val progress: Seq[(StreamingQuery, Seq[StreamingQueryProgress])] =
      queries.map(q => q -> q.recentProgress.toSeq)
    def name(q: StreamingQuery): String = Option(q.name).getOrElse(q.id.toString)
    tracer.foreach { t =>
      t.add(Span("w", "", workload, w0, w1, Map("events" -> events.toDouble)))
      progress.foreach { case (q, ps) =>
        t.add(Span(s"p:${name(q)}", "w", name(q), w0,
          ps.lastOption.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.getOrDefault("triggerExecution", 0L)).getOrElse(w1),
          Map("batches" -> ps.size.toDouble)))
      }
    }

    // trigger latency over the (query, batch) pairs that carried input;
    // where a query ran several, its first pays one-time codegen and
    // state-store creation and is left out (the one-trigger backlog drain
    // keeps it)
    val triggers = progress.flatMap { case (_, ps) =>
      val data = ps.filter(_.numInputRows > 0)
      (if (data.size > 1) data.drop(1) else data)
        .map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble) }
    val endToEnd = Map(
      "pass_s" -> passS,
      "events_per_s" -> events / passS,
      "op_p50_ms" -> Stats.median(triggers),
      "op_p90_ms" -> Stats.quantile(triggers, 0.9),
      "microbatch_p50_ms" -> Stats.median(triggers),
      "microbatch_p90_ms" -> Stats.quantile(triggers, 0.9),
      "microbatch_pairs" -> triggers.size.toDouble,
      "events" -> events.toDouble)

    checkTwins(spark, workload, twin, out, tally)

    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      t.drain()
      val all = progress.flatMap(_._2)
      def sumDur(k: String): Double =
        all.map(_.durationMs.getOrDefault(k, 0L).toDouble).sum
      val ops = all.flatMap(_.stateOperators)
      val lastOps = progress.flatMap(_._2.lastOption.toSeq.flatMap(_.stateOperators))
      val rowsRead = all.map(_.numInputRows.toDouble).sum
      // the file sink reports no output row count, so rows out are the
      // rows its directory holds after the drain
      val pipelines = replayPipelines.flatMap { n =>
        val ps = progress.collect { case (q, p) if q.name == n => p }.flatten
        Seq(s"pipeline.$n.add_batch_ms" ->
            ps.map(_.durationMs.getOrDefault("addBatch", 0L).toDouble).sum,
          s"pipeline.$n.rows_out" -> (if (ps.isEmpty) 0.0
            else spark.read.parquet(s"$out/$n").count().toDouble))
      }
      val batchSpans: String => Boolean = _.startsWith("b:")
      Map(
        "source.rows_read" -> rowsRead,
        "source.rows_per_event" -> rowsRead / events,
        "source.get_batch_ms" -> sumDur("getBatch"),
        "source.latest_offset_ms" -> sumDur("latestOffset"),
        "state.rows_total" -> lastOps.map(_.numRowsTotal.toDouble).sum,
        "state.mem_mb" -> lastOps.map(_.memoryUsedBytes.toDouble).sum / 1e6,
        "state.commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state.updates_ms" -> ops.map(_.allUpdatesTimeMs.toDouble).sum,
        "state.removals_ms" -> ops.map(_.allRemovalsTimeMs.toDouble).sum,
        "state.rows_dropped_by_watermark" ->
          ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
        "streaming.planning_ms" -> sumDur("queryPlanning"),
        "streaming.wal_commit_ms" -> sumDur("walCommit"),
        "streaming.commit_offsets_ms" -> sumDur("commitOffsets"),
        "traced.pass_s" -> passS) ++ pipelines ++
        t.workFor(batchSpans).metrics ++ t.planFor(batchSpans).metrics
    }
    RunResult(setupS, endToEnd, layers, tally.attempted, tally.failed,
      Nil, tally.notes.toSeq)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The twin equalities: the streamed output equals the oracle-verified
    * batch query over the same events. */
  private def checkTwins(spark: SparkSession, workload: String, twin: String,
      out: String, tally: Tally): Unit = {
    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, twin)
    def sink(name: String): DataFrame = spark.read.parquet(s"$out/$name")
    // reconciliation: every emitted row, so also the last row per account
    val reconCols = Seq("txn_id", "balance_after", "recon_status").map(col)
    tally.check("balance_updates twin") {
      sameRows(sink("balance_updates").select(reconCols: _*),
        q("q_balance_reconcile").select(reconCols: _*))
    }
    // TWAB: the last emission per account (the one with the most intervals)
    val twabCols = Seq("account_id", "n_intervals", "span_us", "twab_micro_kobo").map(col)
    tally.check("twab_updates twin") {
      val last = sink("twab_updates")
        .withColumn("max_n", max(col("n_intervals")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("account_id")))
        .filter(col("n_intervals") === col("max_n"))
      sameRows(last.select(twabCols: _*), q("q_time_weighted_balance").select(twabCols: _*))
    }
    if (workload == "stream_stateful_replay") {
      val rollCols = Seq("txn_id", "rolling_spend_kobo", "rolling_n_txns").map(col)
      tally.check("rolling_spend twin") {
        sameRows(sink("rolling_spend").select(rollCols: _*),
          q("q_rolling_spend").select(rollCols: _*))
      }
    } else {
      tally.check("high_value_alerts twin") {
        sameRows(sink("high_value_alerts"), q("q_enrich_cdc_dim"))
      }
    }
  }
}
