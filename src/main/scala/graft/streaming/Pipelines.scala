package graft.streaming

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

import graft.cdc.{CdcTable, EnvelopeOps, Wire}
import graft.ops.{Enrich, Notify, Predicates, Windows}

/** The reference's five stream pipelines recomposed as Structured Streaming
  * (reference `topology/ABBankTopology.java:149-153` fans one shared parsed
  * stream into five subgraphs). Here each pipeline is its own streaming
  * query over the parsed stream's plan, so each one scans and decodes the
  * source itself; [[fanOutStateless]] shares one scan per micro-batch
  * across stateless sinks, but no app calls it until the decode-once
  * design chooses between it and a staging query.
  *
  * Semantics choices (SURVEY §2.5): event time = envelope record time
  * (`event_ts`); NO grace -> `withWatermark(_, "0 seconds")`; emission on
  * window close (append mode) — the documented intent, matching the batch
  * operators exactly, rather than the DSL's literal eager update-mode
  * emission. Each transform returns an unbound DataFrame so callers pick
  * sink + output mode (tests use memory/complete, production uses
  * kafka/append with checkpointing).
  *
  * Scale posture: state lives in the Structured Streaming state store
  * (RocksDB provider at scale via
  * `spark.sql.streaming.stateStore.providerClass`); all stateful stages key
  * by account_id, so state partitions with the shuffle and no executor sees
  * more than its key range. The reconciliation state is ONE double per
  * account — O(#accounts) total, trivially partitionable. The number of
  * state partitions per query is `spark.sql.shuffle.partitions`, which
  * `GraftSession.create` sets to [[graft.GraftSession.statePartitions]]:
  * the cores divided among `GraftApp`'s stateful queries, so each trigger
  * runs about one state task per core (1 per query at 4 cores, 20 at a
  * cluster's 200). A query's first batch records the width in its
  * checkpoint, and a restart keeps it whatever the session conf says.
  *
  * Lateness: every event-time `GroupState` tracker (rolling spend, TWAB,
  * the funnel and k-step patterns) folds through [[OrderedFold]]: per
  * key, a row strictly behind the greatest order key already folded is
  * dropped and counted in the query's `graft.late_rows.<tracker>`
  * accumulator, the per-key form of the no-grace windows' drop.
  * [[reconcileAlerts]] alone folds in arrival order, as the reference's
  * balance store does.
  *
  * Upgrade rule: these trackers' state carries the seal, so a checkpoint
  * written before [[OrderedFold]] does not restore — delete the tracker
  * query's checkpoint on upgrade. Spark's state-schema check refuses the
  * old checkpoint when the query starts (`StateSchemaCheck` in
  * `RecoverySpec`).
  */
object Pipelines {

  /** Streaming analog of the shared pre-pipeline: file-source stream of raw
    * events -> upsert-only parsed typed txns + `event_ts`, decoded by
    * [[parsedStreamFromPath]]. (In production the source would be
    * `format("kafka")` + `from_avro`, decoded by [[Sources.parsedFromWire]]
    * through the nested envelope; the parse rules and everything
    * downstream are identical.) */
  def parsedStream(spark: SparkSession, sfDir: String): DataFrame =
    parsedStreamFromPath(spark, sfDir, glob = "events.parquet")

  /** Same, over a monitored directory (the file source requires a directory
    * base path; `glob` selects files within it). `maxFilesPerTrigger` splits
    * the input into multiple micro-batches (used by tests to advance the
    * watermark across batches).
    *
    * The decode is one Filter ([[EnvelopeOps.isUpsert]]) and one Project
    * ([[EnvelopeOps.decodeEvents]] + `event_ts`) straight over the file
    * relation, with event time read through [[graft.Tables.eventColumns]].
    * Its rows equal `upsertsOnly(parsedTransactions(deriveEventTime(raw)))`
    * plus `event_ts`, but Structured Streaming re-analyzes, re-optimizes
    * and re-plans the whole logical plan on every trigger, and Spark plans
    * each micro-batch a second time to print it for the SQL UI, so the
    * stateless prefix is handed to Catalyst already collapsed. */
  def parsedStreamFromPath(spark: SparkSession, dir: String, glob: String = "*",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val raw = rawEventStream(spark, dir, glob, maxFilesPerTrigger)
    val txn = EnvelopeOps.decodeEvents(graft.Tables.eventColumns(raw.schema))
    val byName = txn.toMap
    raw.filter(EnvelopeOps.isUpsert(byName))
      .select(txn.map { case (n, c) => c.as(n) } :+
        timestamp_micros(byName("event_time_us")).as("event_ts"): _*)
  }

  /** The ONE events file-stream reader both parsed/event streams share.
    *
    * The streaming file source demands a declared schema, and the events
    * corpus has shipped with two physical encodings for `ts` (parquet
    * TIMESTAMP micros → TIMESTAMP[_NTZ]; parquet TIMESTAMP(NANOS) →
    * LongType under `nanosAsLong`). Hard-coding either declaration
    * mislabels the other — declaring `ts BIGINT` over a micros corpus
    * reads the int64 micros as "nanos" and every derived event time lands
    * 1000× too small (VERDICT r7: six streaming-equivalence failures, one
    * root cause). So: probe the on-disk footer with a metadata-only batch
    * read and declare exactly what the files carry; NO rename —
    * [[graft.Tables.eventColumns]] branches on the probed type, and its
    * magnitude guard would reject a mislabeled long anyway. */
  private[streaming] def rawEventStream(spark: SparkSession, dir: String,
      glob: String, maxFilesPerTrigger: Option[Int]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = spark.readStream
      .schema(onDisk)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(dir)
  }

  /** The parsed stream over the REAL wire shape: a monitored directory of
    * parquet files carrying the (key BINARY, value BINARY) column pair a
    * Kafka source yields, value = Confluent-framed Avro envelope frames —
    * decoded scan-stage by [[graft.cdc.AvroWire.decodeAvroEnvelope]] and
    * parsed identically to [[parsedStream]]. The production swap is ONE
    * line: `format("kafka")` (+ registry `from_avro`) replaces the file
    * reader; everything downstream of the value column is this code.
    * Malformed frames become null envelopes and are dropped by the
    * upserts filter — the reference's LogAndContinue contract. */
  def parsedWireStreamAvro(spark: SparkSession, dir: String, glob: String = "*",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema("key BINARY, value BINARY")
      .option("pathGlobFilter", glob)
    val withOpt = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
    // decode is the transport-blind shared chain — byte-identical to what
    // the kafka branch of [[Sources.cdcSource]] runs
    Sources.parsedFromWire(withOpt.parquet(dir))
  }

  /** Raw-event stream (same derived columns as the [[graft.Tables.events]]
    * batch loader) — for consumers of the event stream itself
    * (funnel/retention analytics) rather than the synthesized CDC
    * envelopes. */
  def eventStreamFromPath(spark: SparkSession, dir: String, glob: String = "*",
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    graft.Tables.deriveEventTime(
      rawEventStream(spark, dir, glob, maxFilesPerTrigger))

  private def completed(parsed: DataFrame): DataFrame =
    parsed.filter(Predicates.isCompleted(col("status")))

  /** Pipeline 2 — velocity fraud: tumbling count per account
    * (reference `:160-207`).
    *
    * `grace` is the Kafka Streams `TimeWindows.ofSizeAndGrace` knob as a
    * Spark watermark delay: a late row is still folded into its window
    * while `max(event time) - grace` has not passed the window end, and
    * dropped after — exactly the reference's grace contract. The
    * reference topology runs `ofSizeWithNoGrace` (`:175`), the default
    * here; GraceSpec pins both sides of the matrix for all three window
    * shapes. */
  def velocityAlerts(parsed: DataFrame, windowSec: Int, minTxns: Long,
      grace: String = "0 seconds"): DataFrame =
    Windows.velocityCount(
      parsed.withWatermark("event_ts", grace),
      windowSec, minTxns, tsCol = col("event_ts"))

  /** Pipeline 4 — daily spend: 24 h tumbling debit sum (reference
    * `:373-426`). `grace` as in [[velocityAlerts]]. */
  def dailySpendAlerts(parsed: DataFrame, threshold: Double,
      grace: String = "0 seconds"): DataFrame =
    Windows.dailySpend(
      completed(parsed).filter(Predicates.isDebit(col("txn_type")))
        .withWatermark("event_ts", grace),
      threshold, tsCol = col("event_ts"))

  /** Pipeline 5 — dormancy: session windows per account (reference
    * `:327-369`). `grace` is `SessionWindows.ofInactivityGapAndGrace`'s
    * second argument: a late row within grace still merges into (or
    * extends) its session; outside grace it is dropped. A session emits
    * when the watermark closes it, flagged `is_dormant` if it had one
    * event — the reference's documented alert intent (README:73-80). */
  def dormancyAlerts(parsed: DataFrame, gap: String,
      grace: String = "0 seconds"): DataFrame =
    Windows.dormancySessions(
      parsed.withWatermark("event_ts", grace),
      gap, tsCol = col("event_ts"))

  /** Streaming KTable maintenance for a dimension topic (ACCOUNTS or
    * CUSTOMERS) — the reference's KTables are CONTINUOUSLY maintained from
    * their CDC topics (`ABBankTopology.java:107-144` `.toTable(...)`); here
    * the changelog arrives as a stream (file source standing in for
    * Kafka), travels the JSON wire through the table's own codec
    * ([[graft.cdc.CdcTable.keyed]], all lazy transforms, so it lifts to
    * the streaming frame unchanged), and the latest version per key is
    * maintained as an update-mode `max_by` aggregation — state is one
    * narrow struct per key. [[ktableQuery]] runs it, and the query's state
    * store IS the KTable ([[ktableSnapshot]] reads it back). Tombstones
    * stay in state with `op = 'd'`, so the delete wins the argmax and the
    * reader drops the key (filtering them BEFORE the aggregation would
    * resurrect the previous version instead — Kafka Streams' actual
    * tombstone semantics). */
  def ktableStream(spark: SparkSession, table: CdcTable, customerDir: String,
      glob: String = "customer.parquet"): DataFrame =
    graft.ops.LatestByKey.latestByMaxBy(
      table.keyed(customerStream(spark, customerDir, glob), Wire.Json),
      Seq(table.key), struct(col("cdc_ts_us")))

  /** The customer file-stream both KTables' changelogs are built from. */
  private def customerStream(spark: SparkSession, customerDir: String,
      glob: String): DataFrame =
    spark.readStream
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .option("pathGlobFilter", glob)
      .parquet(customerDir)

  /** Start a KTable query over a [[ktableStream]]. The table lives in the
    * query's state store (the analog of the reference's KV store with
    * changelog restore, `ABBankTopology.java:67-71`), so the emitted
    * changes are discarded. */
  def ktableQuery(dim: DataFrame, checkpoint: String): StreamingQuery =
    dim.writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", checkpoint).start()

  /** The current snapshot of a [[ktableQuery]]'s table, read in batch from
    * its last committed state through Spark's state data source: one row
    * per live key, tombstoned keys absent, columns as `schema` (DDL).
    * State rows are the `max_by` aggregation's: `key` holds the key
    * columns and the first field of `value` the latest row. A query that
    * has not committed a batch yet reads as an empty table. */
  def ktableSnapshot(spark: SparkSession, checkpoint: String,
      schema: String): DataFrame = {
    val columns = StructType.fromDDL(schema)
    // the reader's tasks report to the state store coordinator, which
    // Spark starts with the session's streaming query manager
    spark.streams
    try {
      val state = spark.read.format("statestore").load(checkpoint)
      val latest = state.schema("value").dataType.asInstanceOf[StructType].head.name
      state.select(col("key.*"), col(s"value.`$latest`.*"))
        .filter(col("op") =!= "d")
        .select(columns.fieldNames.toIndexedSeq.map(col): _*)
    } catch {
      case e: SparkThrowable
          if e.getCondition == "STDS_COMMITTED_BATCH_UNAVAILABLE" =>
        spark.createDataFrame(java.util.List.of[Row](), columns)
    }
  }

  /** Pipeline 1's declared TWO-HOP form with BOTH dimensions continuously
    * maintained — the reference declares the customers hop
    * (`README.md:44`, comment `ABBankTopology.java:212-213`) but never
    * wires it; here it runs: each high-value micro-batch looks up the
    * CURRENT accounts snapshot, then the CURRENT customers snapshot, both
    * read by [[ktableSnapshot]] from the state of their own KTable queries
    * ([[ktableStream]]s run by [[ktableQuery]], checkpointed at
    * `accountsCheckpoint` / `customersCheckpoint`). Re-reading the snapshot
    * inside `foreachBatch` is exactly a Kafka Streams store lookup at batch
    * granularity — a plain stream-static join would pin the file listing
    * at query start and never see dim updates. Missing keys (including
    * tombstoned dims) take the KV-store-miss fallbacks (`:252-253`); a
    * KTable with no committed batch behaves as empty. Both dims broadcast
    * — the transaction stream never shuffles. Each micro-batch runs
    * [[Enrich.twoHopCdcEnriched]], the body of the batch
    * `q_enrich_cdc_two_hop`.
    *
    * Delivery is at-least-once, so each micro-batch lands in its own
    * `batch=<id>` subdirectory with overwrite semantics: a replayed batch
    * rewrites its directory instead of appending duplicates. Readers
    * open `outDir` with partition discovery (the `batch` column is
    * droppable metadata). */
  def highValueTwoHopCdcStream(parsed: DataFrame, accountsCheckpoint: String,
      customersCheckpoint: String, threshold: Double, outDir: String,
      checkpoint: String): StreamingQuery = {
    Enrich.highValue(parsed, threshold).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        Enrich.twoHopCdcEnriched(batch,
            ktableSnapshot(s, accountsCheckpoint, Enrich.TwoHopAccountColumns),
            ktableSnapshot(s, customersCheckpoint, Enrich.TwoHopCustomerColumns))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
  }

  /** Topological fan-out (reference `topology/ABBankTopology.java:149-153`:
    * one shared parsed stream feeds five subgraphs). For stateless sinks
    * the Spark analog is ONE streaming query whose `foreachBatch` persists
    * each micro-batch and writes every output from that single scan —
    * the source is read once per batch, not once per sink. Stateful
    * pipelines (windows/reconcile) keep their own queries so each owns its
    * state store. */
  def fanOutStateless(parsed: DataFrame, customerDim: DataFrame,
      threshold: Double, outBase: String,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Idempotent on retry/restart: each sink writes the micro-batch into
    // its batch_id=<id> partition with dynamic overwrite, so replaying a
    // batch replaces rather than duplicates (the batchId is the retry key)
    def writeIdempotent(df: DataFrame, id: Long, path: String): Unit =
      df.withColumn("batch_id", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    val writer = parsed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.persist()
        try {
          writeIdempotent(batch, id, s"$outBase/parsed")
          // F9: uuid + generatedAt stamped only here at the sink — the
          // transform output stays deterministic (reference
          // `model/NotificationEvent.java:70-71`)
          writeIdempotent(
            Notify.dispatchStamp(Enrich.highValueAlerts(batch, customerDim, threshold)),
            id, s"$outBase/hv_alerts")
          writeIdempotent(batch.filter(Predicates.isDebit(col("txn_type"))),
            id, s"$outBase/debits")
        } finally batch.unpersist()
        ()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }

  /** The late-row counter of one tracker query, `graft.late_rows.<tracker>`
    * (see [[OrderedFold]]). A named accumulator, so it appears in each
    * task's accumulables: the Spark UI and any `SparkListener` see it. */
  private def lateRows(spark: SparkSession, tracker: String): LongAccumulator =
    spark.sparkContext.longAccumulator(s"graft.late_rows.$tracker")

  /** Rolling trailing-window spend as true incremental state — the
    * streaming twin of [[graft.ops.Windows.rollingSpend]]. Each account's
    * GroupState holds only its IN-WINDOW (event_time_us, kobo) pairs, so
    * per-key state is bounded by the window's transaction count, not by
    * history; every accepted transaction emits with its own trailing
    * frame. Same-timestamp transactions arriving in one batch share their
    * frame — the batch RANGE window's peer semantics. A debit behind its
    * account's newest folded `(event_time_us, txn_id)` is dropped and
    * counted in `graft.late_rows.rolling_spend` ([[OrderedFold]]), so the
    * output equals the batch twin over the accepted debits whenever
    * equal-time peers share a batch (a frame can't retroactively absorb a
    * peer that arrives after its row was emitted). */
  def rollingSpendAlerts(spark: SparkSession, parsed: DataFrame,
      windowUs: Long = 86400L * 1000000L): Dataset[RollRow] = {
    import spark.implicits._
    completed(parsed)
      .filter(Predicates.isDebit(col("txn_type")))
      .withWatermark("event_ts", "0 seconds")
      .select(col("txn_id"), col("account_id"), col("event_time_us"),
        round(col("amount") * 100).cast("long").as("kobo"), col("event_ts"))
      .as[RollTxn]
      .groupByKey(_.account_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        RollingSpendTracker.fold(windowUs, lateRows(spark, "rolling_spend")))
  }

  /** Time-weighted average balance as incremental per-account state — the
    * streaming twin of [[graft.ops.EventAnalytics.timeWeightedBalance]]:
    * every accepted transaction extends the account's holding-interval
    * numerator Σ balance·Δt and emits the account's LIVE TWAB (the
    * continuous-accrual view a billing engine consumes; the final
    * emission per account equals the batch operator over the accepted
    * transactions). A transaction behind its account's newest folded event
    * time is dropped and counted in `graft.late_rows.twab`
    * ([[OrderedFold]]). State is O(1) per account — five scalars and the
    * seal — and lives for the account's lifetime by definition (the span
    * is first..last transaction), so there is no timeout; the numerator is
    * carried as an exact decimal STRING (kobo·micros exceeds a long and a
    * default BigDecimal encoder's 20 integer digits). Same sign-separated
    * truncating division as the batch form — integer-exact, no float
    * anywhere. */
  def twabUpdates(spark: SparkSession, parsed: DataFrame): Dataset[TwabRow] = {
    import spark.implicits._
    val signed = when(Predicates.isDebit(col("txn_type")),
        -expr("CAST(round(amount * 100) AS BIGINT)"))
      .otherwise(expr("CAST(round(amount * 100) AS BIGINT)"))
    completed(parsed)
      .withWatermark("event_ts", "0 seconds")
      .select(col("txn_id"), col("account_id"), col("event_time_us"),
        signed.as("kobo"), col("event_ts"))
      .as[TwabTxn]
      .groupByKey(_.account_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(TwabTracker.fold(lateRows(spark, "twab")))
  }

  /** Funnel conversion as incremental state + event-time timers — the
    * streaming twin of [[graft.ops.EventAnalytics.clickToPurchase]], and
    * like it the 2-step pattern: [[patternKAlerts]] over
    * (click, purchase). A purchase resolves every pending click it
    * strictly follows within the horizon (emitted immediately); a later
    * same-user event, or the event-time timer at the earliest pending
    * horizon, seals clicks whose horizon has passed. An event behind its
    * user's newest folded `(ts_us, event_id)` is dropped and counted in
    * `graft.late_rows.funnel` ([[OrderedFold]]). */
  def funnelAlerts(spark: SparkSession, events: DataFrame,
      horizonUs: Long = 3600L * 1000000L): Dataset[FunnelRow] = {
    import spark.implicits._
    patternFold(spark, events, Seq("click", "purchase"), horizonUs, "funnel")
      .map(r => FunnelRow(r.event_id, r.user_id, r.ts_us,
        r.matched_us.lift(1), r.completed))
  }

  /** 3-step sequence pattern as incremental state + event-time timers —
    * the streaming twin of [[graft.ops.EventAnalytics.threeStepPattern]]
    * (CEP: click → view → purchase, each hop strictly later within the
    * horizon of the previous step): [[patternKAlerts]] over the three
    * steps, late rows counted in `graft.late_rows.pattern3`. */
  def pattern3Alerts(spark: SparkSession, events: DataFrame,
      horizonUs: Long = 3600L * 1000000L): Dataset[Pattern3Row] = {
    import spark.implicits._
    patternKAlerts(spark, events, Seq("click", "view", "purchase"), horizonUs)
      .map(r => Pattern3Row(r.event_id, r.user_id, r.ts_us,
        r.matched_us.lift(1), r.matched_us.lift(2), r.completed))
  }

  /** k-step sequence pattern as incremental state + event-time timers —
    * the streaming twin of [[graft.ops.EventAnalytics.kStepPattern]] (the
    * 3-step machine generalized: stage index IS the matched-prefix
    * length). A pending chain at prefix length i awaits the first
    * `steps(i)` event strictly later than and within the horizon of its
    * LAST matched event; a matching arrival claims every such chain
    * (ordered folding makes "first after" local, mirroring the batch
    * frame-min); any later same-user event — or the event-time timer at
    * the earliest pending horizon — seals chains whose hop window has
    * passed, emitting the partial prefix. An event behind its user's
    * newest folded `(ts_us, event_id)` is dropped and counted in
    * `graft.late_rows.pattern<k>` ([[OrderedFold]]), so the output equals
    * the batch twin over the accepted events. Per-key state is bounded by
    * the horizon's event count × (k−1) stages. */
  def patternKAlerts(spark: SparkSession, events: DataFrame,
      steps: Seq[String],
      horizonUs: Long = 3600L * 1000000L): Dataset[PatternKRow] =
    patternFold(spark, events, steps, horizonUs, s"pattern${steps.size}")

  private def patternFold(spark: SparkSession, events: DataFrame,
      steps: Seq[String], horizonUs: Long,
      tracker: String): Dataset[PatternKRow] = {
    import spark.implicits._
    require(steps.size >= 2 && steps.distinct.size == steps.size,
      "pattern needs >= 2 distinct step types")
    events
      .withWatermark("event_ts", "0 seconds")
      .selectExpr("event_id", "user_id", "ts_us", "event_type", "event_ts")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        PatternKTracker.fold(steps, horizonUs, lateRows(spark, tracker)))
  }

  /** Pipeline 3 — balance reconciliation: true incremental per-key state via
    * `flatMapGroupsWithState` (the streaming twin of
    * [[graft.ops.Reconcile]]; reference
    * `topology/BalanceReconciliationProcessor.java:42-152`). */
  def reconcileAlerts(spark: SparkSession, parsed: DataFrame): Dataset[ReconRow] = {
    import spark.implicits._
    completed(parsed)
      .selectExpr("txn_id", "account_id", "amount", "txn_type",
        "event_time_us", "event_time_ms")
      .as[ReconTxn]
      .groupByKey(_.account_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Reconciler.process)
  }
}

/** Input row for the stateful reconciler. */
case class ReconTxn(txn_id: Long, account_id: Long, amount: Double,
    txn_type: String, event_time_us: Long, event_time_ms: Long)

/** Output row — same shape as the batch [[graft.ops.Reconcile]] operator. */
case class ReconRow(txn_id: Long, account_id: Long, event_time_ms: Long,
    balance_before: Double, balance_after: Double,
    stored_balance: Option[Double], discrepancy: Double,
    recon_status: String, severity: String)

/** Input row for the pattern trackers — `event_ts` carries the watermark
  * through the typed projection (dropping it would detach the watermark
  * from the stateful operator). */
case class FunnelEvent(event_id: Long, user_id: Long, ts_us: Long,
    event_type: String, event_ts: java.sql.Timestamp)

/** Output row — same shape as the batch funnel operator. */
case class FunnelRow(event_id: Long, user_id: Long, ts_us: Long,
    next_purchase_us: Option[Long], converted: Boolean)

/** Output row — same shape as the batch 3-step pattern operator. */
case class Pattern3Row(event_id: Long, user_id: Long, ts_us: Long,
    next_view_us: Option[Long], purchase_us: Option[Long], completed: Boolean)

/** One pending partial chain: the `steps(0)` event id plus every matched
  * timestamp so far (head = the step-0 event's own ts). The chain's stage
  * is `matched_us.length` — it awaits `steps(matched_us.length)`. */
case class PendingChain(event_id: Long, matched_us: Seq[Long])

/** k-step output row: `matched_us` is the matched step-timestamp PREFIX
  * (head = the step-0 event itself); a stalled chain's prefix stops at
  * the last matched hop. `completed` ⟺ `matched_us.length == k`. */
case class PatternKRow(event_id: Long, user_id: Long, ts_us: Long,
    matched_us: Seq[Long], completed: Boolean)

/** Stateful k-step pattern tracker — the 3-step machine with the stage
  * number generalized into the matched-prefix length. In-order processing
  * makes "first `steps(i)` after" local: a pending chain's matching event
  * is the first in-window arrival of its awaited type (any earlier one
  * would already have claimed it), mirroring the batch operator's
  * frame-min. Strictly-after at every hop — an event at exactly the
  * previous step's timestamp never matches (the batch RANGE frame's
  * 1-µs-following bound). */
object PatternKTracker {
  def fold(steps: Seq[String], horizonUs: Long, lateRows: LongAccumulator)
      : OrderedFold[FunnelEvent, Seq[PendingChain], PatternKRow] = {
    val k = steps.size
    // every chain whose hop window closed before `beforeUs` emits as a
    // stalled prefix: no matching event can arrive for it any more
    def close(userId: Long, pending: Seq[PendingChain], beforeUs: Long) = {
      val (expired, live) =
        pending.partition(_.matched_us.last + horizonUs < beforeUs)
      (live, expired.map(c => PatternKRow(c.event_id, userId,
        c.matched_us.head, c.matched_us, completed = false)))
    }
    new OrderedFold[FunnelEvent, Seq[PendingChain], PatternKRow](lateRows,
      orderKey = e => (e.ts_us, e.event_id),
      zero = Seq.empty,
      step = (prior, e) => {
        val (pending, stalled) = close(e.user_id, prior, e.ts_us)
        val stage = steps.indexOf(e.event_type)
        if (stage == 0) (pending :+ PendingChain(e.event_id, Seq(e.ts_us)), stalled)
        else if (stage < 0) (pending, stalled)
        else {
          val (hit, rest) = pending.partition(c =>
            c.matched_us.length == stage &&
              c.matched_us.last < e.ts_us &&
              e.ts_us <= c.matched_us.last + horizonUs)
          val advanced = hit.map(c =>
            c.copy(matched_us = c.matched_us :+ e.ts_us))
          if (stage < k - 1) (rest ++ advanced, stalled)
          else (rest, stalled ++ advanced.map(c => PatternKRow(c.event_id,
            e.user_id, c.matched_us.head, c.matched_us, completed = true)))
        }
      },
      expiry = Some(Expiry[Seq[PendingChain], PatternKRow](
        pending => if (pending.isEmpty) Long.MinValue
          else pending.map(_.matched_us.last).min + horizonUs,
        close)))
  }
}

/** Input/output rows for the rolling-spend tracker — `event_ts` carries
  * the watermark through the typed projection (same note as
  * [[FunnelEvent]]). */
case class RollTxn(txn_id: Long, account_id: Long, event_time_us: Long,
    kobo: Long, event_ts: java.sql.Timestamp)
case class RollRow(txn_id: Long, account_id: Long, event_time_us: Long,
    rolling_spend_kobo: Long, rolling_n_txns: Long)

/** Stateful trailing-window tracker: the buffer of (event_time_us, kobo)
  * is pruned to the window width after every batch (an entry older than
  * `seal − window` can never appear in an accepted row's frame), so state
  * size is O(window txn count) per account; the timeout at (seal + window)
  * frees an idle account's buffer. Integer-kobo money keeps every emitted
  * sum exact. */
object RollingSpendTracker {
  private def newest(buf: Seq[(Long, Long)]): Long =
    buf.foldLeft(Long.MinValue)((m, p) => math.max(m, p._1))

  def fold(windowUs: Long, lateRows: LongAccumulator)
      : OrderedFold[RollTxn, Seq[(Long, Long)], RollRow] =
    new OrderedFold[RollTxn, Seq[(Long, Long)], RollRow](lateRows,
      orderKey = e => (e.event_time_us, e.txn_id),
      zero = Seq.empty,
      step = (buf, e) => (buf :+ ((e.event_time_us, e.kobo)), Nil),
      // frames are read once the whole batch is buffered, so equal-ts
      // rows see each other — the RANGE frame's peer semantics
      endOfBatch = (buf, rows) => {
        val out = rows.map { e =>
          val ts = e.event_time_us
          val frame = buf.filter(p => p._1 >= ts - windowUs && p._1 <= ts)
          RollRow(e.txn_id, e.account_id, ts, frame.map(_._2).sum,
            frame.size.toLong)
        }
        val maxTs = newest(buf)
        (buf.filter(_._1 >= maxTs - windowUs), out)
      },
      expiry = Some(Expiry[Seq[(Long, Long)], RollRow](
        newest(_) + windowUs,
        (_, _, _) => (Seq.empty, Nil))))
}

/** Input row for the TWAB tracker (`kobo` arrives pre-signed). */
case class TwabTxn(txn_id: Long, account_id: Long, event_time_us: Long,
    kobo: Long, event_ts: java.sql.Timestamp)

/** Live TWAB emission — same shape as the batch operator's output row. */
case class TwabRow(account_id: Long, n_intervals: Long, span_us: Long,
    twab_micro_kobo: Long)

/** Per-account TWAB state: span endpoints, the current balance, the
  * interval count, and the exact Σ balance·Δt numerator as a decimal
  * string (exceeds a long; a stringly-typed exact integer survives any
  * magnitude and any encoder). */
case class TwabState(first_us: Long, last_us: Long, bal_kobo: Long,
    n_intervals: Long, num: String)

/** Stateful TWAB tracker: each event closes the holding interval the
  * previous balance occupied (equal-timestamp consecutive events close a
  * zero-length interval — counted, worth 0, exactly the batch lead()
  * semantics under the unique-txn_id ordering) and emits the account's
  * live TWAB once a positive span exists. The order key is event time
  * alone: no emitted value depends on the order of equal-time rows, and
  * the seal keeps every Δt non-negative. */
object TwabTracker {
  private def twabMicro(num: BigInt, spanUs: Long): Long = {
    // truncation toward zero on the separated magnitude == floor on the
    // non-negative operand — matches the batch `div` and DuckDB `//`
    val q = (num.abs * 1000000) / spanUs
    (if (num.signum < 0) -q else q).toLong
  }

  def fold(lateRows: LongAccumulator)
      : OrderedFold[TwabTxn, Option[TwabState], TwabRow] =
    new OrderedFold[TwabTxn, Option[TwabState], TwabRow](lateRows,
      orderKey = e => (e.event_time_us, 0L),
      zero = None,
      step = {
        case (None, e) =>
          (Some(TwabState(e.event_time_us, e.event_time_us, e.kobo, 0L, "0")), Nil)
        case (Some(st), e) =>
          val num = BigInt(st.num) +
            BigInt(st.bal_kobo) * (e.event_time_us - st.last_us)
          val next = TwabState(st.first_us, e.event_time_us,
            st.bal_kobo + e.kobo, st.n_intervals + 1, num.toString)
          val span = next.last_us - next.first_us
          (Some(next),
            if (span > 0) Seq(TwabRow(e.account_id, next.n_intervals, span,
              twabMicro(num, span)))
            else Nil)
      })
}

/** Per-account sequential reconciliation with one Double of state — the
  * streaming analog of the reference's RocksDB `account-balance-store`.
  * Events are ordered (event_time_us, txn_id) within each micro-batch;
  * cross-batch order follows stream arrival, as in the reference. */
object Reconciler {

  private def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  def process(accountId: Long, events: Iterator[ReconTxn],
      state: GroupState[Double]): Iterator[ReconRow] = {
    val sorted = events.toSeq.sortBy(e => (e.event_time_us, e.txn_id))
    var stored: Option[Double] = state.getOption
    val out = sorted.map { e =>
      val signed = if (graft.ops.Predicates.debitTypes.contains(e.txn_type)) -e.amount else e.amount
      val after = round2(stored.getOrElse(0.0) + signed)
      val before = round2(after - signed + (if (e.txn_id % 97 == 0) graft.ops.Reconcile.InjectedError else 0.0))
      val disc = stored match {
        case None => 0.0
        case Some(s) => round2(math.abs(before - s))
      }
      val status =
        if (stored.isEmpty) "BOOTSTRAP"
        else if (disc > graft.ops.Reconcile.ToleranceNgn) "DISCREPANCY"
        else "BALANCE_UPDATE"
      val row = ReconRow(e.txn_id, e.account_id, e.event_time_ms,
        before, after, stored, disc, status,
        if (status == "DISCREPANCY") "HIGH" else "LOW")
      stored = Some(after)
      row
    }
    stored.foreach(state.update)
    out.iterator
  }
}
