package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.cdc.{DimensionCdc, EnvelopeOps, Wire}
import graft.ops.{Predicates, Reconcile, Windows}

/** Streaming pipelines must agree with their batch twins — the batch
  * operators are the oracle-verified semantics, so each streaming pipeline
  * is tested for equivalence on the same input (sf0.001 events). */
class PipelinesSpec extends SparkSpecBase {

  private def runToTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private lazy val batchParsed =
    EnvelopeOps.upsertsOnly(
      EnvelopeOps.parsedTransactions(Tables.events(spark, sf0001)))

  private lazy val batchCompleted =
    batchParsed.filter(Predicates.isCompleted(col("status")))

  // reconciliation, rolling spend and TWAB against their batch twins, as
  // compared by their single-batch tests and at the production state width
  private def reconRows(df: DataFrame) =
    df.select("txn_id", "balance_after", "recon_status").collect().toSet
  private lazy val reconWant = reconRows(Reconcile.reconcile(batchCompleted))

  private def rollingRows(df: DataFrame) =
    df.select("txn_id", "rolling_spend_kobo", "rolling_n_txns").collect().toSet
  private lazy val rollingWant = rollingRows(Windows.rollingSpend(
    batchCompleted.filter(Predicates.isDebit(col("txn_type"))), windowSec = 86400L))

  private def twabRows(df: DataFrame) = {
    import spark.implicits._
    df.as[(Long, Long, Long, Long)].collect()
  }
  /** The LAST emission (max interval count) per account is the full-span
    * TWAB; earlier emissions are the live prefix view. */
  private def twabFinal(emissions: DataFrame) =
    twabRows(emissions).groupBy(_._1).map(_._2.maxBy(_._2)).toSet
  private lazy val twabWant =
    twabRows(graft.ops.EventAnalytics.timeWeightedBalance(batchCompleted)).toSet

  test("streaming high-value alerts == batch notification query") {
    val stream = graft.ops.Enrich.highValueAlerts(
      Pipelines.parsedStream(spark, sf0001),
      Tables.customer(spark, sf0001), threshold = 200.0)
    val got = runToTable(stream, "hv_stream", "append")
      .select("txn_id", "notification").collect().toSet
    val want = graft.SparkEntry.queries("q_notification_json")(spark, sf0001)
      .collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("the file-stream decode reaches Catalyst as one Filter and one Project") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    // each trigger re-analyzes, re-optimizes and re-plans this plan (and
    // plans it again to print it), so the decode chain must not grow back
    val plan = Pipelines.parsedStreamFromPath(spark, sf0001, "events.parquet")
      .queryExecution.analyzed
    val leaves = plan.collectLeaves()
    assert(leaves.size === 1 && leaves.head.isStreaming, plan.treeString)
    assert(plan.collect { case p: Project => p }.size <= 1, plan.treeString)
    assert(plan.collect { case f: Filter => f }.size <= 1, plan.treeString)
  }

  test("Avro-wire streaming ingestion == batch parse (the Kafka-source swap seam)") {
    import graft.cdc.AvroWire
    val dir = Files.createTempDirectory("graft_avro_wire_stream").toString + "/frames"
    // publish the corpus as (key, value) binary frames — the Kafka shape
    val events = Tables.events(spark, sf0001)
    AvroWire.encodeAvroEnvelope(EnvelopeOps.synthesizeTxnEnvelope(events))
      .select(lit(null).cast("binary").as("key"), col("value"))
      .write.parquet(dir)
    val got = runToTable(
      Pipelines.parsedWireStreamAvro(spark, dir), "avro_wire_stream", "append")
      .drop("event_ts").collect().toSet
    val want = batchParsed.collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming CDC-dim enrichment == batch q_enrich_cdc_dim (stream-KTable join)") {
    val stream = graft.ops.Enrich.highValueCdcEnriched(
      Pipelines.parsedStream(spark, sf0001),
      DimensionCdc.Accounts.dim(Tables.customer(spark, sf0001), Wire.Json),
      threshold = 200.0)
    val got = runToTable(stream, "hv_cdc_stream", "append").collect().toSet
    val want = graft.SparkEntry.queries("q_enrich_cdc_dim")(spark, sf0001)
      .collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
    // tombstoned accounts surface with the KV-store-miss fallback
    assert(got.exists(_.getAs[String]("account_number") == "N/A"))
  }

  test("streaming two-hop CDC enrichment (both KTables maintained) == batch q_enrich_cdc_two_hop") {
    val base = Files.createTempDirectory("graft_twohop").toString
    // both KTables continuously maintained from their changelog streams
    val acctQ = Pipelines.ktableQuery(
      Pipelines.ktableStream(spark, DimensionCdc.Accounts, sf0001), s"$base/ckpt_acct")
    val custQ = Pipelines.ktableQuery(
      Pipelines.ktableStream(spark, DimensionCdc.Customers, sf0001), s"$base/ckpt_cust")
    acctQ.processAllAvailable(); custQ.processAllAvailable()
    acctQ.stop(); custQ.stop()

    val q = Pipelines.highValueTwoHopCdcStream(
      Pipelines.parsedStream(spark, sf0001),
      s"$base/ckpt_acct", s"$base/ckpt_cust", threshold = 200.0,
      outDir = s"$base/out", checkpoint = s"$base/ckpt_join")
    q.processAllAvailable(); q.stop()

    val got = spark.read.parquet(s"$base/out").drop("batch").collect().toSet
    val want = graft.SparkEntry.queries("q_enrich_cdc_two_hop")(spark, sf0001)
      .collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
    // the second hop actually resolved names (not all fallbacks)
    assert(got.exists(_.getAs[String]("customer_name") != "N/A"))
    // and tombstoned dims fall back like KV-store misses
    assert(got.exists(_.getAs[String]("customer_name") == "N/A"))
  }

  test("streaming velocity (complete mode) == batch velocity operator") {
    val stream = Pipelines.velocityAlerts(
      Pipelines.parsedStream(spark, sf0001), windowSec = 3600, minTxns = 2L)
    val got = runToTable(stream, "vel_stream", "complete").collect().toSet
    val want = Windows.velocityCount(batchParsed, 3600, 2L).collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming daily spend (complete mode) == batch daily operator") {
    val stream = Pipelines.dailySpendAlerts(
      Pipelines.parsedStream(spark, sf0001), threshold = 150.0)
    val got = runToTable(stream, "daily_stream", "complete").collect().toSet
    val want = Windows.dailySpend(
      batchParsed.filter(Predicates.isCompleted(col("status")) &&
        Predicates.isDebit(col("txn_type"))), 150.0).collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming reconciliation (flatMapGroupsWithState) == batch lag() operator") {
    val stream = Pipelines.reconcileAlerts(spark,
      Pipelines.parsedStream(spark, sf0001))
    val got = reconRows(runToTable(stream.toDF(), "recon_stream", "append"))
    assert(got === reconWant)
    assert(got.nonEmpty)
  }

  test("streaming rolling spend (flatMapGroupsWithState) == batch RANGE window") {
    val stream = Pipelines.rollingSpendAlerts(spark,
      Pipelines.parsedStream(spark, sf0001))
    val got = rollingRows(runToTable(stream.toDF(), "rolling_stream", "append"))
    assert(got === rollingWant)
    assert(got.nonEmpty)
  }

  test("streaming TWAB (O(1) state) final emission per account == batch operator") {
    val stream = Pipelines.twabUpdates(spark,
      Pipelines.parsedStream(spark, sf0001))
    val got = twabFinal(runToTable(stream.toDF(), "twab_stream", "append"))
    assert(got === twabWant)
    assert(got.nonEmpty)
  }

  test("reconciliation, rolling spend and TWAB at the production state width, " +
      "one time-ordered file per trigger == batch twins") {
    import java.nio.file.Paths
    import java.nio.file.attribute.FileTime
    // the sf0.001 events cut into event-time ranges, one file each, with
    // mtimes in the same order (the file source reads the oldest first)
    val dir = Files.createTempDirectory("graft_width").toString
    val raw = Tables.events(spark, sf0001).drop("ts_us", "event_ts")
    val nFiles = 4
    val Seq(lo, hi) = raw.agg(min("ts_ns"), max("ts_ns")).head().toSeq.map(_.asInstanceOf[Long])
    val step = (hi - lo) / nFiles + 1
    (0 until nFiles).foreach { f =>
      val staging = Files.createTempDirectory("graft_width_stage").toString
      raw.filter(col("ts_ns") >= lo + f * step && col("ts_ns") < lo + (f + 1) * step)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(s"$dir/events_$f.parquet")
      Files.copy(part.toPath, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1600000000000L + f * 10000L))
    }

    val width = graft.GraftSession.statePartitions(4)
    withStatePartitions(width) {
      def parsed() = Pipelines.parsedStreamFromPath(spark, dir, "*.parquet", Some(1))
      val outs = Seq(
        "recon_width" -> Pipelines.reconcileAlerts(spark, parsed()).toDF(),
        "rolling_width" -> Pipelines.rollingSpendAlerts(spark, parsed()).toDF(),
        "twab_width" -> Pipelines.twabUpdates(spark, parsed()).toDF()
      ).map { case (name, df) =>
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          val progress = q.recentProgress.filter(_.numInputRows > 0)
          assert(progress.length === nFiles, name)
          assert(progress.flatMap(_.stateOperators).map(_.numShufflePartitions).toSet ===
            Set(width.toLong), name)
        } finally q.stop()
        spark.table(name)
      }
      val Seq(recon, rolling, twab) = outs
      assert(reconRows(recon) === reconWant)
      assert(rollingRows(rolling) === rollingWant)
      assert(twabFinal(twab) === twabWant)
    }
  }

  test("late files at the production state width: rolling spend, TWAB, funnel " +
      "and pattern3 drop and count each row behind its key's seal, and equal " +
      "their batch twins over the rows they accept") {
    import java.nio.file.Paths
    import java.nio.file.attribute.FileTime
    import org.apache.spark.GraftListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import spark.implicits._
    // the width test's four event-time files with the last two arriving
    // swapped, then a sentinel event 10 days later that moves the
    // watermark past every pending pattern horizon
    val dir = Files.createTempDirectory("graft_late").toString
    val raw = Tables.events(spark, sf0001).drop("ts_us", "event_ts")
    val nFiles = 4
    val Seq(lo, hi) = raw.agg(min("ts_ns"), max("ts_ns")).head().toSeq.map(_.asInstanceOf[Long])
    val step = (hi - lo) / nFiles + 1
    val Seq(maxEvent, maxUser) = raw.agg(max("event_id"), max("user_id")).head().toSeq.map(_.asInstanceOf[Long])
    val files = (0 until nFiles).map(f =>
      raw.filter(col("ts_ns") >= lo + f * step && col("ts_ns") < lo + (f + 1) * step)) :+
      raw.limit(1).withColumn("event_id", lit(maxEvent + 1))
        .withColumn("ts_ns", lit(hi + 10L * 86400L * 1000000000L))
        .withColumn("user_id", lit(maxUser + 1)).withColumn("event_type", lit("view"))
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val arrival = Seq(0, 1, 3, 2, 4)
    arrival.zipWithIndex.foreach { case (f, pos) =>
      val staging = Files.createTempDirectory("graft_late_stage").toString
      files(f).coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(s"$dir/events_$f.parquet")
      Files.copy(part.toPath, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1600000000000L + pos * 10000L))
    }

    // the batch view of the same feed, each row tagged with its file's
    // arrival position
    val position = arrival.zipWithIndex.flatMap { case (f, pos) =>
      files(f).select("event_id").as[Long].collect().map(_ -> pos)
    }.toMap
    val events = Tables.deriveEventTime(files.reduce(_ union _))
    val completed = EnvelopeOps.upsertsOnly(EnvelopeOps.parsedTransactions(events))
      .filter(Predicates.isCompleted(col("status")))
    val debits = completed.filter(Predicates.isDebit(col("txn_type")))
    /** (arrival position, key, order key, id) of each row a tracker folds. */
    def modelRows(df: DataFrame, id: String, key: String, ts: String,
        tie: Option[String]) =
      df.select(col(id), col(key), col(ts), tie.fold(lit(0L))(col))
        .as[(Long, Long, Long, Long)].collect().toSeq
        .map { case (i, k, t, b) => (position(i), k, (t, b), i) }
    /** Ids of the rows a per-key seal model accepts: files in arrival
      * order, each sorted by order key; a row strictly behind the greatest
      * order key its key has folded is rejected. */
    def sealAccepted(rows: Seq[(Int, Long, (Long, Long), Long)]): Set[Long] = {
      val seal = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      rows.sortBy(r => (r._1, r._3)).filter { case (_, key, k, _) =>
        val accept = seal.get(key).forall(Ordering[(Long, Long)].gteq(k, _))
        if (accept) seal(key) = k
        accept
      }.map(_._4).toSet
    }
    val rollingIn = modelRows(debits, "txn_id", "account_id", "event_time_us", Some("txn_id"))
    val twabIn = modelRows(completed, "txn_id", "account_id", "event_time_us", None)
    val eventsIn = modelRows(events, "event_id", "user_id", "ts_us", Some("event_id"))

    val late = scala.collection.concurrent.TrieMap.empty[String, Long]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.filter(_.name.exists(_.startsWith("graft.late_rows.")))
          .foreach(a => late(a.name.get) =
            late.getOrElse(a.name.get, 0L) + a.update.fold(0L)(_.toString.toLong))
    }
    val width = graft.GraftSession.statePartitions(4)
    val dropped = withStatePartitions(width) {
      def parsed() = Pipelines.parsedStreamFromPath(spark, dir, "*.parquet", Some(1))
      def stream() = Pipelines.eventStreamFromPath(spark, dir, "*.parquet", Some(1))
      spark.sparkContext.addSparkListener(listener)
      try Seq(
        "rolling_late" -> Pipelines.rollingSpendAlerts(spark, parsed()).toDF(),
        "twab_late" -> Pipelines.twabUpdates(spark, parsed()).toDF(),
        "funnel_late" -> Pipelines.funnelAlerts(spark, stream()).toDF(),
        "pattern3_late" -> Pipelines.pattern3Alerts(spark, stream()).toDF()
      ).map { case (name, df) =>
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          q.processAllAvailable() // rethrows if the query died
          name -> q.recentProgress.flatMap(_.stateOperators)
            .map(_.numRowsDroppedByWatermark).sum
        } finally q.stop()
      }.toMap
      finally {
        GraftListenerBusDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    /** accepted + counted late + dropped by Spark's watermark filter ==
      * the rows the tracker was fed; returns the accepted ids. */
    def accounted(name: String, tracker: String,
        in: Seq[(Int, Long, (Long, Long), Long)]): Seq[Long] = {
      val accepted = sealAccepted(in)
      assert(accepted.size + late.getOrElse(s"graft.late_rows.$tracker", 0L) +
        dropped(name) === in.size.toLong, name)
      accepted.toSeq
    }
    val rollingOk = accounted("rolling_late", "rolling_spend", rollingIn)
    val twabOk = accounted("twab_late", "twab", twabIn)
    val funnelOk = accounted("funnel_late", "funnel", eventsIn)
    val patternOk = accounted("pattern3_late", "pattern3", eventsIn)
    // the swap really lands rows behind their keys' seals
    Seq("rolling_spend", "twab", "funnel", "pattern3").foreach(t =>
      assert(late.getOrElse(s"graft.late_rows.$t", 0L) > 0L, t))

    assert(rollingRows(spark.table("rolling_late")) === rollingRows(
      Windows.rollingSpend(debits.filter(col("txn_id").isin(rollingOk: _*)),
        windowSec = 86400L)))
    assert(twabFinal(spark.table("twab_late")) === twabRows(
      graft.ops.EventAnalytics.timeWeightedBalance(
        completed.filter(col("txn_id").isin(twabOk: _*)))).toSet)
    val funnelCols = Seq("event_id", "next_purchase_us", "converted")
    assert(spark.table("funnel_late").select(funnelCols.map(col): _*).collect().toSet ===
      graft.ops.EventAnalytics.clickToPurchase(
        events.filter(col("event_id").isin(funnelOk: _*)), withinSec = 3600L)
        .select(funnelCols.map(col): _*).collect().toSet)
    val p3Cols = Seq("event_id", "next_view_us", "purchase_us", "completed")
    assert(spark.table("pattern3_late").select(p3Cols.map(col): _*).collect().toSet ===
      graft.ops.EventAnalytics.threeStepPattern(
        events.filter(col("event_id").isin(patternOk: _*)), withinSec = 3600L)
        .select(p3Cols.map(col): _*).collect().toSet)
  }

  /** Folds `first`, then `late` as a later batch through a fresh tracker
    * and checks the lateness policy: the late batch emits nothing, leaves
    * the state as it was and is counted, one per row. */
  private def assertLateDropped[E, S, O](
      fold: org.apache.spark.util.LongAccumulator => OrderedFold[E, S, O],
      key: Long, first: Seq[E], late: Seq[E]): Unit = {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val counter = spark.sparkContext.longAccumulator("graft.late_rows.test")
    val f = fold(counter)
    val state = TestGroupState.create[Sealed[S]](
      Optional.empty(), GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L, eventTimeWatermarkMs = Optional.of(1L),
      hasTimedOut = false)
    assert(f(key, first.iterator, state).nonEmpty)
    val sealedState = state.get
    assert(f(key, late.iterator, state).isEmpty)
    assert(state.get === sealedState)
    assert(counter.value === late.size.toLong)
  }

  test("TWAB tracker drops and counts a row behind its key's seal") {
    def txn(id: Long, tsUs: Long) = TwabTxn(id, 7L, tsUs, 100L,
      new java.sql.Timestamp(tsUs / 1000))
    // folded, ts 1_500_000 after 2_000_000 would make Δt negative and
    // corrupt the exact numerator
    assertLateDropped[TwabTxn, Option[TwabState], TwabRow](TwabTracker.fold, 7L,
      Seq(txn(1, 1000000L), txn(2, 2000000L)), Seq(txn(3, 1500000L)))
  }

  test("streaming funnel (state + timers) == batch conditional RANGE frame") {
    import spark.implicits._
    val base = 1700000000000000000L
    val secNs = 1000000000L
    // each user's stream ends with a far view, so every click is sealed
    // in-batch by a later same-user event (the in-order contract's
    // purchase-impossibility proof) — full equality with the batch twin
    val rows = Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base + 10 * secNs, 7L, "purchase", 1.0),        // converts 1
      (3L, base + 20 * secNs, 7L, "click", 1.0),           // never converts
      (4L, base + 7200 * secNs, 7L, "view", 1.0),          // seals 3
      (5L, base, 9L, "click", 1.0),
      (6L, base, 9L, "purchase", 1.0),                     // same-ts: no convert
      (7L, base + 30 * secNs, 9L, "purchase", 1.0),        // converts 5
      (8L, base + 9000 * secNs, 9L, "view", 1.0))
    val dir = Files.createTempDirectory("graft_funnel").toString + "/in"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.parquet(dir)
    val stream = Pipelines.funnelAlerts(spark,
      Pipelines.eventStreamFromPath(spark, dir))
    val got = runToTable(stream.toDF(), "funnel_stream", "append")
      .select("event_id", "next_purchase_us", "converted").collect().toSet
    val want = graft.ops.EventAnalytics.clickToPurchase(
        eventsDf(rows), withinSec = 3600L)
      .select("event_id", "next_purchase_us", "converted").collect().toSet
    assert(got === want)
    assert(got.size === 3)
  }

  test("streaming 3-step pattern (two-stage state) == batch window+join form") {
    import spark.implicits._
    val base = 1700000000000000000L
    val secNs = 1000000000L
    // every user's stream ends with a far 'error' event so all pending
    // entries seal in-batch (same in-order contract as the funnel test)
    val rows = Seq(
      (1L, base, 7L, "click", 1.0),                       // full chain
      (2L, base + 10 * secNs, 7L, "view", 1.0),
      (3L, base + 20 * secNs, 7L, "purchase", 1.0),
      (4L, base + 100 * secNs, 7L, "click", 1.0),         // view, no purchase
      (5L, base + 110 * secNs, 7L, "view", 1.0),
      (6L, base + 90000 * secNs, 7L, "error", 1.0),
      (7L, base, 9L, "click", 1.0),                       // view out of horizon
      (8L, base + 4000 * secNs, 9L, "view", 1.0),
      (9L, base, 11L, "click", 1.0),                      // same-ts view: no match
      (10L, base, 11L, "view", 1.0),
      (11L, base + 5 * secNs, 11L, "view", 1.0),          // real hop 1
      (12L, base + 3600 * secNs + 5 * secNs, 11L, "purchase", 1.0), // == v+h edge
      (13L, base + 90000 * secNs, 9L, "error", 1.0),
      (14L, base + 90000 * secNs, 11L, "error", 1.0))
    val dir = Files.createTempDirectory("graft_p3").toString + "/in"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.parquet(dir)
    val stream = Pipelines.pattern3Alerts(spark,
      Pipelines.eventStreamFromPath(spark, dir))
    val got = runToTable(stream.toDF(), "p3_stream", "append")
      .select("event_id", "next_view_us", "purchase_us", "completed")
      .collect().toSet
    val want = graft.ops.EventAnalytics.threeStepPattern(
        eventsDf(rows), withinSec = 3600L)
      .select("event_id", "next_view_us", "purchase_us", "completed")
      .collect().toSet
    assert(got === want)
    assert(got.size === 4)
    assert(got.count(_.getBoolean(3)) === 2) // chains 1 and 9 complete
  }

  test("streaming k-step pattern (k=4) == batch kStepPattern") {
    import spark.implicits._
    val base = 1700000000000000000L
    val secNs = 1000000000L
    // every user's stream ends with a far 'error' event so all pending
    // chains seal in-batch (same in-order contract as the 3-step test)
    val rows = Seq(
      (1L, base, 7L, "signup", 1.0),                      // full 4-chain
      (2L, base + 10 * secNs, 7L, "click", 1.0),
      (3L, base + 20 * secNs, 7L, "view", 1.0),
      (4L, base + 30 * secNs, 7L, "purchase", 1.0),
      (5L, base + 90000 * secNs, 7L, "error", 1.0),
      (6L, base, 9L, "signup", 1.0),                      // stalls at hop 3
      (7L, base + 10 * secNs, 9L, "click", 1.0),
      (8L, base + 20 * secNs, 9L, "view", 1.0),
      (9L, base + 90000 * secNs, 9L, "error", 1.0),
      (10L, base, 11L, "signup", 1.0),                    // click out of horizon
      (11L, base + 4000 * secNs, 11L, "click", 1.0),
      (12L, base + 90000 * secNs, 11L, "error", 1.0))
    val dir = Files.createTempDirectory("graft_pk").toString + "/in"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.parquet(dir)
    val steps = Seq("signup", "click", "view", "purchase")
    val stream = Pipelines.patternKAlerts(spark,
      Pipelines.eventStreamFromPath(spark, dir), steps)
    val got = runToTable(stream.toDF(), "pk_stream", "append")
      .as[(Long, Long, Long, Seq[Long], Boolean)].collect()
      .map(r => (r._1, r._4, r._5)).toSet
    // batch rows -> matched prefix (step-0 ts plus hops until first stall)
    val want = graft.ops.EventAnalytics.kStepPattern(
        eventsDf(rows), steps, withinSec = 3600L)
      .select("event_id", "ts_us", "step1_us", "step2_us", "step3_us", "completed")
      .collect().map { r =>
        val hops = (2 to 4).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))
          .takeWhile(_.isDefined).flatten
        (r.getLong(0), r.getLong(1) +: hops, r.getBoolean(5))
      }.toSet
    assert(got === want)
    assert(got.size === 3)
    assert(got.count(_._3) === 1)
  }

  test("streaming 3-step pattern: stalled second hop expires via timer") {
    import spark.implicits._
    val base = 1700000000000000000L
    val hourNs = 3600L * 1000000000L
    val dir = Files.createTempDirectory("graft_p3_t").toString
    // user 7 reaches stage 2 (click+view) but no purchase ever comes;
    // the sentinel batch advances the watermark past view+horizon
    val chunk1 = Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base + hourNs / 2, 7L, "view", 1.0))
    val sentinel = Seq((3L, base + 10 * hourNs, 9L, "view", 1.0))
    def write(rows: Seq[(Long, Long, Long, String, Double)], f: String): Unit = {
      val staging = Files.createTempDirectory("graft_stage_p3").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/$f.parquet"))
    }
    write(chunk1, "c1"); Thread.sleep(20); write(sentinel, "c2")
    val stream = Pipelines.pattern3Alerts(spark,
      Pipelines.eventStreamFromPath(spark, dir, maxFilesPerTrigger = Some(1)))
    val got = runToTable(stream.toDF(), "p3_timer_stream", "append")
      .select("event_id", "next_view_us", "purchase_us", "completed")
      .collect().toSet
    assert(got === Set(org.apache.spark.sql.Row(1L,
      (base + hourNs / 2) / 1000, null, false)))
  }

  test("streaming funnel: unresolved click expires via event-time timer") {
    import spark.implicits._
    val base = 1700000000000000000L
    val hourNs = 3600L * 1000000000L
    val dir = Files.createTempDirectory("graft_funnel_t").toString
    // chunk1: user 7's lone click + another user's far event advancing the
    // watermark past the click's horizon; chunk2 triggers the timer fire
    val chunk1 = Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base + 3 * hourNs, 8L, "view", 1.0))
    val sentinel = Seq((3L, base + 10 * hourNs, 9L, "view", 1.0))
    def write(rows: Seq[(Long, Long, Long, String, Double)], f: String): Unit = {
      val staging = Files.createTempDirectory("graft_stage_f").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/$f.parquet"))
    }
    write(chunk1, "c1"); Thread.sleep(20); write(sentinel, "c2")
    val stream = Pipelines.funnelAlerts(spark,
      Pipelines.eventStreamFromPath(spark, dir, maxFilesPerTrigger = Some(1)))
    val got = runToTable(stream.toDF(), "funnel_timer_stream", "append")
      .select("event_id", "converted").collect().toSet
    assert(got === Set(org.apache.spark.sql.Row(1L, false)))
  }

  test("streaming dormancy sessions close on watermark advance (append mode)") {
    import spark.implicits._
    // two files -> two micro-batches; the sentinel advances the watermark so
    // chunk-1 sessions whose (last event + gap) <= max(chunk-1 ts) emit.
    val dir = Files.createTempDirectory("graft_sess").toString
    val base = 1700000000000000000L
    val hourNs = 3600L * 1000000000L
    val chunk1 = Seq(
      (1L, base, 7L, "purchase", 1.0),
      (2L, base + hourNs, 7L, "purchase", 1.0),          // same session as 1
      (3L, base + 200 * hourNs, 7L, "purchase", 1.0),    // new session (gap 48h)
      (4L, base + 400 * hourNs, 8L, "view", 1.0))        // advances max ts
    val sentinel = Seq((5L, base + 2000 * hourNs, 9L, "view", 1.0))
    // flat dir of single .parquet FILES (the source monitors a directory)
    def write(rows: Seq[(Long, Long, Long, String, Double)], f: String): Unit = {
      val staging = Files.createTempDirectory("graft_stage").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/$f.parquet"))
    }
    write(chunk1, "c1"); Thread.sleep(20); write(sentinel, "c2")

    val stream = Pipelines.dormancyAlerts(
      Pipelines.parsedStreamFromPath(spark, dir, maxFilesPerTrigger = Some(1)),
      gap = "48 hours")
    val got = runToTable(stream, "sess_stream", "append")
      .select("account_id", "session_start_ms", "n_events", "is_dormant")
      .collect().toSet

    // batch twin on chunk1, restricted to sessions closed by the final
    // watermark (= the sentinel's event time; its own session stays open)
    val sentinelTsMs = (base + 2000 * hourNs) / 1000000
    val want = Windows.dormancySessions(txns(chunk1), "48 hours")
      .filter(col("session_end_ms") <= sentinelTsMs)
      .select("account_id", "session_start_ms", "n_events", "is_dormant")
      .collect().toSet
    assert(got === want)
    assert(got.nonEmpty) // user 7's two sessions closed well before max ts
  }
}
