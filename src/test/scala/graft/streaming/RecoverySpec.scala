package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Fault-tolerance: the reconciliation pipeline's per-account state must
  * survive a stop/restart from checkpoint (the analog of the reference's
  * RocksDB store + changelog restore —
  * `config/ABBankStreamsConfig.java:31-35`, SURVEY §4). */
class RecoverySpec extends SparkSpecBase {
  import spark.implicits._

  /** One parquet file of raw events `dir/f.parquet`, written elsewhere and
    * copied in whole (the file source lists the directory). */
  private def writeFile(dir: String, rows: Seq[(Long, Long, Long, String, Double)],
      f: String): Unit =
    writeFile(dir, rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}")), f)

  private def writeFile(dir: String, events: org.apache.spark.sql.DataFrame,
      f: String): Unit = {
    val staging = Files.createTempDirectory("graft_rec_st").toString
    events.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/$f.parquet"))
  }

  test("flatMapGroupsWithState balance survives query restart from checkpoint") {
    val dir = Files.createTempDirectory("graft_rec_in").toString
    val ckpt = Files.createTempDirectory("graft_rec_ck").toString
    val base = 1700000000000000000L

    // memory sink can't recover from checkpoint; use the parquet file sink
    val outDir = Files.createTempDirectory("graft_rec_out").toString
    def runBatch(): Unit = {
      val out = Pipelines.reconcileAlerts(spark,
        Pipelines.parsedStreamFromPath(spark, dir)).toDF()
      val q = out.writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    def results() = spark.read.parquet(outDir)

    // batch 1: one purchase for account 7 -> balance -100, BOOTSTRAP
    writeFile(dir, Seq((1L, base, 7L, "purchase", 100.0)), "f1")
    runBatch()
    val r1 = results().filter($"txn_id" === 1).head()
    assert(r1.getAs[String]("recon_status") === "BOOTSTRAP")
    assert(r1.getAs[Double]("balance_after") === -100.0)

    // stop + restart from the same checkpoint with a new file appended
    writeFile(dir, Seq((2L, base + 1000000000L, 7L, "signup", 30.0)), "f2")
    runBatch()
    val r2 = results().filter($"txn_id" === 2).head()
    // state restored: stored_balance = -100 (not BOOTSTRAP), new bal -70
    assert(r2.getAs[String]("recon_status") === "BALANCE_UPDATE")
    assert(r2.getAs[Double]("stored_balance") === -100.0)
    assert(r2.getAs[Double]("balance_after") === -70.0)
  }

  test("after a restart, reconcile's stored balance per account, read through " +
      "the state data source, equals the last balance_after of its batch twin") {
    val dir = Files.createTempDirectory("graft_recb_in").toString
    val ckpt = Files.createTempDirectory("graft_recb_ck").toString
    val outDir = Files.createTempDirectory("graft_recb_out").toString
    def runBatch(): Unit = {
      val q = Pipelines.reconcileAlerts(spark,
          Pipelines.parsedStreamFromPath(spark, dir)).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    // sf0.001's events in two event-time halves, the second after a restart
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    val times = raw.select("ts").orderBy("ts").collect()
    val cut = times(times.length / 2).get(0)
    Seq("f1" -> (col("ts") < lit(cut)), "f2" -> (col("ts") >= lit(cut)))
      .foreach { case (f, half) => writeFile(dir, raw.filter(half), f); runBatch() }

    val stored = spark.read.format("statestore").load(ckpt)
      .select(col("key.value").as("account_id"),
        col("value.groupState.value").as("balance"))
      .as[(Long, Double)].collect().toMap
    val order = graft.cdc.EnvelopeOps.parsedTransactions(
      graft.Tables.events(spark, sf0001)).select("txn_id", "event_time_us")
    val want = graft.SparkEntry.queries("q_balance_reconcile")(spark, sf0001)
      .join(order, "txn_id")
      .groupBy("account_id")
      .agg(max_by(col("balance_after"), struct(col("event_time_us"), col("txn_id"))))
      .as[(Long, Double)].collect().toMap
    assert(stored === want)
    assert(stored.size > 1)
  }

  test("funnel pending-click state and timers survive restart from checkpoint") {
    val dir = Files.createTempDirectory("graft_recf_in").toString
    val ckpt = Files.createTempDirectory("graft_recf_ck").toString
    val base = 1700000000000000000L
    val hourNs = 3600L * 1000000000L

    val outDir = Files.createTempDirectory("graft_recf_out").toString
    def runBatch(): Unit = {
      val out = Pipelines.funnelAlerts(spark,
        Pipelines.eventStreamFromPath(spark, dir)).toDF()
      val q = out.writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    def results() = spark.read.parquet(outDir)

    // run 1: two clicks land in state, nothing resolves yet
    writeFile(dir, Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base + hourNs / 2, 7L, "click", 1.0)), "f1")
    runBatch()
    assert(results().count() === 0)

    // restart 1: a purchase 40 min after click 2 — converts ONLY click 2
    // (click 1's horizon passed), and the same event's arrival seals
    // click 1 unconverted. Both clicks came from restored state.
    writeFile(dir, Seq(
      (3L, base + hourNs / 2 + 2400L * 1000000000L, 7L, "purchase", 1.0)), "f2")
    runBatch()
    val rows = results().collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((Option(r.getAs[Any]("next_purchase_us")).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("converted")))).toMap
    assert(rows.keySet === Set(1L, 2L))
    assert(rows(1L) === ((None, false)))
    assert(rows(2L) ===
      ((Some((base + hourNs / 2 + 2400L * 1000000000L) / 1000), true)))
  }

  test("3-step pattern two-stage state survives restart from checkpoint") {
    val dir = Files.createTempDirectory("graft_recp_in").toString
    val ckpt = Files.createTempDirectory("graft_recp_ck").toString
    val base = 1700000000000000000L
    val minNs = 60L * 1000000000L

    val outDir = Files.createTempDirectory("graft_recp_out").toString
    def runBatch(): Unit = {
      val out = Pipelines.pattern3Alerts(spark,
        Pipelines.eventStreamFromPath(spark, dir)).toDF()
      val q = out.writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    def results() = spark.read.parquet(outDir)

    // run 1: click + its view — the pair is promoted to STAGE-2 state,
    // nothing emits yet
    writeFile(dir, Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base + 10 * minNs, 7L, "view", 1.0)), "f1")
    runBatch()
    assert(results().count() === 0)

    // restart: the purchase arrives 30 min after the view — it must
    // resolve the RESTORED stage-2 pair into a completed chain
    writeFile(dir, Seq(
      (3L, base + 40 * minNs, 7L, "purchase", 1.0)), "f2")
    runBatch()
    val rows = results().collect().map(r =>
      (r.getAs[Long]("event_id"),
        Option(r.getAs[Any]("next_view_us")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("purchase_us")).map(_.asInstanceOf[Long]),
        r.getAs[Boolean]("completed")))
    assert(rows.toSeq === Seq((1L,
      Some((base + 10 * minNs) / 1000),
      Some((base + 40 * minNs) / 1000), true)))
  }

  test("a restart keeps the checkpoint's state width, whatever the session conf says") {
    val dir = Files.createTempDirectory("graft_recw_in").toString
    val base = 1700000000000000000L
    val rows = (0 until 48).map { i =>
      (i + 1L, base + i * 1000000000L, i % 12L,
        if (i % 3 == 0) "signup" else "purchase", 10.0 + i)
    }
    def run(ckpt: String, outDir: String, width: Int): Unit =
      withStatePartitions(width) {
        val q = Pipelines.reconcileAlerts(spark,
            Pipelines.parsedStreamFromPath(spark, dir)).toDF()
          .writeStream.format("parquet").option("path", outDir)
          .outputMode("append").option("checkpointLocation", ckpt).start()
        q.processAllAvailable(); q.stop()
      }
    def results(outDir: String) = spark.read.parquet(outDir).collect().toSet

    // started at 4 state partitions, restarted while the session says 1
    val ckpt = Files.createTempDirectory("graft_recw_ck").toString
    val outDir = Files.createTempDirectory("graft_recw_out").toString
    writeFile(dir, rows.take(24), "f1")
    run(ckpt, outDir, width = 4)
    writeFile(dir, rows.drop(24), "f2")
    run(ckpt, outDir, width = 1)
    val partitions = new java.io.File(s"$ckpt/state/0").list()
      .filter(_.forall(_.isDigit)).map(_.toInt).toSet
    assert(partitions === (0 until 4).toSet)

    // the restarted run found every account's state where it left it
    val whole = Files.createTempDirectory("graft_recw_out1").toString
    run(Files.createTempDirectory("graft_recw_ck1").toString, whole, width = 4)
    assert(results(outDir) === results(whole))
    assert(results(outDir).nonEmpty)
  }

  test("StateSchemaCheck: a TWAB checkpoint written before the seal is " +
      "refused when the query starts") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode, StreamingQueryException}
    val dir = Files.createTempDirectory("graft_recs_in").toString
    val ckpt = Files.createTempDirectory("graft_recs_ck").toString
    val outDir = Files.createTempDirectory("graft_recs_out").toString
    val base = 1700000000000000000L
    def start(out: org.apache.spark.sql.DataFrame) =
      out.writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt).start()
    // the pre-seal tracker's plan: bare TwabState per account
    def unsealed(account: Long, rows: Iterator[TwabTxn],
        state: GroupState[TwabState]): Iterator[TwabRow] = {
      rows.foreach(e => state.update(TwabState(e.event_time_us,
        e.event_time_us, e.kobo, 0L, "0")))
      Iterator.empty
    }
    writeFile(dir, Seq((1L, base, 7L, "purchase", 10.0)), "f1")
    val old = start(Pipelines.parsedStreamFromPath(spark, dir)
      .filter(graft.ops.Predicates.isCompleted(col("status")))
      .withWatermark("event_ts", "0 seconds")
      .select(col("txn_id"), col("account_id"), col("event_time_us"),
        lit(0L).as("kobo"), col("event_ts"))
      .as[TwabTxn]
      .groupByKey(_.account_id)
      .flatMapGroupsWithState[TwabState, TwabRow](OutputMode.Append,
        GroupStateTimeout.NoTimeout)(unsealed).toDF())
    old.processAllAvailable(); old.stop()

    writeFile(dir, Seq((2L, base + 1000000000L, 7L, "purchase", 10.0)), "f2")
    val q = start(Pipelines.twabUpdates(spark,
      Pipelines.parsedStreamFromPath(spark, dir)).toDF())
    val e = intercept[StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      e.getMessage)
  }
}
