package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Per-operator behavior tests mirroring the reference's covered behaviors
  * plus its coverage gaps (SURVEY §5): threshold boundaries, window
  * boundaries, reconciliation discrepancy path. */
class PredicatesSpec extends SparkSpecBase {
  import spark.implicits._

  test("debit/credit type sets match the reference (TransactionEvent.java:66-81)") {
    val df = Seq("DEBIT", "TRANSFER_OUT", "FEE", "LOAN_REPAYMENT", "CREDIT",
      "TRANSFER_IN", "INTEREST", "UNKNOWN").toDF("t")
    val debits = df.filter(Predicates.isDebit($"t")).as[String].collect().toSet
    val credits = df.filter(Predicates.isCredit($"t")).as[String].collect().toSet
    assert(debits === Set("DEBIT", "TRANSFER_OUT", "FEE", "LOAN_REPAYMENT"))
    assert(credits === Set("CREDIT", "TRANSFER_IN", "INTEREST"))
  }

  test("high-value threshold is inclusive >= (reference boundary tests :296-316)") {
    val df = Seq(199.99, 200.0, 200.01).toDF("amount")
    val kept = df.filter(Predicates.isHighValue($"amount", 200.0))
      .as[Double].collect().sorted
    assert(kept.toSeq === Seq(200.0, 200.01))
  }
}

class NotifySpec extends SparkSpecBase {
  import spark.implicits._

  test("formatAmount: ₦ for NGN, ISO prefix otherwise, grouping + 2 dp, null -> 0.00") {
    val df = Seq(
      (Some(1234567.891), "NGN"),
      (Some(500.0), "USD"),
      (None: Option[Double], "NGN")).toDF("amount", "currency")
    val got = df.select(Notify.formatAmount($"amount", $"currency")).as[String].collect()
    assert(got(0) === "₦1,234,567.89")
    assert(got(1) === "USD 500.00")
    assert(got(2) === "₦0.00")
  }

  test("formatTimestampMs: Lagos rendering (+1h), null -> N/A (CdcParser.java:30-52)") {
    val df = Seq(Some(1700000000000L), None: Option[Long]).toDF("ms")
    val got = df.select(Notify.formatTimestampMs($"ms")).as[String].collect()
    assert(got(0) === "2023-11-14 23:13:20 WAT") // 22:13:20 UTC + 1h
    assert(got(1) === "N/A")
  }

  test("notification JSON serializes compactly with ordered fields and metadata map") {
    val df = Seq((42L, 7L)).toDF("txn_id", "account_id")
    val got = df.select(Notify.notificationJson(
      idPrefix = "HV", notificationType = "HIGH_VALUE_ALERT",
      severity = "HIGH", channel = "BOTH",
      entityId = $"txn_id", accountId = $"account_id",
      subject = lit("s"), body = lit("b"),
      metadata = map(lit("k1"), lit("v1"), lit("k2"), lit("v2")))).as[String].head()
    assert(got ===
      """{"notificationId":"HV-42","notificationType":"HIGH_VALUE_ALERT",""" +
      """"severity":"HIGH","channel":"BOTH","accountId":7,"subject":"s",""" +
      """"body":"b","metadata":{"k1":"v1","k2":"v2"}}""")
  }

  test("fullName is null-safe concat (CustomerEvent.java:46-48)") {
    val df = Seq(("Ada", Some("Obi")), ("Ngozi", None)).toDF("f", "l")
    val got = df.select(Notify.fullName($"f", $"l")).as[String].collect()
    assert(got.toSeq === Seq("Ada Obi", "Ngozi"))
  }
}

class LatestByKeySpec extends SparkSpecBase {
  import spark.implicits._

  private val df = Seq(
    (1L, 100L, 10L, "a"), (1L, 200L, 11L, "b"),  // key 1: ts 200 wins
    (2L, 300L, 12L, "c"), (2L, 300L, 13L, "d")   // key 2: tie on ts -> id 13 wins
  ).toDF("k", "ts", "id", "v")

  test("latest picks newest with deterministic id tiebreak") {
    val got = LatestByKey.latest(df, Seq("k"), Seq($"ts", $"id"))
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "b", 2L -> "d"))
  }

  test("tombstone-aware latest removes keys whose newest version is a delete") {
    import org.apache.spark.sql.functions.lit
    val cdc = Seq(
      (1L, 100L, 10L, "c"), (1L, 200L, 11L, "d"),  // key 1: delete wins -> gone
      (2L, 100L, 12L, "d"), (2L, 200L, 13L, "u")   // key 2: update wins -> kept
    ).toDF("k", "ts", "id", "op")
    val got = LatestByKey.latestWithTombstones(cdc, Seq("k"), Seq($"ts", $"id"))
      .select("k", "id").as[(Long, Long)].collect().toMap
    assert(got === Map(2L -> 13L))
  }

  test("scd2 assigns contiguous validity intervals with one current version per key") {
    val cdc = Seq(
      (1L, 7L, 100L, 10L), (2L, 7L, 200L, 20L), (3L, 7L, 300L, 30L))
      .toDF("id", "k", "ms", "v")
    val got = LatestByKey.scd2(cdc, Seq("k"), Seq($"ms", $"id"), "ms")
      .orderBy("ms").collect()
    assert(got.map(r => Option(r.getAs[Any]("valid_to_ms"))).toSeq ===
      Seq(Some(200L), Some(300L), None))
    assert(got.map(_.getAs[Boolean]("is_current")).toSeq ===
      Seq(false, false, true))
  }

  test("max_by variant agrees with the window variant") {
    val a = LatestByKey.latest(df, Seq("k"), Seq($"ts", $"id"))
      .select("k", "ts", "id", "v").collect().toSet
    val b = LatestByKey.latestByMaxBy(df, Seq("k"), struct($"ts", $"id"))
      .select("k", "ts", "id", "v").collect().toSet
    assert(a === b)
  }
}

class WindowsSpec extends SparkSpecBase {

  test("velocity: count >= threshold within one tumbling window only") {
    val base = 1700000000000000000L // window-aligned region
    val rows = Seq(
      (1L, base, 7L, "purchase", 1.0),
      (2L, base + 10_000_000_000L, 7L, "purchase", 1.0),   // +10s same window
      (3L, base + 4000_000_000_000L, 7L, "purchase", 1.0)) // +4000s other window
    val got = Windows.velocityCount(txns(rows), windowSec = 3600, minTxns = 2L)
      .collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("n_txns") === 2L)
    // epoch-aligned start: floor(ms / 3600000) * 3600000
    val ms = base / 1000000
    assert(got.head.getAs[Long]("window_start_ms") === ms / 3600000 * 3600000)
  }

  test("session windows: event exactly at gap starts a new session (half-open)") {
    val gapNs = 48L * 3600 * 1000000000L
    val base = 1700000000000000000L
    val rows = Seq(
      (1L, base, 7L, "purchase", 1.0),
      (2L, base + gapNs - 1000, 7L, "purchase", 1.0),  // just inside -> merges
      (3L, base + 2 * gapNs + 5000, 7L, "view", 1.0))  // far out -> new session
    val got = Windows.dormancySessions(txns(rows), "48 hours")
      .orderBy("session_start_ms").collect()
    assert(got.length === 2)
    assert(got(0).getAs[Long]("n_events") === 2L)
    assert(!got(0).getAs[Boolean]("is_dormant"))
    assert(got(1).getAs[Long]("n_events") === 1L)
    assert(got(1).getAs[Boolean]("is_dormant"))
    // end = last event + gap (ms precision)
    val lastUs = (base + gapNs - 1000) / 1000
    assert(got(0).getAs[Long]("session_end_ms") === (lastUs + gapNs / 1000) / 1000)
  }

  test("rolling spend: trailing range frame, same-timestamp rows are peers") {
    val base = 1700000000000000000L
    val rows = Seq(
      (1L, base, 7L, "purchase", 1.0),                     // t=0
      (2L, base, 7L, "purchase", 2.0),                     // t=0 peer
      (3L, base + 10_000_000_000L, 7L, "purchase", 4.0),   // +10s, inside 50s
      (4L, base + 100_000_000_000L, 7L, "purchase", 8.0),  // +100s, outside
      (5L, base + 5_000_000_000L, 9L, "purchase", 16.0))   // other account
    val got = Windows.rollingSpend(txns(rows), windowSec = 50L)
      .select("txn_id", "rolling_spend_kobo", "rolling_n_txns")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((300L, 2L))) // peers: both t=0 rows see both
    assert(got(2L) === ((300L, 2L)))
    assert(got(3L) === ((700L, 3L)))
    assert(got(4L) === ((800L, 1L))) // 100s back: t=0/10 rows aged out
    assert(got(5L) === ((1600L, 1L))) // account isolation
  }

  test("daily spend sums only the provided debit rows and labels Lagos date") {
    val base = 1700006400000000000L // 2023-11-15 00:00 UTC midnight-ish region
    val rows = Seq(
      (1L, base, 7L, "purchase", 100.0),
      (2L, base + 1000_000_000_000L, 7L, "purchase", 60.0))
    val got = Windows.dailySpend(txns(rows), alertThreshold = 150.0).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Double]("total_spend") === 160.0)
    assert(got.head.getAs[String]("lagos_date").matches("\\d{4}-\\d{2}-\\d{2}"))
  }
}

class ReconcileSpec extends SparkSpecBase {

  test("bootstrap on first event per account; updates after (processor :72-74)") {
    val rows = Seq(
      (1L, 1700000000000000000L, 7L, "purchase", 100.0),
      (2L, 1700000001000000000L, 7L, "signup", 40.0),
      (3L, 1700000002000000000L, 8L, "view", 10.0))
    val got = Reconcile.reconcile(txns(rows)).orderBy("txn_id").collect()
    assert(got.map(_.getAs[String]("recon_status")).toSeq ===
      Seq("BOOTSTRAP", "BALANCE_UPDATE", "BOOTSTRAP"))
    // running balance: -100 (debit), then +40 credit -> -60
    assert(got(1).getAs[Double]("balance_after") === -60.0)
    assert(got(1).getAs[Double]("stored_balance") === -100.0)
  }

  test("injected discrepancy (txn_id % 97 == 0) is flagged HIGH beyond 0.01 tolerance") {
    val rows = Seq(
      (96L, 1700000000000000000L, 7L, "purchase", 10.0),
      (97L * 97, 1700000001000000000L, 7L, "purchase", 10.0)) // 9409 % 97 == 0
    val got = Reconcile.reconcile(txns(rows)).orderBy("txn_id").collect()
    assert(got(1).getAs[String]("recon_status") === "DISCREPANCY")
    assert(got(1).getAs[String]("severity") === "HIGH")
    assert(got(1).getAs[Double]("discrepancy") === Reconcile.InjectedError)
  }
}

class FeaturesSpec extends SparkSpecBase {
  import spark.implicits._

  test("exact percentiles: rank-exact order statistics per currency, duplicates counted") {
    // A: kobo 100..1000 (n=10): p50 rank ceil(5)=5 -> 500, p90 rank 9 ->
    // 900, p99 rank ceil(9.9)=10 -> 1000; B: one value -> every p hits it
    val rows = (1 to 10).map(i => ("A", i * 1.0)) :+ (("B", 7.77))
    val got = graft.ops.Features.exactPercentiles(
        rows.toDF("currency", "amount"))
      .as[(String, Double, Long, Long)].collect().toSet
    assert(got === Set(
      ("A", 0.5, 5L, 500L), ("A", 0.9, 9L, 900L), ("A", 0.99, 10L, 1000L),
      ("B", 0.5, 1L, 777L), ("B", 0.9, 1L, 777L), ("B", 0.99, 1L, 777L)))
  }

  test("exact percentiles: small groups with colliding p90/p99 ranks stay exact") {
    // n=5: p50 rank ceil(2.5)=3, p90 rank ceil(4.5)=5, p99 rank
    // ceil(4.95)=5 — COLLIDING ranks 5,5 reach kthSmallest. Under the
    // duplicate-rank bug the doubled counts resolved rank 5 at ~rank 3
    // (p90/p99 of 100..500 came back 300, not 500). Also n=2: ranks
    // 1/2/2. Regression for ADVICE r9.
    val rows = (1 to 5).map(i => ("A", i * 1.0)) ++ Seq(("B", 9.0), ("B", 11.0))
    val got = graft.ops.Features.exactPercentiles(
        rows.toDF("currency", "amount"))
      .as[(String, Double, Long, Long)].collect().toSet
    assert(got === Set(
      ("A", 0.5, 3L, 300L), ("A", 0.9, 5L, 500L), ("A", 0.99, 5L, 500L),
      ("B", 0.5, 1L, 900L), ("B", 0.9, 2L, 1100L), ("B", 0.99, 2L, 1100L)))
  }

  test("MAD outliers: whale flagged without dragging the gate; zero-MAD group calm") {
    // A: kobo 100,200,300,400,10000 -> med 300, adevs {200,100,0,100,9700}
    // -> MAD 100; only the whale exceeds 3*MAD (a mean/sigma gate would
    // have been dragged to ~2200 by the whale itself). B: constant value
    // -> MAD 0 -> nothing flagged (0 > 0 is false).
    val rows = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 4.0),
      ("A", 100.0), ("B", 0.05), ("B", 0.05), ("B", 0.05))
      .zipWithIndex.map { case ((c, a), i) => (i.toLong, c, a) }
    val got = graft.ops.Features.madOutliers(
        rows.toDF("txn_id", "currency", "amount"))
      .select("txn_id", "med_kobo", "mad_kobo", "is_outlier")
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (id, m, md, o) => id -> ((m, md, o)) }.toMap
    assert(got(0L) === ((300L, 100L, false)))
    assert(got(4L) === ((300L, 100L, true))) // the whale
    assert(got(5L) === ((5L, 0L, false)))    // zero-MAD group
    assert(got.values.count(_._3) === 1)
  }

  test("winsorize cuts at the exact order statistic, ceil boundary, per group") {
    // currency A: kobo 100..1000 in hundreds (n=10); p=0.8 -> rank ceil(8)=8
    // -> cut 800; currency B: single value never clips
    val rows = (1 to 10).map(i => (i.toLong, "A", i * 1.0)) :+ (99L, "B", 5.0)
    val txns = rows.toDF("txn_id", "currency", "amount")
    val got = graft.ops.Features.winsorize(txns, p = 0.8)
      .select("txn_id", "cut_kobo", "kobo_winsorized", "is_clipped")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got(8L) === ((800L, 800L, false)))  // at the cut: kept
    assert(got(9L) === ((800L, 800L, true)))   // above: clipped to cut
    assert(got(10L) === ((800L, 800L, true)))
    assert(got(1L) === ((800L, 100L, false)))
    assert(got(99L) === ((500L, 500L, false))) // group isolation
  }

  test("histogram: integer-exact equal-width bins; max lands in the last bin") {
    // kobo 100..1000 (span 901): bin = (k - 100) * 10 div 901
    val txns = (1 to 10).map(i => (i.toLong, "A", i * 1.0))
      .toDF("txn_id", "currency", "amount")
    val got = graft.ops.Features.amountHistogram(txns, nBins = 10)
      .select("bin", "n_txns").as[(Long, Long)].collect().toMap
    // 100->0, 200->1 ((100*10) div 901), ..., 1000 -> (900*10) div 901 = 9
    assert(got === (0L to 9L).map(_ -> 1L).toMap)
  }

  test("fraud features == the three component operators joined (sf0.001)") {
    val base = graft.cdc.EnvelopeOps.upsertsOnly(
        graft.cdc.EnvelopeOps.parsedTransactions(
          graft.Tables.events(spark, sf0001)))
      .filter(Predicates.isCompleted(col("status")) &&
        Predicates.isDebit(col("txn_type")))
    val got = graft.ops.Features.fraudFeatures(base)
      .select("txn_id", "rolling_spend_kobo", "rolling_n_txns", "z", "is_clipped")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val roll = Windows.rollingSpend(base, windowSec = 86400L)
      .select("txn_id", "rolling_spend_kobo", "rolling_n_txns")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val zs = graft.ops.Features.zscore(base)
      .select("txn_id", "z").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wins = graft.ops.Features.winsorize(base)
      .select("txn_id", "is_clipped").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.nonEmpty && got.keySet === roll.keySet)
    got.foreach { case (id, (rs, rn, z, clip)) =>
      assert((rs, rn) === roll(id), s"txn $id rolling")
      assert(z === zs(id), s"txn $id z")
      assert(clip === wins(id), s"txn $id clip")
    }
  }

  test("zscore: exact integer moments; single-valued group emits z = 0") {
    val txns = Seq(
      (1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0), // kobo 100/200/300
      (9L, "B", 5.0))                                 // sigma 0
    .toDF("txn_id", "currency", "amount")
    val got = graft.ops.Features.zscore(txns)
      .select("txn_id", "mean_kobo", "var_kobo", "z")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // population stats of {100, 200, 300}: mean 200, var 20000/3
    val varA = (3.0 * 140000 - 600.0 * 600) / 9.0
    assert(got(1L) === ((200.0, varA, (100 - 200.0) / math.sqrt(varA))))
    assert(got(3L)._3 === -got(1L)._3)
    assert(got(9L) === ((500.0, 0.0, 0.0)))
  }
}

class OrderStatisticsSpec extends SparkSpecBase {
  import spark.implicits._

  private def model(vals: Seq[Long], rank: Long): Long =
    vals.sorted.apply((rank - 1).toInt)

  test("kth smallest == sorted model: duplicates, negatives, wide range") {
    val g1 = Seq(5L, -3L, 5L, 5L, 0L, 1000000007L, -3L, 42L)
    val g2 = Seq(Long.MinValue / 2, 0L, Long.MaxValue / 2)
    val df = (g1.map(("a", _)) ++ g2.map(("b", _))).toDF("g", "v")
    val ranks = Map("a" -> Seq(1L, 2L, 4L, 8L), "b" -> Seq(1L, 2L, 3L))
    val got = OrderStatistics.kthSmallest(df, "g", "v", ranks)
    for ((g, rs) <- ranks; r <- rs) {
      val vals = if (g == "a") g1 else g2
      assert(got((g, r)) === model(vals, r), s"group $g rank $r")
    }
  }

  test("convergence: 100k near-all-distinct values resolve within the pass cap") {
    val df = spark.range(100000).select(lit("g").as("g"),
      org.apache.spark.sql.functions.xxhash64(col("id")).as("v"))
    val got = OrderStatistics.kthSmallest(df, "g", "v",
      Map("g" -> Seq(1L, 25001L, 50001L, 100000L)))
    val sorted = df.select("v").as[Long].collect().sorted
    assert(got(("g", 1L)) === sorted.head)
    assert(got(("g", 25001L)) === sorted(25000))
    assert(got(("g", 50001L)) === sorted(50000))
    assert(got(("g", 100000L)) === sorted.last)
  }

  test("randomized: grouped rank cases match the sorted model (fixed seed)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 6) {
      val groups = (1 to 3).map { g =>
        val n = rnd.nextInt(200) + 1
        // mixed magnitudes (full-domain through small) force duplicates
        // at the narrow end and multi-pass narrowing at the wide end
        s"g$g" -> Seq.fill(n)(rnd.nextLong() >> rnd.nextInt(56))
      }
      val df = groups.flatMap { case (g, vs) => vs.map((g, _)) }.toDF("g", "v")
      val ranks = groups.map { case (g, vs) =>
        g -> Seq.fill(3)(rnd.nextInt(vs.size).toLong + 1).distinct
      }.toMap
      val got = OrderStatistics.kthSmallest(df, "g", "v", ranks)
      val byG = groups.toMap
      for ((g, rs) <- ranks; r <- rs)
        assert(got((g, r)) === byG(g).sorted.apply((r - 1).toInt),
          s"group $g rank $r of ${byG(g).size}")
    }
  }

  test("duplicate ranks in the request resolve exactly (no count doubling)") {
    // A repeated (g, r) used to put two identical rows into the broadcast
    // target frame; the (__tg,__tr,__b) groupBy merged them with DOUBLED
    // bucket counts, so rank r resolved at ~rank ceil(r/2) — e.g. rank 5
    // of 5 came back as the rank-3 value. Regression for ADVICE r9.
    val vals = Seq(100L, 200L, 300L, 400L, 500L)
    val df = vals.map(("a", _)).toDF("g", "v")
    val got = OrderStatistics.kthSmallest(df, "g", "v",
      Map("a" -> Seq(5L, 5L, 3L, 5L, 1L, 1L)))
    assert(got === Map(("a", 5L) -> 500L, ("a", 3L) -> 300L, ("a", 1L) -> 100L))
    // triplicated single target on a wide-range (multi-pass) group
    val wide = Seq(Long.MinValue / 3, -7L, 0L, 9L, Long.MaxValue / 5)
    val dfw = wide.map(("w", _)).toDF("g", "v")
    val gotW = OrderStatistics.kthSmallest(dfw, "g", "v",
      Map("w" -> Seq(4L, 4L, 4L)))
    assert(gotW === Map(("w", 4L) -> 9L))
  }

  test("out-of-range rank and unknown group fail loudly") {
    val df = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    intercept[IllegalArgumentException] {
      OrderStatistics.kthSmallest(df, "g", "v", Map("a" -> Seq(3L)))
    }
    intercept[IllegalArgumentException] {
      OrderStatistics.kthSmallest(df, "g", "v", Map("zz" -> Seq(1L)))
    }
  }
}

class PrefixScanSpec extends SparkSpecBase {
  import spark.implicits._

  test("running sum == sorted scanLeft model across 16 range partitions") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)((rnd.nextInt(100).toLong, (rnd.nextInt(5) - 2).toLong))
    val got = PrefixScan.runningSum(rows.toDF("ts", "delta"), "ts", "delta",
        partitions = 16)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val model = rows.sorted
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (t, d)) => (t, d, acc + d) }
      .drop(1).sorted
    // equal (ts, delta) rows may emit in any order, but the running
    // values they carry form the same multiset — partitioning-independent
    assert(got === model)
  }

  test("session concurrency: overlaps counted, an end breaks a tie before a start") {
    // A [0,100), B [50,150), C [100,200): at ts=100 A's end lands before
    // C's start, so peak concurrency is 2, never 3
    val sessions = Seq((0L, 100L), (50L, 150L), (100L, 200L))
      .toDF("session_start_ms", "session_end_ms")
    val got = EventAnalytics.sessionConcurrencyDaily(sessions)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((0L, 2L, 6L)))
  }
}

class EventAnalyticsSpec extends SparkSpecBase {
  import spark.implicits._

  test("event transitions: per-user adjacent pairs, row-normalized, " +
      "ties broken by event_id") {
    val base = 1700000000000000000L
    val rows = Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base + 1_000_000_000L, 7L, "view", 1.0),
      (3L, base + 2_000_000_000L, 7L, "click", 1.0),
      // user 9: timestamp TIE — event_id order decides (4 before 5)
      (4L, base, 9L, "click", 1.0),
      (5L, base, 9L, "purchase", 1.0),
      (6L, base + 9_000_000_000L, 11L, "view", 1.0)) // single event: no pair
    val got = EventAnalytics.eventTransitions(eventsDf(rows))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      ("click", "view") -> ((1L, 0.5)),
      ("click", "purchase") -> ((1L, 0.5)),
      ("view", "click") -> ((1L, 1.0))))
  }

  test("funnel: first strictly-later purchase within horizon; same-ts never converts") {
    val base = 1700000000000000000L
    val rows = Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base, 7L, "purchase", 1.0),                      // same ts: no causal order
      (3L, base + 10_000_000_000L, 7L, "purchase", 1.0),    // +10s: converts click 1
      (4L, base + 7200_000_000_000L, 7L, "click", 1.0),     // +2h: nothing follows
      (5L, base + 100_000_000_000L, 9L, "purchase", 1.0))   // other user
    val got = EventAnalytics.clickToPurchase(eventsDf(rows), withinSec = 3600L)
      .select("event_id", "next_purchase_us", "converted")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2)))).toMap
    assert(got(1L) === ((Some(base / 1000 + 10_000_000L), true)))
    assert(got(4L) === ((None, false)))
    assert(got.size === 2) // only clicks emit
  }

  test("retention: cohort = first active week, one count per user per cell") {
    val weekNs = 7L * 86400 * 1000000000L
    val W = 2800L // epoch-week base (~Aug 2023) — modern times, so the
                  // deriveEventTime unit guard sees plausible nanos
    val rows = Seq(
      (1L, (W + 1) * weekNs, 7L, "view", 1.0),      // user 7 cohort week W+1
      (2L, (W + 1) * weekNs + 5, 7L, "view", 1.0),  // same week: counted once
      (3L, (W + 3) * weekNs, 7L, "view", 1.0),      // +2 weeks
      (4L, (W + 2) * weekNs, 9L, "view", 1.0))      // user 9 cohort week W+2
    val got = EventAnalytics.weeklyRetention(eventsDf(rows))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((W + 1, 0L, 1L), (W + 1, 2L, 1L), (W + 2, 0L, 1L)))
  }

  test("3-step pattern: each hop strictly later within horizon; stalls emit nulls") {
    val base = 1700000000000000000L
    val S = 1000000000L // 1 s in ns
    val rows = Seq(
      (1L, base, 7L, "click", 1.0),              // full chain: view +10s, purchase +20s
      (2L, base + 10 * S, 7L, "view", 1.0),
      (3L, base + 20 * S, 7L, "purchase", 1.0),
      (4L, base + 100 * S, 7L, "click", 1.0),    // view but NO purchase after it
      (5L, base + 110 * S, 7L, "view", 1.0),
      (6L, base + 7200 * S, 9L, "click", 1.0),   // view outside 1h horizon
      (7L, base + 7200 * S + 4000 * S, 9L, "view", 1.0),
      (8L, base + 50000 * S, 11L, "click", 1.0), // purchase WITHOUT view: not a match
      (9L, base + 50010 * S, 11L, "purchase", 1.0))
    val got = EventAnalytics.threeStepPattern(eventsDf(rows), withinSec = 3600L)
      .select("event_id", "next_view_us", "purchase_us", "completed")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getBoolean(3)))).toMap
    val us = (ns: Long) => ns / 1000
    assert(got(1L) === ((Some(us(base + 10 * S)), Some(us(base + 20 * S)), true)))
    assert(got(4L) === ((Some(us(base + 110 * S)), None, false)))
    assert(got(6L) === ((None, None, false)))
    assert(got(8L) === ((None, None, false))) // hop 2 without hop 1 never completes
    assert(got.size === 4) // one row per click, no fan-out
  }

  test("k-step pattern (k=4): per-hop horizons, stall propagation, no fan-out") {
    val base = 1700000000000000000L
    val S = 1000000000L // 1 s in ns
    val rows = Seq(
      // full chain: signup -> click(+10s) -> view(+20s) -> purchase(+30s)
      (1L, base, 7L, "signup", 1.0),
      (2L, base + 10 * S, 7L, "click", 1.0),
      (3L, base + 20 * S, 7L, "view", 1.0),
      (4L, base + 30 * S, 7L, "purchase", 1.0),
      // hop-3 horizon is relative to the VIEW: purchase 50 min after the
      // view (but >1h after the signup) still completes the chain
      (5L, base + 50000 * S, 9L, "signup", 1.0),
      (6L, base + 50600 * S, 9L, "click", 1.0),
      (7L, base + 51200 * S, 9L, "view", 1.0),
      (8L, base + 54200 * S, 9L, "purchase", 1.0),
      // stalls at hop 2: click but no view in its horizon
      (9L, base + 100000 * S, 11L, "signup", 1.0),
      (10L, base + 100010 * S, 11L, "click", 1.0),
      (11L, base + 110000 * S, 11L, "view", 1.0))
    val got = EventAnalytics.kStepPattern(eventsDf(rows),
        Seq("signup", "click", "view", "purchase"), withinSec = 3600L)
      .select("event_id", "step1_us", "step2_us", "step3_us", "completed")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getBoolean(4)))).toMap
    val us = (ns: Long) => ns / 1000
    assert(got(1L) === ((Some(us(base + 10 * S)), Some(us(base + 20 * S)),
      Some(us(base + 30 * S)), true)))
    assert(got(5L) === ((Some(us(base + 50600 * S)), Some(us(base + 51200 * S)),
      Some(us(base + 54200 * S)), true)))
    assert(got(9L) === ((Some(us(base + 100010 * S)), None, None, false)))
    assert(got.size === 3) // one row per signup
  }

  test("k=3 kStepPattern equals the dedicated threeStepPattern") {
    val base = 1700000000000000000L
    val S = 1000000000L
    val rows = Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base + 10 * S, 7L, "view", 1.0),
      (3L, base + 20 * S, 7L, "purchase", 1.0),
      (4L, base + 100 * S, 7L, "click", 1.0),
      (5L, base + 110 * S, 7L, "view", 1.0))
    val a = EventAnalytics.threeStepPattern(eventsDf(rows), 3600L)
      .select("event_id", "next_view_us", "purchase_us", "completed")
      .collect().toSet
    val b = EventAnalytics.kStepPattern(eventsDf(rows),
        Seq("click", "view", "purchase"), 3600L)
      .select("event_id", "step1_us", "step2_us", "completed")
      .collect().toSet
    assert(a === b)
  }

  test("time-weighted balance: holding-duration weighting, single-event accounts omitted") {
    val base = 1700000000000000000L
    val S = 1000000000L // 1 s in ns
    val rows = Seq(
      (3L, base, 7L, "signup", 10.0),           // credit -> bal 1000 kobo
      (4L, base + 10 * S, 7L, "purchase", 5.0), // debit  -> bal  500 kobo
      (5L, base + 30 * S, 7L, "signup", 1.0),   // credit -> bal  600 (no next: unweighted)
      (6L, base, 9L, "signup", 2.0))            // single event: no interval
    val completed = txns(rows).filter(Predicates.isCompleted(col("status")))
    val got = EventAnalytics.timeWeightedBalance(completed)
      .as[(Long, Long, Long, Long)].collect()
    // num = 1000 kobo * 10s + 500 kobo * 20s = 2.0e10 kobo*us; span 30s;
    // twab = 666.66... kobo -> 666666666 micro-kobo (floor)
    assert(got.toSeq === Seq((7L, 2L, 30000000L, 666666666L)))
  }

  test("time-weighted balance: negative running balance truncates toward zero in both forms") {
    val base = 1700000000000000000L
    val S = 1000000000L
    val rows = Seq(
      (3L, base, 7L, "purchase", 1.0),           // debit -> bal -100 kobo
      (4L, base + 3 * S, 7L, "signup", 0.5))     // credit -> bal -50 (unweighted)
    val completed = txns(rows).filter(Predicates.isCompleted(col("status")))
    val got = EventAnalytics.timeWeightedBalance(completed)
      .as[(Long, Long, Long, Long)].collect()
    // num = -100 kobo * 3s = -3.0e8; twab = -100 kobo exactly
    assert(got.toSeq === Seq((7L, 1L, 3000000L, -100000000L)))
  }

  test("spend anomaly: dense-series moments flag the spike a sparse log would miss") {
    val dayNs = 86400L * 1000000000L
    val D = 19675L
    // series [1000, 0 x8, 100] kobo: z(spike) ~= 2.99 -> flagged; on the
    // SPARSE log (n=2, mean 550) the same spike is z=1.0 and invisible
    val rows = Seq(
      (1L, D * dayNs, 7L, "purchase", 10.0),
      (2L, (D + 9) * dayNs, 7L, "purchase", 1.0))
    val debits = txns(rows).filter(
      Predicates.isCompleted(col("status")) && Predicates.isDebit(col("txn_type")))
    val got = EventAnalytics.spendAnomaly(debits)
      .select("account_id", "day", "spend_kobo", "n_days")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((7L, D, 1000L, 10L))) // the spike, judged against 10 dense days
  }

  test("gap fill: dense per-account day grid, zeros flagged, spans independent") {
    val dayNs = 86400L * 1000000000L
    val D = 19675L // epoch-day base (~Nov 2023, inside the nanos guard)
    val rows = Seq(
      (1L, D * dayNs, 7L, "purchase", 12.34),        // user 7, day D
      (2L, (D + 3) * dayNs, 7L, "purchase", 1.00),   // user 7, day D+3 (gap D+1..D+2)
      (3L, (D + 3) * dayNs + 5, 7L, "purchase", 2.00), // same day: summed
      (4L, (D + 1) * dayNs, 7L, "signup", 99.0),     // CREDIT: excluded pre-fill
      (5L, (D + 9) * dayNs, 9L, "purchase", 5.00))   // user 9: own 1-day span
    val debits = txns(rows).filter(
      Predicates.isCompleted(col("status")) && Predicates.isDebit(col("txn_type")))
    val got = EventAnalytics.gapFillDailySpend(debits)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(got === Set(
      (7L, D, 1234L, 1L, false),
      (7L, D + 1, 0L, 0L, true),     // credit on D+1 must NOT break the fill
      (7L, D + 2, 0L, 0L, true),
      (7L, D + 3, 300L, 2L, false),
      (9L, D + 9, 500L, 1L, false))) // user 9 never densifies to user 7's span
  }

  test("spend trend: exact OLS slope over the dense grid, zero days counted") {
    val dayNs = 86400L * 1000000000L
    val D = 19675L
    val rows = Seq(
      // user 7: days D..D+2 spend 0? no — (D,1.00) (D+1,2.00) (D+2,3.00):
      // perfect line, slope exactly +100 kobo/day = 1e8 micro-kobo/day
      (1L, D * dayNs, 7L, "purchase", 1.00),
      (2L, (D + 1) * dayNs, 7L, "purchase", 2.00),
      (3L, (D + 2) * dayNs, 7L, "purchase", 3.00),
      // user 9: (D,3.00), gap at D+1 (counts as 0!), (D+2,0.30):
      // dense slope = (n*sxy - sx*sy)/(n*sxx - sx^2) with y = [300,0,30]
      // relative x [0,1,2]: num = 3*(0+0+60)-3*330 = -810, den = 3*5-9 = 6
      // -> -135 kobo/day; the SPARSE fit (two points) would give -135 too?
      // no: sparse y=[300,30] over x=[0,2] -> -135 ... pick y making them
      // differ: (D,3.00), (D+2, 2.97): dense y=[300,0,297]: slope -3/2
      // kobo/day = -1500000 micro truncated toward zero
      (4L, D * dayNs, 9L, "purchase", 3.00),
      (5L, (D + 2) * dayNs, 9L, "purchase", 2.97))
    val debits = txns(rows).filter(
      Predicates.isCompleted(col("status")) && Predicates.isDebit(col("txn_type")))
    val byAcct = EventAnalytics.spendTrend(debits)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byAcct(7L) === (3L, 100000000L))
    // dense y = [300, 0, 297] on x = [d, d+1, d+2]: slope = -3/2 kobo/day
    // = -1,500,000 micro-kobo/day exactly (shift-invariant; engines agree
    // by exact integer arithmetic, truncation toward zero)
    assert(byAcct(9L) === (3L, -1500000L))
    // a sparse two-point fit would have said (297-300)/2 = -1.5 too; the
    // zero-day's pull shows in the n_days=3 moments (den 6 not 4) — and a
    // single-day account must be absent entirely
    assert(!byAcct.contains(8L))
  }
}
