package graft.cdc

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SnapshotDiffSpec extends SparkSpecBase {
  import spark.implicits._

  // (key, seq, op, value) — one hand-built changelog covering every class
  private val log = Seq(
    (1L, 10L, "c", "a"), (1L, 20L, "u", "b"),                  // changed
    (2L, 10L, "c", "x"),                                        // unchanged
    (3L, 40L, "c", "y"),                                        // added
    (4L, 10L, "c", "z"), (4L, 50L, "d", null.asInstanceOf[String]), // deleted
    (5L, 5L, "c", "q"), (5L, 12L, "d", null.asInstanceOf[String]),  // gone before t1: no row
    (6L, 10L, "c", "m"), (6L, 30L, "u", "m"))                  // same value re-written: no row

  private def changelog: DataFrame =
    log.toDF("k", "seq", "op", "v")

  private def diffAt(t1: Long, t2: Long): Map[Long, (String, Option[Long], Option[Long])] =
    SnapshotDiff.changelogDiff(changelog, Seq("k"), "seq", "op",
        SnapshotDiff.valueDigest(Seq(col("v"))), lit(t1), lit(t2))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap

  test("changelogDiff classifies added/deleted/changed and drops " +
      "unchanged, pre-horizon tombstones, and value-identical rewrites") {
    val d = diffAt(15L, 60L)
    assert(d == Map(
      1L -> (("changed", Some(10L), Some(20L))),
      3L -> (("added", None, Some(40L))),
      4L -> (("deleted", Some(10L), None))))
  }

  test("t1 == t2 produces an empty diff") {
    assert(diffAt(25L, 25L).isEmpty)
  }

  test("one-pass changelogDiff == generic snapshotDiff over materialized " +
      "as-of snapshots, on the real per-account txn changelog") {
    val cl = EnvelopeOps.parsedTransactions(Tables.events(spark, sf0001))
      .filter(col("account_id") =!= 0)
    val Array(t1, t2) = cl.agg(
        expr("(min(event_time_us) + max(event_time_us)) div 2"),
        max("event_time_us"))
      .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
    val valueCols = Seq(col("txn_id"),
      expr("CAST(round(amount * 100) AS BIGINT)"),
      col("txn_type"), col("status"))

    def asOf(t: Long): DataFrame =
      graft.ops.LatestByKey.latestWithTombstones(
        cl.filter(col("event_time_us") <= t), Seq("account_id"),
        Seq(col("event_time_us")))

    val onePass = SnapshotDiff.changelogDiff(cl, Seq("account_id"),
        "event_time_us", "op", SnapshotDiff.valueDigest(valueCols),
        lit(t1), lit(t2))
      .select("account_id", "change").as[(Long, String)].collect().toSet
    val twoSided = graft.Oracles.snapshotDiff(asOf(t1), asOf(t2),
        Seq("account_id"), valueCols)
      .as[(Long, String)].collect().toSet
    assert(onePass == twoSided)
    assert(onePass.nonEmpty)
    // all three classes materialize on the real changelog at this horizon
    assert(onePass.map(_._2) == Set("added", "deleted", "changed"))
  }
}
