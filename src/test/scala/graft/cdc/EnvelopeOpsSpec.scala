package graft.cdc

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Mirrors the reference's envelope-handling tests
  * (ABBankTopologyTest.java:242-259, 318-348). */
class EnvelopeOpsSpec extends SparkSpecBase {

  // event_id, ts_ns, user_id, event_type, value
  private val base = Seq(
    (3L, 1700000000000000000L, 7L, "purchase", 100.50), // op=c (3%10)
    (11L, 1700000001000000000L, 7L, "signup", 20.00),   // op=u
    (12L, 1700000002000000000L, 8L, "view", 30.00),     // op=r snapshot
    (20L, 1700000003000000000L, 9L, "click", 40.00),    // op=d delete
    (13L, 1700000004000000000L, 0L, "error", 50.00))    // invalid account 0

  test("MicroTimestamp micros -> millis conversion is exact (reference :318-348)") {
    val row = txns(base).filter(col("txn_id") === 3).head()
    assert(row.getAs[Long]("event_time_us") === 1700000000000000L)
    assert(row.getAs[Long]("event_time_ms") === 1700000000000L)
  }

  test("double-wire ids parse to longs; type/status/currency mapping applied") {
    val row = txns(base).filter(col("txn_id") === 3).head()
    assert(row.getAs[Long]("account_id") === 7L)
    assert(row.getAs[String]("txn_type") === "DEBIT")
    assert(row.getAs[String]("status") === "COMPLETED")
    assert(row.getAs[String]("currency") === "NGN") // 7 % 3 == 1
    val err = txns(base).filter(col("txn_id") === 13).head()
    assert(err.getAs[String]("status") === "FAILED")
  }

  test("upsertsOnly drops deletes + account 0, keeps snapshot op=r (reference :242-259)") {
    val kept = EnvelopeOps.upsertsOnly(txns(base))
      .select("txn_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(3L, 11L, 12L)) // 20 dropped (op=d), 13 dropped (acct 0)
  }

  test("envelope before-image is null, after carries the row") {
    val env = EnvelopeOps.synthesizeTxnEnvelope(eventsDf(base))
      .filter(col("envelope.after.TRANSACTION_ID") === 3.0).head()
    val envelope = env.getAs[Row]("envelope")
    assert(envelope.getAs[Row]("before") === null)
    assert(envelope.getAs[Row]("after").getAs[Double]("AMOUNT") === 100.50)
    assert(envelope.getAs[String]("op") === "c")
  }

  test("flat decode == nested envelope round trip, row for row, dropped rows included") {
    val events = Tables.events(spark, sf0001)
    def withCol(name: String, value: org.apache.spark.sql.Column) =
      events.orderBy("event_id").limit(3)
        .withColumn(name, value.cast(events.schema(name).dataType))
    // beside the corpus's own op=d rows, the rows the other upsert
    // conditions drop: null ids and account 0
    val all = events
      .union(withCol("event_id", lit(null)))
      .union(withCol("user_id", lit(null)))
      .union(withCol("user_id", lit(0)))
    val flat = EnvelopeOps.parsedTransactions(all)
    val nested = EnvelopeOps.parseTxnEnvelope(EnvelopeOps.synthesizeTxnEnvelope(all))
    assert(flat.schema === nested.schema)
    def rows(df: DataFrame) = df.collect().toSeq.groupBy(identity).map {
      case (r, rs) => r -> rs.size
    }
    val got = rows(flat)
    assert(got === rows(nested))
    assert(got.values.sum === all.count())
    val dropped = got.keys.filterNot { r =>
      !r.isNullAt(0) && r.getAs[String]("op") != "d" &&
        !r.isNullAt(1) && r.getAs[Long]("account_id") != 0L
    }
    assert(dropped.exists(_.getAs[String]("op") == "d"))
    assert(dropped.exists(_.isNullAt(0)) && dropped.exists(_.isNullAt(1)))
    assert(dropped.exists(r => !r.isNullAt(1) && r.getAs[Long]("account_id") == 0L))
    assert(rows(EnvelopeOps.upsertsOnly(flat)) ===
      got.filter { case (r, _) => !dropped.toSet(r) })
  }
}
