package graft.cdc

import graft.SparkSpecBase
import graft.ops.LatestByKey
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC-built dimension KTables (reference `ABBankTopology.java:107-144`):
  * envelope serde round trip of every table over both wires, latest-by-key,
  * tombstone application, and the enrichment join's N/A fallback for
  * deleted accounts. */
class DimensionCdcSpec extends SparkSpecBase {

  // c_custkey: 1 (1 ver), 5 (3 vers), 13 (2 vers, ends tombstoned),
  //            22 (2 vers), 26 (3 vers, ends tombstoned: 26%13=0)
  private lazy val customers: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "Customer#1", 0, 100.25, "BUILDING"),
      (5L, "Customer#5", 1, 200.50, "MACHINERY"),
      (13L, "Customer#13", 2, 300.75, "AUTOMOBILE"),
      (22L, "Customer#22", 3, 400.00, "HOUSEHOLD"),
      (26L, "Customer#26", 4, 500.10, "FURNITURE"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  }

  private lazy val orders: DataFrame = {
    import spark.implicits._
    Seq(3L, 6L, 7L, 10L).toDF("o_orderkey")
  }

  test("changelog versions: 1 + custkey%3 per account, create then updates") {
    val ops = DimensionCdc.Accounts.changelog(customers, Wire.Json)
      .filter(col("account_id") === 5)
      .orderBy("cdc_ts_us").select("op").collect().map(_.getString(0))
    assert(ops.toSeq === Seq("c", "u", "u"))
  }

  test("JSON wire round trip preserves doubles bit-for-bit") {
    val direct = DimensionCdc.Accounts.parseEnvelope(
      DimensionCdc.Accounts.synthesize(customers))
    val wire = DimensionCdc.Accounts.changelog(customers, Wire.Json)
    assert(wire.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(wire).count() === 0)
  }

  test("Avro binary wire yields the same changelog and KTables as the JSON shadow") {
    // byte format differs, typed output is the contract — both topics
    val jsonAcct = DimensionCdc.Accounts.changelog(customers, Wire.Json)
    val avroAcct = DimensionCdc.Accounts.changelog(customers, Wire.Avro)
    assert(avroAcct.exceptAll(jsonAcct).count() === 0)
    assert(jsonAcct.exceptAll(avroAcct).count() === 0)
    assert(DimensionCdc.Accounts.dim(customers, Wire.Avro).exceptAll(
      DimensionCdc.Accounts.dim(customers, Wire.Json)).count() === 0)
    assert(DimensionCdc.Customers.dim(customers, Wire.Avro).exceptAll(
      DimensionCdc.Customers.dim(customers, Wire.Json)).count() === 0)
  }

  test("every table and wire: changelog == parse(synthesize)") {
    // byte formats differ, the typed rows are the contract: doubles
    // bit-for-bit, nulls transported, deletes keyed from the before-image
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    for {
      (table, source) <- Seq(DimensionCdc.Accounts -> customers,
        DimensionCdc.Customers -> customers, DimensionCdc.Audit -> orders)
      wire <- Seq(Wire.Json, Wire.Avro)
    } {
      val direct = table.parseEnvelope(table.synthesize(source))
      val clue = s"${table.table} over $wire"
      assert(!direct.isEmpty, clue)
      assert(same(table.changelog(source, wire), direct), clue)
      assert(same(table.dim(source, wire),
        LatestByKey.latestWithTombstones(direct, Seq(table.key),
          Seq(col("cdc_ts_us"))).drop("op")), clue)
    }
  }

  test("accountsDim keeps latest version; balance reflects the newest update") {
    val dim = DimensionCdc.Accounts.dim(customers, Wire.Json)
    val row5 = dim.filter(col("account_id") === 5).head()
    // custkey 5: 3 versions, latest v=2 -> balance = 200.50 + 200
    assert(row5.getAs[Double]("balance") === 400.50)
    assert(row5.getAs[String]("account_number") === "ACCT-5")
    assert(row5.getAs[Long]("customer_id") === 5L)
  }

  test("tombstoned accounts are absent from the materialized KTable") {
    val ids = DimensionCdc.Accounts.dim(customers, Wire.Json)
      .select("account_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 5L, 22L)) // 13, 26 deleted (custkey%13=0)
  }

  test("delete envelopes carry the key in the before-image (after is null)") {
    val tomb = DimensionCdc.Accounts.changelog(customers, Wire.Json)
      .filter(col("op") === "d")
    assert(tomb.count() === 2)
    assert(tomb.filter(col("account_id").isNull).count() === 0)
    assert(tomb.filter(col("balance").isNotNull).count() === 0)
  }

  test("customersDim applies its own tombstone rule and versions EMAIL") {
    import spark.implicits._
    val custs = Seq(
      (17L, "Customer#17", 0, 10.0, "BUILDING"),  // 17%17=0 -> tombstoned
      (3L, "Customer#3", 1, 20.0, "MACHINERY"))   // 2 versions, latest v=1
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val dim = DimensionCdc.Customers.dim(custs, Wire.Json)
    assert(dim.select("customer_id").collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(dim.head().getAs[String]("email") === "c3.v1@abbank.example")
  }

  test("auditChangelog: wire round trip preserves typed fields AND nulls") {
    val got = DimensionCdc.Audit.changelog(orders, Wire.Json).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(3L, 6L, 7L, 10L))
    // 6 % 3 = 0 -> FLAGGED with AMOUNT_THRESHOLD (even), no reviewer
    val f = got(6L)
    assert(f.getAs[String]("audit_action") === "FLAGGED")
    assert(f.getAs[String]("flagged_reason") === "AMOUNT_THRESHOLD")
    assert(f.isNullAt(f.fieldIndex("reviewed_by")))
    assert(f.isNullAt(f.fieldIndex("reviewed_at_us")))
    assert(f.getAs[Long]("transaction_id") === 13L)
    // 7 % 3 = 1 -> REVIEWED: reviewer + reviewed_at transported, reason null
    val r = got(7L)
    assert(r.getAs[String]("audit_action") === "REVIEWED")
    assert(r.getAs[String]("reviewed_by") === "analyst-0")
    assert(r.getAs[Long]("reviewed_at_us") === 7L * 1000000L + 3600000000L)
    assert(r.isNullAt(r.fieldIndex("flagged_reason")))
    // 10 % 5 = 0 -> notes; 10 % 10 = 0 -> snapshot-read op
    assert(got(10L).getAs[String]("notes") === "case 10")
    assert(got(10L).getAs[String]("op") === "r")
    assert(got(3L).getAs[String]("op") === "c")
    assert(got(3L).getAs[Long]("created_at_us") === 3000000L)
  }

  test("enrichment join falls back to N/A for deleted accounts (reference :252-253)") {
    import spark.implicits._
    val facts = Seq((100L, 5L, 250.0), (101L, 13L, 300.0))
      .toDF("txn_id", "account_id", "amount")
    val joined = graft.ops.Enrich.withDim(facts,
        DimensionCdc.Accounts.dim(customers, Wire.Json), "account_id")
      .select(col("txn_id"),
        coalesce(col("account_number"), lit("N/A")).as("account_number"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(joined(100L) === "ACCT-5")
    assert(joined(101L) === "N/A") // account 13 tombstoned
  }
}
