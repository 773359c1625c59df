package graft

import org.apache.spark.sql.functions._

import graft.cdc.EnvelopeOps
import graft.ops.Salt

/** Scale-mechanism specs: salting equivalence, ad-hoc SQL over the corpus,
  * JSON envelope serde round-trip. */
class SaltSpec extends SparkSpecBase {
  import spark.implicits._

  test("salted two-phase sum/count == plain groupBy (skew-immune shape)") {
    // integer-valued doubles -> summation order cannot change the result
    val df = (1 to 1000).map(i => (i % 3L, (i % 7).toDouble, i.toLong))
      .toDF("k", "v", "id")
    val plain = df.groupBy("k")
      .agg(sum($"v").as("sum_v"), count(lit(1)).as("n_rows"))
      .as[(Long, Double, Long)].collect().toSet
    val salted = Salt.saltedSumCount(df, Seq("k"), "v", $"id", buckets = 8)
      .as[(Long, Double, Long)].collect().toSet
    assert(salted === plain)
  }
}

class SqlSurfaceSpec extends SparkSpecBase {

  test("ad-hoc SQL over registered corpus views, incl. custom functions") {
    Tables.table(spark, sf0001, "customer").createOrReplaceTempView("customer")
    Tables.table(spark, sf0001, "documents").createOrReplaceTempView("documents")
    EnvelopeOps.parsedTransactions(Tables.events(spark, sf0001))
      .createOrReplaceTempView("transactions")
    graft.functions.GraftFunctions.register(spark)
    val joined = spark.sql(
      """SELECT t.txn_type, count(*) AS n, count(DISTINCT c.c_mktsegment) AS segs
        |FROM transactions t JOIN customer c ON t.account_id = c.c_custkey
        |WHERE t.op <> 'd' GROUP BY 1 ORDER BY 1""".stripMargin)
    assert(joined.count() === 5) // one row per txn type
    val fp = spark.sql("SELECT graft_fnv64(text) AS h FROM documents LIMIT 3")
    assert(fp.count() === 3)
  }
}

class JsonEnvelopeSpec extends SparkSpecBase {

  test("JSON envelope encode/decode round-trips the parsed transaction") {
    val events = eventsDf(Seq(
      (3L, 1700000000000000000L, 7L, "purchase", 100.5),
      (11L, 1700000001000000000L, 8L, "signup", 20.0)))
    val wire = EnvelopeOps.encodeJsonEnvelope(
      EnvelopeOps.synthesizeTxnEnvelope(events))
    val decoded = EnvelopeOps.parseTxnEnvelope(
      EnvelopeOps.decodeJsonEnvelope(wire))
    val direct = EnvelopeOps.parsedTransactions(events)
    assert(decoded.collect().toSet === direct.collect().toSet)
  }

  test("malformed payloads decode to null envelopes and are dropped, not failed") {
    import spark.implicits._
    val wire = Seq("""not json at all""", """{"op": 7}""").toDF("payload")
    val parsed = EnvelopeOps.parseTxnEnvelope(EnvelopeOps.decodeJsonEnvelope(wire))
    assert(parsed.count() === 2) // permissive: rows survive as nulls
    assert(EnvelopeOps.upsertsOnly(parsed).count() === 0) // then filtered
  }

  test("kafka wire format: (key,value) binary schema round-trips the payload") {
    import spark.implicits._
    val env = EnvelopeOps.synthesizeTxnEnvelope(eventsDf(Seq(
      (3L, 1700000000000000000L, 7L, "purchase", 100.50))))
    val wire = EnvelopeOps.kafkaWireFormat(
      EnvelopeOps.encodeJsonEnvelope(env)
        .withColumn("account_id", lit(7L)),
      keyCol = col("account_id"), valueCol = col("payload"))
    assert(wire.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("key", "binary"), ("value", "binary"))) // the kafka sink contract
    val row = wire.head()
    assert(new String(row.getAs[Array[Byte]]("key"), "UTF-8") === "7")
    val back = EnvelopeOps.parseTxnEnvelope(
      EnvelopeOps.decodeJsonEnvelope(
        wire.select(col("value").cast("string").as("payload"))))
    assert(back.head().getAs[Long]("txn_id") === 3L)
  }
}
