package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ops.Predicates

/** Jar-swap readiness: golden Debezium-envelope byte fixtures.
  *
  * These payloads are HAND-AUTHORED against the reference's wire contract
  * (envelope layout `model/CdcEnvelope.java:8-20`, canonical records from
  * `ABBankTopologyTest.java:214-348,386-417` — transcribed in FIXTURES.md),
  * NOT produced by this library's own encoder — so they prove the decode
  * seam against the external contract, not against itself. A real Kafka
  * source delivers exactly this (key BINARY, value BINARY) shape; swapping
  * `from_json` for `from_avro` + the connector jar changes only the
  * deserializer expression, which is the reference's own Schema Registry
  * seam (`serde/AvroSerdes.java:35-59`).
  */
class GoldenWireSpec extends SparkSpecBase {

  private def txnJson(txnId: Long, acctId: Long, typ: String, amount: Double,
      status: String = "COMPLETED", op: String = "c",
      initiatedUs: Long = 1700000000000000L): String = {
    val image =
      s"""{"TRANSACTION_ID": $txnId.0, "ACCOUNT_ID": $acctId.0,
         |"TRANSACTION_REF": "REF-$txnId", "TRANSACTION_TYPE": "$typ",
         |"AMOUNT": $amount, "CURRENCY": "NGN", "STATUS": "$status",
         |"BALANCE_BEFORE": 1000000.0, "BALANCE_AFTER": ${1000000.0 - amount},
         |"INITIATED_AT": $initiatedUs, "COMPLETED_AT": ${initiatedUs + 1000000}}"""
        .stripMargin.replace("\n", " ")
    val (before, after) =
      if (op == "d") (image, "null") else ("null", image)
    s"""{"before": $before, "after": $after,
       |"source": {"version": "3.2.0", "connector": "oracle", "name": "abbank",
       |"ts_ms": ${initiatedUs / 1000}, "db": "XE", "schema": "BANKDB",
       |"table": "TRANSACTIONS", "scn": "$txnId"},
       |"op": "$op", "ts_ms": ${initiatedUs / 1000},
       |"ts_us": $initiatedUs, "ts_ns": ${initiatedUs * 1000}}"""
      .stripMargin.replace("\n", " ")
  }

  /** Golden (key, value) BINARY rows — the exact frame a Kafka source
    * hands over (key = account id string bytes, reference
    * `ABBankTopology.java:101-103`). */
  private def wireFrame(records: Seq[(Long, String)]) = {
    import spark.implicits._
    records.toDF("k", "payload")
      .select(col("k").cast("string").cast("binary").as("key"),
        col("payload").cast("binary").as("value"))
  }

  private def decodeWire(wire: org.apache.spark.sql.DataFrame) =
    EnvelopeOps.parseTxnEnvelope(
      EnvelopeOps.decodeJsonEnvelope(
        wire.select(col("value").cast("string").as("payload"))))

  test("golden fixtures decode to the reference's canonical typed rows") {
    val wire = wireFrame(Seq(
      (100L, txnJson(1, 100, "DEBIT", 600000.0)),            // must alert
      (100L, txnJson(2, 100, "DEBIT", 500000.0)),            // boundary: alerts (inclusive >=)
      (100L, txnJson(3, 100, "DEBIT", 499999.99)),           // just below: no alert
      (200L, txnJson(4, 200, "CREDIT", 750000.0)),           // credit type
      (300L, txnJson(5, 300, "TRANSFER_OUT", 50000.0, op = "r")), // snapshot = insert
      (400L, txnJson(6, 400, "DEBIT", 10000.0, op = "d")),   // tombstone: dropped
      (0L, """{"garbage": true"""),                          // malformed: null, dropped
      (500L, txnJson(7, 500, "FEE", 1234.56,
        initiatedUs = 1700000000000000L))))                  // MicroTimestamp case

    val parsed = decodeWire(wire)
    assert(parsed.count() === 8) // permissive: every payload yields a row

    val live = EnvelopeOps.upsertsOnly(parsed)
    val byId = live.collect().map(r => r.getAs[Long]("txn_id") -> r).toMap
    // delete (6) and malformed dropped; snapshot op=r kept like an insert
    assert(byId.keySet === Set(1L, 2L, 3L, 4L, 5L, 7L))

    // typed conversions: double id -> long, micros kept + exact /1000 millis
    val t7 = byId(7L)
    assert(t7.getAs[Long]("account_id") === 500L)
    assert(t7.getAs[Long]("event_time_us") === 1700000000000000L)
    assert(t7.getAs[Long]("event_time_ms") === 1700000000000L) // reference :318-348
    assert(t7.getAs[String]("currency") === "NGN")
    assert(t7.getAs[Double]("amount") === 1234.56)

    // the reference's inclusive >= threshold over the decoded rows
    val alerts = live
      .filter(Predicates.isDebit(col("txn_type")) &&
        Predicates.isHighValue(col("amount"), 500000.0))
      .select("txn_id").collect().map(_.getLong(0)).toSet
    assert(alerts === Set(1L, 2L)) // 600000 and the 500000 boundary, not 499999.99

    // the wire key is the account id string, byte-for-byte
    val keys = wire.select(col("key").cast("string")).collect().map(_.getString(0))
    assert(keys.contains("100") && keys.contains("500"))
  }

  // ---- Confluent-framed Avro BINARY fixtures --------------------------------
  // A minimal independent Avro binary ENCODER (reader lives in main:
  // AvroWire). Primitive encodings are pinned below against the Avro
  // spec's own published examples, so encoder and decoder cannot share a
  // misreading of the format.

  private def vlong(n: Long): Array[Byte] = {
    var z = (n << 1) ^ (n >> 63) // zigzag
    val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
    while ((z & ~0x7fL) != 0) { b += ((z & 0x7f) | 0x80).toByte; z >>>= 7 }
    b += z.toByte
    b.toArray
  }
  private def dbl(x: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(x)
    (0 until 8).map(i => ((bits >> (8 * i)) & 0xff).toByte).toArray
  }
  private def sstr(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8"); vlong(b.length.toLong) ++ b
  }
  private val absent: Array[Byte] = vlong(0) // union branch 0 = null
  private def present(v: Array[Byte]): Array[Byte] = vlong(1) ++ v

  /** TRANSACTIONS image body, field order = Schemas.transactionRow. */
  private def txnImageAvro(txnId: Long, acctId: Long, typ: String,
      amount: Double, status: String, initiatedUs: Long): Array[Byte] =
    Array(
      present(dbl(txnId.toDouble)), present(dbl(acctId.toDouble)),
      present(sstr(s"REF-$txnId")), present(sstr(typ)),
      present(dbl(amount)), present(sstr("NGN")), present(sstr(status)),
      present(dbl(1000000.0)), present(dbl(1000000.0 - amount)),
      present(vlong(initiatedUs)), present(vlong(initiatedUs + 1000000L))
    ).flatten

  /** Confluent frame: magic 0x00 + BE schema id + envelope body
    * (field order = Schemas.transactionEnvelope; every field optional). */
  private def txnFrameAvro(txnId: Long, acctId: Long, typ: String,
      amount: Double, status: String = "COMPLETED", op: String = "c",
      initiatedUs: Long = 1700000000000000L,
      schemaIdNum: Int = 7): Array[Byte] = {
    val image = txnImageAvro(txnId, acctId, typ, amount, status, initiatedUs)
    val (before, after) =
      if (op == "d") (present(image), absent) else (absent, present(image))
    val source = Array(
      present(sstr("3.2.0")), present(sstr("oracle")), present(sstr("abbank")),
      present(vlong(initiatedUs / 1000)), present(sstr("XE")),
      present(sstr("BANKDB")), present(sstr("TRANSACTIONS")),
      present(sstr(txnId.toString))).flatten
    val body = before ++ after ++ present(source) ++ present(sstr(op)) ++
      present(vlong(initiatedUs / 1000)) ++ present(vlong(initiatedUs)) ++
      present(vlong(initiatedUs * 1000))
    Array[Byte](0x00,
      ((schemaIdNum >> 24) & 0xff).toByte, ((schemaIdNum >> 16) & 0xff).toByte,
      ((schemaIdNum >> 8) & 0xff).toByte, (schemaIdNum & 0xff).toByte) ++ body
  }

  private def avroWireFrame(records: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    records.toDF("k", "value")
      .select(col("k").cast("string").cast("binary").as("key"), col("value"))
  }

  test("Avro binary primitives match the Avro spec's published encodings") {
    // spec 'Binary encoding' examples: zigzag varints 1 -> 02, -2 -> 03,
    // 64 -> 80 01; union branch indices are plain zigzag ints
    assert(vlong(1L).toSeq === Seq(0x02.toByte))
    assert(vlong(-2L).toSeq === Seq(0x03.toByte))
    assert(vlong(64L).toSeq === Seq(0x80.toByte, 0x01.toByte))
    assert(absent.toSeq === Seq(0x00.toByte))
    assert(present(Array.empty).toSeq === Seq(0x02.toByte))
    // string = length varint + UTF-8 bytes
    assert(sstr("NGN").toSeq === Seq(0x06.toByte, 'N'.toByte, 'G'.toByte, 'N'.toByte))
    // double = 8-byte little-endian IEEE 754 (2.0 = 0x4000000000000000)
    assert(dbl(2.0).toSeq ===
      Seq[Byte](0, 0, 0, 0, 0, 0, 0, 0x40))
    // and the reader round-trips them (independent implementations)
    val r = new AvroWire.BinaryReader(vlong(1700000000000000L) ++ dbl(-1234.56) ++ sstr("DEBIT"), 0)
    assert(r.readLong() === 1700000000000000L)
    assert(r.readDouble() === -1234.56)
    assert(r.readString() === "DEBIT")
  }

  test("Confluent-framed Avro fixtures decode to the same typed rows as the JSON wire") {
    val avroWire = avroWireFrame(Seq(
      (100L, txnFrameAvro(1, 100, "DEBIT", 600000.0)),
      (100L, txnFrameAvro(2, 100, "DEBIT", 500000.0)),
      (100L, txnFrameAvro(3, 100, "DEBIT", 499999.99)),
      (200L, txnFrameAvro(4, 200, "CREDIT", 750000.0)),
      (300L, txnFrameAvro(5, 300, "TRANSFER_OUT", 50000.0, op = "r")),
      (400L, txnFrameAvro(6, 400, "DEBIT", 10000.0, op = "d")),
      (0L, Array[Byte](0x00, 0, 0, 0, 7, 0x02)),          // truncated body
      (500L, txnFrameAvro(7, 500, "FEE", 1234.56))))

    assert(AvroWire.schemaId(txnFrameAvro(1, 100, "DEBIT", 1.0)) === 7)

    val parsedAvro = EnvelopeOps.parseTxnEnvelope(
      AvroWire.decodeAvroEnvelope(avroWire))
    assert(parsedAvro.count() === 8) // permissive: malformed -> null row

    // byte-different wire, identical typed output: the same canonical
    // records through the JSON seam
    val jsonWire = wireFrame(Seq(
      (100L, txnJson(1, 100, "DEBIT", 600000.0)),
      (100L, txnJson(2, 100, "DEBIT", 500000.0)),
      (100L, txnJson(3, 100, "DEBIT", 499999.99)),
      (200L, txnJson(4, 200, "CREDIT", 750000.0)),
      (300L, txnJson(5, 300, "TRANSFER_OUT", 50000.0, op = "r")),
      (400L, txnJson(6, 400, "DEBIT", 10000.0, op = "d")),
      (0L, """{"garbage": true"""),
      (500L, txnJson(7, 500, "FEE", 1234.56))))
    val wantLive = EnvelopeOps.upsertsOnly(decodeWire(jsonWire)).collect().toSet
    val gotLive = EnvelopeOps.upsertsOnly(parsedAvro).collect().toSet
    assert(gotLive === wantLive)
    assert(gotLive.map(_.getAs[Long]("txn_id")) === Set(1L, 2L, 3L, 4L, 5L, 7L))

    // spot conversions straight off the binary wire
    val t7 = parsedAvro.filter(col("txn_id") === 7).head()
    assert(t7.getAs[Long]("account_id") === 500L)
    assert(t7.getAs[Long]("event_time_us") === 1700000000000000L)
    assert(t7.getAs[Long]("event_time_ms") === 1700000000000L)
    assert(t7.getAs[Double]("amount") === 1234.56)
  }

  test("Avro wire rejects-to-null without failing: bad magic, truncation, bad branch") {
    val good = txnFrameAvro(1, 100, "DEBIT", 600000.0)
    val badMagic = good.clone(); badMagic(0) = 0x01
    val truncated = good.take(good.length - 3)
    val badBranch = Array[Byte](0x00, 0, 0, 0, 7) ++ vlong(5) // union branch 5
    val wire = avroWireFrame(Seq(
      (1L, good), (2L, badMagic), (3L, truncated), (4L, badBranch)))
    val parsed = EnvelopeOps.parseTxnEnvelope(AvroWire.decodeAvroEnvelope(wire))
    assert(parsed.count() === 4)
    assert(EnvelopeOps.upsertsOnly(parsed).count() === 1)
  }

  test("Avro encode (S2 sink seam): byte-identical to the independent fixture encoder; corpus round-trip exact") {
    // the main encoder against bytes THIS spec's independent encoder
    // authored — a shared misreading of the spec would have to be made
    // twice, in different code, to pass
    val env = EnvelopeOps.decodeJsonEnvelope(
      wireFrame(Seq((100L, txnJson(1, 100, "DEBIT", 600000.0))))
        .select(col("value").cast("string").as("payload")))
    val got = graft.Oracles.encodeFrame(env.head().getStruct(0),
      Schemas.transactionEnvelope, schemaIdNum = 7)
    assert(got.toSeq === txnFrameAvro(1, 100, "DEBIT", 600000.0).toSeq)

    // full-corpus round-trip: synthesize -> Avro encode -> Avro decode ->
    // parse equals the batch parse path exactly
    val events = graft.Tables.events(spark, sf0001)
    val roundTrip = EnvelopeOps.parseTxnEnvelope(
      AvroWire.decodeAvroEnvelope(
        AvroWire.encodeAvroEnvelope(
          EnvelopeOps.synthesizeTxnEnvelope(events))))
    assert(roundTrip.collect().toSet ===
      EnvelopeOps.parsedTransactions(events).collect().toSet)
  }

  test("SQL surface: graft_avro_encode/decode registered by name (registry-literal schema arg)") {
    // the from_avro-style API: schema named by literal, resolved at plan
    // time — same expressions the DataFrame seam uses
    val env = EnvelopeOps.synthesizeTxnEnvelope(
      eventsDf(Seq((1L, 1700000000000000000L, 100L, "purchase", 600000.0))))
    val roundTrip = EnvelopeOps.parseTxnEnvelope(
      env.select(expr("graft_avro_encode(envelope, 'transactions', 7)").as("value"))
        .select(expr("graft_avro_decode(value, 'transactions')").as("envelope")))
    assert(roundTrip.collect().toSeq ===
      EnvelopeOps.parseTxnEnvelope(env).collect().toSeq)
    // unknown schema name fails loud at plan time
    val bad = intercept[Exception](
      env.select(expr("graft_avro_decode(envelope, 'nope')")).collect())
    assert(bad.getMessage.contains("unknown envelope schema") ||
      Option(bad.getCause).exists(_.getMessage.contains("unknown envelope schema")))
  }

  test("Avro decode runs under Structured Streaming (scan-stage expression, file-stream source)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_stream").toString
    spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(txnFrameAvro(1, 100, "DEBIT", 600000.0)),
        org.apache.spark.sql.Row(txnFrameAvro(2, 200, "CREDIT", 750000.0)),
        org.apache.spark.sql.Row("junk".getBytes("UTF-8"))),
      StructType(Seq(StructField("value", BinaryType))))
      .write.parquet(s"$dir/in")
    val parsed = EnvelopeOps.parseTxnEnvelope(
      AvroWire.decodeAvroEnvelope(
        spark.readStream.schema("value BINARY").parquet(s"$dir/in")))
    val q = parsed.writeStream.format("memory")
      .queryName("avro_stream_decode").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("avro_stream_decode")
    assert(got.count() === 3) // malformed frame -> null envelope row, not a crash
    assert(got.filter(col("txn_id").isNotNull).count() === 2)
    assert(got.filter(col("txn_id") === 1).select("amount")
      .head().getDouble(0) === 600000.0)
  }

  test("golden delete keeps its key in the before-image (tombstone contract)") {
    // Debezium deletes carry before=row, after=null; the KTable path keys
    // deletes from the before-image (CdcTable.parseEnvelope)
    val wire = wireFrame(Seq((400L, txnJson(6, 400, "DEBIT", 10000.0, op = "d"))))
    val env = EnvelopeOps.decodeJsonEnvelope(
      wire.select(col("value").cast("string").as("payload")))
    val row = env.select(
      col("envelope.op").as("op"),
      col("envelope.after").isNull.as("after_null"),
      col("envelope.before.TRANSACTION_ID").cast("long").as("before_id")).head()
    assert(row.getAs[String]("op") === "d")
    assert(row.getAs[Boolean]("after_null"))
    assert(row.getAs[Long]("before_id") === 6L)
  }
}
