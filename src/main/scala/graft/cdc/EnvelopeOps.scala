package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC envelope synthesis + parsing over the `events` test table.
  *
  * The test corpus has no real Kafka/Avro feed, so the envelope mapping is
  * written once, as per-field rules: [[afterImage]] builds each Debezium
  * `after` field from the event columns, and [[parseRules]] turns each
  * `after` field into a flat transaction column with the exact conversion
  * rules of the reference (`model/TransactionEvent.java:39-64`,
  * `util/CdcParser.java`). Both take a field accessor, so the same rules
  * run on two paths:
  *   - nested: [[synthesizeTxnEnvelope]] builds the envelope struct and
  *     [[parseTxnEnvelope]] reads a real one back. The wire, Kafka and
  *     serde paths (`AvroWire`, `Sources.parsedFromWire`, the JSON seams)
  *     and the `q_envelope_parse` query run this round trip.
  *   - flat: [[parsedTransactions]] (batch) and
  *     `Pipelines.parsedStreamFromPath` (streaming) apply the parse rules
  *     straight to the event columns in one projection, so Catalyst never
  *     sees the struct it would only collapse away again on every trigger.
  * The DuckDB oracle reproduces only the *flat output*; `EnvelopeOpsSpec`
  * pins the flat path to the nested round trip.
  *
  * Analog mapping (events -> banking):
  *   event_id -> TRANSACTION_ID, user_id -> ACCOUNT_ID, value -> AMOUNT,
  *   event_type -> TRANSACTION_TYPE {purchase->DEBIT, click->TRANSFER_OUT,
  *   error->FEE, signup->CREDIT, view->TRANSFER_IN},
  *   status = FAILED iff event_type='error' else COMPLETED,
  *   currency = {USD,NGN,EUR} by user_id % 3,
  *   op = by event_id % 10: 0->'d', 1->'u', 2->'r', else 'c'.
  */
object EnvelopeOps {

  /** TRANSACTION_TYPE from event_type (see object doc). */
  def txnType(eventType: Column): Column =
    when(eventType === "purchase", "DEBIT")
      .when(eventType === "click", "TRANSFER_OUT")
      .when(eventType === "error", "FEE")
      .when(eventType === "signup", "CREDIT")
      .otherwise("TRANSFER_IN")

  def status(eventType: Column): Column =
    when(eventType === "error", "FAILED").otherwise("COMPLETED")

  def currency(userId: Column): Column =
    when(userId % 3 === 0, "USD")
      .when(userId % 3 === 1, "NGN")
      .otherwise("EUR")

  /** CDC op code c/u/d/r derived deterministically from the id. */
  def opCode(eventId: Column): Column =
    when(eventId % 10 === 0, "d")
      .when(eventId % 10 === 1, "u")
      .when(eventId % 10 === 2, "r")
      .otherwise("c")

  /** MicroTimestamp micros -> epoch millis (SQL `div`, truncating). */
  private def millis(micros: Column): Column =
    call_function("div", micros, lit(1000))

  /** The envelope's `after` image, field by field, over the event columns
    * named through `ev`. Ids are carried as doubles (the Avro wire type
    * for Oracle NUMBER) so the parse rules exercise the reference's
    * double->long conversion (`util/CdcParser.java:67-70`). */
  private def afterImage(ev: String => Column): Seq[(String, Column)] = Seq(
    "TRANSACTION_ID" -> ev("event_id").cast("double"),
    "ACCOUNT_ID" -> ev("user_id").cast("double"),
    "TRANSACTION_REF" -> concat(lit("TXN-"), ev("event_id")),
    "TRANSACTION_TYPE" -> txnType(ev("event_type")),
    "AMOUNT" -> ev("value"),
    "CURRENCY" -> currency(ev("user_id")),
    "STATUS" -> status(ev("event_type")),
    "INITIATED_AT" -> ev("ts_us"),                       // MicroTimestamp
    "COMPLETED_AT" -> (ev("ts_us") + 1000000))

  /** Parse rules: each flat transaction column from the `after` field
    * accessor and the op code, applying the reference's conversions:
    * double id -> long, MicroTimestamp micros -> millis
    * (`model/TransactionEvent.java:87-104`). Null-safe like the reference:
    * malformed rows become nulls, never failures. */
  private def parseRules(after: String => Column, op: Column): Seq[(String, Column)] = Seq(
    "txn_id" -> after("TRANSACTION_ID").cast("long"),
    "account_id" -> after("ACCOUNT_ID").cast("long"),
    "txn_ref" -> after("TRANSACTION_REF"),
    "txn_type" -> after("TRANSACTION_TYPE"),
    "amount" -> after("AMOUNT"),
    "currency" -> coalesce(after("CURRENCY"), lit("NGN")),
    "status" -> after("STATUS"),
    "event_time_ms" -> millis(after("INITIATED_AT")),
    "event_time_us" -> after("INITIATED_AT"),
    "op" -> op)

  private def named(cols: Seq[(String, Column)]): Seq[Column] =
    cols.map { case (n, c) => c.as(n) }

  /** The Debezium envelope shell around a row image: `before`/`after`
    * images, the `source` block (connector, database, `table`, change
    * number `scn`), the op code and the record time in millis, micros and
    * nanos. The one envelope layout of every topic
    * ([[Schemas.envelope]]). */
  private[cdc] def envelope(table: String, before: Column, after: Column,
      op: Column, tsMs: Column, tsUs: Column, tsNs: Column, scn: Column): Column =
    struct(
      before.as("before"),
      after.as("after"),
      struct(
        lit("3.2.0").as("version"),
        lit("oracle").as("connector"),
        lit("abbank").as("name"),
        tsMs.as("ts_ms"),
        lit("ORCLCDB").as("db"),
        lit("ABBANK").as("schema"),
        lit(table).as("table"),
        scn.cast("string").as("scn")
      ).as("source"),
      op.as("op"),
      tsMs.as("ts_ms"),
      tsUs.as("ts_us"),
      tsNs.as("ts_ns"))

  /** events (from [[graft.Tables.events]]) -> one nested `envelope` column
    * shaped like [[Schemas.transactionEnvelope]], `after` built by
    * [[afterImage]]. */
  def synthesizeTxnEnvelope(events: DataFrame): DataFrame = {
    val after = struct(named(afterImage(col)): _*)
    events.select(envelope("TRANSACTIONS",
      // typed null of the same struct shape (insert events carry no before-image)
      before = when(lit(false), after), after = after,
      op = opCode(col("event_id")), tsMs = millis(col("ts_us")),
      tsUs = col("ts_us"), tsNs = col("ts_ns"), scn = col("event_id")
    ).as("envelope"))
  }

  /** Envelope -> flat typed transaction row: [[parseRules]] over the
    * nested `envelope.after` fields. */
  def parseTxnEnvelope(env: DataFrame): DataFrame =
    env.select(named(parseRules(f => col(s"envelope.after.$f"),
      col("envelope.op"))): _*)

  /** The flat decode: the parsed transaction columns as expressions over
    * the event columns named through `ev` — [[parseRules]] applied to
    * [[afterImage]] with no envelope struct in between. */
  private[graft] def decodeEvents(ev: String => Column): Seq[(String, Column)] =
    parseRules(afterImage(ev).toMap, opCode(ev("event_id")))

  /** P1+P2+P4 of the reference pre-pipeline as one predicate over the
    * parsed columns named through `txn`: drop null envelopes, drop deletes
    * (tombstones), drop invalid account ids
    * (`topology/ABBankTopology.java:87-99`). Keeps c/u/r — snapshot reads
    * are processed like inserts (reference test `ABBankTopologyTest.java:243-250`). */
  private[graft] def isUpsert(txn: String => Column): Column =
    txn("txn_id").isNotNull && txn("op") =!= "d" &&
      txn("account_id").isNotNull && txn("account_id") =!= 0

  /** [[isUpsert]] over a parsed frame. */
  def upsertsOnly(parsed: DataFrame): DataFrame = parsed.filter(isUpsert(col))

  /** Full pre-pipeline from raw events in one `select` ([[decodeEvents]]);
    * rows equal `parseTxnEnvelope(synthesizeTxnEnvelope(events))`. Deletes
    * kept; callers needing upserts apply [[upsertsOnly]]. */
  def parsedTransactions(events: DataFrame): DataFrame =
    events.select(named(decodeEvents(col)): _*)

  /** S1 deserialization seam over the JSON wire: a string `payload` column
    * carrying a JSON-encoded CDC envelope -> typed nested envelope struct,
    * the same struct [[AvroWire.decodeAvroEnvelope]] yields from the binary
    * Confluent Avro wire of the reference (`serde/AvroSerdes.java:35-59`).
    * The `GraftApp` KTables, the dimension queries without an `_avro`
    * suffix and `q_envelope_json_serde` travel this wire. Parse is
    * permissive: malformed payloads become null envelopes and are dropped by
    * [[upsertsOnly]], never failed (reference
    * `config/ABBankStreamsConfig.java:93-94` LogAndContinueExceptionHandler). */
  def decodeJsonEnvelope(payloads: DataFrame, payloadCol: String = "payload",
      schema: org.apache.spark.sql.types.StructType = Schemas.transactionEnvelope): DataFrame =
    parseFence(payloads.select(
      from_json(col(payloadCol), schema).as("envelope")), "envelope")

  /** Parse-once fence: re-projects `colName` through
    * `graft_fence` ([[graft.functions.ParseFence]] — a nondeterministic
    * identity). Catalyst substitutes deterministic projections into
    * predicates when pushing them down, so without the fence a downstream
    * key-null/tombstone filter is rewritten into a SECOND
    * (schema-pruned but still full-payload) `from_json`/wire decode per
    * row — the accounts-KTable plan carried the parse in both the Filter
    * and the Project. A nondeterministic projection is one
    * PushPredicateThroughNonJoin refuses to cross and CollapseProject
    * refuses to inline, and unlike a dummy fence COLUMN it cannot be
    * column-pruned away. Run-time cost: nothing — the expression
    * passes the child's generated code through untouched. */
  private[graft] def parseFence(df: DataFrame, colName: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(df.columns.map {
      case c if c == colName => expr(s"graft_fence($c)").as(c)
      case c => col(c)
    }.toSeq: _*)
  }

  /** S2 serialization seam: envelope struct -> JSON string payload (the
    * shape of a Kafka value sink). */
  def encodeJsonEnvelope(env: DataFrame): DataFrame =
    env.select(to_json(col("envelope")).as("payload"))

  /** S2 wire shape: project any frame to the exact (key BINARY, value
    * BINARY) schema the Kafka sink requires — when the spark-sql-kafka
    * jar is present, `df.writeStream.format("kafka")` consumes this
    * unchanged (`.option("topic", ...)`); until then the same frame is a
    * byte-faithful Kafka archive under any other sink. Key = the record
    * key rendered as UTF-8 (the reference keys by account id string —
    * `ABBankTopology.java:101-103`); value = the JSON (prod: Avro)
    * payload bytes. */
  def kafkaWireFormat(df: DataFrame, keyCol: Column, valueCol: Column): DataFrame =
    df.select(
      keyCol.cast("string").cast("binary").as("key"),
      valueCol.cast("string").cast("binary").as("value"))
}
