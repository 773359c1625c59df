package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.LatestByKey

/** The wire a synthesized changelog travels between its envelope and its
  * parse: [[Wire.Json]] (a JSON string payload through `from_json`) or
  * [[Wire.Avro]] (Confluent-framed Avro binary through [[AvroWire]], the
  * reference's wire — `serde/AvroSerdes.java:35-59`). Both decode to the
  * same nested envelope struct, so the parse after them is one function. */
sealed trait Wire {
  def roundTrip(envelopes: DataFrame, table: CdcTable): DataFrame
}

object Wire {
  case object Json extends Wire {
    def roundTrip(envelopes: DataFrame, table: CdcTable): DataFrame =
      EnvelopeOps.decodeJsonEnvelope(EnvelopeOps.encodeJsonEnvelope(envelopes),
        schema = table.envelopeSchema)
  }

  case object Avro extends Wire {
    def roundTrip(envelopes: DataFrame, table: CdcTable): DataFrame =
      AvroWire.decodeAvroEnvelope(
        AvroWire.encodeAvroEnvelope(envelopes, schema = table.envelopeSchema,
          schemaIdNum = table.schemaId),
        schema = table.envelopeSchema)
  }
}

/** One CDC dimension topic: everything its changelog codec needs.
  *
  * @param table    the Debezium `source.table` name
  * @param row      the before/after image schema (`Schemas.accountRow`, ...)
  * @param schemaId the Confluent registry id of its Avro value schema
  * @param keyField the image field holding the record key
  * @param key      the flat key column, parsed as a long
  * @param versions the version scheme: source rows -> one row per envelope
  *                 version, with an `op` column
  * @param tsUs     the version's record time in micros, over `versions`' rows
  * @param scn      the version's change number, over `versions`' rows
  * @param image    the `after` image, field by field, over the columns of
  *                 `versions`' rows named through the accessor
  * @param parse    the flat columns after the key, each from the `after`
  *                 field accessor (wire-type conversions: double ids ->
  *                 long, micros kept)
  */
final case class CdcTable(
    table: String,
    row: StructType,
    schemaId: Int,
    keyField: String,
    key: String,
    versions: DataFrame => DataFrame,
    tsUs: Column,
    scn: Column,
    image: (String => Column) => Seq[(String, Column)],
    parse: (String => Column) => Seq[(String, Column)]) {

  lazy val envelopeSchema: StructType = Schemas.envelope(row)

  /** Source rows -> one `envelope` column per version, shaped like
    * [[envelopeSchema]]. Deletes carry the image in `before` with `after`
    * null (Debezium tombstone layout); upserts carry `after` with `before`
    * null. */
  def synthesize(source: DataFrame): DataFrame = {
    val after = struct(image(col).map { case (n, c) => c.as(n) }: _*)
    val op = col("op")
    versions(source).select(EnvelopeOps.envelope(table,
      before = when(op === "d", after), after = when(op =!= "d", after),
      op = op, tsMs = (tsUs / 1000).cast("long"), tsUs = tsUs,
      tsNs = tsUs * 1000, scn = scn).as("envelope"))
  }

  /** Envelope -> flat typed row: the key, [[parse]]'s columns, `cdc_ts_us`
    * and `op`. The key comes from `before` when `after` is null, so
    * tombstones keep their key (Kafka keys deletes by the record key; here
    * the before-image carries it). */
  def parseEnvelope(env: DataFrame): DataFrame =
    // no whole-struct null filter here: Spark 4 from_json never yields a
    // null struct (malformed -> all-null fields), and referencing the
    // whole envelope would block Catalyst's JSON schema pruning — the
    // key-null filter in `keyed` covers P1
    env.select((
      coalesce(col(s"envelope.after.$keyField"), col(s"envelope.before.$keyField"))
        .cast("long").as(key) +:
      parse(f => col(s"envelope.after.$f")).map { case (n, c) => c.as(n) }) ++
      Seq(col("envelope.ts_us").as("cdc_ts_us"), col("envelope.op").as("op")): _*)

  /** The full wire path: synthesize -> `wire` encode -> decode against
    * [[envelopeSchema]] -> typed rows. */
  def changelog(source: DataFrame, wire: Wire): DataFrame =
    parseEnvelope(wire.roundTrip(synthesize(source), this))

  /** [[changelog]] without keyless rows (P1: a malformed payload parses to
    * all-null fields), the input of both KTable forms. */
  def keyed(source: DataFrame, wire: Wire): DataFrame =
    changelog(source, wire).filter(col(key).isNotNull)

  /** The KTable: latest version per key, tombstones applied (a key whose
    * newest version is a delete is absent). */
  def dim(source: DataFrame, wire: Wire): DataFrame =
    LatestByKey.latestWithTombstones(keyed(source, wire),
        Seq(key), Seq(col("cdc_ts_us")))
      .drop("op")
}

/** CDC-built dimension tables: the ACCOUNTS / CUSTOMERS changelog topics of
  * the reference, materialized as latest-by-key KTables and fed into the
  * enrichment joins (reference `topology/ABBankTopology.java:107-144` builds
  * both KTables from their CDC topics; `:233-240` left-joins high-value
  * transactions against the accounts KTable), plus the declared
  * TRANSACTION_AUDIT topic. Each topic is one [[CdcTable]] value.
  *
  * The test corpus has no Kafka feed, so the changelogs are synthesized
  * deterministically from the `customer` (`orders` for the audit) parquet
  * table: each customer yields several envelope versions (create +
  * updates, some ending in a tombstone), which then travel a real wire —
  * envelope struct -> payload -> decode against the topic's envelope
  * schema -> typed flat rows -> latest-by-key with tombstones applied.
  * `Wire.Avro` is the binary Confluent wire of the reference; the JSON
  * wire carries the registered queries without an `_avro` suffix and the
  * `GraftApp` KTables. The DuckDB oracle reproduces only the flat changelog
  * and its latest-per-key reduction; the nested serde round trip is the
  * Spark-side operator under test.
  *
  * Scale posture: synthesis is scan-only (explode of a tiny per-row
  * sequence); the KTable reduction is [[LatestByKey]]'s single hash shuffle;
  * the enrichment join broadcasts the dimension (dims are orders of
  * magnitude smaller than the fact stream — zero shuffle of the fact side).
  *
  * Version scheme (all arithmetic reproducible in ANSI SQL):
  *   - accounts: versions v = 0..custkey%3; op = 'd' on the last version
  *     when custkey%13=0 (account deleted), else 'c' for v=0 / 'u' after;
  *     BALANCE grows by 100.0 per version; record time = (custkey*10+v) s.
  *   - customers: versions v = 0..custkey%2; tombstone when custkey%17=0;
  *     EMAIL is versioned (the field an update actually changes); record
  *     time half a second after the account's.
  *   - audit: one version per key, no tombstones; op = 'r' (snapshot read)
  *     for every 10th key, else 'c'.
  */
object DimensionCdc {

  /** Versions v = 0..custkey % `nVersions` of each customer row, with
    * `cdc_ts_us` = (custkey*10+v) s + `offsetUs` and the op code; the last
    * version is a delete when custkey % `deleteEvery` = 0. */
  private def customerVersions(nVersions: Int, deleteEvery: Int,
      offsetUs: Long)(customer: DataFrame): DataFrame = {
    val k = col("c_custkey")
    val tsUs = (k * 10 + col("v")) * 1000000L
    customer
      .withColumn("v", explode(sequence(lit(0L), k % nVersions)))
      // no `+ 0` term for a zero offset: Catalyst does not fold it away
      .withColumn("cdc_ts_us", if (offsetUs == 0L) tsUs else tsUs + offsetUs)
      .withColumn("op",
        when(k % deleteEvery === 0 && col("v") === k % nVersions, "d")
          .when(col("v") === 0, "c")
          .otherwise("u"))
  }

  /** ACCOUNTS (reference `src/main/avro/accounts_value.avsc`). Ids travel
    * as doubles (Oracle NUMBER over Avro), money as double, OPENED_DATE
    * millis, UPDATED_AT micros — the reference's wire types; the parse
    * follows `model/AccountEvent.java`'s fromAvro conversions. */
  val Accounts: CdcTable = CdcTable(
    table = "ACCOUNTS", row = Schemas.accountRow, schemaId = 2,
    keyField = "ACCOUNT_ID", key = "account_id",
    versions = customerVersions(nVersions = 3, deleteEvery = 13, offsetUs = 0L),
    tsUs = col("cdc_ts_us"), scn = col("c_custkey") * 10 + col("v"),
    image = c => Seq(
      "ACCOUNT_ID" -> c("c_custkey").cast("double"),
      "CUSTOMER_ID" -> c("c_custkey").cast("double"),
      "ACCOUNT_NUMBER" -> concat(lit("ACCT-"), c("c_custkey")),
      "ACCOUNT_TYPE" ->
        when(c("c_custkey") % 2 === 0, "SAVINGS").otherwise("CURRENT"),
      "BALANCE" -> (c("c_acctbal") + c("v") * 100.0),
      "AVAILABLE_BALANCE" -> (c("c_acctbal") + c("v") * 100.0 - 25.0),
      "OVERDRAFT_LIMIT" -> ((c("c_custkey") % 5) * 1000.0),
      "CURRENCY" -> EnvelopeOps.currency(c("c_custkey")),
      "STATUS" -> when(c("c_custkey") % 11 === 0, "INACTIVE").otherwise("ACTIVE"),
      "OPENED_DATE" -> (c("c_custkey") * 86400000L),
      "UPDATED_AT" -> c("cdc_ts_us")),
    parse = after => Seq(
      "customer_id" -> after("CUSTOMER_ID").cast("long"),
      "account_number" -> after("ACCOUNT_NUMBER"),
      "account_type" -> after("ACCOUNT_TYPE"),
      "balance" -> after("BALANCE"),
      "available_balance" -> after("AVAILABLE_BALANCE"),
      "overdraft_limit" -> after("OVERDRAFT_LIMIT"),
      "currency" -> after("CURRENCY"),
      "account_status" -> after("STATUS"),
      "opened_date_ms" -> after("OPENED_DATE")))

  /** CUSTOMERS (reference `src/main/avro/customers_value.avsc`; parse as
    * `model/CustomerEvent.java`, whose `getFullName`:46-48 is
    * `graft.ops.Notify.fullName`). */
  val Customers: CdcTable = CdcTable(
    table = "CUSTOMERS", row = Schemas.customerRow, schemaId = 3,
    keyField = "CUSTOMER_ID", key = "customer_id",
    versions = customerVersions(nVersions = 2, deleteEvery = 17, offsetUs = 500000L),
    tsUs = col("cdc_ts_us"), scn = col("c_custkey") * 10 + col("v"),
    image = c => Seq(
      "CUSTOMER_ID" -> c("c_custkey").cast("double"),
      "FIRST_NAME" -> concat(lit("F"), c("c_custkey") % 100),
      "LAST_NAME" -> concat(lit("L"), c("c_custkey")),
      "EMAIL" -> concat(lit("c"), c("c_custkey"), lit(".v"), c("v"),
        lit("@abbank.example")),
      "PHONE" -> concat(lit("+234-80"), c("c_custkey") % 10, lit("-"), c("c_custkey")),
      "SEGMENT" -> c("c_mktsegment"),
      "DATE_OF_BIRTH" -> (c("c_custkey") * 1234567L),
      "UPDATED_AT" -> c("cdc_ts_us")),
    parse = after => Seq(
      "first_name" -> after("FIRST_NAME"),
      "last_name" -> after("LAST_NAME"),
      "email" -> after("EMAIL"),
      "phone" -> after("PHONE"),
      "segment" -> after("SEGMENT"),
      "date_of_birth_ms" -> after("DATE_OF_BIRTH")))

  /** TRANSACTION_AUDIT over the `orders` table (reference
    * `src/main/avro/transaction_audit_value.avsc` — schemas the reference
    * DECLARES but no topology consumes; carried here for capability
    * parity, like the half-wired customers join). Nullable wire fields
    * (FLAGGED_REASON/REVIEWED_BY/REVIEWED_AT/NOTES) are exercised on
    * deterministic key residues so the wire round trip proves null
    * transport. Its schema id is the next free one after the customers'. */
  val Audit: CdcTable = CdcTable(
    table = "TRANSACTION_AUDIT", row = Schemas.auditRow, schemaId = 4,
    keyField = "AUDIT_ID", key = "audit_id",
    versions = _.withColumn("op",
      when(col("o_orderkey") % 10 === 0, "r").otherwise("c")),
    tsUs = col("o_orderkey") * 1000000L, scn = col("o_orderkey"),
    image = c => {
      val k = c("o_orderkey")
      val createdUs = k * 1000000L
      Seq(
        "AUDIT_ID" -> k.cast("double"),
        "TRANSACTION_ID" -> (k * 2 + 1).cast("double"),
        "AUDIT_ACTION" -> when(k % 3 === 0, "FLAGGED")
          .when(k % 3 === 1, "REVIEWED")
          .otherwise("CLEARED"),
        "FLAGGED_REASON" -> when(k % 3 === 0,
          when(k % 2 === 0, "AMOUNT_THRESHOLD").otherwise("VELOCITY")),
        "REVIEWED_BY" -> when(k % 3 === 1, concat(lit("analyst-"), k % 7)),
        "REVIEWED_AT" -> when(k % 3 === 1, createdUs + 3600000000L),
        "NOTES" -> when(k % 5 === 0, concat(lit("case "), k)),
        "CREATED_AT" -> createdUs)
    },
    parse = after => Seq(
      "transaction_id" -> after("TRANSACTION_ID").cast("long"),
      "audit_action" -> after("AUDIT_ACTION"),
      "flagged_reason" -> after("FLAGGED_REASON"),
      "reviewed_by" -> after("REVIEWED_BY"),
      "reviewed_at_us" -> after("REVIEWED_AT"),
      "notes" -> after("NOTES"),
      "created_at_us" -> after("CREATED_AT")))
}
