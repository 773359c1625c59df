package graft.cdc

import org.apache.spark.sql.types._

/** StructType constants mirroring the reference's CDC data model.
  *
  * The reference (darefamuy/cdc-stream-processor) consumes Debezium-style
  * Oracle XStream envelopes: `{before, after, source, transaction, op,
  * ts_ms, ts_us, ts_ns}` (reference `model/CdcEnvelope.java:8-20`, Avro
  * layout `src/main/avro/transactions_value.avsc`). Schemas are static and
  * externally registered — the Spark rebuild declares them as hand-written
  * StructTypes used both for batch parquet reads and `from_avro`/`from_json`
  * in streaming mode.
  *
  * Type conversion rules re-expressed here (reference `util/CdcParser.java:14-25`):
  *   - Oracle NUMBER ids travel as Avro double -> cast LongType on parse
  *   - money columns stay DoubleType (Avro wire type is double)
  *   - MicroTimestamp = epoch MICROS as long -> `timestamp_micros`
  *   - Timestamp (dates) = epoch MILLIS as long -> `timestamp_millis`
  */
object Schemas {

  /** after/before image of a TRANSACTIONS row
    * (reference `src/main/avro/transactions_value.avsc`). */
  val transactionRow: StructType = StructType(Seq(
    StructField("TRANSACTION_ID", DoubleType),            // Oracle NUMBER id as double
    StructField("ACCOUNT_ID", DoubleType),
    StructField("TRANSACTION_REF", StringType),
    StructField("TRANSACTION_TYPE", StringType),          // DEBIT/CREDIT/TRANSFER_*/FEE/...
    StructField("AMOUNT", DoubleType),
    StructField("CURRENCY", StringType),
    StructField("STATUS", StringType),                    // PENDING/COMPLETED/FAILED
    StructField("BALANCE_BEFORE", DoubleType),
    StructField("BALANCE_AFTER", DoubleType),
    StructField("INITIATED_AT", LongType),                // epoch micros (MicroTimestamp)
    StructField("COMPLETED_AT", LongType)
  ))

  /** after/before image of an ACCOUNTS row
    * (reference `src/main/avro/accounts_value.avsc`). */
  val accountRow: StructType = StructType(Seq(
    StructField("ACCOUNT_ID", DoubleType),
    StructField("CUSTOMER_ID", DoubleType),
    StructField("ACCOUNT_NUMBER", StringType),
    StructField("ACCOUNT_TYPE", StringType),
    StructField("BALANCE", DoubleType),
    StructField("AVAILABLE_BALANCE", DoubleType),
    StructField("OVERDRAFT_LIMIT", DoubleType),
    StructField("CURRENCY", StringType),
    StructField("STATUS", StringType),
    StructField("OPENED_DATE", LongType),                 // epoch millis
    StructField("UPDATED_AT", LongType)                   // epoch micros
  ))

  /** after/before image of a CUSTOMERS row
    * (reference `src/main/avro/customers_value.avsc`). */
  val customerRow: StructType = StructType(Seq(
    StructField("CUSTOMER_ID", DoubleType),
    StructField("FIRST_NAME", StringType),
    StructField("LAST_NAME", StringType),
    StructField("EMAIL", StringType),
    StructField("PHONE", StringType),
    StructField("SEGMENT", StringType),
    StructField("DATE_OF_BIRTH", LongType),               // epoch millis
    StructField("UPDATED_AT", LongType)                   // epoch micros
  ))

  /** Debezium source block (subset the reference reads:
    * `model/CdcEnvelope.java:50-53,80-82`). */
  val source: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("connector", StringType),
    StructField("name", StringType),
    StructField("ts_ms", LongType),
    StructField("db", StringType),
    StructField("schema", StringType),
    StructField("table", StringType),
    StructField("scn", StringType)
  ))

  /** Full CDC envelope for a given row schema
    * (reference `model/CdcEnvelope.java:8-20`). */
  def envelope(row: StructType): StructType = StructType(Seq(
    StructField("before", row),
    StructField("after", row),
    StructField("source", source),
    StructField("op", StringType),                        // c/u/d/r
    StructField("ts_ms", LongType),
    StructField("ts_us", LongType),
    StructField("ts_ns", LongType)
  ))

  /** after/before image of a TRANSACTION_AUDIT row (reference
    * `src/main/avro/transaction_audit_value.avsc`). The reference ships
    * key+value schemas for this table but no topology consumes them
    * (declared-but-dead surface); the rebuild carries the StructType and
    * one wire-parse query so a user switching over keeps capability
    * parity with the declared schema set. */
  val auditRow: StructType = StructType(Seq(
    StructField("AUDIT_ID", DoubleType),                  // Oracle NUMBER id as double
    StructField("TRANSACTION_ID", DoubleType),
    StructField("AUDIT_ACTION", StringType),              // FLAGGED/REVIEWED/CLEARED
    StructField("FLAGGED_REASON", StringType),            // nullable
    StructField("REVIEWED_BY", StringType),               // nullable
    StructField("REVIEWED_AT", LongType),                 // epoch micros, nullable
    StructField("NOTES", StringType),                     // nullable
    StructField("CREATED_AT", LongType)                   // epoch micros
  ))

  val transactionEnvelope: StructType = envelope(transactionRow)
  val accountEnvelope: StructType = envelope(accountRow)
  val customerEnvelope: StructType = envelope(customerRow)

  /** Output notification document (reference `model/NotificationEvent.java:23-45`):
    * enum-ish string fields + ordered string->string metadata map. */
  val notification: StructType = StructType(Seq(
    StructField("notificationId", StringType),
    StructField("notificationType", StringType),          // FRAUD_ALERT/HIGH_VALUE_ALERT/...
    StructField("severity", StringType),                  // LOW/MEDIUM/HIGH/CRITICAL
    StructField("channel", StringType),                   // EMAIL/SMS/BOTH
    StructField("accountId", LongType),
    StructField("customerId", LongType),
    StructField("subject", StringType),
    StructField("body", StringType),
    StructField("metadata", MapType(StringType, StringType))
  ))
}
