package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stream-table enrichment joins (reference J1/J3).
  *
  * The reference enriches each high-value transaction with the latest
  * account row via a KV-store lookup (`topology/ABBankTopology.java:233-240`)
  * and *declares* (but never wires) a second hop to customers
  * (`README.md:44`, comment at `:212-213`) — the rebuild implements both.
  *
  * Scale posture: dimension tables (accounts/customers/nations) are orders
  * of magnitude smaller than the fact stream, so both hops are explicit
  * `broadcast()` hash joins — zero shuffle of the 100 TB fact side. If a
  * dimension ever outgrows broadcast range, drop the hint and let AQE pick
  * a shuffled hash join on the pre-partitioned key.
  *
  * Pipeline 1's enrichments are written here once, over any parsed
  * transactions frame: the streaming pipelines (`graft.streaming`) pass a
  * stream or a micro-batch, the batch twins pass the upserts, so each
  * registered query checks the sink's own code.
  */
object Enrich {

  /** J1: left-join facts to a dimension on `key`, broadcasting the dim.
    * Left join tolerates missing dimension rows (reference falls back to
    * "N/A" — `topology/ABBankTopology.java:252-253`). */
  def withDim(facts: DataFrame, dim: DataFrame, key: String): DataFrame =
    facts.join(broadcast(dim), Seq(key), "left")

  /** J3: two-hop enrichment — facts -> customer dim -> nation dim. */
  def twoHop(
      facts: DataFrame, factKey: String,
      dim1: DataFrame, dim1Key: String,
      dim2: DataFrame, dim2FromCol: String, dim2Key: String): DataFrame =
    facts
      .join(broadcast(dim1), col(factKey) === col(dim1Key), "left")
      .join(broadcast(dim2), col(dim2FromCol) === col(dim2Key), "left")

  /** The high-value prefix of pipeline 1: completed transactions at or
    * above `threshold` (reference `topology/ABBankTopology.java:215-225`). */
  def highValue(txns: DataFrame, threshold: Double): DataFrame =
    txns.filter(Predicates.isCompleted(col("status")))
      .filter(Predicates.isHighValue(col("amount"), threshold))

  /** Pipeline 1's alert: high-value transactions joined to the customer
    * table, as HIGH_VALUE_ALERT notification JSON (reference `:215-245`);
    * a missing customer names the account "N/A". */
  def highValueAlerts(txns: DataFrame, customer: DataFrame,
      threshold: Double): DataFrame = {
    val fmt = Notify.formatAmount(col("amount"), col("currency"))
    withDim(highValue(txns, threshold),
        customer.withColumnRenamed("c_custkey", "account_id"), "account_id")
      .select(col("txn_id"), col("account_id"),
        Notify.notificationJson(
          idPrefix = "HV", notificationType = "HIGH_VALUE_ALERT",
          severity = "HIGH", channel = "BOTH",
          entityId = col("txn_id"), accountId = col("account_id"),
          subject = lit("High value transaction alert"),
          body = concat(lit("Account "), col("account_id"), lit(" spent "), fmt),
          metadata = map(lit("amount"), fmt, lit("currency"), col("currency"),
            lit("accountName"), coalesce(col("c_name"), lit("N/A")))
        ).as("notification"))
  }

  /** Pipeline 1 against the CDC-built accounts KTable `accounts` — the
    * reference's actual enrichment data flow (`ABBankTopology.java:233-240`
    * joins the high-value stream to the KTable built from the ACCOUNTS CDC
    * topic at `:107-125`). Deleted accounts fall back to "N/A" like
    * missing KV-store rows (`:252-253`). */
  def highValueCdcEnriched(txns: DataFrame, accounts: DataFrame,
      threshold: Double): DataFrame =
    withDim(highValue(txns, threshold), accounts, "account_id")
      .select(col("txn_id"), col("account_id"), col("amount"),
        coalesce(col("account_number"), lit("N/A")).as("account_number"),
        coalesce(col("customer_id"), lit(-1L)).as("customer_id"),
        coalesce(col("balance"), lit(-1.0)).as("account_balance"),
        coalesce(col("account_status"), lit("N/A")).as("account_status"))

  /** The columns [[twoHopCdcEnriched]] reads from the accounts KTable (DDL). */
  val TwoHopAccountColumns = "account_id BIGINT, customer_id BIGINT, account_number STRING"

  /** The columns [[twoHopCdcEnriched]] reads from the customers KTable (DDL). */
  val TwoHopCustomerColumns =
    "customer_id BIGINT, first_name STRING, last_name STRING, email STRING, segment STRING"

  /** Pipeline 1's declared two-hop form: high-value transactions `hv` ->
    * accounts KTable -> customers KTable, surfacing the customer's full
    * name and contact (the reference declares the customers hop,
    * `README.md:44`, comment `ABBankTopology.java:212-213`, and builds both
    * KTables at `:107-144`). Missing keys, tombstoned ones included, take
    * the KV-store-miss fallbacks (`:252-253`). */
  def twoHopCdcEnriched(hv: DataFrame, accounts: DataFrame,
      customers: DataFrame): DataFrame = {
    def columns(ddl: String) = StructType.fromDDL(ddl).fieldNames.toIndexedSeq.map(col)
    withDim(
        withDim(hv, accounts.select(columns(TwoHopAccountColumns): _*), "account_id"),
        customers.select(columns(TwoHopCustomerColumns): _*), "customer_id")
      .select(col("txn_id"), col("account_id"), col("amount"),
        coalesce(col("account_number"), lit("N/A")).as("account_number"),
        when(col("first_name").isNull, lit("N/A"))
          .otherwise(Notify.fullName(col("first_name"), col("last_name")))
          .as("customer_name"),
        coalesce(col("email"), lit("N/A")).as("email"),
        coalesce(col("segment"), lit("N/A")).as("segment"))
  }
}
