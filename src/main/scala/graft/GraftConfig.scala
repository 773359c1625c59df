package graft

import org.apache.spark.sql.SparkSession

/** Runtime configuration surface mirroring the reference's
  * `application.conf` + env-var override scheme
  * (`config/ABBankStreamsConfig.java:30-111`,
  * `src/main/resources/application.conf`): every threshold can be set
  * without recompiling. Resolution order per key:
  *
  *   1. Spark conf `spark.graft.<key>` (set via `--conf` / session builder
  *      — the Spark-native analog of `-D` system properties)
  *   2. environment variable (the reference's exact names, e.g.
  *      `ABBANK_HIGH_VALUE_THRESHOLD_NGN`)
  *   3. built-in default — the corpus-scaled analogs in [[SparkEntry]],
  *      so `GraftConfig.load(spark)` with nothing set reproduces the
  *      oracle-verified behavior exactly.
  *
  * Kafka-specific keys (bootstrap servers, schema registry, state store
  * names) have no Spark analog here: sources/sinks are chosen by the
  * caller's `readStream`/`writeStream` format and state stores belong to
  * Structured Streaming's provider config (see RocksDbStateSpec).
  */
final case class GraftConfig(
    highValueThreshold: Double,
    velocityWindowSec: Int,
    velocityMinTxns: Long,
    dailySpendAlert: Double,
    dormancyGap: String)

object GraftConfig {

  /** The one resolver for every `spark.graft.*` key: Spark conf
    * `spark.graft.<sparkKey>`, then env var `envKey`, then `default`.
    * The streaming sources, sinks, ingest knobs and health port use it
    * too. */
  def resolve(spark: SparkSession, sparkKey: String, envKey: String,
      default: String): String =
    spark.conf.getOption(s"spark.graft.$sparkKey")
      .orElse(sys.env.get(envKey))
      .getOrElse(default)

  def load(spark: SparkSession): GraftConfig = GraftConfig(
    highValueThreshold = resolve(spark, "highValueThresholdNgn",
      "ABBANK_HIGH_VALUE_THRESHOLD_NGN",
      SparkEntry.HighValueThreshold.toString).toDouble,
    velocityWindowSec = resolve(spark, "velocityWindowSec",
      "ABBANK_VELOCITY_WINDOW_SEC",
      SparkEntry.VelocityWindowSec.toString).toInt,
    velocityMinTxns = resolve(spark, "velocityMaxTransactions",
      "ABBANK_VELOCITY_MAX_TXN",
      SparkEntry.VelocityMinTxns.toString).toLong,
    dailySpendAlert = resolve(spark, "dailySpendAlertNgn",
      "ABBANK_DAILY_SPEND_ALERT_NGN",
      SparkEntry.DailySpendAlert.toString).toDouble,
    dormancyGap = resolve(spark, "dormancyGap",
      "ABBANK_DORMANCY_GAP",
      SparkEntry.DormancyGap))
}
