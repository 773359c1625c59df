package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.cdc.{AvroWire, EnvelopeOps}

/** The Kafka transport seam (VERDICT r7 item 6): the topology's source and
  * sink are chosen by config, every branch feeds one transport-blind decode
  * chain, and the kafka branch is REAL compiled code — selecting it without
  * the connector jar fails with Spark's provider lookup error (the
  * documented behavior until jars ship), not a compile error or a stub. */
class KafkaSeamSpec extends SparkSpecBase {

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    try { spark.conf.set(key, value); body }
    finally spark.conf.unset(key)
  }

  test("fixture bytes through parsedFromWire == batch parse (the kafka branch's decode chain)") {
    // the exact (key BINARY, value BINARY) shape format("kafka") projects
    val events = Tables.events(spark, sf0001)
    val frames = AvroWire.encodeAvroEnvelope(
        EnvelopeOps.synthesizeTxnEnvelope(events))
      .select(lit(null).cast("binary").as("key"), col("value"))
    val got = Sources.parsedFromWire(frames).drop("event_ts").collect().toSet
    val want = EnvelopeOps.upsertsOnly(
      EnvelopeOps.parsedTransactions(events)).collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("default source config is the file branch and parses the corpus") {
    val stream = Sources.cdcSource(spark, sf0001)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("seam_files")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("seam_files")
    assert(got.count() > 0)
    assert(got.columns.contains("event_ts"))
  }

  test("source=files-avro drives the wire-framed file branch") {
    val dir = Files.createTempDirectory("graft_seam_avro").toString + "/frames"
    val events = Tables.events(spark, sf0001)
    AvroWire.encodeAvroEnvelope(EnvelopeOps.synthesizeTxnEnvelope(events))
      .select(lit(null).cast("binary").as("key"), col("value"))
      .write.parquet(dir)
    withConf("spark.graft.source", "files-avro") {
      val q = Sources.cdcSource(spark, dir).writeStream.format("memory")
        .queryName("seam_avro").outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val want = EnvelopeOps.upsertsOnly(
        EnvelopeOps.parsedTransactions(events)).count()
      assert(spark.table("seam_avro").count() === want)
    }
  }

  test("source=kafka reaches Spark's provider lookup (fails only for the absent jar)") {
    withConf("spark.graft.source", "kafka") {
      val e = intercept[Exception] { Sources.cdcSource(spark, "ignored") }
      val msg = (Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" ")).toLowerCase
      // DATA_SOURCE_NOT_FOUND / "Failed to find the data source: kafka"
      assert(msg.contains("kafka"))
    }
  }

  test("unknown source/sink values fail loudly") {
    withConf("spark.graft.source", "carrier-pigeon") {
      val e = intercept[IllegalArgumentException] {
        Sources.cdcSource(spark, "ignored")
      }
      assert(e.getMessage.contains("carrier-pigeon"))
    }
    withConf("spark.graft.sink", "carrier-pigeon") {
      import spark.implicits._
      val df = spark.readStream.format("rate").load()
      val e = intercept[IllegalArgumentException] {
        Sources.sink(df, "x", Files.createTempDirectory("graft_sink").toString)
      }
      assert(e.getMessage.contains("carrier-pigeon"))
    }
  }

  test("sink=kafka wire-formats and reaches the provider lookup") {
    val out = Files.createTempDirectory("graft_seam_sink").toString
    withConf("spark.graft.sink", "kafka") {
      val parsed = Pipelines.parsedStream(spark, sf0001)
      val notif = graft.ops.Enrich.highValueAlerts(parsed,
        Tables.customer(spark, sf0001), threshold = 200.0)
      val e = intercept[Exception] {
        val q = Sources.sink(notif, "high-value-alerts", out)
        try q.processAllAvailable() finally q.stop()
      }
      val msg = (Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" ")).toLowerCase
      assert(msg.contains("kafka"))
    }
  }
}
