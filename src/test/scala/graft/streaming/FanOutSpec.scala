package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}

class FanOutSpec extends SparkSpecBase {

  test("foreachBatch fan-out writes all sinks from one shared scan") {
    val outBase = Files.createTempDirectory("graft_fanout").toString
    val parsed = Pipelines.parsedStream(spark, sf0001)
    val q = Pipelines.fanOutStateless(parsed,
      Tables.customer(spark, sf0001), threshold = 200.0, outBase)
    q.processAllAvailable(); q.stop()

    val parsedN = spark.read.parquet(s"$outBase/parsed").count()
    val hv = spark.read.parquet(s"$outBase/hv_alerts")
    val hvN = hv.count()
    val debitsN = spark.read.parquet(s"$outBase/debits").count()
    assert(parsedN > 0 && debitsN > 0 && debitsN < parsedN)
    assert(hvN === 12) // matches the batch notification query at sf0.001

    // F9: the sink stamps a fresh uuid + generatedAt per notification
    // (reference NotificationEvent.java:70-71); both excluded from any
    // equivalence compare — the deterministic payload columns are what
    // the count above verifies
    assert(hv.filter(col("notification_uuid").isNull ||
      col("generated_at_ms").isNull).count() === 0)
    assert(hv.select("notification_uuid").distinct().count() === hvN)
    assert(hv.filter(col("generated_at_ms") <= 0L).count() === 0)

    // idempotency: a full reprocess (fresh checkpoint, same batch ids)
    // OVERWRITES the batch partitions instead of appending duplicates
    val q2 = Pipelines.fanOutStateless(Pipelines.parsedStream(spark, sf0001),
      Tables.customer(spark, sf0001), threshold = 200.0, outBase)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$outBase/parsed").count() === parsedN)
    assert(spark.read.parquet(s"$outBase/hv_alerts").count() === hvN)
  }
}
