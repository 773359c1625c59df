package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.{SparkSpecBase, Tables}
import graft.cdc.DimensionCdc

/** At-least-once replay audit for every GraftApp sink class (SURVEY §4's
  * delivery contract, reference `config/ABBankStreamsConfig.java:85-86`):
  *
  *  - the five notification sinks are Spark `FileStreamSink`s — committed
  *    batches live in `_spark_metadata`, and readers resolve files THROUGH
  *    the log, so a replayed batch's stray data files are invisible;
  *  - the two KTables are their queries' state stores: a replayed batch
  *    recomputes its state version from the previous one, and the state
  *    reader opens only the last committed batch ([[KTableSpec]]);
  *  - the hand-rolled two-hop `foreachBatch` sink writes batch-id-named
  *    directories with overwrite, so a full re-delivery of the stream
  *    rewrites rather than duplicates (tested here end-to-end).
  */
class SinkIdempotenceSpec extends SparkSpecBase {

  test("two-hop foreachBatch sink: full re-delivery leaves zero duplicate and zero lost alerts") {
    val base = Files.createTempDirectory("graft_idem_twohop").toString
    val acctQ = Pipelines.ktableQuery(
      Pipelines.ktableStream(spark, DimensionCdc.Accounts, sf0001), s"$base/ckpt_acct")
    val custQ = Pipelines.ktableQuery(
      Pipelines.ktableStream(spark, DimensionCdc.Customers, sf0001), s"$base/ckpt_cust")
    acctQ.processAllAvailable(); custQ.processAllAvailable()
    acctQ.stop(); custQ.stop()

    // run 1, then a fresh-checkpoint run 2 over the SAME input and outDir —
    // the strongest at-least-once replay (every micro-batch re-delivered)
    Seq("ckpt_join_1", "ckpt_join_2").foreach { ck =>
      val q = Pipelines.highValueTwoHopCdcStream(
        Pipelines.parsedStream(spark, sf0001),
        s"$base/ckpt_acct", s"$base/ckpt_cust", threshold = 200.0,
        outDir = s"$base/out", checkpoint = s"$base/$ck")
      q.processAllAvailable(); q.stop()
    }

    val got = spark.read.parquet(s"$base/out").drop("batch").collect()
    val want = graft.SparkEntry.queries("q_enrich_cdc_two_hop")(spark, sf0001)
      .collect()
    // exact multiset equality: replay duplicated nothing, lost nothing
    assert(got.length === want.length)
    assert(got.toSet === want.toSet)
    assert(got.nonEmpty)
  }

  test("FileStreamSink readers resolve through _spark_metadata: a replayed batch's stray data file is invisible") {
    val outBase = Files.createTempDirectory("graft_idem_file").toString
    val q = graft.ops.Enrich.highValueAlerts(
        Pipelines.parsedStream(spark, sf0001),
        Tables.customer(spark, sf0001), threshold = 200.0)
      .writeStream.format("parquet")
      .option("path", s"$outBase/high_value_alerts")
      .option("checkpointLocation", s"$outBase/ckpt")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val sinkDir = Paths.get(outBase, "high_value_alerts")
    assert(Files.exists(sinkDir.resolve("_spark_metadata")),
      "file sink must be transactional (metadata log present)")
    val before = spark.read.parquet(sinkDir.toString).count()
    assert(before > 0)

    // simulate the half-delivered replay: a data file written by a batch
    // whose commit never landed in the metadata log
    val part = Files.list(sinkDir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, sinkDir.resolve("part-replayed-duplicate.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val after = spark.read.parquet(sinkDir.toString).count()
    assert(after === before, "reader must ignore files outside _spark_metadata")
  }
}
