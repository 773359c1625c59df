package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (lazy, UTC, small shuffle). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Build a synthetic events frame shaped like Tables.events output.
    * rows = (event_id, ts_ns, user_id, event_type, value). */
  def eventsDf(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    Tables.deriveEventTime(
      rows.toDF("event_id", "ts_ns", "user_id", "event_type", "value")
        .withColumn("props", lit("""{"k": 1}""")))
  }

  /** Run `body` with the streaming state width
    * (`spark.sql.shuffle.partitions`) at `n`, then restore the suite's. */
  def withStatePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Parsed-transaction frame from the same tuple shape. */
  def txns(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame =
    graft.cdc.EnvelopeOps.parsedTransactions(eventsDf(rows))
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static: only the JVM's first session sets it, so suites share
      // production's size rather than Spark's default
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toString)
      // production's local file system for checkpoints and sinks; like the
      // cache size it must be set with the first SparkContext, as Hadoop
      // caches the `file:` FileSystem once per JVM
      .config(GraftSession.LocalFileSystemConfs)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the production function surface and planner strategy
    // (BoundedTopKSpec toggles the strategy off to diff plans)
    GraftSession.install(s)
  }
}
