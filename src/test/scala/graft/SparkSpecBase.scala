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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the production function surface and planner strategy
    // (BoundedTopKSpec toggles the strategy off to diff plans)
    GraftSession.install(s)
  }
}
