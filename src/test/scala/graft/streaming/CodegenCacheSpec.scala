package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpecBase

/** Steady-state micro-batches reuse their generated classes. The six
  * stateful replay pipelines run at once over small time-ordered files,
  * one file per trigger; once every query is past its first two triggers
  * (where its classes are first compiled), later triggers may compile only
  * the few classes Spark cannot cache: the watermark predicates, which
  * inline the current watermark as a literal. A codegen cache smaller than
  * the pipelines' working set evicts each class before its next use and
  * recompiles it every trigger (~10 compiles per query-trigger at Spark's
  * default of 100 entries, ~1.6 at [[graft.GraftSession.CodegenCacheEntries]]). */
class CodegenCacheSpec extends SparkSpecBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Micro-batches a query has finished (idle progress repeats a batch id). */
  private def batches(q: StreamingQuery): Int =
    q.recentProgress.map(_.batchId).distinct.length

  /** `n` parquet files of raw events in event-time order, `hours` of event
    * time each, with increasing mtimes (the file source reads the oldest
    * first). */
  private def feed(dir: String, n: Int, perFile: Int, hours: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val types = Array("purchase", "view", "click", "signup", "error")
    val base = 1700000000000000000L
    val spanNs = hours * 3600L * 1000000000L
    (0 until n).foreach { f =>
      val rows = Seq.fill(perFile)(base + f * spanNs + (rnd.nextDouble() * spanNs).toLong)
        .sorted.zipWithIndex.map { case (ts, i) =>
          (f.toLong * perFile + i, ts, rnd.nextInt(40).toLong,
            types(rnd.nextInt(types.length)), math.rint(rnd.nextDouble() * 40000) / 100)
        }
      val staging = Files.createTempDirectory("graft_cg_stage").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(f"$dir/events_$f%04d.parquet")
      Files.copy(part.toPath, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1600000000000L + f * 10000L))
    }
  }

  test("after two triggers, a micro-batch recompiles at most the watermark predicates") {
    val base = Files.createTempDirectory("graft_codegen_cache").toString
    val dir = s"$base/feed"
    Files.createDirectories(Paths.get(dir))
    val nFiles = 6
    feed(dir, nFiles, perFile = 300, hours = 16)

    def parsed() = Pipelines.parsedStreamFromPath(spark, dir, "*.parquet", Some(1))
    val queries = Seq(
      "cg_balance_updates" -> Pipelines.reconcileAlerts(spark, parsed()).toDF(),
      "cg_rolling_spend" -> Pipelines.rollingSpendAlerts(spark, parsed()).toDF(),
      "cg_twab_updates" -> Pipelines.twabUpdates(spark, parsed()).toDF(),
      "cg_fraud_alerts" -> Pipelines.velocityAlerts(parsed(), 3600, 3L),
      "cg_dormancy_alerts" -> Pipelines.dormancyAlerts(parsed(), "48 hours"),
      "cg_daily_spend" -> Pipelines.dailySpendAlerts(parsed(), 500.0))
      .map { case (name, df) => Sources.sink(df, name, s"$base/out") }
    try {
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (queries.exists(batches(_) < 2)) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        assert(System.nanoTime() < deadline, "queries did not reach two triggers")
        Thread.sleep(10)
      }
      val compiles0 = compiles
      val batches0 = queries.map(batches)
      queries.foreach(_.processAllAvailable())
      val steady = compiles - compiles0
      val pairs = queries.map(batches).zip(batches0).map { case (b, b0) => b - b0 }.sum
      val seen = s"$steady compiles over $pairs steady (query, trigger) pairs"
      info(seen)
      // a query may run ahead before the first read, so the floor is two
      // steady triggers per query, not every remaining file
      assert(pairs >= 2 * queries.size, seen)
      assert(steady <= 4L * pairs, seen)
    } finally queries.foreach(_.stop())
  }
}
