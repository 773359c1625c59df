package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The events corpus has shipped under two physical parquet encodings for
  * `ts` (timestamp-micros and int64-epoch-nanos), and the r6/r7 verdicts
  * both traced whole-round breakage to code that assumed one of them. This
  * spec pins the drift shut from every direction:
  *   - the both-encodings fixture: identical rows written both ways must
  *     derive identical event time, through the BATCH loader and through
  *     the STREAMING readers (the r7 bug lived only in the latter);
  *   - the magnitude guard: a long mislabeled as ts_ns must fail loudly,
  *     not silently drift 1000×;
  *   - the schema tripwire: [[Tables.schemaProbe]] (now invoked at
  *     Verify/Bench startup) must pass on the live corpus and name the
  *     drifted column on a corrupted one.
  */
class TimeEncodingSpec extends SparkSpecBase {
  import spark.implicits._

  // one logical corpus: (event_id, epoch-MICROS, user_id, event_type, value)
  private val usBase = 1700000000000000L // 2023-11-14T22:13:20Z in micros
  private val rows = Seq(
    (1L, usBase, 7L, "purchase", 600000.0),
    (2L, usBase + 1500000L, 7L, "click", 1.0),
    (3L, usBase + 86400000000L, 9L, "signup", 20.0),
    (4L, usBase + 90000000000L, 9L, "purchase", 250.5))

  private def logical =
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("props", lit("""{"k": 1}"""))

  /** Write the fixture as parquet timestamp[us] (TIMESTAMP_NTZ — the
    * corpus's current encoding). */
  private def writeMicros(dir: String): Unit =
    logical
      .withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir)

  /** Write the fixture as int64 epoch-nanos (the corpus's other historical
    * encoding; Spark cannot author parquet TIMESTAMP(NANOS), but the reader
    * surface is identical — both arrive as LongType ts). */
  private def writeNanos(dir: String): Unit =
    logical
      .withColumn("ts", col("us") * 1000L)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir)

  /** Each encoding's events directory, laid out as `<corpus>/events.parquet`
    * so the batch loaders read it too. */
  private def fixtureDirs(): (String, String) = {
    val base = Files.createTempDirectory("graft_ts_enc").toString
    val (micros, nanos) = (s"$base/micros/events.parquet", s"$base/nanos/events.parquet")
    writeMicros(micros); writeNanos(nanos)
    (micros, nanos)
  }

  private def keyed(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("event_id"), col("ts_ns"), col("ts_us"),
        unix_micros(col("event_ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  test("both-encodings fixture: batch deriveEventTime is encoding-invariant") {
    val (micros, nanos) = fixtureDirs()
    val a = keyed(Tables.deriveEventTime(spark.read.parquet(micros)))
    val b = keyed(Tables.deriveEventTime(spark.read.parquet(nanos)))
    assert(a === b)
    assert(a.size === rows.size)
    // and the values are RIGHT, not just mutually consistent
    assert(a.contains((1L, usBase * 1000L, usBase, usBase)))
  }

  test("streaming readers are encoding-invariant and agree with batch (r7 regression)") {
    val (micros, nanos) = fixtureDirs()
    def streamed(dir: String, name: String): Set[(Long, Long, Long, Long)] = {
      val q = graft.streaming.Pipelines.eventStreamFromPath(spark, dir)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      q.processAllAvailable(); q.stop()
      keyed(spark.table(name))
    }
    val batch = keyed(Tables.deriveEventTime(spark.read.parquet(micros)))
    assert(streamed(micros, "enc_micros_stream") === batch)
    assert(streamed(nanos, "enc_nanos_stream") === batch)

    // the CDC decode reads event time through the same rules
    def decoded(dir: String, name: String) = {
      val q = graft.streaming.Pipelines.parsedStreamFromPath(spark, dir)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      q.processAllAvailable(); q.stop()
      spark.table(name).collect().toSet
    }
    val upserts = QueryShared.upserts(spark, new java.io.File(micros).getParent)
      .withColumn("event_ts", timestamp_micros(col("event_time_us")))
      .collect().toSet
    assert(upserts.size === rows.size)
    assert(decoded(micros, "dec_micros_stream") === upserts)
    assert(decoded(nanos, "dec_nanos_stream") === upserts)
  }

  test("magnitude guard: micros mislabeled as ts_ns fails loudly, not 1000x-small") {
    val mislabeled = rows.toDF("event_id", "ts_ns", "user_id", "event_type", "value")
    val e = intercept[Exception] {
      Tables.deriveEventTime(mislabeled).select("ts_us").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("unit mismatch")))
  }

  test("magnitude guard: genuine nanos, nulls, and pre-1970 pass untouched") {
    val ok = Seq((1L, Some(1700000000000000000L)), (2L, None),
        (3L, Some(-5000000000L)))
      .toDF("event_id", "ts_ns")
    val got = Tables.deriveEventTime(ok)
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got === Map(1L -> Some(1700000000000000L), 2L -> None,
      3L -> Some(-5000000L)))
  }

  test("schemaProbe passes on the live corpus") {
    Tables.schemaProbe(spark, sf0001) // must not throw
  }

  test("schemaProbe names the drifted column on a corrupted corpus") {
    val dir = Files.createTempDirectory("graft_drift").toString
    logical.withColumn("ts", lit("oops"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      Tables.schemaProbe(spark, dir)
    }
    assert(e.getMessage.contains("events.ts: expected"))
    assert(e.getMessage.contains("schema drift"))
  }
}
