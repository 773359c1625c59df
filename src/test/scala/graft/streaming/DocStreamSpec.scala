package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.dedup.MinHashLSH

/** Streaming document dedup must agree with its batch twins: the batch
  * operators are the oracle-verified semantics, the stream adds bounded
  * watermark-expired state. */
class DocStreamSpec extends SparkSpecBase {

  import spark.implicits._

  /** (doc_id, ts_sec, text) -> document-stream surface. */
  private def docsFrom(input: MemoryStream[(Long, Long, String)]): DataFrame =
    input.toDF().toDF("doc_id", "ts_sec", "text")
      .withColumn("ingest_ts", timestamp_seconds(col("ts_sec")))

  private def run(df: DataFrame, name: String)(
      steps: (() => Unit)*): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try steps.foreach { s => s(); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  test("exact dedup: first digest arrival passes, later duplicates drop") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val out = run(DocStream.exactDeduped(docsFrom(input), "1 hour"),
      "doc_exact")(
      () => input.addData((1L, 10L, "alpha beta gamma"),
                          (2L, 11L, "delta epsilon")),
      // 3 normalizes to doc 1's digest (case + padding); 4 is new
      () => input.addData((3L, 12L, "  ALPHA beta GAMMA "),
                          (4L, 13L, "zeta eta")))
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 4L))
  }

  test("exact dedup: digest state expires with the watermark (bounded state)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val out = run(DocStream.exactDeduped(docsFrom(input), "10 seconds"),
      "doc_exact_ttl")(
      // base well above 0: event time == the initial watermark (epoch 0)
      // is filtered as late
      () => input.addData((1L, 1000L, "alpha beta gamma")),
      // watermark -> 1090s: doc 1's digest state (event time 1000s) expires
      () => input.addData((2L, 1100L, "unrelated text")),
      // same digest as doc 1, arriving after expiry -> re-emitted
      () => input.addData((3L, 1095L, "alpha beta gamma")))
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }

  test("streaming near-dup candidates == batch banding pairs on the corpus") {
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(docs.length > 100)

    val want = MinHashLSH.bandingCandidates(
        MinHashLSH.signatures(Tables.documents(spark, sf0001)))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty)

    // feed the same corpus as three micro-batches in ingest order
    val input = MemoryStream[(Long, Long, String)]
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val out = run(
      DocStream.nearDupCandidates(spark, docsFrom(input),
        watermarkDelay = "1 hour").toDF(), "doc_neardup")(
      chunks.map(c => { () =>
        input.addData(c.map { case (id, t) => (id, 1000L + id, t) }.toSeq)
        ()
      }): _*)

    val got = out.select("doc_a", "doc_b").distinct()
      .as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  test("maxResidents boundary: capped bucket still pairs new arrivals, never admits past cap") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val key = (0, 7L)
    def rows(ids: Long*) = ids.map(id =>
      DocStream.BandRow(id, new java.sql.Timestamp(1000000L + id), 0, 7L)).iterator
    val state = TestGroupState.create[DocStream.BucketState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L, eventTimeWatermarkMs = Optional.of(1L),
      hasTimedOut = false)
    val cap = 4

    // 6 docs land in an empty bucket with cap 4: 1-4 admitted, 5 and 6
    // pair against the capped residents but do NOT pair with each other
    val out1 = DocStream.process(stateTtlMs = 60000L, maxResidents = cap)(
      key, rows(1L, 2L, 3L, 4L, 5L, 6L), state).toSet
    val admittedPairs =
      for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cappedPairs =
      for (n <- Seq(5L, 6L); a <- 1L to 4L) yield (a, n)
    assert(out1.map(p => (p.doc_a, p.doc_b)) ===
      (admittedPairs ++ cappedPairs).toSet)
    assert(state.get.residents === Vector(1L, 2L, 3L, 4L))

    // next batch: a fresh doc still pairs against all 4 residents; a
    // re-arrival of an ADMITTED doc is suppressed; the non-admitted doc 5
    // re-pairs on re-arrival (cap semantics: membership = admitted only)
    val out2 = DocStream.process(stateTtlMs = 60000L, maxResidents = cap)(
      key, rows(7L, 1L, 5L), state).toSet
    assert(out2.map(p => (p.doc_a, p.doc_b)) ===
      ((1L to 4L).map(a => (a, 7L)) ++ (1L to 4L).map(a => (a, 5L))).toSet)
    assert(state.get.residents === Vector(1L, 2L, 3L, 4L))
  }

  test("near-dup bucket state expires: pairs only within the TTL horizon") {
    implicit val ctx = spark.sqlContext
    val text = "one two three four five six seven eight nine ten"
    val input = MemoryStream[(Long, Long, String)]
    val out = run(
      DocStream.nearDupCandidates(spark, docsFrom(input),
        watermarkDelay = "10 seconds", stateTtlMs = 60L * 1000).toDF(),
      "doc_neardup_ttl")(
      // identical docs 5s apart: every band pairs them (base above the
      // initial epoch-0 watermark, which filters as late)
      () => input.addData((1L, 1000L, text), (2L, 1005L, text)),
      // sentinel advances the watermark far past bucket TTL (65s)
      () => input.addData((9L, 11000L, "unrelated filler words here")),
      // same text again: buckets were expired, so NO pair against 1/2
      () => input.addData((3L, 10995L, text)))
    val got = out.select("doc_a", "doc_b").distinct()
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }
}
