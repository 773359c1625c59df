package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.dedup.MinHashLSH

/** Streaming twins of the document-dedup family (LLM-data-pipeline
  * extension): a training-data pipeline that ingests documents
  * CONTINUOUSLY needs the same exact/near-dup decisions the batch
  * operators make over a static corpus, made incrementally with bounded
  * state.
  *
  * Batch twins (the oracle-verified semantics these are tested against):
  * [[graft.dedup.Dedup.exact]] and
  * [[graft.dedup.MinHashLSH.bandingCandidates]].
  *
  * Scale posture: both operators key their state by a HASH (256-bit
  * content digest / (band, bucket)), so the wide text column never enters
  * a shuffle or a state store; state is expired by the watermark, so
  * total state is bounded by the unique-key arrival rate within the
  * horizon, not by stream lifetime.
  */
object DocStream {

  /** Streaming exact content dedup: first arrival of each normalized-text
    * digest passes, duplicates within the watermark horizon are dropped,
    * and per-digest state is expired BY the watermark
    * (`dropDuplicatesWithinWatermark` — bounded state; a plain streaming
    * `dropDuplicates` would retain every digest forever). A duplicate
    * arriving after its original's state expired re-emits: the horizon is
    * the dedup guarantee window.
    *
    * Input must carry an `ingest_ts` TIMESTAMP event-time column. */
  def exactDeduped(docs: DataFrame, watermarkDelay: String): DataFrame =
    docs
      .withColumn("__digest", sha2(lower(trim(col("text"))), 256))
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** One exploded LSH band of one streamed document. */
  case class BandRow(doc_id: Long, ingest_ts: java.sql.Timestamp,
      band: Int, bucket: Long)

  /** Resident doc ids of one (band, bucket) LSH bucket, arrival order.
    * A Vector, not a List: admission appends (effectively O(1)) instead of
    * rebuilding the spine, and the per-arrival membership probe runs
    * against a Set built once per micro-batch — a hot bucket at the
    * `maxResidents` cap costs O(residents) per arrival only for the pair
    * EMISSION (which is output-sized, irreducible), not for bookkeeping. */
  case class BucketState(residents: Vector[Long])

  /** A near-dup candidate: `doc_b` arrived while `doc_a` (an earlier
    * arrival) was resident in the same (band, bucket). Pairs may repeat
    * across bands — exactly like the pre-`distinct` banding join; the
    * consumer (or the batch-equivalence spec) applies `distinct` on
    * (doc_a, doc_b). */
  case class CandPair(doc_a: Long, doc_b: Long, band: Int, bucket: Long)

  /** Streaming MinHash near-dup candidates: per-row signatures (zero
    * shuffle — [[MinHashLSH.signaturesPerRow]], the only signature form a
    * streaming plan can use, since a groupBy signature would be an
    * update-mode aggregation ahead of a stateful operator), exploded to
    * (band, bucket) keys, then a `flatMapGroupsWithState` bucket store
    * that emits a candidate pair whenever a new document lands in a
    * bucket with residents.
    *
    * Against a static corpus fed through the stream this equals the batch
    * [[MinHashLSH.bandingCandidates]] pair set (asserted in DocStreamSpec)
    * as long as every co-bucket pair's arrivals fall within `stateTtlMs`
    * of each other and bucket occupancy stays under `maxResidents`.
    *
    * State bounds (the 100 TB posture): per-bucket state is at most
    * `maxResidents` longs; buckets idle past `stateTtlMs` are removed by
    * event-time timeout, so total state tracks the watermark horizon's
    * arrival volume. A bucket hotter than `maxResidents` stops ADMITTING
    * residents (new arrivals still pair against the capped residents) —
    * the same hot-postings reasoning as `winnowContainmentPairs(maxDf)`:
    * ultra-hot buckets are boilerplate, and unbounded per-key state is
    * how streaming dedup falls over.
    */
  def nearDupCandidates(spark: SparkSession, docs: DataFrame,
      watermarkDelay: String,
      stateTtlMs: Long = 3600L * 1000,
      maxResidents: Int = 1024): Dataset[CandPair] = {
    import spark.implicits._

    val banded = MinHashLSH.bandedSignatures(
        MinHashLSH.signaturesPerRow(
          docs.withWatermark("ingest_ts", watermarkDelay),
          carry = Seq("ingest_ts")),
        carry = Seq("ingest_ts"))
      .as[BandRow]

    banded
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        process(stateTtlMs, maxResidents))
  }

  private[graft] def process(stateTtlMs: Long, maxResidents: Int)(
      key: (Int, Long), rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[CandPair] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      // deterministic within a micro-batch: arrival order = event time,
      // doc_id tiebreak (matches the batch join's doc_id ordering when
      // ids are assigned in ingest order)
      val arrivals = rows.toSeq.sortBy(r => (r.ingest_ts.getTime, r.doc_id))
      var residents = state.getOption.map(_.residents).getOrElse(Vector.empty)
      // membership is checked against ADMITTED residents only (a capped-out
      // arrival re-pairs if it re-arrives — same as the pre-cap semantics);
      // the Set makes the probe O(1) where List.contains was O(residents)
      val admitted = scala.collection.mutable.HashSet.empty[Long]
      admitted ++= residents
      val out = Seq.newBuilder[CandPair]
      for (r <- arrivals if !admitted.contains(r.doc_id)) {
        for (o <- residents)
          out += CandPair(math.min(o, r.doc_id), math.max(o, r.doc_id),
            key._1, key._2)
        if (residents.size < maxResidents) {
          residents = residents :+ r.doc_id
          admitted += r.doc_id
        }
      }
      state.update(BucketState(residents))
      // expire the bucket TTL past the newest arrival, but never set a
      // timeout at/behind the current watermark (Spark rejects it)
      val maxEventMs = arrivals.map(_.ingest_ts.getTime).max
      state.setTimeoutTimestamp(
        math.max(maxEventMs, state.getCurrentWatermarkMs()) + stateTtlMs)
      out.result().iterator
    }
  }
}
