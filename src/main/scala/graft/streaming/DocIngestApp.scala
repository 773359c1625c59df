package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.{GraftConfig, GraftSession}
import graft.text.TextAnalysis

/** Application entrypoint for the CONTINUOUS training-data ingest side —
  * the streaming twin of the batch curation pipeline
  * (`TextAnalysis.curate` / `q_corpus_curate`): documents arrive as files
  * (prod: an object-store drop zone or a Kafka topic behind the same
  * seam), get annotated in the scan stage, deduplicated with
  * watermark-bounded state, gated, and land in a curated store — plus a
  * near-dup candidate side-channel feeding the offline cluster
  * resolution (`Dedup.dupClusters`), which needs global connected
  * components and therefore stays a batch job over the accumulated
  * candidate log.
  *
  * Pipeline shape and why it scales: annotation (language scores,
  * quality, token counts) is pure per-row arithmetic reused verbatim from
  * the batch operators ([[TextAnalysis.annotate]] — one definition, no
  * drift); exact dedup keys state by content digest (32 bytes/doc, never
  * the text); near-dup candidates key state by (band, bucket) with
  * capped residents. No stage shuffles the document text.
  *
  * Run: `spark-submit --class graft.streaming.DocIngestApp <jar> <srcDir> <outBase>`
  */
object DocIngestApp {

  /** Ingest knobs, resolved by [[graft.GraftConfig.resolve]]
    * (spark conf > env var > oracle-verified default — the defaults are
    * exactly `q_corpus_curate`'s arguments, so an unconfigured ingest
    * reproduces the batch curator). */
  final case class IngestConfig(lang: String, minQuality: Double,
      watermarkDelay: String)

  object IngestConfig {
    def load(spark: SparkSession): IngestConfig = IngestConfig(
      lang = GraftConfig.resolve(spark, "ingestLang", "GRAFT_INGEST_LANG", "en"),
      minQuality = GraftConfig.resolve(spark, "ingestMinQuality",
        "GRAFT_INGEST_MIN_QUALITY", "0.5").toDouble,
      watermarkDelay = GraftConfig.resolve(spark, "ingestWatermarkDelay",
        "GRAFT_INGEST_WATERMARK_DELAY", "1 hour"))
  }

  /** Source schema: the `documents` table plus an `ingest_ts` event-time
    * column (prod: producer timestamp / object-store mtime). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("ingest_ts", TimestampType)))

  /** Deduped + annotated + gated curated stream. Gate order matters at
    * scale: dedup FIRST so near-duplicate floods (crawler replays,
    * boilerplate storms) are collapsed before the annotation columns are
    * even computed for the copies... except annotation is per-row scan
    * work either way, so the real reason is semantic: the batch curator
    * gates the dedup KEEPER, and gating after dedup reproduces that
    * (identical text ⇒ identical gate verdicts, so WHICH copy survives
    * cannot change the curated set — asserted digest-for-digest against
    * `TextAnalysis.curate` in DocIngestAppSpec). */
  def curatedStream(docs: DataFrame, cfg: IngestConfig): DataFrame =
    TextAnalysis.annotate(DocStream.exactDeduped(docs, cfg.watermarkDelay))
      .filter(col("pred_lang") === cfg.lang &&
        col("quality_score") >= cfg.minQuality)
      .select("doc_id", "ingest_ts", "text", "pred_lang", "quality_score",
        "n_tokens")

  /** Start the ingest: curated parquet + near-dup candidate log, each
    * checkpointed under `outBase/_checkpoints/<name>` (restart resumes —
    * same discipline as [[GraftApp]]). Knobs come from
    * [[IngestConfig.load]]. */
  def start(spark: SparkSession, srcDir: String,
      outBase: String): Seq[StreamingQuery] = {
    val cfg = IngestConfig.load(spark)
    val docs = spark.readStream.schema(docSchema).parquet(srcDir)

    def sink(df: DataFrame, name: String): StreamingQuery =
      df.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$outBase/_checkpoints/$name")
        .format("parquet")
        .option("path", s"$outBase/$name")
        .queryName(name)
        .start()

    Seq(
      sink(curatedStream(docs, cfg), "curated"),
      sink(DocStream.nearDupCandidates(spark, docs, cfg.watermarkDelay).toDF(),
        "neardup_candidates"))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/tmp/graft_doc_in")
    val outBase = args.lift(1).getOrElse("/tmp/graft_doc_out")
    val spark = GraftSession.create(appName = "graft-doc-ingest")
    val queries = start(spark, srcDir, outBase)
    queries.foreach(_.awaitTermination())
  }
}
