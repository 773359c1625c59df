package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (LLM-data-pipeline extension set).
  *
  * Media travel as opaque `binary` columns beside a typed metadata struct;
  * decode / feature-extraction runs as a batched partition-level transform
  * (`mapPartitions` over a typed Dataset — the Scala analog of a
  * Pandas-batch UDF: one JVM-side loop per partition, vectorizable,
  * no per-row closure dispatch through the optimizer).
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * clearly-marked DETERMINISTIC STUB (`FakeDecoder`): it computes real
  * byte-level features so the Spark-side plumbing — schema, binary
  * encoding, batch shape, partition parallelism — is fully exercised and
  * oracle-checkable; swapping in a real JNI/codec decoder changes only the
  * kernel body.
  */
object Multimodal {

  /** One media row: payload + typed metadata (the production schema shape). */
  case class MediaRow(doc_id: Long, payload: Array[Byte],
      width: Int, height: Int, format: String)

  /** Extracted features (what a real decoder would hand to the model). */
  case class MediaFeatures(doc_id: Long, byte_len: Long, width: Int,
      height: Int, format: String, avg_byte: Double, checksum: Long)

  /** ==== STUB ==== deterministic fake decoder: real byte statistics in
    * place of pixel decoding. Replace body with a codec call in production.
    * Features are computed over RAW PAYLOAD BYTES (full 0..255 range —
    * the registered query runs it on the genuine binary fixture,
    * [[graft.Tables.media]], and its DuckDB oracle is byte-level via
    * `hex()` arithmetic, so non-ASCII payloads verify exactly). */
  object FakeDecoder {
    def decode(r: MediaRow): MediaFeatures = {
      var sum = 0L
      var i = 0
      while (i < r.payload.length) { sum += r.payload(i) & 0xff; i += 1 }
      val n = math.max(r.payload.length, 1)
      MediaFeatures(
        doc_id = r.doc_id,
        byte_len = r.payload.length.toLong,
        width = r.width, height = r.height, format = r.format,
        // floor-truncate at 4 dp with the same IEEE ops as the oracle —
        // sum/n is a small-denominator rational, so round() could land on
        // half-way ties where JVM and DuckDB rounding disagree
        avg_byte = math.floor(sum.toDouble / n * 10000.0) / 10000.0,
        checksum = sum % 256)
    }
  }

  /** Frame sampling: one media payload -> N fixed-stride frames with a
    * "resize" (pad-to-width) pass — the video-frame-extraction shape: a
    * controlled 1->N explosion at scan time (no shuffle; downstream ops
    * key on (doc_id, frame_idx)). Text bytes stand in for the bitstream;
    * a real implementation swaps `substring` for a demuxer call in the
    * same transform position. */
  def sampleFrames(documents: DataFrame, frameWidth: Int = 64): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(expr(
          s"""CASE WHEN length(text) > 0 THEN transform(
             |  sequence(0, cast(ceil(length(text) / $frameWidth.0D) as int) - 1),
             |  i -> substring(text, i * $frameWidth + 1, $frameWidth))
             |ELSE array() END""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        col("col").as("frame"))
      .withColumn("frame_len", length(col("frame")).cast("long"))
      .withColumn("frame_resized", rpad(col("frame"), frameWidth, "."))

  /** Batched partition-level decode over a media table
    * ([[graft.Tables.media]]: binary payload + real metadata columns, full
    * 0..255 byte range) — the registered `q_multimodal_meta` path: the
    * mapPartitions seam where a real codec would run. Output is a flat
    * feature frame. */
  def decodeMedia(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("doc_id", "payload", "width", "height", "format")
      .as[MediaRow].mapPartitions(_.map(FakeDecoder.decode)).toDF()
  }

  /** BYTE-level frame sampling over a binary payload column: fixed-stride
    * `frameWidth`-byte frames (Spark `substring` slices BinaryType by
    * BYTE), a controlled 1→N explosion at scan time, plus a pad-to-width
    * "resize" (0x2E fill — the hex round-trip keeps the pad arithmetic
    * identical in Spark and the DuckDB oracle, which cannot slice BLOBs
    * directly but is byte-exact over `hex()`). Non-ASCII-safe by
    * construction: nothing here ever decodes the bytes as text. */
  def sampleFrameBytes(media: DataFrame, frameWidth: Int = 64): DataFrame =
    media
      .select(col("doc_id"),
        posexplode(expr(
          s"""CASE WHEN length(payload) > 0 THEN transform(
             |  sequence(0, cast(ceil(length(payload) / $frameWidth.0D) as int) - 1),
             |  i -> substring(payload, i * $frameWidth + 1, $frameWidth))
             |ELSE array() END""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        col("col").as("frame"))
      .withColumn("frame_len", length(col("frame")).cast("long"))
      .withColumn("frame_resized",
        unhex(rpad(hex(col("frame")), frameWidth * 2, "2E")))

  /** Per-document frame-fingerprint postings: one row per DISTINCT frame,
    * named `shingle` so the frame set drops straight into the shared
    * dedup verify stage ([[graft.dedup.MinHashLSH.verifyJaccard]] treats
    * any (doc_id, shingle) postings frame alike — text n-grams there,
    * media frames here). The fingerprint itself (xxhash64 over the frame
    * payload) is the pHash STAND-IN: a real perceptual hash replaces that
    * one expression; every downstream stage is payload-agnostic. */
  def framePostings(documents: DataFrame, frameWidth: Int = 64): DataFrame =
    sampleFrames(documents, frameWidth)
      .select(col("doc_id"), col("frame").as("shingle")).distinct()

  /** Doc-level 64-bit SimHash over the frame-fingerprint set: each frame's
    * xxhash64 casts one ±1 vote per bit position, the signed vote totals
    * collapse to sign bits. All 64 vote sums ride ONE map-side-combined
    * aggregation (64 long sums — codegen'd, order-independent), so the
    * signature pass is a single shuffle of (doc_id, 64 longs).
    *
    * Noise model callers must respect: with only n frames per document,
    * each bit is a majority of n coin flips, so two documents sharing
    * n−1 of n frames still land ~n/4·(expected low-margin bits) apart —
    * short media need a WIDE hamming radius (the registered query uses
    * 32×2-bit chunks, radius 27, covering the observed max of 20 on the
    * shipped corpora with margin; MultimodalSpec asserts the recall
    * precondition). Longer media concentrate votes and support the tight
    * text-style radii. */
  def frameSignatures(postings: DataFrame): DataFrame = {
    val votes = (0 until 64).map(j =>
      sum(expr(s"IF((shiftright(__fh, $j) & 1) = 1, 1L, -1L)")).as(s"__v$j"))
    postings.select(col("doc_id"), xxhash64(col("shingle")).as("__fh"))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), expr((0 until 64).map(j =>
        s"IF(__v$j > 0, shiftleft(1L, $j), 0L)").mkString(" + ")).as("simhash"))
  }

  /** Perceptual near-duplicate media pairs: frame fingerprints → doc-level
    * SimHash signatures → chunk-bucketed hamming candidates (the shared
    * [[graft.dedup.MinHashLSH.simhashPairsFromSignatures]] machinery — a
    * bucketed equi self-join, never all-pairs) → EXACT frame-set Jaccard
    * verify for candidates only ([[graft.dedup.MinHashLSH.verifyJaccard]]).
    * The verified quantity is over the frame STRINGS, not their hashes, so
    * a fingerprint collision can at worst add a candidate, never corrupt a
    * verdict. Precision is 1 by construction; recall on the shipped
    * corpora is total under the spec-asserted radius precondition (the
    * same contract as `q_dedup_simhash_verified`). */
  def nearDupPairs(documents: DataFrame, threshold: Double,
      nChunks: Int = 32, maxHamming: Int = 27,
      frameWidth: Int = 64): DataFrame = {
    val sh = framePostings(documents, frameWidth)
    val cands = graft.dedup.MinHashLSH.simhashPairsFromSignatures(
      frameSignatures(sh), maxHamming, nChunks)
    graft.dedup.MinHashLSH.verifyJaccard(cands, sh, threshold)
  }

  /** Media dedup manifest: the [[nearDupPairs]] composition resolved to a
    * consumable corpus — every in-scope doc labeled with its duplicate
    * cluster (via [[graft.dedup.Dedup.dupClusters]] label propagation)
    * and a keep-best decision: the member with the MOST distinct frames
    * survives (the longest media is the best copy — the media analog of
    * the keep-longest-text policy), doc_id ascending tiebreak.
    *
    * Scale posture mirrors [[graft.dedup.Dedup.dedupManifestKeepBest]]:
    * clusters cover only pair-touched docs (tiny by construction) and
    * broadcast into the postings scan, so the frame-count election
    * aggregates a pruned frame and its keeper window sorts per-cluster
    * scalars; the corpus itself never shuffles — the final labeling is
    * one broadcast join against the id column. */
  def nearDupManifest(documents: DataFrame, threshold: Double,
      nChunks: Int = 32, maxHamming: Int = 27,
      frameWidth: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = framePostings(documents, frameWidth)
    val cands = graft.dedup.MinHashLSH.simhashPairsFromSignatures(
      frameSignatures(sh), maxHamming, nChunks)
    val pairs = graft.dedup.MinHashLSH.verifyJaccard(cands, sh, threshold)
    val clusters = graft.dedup.Dedup.dupClusters(pairs)
    val elect = sh.join(broadcast(clusters), "doc_id")
      .groupBy("doc_id", "cluster_id").agg(count(lit(1)).as("n_frames"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_frames").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val keepers = elect
      .withColumn("keep_doc_id", first(col("doc_id")).over(w))
      .select("doc_id", "cluster_id", "keep_doc_id")
    documents.select("doc_id")
      .join(broadcast(keepers), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("keep_doc_id"), col("doc_id")).as("keep_doc_id"))
      .withColumn("is_kept", col("doc_id") === col("keep_doc_id"))
  }
}
