package graft
package multimodal

import org.apache.spark.sql.functions._

import graft.SparkEntry.{JaccardMaxDocId, MediaFixturePath,
  MultimodalDupThreshold}
import graft.dedup.MinHashLSH

/** Binary-media fixture queries: decode, frame-set near-dups and the
  * keep-best manifest (the `multimodal` family). */
object MultimodalQueries {

  def queries: Seq[GraftQuery] = Seq(
    // Multimodal: GENUINE binary payloads (committed golden fixture,
    // full 0..255 byte range incl. non-ASCII) + typed metadata -> batched
    // stub-decode features; oracle is byte-level over hex(payload)
    GraftQuery("q_multimodal_meta", (s, _) => Multimodal.decodeMedia(s, Tables.media(s)),
      // byte-level over the BINARY fixture (non-ASCII verified exactly):
      // per-byte values decoded from the hex string — byte i is the hex
      // digit pair at 2i-1, so the oracle never trusts any text decoding
      s"""WITH h AS (
         |  SELECT doc_id, width, height, format, hex(payload) AS hx,
         |         octet_length(payload) AS n
         |  FROM read_parquet('$MediaFixturePath')
         |), b AS (
         |  SELECT doc_id, width, height, format, n,
         |    coalesce(list_sum([
         |      (strpos('0123456789ABCDEF', substring(hx, 2 * i - 1, 1)) - 1) * 16
         |      + strpos('0123456789ABCDEF', substring(hx, 2 * i, 1)) - 1
         |      for i in generate_series(1, n)]), 0) AS byte_sum
         |  FROM h
         |)
         |SELECT doc_id, CAST(n AS BIGINT) AS byte_len, width, height, format,
         |  floor(byte_sum * 1.0 / greatest(n, 1) * 10000.0) / 10000.0 AS avg_byte,
         |  CAST(byte_sum % 256 AS BIGINT) AS checksum
         |FROM b""".stripMargin),

    // Multimodal: BYTE-stride frame sampling over the binary fixture
    // (1 -> N controlled explosion + 0x2E pad-resize); frames project as
    // hex for oracle transport — the operator emits raw binary frames
    GraftQuery("q_multimodal_frames", (s, _) =>
      Multimodal.sampleFrameBytes(Tables.media(s))
        .select(col("doc_id"), col("frame_idx"),
          hex(col("frame")).as("frame_hex"), col("frame_len"),
          hex(col("frame_resized")).as("frame_resized_hex")),
      // byte-level over the BINARY fixture: DuckDB cannot slice BLOBs, but
      // hex() is byte-exact — one payload byte = two hex chars, so a
      // 64-byte frame is a 128-char hex substring and the 0x2E pad is a
      // '2E' string rpad. Verifies non-ASCII bytes exactly.
      s"""WITH m AS (
         |  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n
         |  FROM read_parquet('$MediaFixturePath')
         |), f AS (
         |  SELECT doc_id, hx,
         |         unnest(generate_series(1, CAST(ceil(n / 64.0) AS INT))) AS i
         |  FROM m
         |)
         |SELECT doc_id,
         |  CAST(i - 1 AS BIGINT) AS frame_idx,
         |  substring(hx, (i - 1) * 128 + 1, 128) AS frame_hex,
         |  CAST(length(substring(hx, (i - 1) * 128 + 1, 128)) / 2 AS BIGINT) AS frame_len,
         |  rpad(substring(hx, (i - 1) * 128 + 1, 128), 128, '2E') AS frame_resized_hex
         |FROM f""".stripMargin),

    // Multimodal: perceptual near-dup pairs — frame fingerprints ->
    // doc-level SimHash -> chunk-bucketed hamming candidates (shared
    // MinHashLSH machinery, bucketed equi-join, never all-pairs) -> exact
    // frame-set Jaccard verify. 32x2-bit chunks / radius 27: few-frame
    // docs give noisy majority-vote signatures (observed pair hamming up
    // to 20 on the shipped corpora) — MultimodalSpec asserts the radius
    // covers every exact pair, so candidates ⊇ truth and the exhaustive
    // oracle equality holds (the q_dedup_simhash_verified contract)
    GraftQuery("q_multimodal_near_dup", (s, dir) =>
      Multimodal.nearDupPairs(
        Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxDocId),
        MultimodalDupThreshold),
      // exhaustive ground truth for the candidates-then-verify composition:
      // all-pairs frame-set Jaccard over the same bounded window — equality
      // holds because MultimodalSpec asserts every exact pair sits within
      // the signature hamming radius (candidates ⊇ truth; verify is exact)
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(1, CAST(ceil(length(text) / 64.0) AS INT))) AS i
         |  FROM documents WHERE doc_id < $JaccardMaxDocId
         |), fr AS (
         |  SELECT DISTINCT doc_id, substring(text, (i - 1) * 64 + 1, 64) AS frame FROM f
         |), sz AS (
         |  SELECT doc_id, count(*) AS n_sh FROM fr GROUP BY 1
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM fr a JOIN fr b ON a.frame = b.frame AND a.doc_id < b.doc_id GROUP BY 1, 2
         |), j AS (
         |  SELECT doc_a, doc_b, n_inter,
         |    floor((n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter)) * 1000000.0) / 1000000.0 AS jaccard
         |  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |)
         |SELECT doc_a, doc_b, n_inter, jaccard FROM j
         |WHERE jaccard >= $MultimodalDupThreshold""".stripMargin),

    // Multimodal: the near-dup composition resolved to a corpus manifest —
    // label-propagation clusters + keep-best election (most frames = the
    // longest media survives, doc_id tiebreak); clusters/keepers are
    // pair-touched-only frames broadcast back, the corpus never shuffles
    GraftQuery("q_multimodal_manifest", (s, dir) =>
      Multimodal.nearDupManifest(
        Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxDocId),
        MultimodalDupThreshold),
      // near-dup pairs -> recursive transitive closure -> most-frames keeper
      // election -> full-corpus labeling (the q_dedup_keep_best pattern over
      // frame-set jaccard instead of n-gram jaccard)
      s"""WITH RECURSIVE f AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(1, CAST(ceil(length(text) / 64.0) AS INT))) AS i
         |  FROM documents WHERE doc_id < $JaccardMaxDocId
         |), fr AS (
         |  SELECT DISTINCT doc_id, substring(text, (i - 1) * 64 + 1, 64) AS frame FROM f
         |), sz AS (
         |  SELECT doc_id, count(*) AS n_sh FROM fr GROUP BY 1
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM fr a JOIN fr b ON a.frame = b.frame AND a.doc_id < b.doc_id GROUP BY 1, 2
         |), j AS (
         |  SELECT doc_a, doc_b, n_inter,
         |    floor((n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter)) * 1000000.0) / 1000000.0 AS jaccard
         |  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |), jp AS (
         |  SELECT doc_a, doc_b FROM j WHERE jaccard >= $MultimodalDupThreshold
         |), edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp
         |), reach(node, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t
         |  UNION
         |  SELECT re.node, e.d FROM reach re JOIN edges e ON e.s = re.r
         |), clus AS (
         |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
         |), keep AS (
         |  SELECT c.doc_id, c.cluster_id,
         |    first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
         |      ORDER BY s.n_sh DESC, c.doc_id) AS keep_doc_id
         |  FROM clus c JOIN sz s USING (doc_id)
         |)
         |SELECT di.doc_id,
         |  coalesce(k.cluster_id, di.doc_id) AS cluster_id,
         |  coalesce(k.keep_doc_id, di.doc_id) AS keep_doc_id,
         |  di.doc_id = coalesce(k.keep_doc_id, di.doc_id) AS is_kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id < $JaccardMaxDocId) di
         |LEFT JOIN keep k USING (doc_id)""".stripMargin),
  )
}
