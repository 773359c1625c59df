package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent table content checksum — the anti-entropy /
  * replication-validation primitive a CDC pipeline runs on both sides of
  * a replica seam (source warehouse vs streamed sink; cf. the dual-write
  * reconciliation problem the reference pipeline addresses with its
  * balance-reconcile operator): per key bucket, the row count, the XOR
  * fold, and the sum of a 48-bit per-row digest. Equal buckets ⇒ equal
  * content with collision probability ≤ n²/2^49 per bucket; a differing
  * bucket localizes the divergence to 1/nBuckets of the keyspace, so
  * repair re-reads only that slice (the Merkle-lite sharding used by
  * anti-entropy protocols).
  *
  * Portability is the design constraint (the two sides of a seam are
  * DIFFERENT engines): the digest is the first 12 hex chars of md5 over
  * a caller-projected canonical string — md5 hex is identical
  * everywhere, 12 hex chars parse into a 48-bit non-negative BIGINT in
  * any dialect (Spark `conv(h,16,10)`, DuckDB `'0x'||h`), XOR and COUNT
  * are order-independent, and the SUM of 48-bit values stays exact in
  * BIGINT up to ~32k rows/bucket × any bucket count — beyond that the
  * DECIMAL(38,0) widening keeps it exact (applied here unconditionally,
  * surfaced as BIGINT once in range, fail-loud cast otherwise).
  *
  * Scale posture: one scan, one map-side-combined aggregation keyed by
  * bucket — no joins, no windows; the output is nBuckets rows. The
  * canonical repr must render every column engine-exactly: integers and
  * strings directly, money as integer cents, timestamps as UTC strings —
  * the caller's contract (the [[graft.ops.Profile]] rendering
  * discipline), because float printing is NOT portable.
  */
object Checksum {

  /** Bucketed checksum of `repr` (canonical row string) under `bucket`
    * (a non-negative, engine-portable shard id, e.g. `key % n`).
    * Returns (bucket, n_rows, xor_h, sum_h) sorted-free — one row per
    * non-empty bucket. */
  def contentChecksum(df: DataFrame, repr: Column, bucket: Column)
      : DataFrame =
    df.select(bucket.as("bucket"),
        conv(substring(md5(repr), 1, 12), 16, 10).cast("long").as("__h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_h"),
        expr("sum(CAST(__h AS DECIMAL(38,0))) % 18446744073709551616BD")
          .as("__m"))
      .select(col("bucket"), col("n_rows"), col("xor_h"),
        expr("CAST(CASE WHEN __m >= 9223372036854775808BD" +
          " THEN __m - 18446744073709551616BD ELSE __m END AS BIGINT)")
          .as("sum_h"))

  /** Oracle fragment: same digest, same folds, over `src(bucket, repr)`. */
  val oracleSql: String =
    """SELECT bucket, CAST(cnt AS BIGINT) AS n_rows,
      |  CAST(x AS BIGINT) AS xor_h,
      |  CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
      |       THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT)
      |    AS sum_h
      |FROM (
      |  SELECT bucket, count(*) AS cnt,
      |    bit_xor(CAST('0x' || substr(md5(repr), 1, 12) AS BIGINT)) AS x,
      |    sum(CAST('0x' || substr(md5(repr), 1, 12) AS BIGINT))::HUGEINT
      |      % 18446744073709551616::HUGEINT AS m
      |  FROM src GROUP BY 1)""".stripMargin
}
