package graft
package cdc

import org.apache.spark.sql.functions._

import graft.QueryShared.{P, parsed, sqlAcctDim, sqlCustDim, upserts}
import graft.ops.LatestByKey

/** CDC envelope parse/serde, changelog reduction, snapshot diff and
  * checksum queries (the `cdc_serde` family). */
object CdcQueries {

  def queries: Seq[GraftQuery] = Seq(
    // S4 + P1-P5: envelope synthesis -> typed parse (conversions of §1.2)
    GraftQuery("q_envelope_parse", (s, dir) => parsed(s, dir),
      P +
      "SELECT txn_id, account_id, txn_ref, txn_type, amount, currency, status, event_time_ms, event_time_us, op FROM txns"),

    // P2/P4: tombstone + validity filtering (keeps c/u/r, drops d)
    GraftQuery("q_cdc_upserts_only", (s, dir) => upserts(s, dir),
      P +
      "SELECT txn_id, account_id, txn_ref, txn_type, amount, currency, status, event_time_ms, event_time_us, op FROM upserts"),

    // S3: JSON serde round-trip (permissive parse -> re-serialize)
    GraftQuery("q_json_roundtrip", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"))
        .withColumn("rejson", to_json(struct(col("k").as("k")))),
      """SELECT event_id,
        |       CAST(json_extract(props, '$.k') AS INTEGER) AS k,
        |       '{"k":' || CAST(json_extract(props, '$.k') AS INTEGER) || '}' AS rejson
        |FROM events""".stripMargin),

    // J2: KTable materialization — latest row per key (deterministic
    // tiebreak). max_by with a NARROW pre-projected payload: the agg
    // buffer copies the carried struct on every better row, so projecting
    // first matters — measured at 10M rows: 0.8s narrow max_by vs 0.9s
    // window vs 6.8s max_by over the full wide row (see LatestByKey doc)
    GraftQuery("q_latest_by_key", (s, dir) =>
      LatestByKey.latestByMaxBy(
          upserts(s, dir).select("account_id", "txn_id", "amount",
            "event_time_ms", "event_time_us"),
          Seq("account_id"), struct(col("event_time_us"), col("txn_id")))
        .select(col("account_id"), col("txn_id").as("last_txn_id"),
          col("amount").as("last_amount"),
          col("event_time_ms").as("last_event_time_ms")),
      P +
      """SELECT account_id, txn_id AS last_txn_id, amount AS last_amount, event_time_ms AS last_event_time_ms
        |FROM (SELECT *, row_number() OVER (PARTITION BY account_id ORDER BY event_time_us DESC, txn_id DESC) AS rn
        |      FROM upserts) WHERE rn = 1""".stripMargin),

    // J2b: KTable with tombstones APPLIED — a key whose newest version is
    // a delete vanishes from the materialized table
    GraftQuery("q_latest_with_tombstones", (s, dir) =>
      LatestByKey.latestWithTombstones(
          parsed(s, dir).filter(col("account_id").isNotNull && col("account_id") =!= 0),
          Seq("account_id"), Seq(col("event_time_us"), col("txn_id")))
        .select(col("account_id"), col("txn_id").as("last_txn_id"),
          col("amount").as("last_amount"), col("op").as("last_op")),
      P +
      """SELECT account_id, txn_id AS last_txn_id, amount AS last_amount, op AS last_op
        |FROM (SELECT *, row_number() OVER (PARTITION BY account_id ORDER BY event_time_us DESC, txn_id DESC) AS rn
        |      FROM txns WHERE account_id <> 0)
        |WHERE rn = 1 AND op <> 'd'""".stripMargin),

    // SCD2: CDC changelog -> dimension history with validity intervals
    GraftQuery("q_scd2_history", (s, dir) =>
      LatestByKey.scd2(upserts(s, dir), Seq("account_id"),
          Seq(col("event_time_us"), col("txn_id")), "event_time_ms")
        .select("txn_id", "account_id", "amount", "valid_from_ms",
          "valid_to_ms", "is_current"),
      P +
      """SELECT txn_id, account_id, amount,
        |  event_time_ms AS valid_from_ms,
        |  lead(event_time_ms) OVER w AS valid_to_ms,
        |  lead(event_time_ms) OVER w IS NULL AS is_current
        |FROM upserts
        |WINDOW w AS (PARTITION BY account_id ORDER BY event_time_us, txn_id)""".stripMargin),

    // J2 over a true CDC changelog: the ACCOUNTS KTable of the reference
    // (`topology/ABBankTopology.java:107-125`) — synthesized envelope
    // versions -> JSON wire payload -> from_json(accountEnvelope) -> typed
    // rows -> latest-by-key with tombstones applied
    GraftQuery("q_cdc_account_dim", (s, dir) =>
      DimensionCdc.accountsDim(Tables.customer(s, dir))
        .select("account_id", "customer_id", "account_number", "account_type",
          "balance", "currency", "account_status", "cdc_ts_us"),
      s"WITH $sqlAcctDim\n" +
        """SELECT account_id, customer_id, account_number, account_type,
          |       balance, currency, account_status, cdc_ts_us
          |FROM acct_dim""".stripMargin),

    // the same ACCOUNTS KTable with the changelog carried over the BINARY
    // Avro wire (Confluent frame -> scan-stage AvroWireDecode) instead of
    // its JSON shadow — S1 is three Avro topics, not one
    GraftQuery("q_cdc_account_dim_avro", (s, dir) =>
      DimensionCdc.accountsDimAvro(Tables.customer(s, dir))
        .select("account_id", "customer_id", "account_number", "account_type",
          "balance", "currency", "account_status", "cdc_ts_us"),
      // wire format differs (Avro binary vs JSON), typed KTable is the
      // contract — same oracle as the JSON-shadow query
      s"WITH $sqlAcctDim\n" +
        """SELECT account_id, customer_id, account_number, account_type,
          |       balance, currency, account_status, cdc_ts_us
          |FROM acct_dim""".stripMargin),

    // J2 over the CUSTOMERS CDC changelog (the second KTable the reference
    // builds, `ABBankTopology.java:127-144`) — EMAIL is the versioned field
    GraftQuery("q_cdc_customer_dim", (s, dir) =>
      DimensionCdc.customersDim(Tables.customer(s, dir))
        .select("customer_id", "first_name", "last_name", "email", "segment",
          "cdc_ts_us"),
      s"WITH $sqlCustDim\n" +
        "SELECT customer_id, first_name, last_name, email, segment, cdc_ts_us FROM cust_dim"),

    // CUSTOMERS KTable over the Avro wire (third of the three S1 topics)
    GraftQuery("q_cdc_customer_dim_avro", (s, dir) =>
      DimensionCdc.customersDimAvro(Tables.customer(s, dir))
        .select("customer_id", "first_name", "last_name", "email", "segment",
          "cdc_ts_us"),
      s"WITH $sqlCustDim\n" +
        "SELECT customer_id, first_name, last_name, email, segment, cdc_ts_us FROM cust_dim"),

    // TRANSACTION_AUDIT wire parse — the reference DECLARES key+value
    // Avro schemas for this table but consumes them in no topology
    // (SURVEY §1.3 dead surface); capability parity keeps the StructType
    // + the full synthesize -> JSON wire -> from_json -> typed-rows path,
    // nullable fields (reason/reviewer/reviewed_at/notes) exercised so
    // null transport is proven
    GraftQuery("q_audit_parse", (s, dir) =>
      DimensionCdc.auditChangelog(Tables.table(s, dir, "orders")),
      // the serde round trip is the Spark-side operator under test; the
      // oracle replays the synthesis arithmetic + flat projection (the
      // established cdc-dim discipline)
      """SELECT o_orderkey AS audit_id,
        |  o_orderkey * 2 + 1 AS transaction_id,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'FLAGGED'
        |       WHEN o_orderkey % 3 = 1 THEN 'REVIEWED'
        |       ELSE 'CLEARED' END AS audit_action,
        |  CASE WHEN o_orderkey % 3 = 0 THEN
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'AMOUNT_THRESHOLD' ELSE 'VELOCITY' END
        |  END AS flagged_reason,
        |  CASE WHEN o_orderkey % 3 = 1 THEN 'analyst-' || (o_orderkey % 7) END AS reviewed_by,
        |  CASE WHEN o_orderkey % 3 = 1 THEN o_orderkey * 1000000 + 3600000000 END AS reviewed_at_us,
        |  CASE WHEN o_orderkey % 5 = 0 THEN 'case ' || o_orderkey END AS notes,
        |  o_orderkey * 1000000 AS created_at_us,
        |  o_orderkey * 1000000 AS cdc_ts_us,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'r' ELSE 'c' END AS op
        |FROM orders""".stripMargin),

    // SCD2 over the ACCOUNTS CDC changelog: every version becomes a
    // dimension row with a validity interval — the warehouse
    // materialization of the same changelog the KTable reduces
    GraftQuery("q_cdc_account_scd2", (s, dir) => {
      val log = DimensionCdc.accountChangelog(Tables.customer(s, dir))
        .filter(col("op") =!= "d")
      LatestByKey.scd2(log, Seq("account_id"), Seq(col("cdc_ts_us")),
          "cdc_ts_us")
        .select(col("account_id"), col("balance"), col("account_status"),
          col("valid_from_ms").as("valid_from_us"),
          col("valid_to_ms").as("valid_to_us"), col("is_current"))
    },
      s"WITH $sqlAcctDim,\n" +
        """scd AS (
          |  SELECT account_id, balance, account_status, cdc_ts_us AS valid_from_us,
          |    lead(cdc_ts_us) OVER (PARTITION BY account_id ORDER BY cdc_ts_us) AS valid_to_us
          |  FROM acct_ver WHERE op <> 'd'
          |)
          |SELECT account_id, balance, account_status, valid_from_us, valid_to_us,
          |  valid_to_us IS NULL AS is_current
          |FROM scd""".stripMargin),

    // One-pass snapshot diff of the per-account KTable (the
    // q_latest_with_tombstones state) between the stream's temporal
    // midpoint and its head: which accounts were added / tombstoned /
    // changed in the second half. Both horizons' latest states are
    // recovered from ONE keyed conditional-struct-max aggregation —
    // neither snapshot materializes, only (key, ts, op, digest) shuffles.
    // (The synthesized ACCOUNTS changelog is key-banded in time — every
    // horizon splits it by key — so the txn stream, whose per-account
    // events genuinely interleave, is the changelog worth diffing.)
    GraftQuery("q_snapshot_diff", (s, dir) => {
      val cl = parsed(s, dir).filter(col("account_id") =!= 0)
      val hz = cl.agg(
        expr("(min(event_time_us) + max(event_time_us)) div 2").as("__t1"),
        max("event_time_us").as("__t2"))
      val digest = SnapshotDiff.valueDigest(Seq(col("txn_id"),
        expr("CAST(round(amount * 100) AS BIGINT)"),
        col("txn_type"), col("status")))
      SnapshotDiff.changelogDiff(cl.crossJoin(broadcast(hz)),
          Seq("account_id"), "event_time_us", "op", digest,
          col("__t1"), col("__t2"), tieCols = Seq(col("txn_id")))
        .select(col("account_id"), col("change"),
          col("old_seq").as("old_ts_us"), col("new_seq").as("new_ts_us"))
    },
      // the diff compares VALUES where Spark compares value digests —
      // equivalent (collision-free sha2 over the same normalized fields);
      // horizons are integer-exact ((min + max) // 2)
      P +
      """, cl AS (SELECT * FROM txns WHERE account_id <> 0),
        |hz AS (SELECT (min(event_time_us) + max(event_time_us)) // 2 AS t1,
        |              max(event_time_us) AS t2 FROM cl),
        |o AS (SELECT * FROM (
        |    SELECT v.*, row_number() OVER (PARTITION BY account_id ORDER BY event_time_us DESC, txn_id DESC) AS rn
        |    FROM cl v CROSS JOIN hz WHERE event_time_us <= t1)
        |  WHERE rn = 1 AND op <> 'd'),
        |n AS (SELECT * FROM (
        |    SELECT v.*, row_number() OVER (PARTITION BY account_id ORDER BY event_time_us DESC, txn_id DESC) AS rn
        |    FROM cl v CROSS JOIN hz WHERE event_time_us <= t2)
        |  WHERE rn = 1 AND op <> 'd'),
        |d AS (SELECT coalesce(o.account_id, n.account_id) AS account_id,
        |    CASE WHEN o.account_id IS NULL THEN 'added'
        |         WHEN n.account_id IS NULL THEN 'deleted'
        |         WHEN o.txn_id <> n.txn_id
        |           OR CAST(round(o.amount * 100) AS BIGINT) <> CAST(round(n.amount * 100) AS BIGINT)
        |           OR o.txn_type <> n.txn_type
        |           OR o.status <> n.status THEN 'changed'
        |    END AS change,
        |    o.event_time_us AS old_ts_us, n.event_time_us AS new_ts_us
        |  FROM o FULL JOIN n ON o.account_id = n.account_id)
        |SELECT account_id, change, old_ts_us, new_ts_us
        |FROM d WHERE change IS NOT NULL""".stripMargin),

    // Bucketed order-independent content checksum of the fact table —
    // the anti-entropy primitive for validating a CDC replica seam:
    // 48-bit md5-derived row digests folded per orderkey bucket by
    // count + xor + sum. One scan, one map-side-combined aggregation;
    // every column rendered engine-exactly (ints, cents, UTC strings)
    GraftQuery("q_table_checksum", (s, dir) => {
      val repr = concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"),
        col("l_quantity").cast("long"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)"),
        expr("CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT)"),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
      graft.cdc.Checksum.contentChecksum(
        Tables.table(s, dir, "lineitem"), repr, expr("l_orderkey % 64"))
    },
      """WITH src AS (SELECT l_orderkey % 64 AS bucket,
         |    concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber,
         |      CAST(l_quantity AS BIGINT),
         |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT),
         |      CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT),
         |      CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT),
         |      l_returnflag, l_linestatus,
         |      strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')) AS repr
         |  FROM lineitem)
         |""".stripMargin + graft.cdc.Checksum.oracleSql),

    // S1/S2 serde seam: envelope -> JSON wire payload -> decode -> parse
    // (the Kafka value-codec path; JSON stands in for Avro — no spark-avro
    // jar in this container)
    GraftQuery("q_envelope_json_serde", (s, dir) =>
      EnvelopeOps.parseTxnEnvelope(
        EnvelopeOps.decodeJsonEnvelope(
          EnvelopeOps.encodeJsonEnvelope(
            EnvelopeOps.synthesizeTxnEnvelope(Tables.events(s, dir))))),
      P +
      "SELECT txn_id, account_id, txn_ref, txn_type, amount, currency, status, event_time_ms, event_time_us, op FROM txns"),

    // S1/S2 serde seam over the REAL wire format: envelope -> Confluent-
    // framed Avro BINARY -> minimal Avro reader -> parse (graft.cdc
    // .AvroWire — magic byte + schema id + zigzag/LE-IEEE binary body;
    // swap for to_avro/from_avro + registry when the jars are present;
    // byte fixtures pinned against the Avro spec in GoldenWireSpec)
    GraftQuery("q_envelope_avro_serde", (s, dir) =>
      EnvelopeOps.parseTxnEnvelope(
        graft.cdc.AvroWire.decodeAvroEnvelope(
          graft.cdc.AvroWire.encodeAvroEnvelope(
            EnvelopeOps.synthesizeTxnEnvelope(Tables.events(s, dir))))),
      // the Avro binary wire round-trip must land on the same flat rows —
      // byte format differs, typed output is the contract
      P +
      "SELECT txn_id, account_id, txn_ref, txn_type, amount, currency, status, event_time_ms, event_time_us, op FROM txns"),
  )
}
