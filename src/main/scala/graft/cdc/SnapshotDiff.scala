package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot diffing for CDC changelogs — "what changed between T1 and T2"
  * as a TABLE, the operator behind incremental-refresh auditing, CDC
  * backfill validation, and feed-consumer reconciliation (the reference's
  * changelog topics make exactly this question routine; cf.
  * `reference/src/main/java/com/abbank/streams/topology/ABBankTopology.java:107-125`
  * for the accounts/customers KTable feeds this diffs).
  *
  * [[changelogDiff]] is the scale-smart ONE-PASS form: from the raw
  * versioned changelog, both horizons' latest states are recovered in a
  * single keyed aggregation (`max(when(seq <= t, struct(seq, op,
  * digest)))` — conditional struct-max, map-side combined). Neither
  * snapshot is materialized; the corpus is scanned once and the only
  * shuffle carries (key, seq, op, 64-char digest) rows. At 100 TB this
  * beats diffing two materialized snapshots by a full corpus scan and a
  * second wide shuffle (SnapshotDiffSpec pins it to that two-table diff).
  *
  * Change classes: 'added' (absent at T1, present at T2), 'deleted'
  * (present → absent, i.e. tombstoned in between), 'changed' (present on
  * both sides with different value digests). Unchanged keys produce no
  * row. A key is "present" at T when it has a version at or before T and
  * that latest version is not a tombstone — [[graft.ops.LatestByKey]]'s
  * KTable semantics at an event-time horizon.
  *
  * Exactness: digests are sha2-256 over 0x01-joined value columns the
  * CALLER has normalized to engine-stable strings (longs/strings — money
  * as integer kobo, never raw doubles); comparisons and horizon
  * arithmetic (`seq div 2`) are integer-exact, so the DuckDB oracle
  * reproduces the diff bit-for-bit by comparing values directly.
  */
object SnapshotDiff {

  /** sha2-256 digest of the given columns, 0x01-joined (the separator
    * removes field-boundary ambiguity). Callers pass engine-stable
    * columns only (cast money to integer kobo first). */
  def valueDigest(valueCols: Seq[Column]): Column =
    sha2(concat_ws("\u0001", valueCols: _*), 256)

  /** One-pass diff of a versioned changelog between horizons `t1` and
    * `t2` (inclusive, on `seqCol`; `t1`/`t2` may reference scalar columns
    * cross-joined onto `changelog` by the caller). `opCol` must read "d"
    * on tombstone versions. Output: keyCols..., change ('added' |
    * 'deleted' | 'changed'), old_seq, new_seq (null where absent).
    *
    * Version order is (seqCol, tieCols...) — if a key can ever carry two
    * versions at the same `seqCol` value, pass a deterministic `tieCols`
    * (e.g. the record id); otherwise ties would break by (op, digest)
    * byte order, which no value-level oracle reproduces. With a unique
    * (seqCol, tieCols) per key the result is deterministic and matches a
    * `row_number() OVER (ORDER BY seq DESC, tie... DESC)` formulation
    * exactly. */
  def changelogDiff(changelog: DataFrame, keyCols: Seq[String],
      seqCol: String, opCol: String, digest: Column,
      t1: Column, t2: Column, tieCols: Seq[Column] = Nil): DataFrame = {
    val v = struct(Seq(col(seqCol).as("seq")) ++
      tieCols.zipWithIndex.map { case (c, i) => c.as(s"__tie$i") } ++
      Seq(col(opCol).as("op"), digest.as("digest")): _*)
    val agg = changelog
      .groupBy(keyCols.map(col): _*)
      .agg(max(when(col(seqCol) <= t1, v)).as("__o"),
        max(when(col(seqCol) <= t2, v)).as("__n"))
    val presentO = col("__o").isNotNull && col("__o.op") =!= "d"
    val presentN = col("__n").isNotNull && col("__n.op") =!= "d"
    agg
      .withColumn("change",
        when(!presentO && presentN, lit("added"))
          .when(presentO && !presentN, lit("deleted"))
          .when(presentO && presentN &&
            col("__o.digest") =!= col("__n.digest"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("change"),
        when(presentO, col("__o.seq")).as("old_seq"),
        when(presentN, col("__n.seq")).as("new_seq")): _*)
  }
}
