package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed EXACT prefix scan (running sum) without funnelling the
  * frame through one reducer — the classic two-pass parallel scan:
  * range-repartition on the order key, scan each partition
  * independently, then lift every partition by the driver-combined
  * totals of the partitions before it (a per-PARTITION-count table, not
  * per-row). A `sum() OVER (ORDER BY ...)` window is the one-task
  * formulation this replaces: fine on a laptop, a wall on a cluster —
  * the same bottleneck class the RFM rewrite removed, but for CUMULATIVE
  * outputs where a cut value can't stand in for the whole curve.
  *
  * Determinism: permuting equal (ts, delta) rows permutes identical
  * running values, so the multiset of emitted running values — and any
  * order-insensitive aggregate of them — is independent of partitioning
  * and tie order. The range partitioner is instantiated once per
  * returned plan (boundaries fixed for the RDD's lifetime), so the
  * offset pass and the scan pass always see the same partitioning even
  * under cache eviction and recompute.
  */
object PrefixScan {

  /** Running sum of `deltaCol` in ascending (`tsCol`, `deltaCol`) order.
    * Output columns: (tsCol, deltaCol, running). Two passes over the
    * range-partitioned RDD; the second re-reads the first's shuffle
    * output (Spark skips a shuffle stage whose map output exists), so
    * nothing is persisted. */
  def runningSum(df: DataFrame, tsCol: String, deltaCol: String,
      partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val part = df
      .select(col(tsCol).cast("long"), col(deltaCol).cast("long"))
      .as[(Long, Long)]
      .repartitionByRange(partitions, col(tsCol), col(deltaCol))
      .sortWithinPartitions(tsCol, deltaCol)
      .rdd
    // pass 1: per-partition totals — `partitions` rows to the driver
    val sums = part
      .mapPartitionsWithIndex((i, it) =>
        Iterator((i, it.foldLeft(0L)(_ + _._2))), preservesPartitioning = true)
      .collect().sortBy(_._1).map(_._2)
    // offsets(i) = total of every partition before i (ranges are ordered)
    val off = spark.sparkContext.broadcast(sums.scanLeft(0L)(_ + _))
    // pass 2: per-partition scan lifted by the offset
    part.mapPartitionsWithIndex { (i, it) =>
      var acc = off.value(i)
      it.map { case (ts, d) => acc += d; (ts, d, acc) }
    }.toDF(tsCol, deltaCol, "running")
  }
}
