package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering key for multi-dimensional data
  * skipping — the published Z-ORDER idea behind lakehouse `OPTIMIZE`
  * commands: quantize two filter dimensions to integer cells, interleave
  * their bits ([[graft.functions.ZOrder2]], codegen'd), and range-sort
  * files by the curve value. Per-file min/max footer stats then stay
  * tight in BOTH dimensions simultaneously, so a box predicate
  * (`x BETWEEN … AND y BETWEEN …`) prunes most files — a linear sort on
  * one column can only ever prune on that column (ZOrderSpec measures
  * both layouts).
  *
  * Scale posture: quantization bounds come from ONE narrow min/max agg
  * (a broadcast one-row scalar — no window, no sort); the z-value itself
  * evaluates in the scan stage. A clustering write is then a
  * `repartitionByRange` on the z-value — the same single range shuffle
  * a plain sorted write costs, the skipping is free after that.
  */
object ZOrderLayout {

  /** Equal-width quantization of an integral column to `[0, 2^bits)` cells
    * given broadcast global bounds, as SQL text (the kernel resolves via
    * the function registry, which wants SQL). Integer arithmetic
    * throughout — `(v - min) * 2^bits div (range + 1)` — so cell ids are
    * engine-exact and replayable in an oracle (`div` truncation equals
    * floor here: the numerator is never negative). Requires
    * `range * 2^bits < 2^63` (any real id space at 16 bits). */
  def cellIdSql(v: String, vmin: String, vmax: String, bits: Int): String =
    s"((CAST($v AS BIGINT) - $vmin) * ${1L << bits}) div ($vmax - $vmin + 1)"

  /** Attach `zval` = Morton interleave of the two quantized dimensions.
    * The bounds agg runs once and rides the plan as a broadcast one-row
    * scalar (the adaptiveTokenGate pattern). */
  def withZValue(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 16): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).cast("long").as("_zx_min"),
      max(col(xCol)).cast("long").as("_zx_max"),
      min(col(yCol)).cast("long").as("_zy_min"),
      max(col(yCol)).cast("long").as("_zy_max"))
    val qx = cellIdSql(xCol, "_zx_min", "_zx_max", bits)
    val qy = cellIdSql(yCol, "_zy_min", "_zy_max", bits)
    df.crossJoin(broadcast(bounds))
      .withColumn("zval", expr(s"graft_zorder($qx, $qy, $bits)"))
      .drop("_zx_min", "_zx_max", "_zy_min", "_zy_max")
  }
}
