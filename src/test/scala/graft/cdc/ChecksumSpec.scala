package graft.cdc

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ChecksumSpec extends SparkSpecBase {
  import spark.implicits._

  private def sums(df: DataFrame): Map[Long, (Long, Long, Long)] =
    Checksum.contentChecksum(df,
        concat_ws("|", col("k"), col("v")), col("k") % 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  private val base = (1L to 40L).map(k => (k, s"payload-$k"))

  test("checksum is invariant under row order and partitioning") {
    val a = sums(base.toDF("k", "v"))
    val b = sums(spark.createDataFrame(
      scala.util.Random.shuffle(base)).toDF("k", "v").repartition(7))
    assert(a == b)
    assert(a.keySet == (0L to 3L).toSet)
  }

  test("a single changed row flips exactly its bucket, all three folds") {
    val a = sums(base.toDF("k", "v"))
    val changed = base.map { case (k, v) =>
      (k, if (k == 17L) "payload-XX" else v)
    }
    val b = sums(changed.toDF("k", "v"))
    val diff = (0L to 3L).filter(bk => a(bk) != b(bk))
    assert(diff == Seq(17L % 4))
    val (bk) = 17L % 4
    assert(a(bk)._1 == b(bk)._1) // same row count
    assert(a(bk)._2 != b(bk)._2 && a(bk)._3 != b(bk)._3)
  }

  test("a dropped row changes count, xor and sum of its bucket only") {
    val a = sums(base.toDF("k", "v"))
    val b = sums(base.filterNot(_._1 == 6L).toDF("k", "v"))
    assert((0L to 3L).filter(bk => a(bk) != b(bk)) == Seq(6L % 4))
    assert(b(6L % 4)._1 == a(6L % 4)._1 - 1)
  }

  test("digest is the documented md5-prefix value") {
    val r = Checksum.contentChecksum(
        Seq((1L, "x")).toDF("k", "v"),
        concat_ws("|", col("k"), col("v")), lit(0L))
      .collect().head
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest("1|x".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getLong(3) == java.lang.Long.parseLong(md5hex.take(12), 16))
    assert(r.getLong(2) == r.getLong(3)) // single row: xor == sum
  }
}
