package graft.ops

import graft.SparkSpecBase

class IntervalJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("bucketized interval join == naive range-filtered join") {
    val left = Seq((1L, 7L, 1000L), (2L, 7L, 5000L), (3L, 8L, 1000L))
      .toDF("lid", "k", "lts")
    val right = Seq((10L, 7L, 900L), (11L, 7L, 2000L), (12L, 7L, 9000L),
      (13L, 9L, 1000L)).toDF("rid", "k", "rts")

    val got = IntervalJoin.inner(left, right, "k", "lts", "rts", -500L, 1500L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val naive = left.as("l").join(right.as("r"),
        $"l.k" === $"r.k" && $"rts" >= $"lts" - 500 && $"rts" <= $"lts" + 1500)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got === naive)
    assert(got === Set((1L, 10L), (1L, 11L))) // boundary: 900 >= 1000-500
  }

  test("interval spanning bucket boundaries still matches (replication covers edges)") {
    // w = 1000; left ts 999 with window [999, 2999] spans buckets 0..2
    val left = Seq((1L, 7L, 999L)).toDF("lid", "k", "lts")
    val right = Seq((10L, 7L, 1000L), (11L, 7L, 2999L), (12L, 7L, 3000L))
      .toDF("rid", "k", "rts")
    val got = IntervalJoin.inner(left, right, "k", "lts", "rts", 0L, 2000L)
      .select("rid").as[Long].collect().toSet
    assert(got === Set(10L, 11L)) // 3000 > 999+2000 excluded
  }

  test("randomized: bucketized == naive range join on 3 seeds (incl. negative offsets)") {
    for (seed <- Seq(2, 11, 99)) {
      val rnd = new scala.util.Random(seed)
      val lf = (1 to 150).map(i =>
        (i.toLong, (rnd.nextInt(4) + 1).toLong, rnd.nextInt(10000).toLong))
        .toDF("lid", "k", "lts")
      val rt = (1 to 150).map(i =>
        (1000L + i, (rnd.nextInt(4) + 1).toLong, rnd.nextInt(10000).toLong))
        .toDF("rid", "k", "rts")
      val (lo, hi) = (-700L, 300L)
      val got = IntervalJoin.inner(lf, rt, "k", "lts", "rts", lo, hi)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val naive = lf.as("l").join(rt.as("r"),
          $"l.k" === $"r.k" && $"rts" >= $"lts" + lo && $"rts" <= $"lts" + hi)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(got === naive, s"seed $seed")
    }
  }
}
