package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpecBase {
  import spark.implicits._

  test("exact heavy hitters: counts and deterministic rank on a known frame") {
    val df = Seq(("A", 1L), ("A", 1L), ("A", 2L), ("A", 3L), ("A", 3L),
      ("B", 9L)).toDF("g", "id")
    val got = Sketches.heavyHitters(df, "g", "id", k = 2)
      .select("g", "id", "n", "rank")
      .as[(String, Long, Long, Long)].collect().toSet
    // ties (1 and 3 both count 2) break by id ASC
    assert(got === Set(("A", 1L, 2L, 1L), ("A", 3L, 2L, 2L), ("B", 9L, 1L, 1L)))
  }

  // ---- KMV ------------------------------------------------------------------

  private def kmvModel(values: Seq[Long], k: Int): Seq[Long] =
    values.distinct.sorted.take(k)

  test("KMV buffer == sorted-distinct-take-k model, any merge split") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 6) {
      val n = 1 + rnd.nextInt(400)
      val k = 1 + rnd.nextInt(64)
      // mixed magnitudes incl. duplicates and negatives
      val vals = Seq.fill(n)(rnd.nextInt(80).toLong - 40L) ++
        Seq.fill(n)(rnd.nextLong())
      val whole = new graft.functions.KmvBuffer(k)
      vals.foreach(whole.add)
      assert(whole.toArray.toSeq === kmvModel(vals, k), s"trial $trial whole")
      // arbitrary 3-way split, merged — associativity of bottom-k union
      val parts = vals.grouped(math.max(1, vals.size / 3)).toSeq
      val bufs = parts.map { p =>
        val b = new graft.functions.KmvBuffer(k); p.foreach(b.add); b
      }
      val merged = new graft.functions.KmvBuffer(k)
      bufs.foreach(merged.mergeFrom)
      assert(merged.toArray.toSeq === kmvModel(vals, k), s"trial $trial merged")
    }
  }

  test("graft_kmv aggregate matches the model through shuffled partitions") {
    val rnd = new scala.util.Random(7L)
    val rows = (1 to 500).map(i => ("g" + (i % 3), rnd.nextLong() % 1000))
    val df = rows.toDF("g", "h").repartition(7)
    val got = Sketches.kmvPerGroup(df, "g", col("h"), k = 16)
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Long](1), r.getLong(2))).toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val (sketch, nRows) = got(g)
      assert(nRows === grp.size)
      assert(sketch.toSeq === kmvModel(grp.map(_._2), 16), s"group $g")
    }
  }

  test("KMV distinct estimate within ~4/sqrt(k) of truth when saturated") {
    val rnd = new scala.util.Random(99L)
    val nDistinct = 20000
    val rows = (1 to nDistinct).map(i => ("all", rnd.nextLong()))
    val k = 256
    val df = rows.toDF("g", "h")
    val overlapIn = df.union(df.withColumn("g", lit("other")))
    val est = Sketches.kmvOverlap(overlapIn, "g", col("h"), k)
      .select("est_union", "est_inter", "jaccard_micro", "union_k")
      .head()
    // both groups identical: union == inter == nDistinct, jaccard == 1
    val rel = math.abs(est.getLong(0).toDouble / nDistinct - 1.0)
    assert(rel < 4.0 / math.sqrt(k.toDouble), s"union est off by $rel")
    assert(est.getLong(2) === 1000000L, "identical sets must give jaccard 1")
    assert(est.getLong(1) === est.getLong(0),
      "jaccard 1 must make est_inter == est_union")
  }

  test("KMV overlap exact (unsaturated) path equals true set arithmetic") {
    val a = (1L to 30L).map(("a", _))
    val b = (21L to 45L).map(("b", _))   // |A∪B|=45, |A∩B|=10
    val df = (a ++ b).toDF("g", "h")
      .withColumn("h", xxhash64(col("h")))  // arbitrary injective-ish map
    val r = Sketches.kmvOverlap(df, "g", col("h"), k = 64).head()
    assert(r.getAs[Long]("union_k") === 45L)
    assert(r.getAs[Any]("theta") === null)
    assert(r.getAs[Long]("rho") === 10L)
    assert(r.getAs[Long]("est_union") === 45L)
    assert(r.getAs[Long]("est_inter") === 10L)
    assert(r.getAs[Long]("jaccard_micro") === 1000000L * 10 / 45)
  }

  // ---- bottom-k priority sample / approx percentiles ------------------------

  /** Model: keep k smallest distinct hashes with min-value on collision,
    * return (h, v) ascending by h. */
  private def qsModel(pairs: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
    pairs.groupBy(_._1).map { case (h, ps) => (h, ps.map(_._2).min) }
      .toSeq.sortBy(_._1).take(k)

  test("QSample buffer == bottom-k-with-payload model, any merge split") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 6) {
      val n = 1 + rnd.nextInt(400)
      val k = 1 + rnd.nextInt(64)
      // narrow hash range to force collisions through the min-value rule
      val pairs = Seq.fill(n)((rnd.nextInt(60).toLong - 30L, rnd.nextLong())) ++
        Seq.fill(n)((rnd.nextLong(), rnd.nextLong()))
      val whole = new graft.functions.QSampleBuffer(k)
      pairs.foreach { case (h, v) => whole.add(h, v) }
      assert(whole.toPairs.toSeq === qsModel(pairs, k), s"trial $trial whole")
      val parts = pairs.grouped(math.max(1, pairs.size / 3)).toSeq
      val merged = new graft.functions.QSampleBuffer(k)
      parts.foreach { p =>
        val b = new graft.functions.QSampleBuffer(k)
        p.foreach { case (h, v) => b.add(h, v) }
        merged.mergeFrom(b)
      }
      assert(merged.toPairs.toSeq === qsModel(pairs, k), s"trial $trial merged")
    }
  }

  test("graft_qsample aggregate matches the model through shuffled partitions") {
    val rnd = new scala.util.Random(11L)
    val rows = (1 to 500).map(i =>
      ("g" + (i % 3), rnd.nextLong() % 100, rnd.nextInt(1000).toLong))
    val df = rows.toDF("g", "h", "v").repartition(7)
    val got = Sketches.qsamplePerGroup(df, "g", col("h"), col("v"), k = 16)
      .collect().map { r =>
        r.getString(0) -> (
          r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1))),
          r.getLong(2))
      }.toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val (sample, nRows) = got(g)
      assert(nRows === grp.size)
      assert(sample.toSeq === qsModel(grp.map(t => (t._2, t._3)), 16), s"group $g")
    }
  }

  test("approx percentiles: exact when the sample holds the whole group") {
    val rows = (1L to 40L).map(i => ("a", i, i * 100))
    val df = rows.toDF("g", "id", "kobo")
    val got = Sketches.approxPercentiles(df, "g",
      xxhash64(col("id")), col("kobo"), k = 64).head()
    // n=40 <= k: ceil-ranks 20 / 36 / 40 over the full sorted values
    assert(got.getLong(1) === 40L && got.getLong(2) === 40L)
    assert(got.getLong(3) === 2000L, "p50 must be the rank-20 value")
    assert(got.getLong(4) === 3600L, "p90 must be the rank-36 value")
    assert(got.getLong(5) === 4000L, "p99 must be the rank-40 value")
  }

  test("approx percentiles: sampled estimate near exact, layout-invariant") {
    val n = 20000
    val rows = (1L to n).map(i => ("all", i, i))  // value == rank: quantile error readable
    val df = rows.toDF("g", "id", "v")
    val k = 256
    val got = Sketches.approxPercentiles(df, "g",
      xxhash64(col("id")), col("v"), k = k).head()
    assert(got.getLong(1) === n.toLong && got.getLong(2) === k.toLong)
    // rank error ~ O(1/sqrt(k)); 4/sqrt(k) = 0.25 quantile — deterministic
    // data (fixed ids -> fixed hash sample), so this cannot flake
    val tol = (4.0 / math.sqrt(k.toDouble) * n).toLong
    assert(math.abs(got.getLong(3) - n / 2) <= tol, s"p50 ${got.getLong(3)}")
    assert(math.abs(got.getLong(4) - n * 9 / 10) <= tol, s"p90 ${got.getLong(4)}")
    assert(math.abs(got.getLong(5) - n * 99 / 100) <= tol, s"p99 ${got.getLong(5)}")
    val again = Sketches.approxPercentiles(df.repartition(13), "g",
      xxhash64(col("id")), col("v"), k = k).head()
    assert(again.toSeq === got.toSeq, "sample must not depend on layout")
  }

  test("stratified sample: exactly n per stratum, layout-invariant") {
    val docs = graft.Tables.documents(spark, sf0001)
    val got = graft.text.TrainingPrep.stratifiedSample(docs, "lang", n = 5)
    val perLang = got.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (lang, sz) =>
      assert(perLang(lang) === math.min(5L, sz), s"lang $lang")
    }
    val again = graft.text.TrainingPrep
      .stratifiedSample(docs.repartition(13), "lang", n = 5)
      .select("lang", "doc_id").collect().toSet.map((r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getLong(1)))
    val first = got.select("lang", "doc_id").collect().toSet.map(
      (r: org.apache.spark.sql.Row) => (r.getString(0), r.getLong(1)))
    assert(again === first, "sample must not depend on partition layout")
  }

  test("shuffle shards: dense 0-based positions per shard, all docs kept") {
    val docs = graft.Tables.documents(spark, sf0001)
    val got = graft.text.TrainingPrep.shuffleShards(docs, nShards = 8)
    assert(got.count() === docs.count())
    val bad = got.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .filter(col("lo") =!= 0L || col("hi") =!= col("n") - 1)
    assert(bad.isEmpty, "positions must be dense 0..n-1 within each shard")
  }
}
