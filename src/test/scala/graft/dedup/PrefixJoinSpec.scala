package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class PrefixJoinSpec extends SparkSpecBase {
  import spark.implicits._

  // whitespace unigram postings
  private def got(texts: Seq[String], tPct: Long) =
    PrefixJoin.jaccardJoinOnSets(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= ""), tPct)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap

  /** Brute-force all-pairs model. */
  private def model(texts: Seq[String], tPct: Long) = {
    val sets = texts.map(_.split(" ").filter(_.nonEmpty).toSet)
    (for {
      a <- sets.indices; b <- (a + 1) until sets.size
      inter = (sets(a) & sets(b)).size.toLong
      la = sets(a).size.toLong; lb = sets(b).size.toLong
      if inter * 100 >= tPct * (la + lb - inter)
    } yield (a.toLong, b.toLong) ->
      (la, lb, inter, inter * 1000000L / (la + lb - inter))).toMap
  }

  test("near-identical pair found, dissimilar pair excluded; values exact") {
    val texts = Seq(
      "alpha beta gamma delta epsilon",
      "alpha beta gamma delta zeta", // J = 4/6 = 0.666
      "one two three four five")
    val g = got(texts, 60)
    assert(g == model(texts, 60))
    assert(g.keySet == Set((0L, 1L)))
    assert(g((0L, 1L)) == ((5L, 5L, 4L, 666666L)))
    assert(got(texts, 70).isEmpty) // 0.666 < 0.7
  }

  test("exact threshold boundary is inclusive (cross-multiplied, no float)") {
    // J = 3/5 = 0.6 exactly at tPct=60
    val texts = Seq("a b c d", "a b c e")
    assert(got(texts, 60).keySet == Set((0L, 1L)))
    assert(got(texts, 61).isEmpty)
  }

  test("identical docs score 1.0; duplicate tokens collapse (set semantics)") {
    val texts = Seq("x y z x y", "x y z")
    val g = got(texts, 100)
    assert(g == model(texts, 100))
    assert(g((0L, 1L)) == ((3L, 3L, 3L, 1000000L)))
  }

  test("randomized corpora: recall 1.0 and exact values vs all-pairs model") {
    val rnd = new scala.util.Random(17)
    val vocab = ('a' to 't').map(_.toString)
    for (t <- Seq(40L, 60L, 80L)) {
      val texts = (1 to 25).map(_ =>
        rnd.shuffle(vocab).take(4 + rnd.nextInt(8)).mkString(" "))
      assert(got(texts, t) == model(texts, t), s"tPct=$t")
    }
  }
}
