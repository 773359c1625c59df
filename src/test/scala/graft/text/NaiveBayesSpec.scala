package graft.text

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class NaiveBayesSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "lang", "text")

  /** Plain-Scala replay of the multinomial NB math: add-one smoothing
    * over the train vocabulary, integer micro-nat truncation per token,
    * argmax with (score DESC, label ASC) tie-break. */
  private def modelPredict(rows: Seq[(Long, String, String)],
      holdoutMod: Long = 5L): Map[Long, (String, Long, Long)] = {
    val train = rows.filterNot(_._1 % holdoutMod == 0)
    val toks = train.flatMap { case (_, l, t) => t.split(" ", -1).map(l -> _) }
    val tc = toks.groupBy(identity).map { case ((l, w), g) => (l, w) -> g.size.toLong }
    val classTokens = toks.groupBy(_._1).map { case (l, g) => l -> g.size.toLong }
    val vocab = toks.map(_._2).toSet
    val vn = vocab.size.toLong
    def lp(l: String, w: String): Long =
      math.floor(math.log((tc.getOrElse((l, w), 0L) + 1) /
        (classTokens(l) + vn).toDouble) * 1e6).toLong
    def unseen(l: String): Long =
      math.floor(math.log(1 / (classTokens(l) + vn).toDouble) * 1e6).toLong
    val nDocs = train.groupBy(_._2).map { case (l, g) => l -> g.size.toLong }
    val total = train.size.toLong
    def prior(l: String): Long =
      math.floor(math.log(nDocs(l) / total.toDouble) * 1e6).toLong
    rows.filter(_._1 % holdoutMod == 0).map { case (id, _, t) =>
      val ws = t.split(" ", -1).toSeq
      val scored = nDocs.keys.toSeq.map { l =>
        l -> (prior(l) + ws.map(w =>
          if (vocab(w)) lp(l, w) else unseen(l)).sum)
      }
      val (bl, bs) = scored.minBy { case (l, s) => (-s, l) }
      id -> (bl, bs, ws.size.toLong)
    }.toMap
  }

  private val corpus = Seq(
    (1L, "en", "the cat sat on the mat"),
    (2L, "en", "the dog ate the bone"),
    (3L, "fr", "le chat dort sur le tapis"),
    (4L, "fr", "le chien mange le os"),
    (6L, "en", "cat and dog play"),
    (5L, "en", "the cat saw a zebra"),     // held out; "zebra","saw","a" OOV-ish
    (10L, "fr", "le chat mange inconnu")) // held out; "inconnu" OOV

  test("model grid matches the scala replay on every (class, term) pair") {
    val m = NaiveBayes.model(docs(corpus)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val train = corpus.filterNot(_._1 % 5 == 0)
    val toks = train.flatMap { case (_, l, t) => t.split(" ", -1).map(l -> _) }
    val tc = toks.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val classTokens = toks.groupBy(_._1).map { case (l, g) => l -> g.size.toLong }
    val vocab = toks.map(_._2).toSet
    val vn = vocab.size.toLong
    assert(m.size == vocab.size * classTokens.size) // FULL grid, zeros included
    for (l <- classTokens.keys; w <- vocab) {
      val n = tc.getOrElse((l, w), 0L)
      val expLp = math.floor(math.log((n + 1) /
        (classTokens(l) + vn).toDouble) * 1e6).toLong
      assert(m((l, w)) == ((n, expLp)), s"($l, $w)")
    }
  }

  test("predict matches the scala replay incl. OOV tokens and never " +
      "scores a trained doc") {
    val got = NaiveBayes.predict(docs(corpus)).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == modelPredict(corpus))
    assert(got.keySet.forall(_ % 5 == 0))
  }

  test("exact score tie breaks to the lexicographically smaller label") {
    val tied = Seq(
      (1L, "b", "x x y"),
      (2L, "a", "x x y"), // mirror classes: identical distributions
      (5L, "a", "x y zzz-oov"))
    val got = NaiveBayes.predict(docs(tied)).collect()
    assert(got.length == 1)
    assert(got.head.getString(1) == "a")
    // and the replay agrees the scores were actually tied
    val scored = modelPredict(tied)
    assert(scored(5L)._1 == "a")
  }

  test("confusion matrix sums to the held-out doc count on the corpus") {
    val d = Tables.documents(spark, sf0001)
    val heldOut = d.filter(col("doc_id") % 5 === 0).count()
    val conf = NaiveBayes.confusion(d).collect()
    assert(conf.map(_.getLong(2)).sum == heldOut)
    // every predicted label is a class that exists in training
    val trainLangs = d.filter(col("doc_id") % 5 =!= 0)
      .select("lang").distinct().as[String].collect().toSet
    assert(conf.map(_.getString(1)).toSet.subsetOf(trainLangs))
  }
}
