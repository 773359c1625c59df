package graft

import org.apache.spark.sql.functions._

import graft.dedup.DupSpans
import graft.functions.GraftFunctions

/** [[graft.dedup.DupSpans]] against a straight-line JVM model: positional
  * gram df>=2 positions merged into maximal intervals. The model works on
  * gram STRINGS (no hashing), so equality also certifies the fnv64
  * fingerprint path introduces no collisions on these corpora. */
class DupSpansSpec extends SparkSpecBase {
  import spark.implicits._

  GraftFunctions.register(spark)

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** Model: maximal duplicated spans, token positions 1-based. */
  private def modelSpans(corpus: Map[Long, String], n: Int): Set[(Long, Long, Long, Long)] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val grams = toks.toSeq.flatMap { case (id, w) =>
      if (w.size < n) Seq.empty
      else (0 to w.size - n).map(i => (id, i + 1L, w.slice(i, i + n).mkString(" ")))
    }
    val df = grams.map { case (id, _, g) => (g, id) }.distinct
      .groupBy(_._1).map { case (g, xs) => g -> xs.size }
    val hits = grams.filter { case (_, _, g) => df(g) >= 2 }
      .map { case (id, p, _) => (id, p) }.distinct
    hits.groupBy(_._1).toSet[(Long, Seq[(Long, Long)])].flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).sorted
      // fold into islands: break when the next start is > prev start + n
      val islands = sorted.foldLeft(List.empty[List[Long]]) {
        case (Nil, p)                                => List(List(p))
        case (cur :: rest, p) if p - cur.head <= n   => (p :: cur) :: rest
        case (acc, p)                                => List(p) :: acc
      }
      islands.map { isl =>
        val s = isl.min; val e = isl.max + n - 1
        (id, s, e, e - s + 1)
      }
    }
  }

  private def gotSpans(d: org.apache.spark.sql.DataFrame, n: Int,
      verify: Boolean = false): Set[(Long, Long, Long, Long)] =
    DupSpans.dupSpans(d, n, verifyExact = verify)
      .as[(Long, Long, Long, Long)].collect().toSet

  test("hand corpus: shared region found, overlapping grams merge into one span") {
    // docs 1 and 2 share tokens c d e f (one 3-gram "c d e" and "d e f"
    // both duplicated -> starts 3,4 merge into span [3,6])
    val d = docs(
      (1L, "a b c d e f g h"),
      (2L, "x y c d e f q r"),
      (3L, "p q r s t u v w"))
    val got = gotSpans(d, 3)
    assert(got === Set((1L, 3L, 6L, 4L), (2L, 3L, 6L, 4L)))
    assert(got === modelSpans(Map(
      1L -> "a b c d e f g h", 2L -> "x y c d e f q r",
      3L -> "p q r s t u v w"), 3))
  }

  test("nearby regions within gram width merge; beyond it stay separate") {
    // shared 3-grams at starts 1 and 4 (gap 3 == n) merge; at 1 and 8 do not
    val near = docs(
      (1L, "a b c a b c z z z z"),
      (2L, "a b c q q q q q q q"))
    // doc 1: "a b c" duplicated at starts 1 and 4 -> 4 - 1 <= 3 -> one span [1,6]
    assert(gotSpans(near, 3).contains((1L, 1L, 6L, 6L)))
    val far = docs(
      (1L, "a b c z z z z a b c"),
      (2L, "a b c q q q q q q q"))
    // doc 1: starts 1 and 8, gap 7 > 3 -> two spans [1,3] and [8,10]
    val g = gotSpans(far, 3)
    assert(g.contains((1L, 1L, 3L, 3L)) && g.contains((1L, 8L, 10L, 3L)))
  }

  test("within-document repetition alone is NOT corpus duplication") {
    val d = docs(
      (1L, "a b c a b c a b c"), // repeats internally, occurs in 1 doc only
      (2L, "q r s t u v w x y"))
    assert(gotSpans(d, 3) === Set.empty)
  }

  test("randomized corpora: spark == model, and verifyExact == default") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 5) {
      val vocab = Vector("t0", "t1", "t2", "t3", "t4") // tiny -> heavy overlap
      val corpus = (1L to 12L).map { id =>
        id -> Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }.toMap
      val d = corpus.toSeq.toDF("doc_id", "text")
      val want = modelSpans(corpus, 4)
      assert(gotSpans(d, 4) === want, s"trial $trial")
      assert(gotSpans(d, 4, verify = true) === want, s"trial $trial verified")
    }
  }

  test("dupFractions: every doc present, zeros for clean docs, flag past cut") {
    val d = docs(
      (1L, "a b c d e f"),        // fully duplicated against doc 2
      (2L, "a b c d e f"),
      (3L, "u v w x y z"))        // clean
    val got = DupSpans.dupFractions(d, n = 3, maxDupFraction = 0.5)
      .select("doc_id", "n_tokens", "dup_tokens", "verdict")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 6L, 6L, "flag")))
    assert(got(2L) === ((2L, 6L, 6L, "flag")))
    assert(got(3L) === ((3L, 6L, 0L, "keep")))
  }

  test("strip: spans removed and rejoined; clean docs byte-identical; all-dup -> empty") {
    val d = docs(
      (1L, "a b c d e f g h"),
      (2L, "x y c d e f q r"),
      (3L, "p  q r s"),           // double space survives pass-through
      (4L, "a b c d e f g h"))    // doc 4 == doc 1 entirely
    val got = DupSpans.stripDupSpans(d, n = 3)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // docs 1/4 fully duplicated -> everything stripped
    assert(got(1L) === ((1L, 8L, 0L, "")))
    assert(got(4L) === ((4L, 8L, 0L, "")))
    // doc 2 shares c d e f with doc 1 -> span [3,6] stripped, rest rejoined
    assert(got(2L) === ((2L, 8L, 4L, "x y q r")))
    // doc 3 span-free: text passes through untouched, double space intact
    assert(got(3L) === ((3L, 5L, 5L, "p  q r s")))
  }

  test("incremental: retro exemplar flagged when a batch doc brings the 2nd copy") {
    val corpus = docs(
      (1L, "a b c d e f g h"),    // unique until the batch arrives
      (2L, "p q r s t u v w"))
    val batch = docs((11L, "z z c d e f z q"))
    val got = DupSpans.dupPositionsIncremental(
        DupSpans.gramIndex(corpus, 4), batch, 4)
      .as[(Long, Long, String)].collect().toSet
    // shared 4-gram "c d e f" starts at pos 3 in both docs: the batch
    // position lands as 'batch', doc 1's exemplar retro-flags
    assert(got === Set((11L, 3L, "batch"), (1L, 3L, "retro")))
  }

  test("incremental fold: rounds union to the full-corpus positions") {
    val rnd = new scala.util.Random(777)
    val n = 4
    // every (doc_id, pos) whose gram has doc-frequency >= 2
    def duplicatedPositions(d: org.apache.spark.sql.DataFrame) = {
      val grams = DupSpans.positionalGrams(d, n).select("doc_id", "pos", "gh")
      grams.join(DupSpans.duplicatedGramKeys(grams), "gh")
        .select("doc_id", "pos").distinct()
    }
    for (trial <- 1 to 3) {
      val vocab = Vector("t0", "t1", "t2", "t3", "t4")
      val corpus = (1L to 15L).map { id =>
        id -> Seq.fill(5 + rnd.nextInt(18))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }.toMap
      val all = corpus.toSeq.toDF("doc_id", "text")
      val base = all.filter(col("doc_id") <= 5)
      val b1 = all.filter(col("doc_id") > 5 && col("doc_id") <= 10)
      val b2 = all.filter(col("doc_id") > 10)

      // each round's standing index is built from scratch over the
      // documents ingested before it
      val out1 = DupSpans.dupPositionsIncremental(DupSpans.gramIndex(base, n), b1, n)
      val out2 = DupSpans.dupPositionsIncremental(
        DupSpans.gramIndex(base.union(b1), n), b2, n)

      // union of round outputs + base-internal dups == full-corpus positions
      val folded = duplicatedPositions(base)
        .select("doc_id", "pos")
        .union(out1.select("doc_id", "pos"))
        .union(out2.select("doc_id", "pos"))
        .as[(Long, Long)].collect().toSet
      val full = duplicatedPositions(all)
        .as[(Long, Long)].collect().toSet
      assert(folded === full, s"trial $trial fold")
      // no round emits a position twice across rounds
      val perRound = Seq(out1, out2).map(
        _.select("doc_id", "pos").as[(Long, Long)].collect().toSet)
      assert(perRound(0).intersect(perRound(1)) === Set.empty, s"trial $trial overlap")
    }
  }
}
