package graft.text

import graft.SparkSpecBase

class Bm25Spec extends SparkSpecBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** Independent scalar model of the exact integer BM25 (same contract
    * the DuckDB oracle replays): Lucene-floored idf micro-nats + the
    * rational k1=6/5, b=3/4 normalization 22·T·tf/(10·T·tf+3·T+9·dl·N),
    * BigInt floor division, rarest-first query-term selection. */
  private def model(corpus: Seq[(Long, String)], queryMod: Long,
      queryTerms: Int, k: Int,
      maxDfDen: Long = 1L): Set[(Long, Long, Long, Long, Long)] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val tf = toks.toSeq.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, g) => (id, t, g.size.toLong) }
    }
    val dl = toks.map { case (id, ts) => id -> ts.size.toLong }
    val bigT = dl.values.sum
    val n = dl.size.toLong
    val df = tf.groupBy(_._2).map { case (t, g) => t -> g.size.toLong }
    val idf = df.collect { case (t, d) if d * maxDfDen <= n =>
      // Lucene-floored idf clamped to >= 1 micro-nat (the clamp only
      // binds past ~5e5 docs; a no-op on these corpora)
      t -> math.max(
        math.floor(math.log(1.0 + (n - d + 0.5) / (d + 0.5)) * 1e6).toLong,
        1L)
    }
    val scores = for {
      qid <- toks.keys.toSeq if qid % queryMod == 0
      qt = tf.filter(_._1 == qid).map(_._2).filter(idf.contains)
        .sortBy(t => (df(t), t)).take(queryTerms).toSet
      (did, t, f) <- tf if qt.contains(t)
    } yield ((qid, did),
      (BigInt(idf(t)) * 22 * bigT * f /
        (BigInt(10) * bigT * f + BigInt(3) * bigT + BigInt(9) * dl(did) * n))
        .toLong)
    scores.groupBy(_._1).toSeq.flatMap { case ((qid, did), ss) =>
      Seq((qid, did, ss.size.toLong, ss.map(_._2).sum))
    }.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.sortBy(r => (-r._4, r._2)).zipWithIndex.take(k)
        .map { case ((q, d, nt, sc), i) => (q, d, nt, sc, i + 1L) }
    }.toSet
  }

  private val corpus = Seq(
    0L -> "spark shuffle join rare unicorn",
    1L -> "spark shuffle join join",
    2L -> "spark join scan scan scan",
    3L -> "spark scan rare extra",
    4L -> "spark shuffle unicorn unicorn spark",
    97L -> "rare unicorn scan")

  test("BM25 matches the independent scalar model exactly") {
    val got = Bm25.topKIndexed(PostingsIndex.derive(docs(corpus: _*)),
      queryMod = 97, queryTerms = 2, k = 3, maxDfDen = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === model(corpus, 97, 2, 3))
    assert(got.nonEmpty)
  }

  test("a query document retrieves itself first") {
    // doc 97's query terms are its rarest terms; it carries all of them
    val got = Bm25.topKIndexed(PostingsIndex.derive(docs(corpus: _*)),
      queryMod = 97, queryTerms = 2, k = 3, maxDfDen = 1)
      .filter("query_id = 97 AND doc_rank = 1")
      .select("doc_id").as[Long].collect()
    assert(got.toSeq === Seq(97L))
  }

  test("stop-term guard: df > N/maxDfDen terms leave selection and scoring") {
    // "spark" is in every doc (df 6 of 6); at maxDfDen = 2 it is a
    // stop term — matches through it alone must vanish
    val got = Bm25.topKIndexed(PostingsIndex.derive(docs(corpus: _*)),
      queryMod = 1, queryTerms = 16, k = 6, maxDfDen = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === model(corpus, 1, 16, 6, maxDfDen = 2))
    // doc 1 ("spark shuffle join join") shares ONLY capped-or-kept terms
    // with doc 3 ("spark scan rare extra") via "spark" — no hit either way
    assert(!got.exists(r => r._1 == 1L && r._2 == 3L))
    assert(!got.exists(r => r._1 == 3L && r._2 == 1L))
  }

  /** Scalar replay of the query-likelihood decomposition: matched-term
    * micro-nats + qlen × the floored per-doc Dirichlet constant. */
  private def qlModel(corpus: Seq[(Long, String)], queryMod: Long,
      queryTerms: Int, k: Int, mu: Long = 2000L,
      maxDfDen: Long = 1L): Set[(Long, Long, Long, Long, Long)] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val tf = toks.toSeq.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, g) => (id, t, g.size.toLong) }
    }
    val dl = toks.map { case (id, ts) => id -> ts.size.toLong }
    val bigT = dl.values.sum
    val n = dl.size.toLong
    val df = tf.groupBy(_._2).map { case (t, g) => t -> g.size.toLong }
    val ctf = tf.groupBy(_._2).map { case (t, g) => t -> g.map(_._3).sum }
    val eligible = df.filter { case (_, d) => d * maxDfDen <= n }.keySet
    val scores = for {
      qid <- toks.keys.toSeq if qid % queryMod == 0
      qt = tf.filter(_._1 == qid).map(_._2).filter(eligible.contains)
        .sortBy(t => (df(t), t)).take(queryTerms).toSet
      (did, t, f) <- tf if qt.contains(t)
    } yield ((qid, did, qt.size.toLong),
      math.floor(math.log(1.0 +
        (f.toDouble * bigT) / (mu * ctf(t).toDouble)) * 1e6).toLong)
    scores.groupBy(_._1).toSeq.map { case ((qid, did, qn), ss) =>
      val docPart =
        math.floor(math.log(mu.toDouble / (dl(did) + mu)) * 1e6).toLong
      (qid, did, ss.size.toLong, ss.map(_._2).sum + qn * docPart)
    }.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.sortBy(r => (-r._4, r._2)).zipWithIndex.take(k)
        .map { case ((q, d, nt, sc), i) => (q, d, nt, sc, i + 1L) }
    }.toSet
  }

  test("query likelihood matches the scalar Dirichlet model exactly") {
    val got = Bm25.queryLikelihoodTopKIndexed(
      PostingsIndex.derive(docs(corpus: _*)), queryMod = 97,
      queryTerms = 2, k = 3, mu = 2000L, maxDfDen = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === qlModel(corpus, 97, 2, 3))
    assert(got.nonEmpty)
  }

  test("RRF fuses ranked lists with integer 1e6/(60+rank) contributions") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L))
      .toDF("query_id", "doc_id", "doc_rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L))
      .toDF("query_id", "doc_id", "doc_rank")
    val got = Bm25.rrfFuse(a, b)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 20L, 1000000L / 62 + 1000000L / 61, 1L), // in both lists
      (1L, 10L, 1000000L / 61, 2L),                 // bm25-only
      (1L, 30L, 1000000L / 62, 3L)))                // ql-only
  }

  test("randomized corpora: BM25 and QL match the scalar models") {
    val rnd = new scala.util.Random(1137L)
    val words = Vector("a", "b", "c", "dd", "ee", "ff", "gg",
      "rare1", "rare2", "zz")
    for (trial <- 1 to 5) {
      val corpus = (0L until (10 + rnd.nextInt(20)).toLong).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(12))(
          words(rnd.nextInt(words.size))).mkString(" ")
      }
      val gotB = Bm25.topKIndexed(PostingsIndex.derive(docs(corpus: _*)),
        queryMod = 3, queryTerms = 4, k = 5, maxDfDen = 2)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(gotB === model(corpus, 3, 4, 5, maxDfDen = 2),
        s"bm25 trial $trial")
      val gotQ = Bm25.queryLikelihoodTopKIndexed(
        PostingsIndex.derive(docs(corpus: _*)), queryMod = 3,
        queryTerms = 4, k = 5, mu = 2000L, maxDfDen = 2)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(gotQ === qlModel(corpus, 3, 4, 5, maxDfDen = 2),
        s"ql trial $trial")
    }
  }

  test("nDCG: perfect ranking scores exactly 1e6, degradations less") {
    val rel = Seq((1L, 10L, 3L), (1L, 20L, 2L), (1L, 30L, 1L))
      .toDF("query_id", "doc_id", "rel")
    def rank(order: Seq[Long]) =
      order.zipWithIndex.map { case (d, i) => (1L, d, i + 1L) }
        .toDF("query_id", "doc_id", "doc_rank")
    val perfect = Bm25.ndcgAtK(rank(Seq(10L, 20L, 30L)), rel)
      .as[(Long, Long, Long, Long)].head()
    assert(perfect._2 === perfect._3) // dcg == idcg
    assert(perfect._4 === 1000000L)
    // worst order scores strictly less; unknown doc contributes zero
    val worst = Bm25.ndcgAtK(rank(Seq(30L, 99L, 10L)), rel)
      .as[(Long, Long, Long, Long)].head()
    assert(worst._4 < 1000000L && worst._4 > 0L)
    // scalar replay of the worst-order dcg: rel 1 at r1, 0 at r2, 3 at r3
    val expDcg = math.floor(1 * 1e6 / math.log(2)).toLong +
      math.floor(3 * 1e6 / math.log(4)).toLong
    assert(worst._2 === expDcg)
  }

  test("materialized index round-trip: indexed rankers == inline rankers") {
    val tmp = java.nio.file.Files.createTempDirectory("bm25idx").toString
    PostingsIndex.writeDerived(docs(corpus: _*), spark, tmp)
    val idx = PostingsIndex.read(spark, tmp)
    val bmInline = Bm25.topKIndexed(PostingsIndex.derive(docs(corpus: _*)),
      queryMod = 1, queryTerms = 16, k = 3, maxDfDen = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val bmIdx = Bm25.topKIndexed(idx, queryMod = 1, queryTerms = 16,
      k = 3, maxDfDen = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(bmIdx === bmInline)
    val qlInline = Bm25.queryLikelihoodTopKIndexed(
      PostingsIndex.derive(docs(corpus: _*)), queryMod = 1,
      queryTerms = 16, k = 3, mu = 2000L, maxDfDen = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val qlIdx = Bm25.queryLikelihoodTopKIndexed(idx, queryMod = 1,
      queryTerms = 16, k = 3, mu = 2000L, maxDfDen = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(qlIdx === qlInline)
  }

  test("buildAtomic: concurrent builders to one dest both get a valid index") {
    val root = java.nio.file.Files.createTempDirectory("bm25race")
    val dest = root.resolve("idx").toString
    val corpus = docs(1L -> "a b c", 2L -> "b c d", 3L -> "c d e")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val both = Await.result(Future.sequence(Seq(
      Future(PostingsIndex.buildAtomic(corpus, spark, dest)),
      Future(PostingsIndex.buildAtomic(corpus, spark, dest)))), 120.seconds)
    // whichever rename won, BOTH callers read a complete equivalent index
    both.foreach { idx =>
      assert(idx.totals.select("nd").as[Long].head() === 3L)
      assert(idx.postings.count() === 9L)
    }
    // no staging residue: the loser's .tmp- dir was cleaned up
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.list(root).iterator.asScala
      .map(_.getFileName.toString).filter(_.contains(".tmp-")).toSeq
    assert(leftovers.isEmpty, s"staging residue: $leftovers")
  }

  test("ensure: content-keyed cache rebuilds when the corpus changes in place") {
    val sfDir = java.nio.file.Files.createTempDirectory("graftcorpus").toString
    val p = s"$sfDir/documents.parquet"
    docs(1L -> "a b", 2L -> "a c").write.mode("overwrite").parquet(p)
    val first = PostingsIndex.ensure(spark, sfDir)
    assert(first.totals.select("nd").as[Long].head() === 2L)
    // regenerate the corpus IN PLACE (same path, new content): the
    // session cache must key on corpus content, not path, so this
    // triggers a rebuild instead of serving the stale 2-doc index
    docs(1L -> "a b", 2L -> "a c", 3L -> "d e f")
      .write.mode("overwrite").parquet(p)
    val second = PostingsIndex.ensure(spark, sfDir)
    assert(second.totals.select("nd").as[Long].head() === 3L)
    assert(second.vocab.count() === 6L) // a b c d e f
  }

  test("token-overlap qrels: content-derived grades, independent of rank") {
    // query doc 0; window covers all docs; floor 1 => rel = shared - 1
    val c = Seq(
      0L -> "a b c d",
      1L -> "a b c x",   // shares 3 -> rel 2
      2L -> "a b y z",   // shares 2 -> rel 1
      3L -> "p q r s")   // shares 0 -> dropped
    val got = Bm25.tokenOverlapQrels(docs(c: _*), queryMod = 991,
        window = 10, relFloor = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 0L, 3L), (0L, 1L, 2L), (0L, 2L, 1L)))
  }

  test("nDCG drops queries whose grades are all non-positive") {
    val rel = Seq((1L, 10L, 2L), (2L, 10L, 0L))
      .toDF("query_id", "doc_id", "rel")
    val rank = Seq((1L, 10L, 1L), (2L, 10L, 1L))
      .toDF("query_id", "doc_id", "doc_rank")
    val got = Bm25.ndcgAtK(rank, rel).as[(Long, Long, Long, Long)].collect()
    // query 2's ideal gain floors to 0 -> dropped, not a null/error
    assert(got.map(_._1).toSet === Set(1L))
    assert(got.head._4 === 1000000L)
  }

  test("top-k bound and rank totality hold per query") {
    val got = Bm25.topKIndexed(PostingsIndex.derive(docs(corpus: _*)),
      queryMod = 1, queryTerms = 16, k = 2, maxDfDen = 1)
      .as[(Long, Long, Long, Long, Long)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet === corpus.map(_._1).toSet) // every doc is a query
    byQ.values.foreach { rows =>
      assert(rows.length <= 2)
      assert(rows.map(_._5).sorted.toSeq === (1L to rows.length).toSeq)
      // scores are positive (floored idf is strictly positive)
      assert(rows.forall(_._4 > 0))
    }
  }
}
