package graft.text

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.functions._

class TrainingPrepSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("sequence packing: concat-then-chunk offsets, straddle detection") {
    // one shard (ids 0,8,16 ≡ 0 mod 8); token counts 3, 2, 3 at maxTokens 4
    val d = docs(
      (0L, "abcdefghijk"),  // ceil(11/4) = 3 tokens -> [0, 3)   seq 0
      (8L, "abcdefgh"),     // ceil(8/4)  = 2 tokens -> [3, 5)   seqs 0-1 straddle
      (16L, "abcdefghijk")) // 3 tokens             -> [5, 8)   seq 1
    val got = TrainingPrep.packSequences(d, maxTokens = 4, nShards = 8)
      .orderBy("doc_id")
      .select("doc_id", "start_offset", "end_offset", "first_seq", "last_seq", "straddles")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    assert(got(0) === ((0L, 0L, 3L, 0L, 0L, false)))
    assert(got(1) === ((8L, 3L, 5L, 0L, 1L, true)))
    assert(got(2) === ((16L, 5L, 8L, 1L, 1L, false)))
  }

  test("sequence packing parallelizes per shard: offsets restart in each shard") {
    val d = docs((1L, "abcd"), (9L, "abcd"), (2L, "abcd"))
    val got = TrainingPrep.packSequences(d, maxTokens = 100, nShards = 8)
      .select("doc_id", "shard", "start_offset")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) === ((1L, 0L))) // shard 1 stream starts at 0
    assert(got(9L) === ((1L, 1L))) // second doc in shard 1
    assert(got(2L) === ((2L, 0L))) // shard 2 stream starts at 0 independently
  }

  test("train/val/test split boundaries at 90/95 are exact and deterministic") {
    val d = docs((89L, "x"), (90L, "x"), (94L, "x"), (95L, "x"), (189L, "x"))
    val got = TrainingPrep.trainValSplit(d)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got(89L) === "train" && got(189L) === "train") // same key mod 100
    assert(got(90L) === "val" && got(94L) === "val")
    assert(got(95L) === "test")
  }

  test("adaptive token gate keeps exactly the at-or-above-median half") {
    val d = docs((1L, "a"), (2L, "a b"), (3L, "a b c"), (4L, "a b c d"))
    val got = TrainingPrep.adaptiveTokenGate(d)
      .select("doc_id", "med_tokens").as[(Long, Double)].collect()
    assert(got.map(_._2).forall(_ === 2.5)) // median of 1,2,3,4
    assert(got.map(_._1).sorted.toSeq === Seq(3L, 4L))
  }

  test("dataset card: integer-exact corpus profile on a known frame") {
    val d = docs(
      (1L, "the cat sat"), (2L, "the cat sat"),            // exact dups
      (91L, "le chat et le chien et le"), (96L, "xyz"))    // val + test ids
    val row = TrainingPrep.datasetCard(d).head()
    assert(row.getAs[Long]("n_docs") === 4L)
    assert(row.getAs[Long]("total_ws_tokens") === 3 + 3 + 7 + 1)
    assert(row.getAs[Long]("n_dup_docs") === 1L)
    assert(row.getAs[Long]("n_train") === 2L)
    assert(row.getAs[Long]("n_val") === 1L)
    assert(row.getAs[Long]("n_test") === 1L)
  }

  test("estTokens Column form == estTokensModel pure twin for all small lengths") {
    val d = (0 to 60).map(n => (n.toLong, "x" * n)).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TrainingPrep.estTokens(col("text")).as("t"))
      .as[(Long, Long)].collect().toMap
    (0 to 60).foreach { n =>
      assert(got(n.toLong) === graft.Oracles.estTokensModel(n.toLong), s"len $n")
    }
  }

  test("repetition score: boilerplate scores high, prose scores zero") {
    val loop = Seq.fill(10)("buy now cheap").mkString(" ")     // repeated trigram
    val prose = (1 to 30).map(i => s"w$i").mkString(" ")       // all distinct
    val got = TrainingPrep.repetitionScore(docs((1L, loop), (2L, prose), (3L, "a b")))
      .select("doc_id", "rep_ratio").as[(Long, Double)].collect().toMap
    assert(got(1L) > 0.8)
    assert(got(2L) === 0.0)
    assert(got(3L) === 0.0) // too short for a shingle: reported, not dropped
  }

  test("decontamination flags only docs sharing an 8-gram with the eval slice") {
    val leaked = (1 to 12).map(i => s"bench$i").mkString(" ")
    val clean = (1 to 12).map(i => s"own$i").mkString(" ")
    // doc 1 contains the benchmark doc's 8-grams; doc 2 shares none
    val got = TrainingPrep.decontaminate(
        docs((1L, leaked + " extra"), (2L, clean)),
        docs((50L, leaked)))
      .as[(Long, Long)].collect().toMap
    assert(got.contains(1L) && got(1L) >= 5L)
    assert(!got.contains(2L))
  }

  test("bloom decontamination == exact inverted-index result; no shuffle of clean grams") {
    val leaked = (1 to 12).map(i => s"bench$i").mkString(" ")
    val clean = (1 to 12).map(i => s"own$i").mkString(" ")
    val train = docs((1L, leaked + " extra"), (2L, clean), (3L, leaked))
    val eval_ = docs((50L, leaked))
    val exact = TrainingPrep.decontaminate(train, eval_)
      .as[(Long, Long)].collect().toMap
    val bloom = TrainingPrep.bloomDecontaminate(train, eval_)
      .as[(Long, Long)].collect().toMap
    assert(bloom === exact)
    assert(bloom.contains(1L) && bloom.contains(3L) && !bloom.contains(2L))

    // the corpus-scale composition agrees too (sf0.001, %50 slices)
    val corpus = Tables.documents(spark, sf0001)
    val tr = corpus.filter(col("doc_id") % 50 =!= 0)
    val ev = corpus.filter(col("doc_id") % 50 === 0)
    val e2 = TrainingPrep.decontaminate(tr, ev).as[(Long, Long)].collect().toSet
    val b2 = TrainingPrep.bloomDecontaminate(tr, ev).as[(Long, Long)].collect().toSet
    assert(b2 === e2)
  }

  test("mixture sample: non-target strata kept whole, target near its fraction, rerun-stable") {
    val corpus = Tables.documents(spark, sf0001)
    val lang = TextAnalysis.langId(corpus).select(col("doc_id"), col("pred_lang"))
    val kept = TrainingPrep.mixtureSample(corpus, Map("en" -> (1, 2)))
      .as[(Long, String)].collect()
    val totals = lang.groupBy("pred_lang").count()
      .as[(String, Long)].collect().toMap
    val keptByLang = kept.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // non-en strata survive exactly (frac 1/1)
    totals.filter(_._1 != "en").foreach { case (l, n) =>
      assert(keptByLang.getOrElse(l, 0L) === n, s"stratum $l")
    }
    // en lands near 1/2 by hash uniformity
    val enRate = keptByLang.getOrElse("en", 0L).toDouble / totals("en")
    assert(enRate > 0.35 && enRate < 0.65, s"en rate $enRate")
    // deterministic: second run keeps the identical id set
    val again = TrainingPrep.mixtureSample(corpus, Map("en" -> (1, 2)))
      .as[(Long, String)].collect()
    assert(again.map(_._1).toSet === kept.map(_._1).toSet)
  }

  test("training manifest: independent invariants of the shipped composition") {
    val corpus = Tables.documents(spark, sf0001)
    val train = corpus.filter(col("doc_id") % 50 =!= 0)
    val evalSlice = corpus.filter(col("doc_id") % 50 === 0)
    val m = TrainingPrep.trainingManifest(corpus)
      .select("doc_id", "split").as[(Long, String)].collect()
    assert(m.nonEmpty)
    val ids = m.map(_._1).toSet

    // subset of the curation gates over the train slice
    val curated = TextAnalysis.curate(train, "en", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(curated))
    // zero 8-gram overlap with the benchmark slice (exact check)
    val contaminated = TrainingPrep.decontaminate(train, evalSlice)
      .select("doc_id").as[Long].collect().toSet
    assert((ids & contaminated).isEmpty)
    // every kept doc passes the mixture hash gate
    val pass = corpus.filter(col("doc_id").isin(ids.toSeq: _*))
      .filter(expr("pmod(xxhash64(doc_id), 2) < 1")).count()
    assert(pass === ids.size)
    // split is the pure mod-100 function of the id
    m.foreach { case (id, split) =>
      val k = id % 100
      val want = if (k < 90) "train" else if (k < 95) "val" else "test"
      assert(split === want, s"doc $id")
    }
  }

  test("unigram logprob: rare-token docs score lower than common-token docs") {
    val d = docs((1L, "the the the the"), (2L, "rare1 rare2 rare3 rare4"),
      (3L, "the the rare5 the"))
    val got = TrainingPrep.unigramLogProb(d)
      .select("doc_id", "mean_logprob").as[(Long, Double)].collect().toMap
    assert(got(2L) < got(3L) && got(3L) < got(1L))
    assert(got.values.forall(_ < 0.0))
  }

  test("chunking: overlapping windows cover the doc, tail runs short") {
    val text = "a" * 100 // size 64, stride 48 -> chunks at 0 and 48
    val got = TrainingPrep.chunkDocs(docs((1L, text)))
      .select("chunk_idx", "chunk_start", "chunk_len")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((0L, 0L, 64L), (1L, 48L, 52L)))
    // short doc: exactly one chunk
    val one = TrainingPrep.chunkDocs(docs((2L, "short")))
      .select("chunk_len").as[Long].collect()
    assert(one.toSeq === Seq(5L))
  }

  test("language cap keeps at most N docs per language in doc_id order") {
    val en = "the cat and the dog is in the house of the king"
    val d = docs((1 to 6).map(i => (i.toLong, en)): _*)
    val got = TrainingPrep.langCap(d, cap = 4)
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L, 3L, 4L)) // deterministic first-4
  }

  test("tfidf: a doc's distinctive term outranks corpus-wide terms") {
    val d = docs(
      (1L, "the cat sat"),
      (2L, "the dog sat"),
      (3L, "the zebra zebra ran"))
    val top = TrainingPrep.tfidfTopTerms(d, k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top(1L) === "cat")   // unique to doc 1
    assert(top(3L) === "zebra") // tf 2 x rare beats shared terms
  }

  test("token budget: greedy quality-prefix per language == pure-Scala model") {
    val docs = Tables.documents(spark, sf0001)
    val budget = 3000L
    val got = TrainingPrep.tokenBudgetCurate(docs, budget)
      .select("doc_id").as[Long].collect().toSet
    // independent model: greedy prefix in (quality DESC, doc_id) order
    val scored = TextAnalysis.quality(docs)
      .select("doc_id", "quality_score", "n_tokens")
      .join(TextAnalysis.langId(docs).select("doc_id", "pred_lang"), "doc_id")
      .as[(Long, Double, Long, String)].collect()
    val want = scored.groupBy(_._4).toSeq.flatMap { case (_, ds) =>
      var cum = 0L
      ds.sortBy(d => (-d._2, d._1)).takeWhile { d =>
        cum += d._3; cum <= budget
      }.map(_._1).toSeq
    }.toSet
    assert(got === want)
    assert(got.nonEmpty && got.size < scored.length) // budget actually binds
  }

  test("bigram logprob: known smoothed sums; one-token doc yields zero bigrams") {
    val d = docs((1L, "a b a b"), (2L, "a"))
    // vocab {a, b} -> V = 2; bigrams of doc 1: (a,b) x2, (b,a) x1
    // c(a,b) = 2, c(b,a) = 1; contexts c(a.) = 2, c(b.) = 1
    val lpAb = math.floor(math.log(3.0 / 4.0) * 1e6).toLong // (2+1)/(2+2)
    val lpBa = math.floor(math.log(2.0 / 3.0) * 1e6).toLong // (1+1)/(1+2)
    val got = TrainingPrep.bigramLogProb(d)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((3L, 2 * lpAb + lpBa)))
    assert(got(2L) === ((0L, 0L))) // sub-2-token doc surfaces, zeroed
  }

  test("capped bigram logprob: pruned types score as unseen; minCount=1 == uncapped; postings join broadcasts") {
    val d = docs((1L, "a b a b"), (2L, "a"))
    // minCount=2 prunes the singleton type (b,a): it scores as unseen,
    // ln((0+1)/(c(b.)+V)) = ln(1/3); (a,b) keeps its exact count
    val lpAb = math.floor(math.log(3.0 / 4.0) * 1e6).toLong
    val lpBaUnseen = math.floor(math.log(1.0 / 3.0) * 1e6).toLong
    val got = TrainingPrep.bigramLogProbCapped(d, minCount = 2L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((3L, 2 * lpAb + lpBaUnseen)))
    assert(got(2L) === ((0L, 0L)))

    // minCount=1 prunes nothing: exact equality with the uncapped operator
    val corpus = docs((1L, "a b a b"), (2L, "a"), (3L, "b c d c b"))
    val uncapped = TrainingPrep.bigramLogProb(corpus).collect().toSet
    val capped1 = TrainingPrep.bigramLogProbCapped(corpus, minCount = 1L)
      .collect().toSet
    assert(capped1 === uncapped)

    // the load-bearing plan property: the postings side never shuffles for
    // the type-count join — both joins are broadcast hash joins
    val plan = TrainingPrep.bigramLogProbCapped(corpus, minCount = 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("bpe pairs: frequency-weighted adjacent character pair counts") {
    // "abab" x2 and "abc" x1; single-char words contribute nothing
    val d = docs((1L, "abab abc a"), (2L, "abab"))
    val got = TrainingPrep.bpePairCounts(d, topK = 10)
      .as[(String, Long)].collect().toMap
    // per "abab": ab, ba, ab; per "abc": ab, bc
    assert(got === Map("ab" -> 5L, "ba" -> 2L, "bc" -> 1L))
  }

  test("bpe pairs: top-k cut is the deterministic (count desc, pair) order") {
    val d = docs((1L, "xy xz"))
    val got = TrainingPrep.bpePairCounts(d, topK = 1)
      .as[(String, Long)].collect()
    assert(got.toSeq === Seq(("xy", 1L))) // tie broken by pair ASC
  }

  test("weighted sample: exact size, total rank order, layout-independent") {
    val d = (1L to 40L).map(i => i -> ("w " * i.toInt).trim)
    val a = TrainingPrep.weightedSample(docs(d: _*), n = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    assert(a.length === 10)
    assert(a.map(_._4).toSeq === (1L to 10L)) // ranks are 1..n
    // ranks follow (key DESC, doc_id ASC) totally
    assert(a.sliding(2).forall { case Array(x, y) =>
      x._3 > y._3 || (x._3 == y._3 && x._1 < y._1) })
    // same sample set regardless of physical layout
    val b = TrainingPrep.weightedSample(docs(d: _*).repartition(7), n = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    assert(a.toSeq === b.toSeq)
  }

  test("weighted sample key replays the A-ES formula from the hash") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val d = docs((7L, "a b c"))
    val h = d.select(xxhash64(col("doc_id"))).as[Long].head()
    val u = h.toDouble / 1.8446744073709552e19 + 0.5
    val expected = math.floor(math.log(u + 1e-12) / 3L * 1e6).toLong
    val got = TrainingPrep.weightedSample(d, n = 1)
      .select("key_micro").as[Long].head()
    assert(got === expected)
  }

  test("leakage-safe split: every cluster lands wholly inside one split") {
    import org.apache.spark.sql.functions.{col, pmod, xxhash64}
    val d = docs((1L to 200L).map(i => i -> "x"): _*)
    // clusters: {1,2,101}, {3,4}; everything else unclustered
    val clusters = Seq((1L, 1L), (2L, 1L), (101L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "cluster_id")
    val got = TrainingPrep.leakageSafeSplit(d, clusters)
      .as[(Long, Long, Long, String)].collect()
    assert(got.length === 200)
    val byDoc = got.map(r => r._1 -> r).toMap
    // cluster members share group key AND split
    assert(Set(byDoc(1L), byDoc(2L), byDoc(101L)).map(r => (r._2, r._4)).size === 1)
    assert(Set(byDoc(3L), byDoc(4L)).map(r => (r._2, r._4)).size === 1)
    // unclustered docs key on their own id with the standard hash gate
    val k7 = d.filter(col("doc_id") === 7)
      .select(pmod(xxhash64(col("doc_id")), org.apache.spark.sql.functions.lit(100)))
      .as[Long].head()
    assert(byDoc(7L)._3 === k7)
    val expected7 =
      if (k7 < 90) "train" else if (k7 < 95) "val" else "test"
    assert(byDoc(7L)._4 === expected7)
    // all three splits materialize over 200 group keys w.h.p.
    assert(got.map(_._4).toSet === Set("train", "val", "test"))
  }

  test("weighted sample with n >= corpus returns every document") {
    val d = docs((1L, "a"), (2L, "a b"), (3L, "a b c"))
    val got = TrainingPrep.weightedSample(d, n = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L))
  }
}
