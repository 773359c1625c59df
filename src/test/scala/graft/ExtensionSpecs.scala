package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashLSH}
import graft.functions.{BloomContains, BloomKernel, Fnv1a64Helper, GraftFunctions}
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextAnalysis

class Fnv1a64Spec extends SparkSpecBase {
  import spark.implicits._

  test("matches published FNV-1a 64 test vectors") {
    // vectors from the public FNV reference (Fowler/Noll/Vo)
    assert(Fnv1a64Helper.hashBytes(Array.empty) === 0xcbf29ce484222325L)
    assert(Fnv1a64Helper.hashBytes("a".getBytes("UTF-8")) === 0xaf63dc4c8601ec8cL)
    assert(Fnv1a64Helper.hashBytes("foobar".getBytes("UTF-8")) === 0x85944171f73967e8L)
  }

  test("graft_dot == interpreted aggregate(zip_with) bit-for-bit; null-safe; ragged throws") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Some(Array(1.5, -2.25, 3.125, 0.1)), Array(0.3, 4.5, -1.75, 2.2)),
      (None: Option[Array[Double]], Array(1.0, 2.0, 3.0, 4.0)))
      .toDF("a", "b")
    val got = df.select(
      expr("graft_dot(a, b)").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)").as("hof"))
      .collect()
    // exact bit equality, not approximate: same fold order by contract
    assert(java.lang.Double.doubleToRawLongBits(got(0).getDouble(0)) ===
      java.lang.Double.doubleToRawLongBits(got(0).getDouble(1)))
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
    val ragged = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      ragged.select(expr("graft_dot(a, b)")).collect()
    }
    assert(e.getMessage.contains("ragged") ||
      Option(e.getCause).exists(_.getMessage.contains("ragged")))
  }

  test("expression evaluates through codegen and handles null") {
    GraftFunctions.register(spark)
    val got = Seq(Some("foobar"), None: Option[String]).toDF("t")
      .selectExpr("graft_fnv64(t)").as[Option[Long]].collect()
    assert(got(0) === Some(0x85944171f73967e8L))
    assert(got(1) === None)
  }

  test("bloom kernel: no false negatives ever; false positives rare at sizing") {
    import org.apache.spark.unsafe.types.UTF8String
    val members = (1 to 1000).map(i => s"member$i")
    val hashes = members.map(m => Fnv1a64Helper.hash(UTF8String.fromString(m))).toArray
    val bits = BloomKernel.build(hashes, numBits = 1 << 16, numProbes = 3)
    assert(members.forall(m => BloomKernel.contains(bits, 3, UTF8String.fromString(m))))
    val fps = (1 to 1000).count(i => BloomKernel.contains(bits, 3, UTF8String.fromString(s"absent$i")))
    assert(fps < 20, s"$fps false positives") // ~(1000*3/65536)^3 per probe set

    // the expression evaluates through codegen with the bitset as a
    // plan constant (not a per-row column)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_probe_test",
      exprs => BloomContains(exprs.head, bits, 3), "built-in")
    val got = Seq("member1", "definitely absent zz").toDF("t")
      .selectExpr("graft_bloom_probe_test(t) AS hit").as[Boolean].collect()
    assert(got(0) && !got(1))
  }

  test("bloom probe filters a structured stream in the scan stage") {
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomstream").toString
    Seq((1L, "keep me"), (2L, "drop me please")).toDF("doc_id", "text")
      .write.parquet(s"$dir/in")
    val bits = BloomKernel.build(
      Array(Fnv1a64Helper.hash(UTF8String.fromString("keep me"))), 1 << 10, 3)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_probe_stream",
      exprs => BloomContains(exprs.head, bits, 3), "built-in")
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(s"$dir/in")
      .filter(expr("graft_bloom_probe_stream(text)"))
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("bloom_stream").select("doc_id").as[Long].collect().toSeq
      === Seq(1L)) // stateless scan filter — streaming needs no extra support
  }

  test("winnow: shared substring >= w+k-1 chars guarantees a shared fingerprint") {
    GraftFunctions.register(spark)
    val shared = "the quick brown fox jumps over the lazy dog today" // 49 chars
    val df = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"completely different head $shared and tail"),
      (3L, "zzzz qqqq xxxx wwww vvvv uuuu tttt ssss rrrr nnnn mmmm kkkk"))
      .toDF("doc_id", "text")
    val fps = df.selectExpr("doc_id", "graft_winnow(text, 8, 16) AS fps")
      .as[(Long, Seq[Long])].collect().toMap
    assert((fps(1L).toSet & fps(2L).toSet).nonEmpty)  // shared 49 >= 16+8-1
    assert((fps(1L).toSet & fps(3L).toSet).isEmpty)   // nothing in common
  }

  test("winnow: deterministic, sorted-distinct, empty below k chars") {
    GraftFunctions.register(spark)
    val df = Seq((1L, "abcdefgh-abcdefgh"), (2L, "abcdefgh-abcdefgh"), (3L, "ab"))
      .toDF("doc_id", "text")
    val fps = df.selectExpr("doc_id", "graft_winnow(text, 8, 4) AS fps")
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) === fps(1L).distinct.sorted)
    assert(fps(3L).isEmpty)
  }

  test("property: equals a straight fold over UTF-8 bytes") {
    GraftFunctions.register(spark)
    val samples = Seq("", "x", "hello world", "ünïcödé ₦", "a" * 1000)
    val df = samples.toDF("t")
    val got = df.selectExpr("graft_fnv64(t)").as[Long].collect()
    val want = samples.map(s => Fnv1a64Helper.hashBytes(s.getBytes("UTF-8")))
    assert(got.toSeq === want)
  }
}

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per normalized text") {
    val got = Dedup.exact(docs(
        (5L, "Hello World"), (2L, "hello world  "), (9L, "other")))
      .as[(Long, Long)].collect().toMap
    // trim-lower normalization: doc 5 "Hello World" != doc 2 "hello world  "?
    // lower(trim("Hello World")) == lower(trim("hello world  ")) == "hello world"
    assert(got === Map(2L -> 2L, 9L -> 1L))
  }

  test("ngram jaccard: identical docs -> 1.0, overlapping -> between, disjoint absent") {
    val a = "w1 w2 w3 w4 w5"
    val b = "w1 w2 w3 w4 w6" // 3-shingles: {123,234,345} vs {123,234,346}: j = 2/4
    val got = Dedup.ngramJaccardPairs(
        docs((1L, a), (2L, a), (3L, b), (4L, "z1 z2 z3 z4 z5")), 0.4, 100L)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) === 1.0)
    assert(got((1L, 3L)) === 0.5)
    assert(!got.contains((1L, 4L)))
  }

  test("dup clusters: transitive closure over multi-hop chains, min-label keeper") {
    val pairs = Seq((5L, 9L), (9L, 2L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    // chain 5-9-2 collapses to cluster 2 (min label); 7-8 to cluster 7
    assert(got === Map(5L -> 2L, 9L -> 2L, 2L -> 2L, 7L -> 7L, 8L -> 7L))
  }

  test("cluster loops use RELIABLE checkpoints when a checkpoint dir is set") {
    // the 1000-executor posture: localCheckpoint blocks are
    // unrecomputable, so production configures a DFS checkpoint dir and
    // truncateLineage switches to reliable checkpoint() — same results.
    // (The dir stays set for the rest of this JVM's tests: semantics are
    // identical on both paths, only the write target differs.)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((5L, 9L), (9L, 2L), (7L, 8L)).toDF("doc_a", "doc_b")
    val want = Map(5L -> 2L, 9L -> 2L, 2L -> 2L, 7L -> 7L, 8L -> 7L)
    assert(Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap === want)
    assert(Dedup.dupClustersStar(pairs).as[(Long, Long)].collect().toMap === want)
    // the reliable path really wrote checkpoint data
    assert(new java.io.File(dir).listFiles.nonEmpty)
  }

  test("star-contraction clusters == min-label clusters: chains, cliques, random graphs") {
    // the pathological pointer-jumping case: path 2-9-1 (a naive
    // min-parent doubling leaves 2 self-rooted)
    val path = Seq((2L, 9L), (9L, 1L)).toDF("doc_a", "doc_b")
    assert(Dedup.dupClustersStar(path).as[(Long, Long)].collect().toMap ===
      Map(2L -> 1L, 9L -> 1L, 1L -> 1L))
    // long chain (diameter 63): min-label needs 64+ rounds, star O(log d)
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val starChain = Dedup.dupClustersStar(chain).as[(Long, Long)].collect()
    assert(starChain.length === 64 && starChain.forall(_._2 == 0L))
    // random graphs: equality with the default operator, node for node
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val nNodes = 40 + rnd.nextInt(40)
      val ids = rnd.shuffle((0 until 200).map(_.toLong * 3 + 1)).take(nNodes)
      val pairs = (1 to nNodes).map { _ =>
        (ids(rnd.nextInt(nNodes)), ids(rnd.nextInt(nNodes)))
      }.filter(p => p._1 != p._2)
      val df = pairs.toDF("doc_a", "doc_b")
      val star = Dedup.dupClustersStar(df).as[(Long, Long)].collect().toMap
      val label = Dedup.dupClusters(df, maxRounds = 30)
        .as[(Long, Long)].collect().toMap
      assert(star === label, s"trial $trial: star != min-label")
    }
  }

  test("incremental cluster fold == full dupClusters: merges, fresh nodes, untouched clusters") {
    // corpus clusters {2,5,9} (rep 2) and {7,8} (rep 7); batch doc 3
    // bridges into {2,5,9} (merged rep becomes 2... and a fresh edge also
    // joins previously-singleton corpus doc 30), batch docs 40,41 form a
    // brand-new cluster, and {7,8} is untouched
    val corpusPairs = Seq((5L, 9L), (9L, 2L), (7L, 8L)).toDF("doc_a", "doc_b")
    val newPairs = Seq((3L, 5L), (3L, 30L), (40L, 41L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClustersIncremental(
        Dedup.dupClusters(corpusPairs), newPairs)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.dupClusters(corpusPairs.union(newPairs))
      .as[(Long, Long)].collect().toMap
    assert(got === full)
    assert(got(30L) === 2L && got(40L) === 40L && got(7L) === 7L)
    // a batch id SMALLER than the standing rep relabels the whole cluster
    val demote = Seq((1L, 9L)).toDF("doc_a", "doc_b")
    val got2 = Dedup.dupClustersIncremental(
        Dedup.dupClusters(corpusPairs), demote)
      .as[(Long, Long)].collect().toMap
    assert(got2 === Dedup.dupClusters(corpusPairs.union(demote))
      .as[(Long, Long)].collect().toMap)
    assert(got2(5L) === 1L && got2(2L) === 1L)
    // random graphs: arbitrary corpus/batch split, node-for-node equality
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val nNodes = 30 + rnd.nextInt(30)
      val ids = rnd.shuffle((0 until 150).map(_.toLong * 2 + 1)).take(nNodes)
      val pairs = (1 to nNodes * 2).map { _ =>
        (ids(rnd.nextInt(nNodes)), ids(rnd.nextInt(nNodes)))
      }.filter(p => p._1 != p._2)
      val (cp, np) = pairs.partition(p => p._1 % 3 != 0 && p._2 % 3 != 0)
      if (cp.nonEmpty && np.nonEmpty) {
        val inc = Dedup.dupClustersIncremental(
            Dedup.dupClusters(cp.toDF("doc_a", "doc_b"), maxRounds = 30),
            np.toDF("doc_a", "doc_b"), maxRounds = 30)
          .as[(Long, Long)].collect().toMap
        val full2 = Dedup.dupClusters(
            pairs.toDF("doc_a", "doc_b"), maxRounds = 30)
          .as[(Long, Long)].collect().toMap
        assert(inc === full2, s"trial $trial: incremental != full")
      }
    }
  }

  test("keep-best manifest: longest cluster member survives, singletons keep themselves") {
    // docs 1/2/3 near-dup (3-shingle jaccard 1.0 on the shared prefix);
    // doc 2 is the longest -> it is the keeper, NOT min-id 1
    val a = "w1 w2 w3 w4 w5"
    val got = Dedup.dedupManifestKeepBest(
        docs((1L, a), (2L, a + " tail"), (3L, a), (9L, "z1 z2 z3 z4")),
        threshold = 0.5, maxDocId = 100L)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((1L, 2L, false)))
    assert(got(2L) === ((1L, 2L, true)))  // longest wins over min-id
    assert(got(3L) === ((1L, 2L, false)))
    assert(got(9L) === ((9L, 9L, true)))  // singleton keeps itself
  }

  test("winnow containment: a long quote inside a much larger doc is caught") {
    GraftFunctions.register(spark)
    val quote = (1 to 20).map(i => s"quoted$i").mkString(" ") // ~160 chars
    val host = (1 to 200).map(i => s"host$i").mkString(" ") + " " + quote
    val other = (1 to 220).map(i => s"east$i").mkString(" ")
    val pairs = MinHashLSH.winnowContainmentPairs(
        docs((1L, quote), (2L, host), (3L, other)), minShared = 3, k = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L))) // quote ⊂ host; `other` unrelated
  }

  test("winnow containment df-cap: hot boilerplate fingerprints pruned, organic pairs survive") {
    GraftFunctions.register(spark)
    // every doc shares one hot boilerplate block (df = 6 > maxDf); only
    // docs 1 and 2 also share organic content
    val boiler = (1 to 30).map(i => s"legal$i").mkString(" ")
    val shared = (1 to 30).map(i => s"quoted$i").mkString(" ")
    val corpus = docs(
      (1L, s"$boiler $shared"), (2L, s"${(1 to 50).map(i => s"a$i").mkString(" ")} $boiler $shared"),
      (3L, s"$boiler ${(1 to 50).map(i => s"b$i").mkString(" ")}"),
      (4L, s"$boiler ${(1 to 50).map(i => s"c$i").mkString(" ")}"),
      (5L, s"$boiler ${(1 to 50).map(i => s"d$i").mkString(" ")}"),
      (6L, s"$boiler ${(1 to 50).map(i => s"e$i").mkString(" ")}"))
    val uncapped = MinHashLSH.winnowContainmentPairs(corpus, minShared = 3, k = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val capped = MinHashLSH.winnowContainmentPairs(corpus, minShared = 3, k = 8,
        maxDf = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped))          // cap only removes pairs
    assert(capped.contains((1L, 2L)), capped)  // organic overlap survives
    // boilerplate-only pairs are gone (e.g. 3-4 share only the hot block)
    assert(!capped.contains((3L, 4L)), capped)
    assert(uncapped.contains((3L, 4L)), uncapped)
    // and maxDf = infinity is bit-identical to the default (oracle form)
    val inf = MinHashLSH.winnowContainmentPairs(corpus, minShared = 3, k = 8,
        maxDf = Long.MaxValue)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(inf === uncapped)
  }

  test("verified containment == exhaustive substring check (quote-in-host)") {
    GraftFunctions.register(spark)
    val quote = (1 to 20).map(i => s"quoted$i").mkString(" ")
    val host = (1 to 200).map(i => s"host$i").mkString(" ") + " " + quote
    val similarNotContained = (1 to 19).map(i => s"quoted$i").mkString(" ") + " tail"
    val d = docs((1L, quote), (2L, host), (3L, similarNotContained))
    val got = MinHashLSH.verifiedContainmentPairs(d, minShared = 3)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L))) // 1⊂2 kept; 3 shares fps but fails verify
  }

  test("minhash: identical docs collide in every band with est 1.0") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val got = MinHashLSH.candidatePairs(
        docs((1L, text), (2L, text), (3L, (40 to 80).map(i => s"v$i").mkString(" "))), 0.9)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("verifiedPairs (banding + exact verify) == exhaustive exact Jaccard") {
    val near = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearB = ((1 to 38).map(i => s"w$i") :+ "x1" :+ "x2").mkString(" ")
    val far = (100 to 140).map(i => s"u$i").mkString(" ")
    val d = docs((1L, near), (2L, near), (3L, nearB), (4L, far))
    val v = MinHashLSH.verifiedPairs(d, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val e = Dedup.ngramJaccardPairs(d, 0.5, 100L)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(v === e)
    assert(v.map(p => (p._1, p._2)).contains((1L, 2L)))
  }

  test("incremental batch-vs-index dedup == one-shot verifiedPairs restricted to batch") {
    val d = Tables.documents(spark, sf0001).filter(col("doc_id") < 400)
    val corpus = d.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val batch = d.filter(pmod(col("doc_id"), lit(10)) === 7)
    val inc = MinHashLSH.incrementalVerifiedPairs(
        MinHashLSH.signatureIndex(corpus), corpus, batch, 0.8)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val full = MinHashLSH.verifiedPairs(d, 0.8)
      .filter(col("doc_a") % 10 === 7 || col("doc_b") % 10 === 7)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(inc === full)
    assert(inc.nonEmpty) // the sf0.001 corpus plants dups across the split
  }

  test("ivf assign kernel: NaN sims order like max_by (first NaN wins, no crash)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    // 3 unit-ish centroids on the x/y/z axes, d=3
    val flat = Array(1.0, 0, 0, 0, 1.0, 0, 0, 0, 1.0)
    val cnorms = Array(1.0, 1.0, 1.0)
    val cids = Array(10L, 20L, 30L)
    def assign(v: Array[Double], norm: Double): Long =
      graft.functions.IvfKernel.assign(flat, cnorms, cids, 3,
        ArrayData.toArrayData(v), norm)
    // normal case: nearest axis wins
    assert(assign(Array(0.9, 0.1, 0.0), 0.906) === 10L)
    // zero-norm vector: every sim is NaN; max_by orders NaN greatest with
    // smallest-c_id tiebreak -> first cell, and it must NOT crash
    assert(assign(Array(0.0, 0.0, 0.0), 0.0) === 10L)
    // one NaN-producing centroid (zero cnorm): NaN beats every finite sim
    val cn0 = Array(1.0, 0.0, 1.0)
    assert(graft.functions.IvfKernel.assign(flat, cn0, cids, 3,
      ArrayData.toArrayData(Array(0.0, 1.0, 0.0)), 1.0) === 20L)
    // ragged input fails loud
    intercept[IllegalArgumentException] {
      assign(Array(1.0, 2.0), 1.0)
    }
  }

  test("per-row (zero-shuffle) signatures == 64-min-agg signatures, whole corpus") {
    val docs = Tables.documents(spark, sf0001)
    val a = MinHashLSH.signatures(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = MinHashLSH.signaturesPerRow(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a === b)
    assert(a.nonEmpty)
    // and the per-row plan really is shuffle-free
    val plan = MinHashLSH.signaturesPerRow(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("simhash: identical docs at hamming 0; unrelated docs far apart") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"u$i").mkString(" ")
    val sh = MinHashLSH.simhash(docs((1L, text), (2L, text), (3L, other)))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) > 10)
    val pairs = MinHashLSH.simhashPairs(docs((1L, text), (2L, text)), 0)
      .as[(Long, Long, Int)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("verified simhash == exhaustive exact pairs; hamming precondition holds") {
    import org.apache.spark.sql.functions.{col, expr, max => smax}
    val bounded = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < SparkEntry.JaccardMaxDocId)
    val exact = Dedup.ngramJaccardPairs(Tables.documents(spark, sf0001),
      SparkEntry.MinhashVerifyThreshold, SparkEntry.JaccardMaxDocId)
    // precondition for the oracle equality: every exact pair at the
    // threshold sits within the 16-chunk guaranteed hamming radius (15);
    // corpus drift breaks THIS assertion, not the silent equality
    val sh = MinHashLSH.simhash(bounded)
    val worst = exact
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b")), "doc_b")
      .agg(smax(expr("bit_count(sh_a ^ sh_b)"))).as[Int].head()
    assert(worst <= 15, s"exact pair beyond hamming radius: $worst")

    // same explicit wide-radius geometry as the registered query (the
    // library default stays at the open-world-selective 8x8)
    val v = MinHashLSH.verifiedSimhashPairs(bounded,
        SparkEntry.MinhashVerifyThreshold, nChunks = 16, maxHamming = 15)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val e = exact.select("doc_a", "doc_b", "n_inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(v === e)
    assert(e.nonEmpty)
  }

  test("embedding near-dup finds the planted duplicate vector") {
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val w = Array.tabulate(8)(i => -(i + 1).toFloat)
    val df = Seq((1L, v), (2L, v.map(x => x * 2f)), (3L, w))
      .toDF("vec_id", "embedding")
    val got = Oracles.embeddingNearDupPairs(df, 0.99, 100L)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 2L))) // colinear -> cos 1; opposite -> -1
  }

  test("semantic dedup: colinear vectors share a bucket, min id keeps") {
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val df = Seq((7L, v), (3L, v.map(x => x * 2f)),
        (9L, Array.tabulate(8)(i => -(i + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(df, nBits = 8)
      .select("vec_id", "keeper_id", "n_members", "is_kept")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    // colinear vectors (7, 3) agree on EVERY hyperplane sign -> same
    // bucket; the opposite vector flips every sign -> its own bucket
    assert(got === Set((3L, 3L, 2L, true), (7L, 3L, 2L, false),
      (9L, 9L, 1L, true)))
    // partition invariant: members sum to the corpus, one keeper each
    val m = Dedup.semanticDedup(Tables.embeddings(spark, sf0001), nBits = 8)
    val n = Tables.embeddings(spark, sf0001).count()
    assert(m.count() === n)
    assert(m.filter($"is_kept").count() ===
      m.select("bucket").distinct().count())
  }

  test("banded near-dup == exact all-pairs on the test corpus; no cross product") {
    val emb = Tables.embeddings(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 500)
    val banded = Dedup.embeddingNearDupPairsBanded(emb, 0.45)
    val exact = Oracles.embeddingNearDupPairs(emb, 0.45, 500L)
    val b = banded.as[(Long, Long, Double)].collect().toSet
    val e = exact.as[(Long, Long, Double)].collect().toSet
    assert(b === e) // candidate stage lost no true pair; verify stage exact
    assert(e.nonEmpty)
    val plan = banded.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }
}

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("brute force top-k ranks by cosine with deterministic tiebreak") {
    val q = Array(1f, 0f)
    val df = Seq(
      (0L, q),                      // the query itself (excluded)
      (10L, Array(2f, 0f)),         // cos 1.0
      (11L, Array(1f, 1f)),         // cos ~0.707
      (12L, Array(0f, 1f)),         // cos 0
      (13L, Array(-1f, 0f)))        // cos -1
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, numQueries = 1, k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(got.toSeq === Seq(10L, 11L, 12L))
  }

  test("hard negatives: every mined row crosses labels, and is the label-filtered brute-force prefix") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Similarity.hardNegatives(emb, 10, 5)
      .select("q_id", "q_label", "neighbor_id", "neg_label", "rank").collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getAs[Int]("q_label") != r.getAs[Int]("neg_label"),
      s"same-label pair mined: $r"))
    // model: rank the full brute-force similarity list per query, drop
    // same-label rows, take the first k — hardNegatives must equal it
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val expected = Similarity.bruteForceTopK(emb, 10, Int.MaxValue - 1)
      .select("q_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(_._3).map(_._2)
          .filter(n => labels(n) != labels(q)).take(5).map(q -> _)
      }.toSet
    val gotSet = got.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(gotSet === expected)
  }

  test("int8 quantization: codes bounded, error within one quantization step") {
    val got = Similarity.quantizeInt8(Tables.embeddings(spark, sf0001)).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val vmin = r.getAs[Double]("vmin"); val vmax = r.getAs[Double]("vmax")
      val step = math.max((vmax - vmin) / 256.0, 1e-12)
      assert(r.getAs[Long]("q_max") <= 255L)
      assert(r.getAs[Double]("max_abs_err") <= step * 0.5 + 1e-9,
        s"err ${r.getAs[Double]("max_abs_err")} vs step $step")
    }
  }

  test("multi-probe LSH returns real neighbors (recall@5 >= 0.3 vs brute force)") {
    val emb = Tables.embeddings(spark, sf0001)
    val bf = Similarity.bruteForceTopK(emb, 10, 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, 10, 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.3, s"recall $recall")
    // pruning is real: candidates came from shared buckets, not a full scan
    assert(lsh.size <= bf.size)
  }

  test("plane-literal LSH buckets == inline xxhash64 buckets, every vector") {
    import org.apache.spark.sql.functions.col
    val all = Similarity.withNorm(Tables.embeddings(spark, sf0001))
    for (nBits <- Seq(4, 8, 32)) {
      val planes = Similarity.lshPlanes(spark, nBits,
        Similarity.embeddingDims(Tables.embeddings(spark, sf0001)))
      val diff = all
        .withColumn("b1", Oracles.lshBucket("v", nBits))
        .withColumn("b2", Similarity.lshBucketFromPlanes("v", planes))
        .filter(col("b1") =!= col("b2")).count()
      assert(diff === 0, s"nBits=$nBits")
    }
  }

  test("IVF recall@5 vs brute force >= 0.85 on sf0.001 embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
    val bf = Similarity.bruteForceTopK(emb, 10, 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, 10, 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(s"IVF recall@5 = $recall")
    assert(recall >= 0.85, s"recall $recall")
  }

  test("IVF recall@5 >= 0.7 holds at the 4x corpus (sf0.1) too") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val bf = Similarity.bruteForceTopK(emb, 10, 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, 10, 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(s"IVF recall@5 at sf0.1 = $recall")
    assert(recall >= 0.7, s"recall $recall")
  }

  test("IVF distributed refinement recovers recall above the training-sample cap") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val all = Similarity.withNorm(emb)
    // deliberately exceed the driver budget: cap the sample at 128 of the
    // 2000 vectors — auto-derivation then trains the coarse quantizer on a
    // ~3% hash-sample, the regime where sample-only cells get rough
    val coarse = Similarity.kmeansCentroids(all, stride = 3, iters = 2,
      maxTrainSamples = 128)
    val refined = Similarity.refineCentroids(all, coarse, passes = 2)

    val bf = Similarity.bruteForceTopK(emb, 10, 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(centroids: org.apache.spark.sql.DataFrame): Double = {
      val ivf = Similarity.ivfSearch(all, centroids, 10, 5, nprobe = 5)
        .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (bf & ivf).size.toDouble / bf.size
    }
    val sampleOnly = recallOf(coarse)
    val withRefine = recallOf(refined)
    info(s"recall@5: sample-only=$sampleOnly refined=$withRefine")
    // refinement re-fits cells over the FULL corpus: recall must not
    // regress vs the capped sample-only model (± one neighbor of 50 for
    // the float-order wobble of the distributed partial sums)
    assert(withRefine >= sampleOnly - 0.02,
      s"sample-only $sampleOnly, refined $withRefine")
    assert(withRefine >= 0.6, s"refined recall $withRefine")
  }
}

class TextAnalysisSpec extends SparkSpecBase {
  import spark.implicits._

  test("language ID picks the profile with the highest stopword ratio") {
    val df = Seq(
      (1L, "the cat and the dog of a house is to be"),
      (2L, "le chat et la maison de un chien les arbres")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got(1L) === "en")
    assert(got(2L) === "fr")
  }

  test("token counts: whitespace, regex subwords, bpe estimate") {
    val df = Seq((1L, "ab cd, ef 12")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenCounts(df).head()
    assert(got.getAs[Long]("ws_tokens") === 4L)       // ab | cd, | ef | 12
    assert(got.getAs[Long]("subword_tokens") === 5L)  // ab, cd, ",", ef, 12
    assert(got.getAs[Long]("est_bpe_tokens") === 3L)  // ceil(12/4)
  }

  test("quality score is bounded [0,1] on the corpus") {
    val q = TextAnalysis.quality(Tables.documents(spark, sf0001))
    val mm = q.agg(min("quality_score"), max("quality_score")).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }
}

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("frame sampling: full tiling, last partial frame, pad-resize") {
    val df = Seq((1L, "a" * 130)).toDF("doc_id", "text") // 64 + 64 + 2
    val got = Multimodal.sampleFrames(df).orderBy("frame_idx").collect()
    assert(got.length === 3)
    assert(got.map(_.getAs[Long]("frame_len")).toSeq === Seq(64L, 64L, 2L))
    assert(got(2).getAs[String]("frame_resized") === "aa" + "." * 62)
    // frames reassemble to the original payload
    assert(got.map(_.getAs[String]("frame")).mkString === "a" * 130)
  }

  test("stub decode: byte stats + metadata survive the mapPartitions seam") {
    val media = Seq((3L, "abc".getBytes("UTF-8"), 64 + 3, 64 + 21, "fake-rgb"))
      .toDF("doc_id", "payload", "width", "height", "format")
    val got = Multimodal.decodeMedia(spark, media).head()
    assert(got.getAs[Long]("byte_len") === 3L)
    assert(got.getAs[Long]("checksum") === (97 + 98 + 99) % 256)
    assert(got.getAs[Double]("avg_byte") === 98.0)
    assert(got.getAs[Int]("width") === 64 + 3)
    assert(got.getAs[Int]("height") === 64 + 21)
    assert(got.getAs[String]("format") === "fake-rgb")
  }

  test("binary fixture: non-ASCII bytes decode + frame-tile byte-exactly") {
    val media = Tables.media(spark)
    val rows = media.select("doc_id", "payload", "width", "height", "format")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3), r.getString(4))))
      .toMap
    // fixture invariants: 256 rows, an empty payload, non-ASCII bytes
    assert(rows.size === 256)
    assert(rows(0L)._1.length === 0)
    assert(rows.values.exists(_._1.exists(b => (b & 0xff) > 127)),
      "fixture must contain non-ASCII bytes")

    // stub decode over real bytes == the JVM byte model, row for row
    val feats = Multimodal.decodeMedia(spark, media)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getInt(3), r.getString(4),
          r.getDouble(5), r.getLong(6)))).toMap
    rows.foreach { case (id, (p, w, h, f)) =>
      val sum = p.map(_ & 0xff).map(_.toLong).sum
      val n = math.max(p.length, 1)
      assert(feats(id) === ((p.length.toLong, w, h, f,
        math.floor(sum.toDouble / n * 10000.0) / 10000.0, sum % 256)), s"doc $id")
    }

    // byte-stride frames reassemble to the exact original payload and the
    // resize pad is 0x2E bytes (never a text decode anywhere)
    val frames = Multimodal.sampleFrameBytes(media)
      .collect().groupBy(_.getLong(0))
    rows.foreach { case (id, (p, _, _, _)) =>
      val fs = frames.getOrElse(id, Array.empty).sortBy(_.getLong(1))
      if (p.isEmpty) assert(fs.isEmpty, s"doc $id: empty payload frames")
      else {
        assert(fs.flatMap(_.getAs[Array[Byte]]("frame")).toSeq === p.toSeq,
          s"doc $id: frames != payload bytes")
        fs.foreach { r =>
          val rz = r.getAs[Array[Byte]]("frame_resized")
          assert(rz.length === 64)
          assert(rz.drop(r.getLong(3).toInt).forall(_ === 0x2e.toByte))
        }
      }
    }
  }

  test("near-dup: shared-frame pair found with exact jaccard; stranger excluded") {
    // docs 1/2 tile into 3 frames each and share the first two (the third
    // differs), so frame-set jaccard = 2/4 = 0.5; doc 3 shares nothing
    val a64 = "a" * 64; val b64 = "b" * 64
    val df = Seq(
      (1L, a64 + b64 + "c" * 64),
      (2L, a64 + b64 + "d" * 64),
      (3L, "z" * 192)).toDF("doc_id", "text")
    val got = Multimodal.nearDupPairs(df, 0.5)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 2L, 2L, 0.5)))
  }

  test("multimodal near-dup == exhaustive frame-jaccard; hamming precondition holds") {
    import org.apache.spark.sql.functions.{col, expr, max => smax}
    // the radius precondition is asserted at BOTH gated SFs: few-frame
    // docs make majority-vote signatures noisy (observed pair hamming up
    // to 20), which is exactly why the registered geometry is 32x2-bit
    // chunks / radius 27 — corpus drift past the radius breaks THIS
    // assertion, not the silent oracle equality
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val bounded = Tables.documents(spark, dir)
        .filter(col("doc_id") < SparkEntry.JaccardMaxDocId)
      val exact = Oracles.exhaustiveNearDupPairs(bounded,
        SparkEntry.MultimodalDupThreshold)
      val sig = Multimodal.frameSignatures(Multimodal.framePostings(bounded))
      val worst = exact
        .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b")), "doc_b")
        .agg(smax(expr("cast(bit_count(sh_a ^ sh_b) as int)"))).as[Int].head()
      assert(worst <= 27, s"$dir: exact pair beyond hamming radius: $worst")

      val v = Multimodal.nearDupPairs(bounded, SparkEntry.MultimodalDupThreshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet
      val e = exact.select("doc_a", "doc_b", "n_inter", "jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(v === e, s"$dir: verified != exhaustive")
      assert(e.nonEmpty, s"$dir: zero-row evidence")
    }
  }

  test("near-dup manifest: most-frames member keeps; strangers self-keep") {
    // doc 2 shares its first 3 frames with doc 1 but has one MORE frame
    // (jaccard 3/4 = 0.75): the longer media must win the election even
    // though doc 1 has the lower id; doc 3 is untouched and self-keeps
    val a = "a" * 64; val b = "b" * 64; val c = "c" * 64; val d = "d" * 64
    val df = Seq(
      (1L, a + b + c),
      (2L, a + b + c + d),
      (3L, "z" * 64)).toDF("doc_id", "text")
    val got = Multimodal.nearDupManifest(df, 0.5)
      .select("doc_id", "cluster_id", "keep_doc_id", "is_kept")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got === Set(
      (1L, 1L, 2L, false),
      (2L, 1L, 2L, true),
      (3L, 3L, 3L, true)))
  }

  test("near-dup manifest on the corpus: keepers maximize frames, clusters match pairs") {
    import org.apache.spark.sql.functions.col
    val bounded = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < SparkEntry.JaccardMaxDocId)
    val man = Multimodal.nearDupManifest(bounded, SparkEntry.MultimodalDupThreshold)
      .as[(Long, Long, Long, Boolean)].collect()
    val pairs = Multimodal.nearDupPairs(bounded, SparkEntry.MultimodalDupThreshold)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    // every pair-touched doc shares its cluster with its partner
    val cl = man.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (x, y) => assert(cl(x) === cl(y), s"pair ($x,$y) split") }
    // untouched docs are singleton self-keepers
    man.filterNot(r => paired(r._1)).foreach { r =>
      assert(r._2 === r._1 && r._3 === r._1 && r._4, s"stranger ${r._1} not self-kept")
    }
    // exactly one keeper per cluster, and it has the max frame count
    val nFrames = Multimodal.framePostings(bounded)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    man.groupBy(_._2).foreach { case (cid, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.size === 1, s"cluster $cid has ${keepers.size} keepers")
      val maxF = members.map(m => nFrames.getOrElse(m._1, 0L)).max
      assert(nFrames.getOrElse(keepers.head._1, 0L) === maxF,
        s"cluster $cid keeper is not a most-frames member")
    }
    assert(paired.nonEmpty)
  }

  test("near-dup candidates are a bucketed equi-join, never all-pairs") {
    val plan = Multimodal.nearDupPairs(
        Tables.documents(spark, sf0001)
          .filter(col("doc_id") < SparkEntry.JaccardMaxDocId),
        SparkEntry.MultimodalDupThreshold)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }
}

class QuantizedSearchSpec extends SparkSpecBase {
  import spark.implicits._

  test("search on int8 codes reranks to recall 1.0 vs brute force at 2x") {
    val emb = Tables.embeddings(spark, sf0001)
    val bf = Similarity.bruteForceTopK(emb, 10, 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val qz = Similarity.quantizedTopK(emb, 10, 5, rerankFactor = 2)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(qz === bf) // quantization error << neighbor gaps on this corpus
  }
}
