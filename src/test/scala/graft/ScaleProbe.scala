package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: probe operator scaling beyond the test corpus by generating
  * a deterministic N-row synthetic event stream in-memory (no disk, no
  * testdata mutation) and timing the core keyed operators on it — plus a
  * hot-key skew trial comparing plain vs salted aggregation.
  *
  * Run: `sbt "Test/runMain graft.ScaleProbe 10000000"`
  */
object ScaleProbe {

  def synthEvents(spark: org.apache.spark.sql.SparkSession, n: Long,
      users: Long): DataFrame =
    Tables.deriveEventTime(spark.range(n)
      .select(
        col("id").as("event_id"),
        // ~30 days of event time, deterministic pseudo-random spacing
        (lit(1700000000000000000L) +
          pmod(xxhash64(col("id")), lit(2592000L)) * 1000000000L).as("ts_ns"),
        pmod(xxhash64(col("id"), lit(1)), lit(users)).as("user_id"),
        element_at(array(lit("purchase"), lit("click"), lit("error"),
          lit("signup"), lit("view")),
          (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("id"), lit(3)), lit(32767)) / 100.0).as("value"),
        lit("""{"k": 1}""").as("props")))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = GraftSession.create(appName = "graft-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    // GRAFT_PROBE_ONLY=<substring> runs just the matching timed probes
    // (dev iteration — e.g. GRAFT_PROBE_ONLY=skew_join for the skew trial)
    val only = sys.env.get("GRAFT_PROBE_ONLY")

    def time(name: String)(df: => DataFrame): Unit = {
      if (!only.forall(name.contains)) return
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE $name rows=$n min_sec=${runs.min}%.2f")
    }

    val parsed = cdc.EnvelopeOps.upsertsOnly(
      cdc.EnvelopeOps.parsedTransactions(synthEvents(spark, n, users = 10000)))

    time("envelope_parse")(parsed)
    time("gap_fill_daily")(ops.EventAnalytics.gapFillDailySpend(
      parsed.filter(ops.Predicates.isCompleted(col("status")) &&
        ops.Predicates.isDebit(col("txn_type")))))
    time("spend_anomaly")(ops.EventAnalytics.spendAnomaly(
      parsed.filter(ops.Predicates.isCompleted(col("status")) &&
        ops.Predicates.isDebit(col("txn_type")))))
    time("pattern3_batch")(ops.EventAnalytics.threeStepPattern(
      synthEvents(spark, n, users = 10000), withinSec = 3600L))
    time("pattern4_batch")(ops.EventAnalytics.kStepPattern(
      synthEvents(spark, n, users = 10000),
      Seq("signup", "click", "view", "purchase"), withinSec = 3600L))

    // RFM at an n-account DIMENSION, three cut strategies: (a) the r9
    // shipped shape — exact range-narrowing selection, cuts as plan
    // literals (no sort anywhere); (b) distinct-value-histogram cuts with
    // a metric-partitioned cumsum window (the winsorize trick — degrades
    // when a metric is all-distinct: the histogram IS the dimension);
    // (c) the pre-r9 three global cume_dist windows (single-reducer ×3).
    // monetary is ~all-distinct here by construction — the hard regime.
    val accounts = spark.range(n).select(
      col("id").as("account_id"),
      pmod(xxhash64(col("id")), lit(365)).as("recency_days"),
      (pmod(xxhash64(col("id"), lit(1)), lit(1000)) + 1).as("frequency"),
      pmod(xxhash64(col("id"), lit(2)), lit(100000000L)).as("monetary_kobo"))
    // KMV sketch vs exact distinct at n rows / 20 groups / ~n/2 distinct:
    // the sketch path's shuffle is groups x k x partitions LONGS (the
    // whole point), exact distinct shuffles every distinct (group, value)
    // pair. kmv_overlap adds the full 190-pair estimator on top — its
    // cost must be indistinguishable from kmv_agg (pair math runs on
    // sketch-sized rows).
    val kmvIn = spark.range(n).select(
      concat(lit("s"), pmod(xxhash64(col("id"), lit(3)), lit(20)))
        .as("source"),
      xxhash64(pmod(col("id"), lit(n / 2))).as("h"))
    time("kmv_agg")(ops.Sketches.kmvPerGroup(kmvIn, "source", col("h"),
      k = 256))
    time("kmv_overlap")(ops.Sketches.kmvOverlap(kmvIn, "source", col("h"),
      k = 256))
    time("distinct_exact")(kmvIn.groupBy("source")
      .agg(countDistinct(col("h")).as("n_distinct")))

    // PageRank at an n-edge bipartite graph (hash-derived endpoints,
    // n/100 × n/1000 nodes), PLUS a planted hub receiving n/1000 extra
    // in-edges from distinct sources — the hot-dst regime: the per-dst
    // rank sum over the hub's in-neighborhood must stay a map-side-
    // combined partial per partition (one long per (partition, dst)
    // crosses the exchange), so the hub costs the same as any other
    // shuffle key. 4 integer passes, each one co-partitioned ranks⋈edges
    // join + per-dst sum; cost must stay linear in edges; the per-round
    // localCheckpoint keeps plans bounded.
    val prEdges = spark.range(n).select(
        concat(lit("u"), pmod(xxhash64(col("id")),
          lit(math.max(n / 100, 10)))).as("src"),
        concat(lit("v"), pmod(xxhash64(col("id"), lit(1)),
          lit(math.max(n / 1000, 10)))).as("dst"))
      .unionAll(spark.range(math.max(n / 1000, 10)).select(
        concat(lit("u"), col("id")).as("src"), lit("vhub").as("dst")))
    time("pagerank_4pass")(graph.PageRank.ranks(prEdges, iters = 4))

    // TrustRank on the same hub-planted graph: identical kernel, teleport
    // mass restricted to a 1k-node seed set — the extra cost over
    // pagerank_4pass must be the seed semi-join only (node-sized), so the
    // two probes bracket the per-pass price of the seeded variant.
    val prSeeds = spark.range(1000).select(
      concat(lit("u"), col("id")).as("node"))
    time("trustrank_4pass")(graph.PageRank.trustRanks(prEdges, prSeeds,
      iters = 4))

    // Triangle counting at n edges over n/10 nodes (avg degree ~20),
    // PLUS a planted hub touching n/1000 nodes — the "curse of the last
    // reducer" input: without degree orientation the hub alone yields
    // ~(n/1000)^2/2 wedges; with it the hub ranks highest, all its edges
    // point inward, and its wedge count is ZERO. Cost must track the
    // orientation-bounded wedge total, not the raw degree square.
    val triNodes = math.max(n / 10, 100)
    val triEdges = spark.range(n).select(
        pmod(xxhash64(col("id")), lit(triNodes)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(triNodes)).as("y"))
      .unionAll(spark.range(math.max(n / 1000, 10)).select(
        lit(-1L).as("x"), col("id").as("y"))) // the hub: node "h-1"
      .filter(col("x") =!= col("y"))
      .select(concat(lit("h"), least(col("x"), col("y"))).as("a"),
        concat(lit("h"), greatest(col("x"), col("y"))).as("b"))
      .distinct()
    time("triangles_oriented")(graph.Triangles.perNode(triEdges))

    // k-core over the same hub-planted graph: 4 fixed peels. Per round
    // one degree agg + two semi-joins over the SURVIVING edges — cost
    // must shrink round over round, never grow with rounds.
    time("kcore_4round")(graph.KCore.survivors(triEdges, k = 25, rounds = 4))

    // Exact prefix-filtered Jaccard join at n shingle postings: synthetic
    // docs of 40 hash-derived "shingles" each, every 50th doc a planted
    // 90%-overlap near-dup of its neighbor. The frequent-shingle postings
    // (drawn from a small hot vocabulary) must never enter the candidate
    // join — only the rare tail does; cost tracks postings, not pairs.
    val pjDocs = spark.range(n / 40).select(col("id").as("doc_id"),
      expr("""concat_ws(' ', transform(sequence(0, 39), i ->
        |  CASE WHEN i < 8 THEN concat('hot', pmod(xxhash64(i), 64))
        |       WHEN id % 50 = 1 AND i < 36
        |         THEN concat('t', xxhash64(id - 1, i))
        |       ELSE concat('t', xxhash64(id, i)) END))""".stripMargin)
        .as("text"))
    time("prefix_jaccard_join")(dedup.PrefixJoin.jaccardJoinOnSets(
      pjDocs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= ""), tPct = 60))

    // BM25 at n/20-doc scale (20 tokens/doc -> n postings) over a
    // Zipf-ish vocabulary (token id = hash mod (hash2 mod V + 1): low
    // ids hot, high ids rare). The cost contract: tf/dl/df are one
    // tokenize + map-side-combined aggs (linear in postings), and the
    // candidate join touches only the CHOSEN rare terms' postings —
    // rarest-first selection keeps the hot head out, so cost tracks
    // postings + Σ df(chosen), never queries × corpus.
    val bmVocab = math.max(n / 100, 1000)
    val bmDocs = spark.range(math.max(n / 20, 1000)).select(
      col("id").as("doc_id"),
      expr(s"""concat_ws(' ', transform(sequence(0, 19), i ->
        |  concat('t', pmod(xxhash64(id, i),
        |    pmod(xxhash64(i, id + 1), $bmVocab) + 1))))""".stripMargin)
        .as("text"))
    time("bm25_topk")(text.Bm25.topKIndexed(text.PostingsIndex.derive(bmDocs),
      queryMod = 997, queryTerms = 16, k = 10, maxDfDen = 4L))

    // Postings-index maintenance (r13): the materialized-index build must
    // be linear in postings (one explode + three folded aggs + the
    // range-partitioned sorted write), and the INDEXED query's cost must
    // track Σ df(chosen rare terms) — together they are the retrieval
    // path's scale contract (the r12 inline probe measured derive-per-
    // query; this measures the production write-once/scan-many shape).
    if (only.forall(o => "postings_index_build".contains(o) ||
        "bm25_topk_indexed".contains(o))) {
      val idxDir = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft-probe-index-$n").toString
      val buildRuns = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        text.PostingsIndex.writeDerived(bmDocs, spark, idxDir)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE postings_index_build rows=$n min_sec=${buildRuns.min}%.2f")
      val idx = text.PostingsIndex.read(spark, idxDir)
      time("bm25_topk_indexed")(text.Bm25.topKIndexed(idx,
        queryMod = 997, queryTerms = 16, k = 10, maxDfDen = 4L))
    }

    // Incremental index maintenance (r14): the delta-append contract is
    // that landing a FIXED-size arrival batch costs the same regardless
    // of how big the standing corpus is (the append scans only the new
    // docs) — compare postings_delta_append across n: it must stay flat
    // while postings_index_build above grows linearly. The merged-read
    // query must stay within a small factor of the single-segment one
    // (its extra cost is one vocabulary-sized agg).
    if (only.forall(o => "postings_delta_append".contains(o) ||
        "bm25_topk_merged".contains(o))) {
      val segRoot = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft-probe-segidx-$n")
      text.PostingsIndex.deleteRecursively(segRoot)
      text.PostingsSegments.init(bmDocs, spark, segRoot.toString)
      // fixed 20k-doc arrival batch, ids disjoint from bmDocs (negative)
      val deltaDocs = spark.range(20000).select(
        (-col("id") - 1).as("doc_id"),
        expr(s"""concat_ws(' ', transform(sequence(0, 19), i ->
          |  concat('t', pmod(xxhash64(-id - 1, i),
          |    pmod(xxhash64(i, id + 7), $bmVocab) + 1))))""".stripMargin)
          .as("text"))
      val deltaRuns = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        text.PostingsSegments.appendDelta(deltaDocs, spark, segRoot.toString)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE postings_delta_append rows=$n " +
        f"min_sec=${deltaRuns.min}%.2f")
      time("bm25_topk_merged")(text.Bm25.topKIndexed(
        text.PostingsSegments.readMerged(spark, segRoot.toString),
        queryMod = 997, queryTerms = 16, k = 10, maxDfDen = 4L))
      text.PostingsIndex.deleteRecursively(segRoot)
    }

    time("rfm_select_cuts")(ops.EventAnalytics.rfmScores(accounts))
    time("rfm_hist_cuts") {
      import org.apache.spark.sql.expressions.Window
      val hist = accounts.select(explode(map(
          lit("r"), -col("recency_days"), lit("f"), col("frequency"),
          lit("m"), col("monetary_kobo"))).as(Seq("metric", "value")))
        .groupBy("metric", "value").agg(count(lit(1)).as("cnt"))
      val cum = Window.partitionBy("metric").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy("metric")
      def cut(m: String, k: Int) = min(when(
        col("metric") === m && col("__cum") * 4 > col("__n") * k,
        col("value")))
      val cuts = hist
        .withColumn("__cum", sum(col("cnt")).over(cum))
        .withColumn("__n", sum(col("cnt")).over(tot))
        .agg(cut("r", 1).as("r1"), cut("r", 2).as("r2"), cut("r", 3).as("r3"),
          cut("f", 1).as("f1"), cut("f", 2).as("f2"), cut("f", 3).as("f3"),
          cut("m", 1).as("m1"), cut("m", 2).as("m2"), cut("m", 3).as("m3"))
      def score(v: org.apache.spark.sql.Column, c: String) =
        (lit(1) + (v >= col(c + "1")).cast("int") +
          (v >= col(c + "2")).cast("int") +
          (v >= col(c + "3")).cast("int")).cast("long")
      accounts.crossJoin(broadcast(cuts))
        .withColumn("r_score", score(-col("recency_days"), "r"))
        .withColumn("f_score", score(col("frequency"), "f"))
        .withColumn("m_score", score(col("monetary_kobo"), "m"))
        .withColumn("segment",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
    }
    time("rfm_global_windows") {
      import org.apache.spark.sql.expressions.Window
      def score(cd: org.apache.spark.sql.Column) =
        (lit(1) + (cd > 0.25).cast("int") + (cd > 0.5).cast("int") +
          (cd > 0.75).cast("int")).cast("long")
      accounts
        .withColumn("r_score", score(cume_dist().over(
          Window.orderBy(col("recency_days").desc))))
        .withColumn("f_score", score(cume_dist().over(
          Window.orderBy(col("frequency")))))
        .withColumn("m_score", score(cume_dist().over(
          Window.orderBy(col("monetary_kobo")))))
        .withColumn("segment",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
    }
    // cumulative running sum over n boundary events: the distributed
    // two-pass prefix scan vs the global ordered-window strawman (one
    // task holds and scans everything)
    val boundaries = spark.range(n).select(
      pmod(xxhash64(col("id")), lit(2592000000L)).as("ts"),
      (pmod(xxhash64(col("id"), lit(9)), lit(2)) * 2 - 1).as("delta"))
    time("prefix_scan")(ops.PrefixScan.runningSum(boundaries, "ts", "delta"))
    time("prefix_scan_global_window") {
      import org.apache.spark.sql.expressions.Window
      boundaries.withColumn("running", sum(col("delta")).over(
        Window.orderBy(col("ts"), col("delta"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }

    time("twab")(ops.EventAnalytics.timeWeightedBalance(
      parsed.filter(ops.Predicates.isCompleted(col("status")))))
    time("latest_by_key")(ops.LatestByKey.latestByMaxBy(parsed,
      Seq("account_id"), struct(col("event_time_us"), col("txn_id"))))
    time("daily_spend")(ops.Windows.dailySpend(
      parsed.filter(ops.Predicates.isCompleted(col("status")) &&
        ops.Predicates.isDebit(col("txn_type"))), 150.0))
    time("velocity_1h")(ops.Windows.velocityCount(parsed, 3600, 2L))
    time("balance_reconcile")(ops.Reconcile.reconcile(
      parsed.filter(ops.Predicates.isCompleted(col("status")))))

    // streaming state throughput: synth events -> parquet -> file stream
    // in 4 micro-batches -> flatMapGroupsWithState reconciliation
    if (only.forall("streaming_reconcile".contains)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_sprobe").toString
      val streamN = math.min(n, 2000000L)
      synthEvents(spark, streamN, users = 10000)
        .select("event_id", "ts_ns", "user_id", "event_type", "value", "props")
        .withColumnRenamed("ts_ns", "ts")
        .repartition(4).write.parquet(s"$dir/in")
      val t0 = System.nanoTime()
      val q = streaming.Pipelines.reconcileAlerts(spark,
          streaming.Pipelines.parsedStreamFromPath(spark, s"$dir/in",
            maxFilesPerTrigger = Some(1)))
        .toDF().writeStream.format("noop").outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE streaming_reconcile rows=$streamN sec=$sec%.2f rate=${streamN / sec}%.0f rows/s")
    }

    // round-2 operators over synthetic inputs at the same row count
    val synthDocs = spark.range(n / 10).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(i =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(i)), lit(5000L)))): _*)
        .as("text"))
    time("seq_pack")(text.TrainingPrep.packSequences(synthDocs, maxTokens = 256))
    time("train_val_split")(text.TrainingPrep.trainValSplit(synthDocs))
    time("heavy_hitters")(ops.Sketches.heavyHitters(parsed, "txn_type",
      "account_id", k = 5))
    // CDC dimension build: synthetic customer table at n/10 keys through
    // the full wire serde + latest-by-key reduction (~2 versions per key)
    val synthCustomers = spark.range(n / 10).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pmod(col("id"), lit(25L)).cast("int").as("c_nationkey"),
      (pmod(xxhash64(col("id")), lit(100000L)) / 100.0).as("c_acctbal"),
      lit("BUILDING").as("c_mktsegment"))
    time("cdc_accounts_dim")(
      cdc.DimensionCdc.Accounts.dim(synthCustomers, cdc.Wire.Json))

    // streaming state at larger key cardinality: the same
    // flatMapGroupsWithState reconciliation with 20x the keys, on the
    // default (heap) provider vs RocksDB (the 100 TB configuration —
    // state spills to local disk instead of the JVM heap)
    for (provider <- Seq("default", "rocksdb")
        if only.forall(s"streaming_reconcile_$provider".contains)) {
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      if (provider == "rocksdb")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val dir = java.nio.file.Files.createTempDirectory("graft_sprobe_st").toString
        val streamN = math.min(n, 2000000L)
        val wideKeys = 200000L
        synthEvents(spark, streamN, users = wideKeys)
          .select("event_id", "ts_ns", "user_id", "event_type", "value", "props")
          .withColumnRenamed("ts_ns", "ts")
          .repartition(4).write.parquet(s"$dir/in")
        val t0 = System.nanoTime()
        val q = streaming.Pipelines.reconcileAlerts(spark,
            streaming.Pipelines.parsedStreamFromPath(spark, s"$dir/in",
              maxFilesPerTrigger = Some(1)))
          .toDF().writeStream.format("noop").outputMode("append").start()
        q.processAllAvailable(); q.stop()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"PROBE streaming_reconcile_${provider} rows=$streamN keys=$wideKeys sec=$sec%.2f rate=${streamN / sec}%.0f rows/s")
      } finally {
        prev match {
          case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }

    // round-3 operators: bloom-prefiltered decontamination over n/10
    // train docs vs the %50 benchmark slice (driver folds ~n/500 doc's
    // grams into the bitset; the train side probes in the scan stage),
    // and the scan-only hash mixture resampler
    time("decontaminate_exact")(text.TrainingPrep.decontaminate(
      synthDocs.filter(col("doc_id") % 50 =!= 0),
      synthDocs.filter(col("doc_id") % 50 === 0)))
    time("bloom_decontaminate")(text.TrainingPrep.bloomDecontaminate(
      synthDocs.filter(col("doc_id") % 50 =!= 0),
      synthDocs.filter(col("doc_id") % 50 === 0)))
    time("mixture_sample")(text.TrainingPrep.mixtureSample(synthDocs,
      Map("en" -> (1, 2))))

    // per-group top-k at 10M rows / 1000 groups: the built-in plan sorts
    // every partition end to end; the BoundedTopKStrategy rewrite keeps
    // the same single exchange and replaces the sort with a size-k heap
    {
      val topkIn = spark.range(n).select(
        pmod(col("id"), lit(1000L)).as("g"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("v"), col("id"))
      def topkQ = topkIn.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("g").orderBy(col("v").desc, col("id"))))
        .filter(col("rn") <= 5)
      spark.experimental.extraStrategies = Nil
      time("group_topk_windowsort")(topkQ)
      spark.experimental.extraStrategies = Seq(plans.BoundedTopKStrategy)
      time("group_topk_boundedheap")(topkQ)
    }

    // round-4 operators ------------------------------------------------------
    // rolling trailing-window spend: RANGE frame over 10M rows / 10k
    // accounts — one hash shuffle + per-partition sort, no global order
    time("rolling_spend")(ops.Windows.rollingSpend(
      parsed.filter(ops.Predicates.isCompleted(col("status")) &&
        ops.Predicates.isDebit(col("txn_type"))), windowSec = 86400L))
    // BPE pair stats: the distinct-word collapse bounds the pair stage by
    // the vocabulary, not the corpus
    time("bpe_pairs")(text.TrainingPrep.bpePairCounts(synthDocs))
    // bigram LM: the bigram postings <-> type-count join is the scale
    // stress (most synthetic bigrams are unique, worst case for the join)
    time("bigram_logprob")(text.TrainingPrep.bigramLogProb(synthDocs))
    // the count-cutoff production guard: synthetic text is the worst case
    // (most bigram types are singletons), so the frequent-type table
    // collapses and the postings join broadcasts instead of shuffling
    time("bigram_logprob_capped")(text.TrainingPrep.bigramLogProbCapped(synthDocs))
    // embedding ops at n/10 vectors x 64 dims: semantic dedup is scan +
    // one scalar shuffle; IVF trains on a driver-bounded hash-sample
    // (sampleMod 20 -> ~n/200 vectors) and assigns distributed
    val synthEmb = spark.range(n / 10).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63),
        d -> cast(pmod(xxhash64(id, d), 2000) as double) / 1000.0 - 1.0)""")
        .as("embedding"))
    time("semantic_dedup")(dedup.Dedup.semanticDedup(synthEmb, nBits = 8))
    time("ivf_topk_sampled_train")(sim.Similarity.ivfTopK(synthEmb,
      numQueries = 10, k = 5, centroidStride = 541, nprobe = 14,
      kmeansIters = 2, trainSampleMod = 20L))
    // distributed Lloyd refinement above the driver-sample cap: each pass
    // must cost ≈ one assignment scan (scan-stage argmax + map-side-
    // combined vector sums), NOT a corpus×cells join re-materialization
    // round-8: product quantization at 1M×64 — training is sample-bounded
    // (modEff ≈ 16 here), encode/ADC are scan-stage vs codebook literals
    if (only.forall("pq".contains)) {
      val t0 = System.nanoTime()
      val pqModel = sim.PQ.train(synthEmb)
      println(f"PROBE pq_train rows=${n / 10} sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      time("pq_encode")(sim.PQ.encode(synthEmb, pqModel))
      time("pq_topk")(sim.PQ.topK(synthEmb, pqModel, numQueries = 10, k = 5,
        rerankFactor = 8))
      // the composed tier: coarse cells prune the ADC scan to
      // ~nprobe/cells of the corpus before any code is scored. Index
      // build (coarse k-means, timed under ivf probes) is a one-off
      // amortized cost — this times the per-query-set search path
      val coarse = sim.Similarity.kmeansCentroids(
        sim.Similarity.withNorm(synthEmb), stride = 541, iters = 2,
        sampleMod = 20L)
      time("pq_ivfpq_search")(sim.PQ.ivfPqSearch(synthEmb, coarse, pqModel,
        numQueries = 10, k = 5, nprobe = 14, rerankFactor = 8))
    }

    if (only.forall("ivf_refine".contains)) {
      val all = sim.Similarity.withNorm(synthEmb)
      val coarse = sim.Similarity.kmeansCentroids(all, stride = 541,
        iters = 1, sampleMod = 20L)
      time("ivf_assign_scan")(sim.Similarity.assignCells(all, coarse)
        .select(col("vec_id"), col("cell")))
      val t0 = System.nanoTime()
      sim.Similarity.refineCentroids(all, coarse, passes = 2)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE ivf_refine_2pass rows=${n / 10} sec=$sec%.2f per_pass=${sec / 2}%.2f")
    }
    // streaming rolling-spend tracker throughput (bounded per-key state:
    // only in-window (ts, kobo) pairs are retained per account)
    if (only.forall("streaming_rolling_spend".contains)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_sprobe_roll").toString
      val streamN = math.min(n, 2000000L)
      synthEvents(spark, streamN, users = 10000)
        .select("event_id", "ts_ns", "user_id", "event_type", "value", "props")
        .withColumnRenamed("ts_ns", "ts")
        .repartition(4).write.parquet(s"$dir/in")
      val t0 = System.nanoTime()
      val q = streaming.Pipelines.rollingSpendAlerts(spark,
          streaming.Pipelines.parsedStreamFromPath(spark, s"$dir/in",
            maxFilesPerTrigger = Some(1)))
        .toDF().writeStream.format("noop").outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE streaming_rolling_spend rows=$streamN sec=$sec%.2f rate=${streamN / sec}%.0f rows/s")
    }

    // event analytics + feature prep at the full 10M-event scale
    val rawEvents = synthEvents(spark, n, users = 10000)
    time("funnel_conversion")(ops.EventAnalytics.clickToPurchase(
      rawEvents, withinSec = 3600L))
    time("weekly_retention")(ops.EventAnalytics.weeklyRetention(rawEvents))
    time("winsorize")(ops.Features.winsorize(
      parsed.filter(ops.Predicates.isCompleted(col("status")))))
    time("zscore")(ops.Features.zscore(
      parsed.filter(ops.Predicates.isCompleted(col("status")))))
    time("token_budget")(text.TrainingPrep.tokenBudgetCurate(synthDocs,
      budgetPerLang = 1000000L))

    // round-8: the two temporal-join infra ops at full scale. As-of:
    // 10M facts enriched against 100k dim versions (10k keys × 10) — the
    // union+sort+carry-forward shape is ONE shuffle + per-partition sort,
    // no range explosion. Interval: 10M×10M self-ish pairing bounded by
    // the ±60s bucket equi-join, never a key-wide cross product.
    if (only.forall("temporal_join".contains)) {
      val dimVersions = spark.range(100000L).select(
        pmod(col("id"), lit(10000L)).as("account_id"),
        (lit(1700000000000000L) +
          expr("id div 10000") * 259200000000L).as("ver_ts_us"),
        xxhash64(col("id")).as("dim_attr"))
      time("temporal_join_asof")(ops.AsOfJoin.asOfLeft(
        parsed.select("txn_id", "account_id", "event_time_us"),
        dimVersions, "account_id", "event_time_us", "ver_ts_us"))
      val credits = parsed.filter(!ops.Predicates.isDebit(col("txn_type")))
        .select(col("account_id").as("c_acct"), col("txn_id").as("credit_txn_id"),
          col("event_time_us").as("credit_ts_us"))
        .withColumnRenamed("c_acct", "account_id")
      time("temporal_join_interval")(ops.IntervalJoin.inner(
        parsed.filter(ops.Predicates.isDebit(col("txn_type")))
          .select("txn_id", "account_id", "event_time_us"),
        credits, "account_id", "event_time_us", "credit_ts_us",
        -60000000L, 60000000L))
    }

    // round-10: label propagation (dupClusters) at chain topology —
    // components of diameter 7 (8-node chains), so min-label propagation
    // needs 8 rounds + the fixpoint confirmation: the worst practical
    // regime for the per-round localCheckpoint design. Edges ≈ 7n/8 pairs
    // (doubled internally); clusters asserted == ceil(n/8) so the probe
    // also pins correctness at scale. min-of-2.
    if (only.forall("label_prop".contains)) {
      val chain = 8L
      val pairs = spark.range(n)
        .filter(pmod(col("id"), lit(chain)) =!= chain - 1)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val labels = dedup.Dedup.dupClusters(pairs, maxRounds = 12)
        val nClusters = labels.select("cluster_id").distinct().count()
        val sec = (System.nanoTime() - t0) / 1e9
        require(nClusters == (n + chain - 1) / chain,
          s"label_prop wrong cluster count: $nClusters")
        sec
      }
      println(f"PROBE label_prop rows=$n chain=$chain " +
        f"clusters=${(n + chain - 1) / chain} min_sec=${runs.min}%.2f")
    }

    // same topology through the alternating star contraction — the
    // O(log d) round count is the claim; cluster count pins correctness
    if (only.forall("label_prop_star".contains)) {
      val chain = 8L
      val pairs = spark.range(n)
        .filter(pmod(col("id"), lit(chain)) =!= chain - 1)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val labels = dedup.Dedup.dupClustersStar(pairs)
        val nClusters = labels.select("cluster_id").distinct().count()
        val sec = (System.nanoTime() - t0) / 1e9
        require(nClusters == (n + chain - 1) / chain,
          s"label_prop_star wrong cluster count: $nClusters")
        sec
      }
      println(f"PROBE label_prop_star rows=$n chain=$chain " +
        f"clusters=${(n + chain - 1) / chain} min_sec=${runs.min}%.2f")
    }

    // hot-key skew: 90% of rows on one key — plain groupBy puts them on
    // one reducer; salted two-phase spreads them over 32
    val skewed = spark.range(n).select(
      when(pmod(col("id"), lit(10)) < 7, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(1000L))).as("k"),
      (pmod(xxhash64(col("id"), lit(9)), lit(1000L)) * 1.0).as("v"),
      col("id"))
    time("skew_plain_groupby")(
      skewed.groupBy("k").agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n_rows")))
    time("skew_salted_2phase")(
      ops.Salt.saltedSumCount(skewed, Seq("k"), "v", col("id"), buckets = 32))

    // hot-key skew JOIN under a true Zipf(s=2) key law (inverse-CDF over
    // a deterministic hash-uniform: rank ≈ 1/(1-u); hottest key carries
    // ~50% of all rows, #2 ~17%, ... — the adversarial shape of real
    // account/user activity). Dim = 1000 keys with broadcast disabled (at
    // 100 TB the dim wouldn't fit). Two plans over identical input:
    //   - no AQE: the unsplit SortMergeJoin straggler (one reducer owns
    //     half the fact table);
    //   - AQE skew-split: runtime re-plan splits the hot partition.
    // PlanShapeSpec pins that the AQE split FIRES; this measures what each
    // buys. Results recorded in SCALING.md.
    {
      val conf = spark.conf
      val nDimKeys = 1000L
      val zipfFact = spark.range(n).select(
        least(floor(lit(1.0) /
            (lit(1.0) - (pmod(xxhash64(col("id")), lit(1000000L)) / 1000000.0)
              * (lit(1.0) - lit(1.0 / nDimKeys)))) - 1,
          lit(nDimKeys - 1)).cast("long").as("k"),
        (pmod(xxhash64(col("id"), lit(9)), lit(1000L)) * 1.0).as("v"),
        col("id"))
      val dim = spark.range(nDimKeys).select(col("id").as("k"),
        xxhash64(col("id")).as("attr"))
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      conf.set("spark.sql.adaptive.enabled", "false")
      time("skew_join_zipf_no_aqe")(zipfFact.join(dim, "k"))
      conf.set("spark.sql.adaptive.enabled", "true")
      time("skew_join_zipf_aqe_split")(zipfFact.join(dim, "k"))
      Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes").foreach(conf.unset)
    }

    // ---- round-10: substring-level span dedup (DupSpans) at corpus
    //      scale. Synthetic corpus: n/100 docs × 120 tokens (113 grams
    //      per doc at n=8), 5M-token vocabulary so baseline grams are
    //      unique; PLANTED duplication at the two frequencies that
    //      matter — a global 20-token boilerplate block in every 4th
    //      doc (the high-df regime the strip pass exists for) and a
    //      pair-shared 20-token tail in EVERY doc (df=2, the long-tail
    //      regime that dominates the df>=2 key set). Expected span
    //      count is exact (one tail span per doc + one block span per
    //      4th doc), so the probe pins correctness at scale, not just
    //      cost. min-of-2. Run: GRAFT_PROBE_ONLY=span.
    if (only.forall("span_dedup".contains)) {
      graft.functions.GraftFunctions.register(spark)
      val docsN = math.max(n / 100, 1000L) / 2 * 2 // pair tails need even
      // The corpus is MATERIALIZED to parquet and read back — not left as
      // an expression frame. With an in-memory constructed `text`,
      // CollapseProject inlines the whole document constructor into the
      // per-gram shingle lambda and the probe times 113 re-constructions
      // per document (measured 162 s at 11.3M grams — a probe artifact,
      // not an operator cost; parquet-backed `text` is a scan attribute,
      // the operator's real posture, and what a 100 TB corpus is).
      val docsDir = java.nio.file.Files
        .createTempDirectory("graft_sprobe_span").toString
      spark.range(docsN).select(
        col("id").as("doc_id"),
        array_join(expr(
          """transform(sequence(1, 120), i ->
            |  CASE WHEN id % 4 = 0 AND i BETWEEN 41 AND 60 THEN concat('b', i)
            |       WHEN i > 100 THEN concat('p', id div 2, '_', i)
            |       ELSE concat('w', pmod(xxhash64(id, i), 5000000)) END)"""
            .stripMargin),
          " ").as("text"))
        .write.mode("overwrite").parquet(docsDir)
      val spanDocs = spark.read.parquet(docsDir)
      val grams = docsN * 113
      val expectSpans = docsN + (docsN + 3) / 4
      // warm-up on a small slice: the gram pipeline leans on interpreted
      // higher-order functions (transform/slice), which JIT slowly — under
      // GRAFT_PROBE_ONLY=span this block starts on a cold JVM and the
      // first timed run would bill ~5x of warm-up to the operator
      // (measured 54.7 s cold vs 10.7 s warm at 11.3M grams)
      dedup.DupSpans.dupSpans(spanDocs.limit(4000), 8).count()
      val findRuns = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val nSpans = dedup.DupSpans.dupSpans(spanDocs, 8).count()
        val sec = (System.nanoTime() - t0) / 1e9
        require(nSpans == expectSpans,
          s"span_find wrong span count: $nSpans != $expectSpans")
        sec
      }
      println(f"PROBE span_find docs=$docsN grams=$grams " +
        f"spans=$expectSpans min_sec=${findRuns.min}%.2f")
      // the collision-recheck path: same answer (hash df>=2 has no false
      // negatives), measures what the sliver's text shuffle costs
      time("span_find_verified")(dedup.DupSpans.dupSpans(spanDocs, 8,
        verifyExact = true))
      time("span_strip")(dedup.DupSpans.stripDupSpans(spanDocs, 8))
      // incremental ingest: standing gram index over 90% of the corpus,
      // PERSISTED the way a real pipeline stores it (parquet), then the
      // 10% batch folds against the stored index — the steady-state
      // cost a continuous pipeline pays per batch (only the batch
      // tokenizes; the index join is 8-byte keys)
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_sprobe_gidx").toString
      val corpus90 = spanDocs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val batch10 = spanDocs.filter(pmod(col("doc_id"), lit(10)) === 7)
      val tIdx0 = System.nanoTime()
      dedup.DupSpans.gramIndex(corpus90, 8)
        .write.mode("overwrite").parquet(idxDir)
      val tIdx = (System.nanoTime() - tIdx0) / 1e9
      val storedIdx = spark.read.parquet(idxDir)
      val incRuns = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        dedup.DupSpans.dupPositionsIncremental(storedIdx, batch10, 8)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE span_incremental docs=$docsN " +
        f"index_build_sec=$tIdx%.2f batch_fold_sec=${incRuns.min}%.2f")
    }

    // r10: bottom-k sample percentiles vs exact selection at n rows /
    // 20 groups. The sketch is ONE aggregation pass (bounded buffers,
    // shuffle moves groups x k x partitions 16-byte entries); the exact
    // path is iterative range-narrowing selection — multiple full scans.
    // Run: GRAFT_PROBE_ONLY=qsample.
    if (only.forall("qsample".contains)) {
      graft.functions.GraftFunctions.register(spark)
      val qIn = spark.range(n).select(
        concat(lit("g"), pmod(xxhash64(col("id"), lit(5)), lit(20))).as("g"),
        xxhash64(col("id")).as("h"),
        pmod(xxhash64(col("id"), lit(6)), lit(100000000L)).as("v"))
      time("qsample_pctl")(ops.Sketches.approxPercentiles(
        qIn, "g", col("h"), col("v"), k = 256))
      val exactRuns = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ns = qIn.groupBy("g").agg(count(lit(1)).as("c")).collect()
          .map(r => r.getString(0) -> r.getLong(1))
        val targets = ns.map { case (g, c) =>
          g -> Seq((c + 1) / 2, (9 * c + 9) / 10, (99 * c + 99) / 100).distinct
        }.toMap
        val cuts = ops.OrderStatistics.kthSmallest(qIn, "g", "v", targets)
        require(cuts.nonEmpty)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE qsample_exact_selection rows=$n min_sec=${exactRuns.min}%.2f")
    }

    // r10: BPE merge-loop cost on the post-collapse axis that scales —
    // the distinct-word table (n/10 words x 6 rounds; the corpus->words
    // collapse itself is the envelope_parse-class one-shuffle cost
    // probed elsewhere). Each round = one pair-count aggregation over
    // ~9 pairs/word + the bounded argmax + the fold projection +
    // lineage truncation. Run: GRAFT_PROBE_ONLY=bpe.
    if (only.forall("bpe_train".contains)) {
      val wordsN = math.max(n / 10, 100000L)
      val words = spark.range(wordsN).select(
        expr("concat_ws('', transform(sequence(1, 8)," +
          " i -> char(97 + pmod(xxhash64(id, i), 26))))").as("word"),
        (pmod(xxhash64(col("id"), lit(9)), lit(1000)) + 1).as("freq"))
      val bpeRuns = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val merges = text.BpeTrain.trainFromWords(
          text.BpeTrain.withSymbols(words), rounds = 6).collect()
        require(merges.length == 6, s"bpe_train got ${merges.length} merges")
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE bpe_train words=$wordsN rounds=6 min_sec=${bpeRuns.min}%.2f")
    }

    // r10: Gram accumulation at n/5 vectors x 64 dims — the whole point
    // is the partial-state shape: each partition collapses to ONE
    // 2080-long buffer before the exchange (a posexplode->groupBy(i,j)
    // formulation would shuffle n x 2080 rows). Run: GRAFT_PROBE_ONLY=gram.
    if (only.forall("gram".contains)) {
      val vecsN = math.max(n / 5, 100000L)
      val gramUdaf = udaf(sim.Gram.GramAgg)
      val vecs = spark.range(vecsN).select(expr(
        "transform(sequence(0, 63, 1), i -> pmod(xxhash64(id, i), 1024))")
        .as("g"))
      time("gram_agg")(vecs.agg(gramUdaf(col("g")).as("gram"),
        count(lit(1)).as("n_rows")))
    }

    spark.stop()
  }
}
