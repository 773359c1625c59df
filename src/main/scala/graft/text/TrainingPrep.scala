package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators (LLM-data-pipeline extension set):
  * sequence packing, deterministic splits, TF-IDF term weighting.
  *
  * Scale posture: packing and splitting are scan + one partitioned window
  * (keyed by shard — no global ordering anywhere); TF-IDF is two hash
  * aggregations (term frequencies, document frequencies) and a broadcast
  * of the tiny df table. All arithmetic is integer or fixed-order IEEE so
  * the DuckDB oracle reproduces values exactly.
  */
object TrainingPrep {

  /** Default split percentages — shared by [[trainValSplit]], its oracle,
    * and the ScalaCheck properties, so a cut change propagates. */
  val TrainPct = 90
  val ValPct = 5

  /** Estimated BPE token count: the ceil(chars/4) estimator of
    * [[TextAnalysis.tokenCounts]] floored at 1 — every document occupies
    * at least one token (its EOS/separator) in a packed stream. The floor
    * also keeps the packing arithmetic engine-exact: a zero-token doc at
    * a shard-stream start would make `(end_offset - 1) div maxTokens`
    * negative, where Spark's `div` (truncate toward zero) and SQL floor
    * division disagree. */
  def estTokens(text: Column): Column =
    greatest(ceil(length(text) / 4.0).cast("long"), lit(1L))

  /** GPT-style sequence packing: documents are concatenated per shard (in
    * deterministic doc_id order) into one token stream, which is chunked
    * into fixed `maxTokens` training sequences. A document whose span
    * crosses a chunk boundary straddles two (or more) sequences — the
    * standard concat-then-chunk pretraining layout, not greedy binning.
    *
    * Emits each document's token offsets within its shard stream and the
    * first/last sequence index it lands in. One hash shuffle on `shard`,
    * then a partitioned running-sum window — each shard's stream is
    * independent, so the layout parallelizes to any number of shards. */
  def packSequences(documents: DataFrame, maxTokens: Long,
      nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"),
        estTokens(col("text")).as("n_tokens"))
      .withColumn("end_offset", sum(col("n_tokens")).over(w))
      .withColumn("start_offset", col("end_offset") - col("n_tokens"))
      .withColumn("first_seq", expr(s"start_offset div $maxTokens"))
      .withColumn("last_seq", expr(s"(end_offset - 1) div $maxTokens"))
      .withColumn("straddles", col("first_seq") =!= col("last_seq"))
      .select("doc_id", "shard", "n_tokens", "start_offset", "end_offset",
        "first_seq", "last_seq", "straddles")
  }

  /** Deterministic train/val/test split: assignment is a pure function of
    * the id (`doc_id mod 100` against cumulative percentage cuts), so any
    * re-run of the pipeline — on any cluster layout — lands every document
    * in the same split, with no stored split table and no RNG state.
    * Scan-only, zero shuffle. For adversarial id layouts, pre-mix ids with
    * a bijective hash before the mod; the plain mod keeps the oracle
    * engine-exact here. */
  def trainValSplit(documents: DataFrame, trainPct: Int = TrainPct,
      valPct: Int = ValPct): DataFrame =
    documents.select(col("doc_id"),
      (col("doc_id") % 100).as("split_key"),
      when(col("doc_id") % 100 < trainPct, "train")
        .when(col("doc_id") % 100 < trainPct + valPct, "val")
        .otherwise("test").as("split"),
      estTokens(col("text")).as("n_tokens"))

  /** Exact-size stratified sample: exactly `n` documents per stratum
    * (unless the stratum is smaller), uniform without replacement,
    * deterministic — rank by `xxhash64(doc_id)` inside each stratum and
    * keep rank <= n. A unique id under a 64-bit avalanche hash is a
    * uniform random permutation, so hash-rank top-n IS simple random
    * sampling — with no RNG state, reproducible across re-runs and
    * cluster layouts (the fixed-size counterpart of the keep-fraction
    * [[mixtureResample]]; the shape eval-set construction wants).
    *
    * Scale: the rank window is a `row_number() <= n` filter, which the
    * [[graft.plans.BoundedTopKStrategy]] planner rule executes as map-side
    * bounded heaps — the exchange moves <= strata x n x map_partitions
    * rows, never the corpus. */
  def stratifiedSample(documents: DataFrame, strataCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("priority"), col("doc_id"))
    documents
      .select(col(strataCol), col("doc_id"),
        xxhash64(col("doc_id")).as("priority"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= n)
  }

  /** Deterministic global shuffle for training output: every document gets
    * a (shard, pos) — shard = pmod(xxhash64(doc_id), nShards), pos = rank
    * of the hash within the shard. Writing shard files in pos order yields
    * a reproducible uniform permutation of the corpus (what a trainer
    * reads sequentially), with no RNG and no global sort: the plan is one
    * hash-partitioned exchange + per-shard sort, each shard sorting
    * corpus/nShards rows in parallel. At 100 TB, nShards is thousands
    * (shard ~= a few GB), so per-task sorts stay memory-sized; parallelism
    * equals the shard count by construction. */
  def shuffleShards(documents: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("priority"), col("doc_id"))
    documents
      .select(col("doc_id"), xxhash64(col("doc_id")).as("priority"))
      .withColumn("shard", pmod(col("priority"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
  }

  /** Adaptive curation gate: keep documents at or above the corpus MEDIAN
    * whitespace-token count — thresholds derived from the data itself
    * rather than fixed constants (the standard way quality cutoffs are
    * actually set on new corpora). The median is exact (sort-based) over
    * integer counts, so the interpolated value is engine-exact (.0/.5);
    * it lands in the plan as a one-row broadcast, not a driver constant. */
  def adaptiveTokenGate(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val med = toks.agg(median(col("n_tokens")).as("med_tokens"))
    toks.crossJoin(broadcast(med))
      .filter(col("n_tokens") >= col("med_tokens"))
      .select("doc_id", "n_tokens", "med_tokens")
  }

  /** One-row corpus profile — the "dataset card" numbers a training-data
    * release ships with, all exact integers (engine-hashable): document /
    * token / char totals, exact-duplicate surplus, language mix, split
    * sizes. One pass per source aggregate, combined by single-row cross
    * joins (each side is a broadcast of one row). */
  def datasetCard(documents: DataFrame): DataFrame = {
    val base = documents.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).cast("long").as("total_ws_tokens"),
      sum(length(col("text"))).cast("long").as("total_chars"))
    val dups = graft.dedup.Dedup.exact(documents)
      .agg(sum(col("n_copies") - 1).as("n_dup_docs"))
    val langs = TextAnalysis.langId(documents)
      .agg(sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en_docs"))
    val splits = trainValSplit(documents)
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    base.crossJoin(broadcast(dups)).crossJoin(broadcast(langs))
      .crossJoin(broadcast(splits))
  }

  /** Intra-document repetition score (Gopher-style quality rule): the
    * fraction of word 3-gram POSITIONS whose shingle already occurred in
    * the same document — near-1 for boilerplate/spam, near-0 for natural
    * prose. Scan + one aggregation over (doc, shingle) postings; no
    * joins. Documents too short for a shingle are reported with zero
    * counts rather than dropped (a filter pipeline must SEE them). */
  def repetitionScore(documents: DataFrame, n: Int = 3): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), graft.dedup.Dedup.shingleArray(n).as("__sh"))
      .select(col("doc_id"),
        size(col("__sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("__sh"))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio", TextAnalysis.floor6(
        when(col("n_shingles") > 0,
          (col("n_shingles") - col("n_distinct")) / col("n_shingles"))
          .otherwise(lit(0.0))))

  /** Benchmark decontamination: training documents sharing any word
    * `n`-gram with the `evalDocs` set (a benchmark suite) are flagged
    * with their overlap count — the standard n-gram decontamination pass
    * run before pretraining. Inverted n-gram index equi-join over
    * [[graft.dedup.Dedup.shingles]] postings: linear in postings, never
    * doc×doc. (The registered query passes the deterministic
    * `doc_id % 50 == 0` slice as its stand-in benchmark.) */
  def decontaminate(trainDocs: DataFrame, evalDocs: DataFrame,
      n: Int = 8): DataFrame = {
    val train = graft.dedup.Dedup.shingles(trainDocs, n)
      .withColumnRenamed("shingle", "gram")
    val eval_ = graft.dedup.Dedup.shingles(evalDocs, n)
      .select(col("shingle").as("gram")).distinct()
    train.join(eval_, "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_ngrams"))
  }

  /** Bloom-prefiltered decontamination — the shape [[decontaminate]]
    * takes at 100 TB, where shuffling every training n-gram posting into
    * the inverted-index join is the bottleneck. The benchmark suite's
    * n-gram hashes (the SMALL side by definition) fold into a packed
    * Bloom bitset on the driver — the same two-phase build as Spark's
    * own `stat.bloomFilter` and runtime bloom filters — which rides the
    * plan as a query constant inside the codegen'd
    * [[graft.functions.BloomContains]] probe. Probing happens in the
    * scan stage: only grams the bloom admits reach the exact verify
    * join, and the side they meet is the broadcast eval set, so the
    * training corpus never shuffles at all. (A first cut attached the
    * bitset as a broadcast-joined column instead; copying the array into
    * every probed row's UnsafeRow made it 7× slower than the plain
    * inverted index at sf0.1 — the plan-constant expression is the
    * load-bearing design choice.)
    *
    * Exactness (why the oracle is the plain inverted-index SQL): a Bloom
    * filter has no false negatives, so the admitted grams are a SUPERSET
    * of the truly shared ones, and the exact verify join removes every
    * false positive — the composition equals [[decontaminate]] output for
    * ANY bits/probes sizing. The bitset is pure deterministic arithmetic
    * ([[graft.functions.BloomKernel]]: FNV-1a64 element hash, SplitMix64
    * probe mixing), so results are identical across runs and partition
    * layouts. Sizing: false-positive rate ~ (grams*probes/numBits)^probes;
    * the 2^20-bit default holds thousands of eval grams at ~1e-8 — at a
    * real benchmark-suite scale, grow `numBits` (2^30 bits = 128 MiB of
    * plan constant) rather than shrinking probes. */
  def bloomDecontaminate(trainDocs: DataFrame, evalDocs: DataFrame,
      n: Int = 8, numBits: Int = 1 << 20, numProbes: Int = 3): DataFrame = {
    val spark = trainDocs.sparkSession
    graft.functions.GraftFunctions.register(spark)

    val evalGrams = graft.dedup.Dedup.shingles(evalDocs, n)
      .select(col("shingle").as("gram")).distinct()
    // driver-side fold of the small side's hashes (8 bytes per distinct
    // eval gram) into the bitset — the probed TRAIN side never leaves
    // the executors
    val hashes = evalGrams.select(expr("graft_fnv64(gram)").as("h"))
      .collect().map(_.getLong(0))
    val bits = graft.functions.BloomKernel.build(hashes, numBits, numProbes)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_probe",
      exprs => {
        require(exprs.size == 1, s"graft_bloom_probe takes 1 argument, got ${exprs.size}")
        graft.functions.BloomContains(exprs.head, bits, numProbes)
      },
      "built-in")

    val candidates = graft.dedup.Dedup.shingles(trainDocs, n)
      .withColumnRenamed("shingle", "gram")
      .filter(expr("graft_bloom_probe(gram)"))

    candidates.join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_ngrams"))
  }

  /** Data-mixing resampler: keep a per-language fraction of documents,
    * decided by a deterministic hash of the id — `xxhash64(doc_id) mod
    * den < num(lang)` — so minority languages can be kept whole while a
    * dominant language is downsampled. Scan-only (no window, no
    * shuffle): the 100 TB-correct sampling shape, unlike rank-based
    * capping which sorts every stratum ([[langCap]] exists for the exact
    * top-N contract). Same-seed reruns keep exactly the same documents
    * on any cluster layout, and per-stratum rates concentrate at
    * num/den by hash uniformity (asserted in tests). */
  def mixtureSample(documents: DataFrame,
      fractions: Map[String, (Int, Int)],
      defaultFrac: (Int, Int) = (1, 1)): DataFrame = {
    val arms = fractions.map { case (lang, (num, den)) =>
      s"WHEN pred_lang = '$lang' THEN pmod(xxhash64(doc_id), $den) < $num"
    }.mkString(" ")
    val (dn, dd) = defaultFrac
    TextAnalysis.langId(documents)
      .select(col("doc_id"), col("pred_lang"))
      .filter(expr(s"CASE $arms ELSE pmod(xxhash64(doc_id), $dd) < $dn END"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    * "Weighted random sampling with a reservoir", IPL 2006): score every
    * document with key_i = ln(u_i) / w_i — u_i a deterministic uniform
    * derived from `xxhash64(doc_id)`, w_i the document's token count —
    * and keep the n LARGEST keys. By A-ES this is exactly an n-item
    * token-weighted sample without replacement: one scan plus one
    * bounded global top-k — Catalyst's LimitPushDownThroughWindow turns
    * the empty-partition rank filter into `TakeOrderedAndProject(500)`
    * (per-partition heaps, one driver merge of 500-row slices; no global
    * sort, no sequential reservoir), and the residual rank window runs
    * over the 500 survivors only. The distributed form of reservoir
    * sampling a corpus subsample actually uses. Complements
    * [[mixtureSample]] (Bernoulli, unbounded output size) with an EXACT
    * output-size contract under weights.
    *
    * Exactness across engines: u = hash/2^64 + 0.5 ∈ [0, 1) is an exact
    * double (cast of a 64-bit integer, then scaling by a power of two —
    * both single correctly-rounded IEEE ops), ln(u + 1e-12) is the one
    * transcendental (the epsilon guards ln(0) at the single hash value
    * mapping to u = 0), the divide by the integer weight is one more
    * IEEE op, and the key truncates to INTEGER micro units before
    * ranking; ties (astronomically rare) break by doc_id. */
  def weightedSample(documents: DataFrame, n: Int = 500): DataFrame =
    documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        xxhash64(col("doc_id")).as("__h"))
      .withColumn("__u",
        col("__h").cast("double") /
          expr("CAST(18446744073709551616 AS DOUBLE)") + 0.5)
      .withColumn("key_micro",
        floor(log(col("__u") + 1e-12) / col("n_tokens") * 1e6).cast("long"))
      .withColumn("sample_rank", row_number().over(
        Window.orderBy(col("key_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("sample_rank") <= n)
      .select("doc_id", "n_tokens", "key_micro", "sample_rank")

  /** Leakage-safe train/val/test split: the split key is the document's
    * near-duplicate CLUSTER, not the document itself — so near-dups of an
    * eval document can never land in train. This closes the
    * contamination path that exact dedup misses (non-verbatim rewrites)
    * and n-gram decontamination only catches after the fact: if
    * correlated documents straddle the split, eval is compromised no
    * matter how the training side is cleaned. `clusters` is any
    * (doc_id, cluster_id) map ([[graft.dedup.Dedup.dupClusters]] /
    * `dupClustersStar`); unclustered documents fall back to their own id.
    *
    * Assignment is the same deterministic hash-gate discipline as
    * [[mixtureSample]]: split_key = pmod(xxhash64(group_key), 100) with
    * the standing [[TrainPct]]/[[ValPct]] cuts — group-keyed, so every
    * cluster lands WHOLLY inside one split (spec-pinned invariant).
    *
    * Scale shape: one co-partitioned left join of the corpus ids against
    * the cluster map (cluster rows exist only for documents with at
    * least one near-dup pair — AQE broadcasts when small), then
    * scan-stage hash arithmetic. The text column is never touched. */
  def leakageSafeSplit(documents: DataFrame, clusters: DataFrame): DataFrame =
    documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split_key", pmod(xxhash64(col("group_key")), lit(100)))
      .withColumn("split",
        when(col("split_key") < TrainPct, "train")
          .when(col("split_key") < TrainPct + ValPct, "val")
          .otherwise("test"))
      .select("doc_id", "group_key", "split_key", "split")

  /** The end-to-end training manifest — the composition a data pipeline
    * actually ships to the trainer, built entirely from operators that
    * are individually oracle-verified: curation gates (language ∧
    * quality ∧ exact-dedup keeper), MINUS benchmark-contaminated
    * documents ([[bloomDecontaminate]] — scan-stage bloom probe, exact
    * verify), INTERSECT the mixture-sampled keeps ([[mixtureSample]] —
    * scan-only hash resampling), with the deterministic split attached.
    * Training docs are the `doc_id % 50 != 0` slice; the `% 50 == 0`
    * slice stands in for the benchmark suite, as in `q_decontaminate`.
    *
    * Scale posture: every stage is a scan-stage gate or a semi/anti join
    * against a SMALL derived set (contaminated ids) — the corpus itself
    * crosses the network zero times, and it is READ exactly twice: one
    * annotate scan that also carries the dedup digest (keeper election is
    * a whole-partition window min over that digest on the post-scan
    * NARROW projection — the separate `curate ⋈semi Dedup.exact` form
    * cost a third full-text scan for identical output), and one shingle
    * scan inside [[bloomDecontaminate]] (unavoidable: it computes a
    * different per-row function). The mixture semi-join side scans
    * (doc_id, lang) only — column pruning keeps it off the text bytes. */
  def trainingManifest(documents: DataFrame, lang: String = "en",
      minQuality: Double = 0.5): DataFrame = {
    val train = documents.filter(col("doc_id") % 50 =!= 0)
    val evalSlice = documents.filter(col("doc_id") % 50 === 0)
    val w = Window.partitionBy(col("__digest"))
    val gated = TextAnalysis.annotate(train)
      .select(col("doc_id"), col("pred_lang"), col("quality_score"),
        col("n_tokens"),
        sha2(lower(trim(col("text"))), 256).as("__digest"))
      .withColumn("__keeper", min(col("doc_id")).over(w))
      .filter(col("pred_lang") === lang &&
        col("quality_score") >= minQuality &&
        col("doc_id") === col("__keeper"))
      .select("doc_id", "pred_lang", "quality_score", "n_tokens")
    gated
      .join(bloomDecontaminate(train, evalSlice).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .join(mixtureSample(train, Map(lang -> (1, 2))).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .withColumn("split",
        when(col("doc_id") % 100 < TrainPct, "train")
          .when(col("doc_id") % 100 < TrainPct + ValPct, "val")
          .otherwise("test"))
  }

  /** Cross-document boilerplate removal (the CCNet/RefinedWeb paragraph-
    * dedup pattern adapted to unstructured text): documents are cut into
    * consecutive `segWords`-word segments; any segment occurring in at
    * least `minDocs` DISTINCT documents is boilerplate (headers, footers,
    * license banners) and is dropped from every document; the survivors
    * reassemble in original order.
    *
    * Two phases, mirroring [[bloomDecontaminate]]'s small-side fold:
    *   1. the frequent-segment set is one aggregation over segment
    *      postings (by Zipf it is tiny — boilerplate is frequent, so few
    *      strings qualify), collected and carried as a PLAN CONSTANT
    *      (`typedlit` array probed by a codegen'd `array_contains`) —
    *      NOT a broadcast-joined column (see the bloom note: copying a
    *      blob into every row's UnsafeRow was 7× slower);
    *   2. the cleaning pass is then scan-only — a per-row higher-order
    *      `filter` over the segment array; the corpus text crosses the
    *      network ZERO times. `maxBoilerplate` guards the driver fold the
    *      same way the bloom build bounds its hash collect; at a real
    *      corpus scale where the frequent set outgrows a plan constant,
    *      swap phase 1's probe for [[graft.functions.BloomContains]] +
    *      exact verify, identical composition. */
  def boilerplateStrip(documents: DataFrame, segWords: Int = 8,
      minDocs: Long = 5, maxBoilerplate: Int = 100000): DataFrame = {
    // the empty-token guard matters: sequence(0, -1) DESCENDS in Spark
    // (yielding [0, -1]) while the oracle's generate_series(1, 0) is empty —
    // unreachable today because split() never returns an empty array, but
    // latent if tokenization changes
    val segs = expr(
      s"""if(size(__w) = 0, array(),
         |  transform(sequence(0, cast(ceil(size(__w) / ${segWords}.0) as int) - 1),
         |    i -> concat_ws(' ', slice(__w, i * $segWords + 1, $segWords))))""".stripMargin)
    val withSegs = documents
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), segs.as("__segs"))
    val frequent = withSegs
      .select(col("doc_id"), explode(array_distinct(col("__segs"))).as("segment"))
      .groupBy("segment").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("segment")
      // bound BEFORE collecting: a pathological corpus whose frequent set
      // vastly exceeds the budget must trip the guard on maxBoilerplate+1
      // rows, not after materializing the whole set on the driver
      .limit(maxBoilerplate + 1)
      .collect().map(_.getString(0)).sorted
    require(frequent.length <= maxBoilerplate,
      s"boilerplate set ${frequent.length} exceeds plan-constant budget " +
        s"$maxBoilerplate — use the bloom-probe composition instead")
    val bp = typedlit(frequent.toSeq)
    withSegs
      .select(col("doc_id"), col("__segs"),
        filter(col("__segs"), s => !array_contains(bp, s)).as("__kept"))
      .select(col("doc_id"),
        size(col("__segs")).cast("long").as("n_segs"),
        size(col("__kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much more likely it is under a TARGET-domain unigram
    * LM than under the raw-corpus LM — sum over tokens of
    * ln p_target(w) − ln p_raw(w), add-one smoothed over the union
    * vocabulary — and keep the documents the target distribution prefers
    * (positive importance). The target here is the deterministic
    * `doc_id % targetMod == 0` slice, the same stand-in benchmark split
    * as [[decontaminate]].
    *
    * Exactness: each token's two log-probabilities are truncated to
    * INTEGER micro-nats before the per-document sum ([[unigramLogProb]]'s
    * trick), so aggregation order cannot change the result and the DuckDB
    * oracle reproduces it bit-for-bit. Shuffle shape: two vocabulary
    * aggregations, a vocabulary-sized full-outer join (both sides shrink
    * to distinct terms), the vocab broadcast back to the token postings,
    * one per-doc sum — the corpus text itself never joins anything. */
  def importanceResample(documents: DataFrame,
      targetMod: Long = 50): DataFrame = {
    val words = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val rawTerms = words.filter(col("doc_id") % targetMod =!= 0)
    val tgtVocab = words.filter(col("doc_id") % targetMod === 0)
      .groupBy("term").agg(count(lit(1)).as("t_n"))
    val rawVocab = rawTerms.groupBy("term").agg(count(lit(1)).as("r_n"))
    val vocab = tgtVocab.join(rawVocab, Seq("term"), "full")
      .select(col("term"),
        coalesce(col("t_n"), lit(0L)).as("t_n"),
        coalesce(col("r_n"), lit(0L)).as("r_n"))
    val totals = vocab.agg(
      sum(col("t_n")).as("tt"), sum(col("r_n")).as("rt"),
      count(lit(1)).as("vn"))
    def lpMicro(n: Column, total: Column): Column =
      floor(log((n + 1) / (total + col("vn")).cast("double")) * 1e6).cast("long")
    rawTerms
      .join(broadcast(vocab), "term")
      .crossJoin(broadcast(totals))
      .withColumn("__imp_micro",
        lpMicro(col("t_n"), col("tt")) - lpMicro(col("r_n"), col("rt")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__imp_micro")).as("importance_micro"))
      .filter(col("importance_micro") > 0)
  }

  /** Curriculum binning: deciles (or `nBins`-tiles) of quality score per
    * predicted language — the standard way training curricula order data
    * from easy/clean to hard/noisy without a global sort. The order is
    * total (score DESC, doc_id ASC), so tile assignment is deterministic
    * and engine-exact (ANSI NTILE semantics: the first `count mod nBins`
    * tiles take one extra row). The window partitions by language; at a
    * real corpus scale where one language dominates a partition, derive
    * bin THRESHOLDS from `percentile_approx` instead and assign by
    * comparison in the scan stage — this form keeps the exact contract. */
  def curriculumBins(documents: DataFrame, nBins: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("pred_lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    TextAnalysis.quality(documents).select("doc_id", "quality_score")
      .join(TextAnalysis.langId(documents).select("doc_id", "pred_lang"), "doc_id")
      .withColumn("curriculum_bin", ntile(nBins).over(w).cast("long"))
      .select("doc_id", "pred_lang", "quality_score", "curriculum_bin")
  }

  /** Unigram language-model score per document: mean log-probability of
    * its tokens under the corpus unigram distribution — the cheap
    * perplexity proxy used for quality filtering. Each token's
    * log-probability is truncated to INTEGER micro-nats before the
    * per-doc sum, so the aggregation is exact integer arithmetic —
    * order-independent across engines and partitionings (a float sum
    * here diverges in the last ulp between engines and can cross a
    * truncation boundary). The mean is then ONE IEEE division of exact
    * integers. Vocabulary counts broadcast (orders smaller than the
    * corpus); one aggregation per side. */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val terms = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val vocab = terms.groupBy("term").agg(count(lit(1)).as("term_n"))
    // total token count derived from the vocabulary-sized aggregate — not
    // a second scan+explode of the full corpus
    val total = vocab.agg(sum(col("term_n")).as("total_n"))
    terms
      .join(broadcast(vocab), "term")
      .crossJoin(broadcast(total))
      .withColumn("__lp_micro",
        floor(log(col("term_n") / col("total_n").cast("double")) * 1e6)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__lp_micro")).as("sum_lp_micro"))
      .withColumn("mean_logprob",
        col("sum_lp_micro") / (col("n_tokens") * 1e6))
      .select("doc_id", "n_tokens", "sum_lp_micro", "mean_logprob")
  }

  /** Bigram language-model score per document: sum of add-one-smoothed
    * conditional log-probabilities ln p(w2|w1) = ln((c(w1,w2)+1) /
    * (c(w1·)+V)) over the document's adjacent word pairs — one order
    * sharper than [[unigramLogProb]] as a perplexity proxy (it penalizes
    * improbable SEQUENCES, not just rare words). Same integer micro-nat
    * truncation before the per-doc sum, so the result is exact integer
    * arithmetic — engine- and order-independent.
    *
    * Shuffle shape: the bigram postings shuffle ONCE on (w1,w2) to meet
    * their type counts (the bigram-type table can outgrow a broadcast, so
    * this join stays shuffled by design); the context counts and the
    * one-row vocabulary size broadcast. Documents with fewer than two
    * tokens surface with zero bigrams rather than dropping out. */
  def bigramLogProb(documents: DataFrame): DataFrame = {
    val words = documents.select(col("doc_id"), split(col("text"), " ").as("w"))
    // the empty/short guard: sequence(1, 0) DESCENDS in Spark, so a
    // sub-2-token doc must yield array() explicitly
    val bg = words
      .select(col("doc_id"), explode(expr(
        """if(size(w) < 2, array(),
          |  transform(sequence(1, size(w) - 1),
          |    i -> struct(w[i-1] AS w1, w[i] AS w2)))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("bg_n"))
    val ctxCounts = bg.groupBy("w1").agg(count(lit(1)).as("ctx_n"))
    val vocabSize = words.select(explode(col("w")).as("t"))
      .agg(countDistinct(col("t")).as("vn"))
    val perDoc = bg
      .join(bgCounts, Seq("w1", "w2"))
      .join(broadcast(ctxCounts), Seq("w1"))
      .crossJoin(broadcast(vocabSize))
      .withColumn("__lp_micro",
        floor(log((col("bg_n") + 1) /
          (col("ctx_n") + col("vn")).cast("double")) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__lp_micro")).as("logprob_micro"))
    documents.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"))
  }

  /** [[bigramLogProb]] with count-threshold pruning of the bigram type
    * table — the production guard for the LM-scoring join at corpus scale.
    *
    * The uncapped form's cost driver is the bigram TYPE table: on a
    * worst-case corpus (synthetic text, every bigram unique — measured at
    * 28.8 s in the 10M-row probe, the heaviest join in the suite) it is
    * corpus-sized, so the postings⇄counts join shuffles EVERYTHING on
    * (w1, w2). Pruning types with count < `minCount` (Katz-style count
    * cutoff — the standard n-gram LM pruning) bounds the surviving table
    * at total_bigrams / minCount and in practice (Zipf) far below it, so
    * it BROADCASTS and the postings never shuffle at all: same shape as
    * `winnowContainmentPairs(maxDf)` turning hot postings into a bounded
    * join, but here the whole shuffle disappears.
    *
    * Semantics: a pruned (rare) bigram scores as UNSEEN — add-one
    * smoothing gives it ln(1 / (c(w1·)+V)) instead of ln((c+1)/(c(w1·)+V))
    * — a principled LM backoff, exactly replayed by the oracle (the prune
    * is a deterministic HAVING clause, not a sampling choice). Context
    * counts and vocabulary stay exact: both are vocabulary-sized.
    *
    * The broadcast bound is the caller's knob: minCount=2 drops exactly
    * the singleton types (the worst-case mass); raise it until the type
    * table fits the broadcast budget at your scale. */
  def bigramLogProbCapped(documents: DataFrame,
      minCount: Long = 2L): DataFrame = {
    val words = documents.select(col("doc_id"), split(col("text"), " ").as("w"))
    val bg = words
      .select(col("doc_id"), explode(expr(
        """if(size(w) < 2, array(),
          |  transform(sequence(1, size(w) - 1),
          |    i -> struct(w[i-1] AS w1, w[i] AS w2)))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("bg_n"))
      .filter(col("bg_n") >= minCount)
    val ctxCounts = bg.groupBy("w1").agg(count(lit(1)).as("ctx_n"))
    val vocabSize = words.select(explode(col("w")).as("t"))
      .agg(countDistinct(col("t")).as("vn"))
    val perDoc = bg
      .join(broadcast(bgCounts), Seq("w1", "w2"), "left")
      .join(broadcast(ctxCounts), Seq("w1"))
      .crossJoin(broadcast(vocabSize))
      .withColumn("__lp_micro",
        floor(log((coalesce(col("bg_n"), lit(0L)) + 1) /
          (col("ctx_n") + col("vn")).cast("double")) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__lp_micro")).as("logprob_micro"))
    documents.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"))
  }

  /** Overlapping document chunking (the RAG/embedding-index layout, as
    * opposed to [[packSequences]]' disjoint pretraining chunks): windows
    * of `size` chars starting every `stride` chars, so consecutive
    * chunks overlap by `size - stride`. Pure scan + a controlled 1→N
    * explode; chunk count per doc is ceil(max(len - size, 0) / stride)
    * + 1 (one chunk even for short docs, tail chunk may run short). */
  def chunkDocs(documents: DataFrame, size: Int = 64,
      stride: Int = 48): DataFrame =
    documents
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          expr(s"cast(ceil(greatest(length(text) - $size, 0) / ${stride}.0) as int)")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * stride).cast("long").as("chunk_start"),
        expr(s"substring(text, chunk_idx * $stride + 1, $size)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))

  /** Per-language cap — the data-mixing primitive: keep at most `cap`
    * documents per predicted language (deterministic doc_id order), so a
    * dominant language cannot swamp the mixture. One partitioned window
    * over the language-ID output; at 100 TB the cap runs per partition
    * key, never globally. */
  def langCap(documents: DataFrame, cap: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("pred_lang")).orderBy(col("doc_id"))
    TextAnalysis.langId(documents)
      .select(col("doc_id"), col("pred_lang"))
      .withColumn("lang_rank", row_number().over(w).cast("long"))
      .filter(col("lang_rank") <= cap)
  }

  /** TF-IDF top-`k` terms per document over whitespace tokens:
    * tf = term count in doc, df = #docs containing the term,
    * idf = ln((N+1)/(df+1)) (add-one smoothed), score = tf*idf truncated
    * to 6 dp ([[TextAnalysis.floor6]] — ties between engines' ln are a
    * ULP-level risk that truncation absorbs; the rank tiebreak is (score
    * DESC, term ASC) so ordering is total regardless).
    *
    * Two aggregations (per-doc-term tf; per-term df) + a broadcast of the
    * df table (vocabulary-sized, orders smaller than the corpus) + one
    * per-doc window for the top-k. The corpus text never shuffles — only
    * (doc_id, term, count) postings do. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val terms = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.select(countDistinct(col("doc_id")).as("n_docs"))

    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", TextAnalysis.floor6(
        col("tf") * log((col("n_docs") + 1) / (col("df") + 1.0))))
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf", "term_rank")
  }

  /** Token-budget curation: fill each language's token budget with its
    * highest-quality documents — the greedy selection every "train on the
    * best N billion tokens" recipe runs. Documents are taken in (quality
    * DESC, doc_id) order until the running token total would exceed the
    * budget; the straddling document is dropped (strict budget), and the
    * order is total so the kept set is deterministic and engine-exact.
    *
    * One window per language over (score, tokens) scalars — the same
    * partitioned-cumulative shape as [[packSequences]]' shard streams and
    * [[curriculumBins]] (whose scale caveat applies equally: if one
    * language dominates a real corpus, derive a score THRESHOLD from the
    * cumulative distinct-score histogram instead — the
    * [[graft.ops.Features.winsorize]] selection idiom — and keep this
    * form's exact contract for the boundary bucket only). */
  def tokenBudgetCurate(documents: DataFrame,
      budgetPerLang: Long): DataFrame = {
    val q = TextAnalysis.quality(documents)
      .select("doc_id", "quality_score", "n_tokens")
    val l = TextAnalysis.langId(documents).select("doc_id", "pred_lang")
    val w = Window.partitionBy(col("pred_lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.join(l, "doc_id")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetPerLang)
      .select("doc_id", "pred_lang", "quality_score", "n_tokens", "cum_tokens")
  }

  /** BPE tokenizer training, step 1: adjacent-symbol pair frequencies —
    * the statistic every merge round of byte-pair encoding ranks on
    * (Sennrich et al. 2016). Counting runs the way real BPE trainers do:
    * the corpus first collapses to (distinct word, frequency) — by Zipf
    * the distinct-word table is orders of magnitude smaller than the token
    * stream, and all later merge rounds iterate over IT, never the corpus
    * again — then each distinct word contributes its adjacent character
    * pairs weighted by word frequency.
    *
    * Shuffle shape: two hash aggregations (words, then pairs — both
    * map-side combined) and one bounded top-k (plans through
    * TakeOrderedAndProject / the bounded-heap strategy, never a global
    * sort). Total order (count DESC, pair ASC) makes the cut
    * deterministic, so the result is engine-exact. */
  def bpePairCounts(documents: DataFrame, topK: Int = 100): DataFrame = {
    val words = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(topK)
  }
}
