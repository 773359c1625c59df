package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level (span) deduplication: find — and optionally strip —
  * the exact duplicated TEXT REGIONS inside documents, not just whole
  * near-duplicate documents. The "exact substring dedup" pass of modern
  * pretraining pipelines (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better"): boilerplate headers, license blocks,
  * and templated paragraphs repeat across otherwise-distinct documents
  * and survive every doc-level dedup in [[Dedup]]/[[MinHashLSH]].
  *
  * Algorithm (suffix-array-free, join-shaped): a token position is
  * "duplicated" iff the word n-gram STARTING there occurs in >= 2
  * DISTINCT documents. Overlapping/adjacent duplicated grams merge into
  * maximal spans per document (interval islands). This is the
  * MapReduce-friendly reformulation of Lee et al.'s suffix-array scan:
  * every duplicated substring of length >= n is exactly a run of
  * duplicated n-gram starts, so the merged spans cover precisely the
  * corpus text that appears elsewhere, with < n-token tails rounded up
  * to gram granularity.
  *
  * Scale posture: NO pairwise document joins anywhere. Cost is linear in
  * corpus gram count: one groupBy on an 8-byte gram fingerprint
  * (doc-frequency; the wide gram string never shuffles on the default
  * path — occurrences carry (hash, doc_id, pos) only), one
  * co-partitioned equi-join of occurrences against the df>=2
  * fingerprint set (the SMALL side: dup grams are a sliver of the
  * vocabulary), and a per-document window (bounded by document length,
  * perfectly partitioned). At 100 TB the df>=2 set is the only reused
  * intermediate — persist it once and the span report and strip pass
  * share it.
  *
  * Fingerprint collisions: grams are keyed by `graft_fnv64(gram)`
  * ([[graft.functions.GraftFunctions]], codegen'd). A 64-bit collision
  * would mark a unique gram duplicated; at ~10^13 corpus grams the
  * birthday load (10^13)^2 / 2^64 is material, so `verifyExact = true`
  * recomputes doc-frequency over the gram TEXT for the hash-flagged
  * sliver only (hash df>=2 has no false negatives, so the sliver is a
  * superset and the recheck restores exactness; only the sliver's text
  * ever shuffles). The default keeps the 8-byte posture, which is exact
  * at test scale and matches the oracle's fnv64-replay SQL.
  */
object DupSpans {

  /** Positional word n-gram occurrences with both the gram text and its
    * FNV-1a64 fingerprint: (doc_id, pos, __gram, gh), `pos` 1-BASED
    * (gram = tokens[pos .. pos+n-1]). NOT distinct — every start
    * position is one row; a gram repeated inside one document yields
    * multiple rows (they count once toward doc-frequency, but each
    * occurrence must be coverable by a span). Downstream projections
    * that drop `__gram` let Catalyst prune the string before any
    * exchange. */
  def positionalGrams(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), posexplode(Dedup.shingleArray(n)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("__gram"), expr("graft_fnv64(col)").as("gh"))

  /** Gram fingerprints occurring in >= 2 distinct documents. The df
    * aggregate is two-phase (partial map-side count-distinct via the
    * (gh, doc_id) pre-group) and emits only the duplicated sliver. */
  def duplicatedGramKeys(grams: DataFrame): DataFrame =
    grams.select("gh", "doc_id").distinct()
      .groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("gh")

  /** Maximal duplicated spans per document:
    * (doc_id, span_start, span_end, span_tokens), positions 1-based
    * inclusive. Two duplicated gram starts s1 < s2 merge iff
    * s2 - s1 <= n (their token intervals [s, s+n-1] overlap or touch),
    * so every span is a contiguous stretch of corpus text that appears
    * in at least one other document (gram-granular at the edges). */
  def dupSpans(documents: DataFrame, n: Int = 8,
      verifyExact: Boolean = false): DataFrame = {
    // r14 (guide §8 — compute the fingerprint proxy once): the df
    // aggregation AND the hit join both consume the positional gram
    // hashes; without a cache the tokenize + gram-concat + fnv64 scan
    // (the family's hottest kernel, ~2/3 of this query) ran twice.
    // The persisted frame is the PRUNED (doc_id, pos, gh) proxy — 24
    // bytes per gram, no gram strings, held for the one action below
    // (sf0.1, 4 cores: 1.1-1.4x slower unheld or checkpointed). r15:
    // under verifyExact the SAME cached frame carries the gram string
    // too (the exact-verify recheck needs it), so the gram kernel runs
    // once on that path as well instead of re-deriving positionalGrams
    // beside the proxy — the wider cache row is that path's cost.
    val gramsP = (if (verifyExact)
        positionalGrams(documents, n).select("doc_id", "pos", "gh", "__gram")
      else positionalGrams(documents, n).select("doc_id", "pos", "gh"))
      .persist()
    val keys = duplicatedGramKeys(gramsP)
    val hits =
      if (!verifyExact)
        gramsP.join(keys, "gh")
      else {
        // hash-flagged sliver with text; recheck df on the gram string
        val cand = gramsP.join(keys, "gh")
        val trueDup = cand.select("__gram", "doc_id").distinct()
          .groupBy("__gram").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2).select("__gram")
        cand.join(trueDup, "__gram")
      }
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val out = hits.select("doc_id", "pos").distinct()
      .withColumn("__gap",
        when(col("pos") - lag("pos", 1).over(byDoc) > n, 1).otherwise(0))
      .withColumn("__island", sum("__gap").over(byDoc))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n - 1)).as("span_end"))
      .withColumn("span_tokens",
        col("span_end") - col("span_start") + 1)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .localCheckpoint()
    gramsP.unpersist()
    out
  }

  /** Per-document duplication report over the whole corpus (every doc
    * appears, span-free docs with zeros): total tokens, duplicated-token
    * count, and the keep/flag verdict at `maxDupFraction`. The flagged
    * set is the "mostly-boilerplate" tail a curation pass drops wholesale
    * instead of stripping. */
  def dupFractions(documents: DataFrame, n: Int = 8,
      maxDupFraction: Double = 0.5): DataFrame = {
    val perDoc = dupSpans(documents, n)
      .groupBy("doc_id")
      .agg(sum("span_tokens").as("__dup"))
    documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("__dup"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_fraction",
        col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("verdict",
        when(col("dup_fraction") > maxDupFraction, lit("flag"))
          .otherwise(lit("keep")))
  }

  /** Standing gram-frequency index for INCREMENTAL span dedup:
    * `(gh, df, occs)` where `df` counts distinct documents containing
    * the gram and `occs` (array of `(doc_id, pos)`) is kept ONLY while
    * `df == 1` — the single not-yet-duplicated holder's positions, the
    * exemplars a future batch retro-flags. Grams already at `df >= 2`
    * carry an empty list: their positions were emitted when the second
    * holder arrived, so the index never accumulates hot-gram posting
    * lists (the boilerplate gram every doc shares costs one `(gh, df)`
    * row, not df positions — the cap that keeps the index
    * corpus-vocabulary-sized at 100 TB). The df=1 collect runs only
    * after a semi-join on the df=1 key set, so no executor ever
    * materializes a high-df list even transiently. */
  def gramIndex(documents: DataFrame, n: Int = 8): DataFrame = {
    val occ = positionalGrams(documents, n).select("gh", "doc_id", "pos")
    val dfFrame = occ.select("gh", "doc_id").distinct()
      .groupBy("gh").agg(count(lit(1)).as("df"))
    val singles = occ
      .join(dfFrame.filter(col("df") === 1).select("gh"), Seq("gh"), "left_semi")
      .groupBy("gh")
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("occs"))
    dfFrame.join(singles, Seq("gh"), "left")
      .select(col("gh"), col("df"),
        coalesce(col("occs"),
          array().cast("array<struct<doc_id:long,pos:long>>")).as("occs"))
  }

  /** Incremental span dedup of a NEW BATCH against a standing
    * [[gramIndex]] — the continuous-ingest shape: only the batch is
    * tokenized (the corpus is never re-grammed), and the join against
    * the index is an 8-byte-key equi-join sized by the batch's
    * vocabulary. Output is every position NEWLY KNOWN duplicated once
    * the batch lands, as `(doc_id, pos, src)`:
    *
    *   - `src = 'batch'`: a batch position whose gram reaches combined
    *     doc-frequency >= 2 (standing df + batch df — an old holder, or
    *     a second batch document);
    *   - `src = 'retro'`: a CORPUS position whose gram was at df == 1
    *     and just gained a second holder — the index exemplars, flagged
    *     retroactively without touching corpus text.
    *
    * Corpus-internal duplications are NOT re-emitted (they were output
    * when the corpus itself was ingested); by induction the union of
    * round outputs over successive batches equals the full corpus's
    * duplicated positions — DupSpansSpec pins the fold. Span
    * assembly (the interval-island merge of [[dupSpans]]) runs per
    * TOUCHED document over accumulated positions at read time; the
    * incremental pass stays position-level so rounds compose by union.
    * Batch doc_ids must be disjoint from the corpus's. */
  def dupPositionsIncremental(index: DataFrame, batch: DataFrame,
      n: Int = 8): DataFrame = {
    val bg = positionalGrams(batch, n).select("doc_id", "pos", "gh")
    val bdf = bg.select("gh", "doc_id").distinct()
      .groupBy("gh").agg(count(lit(1)).as("bdf"))
    val merged = bdf.join(index, Seq("gh"), "left")
      .select(col("gh"), col("bdf"), coalesce(col("df"), lit(0L)).as("df"),
        col("occs"))
    val batchHits = bg
      .join(merged.filter(col("df") + col("bdf") >= 2).select("gh"), "gh")
      .select(col("doc_id"), col("pos"), lit("batch").as("src"))
    val retro = merged.filter(col("df") === 1)
      .select(explode(col("occs")).as("o"))
      .select(col("o.doc_id").as("doc_id"), col("o.pos").as("pos"),
        lit("retro").as("src"))
    batchHits.union(retro)
  }

  /** Strip pass: rebuild each document with its duplicated spans REMOVED
    * (kept tokens re-joined with single spaces). Span-free documents pass
    * through with their text untouched (no tokenize/rejoin round-trip —
    * the common case costs nothing and is byte-identical). The span list
    * per document is tiny (islands, not positions), so the join ships
    * interval pairs and the filtering is pure per-row expression work —
    * no per-token shuffle. */
  def stripDupSpans(documents: DataFrame, n: Int = 8): DataFrame = {
    val spanList = dupSpans(documents, n)
      .groupBy("doc_id")
      .agg(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e"))).as("__spans"))
    documents
      .join(spanList, Seq("doc_id"), "left")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("clean_text",
        when(col("__spans").isNull, col("text")).otherwise(
          expr("""array_join(
                 |  transform(
                 |    filter(
                 |      transform(split(text, ' '), (t, i) -> named_struct('t', t, 'p', i + 1)),
                 |      x -> NOT exists(__spans, sp -> x.p >= sp.s AND x.p <= sp.e)),
                 |    x -> x.t),
                 |  ' ')""".stripMargin)))
      .withColumn("kept_tokens",
        when(col("__spans").isNull, col("n_tokens")).otherwise(
          col("n_tokens") - expr(
            "aggregate(__spans, 0L, (acc, sp) -> acc + (sp.e - sp.s + 1))")))
      .select("doc_id", "n_tokens", "kept_tokens", "clean_text")
  }
}
