package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 top-k retrieval over the documents corpus — the lexical
  * ranking half of a retrieval/RAG data pipeline (TF-IDF's production
  * sibling; `TrainingPrep.tfidfTopTerms` ranks terms within a doc, this
  * ranks docs against a query set).
  *
  * Query workload: the deterministic `doc_id % queryMod == 0` slice stands
  * in for a query log (the same stand-in convention as decontamination's
  * eval slice); each query is that document's `queryTerms` RAREST
  * informative terms (df ASC, term ASC — a total order), i.e. the keyword
  * extraction a retrieval service would do before hitting the index.
  *
  * Exactness (the DuckDB oracle replays bit-for-bit):
  *   - idf is truncated to INTEGER micro-nats, `max(floor(ln(1 + (N −
  *     df + 0.5) / (df + 0.5)) · 1e6), 1)` — Lucene BM25Similarity's
  *     floored variant of the Robertson idf (non-negative for every df,
  *     unlike the classic form which zeroes out on a small-vocabulary
  *     corpus), clamped to ≥ 1: the unfloored value is strictly
  *     positive but its FLOOR hits 0 once df ~ N past ~5e5 docs, and
  *     the clamp keeps common-term contributions monotone non-zero at
  *     any corpus size. One transcendental per DISTINCT term, the same
  *     single-`ln`-then-floor discipline as the LM-scoring family.
  *   - the tf normalization is EXACT RATIONAL arithmetic: with k1 = 6/5
  *     and b = 3/4 multiplied through by `10·T` (T = total corpus tokens,
  *     avgdl = T/N), the classic  tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *     becomes  22·T·tf / (10·T·tf + 3·T + 9·dl·N)  — integers end to
  *     end. The per-(query,doc,term) contribution is one integer floor
  *     division (`div` in Spark ≡ `//` in DuckDB on positive operands),
  *     widened through DECIMAL(38,0)/HUGEINT so `idf_micro · 22 · T · tf`
  *     cannot overflow 2^63 at any SF; the per-doc score is then an
  *     order-independent integer SUM.
  *
  * Scale shape (the sharded-BM25 plan): both rankers consume the
  * [[InvIndex]] relations — in production the MATERIALIZED
  * [[PostingsIndex]] table (written once, scanned by every retrieval
  * query; the registered queries use `PostingsIndex.ensure`), for
  * ad-hoc corpora the inline derivation. The index is deliberately
  * never `persist()`ed: Spark's CacheManager substitutes cached
  * fragments into ANY later query whose plan contains a
  * canonically-equal subtree (e.g. TF-IDF builds the same tf
  * aggregation), breaking that query's whole-stage pipeline and leaking
  * session-lifetime memory — measured as a 2.6× slowdown on
  * q_tfidf_terms and a 15% whole-bench drag. The (query,
  * term) table is model-sized and BROADCAST into the postings scan, so
  * only postings of SELECTED terms shuffle — selection is rarest-first
  * (df ASC) and the `maxDfDen` stop-term guard hard-bounds candidate
  * volume at queries · queryTerms · N/maxDfDen; the final per-query
  * top-k is `row_number ≤ k`, planned by
  * [[graft.plans.BoundedTopKStrategy]] as a two-phase bounded heap (no
  * global sort). Nothing here is all-pairs.
  *
  * Reference behavior anchor: the reference exposes no retrieval surface;
  * this extends the training-data-pipeline family (SURVEY §2 additions)
  * the same way TF-IDF/decontamination do.
  */
object Bm25 {

  /** Top `k` documents per query with exact integer BM25 micro-scores.
    * Output: (query_id, doc_id, n_terms, score_micro, doc_rank).
    *
    * `maxDfDen` is the stop-term guard: terms with df > N/maxDfDen never
    * enter query-term selection OR scoring — the candidate join's volume
    * bound (Σ df over chosen terms ≤ queries · queryTerms · N/maxDfDen).
    * On a Zipf vocabulary the guard is nearly free (rarest-first
    * selection avoids the head anyway); on a degenerate small-vocabulary
    * corpus it is what keeps candidates from approaching queries × N.
    * `maxDfDen = 1` disables it.
    *
    * Reads a pre-built (usually materialized — see [[PostingsIndex]])
    * inverted index: the production call shape, where the index is
    * written once and scanned by every retrieval query instead of
    * re-derived from the corpus per query. An ad-hoc corpus passes
    * `PostingsIndex.derive(documents)`. */
  def topKIndexed(idx: InvIndex, queryMod: Long, queryTerms: Int,
      k: Int, maxDfDen: Long): DataFrame = {
    val tf = idx.postings
    val dl = idx.doclen
    val totals = idx.totals
    val idf = idx.vocab.crossJoin(broadcast(totals))
      .filter(col("df") * maxDfDen <= col("nd")) // stop-term guard
      // Lucene's floored idf, clamped to >= 1 micro-nat: the unfloored
      // form is positive for every df, but the FLOOR reaches 0 once
      // df ~ N on a corpus past ~5e5 docs — the clamp keeps common-term
      // contributions monotone non-zero at every corpus size (a no-op at
      // the test SFs, where the smallest floored idf is well above 1)
      .withColumn("idf_micro",
        greatest(floor(log(lit(1.0) +
          (col("nd") - col("df") + 0.5) / (col("df") + 0.5)) * 1e6)
          .cast("long"), lit(1L)))
      .select("term", "df", "idf_micro")

    // keyword extraction: each query doc's rarest informative terms
    val qtf = tf.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("query_id"), col("term"))
    val qterms = idf.join(broadcast(qtf), "term")
      .withColumn("__r", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("df").asc, col("term").asc)))
      .filter(col("__r") <= queryTerms)
      .select("query_id", "term", "idf_micro")

    val cand = tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      // exact rational BM25 (k1=6/5, b=3/4 multiplied through by 10·T);
      // DECIMAL(38,0) keeps the product exact at any corpus size, and the
      // integer floor division matches DuckDB's HUGEINT `//` on positives
      .withColumn("sc_micro", expr(
        """CAST((CAST(idf_micro AS DECIMAL(38,0)) * 22 * tt * tf) div
          |     (CAST(10 AS DECIMAL(38,0)) * tt * tf + 3 * tt + 9 * dl * nd)
          |AS LONG)""".stripMargin))

    cand.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("sc_micro")).as("score_micro"))
      .withColumn("doc_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("doc_rank") <= k)
      .select("query_id", "doc_id", "n_terms", "score_micro", "doc_rank")
  }

  /** Query-likelihood retrieval (Ponte–Croft language-model ranking,
    * Dirichlet smoothing with mass `mu`) — the probabilistic complement
    * of [[topKIndexed]], over the SAME query log and postings shape. The naive
    * score Σ_{t∈q} ln((tf + μ·p(t|C)) / (dl + μ)) touches every
    * (query, doc) pair; the standard decomposition
    *
    *   Σ_{t∈q∩d} ln(1 + tf·T/(μ·ctf(t)))  +  |q| · ln(μ/(dl+μ))
    *
    * confines real work to MATCHED postings (first sum) plus a per-doc
    * constant — so the plan is the same broadcast-query candidate join
    * as BM25, and only candidate docs (≥1 matched term) are ranked, as
    * sharded retrieval does. Exactness: each matched term's contribution
    * and the per-doc constant are separately truncated to INTEGER
    * micro-nats (one elementwise ln each), the doc constant multiplies
    * by the integer query length AFTER flooring, and the per-doc score
    * is an order-independent integer sum.
    *
    * Output: (query_id, doc_id, n_terms, score_micro, doc_rank) — scores
    * are negative log-probabilities (micro-nats), larger = better.
    * Like [[topKIndexed]], it reads a pre-built index; an ad-hoc corpus
    * passes `PostingsIndex.derive(documents)`. */
  def queryLikelihoodTopKIndexed(idx: InvIndex, queryMod: Long,
      queryTerms: Int, k: Int, mu: Long, maxDfDen: Long): DataFrame = {
    val tf = idx.postings
    val dl = idx.doclen
    val totals = idx.totals
    val eligible = idx.vocab.crossJoin(broadcast(totals))
      .filter(col("df") * maxDfDen <= col("nd")) // stop-term guard
    // identical rarest-first keyword selection as BM25 (df depends only
    // on the corpus, so both rankers see the same queries)
    val qterms = eligible.join(broadcast(
        tf.filter(col("doc_id") % queryMod === 0)
          .select(col("doc_id").as("query_id"), col("term"))), "term")
      .withColumn("__r", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("df").asc, col("term").asc)))
      .filter(col("__r") <= queryTerms)
      .select("query_id", "term", "ctf")
    val qlen = qterms.groupBy("query_id").agg(count(lit(1)).as("qlen"))

    val cand = tf.join(broadcast(qterms), "term")
      .crossJoin(broadcast(totals))
      .withColumn("__m",
        floor(log(lit(1.0) +
          (col("tf").cast("double") * col("tt")) /
            (lit(mu) * col("ctf").cast("double"))) * 1e6).cast("long"))
    cand.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("__m")).as("__msum"))
      .join(dl, "doc_id")
      .join(broadcast(qlen), "query_id")
      .withColumn("score_micro", col("__msum") + col("qlen") *
        floor(log(lit(mu).cast("double") / (col("dl") + lit(mu))) * 1e6)
          .cast("long"))
      .withColumn("doc_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("doc_rank") <= k)
      .select("query_id", "doc_id", "n_terms", "score_micro", "doc_rank")
  }

  /** Offline retrieval evaluation: nDCG@k of a candidate ranking against
    * a graded relevance list — the metric an eval pipeline computes per
    * query over millions of queries (the lexical-family counterpart of
    * [[graft.sim]]'s RecallProbe). Discounted-cumulative-gain uses the
    * NATURAL-log discount (gain / ln(rank+1)): nDCG is invariant to the
    * log base up to flooring, and a base-2 constant would have to
    * constant-fold identically in two engines' libm — the natural form
    * keeps every term one elementwise ln like the rest of the library.
    *
    * Exactness: each position's discounted gain is floored to INTEGER
    * micro units before the per-query sum (order-independent); the final
    * ratio is one integer floor division, `dcg·1e6 div idcg`. Missing
    * docs carry gain 0; the ideal ranking is relevance DESC, doc_id ASC
    * over the SAME grade list, cut at k.
    *
    * Scale shape: both inputs are model-sized top-k lists (queries × k
    * rows); one left join + two per-query aggregations — nothing
    * corpus-sized. Output: (query_id, dcg_micro, idcg_micro, ndcg_micro). */
  def ndcgAtK(ranking: DataFrame, relevance: DataFrame,
      k: Int = 10): DataFrame = {
    val gains = ranking.select(col("query_id"), col("doc_id"),
        col("doc_rank"))
      .join(relevance.select(col("query_id"), col("doc_id"),
        col("rel")), Seq("query_id", "doc_id"), "left")
      .withColumn("__g",
        floor(coalesce(col("rel"), lit(0L)) * 1e6 /
          log(col("doc_rank") + 1)).cast("long"))
      .groupBy("query_id").agg(sum(col("__g")).as("dcg_micro"))
    val ideal = relevance
      .withColumn("__ir", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rel").desc, col("doc_id").asc)))
      .filter(col("__ir") <= k)
      .withColumn("__g",
        floor(col("rel") * 1e6 / log(col("__ir") + 1)).cast("long"))
      .groupBy("query_id").agg(sum(col("__g")).as("idcg_micro"))
    // inner join, then an explicit idcg > 0 guard: a query whose grades
    // are all <= 0 has no defined ideal, and an unguarded ratio diverges
    // across engines (Spark's non-ANSI div nulls, DuckDB's `//` errors) —
    // degenerate queries are dropped identically in both
    gains.join(ideal, "query_id")
      .filter(col("idcg_micro") > 0)
      .withColumn("ndcg_micro",
        expr("CAST(dcg_micro AS DECIMAL(38,0)) * 1000000 div " +
          "CAST(idcg_micro AS DECIMAL(38,0))"))
      .select("query_id", "dcg_micro", "idcg_micro", "ndcg_micro")
  }

  /** Ranking-independent graded relevance labels — the qrels a retrieval
    * eval judges against. Real evals use human judgments; this stand-in
    * derives the grade from CONTENT ONLY (distinct-token overlap between
    * the query document and the candidate), so unlike grades derived
    * from one of the evaluated rankers' own ranks it cannot favor either
    * system under test — the independence a real eval requires.
    *
    * Pool: candidates within `window` of the query doc_id (the bounded
    * judging pool human evals also use — nobody grades the full corpus).
    * Grade: `max(|distinct tokens(query) ∩ distinct tokens(doc)| −
    * relFloor, 0)`, positives only. Exact integers end to end.
    *
    * Scale shape: the query slice is model-sized and BROADCAST into the
    * doc_id-range pool join; grading is one distinct-pair count over
    * pool × shared-term rows (pool is queries × (2·window+1), never
    * corpus²). Output: (query_id, doc_id, rel), rel >= 1. */
  def tokenOverlapQrels(documents: DataFrame, queryMod: Long = 97,
      window: Long = 150L, relFloor: Long = 13L): DataFrame = {
    // r15 (guide §2.3 — filter before the exchange): only pool members
    // can ever be graded (the pool join restricts on doc_id), so the
    // distinct-token set is derived from the POOL's documents instead of
    // the whole corpus — the token-scale distinct exchange and the
    // doc_id join exchange both shrink to the judged fraction
    // (~2·window/queryMod of the corpus). Same rows out: restricting an
    // inner join's input to the keys the join keeps is an identity, and
    // the query slice's tokens are unchanged (filter commutes with the
    // per-doc distinct). Query docs are always in their own window, so
    // the pool covers them.
    def toksOf(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term")).distinct()
    val qtoks = toksOf(documents.filter(col("doc_id") % queryMod === 0))
      .select(col("doc_id").as("query_id"), col("term"))
    val pool = documents.select(col("doc_id"))
      .join(broadcast(qtoks.select("query_id").distinct()),
        col("doc_id") >= col("query_id") - window &&
          col("doc_id") <= col("query_id") + window)
    val poolToks = toksOf(
      documents.join(pool.select("doc_id").distinct(), "doc_id"))
    pool.join(poolToks, "doc_id")
      .join(broadcast(qtoks), Seq("query_id", "term"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("__shared"))
      .withColumn("rel", greatest(col("__shared") - relFloor, lit(0L)))
      .filter(col("rel") > 0)
      .select("query_id", "doc_id", "rel")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists —
    * the standard hybrid-retrieval combiner (lexical + semantic, or any
    * two rankers whose scores live on incomparable scales). Pure integer:
    * each list contributes `1000000 div (k0 + rank)` micro-units (0 when
    * the doc is absent from a list), summed and re-ranked. Inputs need
    * (query_id, doc_id, doc_rank); one full outer join on the two
    * model-sized top-k lists — nothing corpus-sized. */
  def rrfFuse(a: DataFrame, b: DataFrame, k0: Long = 60L,
      k: Int = 10): DataFrame = {
    val aa = a.select(col("query_id"), col("doc_id"),
      col("doc_rank").as("__ra"))
    val bb = b.select(col("query_id"), col("doc_id"),
      col("doc_rank").as("__rb"))
    aa.join(bb, Seq("query_id", "doc_id"), "full")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000L div ($k0 + __ra)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($k0 + __rb)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("fused_rank") <= k)
      .select("query_id", "doc_id", "rrf_micro", "fused_rank")
  }
}
