package graft
package text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryShared.{SqlHash, sqlJaccardCtes, sqlWinnowCtes}
import graft.SparkEntry.{BigramMinCount, BoilerplateMinDocs, JaccardMaxDocId,
  JaccardThreshold}
import graft.dedup.Dedup
import graft.functions.GraftFunctions
import graft.sim.Similarity

/** Text analysis, co-occurrence mining, training-data preparation,
  * tokenizer training, LM statistics and retrieval queries (the
  * `text_prep` family). */
object TextQueries {

  /** One-row content digest of a written postings index: EVERY relation
    * contributes aggregated content, not just a row count — vocab
    * (count, max df, Σctf), postings (count, Σtf), doclen (count, Σdl),
    * totals (nd, tt) — so a truncated shard or a corrupted value in any
    * of the four relations breaks the oracle hash. The crossJoins are
    * all 1-row aggregates (model-sized by construction). Shared by
    * `q_postings_build` and `q_postings_build_incremental`, whose DuckDB
    * oracle re-derives the same nine quantities from scratch. */
  private def indexDigest(idx: graft.text.InvIndex): DataFrame =
    idx.vocab.agg(
        count(lit(1)).as("n_terms"),
        max(col("df")).as("max_df"),
        sum(col("ctf")).as("sum_ctf"))
      .crossJoin(idx.postings.agg(
        count(lit(1)).as("n_postings"),
        sum(col("tf")).as("sum_tf")))
      .crossJoin(idx.doclen.agg(
        count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl")))
      .crossJoin(idx.totals.select(col("nd"), col("tt")))

  /** Materialize a tiny (model-sized, here one-row) result eagerly, then
    * delete the throwaway directory it was derived from — the index-
    * build queries' cleanup: without it, bench/correctness harnesses
    * re-running the query accumulate full index copies under tmpdir.
    * Returns the rows as a local-relation DataFrame so the caller's
    * lazy-DataFrame contract is preserved after the files are gone. */
  private def materializeThenDelete(s: SparkSession, df: DataFrame,
      dir: java.nio.file.Path): DataFrame = {
    val rows = df.collect()
    scala.util.Try(graft.text.PostingsIndex.deleteRecursively(dir))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Deterministic synthetic boilerplate: an 8-word header (two variants)
    * prepended to 4 of 5 documents — the corpus itself has no repeated
    * segments, so the strip operator needs planted ones, exactly as the
    * PII scrubber plants contact strings. Kept in lockstep with the
    * `q_boilerplate_strip` oracle's `d0` CTE. */
  private def withBoilerplate(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 5 < 4,
        concat(lit("© graft corp all rights reserved footer v"),
          col("doc_id") % 2, lit(" "), col("text")))
        .otherwise(col("text")))

  /** DuckDB fragments of the language-ID heuristic, shared by the langid
    * and corpus-curation oracles. */
  private lazy val sqlLangScores: String = TextAnalysis.langOrder.map { l =>
    val set = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(w, x -> list_contains($set, x))) * 1.0 / len(w) AS raw_$l"
  }.mkString(",\n  ")

  /** Shared CTE prefix for the Naive Bayes oracles: train slice → per-class
    * term counts → full smoothed log-likelihood grid, mirroring
    * [[graft.text.NaiveBayes.model]] micro-nat for micro-nat. */
  private lazy val nbCtes: String =
    """WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
      |t AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS term FROM train),
      |tc AS (SELECT label, term, CAST(count(*) AS BIGINT) AS term_n FROM t GROUP BY 1, 2),
      |ct AS (SELECT label, CAST(sum(term_n) AS BIGINT) AS class_tokens FROM tc GROUP BY 1),
      |vocab AS (SELECT DISTINCT term FROM tc),
      |v AS (SELECT CAST(count(*) AS BIGINT) AS vn FROM vocab),
      |grid AS (SELECT ct.label, vocab.term,
      |    CAST(coalesce(tc.term_n, 0) AS BIGINT) AS term_n,
      |    CAST(floor(ln((coalesce(tc.term_n, 0) + 1) / CAST(ct.class_tokens + v.vn AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
      |  FROM ct CROSS JOIN vocab CROSS JOIN v
      |  LEFT JOIN tc ON tc.label = ct.label AND tc.term = vocab.term)""".stripMargin

  /** Extends [[nbCtes]] with per-class priors/OOV mass and held-out
    * per-(doc, class) scores — shared by the predict and eval oracles. */
  private lazy val nbScoreCtes: String = nbCtes +
    """,
      |priors AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs FROM train GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM train),
      |cls AS (SELECT priors.label,
      |    CAST(floor(ln(priors.n_docs / CAST(tot.n_total AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micro,
      |    CAST(floor(ln(1 / CAST(ct.class_tokens + v.vn AS DOUBLE)) * 1e6) AS BIGINT) AS unseen_micro
      |  FROM priors JOIN ct USING (label) CROSS JOIN tot CROSS JOIN v),
      |ap AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE doc_id % 5 = 0),
      |sc AS (SELECT ap.doc_id, cls.label,
      |    cls.prior_micro + CAST(sum(coalesce(g.lp_micro, cls.unseen_micro)) AS BIGINT) AS score_micro,
      |    CAST(count(*) AS BIGINT) AS n_tokens
      |  FROM ap CROSS JOIN cls
      |  LEFT JOIN grid g ON g.label = cls.label AND g.term = ap.term
      |  GROUP BY ap.doc_id, cls.label, cls.prior_micro),
      |pred AS (SELECT doc_id, label AS pred_label, score_micro, n_tokens
      |  FROM (SELECT sc.*, row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, label ASC) AS rn FROM sc)
      |  WHERE rn = 1)""".stripMargin

  private lazy val sqlLangPred: String = {
    val arms = TextAnalysis.langOrder.map { l =>
      val others = TextAnalysis.langOrder.filter(_ != l)
        .map(o => s"raw_$l >= raw_$o").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString(" ")
    s"CASE $arms ELSE 'zh' END"
  }

  /** DuckDB CTEs for the curation gates (language + quality + exact-dedup
    * keepers) over `documents WHERE docFilter` — shared by the curate
    * capstone and the training manifest. */
  private def sqlCurateCtes(docFilter: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS w,
       |         CAST(length(text) AS BIGINT) AS n_chars_actual,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE $docFilter
       |), lang AS (
       |  SELECT doc_id, $sqlLangPred AS pred_lang
       |  FROM (SELECT doc_id, $sqlLangScores FROM d)
       |), qual AS (
       |  SELECT doc_id, n_tokens,
       |    ${TextAnalysis.floor6Sql("least(n_tokens / 100.0, 1.0) * 0.5 + least(avg_token_len / 8.0, 1.0) * 0.3 + stopword_ratio * 0.2")} AS quality_score
       |  FROM (SELECT doc_id, n_tokens,
       |          ${TextAnalysis.floor6Sql("(n_chars_actual - (n_tokens - 1)) * 1.0 / n_tokens")} AS avg_token_len,
       |          ${TextAnalysis.floor6Sql("len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0 / n_tokens")} AS stopword_ratio
       |        FROM d)
       |), keep AS (
       |  SELECT min(doc_id) AS doc_id FROM documents WHERE $docFilter GROUP BY lower(trim(text))
       |)""".stripMargin

  /** From-scratch re-derivation of [[indexDigest]]'s nine quantities —
    * the shared oracle of both index-build jobs (full and incremental).
    * Column names/order must match indexDigest positionally. */
  private lazy val sqlIndexDigest: String =
    s"""WITH $sqlRetrievalCtes
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM voc) AS n_terms,
       |       (SELECT max(df) FROM voc) AS max_df,
       |       (SELECT CAST(sum(ctf) AS BIGINT) FROM voc) AS sum_ctf,
       |       (SELECT CAST(count(*) AS BIGINT) FROM tf) AS n_postings,
       |       (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS sum_tf,
       |       (SELECT CAST(count(*) AS BIGINT) FROM dl) AS n_docs,
       |       (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS sum_dl,
       |       (SELECT nd FROM tot) AS nd,
       |       (SELECT tt FROM tot) AS tt""".stripMargin

  /** Shared retrieval CTE chain (the materialized postings index, the
    * rarest-16 / mod-997 keyword query log, and BOTH rankers — BM25 as
    * `bmr`, query-likelihood as `qlr`), replaying [[graft.text.Bm25]]
    * expression for expression: every transcendental is a single
    * elementwise `ln` floored to integer micro units, the BM25 tf
    * normalization is a HUGEINT floor division (≡ Spark DECIMAL(38,0)
    * `div` on positives), and the QL per-doc Dirichlet constant is
    * floored BEFORE the integer qlen multiply. Composed by the
    * q_bm25_topk / q_ql_topk / q_hybrid_rrf oracles. */
  private lazy val sqlRetrievalCtes: String =
    """t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tt, CAST(count(*) AS BIGINT) AS nd FROM dl),
      |voc AS (SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
      |qsel AS (SELECT tf.doc_id AS query_id, tf.term, ctf,
      |        row_number() OVER (PARTITION BY tf.doc_id
      |          ORDER BY df ASC, tf.term ASC) AS r
      |      FROM tf JOIN voc USING (term) WHERE tf.doc_id % 997 = 0),
      |qt AS (SELECT query_id, term, ctf FROM qsel WHERE r <= 16),
      |qlen AS (SELECT query_id, CAST(count(*) AS BIGINT) AS qlen FROM qt GROUP BY 1),
      |bmidf AS (SELECT term,
      |        greatest(CAST(floor(ln(1 + (nd - df + 0.5) / (df + 0.5)) * 1e6) AS BIGINT), 1) AS idf_micro
      |      FROM voc CROSS JOIN tot),
      |bms AS (SELECT qt.query_id, tf.doc_id,
      |        CAST((CAST(idf_micro AS HUGEINT) * 22 * tt * tf) //
      |             (CAST(10 AS HUGEINT) * tt * tf + 3 * tt + 9 * dl * nd) AS BIGINT) AS sc_micro
      |      FROM tf JOIN qt USING (term) JOIN bmidf USING (term)
      |        JOIN dl USING (doc_id) CROSS JOIN tot),
      |bmp AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |         CAST(sum(sc_micro) AS BIGINT) AS score_micro
      |       FROM bms GROUP BY 1, 2),
      |bmr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS doc_rank
      |       FROM bmp),
      |qls AS (SELECT qt.query_id, tf.doc_id,
      |        CAST(floor(ln(1.0 + (CAST(tf AS DOUBLE) * tt) / (2000 * CAST(ctf AS DOUBLE))) * 1e6) AS BIGINT) AS m_micro
      |      FROM tf JOIN qt USING (term) CROSS JOIN tot),
      |qlp AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |         CAST(sum(m_micro) AS BIGINT) AS msum
      |       FROM qls GROUP BY 1, 2),
      |qld AS (SELECT query_id, qlp.doc_id, n_terms,
      |        msum + qlen * CAST(floor(ln(CAST(2000 AS DOUBLE) / (dl + 2000)) * 1e6) AS BIGINT) AS score_micro
      |      FROM qlp JOIN dl USING (doc_id) JOIN qlen USING (query_id)),
      |qlr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS doc_rank
      |       FROM qld)""".stripMargin

  /** DuckDB replay of [[graft.text.BpeTrain.train]]: `rounds` chained
    * CTE blocks — per round a pair count (`p{r}`), the deterministic
    * argmax (`b{r}`, count DESC / pair ASC), and the greedy left-fold
    * merge application (`w{r+1}`, `list_reduce` — the exact fold
    * `BpeTrain.applyMerge` runs as a Spark `aggregate` HOF). CTEs are
    * MATERIALIZED so each round evaluates once. Returns the full WITH
    * clause (starting at `w0`); the caller appends its final SELECT. */
  private def sqlBpeCtes(rounds: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |         array_to_string(string_split(word, ''), ' ') || ' _' AS cur
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE regexp_full_match(word, '[a-z]+')
        |  GROUP BY 1)""".stripMargin
    val perRound = (0 until rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq,
         |          unnest(list_transform(range(1, len(string_split(cur, ' '))),
         |            __i -> string_split(cur, ' ')[__i] || ' ' || string_split(cur, ' ')[__i + 1])) AS pair
         |        FROM w$r)
         |  GROUP BY 1),
         |b$r AS MATERIALIZED (
         |  SELECT pair, n, split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs,
         |         replace(pair, ' ', '') AS mrg
         |  FROM p$r ORDER BY n DESC, pair ASC LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT w.word, w.freq,
         |    CASE WHEN b.pair IS NULL THEN w.cur
         |    ELSE list_reduce(string_split(w.cur, ' '), (__acc, __x) ->
         |      CASE WHEN __x = b.rhs AND (__acc = b.lhs OR ends_with(__acc, ' ' || b.lhs))
         |           THEN CASE WHEN __acc = b.lhs THEN b.mrg
         |                ELSE left(__acc, length(__acc) - length(b.lhs)) || b.mrg END
         |           ELSE __acc || ' ' || __x END)
         |    END AS cur
         |  FROM w$r w LEFT JOIN b$r b ON TRUE)""".stripMargin
    }
    (w0 +: perRound).mkString("WITH ", ",\n", "")
  }

  def queries: Seq[GraftQuery] = Seq(
    // Market-basket frequent pairs over order baskets: joint + marginal
    // counts and integer-scaled lift/confidence for every part pair
    // co-purchased in >= 2 orders. The pair expansion is co-partitioned
    // on the order key and bounded by C(basket,2); the support filter
    // prunes the singleton tail right after the map-side-combined count
    GraftQuery("q_frequent_pairs", (s, dir) =>
      graft.ops.Association.frequentPairs(
        Tables.table(s, dir, "lineitem")
          .select(col("l_orderkey").as("basket"),
            col("l_partkey").as("item")),
        minSupport = 2),
      """WITH bk AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |  FROM lineitem),
         |""".stripMargin + graft.ops.Association.oracleSql(minSupport = 2)),

    // PMI collocations over the document corpus: count-pruned adjacent
    // word pairs scored by integer micro-nat pointwise mutual
    // information — multiword-expression detection for vocab curation.
    // Both aggregations combine map-side; the joins are vocab-sized
    GraftQuery("q_pmi_collocations", (s, dir) =>
      graft.text.TextAnalysis.collocations(
        Tables.documents(s, dir), minCount = 5),
      "WITH docs AS (SELECT text FROM documents),\n" +
        graft.text.TextAnalysis.collocationsOracleSql(minCount = 5)),

    // Reciprocal-rank fusion of three supplier scoreboards (revenue,
    // distinct customers, distinct orders) — the retrieval-tier fusion
    // operator exercised on exact lists. Lists are dimension-sized by
    // contract; fusion is one union + one map-side-combined aggregation
    GraftQuery("q_rank_fusion", (s, dir) => {
      val li = Tables.table(s, dir, "lineitem")
      // DECIMAL(18,2) sum: the ranking key must be EXACT — a double sum
      // here rank-swaps float-near-tied suppliers between engines (caught
      // by the sf1 gate: 1681 rrf rows off after one adjacent swap)
      val rev = li.groupBy(col("l_suppkey").as("key"))
        .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))")).as("score"))
      val cust = li.select("l_orderkey", "l_suppkey")
        .join(Tables.table(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").as("key"))
        .agg(countDistinct(col("o_custkey")).as("score"))
      val ord = li.groupBy(col("l_suppkey").as("key"))
        .agg(countDistinct(col("l_orderkey")).as("score"))
      graft.ops.RankFusion.fuse(Seq(rev, cust, ord))
    },
      """WITH l1 AS (SELECT l_suppkey AS key,
         |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS score
         |  FROM lineitem GROUP BY 1),
         |l2 AS (SELECT l_suppkey AS key, count(DISTINCT o_custkey) AS score
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
         |l3 AS (SELECT l_suppkey AS key, count(DISTINCT l_orderkey) AS score
         |  FROM lineitem GROUP BY 1),
         |""".stripMargin +
        graft.ops.RankFusion.oracleSql(Seq("l1", "l2", "l3"))),

    // ---- LLM-data-pipeline extensions (SURVEY §7.2 step 8) -----------------
    // Text analysis: stopword-profile language ID (argmax w/ fixed tiebreak)
    GraftQuery("q_text_langid", (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)),
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id,
         |  $sqlLangScores
         |FROM d)
         |SELECT doc_id,
         |  ${TextAnalysis.langOrder.map(l => s"${TextAnalysis.floor6Sql(s"raw_$l")} AS score_$l").mkString(", ")},
         |  $sqlLangPred AS pred_lang
         |FROM s""".stripMargin),

    // Text analysis: structural quality scoring
    GraftQuery("q_text_quality", (s, dir) => TextAnalysis.quality(Tables.documents(s, dir)),
      s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |         CAST(length(text) AS BIGINT) AS n_chars_actual,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, n_chars_actual, n_tokens,
        |    ${TextAnalysis.floor6Sql("(n_chars_actual - (n_tokens - 1)) * 1.0 / n_tokens")} AS avg_token_len,
        |    ${TextAnalysis.floor6Sql("len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0 / n_tokens")} AS stopword_ratio
        |  FROM d
        |)
        |SELECT doc_id, n_chars_actual, n_tokens, avg_token_len, stopword_ratio,
        |  ${TextAnalysis.floor6Sql("least(n_tokens / 100.0, 1.0) * 0.5 + least(avg_token_len / 8.0, 1.0) * 0.3 + stopword_ratio * 0.2")} AS quality_score
        |FROM f""".stripMargin),

    // Text analysis: whitespace / regex-subword / BPE-estimate token counts
    GraftQuery("q_token_count", (s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir)),
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS BIGINT) AS subword_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
        |FROM documents""".stripMargin),

    // Text analysis: FNV-1a64 fingerprints via custom codegen'd Expression
    // — oracle replays the hash in SQL (HUGEINT mod-2^64, see SqlHash)
    GraftQuery("q_doc_fingerprint", (s, dir) => {
      GraftFunctions.register(s)
      TextAnalysis.fingerprints(Tables.documents(s, dir))
    },
      // the custom Fnv1a64 Catalyst expression replayed in SQL: HUGEINT
      // mod-2^64 fold over the bytes (ord == UTF-8 byte on the ASCII corpus)
      s"""SELECT doc_id,
         |  ${SqlHash.toSigned(SqlHash.fnv1a64("text", "__a", "__b"))} AS doc_fp,
         |  list_min(list_transform(string_split(text, ' '),
         |    __w -> ${SqlHash.toSigned(SqlHash.fnv1a64("__w", "__a2", "__b2"))})) AS min_token_fp
         |FROM documents""".stripMargin),

    // Text analysis: winnowed rolling-hash fingerprints (custom codegen'd
    // Expression) — oracle replays the polynomial hash + window minima
    GraftQuery("q_doc_winnow", (s, dir) => {
      GraftFunctions.register(s)
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir))
    },
      // the Winnow expression replayed in SQL. The k-gram hash is the plain
      // base-257 polynomial mod 2^64 (the Scala kernel's rolling update is
      // an optimization of the same value), and the winnowed VALUE set is
      // exactly the distinct sliding-window minima — the rightmost-tie rule
      // picks positions, never changes the selected value — compared as
      // SIGNED longs on both sides
      sqlWinnowCtes(k = 8, w = 16) + """
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps, list_min(fps) AS fp_min,
        |  CASE WHEN len(fps) = 0 THEN 0
        |       ELSE list_reduce(list_prepend(0::BIGINT, fps), (__a, __b) -> xor(__a, __b)) END AS fp_xor
        |FROM sel""".stripMargin),

    // Training prep: GPT-style sequence packing — per-shard concat-then-
    // chunk layout; one hash shuffle on shard, partitioned running sum
    GraftQuery("q_seq_pack", (s, dir) =>
      graft.text.TrainingPrep.packSequences(Tables.documents(s, dir),
        maxTokens = 256),
      """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), 1) AS n_tokens
        |  FROM documents
        |), o AS (
        |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_offset
        |  FROM d
        |)
        |SELECT doc_id, shard, n_tokens,
        |  end_offset - n_tokens AS start_offset, end_offset,
        |  (end_offset - n_tokens) // 256 AS first_seq,
        |  (end_offset - 1) // 256 AS last_seq,
        |  (end_offset - n_tokens) // 256 <> (end_offset - 1) // 256 AS straddles
        |FROM o""".stripMargin),

    // Training prep: deterministic id-keyed train/val/test split (scan-only)
    GraftQuery("q_train_val_split", (s, dir) =>
      graft.text.TrainingPrep.trainValSplit(Tables.documents(s, dir)),
      """SELECT doc_id, doc_id % 100 AS split_key,
        |  CASE WHEN doc_id % 100 < 90 THEN 'train'
        |       WHEN doc_id % 100 < 95 THEN 'val' ELSE 'test' END AS split,
        |  greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), 1) AS n_tokens
        |FROM documents""".stripMargin),

    // Training prep: TF-IDF top terms per doc (two aggs + broadcast df)
    GraftQuery("q_tfidf_terms", (s, dir) =>
      graft.text.TrainingPrep.tfidfTopTerms(Tables.documents(s, dir)),
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
         |dfr AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
         |s AS (SELECT doc_id, tf.term, tf, df,
         |        ${TextAnalysis.floor6Sql("tf * ln((n_docs + 1) / (df + 1.0))")} AS tfidf
         |      FROM tf JOIN dfr USING (term) CROSS JOIN n),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS term_rank
         |      FROM s)
         |SELECT doc_id, term, tf, df, tfidf, term_rank FROM r WHERE term_rank <= 3""".stripMargin),

    // Retrieval: Okapi BM25 top-10 per query — rarest-16 keyword queries
    // from the eval slice; Lucene-floored idf in integer micro-nats +
    // EXACT RATIONAL tf normalization (k1=6/5, b=3/4 multiplied
    // through); query terms broadcast into the postings scan (candidate
    // volume = sum of the chosen rare terms' df), per-query top-k
    // bounded. The synthetic corpus has a head-only ~31-term vocabulary
    // (no informative tail), so the stop-term guard that bounds real
    // corpora would empty every query here: the guard is DISABLED
    // (maxDfDen=1) and candidate volume is bounded by the 1-per-997
    // query log instead. All four retrieval queries run over the
    // MATERIALIZED postings index (PostingsIndex.ensure: built once per
    // session under the temp dir, scanned by every retrieval query —
    // the production shape the Bm25 scale note names; r11 measured and
    // rejected the persist() alternative)
    GraftQuery("q_bm25_topk", (s, dir) =>
      graft.text.Bm25.topKIndexed(graft.text.PostingsIndex.ensure(s, dir),
        queryMod = 997, queryTerms = 16, k = 10, maxDfDen = 1),
      // BM25: idf micro-nats (one ln per distinct term) + exact rational tf
      // normalization — 22·T·tf / (10·T·tf + 3·T + 9·dl·N) with HUGEINT
      // floor division ≡ Spark's DECIMAL(38,0) `div` on positive operands
      s"""WITH $sqlRetrievalCtes
         |SELECT query_id, doc_id, n_terms, score_micro, doc_rank
         |FROM bmr WHERE doc_rank <= 10""".stripMargin),

    // Retrieval: query-likelihood (Dirichlet-smoothed LM) ranking over
    // the SAME query log and the SAME materialized index — matched-
    // postings decomposition, so the plan is the identical broadcast-
    // candidate join (see q_bm25_topk note on the disabled stop-term
    // guard)
    GraftQuery("q_ql_topk", (s, dir) =>
      graft.text.Bm25.queryLikelihoodTopKIndexed(
        graft.text.PostingsIndex.ensure(s, dir),
        queryMod = 997, queryTerms = 16, k = 10, mu = 2000L,
        maxDfDen = 1),
      // query likelihood: matched-postings micro-nats + qlen × the per-doc
      // Dirichlet constant floored BEFORE the integer multiply
      s"""WITH $sqlRetrievalCtes
         |SELECT query_id, doc_id, n_terms, score_micro, doc_rank
         |FROM qlr WHERE doc_rank <= 10""".stripMargin),

    // Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
    // probabilistic (QL) top-10 lists — pure integer 1e6/(60+rank)
    // contributions over two model-sized inputs, both branches scanning
    // the shared materialized index
    GraftQuery("q_hybrid_rrf", (s, dir) => {
      val idx = graft.text.PostingsIndex.ensure(s, dir)
      graft.text.Bm25.rrfFuse(
        graft.text.Bm25.topKIndexed(idx, queryMod = 997, queryTerms = 16,
          k = 10, maxDfDen = 1),
        graft.text.Bm25.queryLikelihoodTopKIndexed(idx, queryMod = 997,
          queryTerms = 16, k = 10, mu = 2000L, maxDfDen = 1))
    },
      // RRF: integer 1000000 // (60 + rank) over the two top-10 lists,
      // full-join-merged; absent list membership contributes 0
      s"""WITH $sqlRetrievalCtes,
         |fa AS (SELECT query_id, doc_id, doc_rank AS ra FROM bmr WHERE doc_rank <= 10),
         |fb AS (SELECT query_id, doc_id, doc_rank AS rb FROM qlr WHERE doc_rank <= 10),
         |fu AS (SELECT query_id, doc_id,
         |         coalesce(1000000 // (60 + ra), 0) + coalesce(1000000 // (60 + rb), 0) AS rrf_micro
         |       FROM fa FULL JOIN fb USING (query_id, doc_id)),
         |fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS fused_rank
         |       FROM fu)
         |SELECT query_id, doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro, fused_rank
         |FROM fr WHERE fused_rank <= 10""".stripMargin),

    // Index maintenance: the materialized postings-index BUILD job
    // itself, first-class (r13) — previously its ~seconds cost was
    // visible only as contamination of the first retrieval query's
    // warm-up sample. Forces a FRESH build (never the session cache)
    // through the atomic staging path into a unique temp dir, then
    // digests the round-tripped index into one summary row, so the
    // oracle verifies the whole written index content against a
    // from-scratch derivation. r14: the digest now aggregates EVERY
    // relation's content (postings tf sum, doclen count+sum — not just
    // their row counts), so a truncated doclen shard or a corrupted tf
    // value inside a postings row breaks the hash; and the one-row
    // digest is materialized eagerly so the throwaway index dir is
    // deleted before the query returns (bench/correctness harnesses run
    // each query several times — without the eager cleanup, full
    // sf-sized index copies accumulated unbounded under tmpdir).
    GraftQuery("q_postings_build", (s, dir) => {
      val out = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-postings-build",
        "idx-" + java.util.UUID.randomUUID.toString.take(8))
      val idx = graft.text.PostingsIndex.buildAtomic(
        Tables.documents(s, dir), s, out.toString)
      materializeThenDelete(s, indexDigest(idx), out)
    },
      // postings-index build digest: the index is a pure function of the
      // corpus, so the oracle re-derives tf/dl/voc/tot from documents and
      // digests them — any drift in the written index's content (a lost
      // posting, a wrong df/ctf/tf/dl, a truncated shard in ANY of the
      // four relations) breaks the hash. The incremental build shares the
      // digest: delta + merge + compaction must equal the from-scratch
      // derivation exactly.
      sqlIndexDigest),

    // Index maintenance, INCREMENTAL (r14): the production posture where
    // corpus growth costs a DELTA, not a rebuild. Splits the corpus into
    // a standing part (6/7 of docs) and an arrival batch (1/7), builds
    // the standing segmented index, lands the arrivals via
    // PostingsSegments.appendDelta — which scans ONLY the new docs —
    // then compacts (generation flip) and digests the compacted index.
    // The oracle is the SAME from-scratch full-corpus derivation as
    // q_postings_build: delta + merge + compaction must equal a full
    // rebuild bit-for-bit on every relation's aggregated content.
    GraftQuery("q_postings_build_incremental", (s, dir) => {
      val out = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-postings-incr",
        "idx-" + java.util.UUID.randomUUID.toString.take(8))
      val docs = Tables.documents(s, dir)
      graft.text.PostingsSegments.init(
        docs.filter(col("doc_id") % 7 =!= 0), s, out.toString)
      graft.text.PostingsSegments.appendDelta(
        docs.filter(col("doc_id") % 7 === 0), s, out.toString)
      graft.text.PostingsSegments.compact(s, out.toString)
      val idx = graft.text.PostingsSegments.readMerged(s, out.toString)
      materializeThenDelete(s, indexDigest(idx), out)
    },
      sqlIndexDigest),

    // Data mixing: EXACT-SIZE token-weighted sample without replacement
    // (Efraimidis-Spirakis hash-exponential keys: one scan + one bounded
    // global top-k — the distributed reservoir)
    GraftQuery("q_weighted_sample", (s, dir) =>
      graft.text.TrainingPrep.weightedSample(Tables.documents(s, dir)),
      // A-ES weighted sample: xxh64(doc_id) replayed step-for-step, then
      // the key is elementwise IEEE (cast, power-of-two scale, one ln, one
      // divide) truncated to micro before the global bounded top-k
      {
        val (steps, hCol) = SqlHash.xxh64LongSteps("doc_id::HUGEINT", "42", "__ws")
        val inner = SqlHash.applySteps(
          "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",
          steps)
        s"""WITH h AS (SELECT doc_id, n_tokens, ${SqlHash.toSigned(hCol)} AS hv FROM ($inner)),
           |k AS (SELECT doc_id, n_tokens,
           |        CAST(floor(ln(CAST(hv AS DOUBLE) / CAST(18446744073709551616 AS DOUBLE) + 0.5 + 1e-12)
           |             / n_tokens * 1e6) AS BIGINT) AS key_micro
           |      FROM h),
           |r AS (SELECT *, CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id ASC) AS BIGINT) AS sample_rank
           |      FROM k)
           |SELECT doc_id, n_tokens, key_micro, sample_rank
           |FROM r WHERE sample_rank <= 500""".stripMargin
      }),

    // Retrieval eval: per-query nDCG@10 of the hybrid (RRF) ranking
    // judged by RANKING-INDEPENDENT token-overlap qrels (grades derived
    // from content only — distinct-token overlap with the query doc over
    // a ±150 judging pool — so the eval cannot favor either ranker under
    // test, unlike the r11 QL-derived grades). Model-sized inputs,
    // natural-log discount, integer micro units end to end; both ranking
    // branches scan the shared materialized index
    GraftQuery("q_retrieval_ndcg", (s, dir) => {
      val idx = graft.text.PostingsIndex.ensure(s, dir)
      val bm = graft.text.Bm25.topKIndexed(idx, queryMod = 997,
        queryTerms = 16, k = 10, maxDfDen = 1)
      val ql = graft.text.Bm25.queryLikelihoodTopKIndexed(idx,
        queryMod = 997, queryTerms = 16, k = 10, mu = 2000L, maxDfDen = 1)
      graft.text.Bm25.ndcgAtK(
        graft.text.Bm25.rrfFuse(bm, ql)
          .withColumnRenamed("fused_rank", "doc_rank"),
        graft.text.Bm25.tokenOverlapQrels(Tables.documents(s, dir),
          queryMod = 997))
    },
      // nDCG: floored natural-log-discounted micro gains, integer sums,
      // one HUGEINT floor division for the ratio; grades are the
      // RANKING-INDEPENDENT token-overlap qrels (distinct shared tokens
      // with the query doc over the ±150 judging pool, floor 13), replayed
      // expression for expression
      s"""WITH $sqlRetrievalCtes,
         |fa AS (SELECT query_id, doc_id, doc_rank AS ra FROM bmr WHERE doc_rank <= 10),
         |fb AS (SELECT query_id, doc_id, doc_rank AS rb FROM qlr WHERE doc_rank <= 10),
         |fu AS (SELECT query_id, doc_id,
         |         coalesce(1000000 // (60 + ra), 0) + coalesce(1000000 // (60 + rb), 0) AS rrf_micro
         |       FROM fa FULL JOIN fb USING (query_id, doc_id)),
         |fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS fused_rank
         |       FROM fu),
         |hk AS (SELECT query_id, doc_id, fused_rank AS doc_rank FROM fr WHERE fused_rank <= 10),
         |dtok AS (SELECT DISTINCT doc_id, term FROM t),
         |qrd AS (SELECT doc_id AS query_id, term FROM dtok WHERE doc_id % 997 = 0),
         |qrpool AS (SELECT q.query_id, d.doc_id
         |           FROM (SELECT DISTINCT query_id FROM qrd) q
         |           JOIN (SELECT doc_id FROM documents) d
         |             ON d.doc_id BETWEEN q.query_id - 150 AND q.query_id + 150),
         |rel AS (SELECT p.query_id, p.doc_id,
         |          greatest(CAST(count(*) AS BIGINT) - 13, 0) AS rel
         |        FROM qrpool p
         |        JOIN dtok b ON b.doc_id = p.doc_id
         |        JOIN qrd a ON a.query_id = p.query_id AND a.term = b.term
         |        GROUP BY 1, 2
         |        HAVING greatest(CAST(count(*) AS BIGINT) - 13, 0) > 0),
         |g AS (SELECT hk.query_id,
         |        CAST(floor(coalesce(rel, 0) * 1e6 / ln(doc_rank + 1)) AS BIGINT) AS gmic
         |      FROM hk LEFT JOIN rel USING (query_id, doc_id)),
         |dcg AS (SELECT query_id, CAST(sum(gmic) AS BIGINT) AS dcg_micro FROM g GROUP BY 1),
         |ig AS (SELECT query_id, rel, doc_id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS ir
         |      FROM rel),
         |idcg AS (SELECT query_id,
         |          CAST(sum(CAST(floor(rel * 1e6 / ln(ir + 1)) AS BIGINT)) AS BIGINT) AS idcg_micro
         |        FROM ig WHERE ir <= 10 GROUP BY 1)
         |SELECT query_id, dcg_micro, idcg_micro,
         |  CAST((CAST(dcg_micro AS HUGEINT) * 1000000) // idcg_micro AS BIGINT) AS ndcg_micro
         |FROM dcg JOIN idcg USING (query_id)
         |WHERE idcg_micro > 0""".stripMargin),

    // Leakage-safe split: train/val/test assigned per NEAR-DUP CLUSTER
    // (hash of the cluster root), so correlated documents never straddle
    // the eval boundary; unclustered docs hash on their own id
    GraftQuery("q_leakage_safe_split", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.text.TrainingPrep.leakageSafeSplit(docs,
        Dedup.dupClusters(Dedup.ngramJaccardPairs(
          docs, JaccardThreshold, JaccardMaxDocId)))
    },
      // leakage-safe split: the recursive-CTE transitive closure (the
      // q_dedup_clusters oracle) feeds a LEFT JOIN + coalesce group key,
      // then xxh64(group_key) is replayed step-for-step into the 90/5/5 gate
      {
        val clusterSql = sqlJaccardCtes.replace("WITH ", "WITH RECURSIVE ") + s""",
           |edges AS (SELECT doc_a AS s, doc_b AS d FROM jpairs
           |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
           |reach(node, r) AS (
           |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t
           |  UNION
           |  SELECT re.node, e.d FROM reach re JOIN edges e ON e.s = re.r
           |)
           |SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node""".stripMargin
        val (steps, hCol) = SqlHash.xxh64LongSteps("group_key::HUGEINT", "42", "__ls")
        val inner = SqlHash.applySteps(
          s"""SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_key
             |FROM documents d LEFT JOIN ($clusterSql) c ON d.doc_id = c.doc_id""".stripMargin,
          steps)
        s"""SELECT doc_id, group_key,
           |  CAST(((hv % 100) + 100) % 100 AS BIGINT) AS split_key,
           |  CASE WHEN ((hv % 100) + 100) % 100 < 90 THEN 'train'
           |       WHEN ((hv % 100) + 100) % 100 < 95 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM (SELECT doc_id, group_key, ${SqlHash.toSigned(hCol)} AS hv FROM ($inner))""".stripMargin
      }),

    // Tokenizer training: BPE merge statistics — corpus collapsed to
    // (distinct word, freq) first, then frequency-weighted adjacent
    // character pairs, deterministic top-100 (bounded heap, no global sort)
    GraftQuery("q_bpe_pairs", (s, dir) =>
      graft.text.TrainingPrep.bpePairCounts(Tables.documents(s, dir)),
      """WITH wl AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |f AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
        |      FROM wl WHERE length(word) >= 2 GROUP BY 1),
        |p AS (SELECT freq,
        |        unnest([substr(word, i, 2) for i in generate_series(1, length(word) - 1)]) AS pair
        |      FROM f)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1
        |ORDER BY pair_count DESC, pair LIMIT 100""".stripMargin),

    // Distributed BPE tokenizer TRAINING — the full merge loop over the
    // Zipf-collapsed distinct-word table (corpus scanned once; each
    // round = one map-side-combined pair count + bounded argmax; only
    // the winning pair reaches the driver). Oracle replays all 6
    // training rounds as chained CTEs: pair count, deterministic
    // argmax, left-fold greedy merge — round for round
    GraftQuery("q_bpe_train", (s, dir) =>
      graft.text.BpeTrain.train(Tables.documents(s, dir), rounds = 6),
      sqlBpeCtes(6) + "\n" +
      (0 until 6).map(r =>
        s"SELECT CAST(${r + 1} AS BIGINT) AS merge_rank, lhs, rhs, mrg AS merged, n AS pair_n FROM b$r")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY merge_rank")),

    // The artifact applied: per-distinct-word merge replay + count join
    // back to the exploded corpus (the fold never runs per occurrence)
    GraftQuery("q_bpe_tokenize", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.text.BpeTrain.train(docs, rounds = 6)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.BpeTrain.tokenize(docs, merges)
    },
      sqlBpeCtes(6) +
      """,
        |tw AS (SELECT word, CAST(len(string_split(cur, ' ')) AS BIGINT) AS n_toks FROM w6),
        |dw AS (SELECT doc_id, word
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |       WHERE regexp_full_match(word, '[a-z]+'))
        |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(tw.n_toks) AS BIGINT) AS n_tokens
        |FROM dw JOIN tw USING (word)
        |GROUP BY 1""".stripMargin),

    // Quality scoring: add-one-smoothed bigram LM score per doc (integer
    // micro-nats; the sequence-aware sharpening of q_unigram_logprob)
    GraftQuery("q_bigram_logprob", (s, dir) =>
      graft.text.TrainingPrep.bigramLogProb(Tables.documents(s, dir)),
      // zipped double-unnest pairs adjacent words; a one-token doc slices
      // both lists empty, so it falls to the zero-bigram LEFT JOIN branch
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2 FROM d),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS bg_n FROM b GROUP BY 1, 2),
        |cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS ctx_n FROM b GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vn
        |      FROM (SELECT unnest(w) AS t FROM d)),
        |lp AS (SELECT doc_id,
        |         CAST(floor(ln((bg_n + 1) / CAST(ctx_n + vn AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
        |       FROM b JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         CAST(sum(lp_micro) AS BIGINT) AS logprob_micro
        |       FROM lp GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(pd.logprob_micro, 0) AS BIGINT) AS logprob_micro
        |FROM (SELECT DISTINCT doc_id FROM d) d LEFT JOIN pd USING (doc_id)""".stripMargin),

    // Production guard for the LM-scoring join: Katz-style count pruning
    // of the bigram type table (count < minCount scores as UNSEEN) — the
    // surviving frequent-type table broadcasts, so the postings never
    // shuffle. Oracle replays the prune as a HAVING clause
    GraftQuery("q_bigram_logprob_capped", (s, dir) =>
      graft.text.TrainingPrep.bigramLogProbCapped(Tables.documents(s, dir),
        BigramMinCount),
      // same LM replay with the count-cutoff prune: types below minCount
      // leave bc, and the LEFT JOIN's NULL coalesces to the unseen score
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |b AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2 FROM d),
         |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS bg_n FROM b GROUP BY 1, 2
         |       HAVING count(*) >= $BigramMinCount),
         |cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS ctx_n FROM b GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vn
         |      FROM (SELECT unnest(w) AS t FROM d)),
         |lp AS (SELECT doc_id,
         |         CAST(floor(ln((coalesce(bg_n, 0) + 1) / CAST(ctx_n + vn AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
         |       FROM b LEFT JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(sum(lp_micro) AS BIGINT) AS logprob_micro
         |       FROM lp GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(pd.logprob_micro, 0) AS BIGINT) AS logprob_micro
         |FROM (SELECT DISTINCT doc_id FROM d) d LEFT JOIN pd USING (doc_id)""".stripMargin),

    // Multinomial Naive Bayes (the fastText-shaped trained filter):
    // fitted model = one train-slice count pass, model-sized grid
    GraftQuery("q_nb_model", (s, dir) =>
      graft.text.NaiveBayes.model(Tables.documents(s, dir)),
      s"""$nbCtes
         |SELECT label, term, term_n, lp_micro FROM grid""".stripMargin),

    // NB applied to the UNtrained doc_id%5==0 slice — exercises the
    // out-of-vocabulary smoothing path under the oracle; argmax is a
    // rank-1 window planned as bounded top-k
    GraftQuery("q_nb_predict", (s, dir) =>
      graft.text.NaiveBayes.predict(Tables.documents(s, dir)),
      s"""$nbScoreCtes
         |SELECT doc_id, pred_label, score_micro, n_tokens FROM pred""".stripMargin),

    // Held-out confusion matrix — the accuracy evidence for gating
    GraftQuery("q_nb_eval", (s, dir) =>
      graft.text.NaiveBayes.confusion(Tables.documents(s, dir)),
      s"""$nbScoreCtes
         |SELECT d.lang AS true_label, p.pred_label, CAST(count(*) AS BIGINT) AS n
         |FROM pred p JOIN documents d USING (doc_id) GROUP BY 1, 2""".stripMargin),

    // Token-budget curation: each language's budget filled with its
    // highest-quality docs (greedy prefix, strict budget, total order)
    GraftQuery("q_token_budget", (s, dir) =>
      graft.text.TrainingPrep.tokenBudgetCurate(Tables.documents(s, dir),
        budgetPerLang = 5000L),
      sqlCurateCtes("TRUE") +
        """
          |SELECT * FROM (
          |  SELECT q.doc_id, l.pred_lang, q.quality_score, q.n_tokens,
          |    CAST(sum(q.n_tokens) OVER (PARTITION BY l.pred_lang
          |           ORDER BY q.quality_score DESC, q.doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
          |  FROM qual q JOIN lang l USING (doc_id))
          |WHERE cum_tokens <= 5000""".stripMargin),

    // Quality rule: intra-doc 3-gram repetition ratio (boilerplate/spam
    // signal — scan + one agg, no joins)
    GraftQuery("q_repetition_filter", (s, dir) =>
      graft.text.TrainingPrep.repetitionScore(Tables.documents(s, dir)),
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id,
         |         CASE WHEN len(w) >= 3
         |              THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in generate_series(1, len(w) - 2)]
         |              ELSE [] END AS shs
         |       FROM d)
         |SELECT doc_id,
         |  CAST(len(shs) AS BIGINT) AS n_shingles,
         |  CAST(len(list_distinct(shs)) AS BIGINT) AS n_distinct,
         |  ${TextAnalysis.floor6Sql("CASE WHEN len(shs) > 0 THEN (len(shs) - len(list_distinct(shs))) * 1.0 / len(shs) ELSE 0.0 END")} AS rep_ratio
         |FROM sh""".stripMargin),

    // Decontamination: training docs sharing any 8-gram with the eval
    // slice (the deterministic doc_id % 50 == 0 sample standing in for a
    // benchmark suite), via inverted n-gram index (linear in postings)
    GraftQuery("q_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.text.TrainingPrep.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    },
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |        CASE WHEN len(w) >= 8
        |             THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
        |                   for i in generate_series(1, len(w) - 7)]
        |             ELSE [] END)) AS gram
        |      FROM d),
        |tr AS (SELECT * FROM g WHERE doc_id % 50 <> 0),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
        |FROM tr JOIN ev USING (gram) GROUP BY 1""".stripMargin),

    // Decontamination at the 100 TB shape: eval n-grams folded into a
    // broadcast Bloom bitset probed in the scan stage; only admitted
    // grams reach the exact verify join, so the training side never
    // shuffles. No false negatives -> equals q_decontaminate's exact
    // answer, and the exact SQL is the oracle
    GraftQuery("q_decontaminate_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.text.TrainingPrep.bloomDecontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    },
      // the bloom composition has no false negatives and exact-verifies
      // candidates, so the plain inverted-index SQL is its oracle too
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |        CASE WHEN len(w) >= 8
        |             THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
        |                   for i in generate_series(1, len(w) - 7)]
        |             ELSE [] END)) AS gram
        |      FROM d),
        |tr AS (SELECT * FROM g WHERE doc_id % 50 <> 0),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
        |FROM tr JOIN ev USING (gram) GROUP BY 1""".stripMargin),

    // Data mixing: deterministic hash-resampler — downsample the dominant
    // language (en 1/2), keep the rest whole; scan-only, no window
    GraftQuery("q_mixture_sample", (s, dir) =>
      graft.text.TrainingPrep.mixtureSample(Tables.documents(s, dir),
        Map("en" -> (1, 2))),
      // the keep/drop decision is xxhash64(doc_id) — replayed through the
      // same XXH64.hashLong SQL steps as the banding buckets; pmod of the
      // signed value computed two's-complement-exactly. The hash steps run
      // over bare doc_id and JOIN to the language CTE afterwards — wrapping
      // the wide pred_lang expression in the step pipeline makes the
      // optimizer inline it per layer and blow up planning
      {
        val (steps, hCol) = SqlHash.xxh64LongSteps("doc_id::HUGEINT", "42", "__mx")
        val inner = SqlHash.applySteps("SELECT doc_id FROM documents", steps)
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |lang AS (
           |  SELECT doc_id, $sqlLangPred AS pred_lang
           |  FROM (SELECT doc_id, $sqlLangScores FROM d)
           |), h AS MATERIALIZED (SELECT doc_id, ${SqlHash.toSigned(hCol)} AS hv FROM ($inner))
           |SELECT l.doc_id, l.pred_lang FROM lang l JOIN h USING (doc_id)
           |WHERE CASE WHEN l.pred_lang = 'en' THEN ((hv % 2) + 2) % 2 < 1
           |           ELSE ((hv % 1) + 1) % 1 < 1 END""".stripMargin
      }),

    // Quality score: per-doc mean unigram log-probability (perplexity
    // proxy; vocabulary broadcast)
    GraftQuery("q_unigram_logprob", (s, dir) =>
      graft.text.TrainingPrep.unigramLogProb(Tables.documents(s, dir)),
      // per-token log-probs truncate to INTEGER micro-nats before summing:
      // integer aggregation is order-independent, where a float sum drifts
      // in the last ulp between engines
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |v AS (SELECT term, CAST(count(*) AS BIGINT) AS term_n FROM t GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_n FROM t),
        |lp AS (SELECT doc_id, CAST(floor(ln(term_n / CAST(total_n AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
        |       FROM t JOIN v USING (term) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro,
        |  sum(lp_micro) / (count(*) * 1e6) AS mean_logprob
        |FROM lp GROUP BY 1""".stripMargin),

    // Chunking: overlapping windows (RAG/embedding-index layout)
    GraftQuery("q_doc_chunks", (s, dir) =>
      graft.text.TrainingPrep.chunkDocs(Tables.documents(s, dir)),
      """WITH c AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, CAST(ceil(greatest(length(text) - 64, 0) / 48.0) AS INT))) AS i
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 48 AS BIGINT) AS chunk_start,
        |  substring(text, i * 48 + 1, 64) AS chunk,
        |  CAST(length(substring(text, i * 48 + 1, 64)) AS BIGINT) AS chunk_len
        |FROM c""".stripMargin),

    // Data mixing: per-language document cap (deterministic order)
    GraftQuery("q_lang_cap", (s, dir) =>
      graft.text.TrainingPrep.langCap(Tables.documents(s, dir)),
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |lang AS (
         |  SELECT doc_id, $sqlLangPred AS pred_lang
         |  FROM (SELECT doc_id, $sqlLangScores FROM d)
         |), ranked AS (
         |  SELECT doc_id, pred_lang,
         |    CAST(row_number() OVER (PARTITION BY pred_lang ORDER BY doc_id) AS BIGINT) AS lang_rank
         |  FROM lang
         |)
         |SELECT doc_id, pred_lang, lang_rank FROM ranked WHERE lang_rank <= 50""".stripMargin),

    // Training prep: adaptive gate at the exact corpus median token count
    GraftQuery("q_token_gate_adaptive", (s, dir) =>
      graft.text.TrainingPrep.adaptiveTokenGate(Tables.documents(s, dir)),
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |m AS (SELECT median(n_tokens) AS med_tokens FROM t)
        |SELECT doc_id, n_tokens, med_tokens FROM t CROSS JOIN m
        |WHERE n_tokens >= med_tokens""".stripMargin),

    // Training prep capstone: one-row integer-exact dataset card
    GraftQuery("q_dataset_card", (s, dir) =>
      graft.text.TrainingPrep.datasetCard(Tables.documents(s, dir)),
      s"""WITH base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
         |         CAST(sum(length(text)) AS BIGINT) AS total_chars
         |  FROM documents
         |), dup AS (
         |  SELECT CAST(sum(n_copies - 1) AS BIGINT) AS n_dup_docs
         |  FROM (SELECT count(*) AS n_copies FROM documents GROUP BY lower(trim(text)))
         |), lang AS (
         |  SELECT CAST(count(*) FILTER (WHERE pred_lang = 'en') AS BIGINT) AS n_en_docs
         |  FROM (SELECT $sqlLangPred AS pred_lang
         |        FROM (SELECT doc_id, $sqlLangScores FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))
         |), splits AS (
         |  SELECT CAST(count(*) FILTER (WHERE doc_id % 100 < 90) AS BIGINT) AS n_train,
         |         CAST(count(*) FILTER (WHERE doc_id % 100 >= 90 AND doc_id % 100 < 95) AS BIGINT) AS n_val,
         |         CAST(count(*) FILTER (WHERE doc_id % 100 >= 95) AS BIGINT) AS n_test
         |  FROM documents
         |)
         |SELECT * FROM base CROSS JOIN dup CROSS JOIN lang CROSS JOIN splits""".stripMargin),

    // Exact-size per-stratum sample: rank by xxhash64(doc_id) inside each
    // language, keep 5 — uniform-without-replacement, deterministic, and
    // planned as the bounded-heap top-k (never a per-stratum sort)
    GraftQuery("q_stratified_sample", (s, dir) =>
      graft.text.TrainingPrep.stratifiedSample(
        Tables.documents(s, dir), "lang", n = 5),
      // exact-n stratified sample: xxhash64(doc_id) priority replayed, rank
      // within language
      {
        val (steps, hCol) = SqlHash.xxh64LongSteps("doc_id::HUGEINT", "42", "__sp")
        val inner = SqlHash.applySteps("SELECT lang, doc_id FROM documents", steps)
        s"""WITH hh AS (SELECT lang, doc_id, ${SqlHash.toSigned(hCol)} AS priority FROM ($inner)),
           |rr AS (SELECT lang, doc_id, priority,
           |         CAST(row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id) AS BIGINT) AS sample_rank
           |       FROM hh)
           |SELECT lang, doc_id, priority, sample_rank FROM rr WHERE sample_rank <= 5""".stripMargin
      }),

    // Deterministic training shuffle: (shard, pos) assignment from the
    // same hash — per-shard parallel sorts, no global order anywhere
    GraftQuery("q_corpus_shuffle", (s, dir) =>
      graft.text.TrainingPrep.shuffleShards(
        Tables.documents(s, dir), nShards = 32),
      // deterministic training shuffle: pmod shard + in-shard hash rank
      {
        val (steps, hCol) = SqlHash.xxh64LongSteps("doc_id::HUGEINT", "42", "__cs")
        val inner = SqlHash.applySteps("SELECT doc_id FROM documents", steps)
        s"""WITH hh AS (SELECT doc_id, ${SqlHash.toSigned(hCol)} AS priority FROM ($inner)),
           |ss AS (SELECT doc_id, priority, ((priority % 32) + 32) % 32 AS shard FROM hh)
           |SELECT doc_id, priority, shard,
           |  CAST(row_number() OVER (PARTITION BY shard ORDER BY priority, doc_id) - 1 AS BIGINT) AS pos
           |FROM ss""".stripMargin
      }),

    // PII scrubbing: regex redaction + counts at scan speed (no shuffle)
    GraftQuery("q_text_scrub", (s, dir) => TextAnalysis.piiScrub(Tables.documents(s, dir)),
      {
        val e = TextAnalysis.EmailPattern
        val p = TextAnalysis.PhonePattern
        s"""WITH t AS (
           |  SELECT doc_id,
           |    text || ' contact u' || doc_id || '@mail.com or +234-80' || doc_id || '-55' AS text2
           |  FROM documents
           |)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text2, '$e')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(text2, '$p')) AS BIGINT) AS n_phones,
           |  regexp_replace(regexp_replace(text2, '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g') AS scrubbed
           |FROM t""".stripMargin
      }),

    // Capstone composition: language gate + quality gate + dedup keepers
    GraftQuery("q_corpus_curate", (s, dir) =>
      TextAnalysis.curate(Tables.documents(s, dir), lang = "en", minQuality = 0.5),
      sqlCurateCtes("TRUE") + """
        |SELECT q.doc_id, l.pred_lang, q.quality_score, q.n_tokens
        |FROM qual q
        |JOIN lang l USING (doc_id)
        |JOIN keep k ON q.doc_id = k.doc_id
        |WHERE l.pred_lang = 'en' AND q.quality_score >= 0.5""".stripMargin),

    // The shipping composition: curation gates ∧ not-contaminated
    // (bloom) ∧ mixture-sampled, with the deterministic split — every
    // stage individually oracle-verified, composed end to end
    GraftQuery("q_training_manifest", (s, dir) =>
      graft.text.TrainingPrep.trainingManifest(Tables.documents(s, dir)),
      // the full composition a pipeline ships: curation gates, minus
      // bloom-decontaminated docs (== exact overlap, see
      // q_decontaminate_bloom), intersect the mixture-sampled keeps
      // (xxh64 replay), with the deterministic split attached.
      // MATERIALIZED pins the step-pipeline and contamination CTEs —
      // inlined into the four-way join tree, DuckDB's optimizer stalls
      // rewriting the giant generated expressions
      {
        val (steps, hCol) = SqlHash.xxh64LongSteps("doc_id::HUGEINT", "42", "__mx")
        val hInner = SqlHash.applySteps(
          "SELECT doc_id FROM documents WHERE doc_id % 50 <> 0", steps)
        sqlCurateCtes("doc_id % 50 <> 0") + s""",
          |g AS (SELECT doc_id, unnest(list_distinct(
          |        CASE WHEN len(w) >= 8
          |             THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
          |                   for i in generate_series(1, len(w) - 7)]
          |             ELSE [] END)) AS gram
          |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
          |contaminated AS MATERIALIZED (SELECT DISTINCT tr.doc_id
          |                 FROM (SELECT * FROM g WHERE doc_id % 50 <> 0) tr
          |                 JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0) ev USING (gram)),
          |h AS MATERIALIZED (SELECT doc_id, ${SqlHash.toSigned(hCol)} AS hv FROM ($hInner))
          |SELECT q.doc_id, l.pred_lang, q.quality_score, q.n_tokens,
          |  CASE WHEN q.doc_id % 100 < 90 THEN 'train'
          |       WHEN q.doc_id % 100 < 95 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM qual q
          |JOIN lang l USING (doc_id)
          |JOIN keep k ON q.doc_id = k.doc_id
          |JOIN h USING (doc_id)
          |WHERE l.pred_lang = 'en' AND q.quality_score >= 0.5
          |  AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)
          |  AND ((hv % 2) + 2) % 2 < 1""".stripMargin
      }),

    // Cross-document boilerplate removal over deterministic planted headers
    // (the corpus has none — same planting pattern as the PII scrubber);
    // the cleaning pass itself is scan-only against a plan-constant set
    GraftQuery("q_boilerplate_strip", (s, dir) =>
      graft.text.TrainingPrep.boilerplateStrip(
        withBoilerplate(Tables.documents(s, dir)),
        minDocs = BoilerplateMinDocs),
      s"""WITH d0 AS (
         |  SELECT doc_id, CASE WHEN doc_id % 5 < 4
         |    THEN '© graft corp all rights reserved footer v' || (doc_id % 2) || ' ' || text
         |    ELSE text END AS text
         |  FROM documents
         |), d AS (SELECT doc_id, string_split(text, ' ') AS w FROM d0),
         |segs AS (
         |  SELECT doc_id, i AS seg_idx,
         |         array_to_string(list_slice(w, (i - 1) * 8 + 1, i * 8), ' ') AS segment
         |  FROM (SELECT doc_id, w,
         |          unnest(generate_series(1, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
         |        FROM d)
         |), freq AS (
         |  SELECT segment FROM (
         |    SELECT segment, count(DISTINCT doc_id) AS nd FROM segs GROUP BY 1)
         |  WHERE nd >= $BoilerplateMinDocs
         |), kept AS (
         |  SELECT s.doc_id, s.seg_idx, s.segment, f.segment IS NULL AS keep
         |  FROM segs s LEFT JOIN freq f USING (segment)
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN keep THEN segment END, ' ' ORDER BY seg_idx), '') AS clean_text
         |FROM kept GROUP BY doc_id""".stripMargin),

    // DSIR-style importance resampling: keep raw docs the target-slice
    // unigram LM prefers (integer micro-nat scores, engine-exact)
    GraftQuery("q_importance_resample", (s, dir) =>
      graft.text.TrainingPrep.importanceResample(Tables.documents(s, dir)),
      """WITH tgt AS (SELECT unnest(string_split(text, ' ')) AS term
        |             FROM documents WHERE doc_id % 50 = 0),
        |raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents WHERE doc_id % 50 <> 0),
        |tv AS (SELECT term, count(*) AS t_n FROM tgt GROUP BY 1),
        |rv AS (SELECT term, count(*) AS r_n FROM raw GROUP BY 1),
        |v AS (SELECT coalesce(tv.term, rv.term) AS term,
        |             coalesce(t_n, 0) AS t_n, coalesce(r_n, 0) AS r_n
        |      FROM tv FULL JOIN rv ON tv.term = rv.term),
        |tot AS (SELECT sum(t_n) AS tt, sum(r_n) AS rt, count(*) AS vn FROM v),
        |sc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(floor(ln((v.t_n + 1) / CAST(tot.tt + tot.vn AS DOUBLE)) * 1000000.0) AS BIGINT)
        |           - CAST(floor(ln((v.r_n + 1) / CAST(tot.rt + tot.vn AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS importance_micro
        |  FROM raw JOIN v USING (term), tot
        |  GROUP BY doc_id
        |)
        |SELECT * FROM sc WHERE importance_micro > 0""".stripMargin),

    // Curriculum deciles of quality score per predicted language
    GraftQuery("q_curriculum_bins", (s, dir) =>
      graft.text.TrainingPrep.curriculumBins(Tables.documents(s, dir)),
      sqlCurateCtes("TRUE") +
        """
          |SELECT q.doc_id, l.pred_lang, q.quality_score,
          |  CAST(ntile(10) OVER (PARTITION BY l.pred_lang
          |         ORDER BY q.quality_score DESC, q.doc_id) AS BIGINT) AS curriculum_bin
          |FROM qual q JOIN lang l USING (doc_id)""".stripMargin),

    // Per-source corpus mix profile (docs/tokens/chars/unique texts by
    // domain — the per-source table a curation report leads with);
    // uniqueness counts a 256-bit digest so wide text never shuffles
    GraftQuery("q_source_mix", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("total_ws_tokens"),
          sum(length(col("text"))).cast("long").as("total_chars"),
          countDistinct(sha2(lower(trim(col("text"))), 256)).as("n_unique_texts")),
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT lower(trim(text))) AS BIGINT) AS n_unique_texts
        |FROM documents GROUP BY 1""".stripMargin),

    // Integer-exact per-label centroid sums over the shared int8 codes
    // (grouped-vector mean in mergeable form, via the VecSumAgg UDAF)
    GraftQuery("q_label_centroids", (s, dir) =>
      Similarity.labelCentroidSums(Tables.embeddings(s, dir)),
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, label, v, list_min(v) AS vmin,
        |        greatest((list_max(v) - list_min(v)) / 256.0, 1e-12) AS scale FROM e),
        |c AS (SELECT label, i - 1 AS dim,
        |        least(CAST(floor((v[i] - vmin) / scale) AS BIGINT), 255) AS code
        |      FROM (SELECT label, vmin, scale, v,
        |              unnest(generate_series(1, len(v))) AS i FROM s))
        |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
        |  CAST(sum(code) AS BIGINT) AS sum_q, CAST(count(*) AS BIGINT) AS n_vecs
        |FROM c GROUP BY 1, 2""".stripMargin),
  )
}
