package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join with prefix filtering — the
  * all-pairs-above-threshold operator (Chaudhuri, Ganti & Kaushik,
  * ICDE 2006; Bayardo, Ma & Srikant, WWW 2007 "Scaling Up All Pairs
  * Similarity Search"): every document pair whose token-set Jaccard
  * meets the threshold, with NO approximation — the exact counterpart
  * to the MinHash/SimHash family ([[MinHashLSH]]), for when recall
  * must be 1.0 by construction (legal dedup holds, contamination
  * audits) rather than probabilistic.
  *
  * The pruning theorem: order every document's tokens by one GLOBAL
  * rank (frequency ascending, term as tiebreak — rarest first). If
  * J(x,y) ≥ t then |x∩y| ≥ ceil(t·|x|), and two sets whose overlap is
  * ≥ α must collide within their first (|·| − α + 1) tokens in any
  * common total order. So each document indexes only its PREFIX of
  * |x| − ceil(t·|x|) + 1 rarest tokens; candidate generation is an
  * equi-join on prefix tokens (postings of RARE tokens — the frequent
  * tokens that make the naive inverted index quadratic never enter),
  * tightened by the length filter t·|x| ≤ |y| (J ≥ t forces it).
  * Survivors are verified EXACTLY by counting shared tokens.
  *
  * Exactness: all integers — set sizes, intersections, and the
  * threshold test cross-multiplied (inter × 100 ≥ tPct × union), so no
  * division decides membership; the reported jaccard_micro is one
  * truncating div. The oracle is the direct all-pairs join (affordable
  * at oracle SFs; this operator IS the scale path).
  *
  * Scale posture: one token aggregation for frequencies (map-side
  * combined), one per-doc window (partitioned BY DOC — bounded by the
  * doc's own length), a prefix-postings self-join whose group sizes are
  * rare-token postings, and a verify join proportional to candidates ×
  * shared tokens. No all-pairs stage anywhere.
  */
object PrefixJoin {

  /** All document pairs with set Jaccard ≥ tPct/100 over an element
    * postings frame `tokens(doc_id, term)` (deduplicated here — set
    * semantics; pass shingles for the n-gram dedup shape). Returns
    * (doc_a, doc_b, len_a, len_b, inter, jaccard_micro), doc_a < doc_b. */
  def jaccardJoinOnSets(tokenPostings: DataFrame, tPct: Long): DataFrame = {
    require(tPct >= 1 && tPct <= 100, s"tPct $tPct out of [1, 100]")
    // r14 (guide §2.3/§2.4): the corpus is collapsed ONCE to a per-doc
    // sorted token-set row; `len` rides the array (size()), so the
    // separate doc-length aggregation + join of the previous shape are
    // gone, and the verify stage attaches the two arrays to each
    // CANDIDATE pair and counts the overlap in-row (array_intersect —
    // set semantics, both arrays distinct by construction) instead of
    // exploding candidates × |doc_a| tokens through a second exchange
    // and re-aggregating. Same integers, same pairs — only the plan
    // changed.
    val docSets = tokenPostings.select(col("doc_id"), col("term"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_set(col("term"))).as("ts"))
      .withColumn("len", size(col("ts")).cast("long"))
      .persist()
    val freq = docSets.select(explode(col("ts")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    // prefix size |x| - ceil(t|x|) + 1, via integer ceil: (t*len+99) div 100
    val ranked = docSets
      .select(col("doc_id"), col("len"), explode(col("ts")).as("term"))
      .join(freq, "term")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("freq"), col("term"))))
    val prefix = ranked
      .filter(col("__rn") <= col("len") -
        expr(s"($tPct * len + 99) div 100") + 1)
      .select(col("doc_id"), col("term"), col("len"))
    val candidates = prefix.as("x").join(prefix.as("y"),
        col("x.term") === col("y.term") &&
          col("x.doc_id") < col("y.doc_id") &&
          // length filter: t·|x| ≤ 100·|y| and t·|y| ≤ 100·|x|
          lit(tPct) * col("x.len") <= lit(100L) * col("y.len") &&
          lit(tPct) * col("y.len") <= lit(100L) * col("x.len"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.len").as("len_a"), col("y.len").as("len_b"))
      .distinct()
    val out = candidates
      .join(docSets.select(col("doc_id").as("doc_a"), col("ts").as("__ta")),
        "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("ts").as("__tb")),
        "doc_b")
      .withColumn("inter",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .filter(col("inter") * 100 >=
        lit(tPct) * (col("len_a") + col("len_b") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
        col("inter"),
        expr("inter * 1000000L div (len_a + len_b - inter)")
          .as("jaccard_micro"))
      .localCheckpoint()
    docSets.unpersist()
    out
  }

  /** Direct all-pairs oracle (no prefix pruning — affordable at oracle
    * SFs, identical result by the theorem). Needs a deduplicated
    * postings CTE `tk(doc_id, term)` in scope. */
  def oracleSql(tPct: Long = 60): String =
    s"""dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tk GROUP BY 1),
       |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(count(*) AS BIGINT) AS inter
       |       FROM tk a JOIN tk b ON a.term = b.term AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT iv.doc_a, iv.doc_b, la.len AS len_a, lb.len AS len_b, iv.inter,
       |  CAST(iv.inter * 1000000 // (la.len + lb.len - iv.inter) AS BIGINT)
       |    AS jaccard_micro
       |FROM iv JOIN dl la ON iv.doc_a = la.doc_id
       |        JOIN dl lb ON iv.doc_b = lb.doc_id
       |WHERE iv.inter * 100 >= $tPct * (la.len + lb.len - iv.inter)""".stripMargin
}
