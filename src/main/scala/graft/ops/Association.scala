package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-pair mining with association strength — the market-basket
  * operator (Agrawal & Srikant, VLDB 1994, restricted to the 2-itemset
  * level that dominates practical co-purchase analytics): for every pair
  * of items co-occurring in at least `minSupport` baskets, the joint
  * count, both marginals, and the integer-scaled association measures
  *
  *   lift_micro       = pair_cnt × n_baskets × 1e6  div  (a_cnt × b_cnt)
  *   conf_a_b_micro   = pair_cnt × 1e6              div  a_cnt
  *   conf_b_a_micro   = pair_cnt × 1e6              div  b_cnt
  *
  * — all truncating integer arithmetic, so the result is engine-exact
  * and the DuckDB oracle is the same SQL verbatim. (No floats: lift > 1
  * reads as lift_micro > 1_000_000.)
  *
  * Scale posture: the pair expansion is a self-join co-partitioned on
  * the basket key, bounded per basket by C(basket_size, 2) — baskets are
  * order-sized (≤ 7 lines in this schema), so the blow-up is a small
  * constant per row, never quadratic in an unbounded group. Pair counts
  * aggregate with map-side combine BEFORE the minSupport filter prunes
  * the long tail (singleton pairs dominate and die here); marginals are
  * item-sized and the basket total is one scalar crossJoin-broadcast.
  * No overflow: the lift numerator (pair_cnt × n_baskets × 1e6) is
  * widened to DECIMAL(38,0) before the multiply (the
  * [[EventAnalytics]] TWAB accumulator discipline), so the formula
  * holds to ~1e19 baskets; the quotient itself is ≤ 1e6 × n_baskets /
  * minSupport, safely BIGINT for any real corpus.
  */
object Association {

  private val Micro = 1000000L

  /** All x < y combinations of a SORTED-distinct array column (named
    * `arrCol`) as an array of (a, b) structs — the in-row pair generator
    * shared by the basket pair count here and the co-purchase edge
    * builds (graft.graph.GraphQueries.partPairEdges). Index-slice over the
    * sorted array, so pair order equals the element type's natural `<`. */
  def pairCombinations(arrCol: String): org.apache.spark.sql.Column =
    expr(s"""flatten(transform($arrCol, (x, i) ->
            |  transform(slice($arrCol, i + 2, size($arrCol)),
            |            y -> named_struct('a', x, 'b', y))))""".stripMargin)

  /** `baskets`: (basket, item) rows, distinct per pair. Returns frequent
    * item pairs (a < b) with joint/marginal counts and micro-scaled
    * lift/confidence.
    *
    * r14 (guide §2.4): baskets collapse to one sorted item-set row per
    * basket (groupBy with map-side-combined collect_set); the pair
    * expansion is an in-row combination expression AFTER that shuffle,
    * and the marginals/basket total fold from the same collapsed frame —
    * replacing the previous basket-keyed SELF-JOIN (which shuffled the
    * postings twice and re-derived them per use). Same result: the join
    * generated exactly the x < y item pairs per basket that the sorted
    * combination emits. */
  def frequentPairs(baskets: DataFrame, minSupport: Long = 2): DataFrame = {
    require(minSupport >= 1, s"minSupport $minSupport must be >= 1")
    // r15: NO persist — the whole query is ONE action (the terminal
    // eager localCheckpoint), so the collect_set exchange under bk's
    // three consumers deduplicates via exchange reuse instead of cache
    // block writes (interleaved A/B at sf0.1: 3.60 -> 1.38 s warm-min;
    // the Triangles r15 result generalized). Only the cheap final-merge
    // agg re-runs per consumer.
    val bk = baskets.select(col("basket"), col("item"))
      .groupBy("basket").agg(sort_array(collect_set(col("item"))).as("items"))
    val nBaskets = bk.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = bk.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("cnt"))
    val pairs = bk
      .select(explode(pairCombinations("items")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minSupport)
    val out = pairs
      .join(itemCnt.select(col("item").as("a"), col("cnt").as("a_cnt")), "a")
      .join(itemCnt.select(col("item").as("b"), col("cnt").as("b_cnt")), "b")
      .crossJoin(broadcast(nBaskets))
      .select(col("a"), col("b"), col("pair_cnt"), col("a_cnt"), col("b_cnt"),
        expr(s"CAST(CAST(pair_cnt AS DECIMAL(38,0)) * n_baskets * ${Micro}L" +
          s" div (CAST(a_cnt AS DECIMAL(38,0)) * b_cnt) AS BIGINT)")
          .as("lift_micro"),
        expr(s"pair_cnt * ${Micro}L div a_cnt").as("conf_a_b_micro"),
        expr(s"pair_cnt * ${Micro}L div b_cnt").as("conf_b_a_micro"))
      .localCheckpoint()
    out
  }

  /** The oracle — the same arithmetic verbatim. Needs `bk(basket, item)`
    * (distinct) in scope. */
  def oracleSql(minSupport: Long = 2): String =
    s"""nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM bk),
       |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY 1),
       |p AS (SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS pair_cnt
       |      FROM bk x JOIN bk y ON x.basket = y.basket AND x.item < y.item
       |      GROUP BY 1, 2 HAVING count(*) >= $minSupport)
       |SELECT p.a, p.b, p.pair_cnt, ia.cnt AS a_cnt, ib.cnt AS b_cnt,
       |  CAST(CAST(p.pair_cnt AS HUGEINT) * nb.n_baskets * ${Micro}
       |       // (CAST(ia.cnt AS HUGEINT) * ib.cnt) AS BIGINT) AS lift_micro,
       |  CAST(p.pair_cnt * ${Micro} // ia.cnt AS BIGINT) AS conf_a_b_micro,
       |  CAST(p.pair_cnt * ${Micro} // ib.cnt AS BIGINT) AS conf_b_a_micro
       |FROM p JOIN ic ia ON p.a = ia.item
       |       JOIN ic ib ON p.b = ib.item
       |       CROSS JOIN nb""".stripMargin
}
