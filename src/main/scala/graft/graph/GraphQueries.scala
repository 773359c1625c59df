package graft
package graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph queries: PageRank/TrustRank, triangles, k-core and the
  * prefix-filtered Jaccard join (the `graph` family). */
object GraphQueries {

  /** Decode the parity-encoded bipartite node id (customer 2k ↔ "c<k>",
    * supplier 2k+1 ↔ "s<k>") back to the oracle's string name — the
    * graph queries iterate on fixed-width longs and stringify only here
    * (r12; see the q_triangles registration note). */
  private def bipartiteNodeName(node: Column): Column =
    // shiftRight, not `/`: Column `/` is double division + cast, exact
    // only below 2^53 — the shift keeps the decode exact at any id width
    when(node % 2 === 0, concat(lit("c"), shiftright(node, 1)))
      .otherwise(concat(lit("s"), shiftright(node, 1)))

  /** Symmetrize a directed (src, dst) edge frame by emitting BOTH
    * orientations of each row through one 1→2 explode — plan-equivalent
    * to `e.union(e.select(dst, src))` but the upstream derivation (for
    * the graph queries a join + distinct) sits UNDER a single operator
    * instead of under both union branches, so it computes once per
    * materialization (r14, guide §2.4). */
  private def symmetrized(e0: DataFrame): DataFrame =
    e0.select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Canonical part↔part co-purchase edges (a < b, distinct, long ids)
    * — the graph substrate of q_triangles and q_kcore.
    *
    * r14 (guide §2.4): per-basket pairs are generated by a groupBy-
    * collect + in-row combination expression instead of the previous
    * (ok, pk)-distinct SELF-JOIN on the order key. Same edge set —
    * collect_set is the per-order distinct, sort_array + index-slice
    * emits exactly the x < y combinations — but the plan drops from
    * three exchanges + a join (distinct(ok, pk), join-on-ok, distinct
    * pairs) to two exchanges and no join (groupBy ok with map-side
    * partial collect, distinct pairs); the ≤C(7,2)-per-order expansion
    * happens AFTER the shuffle, inside the scan stage. */
  private[graft] def partPairEdges(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"),
        col("l_partkey").cast("long").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(
        graft.ops.Association.pairCombinations("ps")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  def queries: Seq[GraftQuery] = Seq(
    // PageRank centrality over the symmetrized customer↔supplier
    // co-purchase graph, 4 passes of fully integer rank arithmetic
    // (scaled longs + truncating division — engine-exact, the oracle
    // replays every iteration as chained CTEs). Per pass: one
    // co-partitioned ranks⋈edges shuffle + one map-side-combined per-dst
    // sum; rank frame localCheckpoint-truncated each round
    // The bipartite namespace lives in the id's PARITY (customer 2k,
    // supplier 2k+1) so all four rank passes shuffle longs, and the
    // "c"/"s" node strings are decoded only in the final projection
    // (same r12 change as q_triangles — fixed-width keys through every
    // per-pass shuffle)
    GraftQuery("q_pagerank", (s, dir) => {
      val e0 = Tables.table(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables.table(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
      // symmetrize via a 1→2 explode instead of union-with-self: the
      // join+distinct above is computed ONCE per materialization (the
      // union's two branches each re-derived it — guide §2.4); same edge
      // set, same ranks
      graft.graph.PageRank.ranks(symmetrized(e0), symmetric = true)
        .select(bipartiteNodeName(col("node")).as("node"),
          col("rank_scaled"))
    },
      s"""WITH eo AS MATERIALIZED (
          |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |e AS MATERIALIZED (
          |  SELECT src, dst FROM eo UNION ALL SELECT dst, src FROM eo),
          |""".stripMargin +
        graft.graph.PageRank.oracleSql() +
        "\nSELECT node, r AS rank_scaled FROM r4"),

    // TrustRank over the same graph: ALL teleport mass seeded at the
    // BUILDING-segment customers — suppliers earn rank only as the
    // trusted segment's purchases vouch for them (Gyöngyi et al. 2004,
    // the quality-propagation gate). Same integer iteration + oracle
    GraftQuery("q_trustrank", (s, dir) => {
      val e0 = Tables.table(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables.table(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
      val seeds = Tables.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select((col("c_custkey").cast("long") * 2).as("node"))
      // single-compute symmetrization — see the q_pagerank note
      graft.graph.PageRank.trustRanks(symmetrized(e0), seeds,
          symmetric = true)
        .select(bipartiteNodeName(col("node")).as("node"),
          col("rank_scaled"))
    },
      s"""WITH eo AS MATERIALIZED (
          |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |e AS MATERIALIZED (
          |  SELECT src, dst FROM eo UNION ALL SELECT dst, src FROM eo),
          |seeds AS MATERIALIZED (
          |  SELECT DISTINCT 'c' || c_custkey AS node FROM customer
          |  WHERE c_mktsegment = 'BUILDING'),
          |""".stripMargin +
        graft.graph.PageRank.oracleSqlTrust() +
        "\nSELECT node, r AS rank_scaled FROM r4"),

    // Exact per-node triangle counts over the part↔part co-purchase
    // graph (parts sharing an order; ≤C(7,2) pairs per order, so the
    // edge build is bounded per group). Degree-ordered orientation caps
    // the wedge join at O(√(2m)) per apex — the skew-proof formulation;
    // the oracle is the direct triple self-join. The graph computes on
    // LONG node ids (the raw partkey) and stringifies only in the final
    // projection: the r12 sf1 spill adjudication measured the
    // string-keyed pipeline shuffling 7.9 GB and spilling 44 GB at an
    // 8 GB heap — dictionary-width keys through every sort/join are the
    // kind of cost that compounds at 100 TB. Undirected edge SET and
    // per-node counts are canonicalization-order-independent, so numeric
    // a<b vs the oracle's string x.pn<y.pn yield identical results.
    GraftQuery("q_triangles", (s, dir) =>
      graft.graph.Triangles.perNode(partPairEdges(s, dir))
        .select(concat(lit("p"), col("node")).as("node"),
          col("deg"), col("tri_cnt")),
      """WITH lp AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, 'p' || l_partkey AS pn
         |  FROM lineitem),
         |e AS MATERIALIZED (SELECT DISTINCT x.pn AS a, y.pn AS b
         |      FROM lp x JOIN lp y ON x.ok = y.ok AND x.pn < y.pn),
         |""".stripMargin + graft.graph.Triangles.oracleSql),

    // k-core of the part co-purchase graph: exactly 6 peels at k=80 —
    // the dense-region cohesion filter; per round one map-side-combined
    // degree agg + two node-sized semi-joins, edges localCheckpoint-
    // truncated (fixed-pass contract, chained-CTE oracle)
    // Long node ids through all six peels, strings only in the final
    // projection (same r12 change as q_triangles — see its note)
    GraftQuery("q_kcore", (s, dir) =>
      graft.graph.KCore.survivors(partPairEdges(s, dir), k = 80, rounds = 6)
        .select(concat(lit("p"), col("node")).as("node"), col("deg")),
      """WITH lp AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, 'p' || l_partkey AS pn
         |  FROM lineitem),
         |e AS MATERIALIZED (SELECT DISTINCT x.pn AS a, y.pn AS b
         |      FROM lp x JOIN lp y ON x.ok = y.ok AND x.pn < y.pn),
         |""".stripMargin + graft.graph.KCore.oracleSql(k = 80, rounds = 6)),

    // Exact set-similarity self-join with prefix filtering (PPJoin
    // shape) over 3-gram shingle sets: every doc pair with shingle
    // Jaccard >= 0.6, recall 1.0 by theorem — only each doc's rarest
    // |x|-ceil(t|x|)+1 shingles are indexed, so frequent-shingle
    // postings never explode the join. The UNCAPPED exact path next to
    // the capped inverted index (q_dedup_ngram_jaccard) and the
    // probabilistic MinHash tier; oracle = direct all-pairs join
    GraftQuery("q_prefix_jaccard_join", (s, dir) =>
      graft.dedup.PrefixJoin.jaccardJoinOnSets(
        graft.dedup.Dedup.shingles(Tables.documents(s, dir), n = 3)
          .withColumnRenamed("shingle", "term"),
        tPct = 60),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |tk AS (SELECT DISTINCT doc_id,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS term
         |  FROM w, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)),
         |""".stripMargin + graft.dedup.PrefixJoin.oracleSql(tPct = 60)),
  )
}
