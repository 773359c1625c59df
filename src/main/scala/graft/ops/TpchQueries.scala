package graft
package ops

import org.apache.spark.sql.functions._

import graft.QueryShared.{completed, P, upserts}
import graft.SparkEntry.LargeOrderQty

/** TPC-H-shaped relational queries plus rollup/cube/pivot and salted
  * aggregation (the `tpch` family). */
object TpchQueries {

  def queries: Seq[GraftQuery] = Seq(
    // General analytics over the star schema's big tables (lineitem is
    // the table the bench SF is sized by): TPC-H Q1-shaped pricing
    // summary. Money aggregates run in DECIMAL — exact and
    // order-independent, so engines agree regardless of partitioning —
    // and cast to double once at the end
    GraftQuery("q_pricing_summary", (s, dir) => {
      val li = Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01"))
      val ext = col("l_extendedprice").cast("decimal(18,2)")
      val one = lit(1).cast("decimal(4,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      val tax = col("l_tax").cast("decimal(4,2)")
      // corpus-scaling money sums leave the engine as their exact
      // unscaled integer (micro-NGN BIGINT; ANSI overflows loud), never
      // as rounded doubles: at sf2 the DECIMAL(38,6) sums exceed 2^53 in
      // unscaled magnitude, where decimal->double conversion is engine-
      // dependent (DuckDB double-rounds) AND downscaling to cents hits
      // half-way ties — 2dp x 2dp x 2dp products end in ...5000 often —
      // where the engines' tie modes disagree. Integer out, no rounding
      // anywhere (the bigram LM's integer micro-nats discipline; caught
      // by the sf2 probe: sum_charge off by one cent / one ulp).
      // sum_base_price stays 2dp-exact (sum of DECIMAL(18,2)) and its
      // unscaled value fits 2^53 up to ~sf1000
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // whole-number doubles: exact
          sum(ext).cast("double").as("sum_base_price"),
          (sum(ext * (one - disc)) * lit(1000000))
            .cast("decimal(38,0)").cast("long").as("sum_disc_price_micros"),
          (sum(ext * (one - disc) * (one + tax)) * lit(1000000))
            .cast("decimal(38,0)").cast("long").as("sum_charge_micros"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * 1000000 AS DECIMAL(38,0)) AS BIGINT) AS sum_disc_price_micros,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) * 1000000 AS DECIMAL(38,0)) AS BIGINT) AS sum_charge_micros,
        |  CAST(count(*) AS BIGINT) AS count_order,
        |  sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY 1, 2""".stripMargin),

    // TPC-H Q5-shaped local-supplier volume: the 6-way star join — three
    // broadcast dims (region->nation pruning the fact rows, supplier with
    // the same-nation colocation predicate), one large-large
    // lineitem-orders join, decimal-exact revenue per nation
    GraftQuery("q_local_supplier_volume", (s, dir) => {
      val region = Tables.table(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables.table(s, dir, "nation")
      val cust = Tables.customer(s, dir)
      val ord = Tables.table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val li = Tables.table(s, dir, "lineitem")
      val supp = Tables.table(s, dir, "supplier")
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        // corpus-scaling money sum -> exact micro-NGN integer (see the
        // q_pricing_summary note: decimal->double and cent-rounding are
        // both engine-dependent once the sum outgrows 2^53 unscaled)
        .agg((sum(rev) * lit(1000000)).cast("decimal(38,0)")
          .cast("long").as("revenue_micros"))
        .orderBy(col("revenue_micros").desc, col("n_name"))
    },
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * 1000000 AS DECIMAL(38,0)) AS BIGINT) AS revenue_micros
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin),

    // TPC-H Q3-shaped shipping priority: selective dimension filter,
    // two joins, decimal-exact revenue, TakeOrderedAndProject top-10
    GraftQuery("q_ship_priority", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.table(s, dir, "orders")
        .filter(col("o_orderdate") < lit("2000-03-15"))
      val li = Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("2000-03-15"))
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        // per-ORDER revenue is bounded by order size, not corpus size:
        // the DECIMAL(38,4) sum stays far under 2^53 unscaled at any SF,
        // so the native-scale double cast is exact in both engines
        .agg(sum(rev).cast("double").as("revenue"))
        .select(col("l_orderkey").as("orderkey"),
          // parquet timestamp[ms] arrives as TIMESTAMP_NTZ; the session
          // is pinned UTC so the cast is wall-clock-identity
          unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
          col("o_orderpriority").as("orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey AS orderkey,
        |  epoch_ms(o_orderdate) AS orderdate_ms,
        |  o_orderpriority AS orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '2000-03-15'
        |  AND l_shipdate > TIMESTAMP '2000-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, orderkey LIMIT 10""".stripMargin),

    // TPC-H Q13-shaped order-count distribution: large-large LEFT OUTER
    // join (every customer kept — orderless customers land in the c_count
    // = 0 bucket), per-customer count, then a tiny second aggregation
    // over the counts. The outer join is the operator under test: the
    // fact side shuffles once on the join key and the partial count
    // combines map-side
    GraftQuery("q_order_count_dist", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.table(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist")),
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY 1)
        |GROUP BY 1""".stripMargin),

    // TPC-H Q16-shaped supplier diversity: distinct suppliers per part
    // attribute bucket, excluding flagged suppliers via an ANTI join on a
    // NOT-IN subquery (the flagged set is tiny — broadcast anti, the fact
    // never shuffles for it); the distinct-count agg is the only shuffle
    GraftQuery("q_part_supplier_cnt", (s, dir) => {
      val flagged = Tables.table(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      Tables.table(s, dir, "lineitem")
        .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(Tables.table(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#1")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin),

    // Referential-integrity audit across the star schema's FK relations
    // (incl. the events stream's user linkage): per relation, child
    // rows, null/distinct FKs, orphan keys and rows. Each relation is
    // one map-side-combined key aggregation + one key-sized left join —
    // the fact tables never join row-for-row
    GraftQuery("q_fk_audit", (s, dir) => {
      val li = Tables.table(s, dir, "lineitem")
      val ord = Tables.table(s, dir, "orders")
      val cust = Tables.customer(s, dir)
      graft.ops.Profile.fkAudit(Seq(
        ("lineitem.l_orderkey->orders", li, "l_orderkey",
          ord, "o_orderkey"),
        ("lineitem.l_partkey->part", li, "l_partkey",
          Tables.table(s, dir, "part"), "p_partkey"),
        ("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.table(s, dir, "supplier"), "s_suppkey"),
        ("orders.o_custkey->customer", ord, "o_custkey",
          cust, "c_custkey"),
        ("customer.c_nationkey->nation", cust, "c_nationkey",
          Tables.nation(s, dir), "n_nationkey"),
        ("events.user_id->customer", Tables.events(s, dir), "user_id",
          cust, "c_custkey")))
    },
      graft.ops.Profile.fkAuditOracleSql(Seq(
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        ("events.user_id->customer", "events", "user_id",
          "customer", "c_custkey")))),

    // ---- subquery-decorrelation family (r8): the TPC-H shapes whose SQL
    //      form is a correlated EXISTS / NOT EXISTS / scalar subquery,
    //      expressed directly as the decorrelated plan Catalyst would have
    //      to derive — semi joins, anti joins, broadcast scalar attachment,
    //      and the one-grouped-pass rewrite of a double self-join ----------
    // TPC-H Q4-shaped priority check: orders having SOME late-shipping
    // lineitem (EXISTS with a correlated range predicate) -> LEFT SEMI join
    // on the order key with the range condition in the join predicate. The
    // fact side is projected to (l_orderkey, l_shipdate) before the
    // exchange; the semi join dedupes order-side matches inside the join
    // (no DISTINCT stage), one shuffle each side.
    GraftQuery("q_priority_semi", (s, dir) => {
      val ord = Tables.table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-04-01"))
      val li = Tables.table(s, dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
      ord.join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
      // the oracle keeps the CORRELATED form on purpose: DuckDB decorrelates
      // it itself, independently verifying the Spark-side manual rewrite
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin),

    // TPC-H Q17-shaped small-quantity revenue: the correlated scalar-agg
    // subquery (per-part average quantity) decorrelated into a grouped
    // pass over ONLY the brand-filtered lines (the broadcast part prune
    // runs before the agg, so the per-part stats job is 1/#brands of the
    // fact), then broadcast back. avg compare is cross-multiplied
    // (qty * 5 * n < sum) so no engine-dependent division ever happens —
    // quantities are whole-number doubles, exact.
    GraftQuery("q_small_qty_revenue", (s, dir) => {
      val brandParts = Tables.table(s, dir, "part")
        .filter(col("p_brand") === "Brand#13").select("p_partkey")
      val li = Tables.table(s, dir, "lineitem")
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val stats = li.groupBy("l_partkey")
        .agg(sum(col("l_quantity")).as("sum_q"), count(lit(1)).as("n_q"))
      li.join(broadcast(stats), "l_partkey")
        .filter(col("l_quantity") * lit(5) * col("n_q") < col("sum_q"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * lit(1000000))
          .cast("decimal(38,0)").cast("long").as("revenue_micros"),
          count(lit(1)).as("n_lines"))
    },
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#13'
        |), st AS (
        |  SELECT l_partkey, sum(l_quantity) AS sum_q, count(*) AS n_q
        |  FROM li GROUP BY 1
        |)
        |SELECT
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 1000000 AS DECIMAL(38,0)) AS BIGINT) AS revenue_micros,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM li JOIN st USING (l_partkey)
        |WHERE l_quantity * 5 * n_q < sum_q""".stripMargin),

    // TPC-H Q21-shaped waiting-supplier scan: the classic EXISTS(other
    // supplier on the order) AND NOT EXISTS(other FLAGGED supplier) double
    // self-join, rewritten as ONE grouped pass over the fact — per order,
    // count distinct suppliers and distinct flagged suppliers; a supplier's
    // flagged line "waits" iff the order is multi-supplier and they are its
    // only flagged one. Two narrow shuffles on the order key replace two
    // fact-size self-joins (the decorrelation a 100 TB plan needs — the
    // EXISTS pair would scan lineitem three times).
    GraftQuery("q_waiting_supplier", (s, dir) => {
      // r14 (guide §2.4): one per-order aggregation carries the flagged
      // supplier SET alongside the distinct counts — when exactly one
      // supplier is flagged, that set has one element and IS the
      // waiting supplier, so the former second fact scan + fact-fact
      // join on l_orderkey are gone (collect_set drops the non-R nulls;
      // per-order cardinality is basket-bounded). Same numwait rows.
      Tables.table(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(
          collect_set(col("l_suppkey")).as("__ss"),
          collect_set(when(col("l_returnflag") === "R", col("l_suppkey")))
            .as("__fs"))
        .filter(size(col("__ss")) > 1 && size(col("__fs")) === 1)
        .select(element_at(col("__fs"), 1).as("l_suppkey"))
        .join(broadcast(Tables.table(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    },
      // correlated EXISTS/NOT-EXISTS form kept as the oracle — the engine
      // runs the one-grouped-pass decorrelation; equality here proves the
      // rewrite
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |      WHERE l_returnflag = 'R') l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1""".stripMargin),

    // TPC-H Q2-shaped minimum-cost supplier: the correlated scalar-MIN
    // subquery (cheapest offer per part, ties kept) decorrelated into a
    // whole-partition window min over the size-pruned offers — ONE fact
    // scan, one partkey shuffle; the agg-then-join-back form would rescan
    // the fact for the min side (the keep-best lesson). Unit price is one
    // IEEE division — bit-identical across engines
    GraftQuery("q_min_cost_supplier", (s, dir) => {
      val sized = Tables.table(s, dir, "part")
        .filter(col("p_size") === 25).select("p_partkey")
      val offers = Tables.table(s, dir, "lineitem")
        .join(broadcast(sized), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      offers.withColumn("min_price", min(col("unit_price")).over(w))
        .filter(col("unit_price") === col("min_price"))
        .select(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"),
          col("min_price"))
        .distinct()
    },
      """WITH po AS (
        |  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size = 25
        |), m AS (
        |  SELECT *, min(unit_price) OVER (PARTITION BY l_partkey) AS min_price
        |  FROM po
        |)
        |SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey, min_price
        |FROM m WHERE unit_price = min_price""".stripMargin),

    // CUBE multi-level aggregation (the full 2^n grouping-set lattice;
    // ROLLUP's q_rollup_spend covers the hierarchy form) — grouping_id
    // disambiguates aggregated-away NULLs; integer-kobo money. One
    // shuffle: Spark expands the lattice map-side and combines partials
    GraftQuery("q_cube_spend", (s, dir) => {
      val t = completed(s, dir)
        .select(col("currency"), col("txn_type"),
          expr("CAST(round(amount * 100) AS BIGINT)").as("kobo"))
      t.cube("currency", "txn_type")
        .agg(grouping_id().cast("long").as("gid"),
          sum(col("kobo")).as("spend_kobo"), count(lit(1)).as("n_txns"))
    },
      P +
      """SELECT currency, txn_type,
        |  CAST(GROUPING(currency, txn_type) AS BIGINT) AS gid,
        |  CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT) AS spend_kobo,
        |  CAST(count(*) AS BIGINT) AS n_txns
        |FROM completed
        |GROUP BY CUBE (currency, txn_type)""".stripMargin),

    // TPC-H Q15-shaped top supplier: the view-plus-global-max shape — the
    // per-supplier revenue agg computed once, its max attached as a
    // broadcast one-row scalar, equality on exact integer micros (ties
    // would surface as multiple rows, as in the spec's Q15). The fact
    // scans once; everything after the agg is supplier-cardinality.
    GraftQuery("q_top_supplier", (s, dir) => {
      val rev = Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy("l_suppkey")
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))) *
          lit(1000000)).cast("decimal(38,0)").cast("long").as("total_rev_micros"))
      val mx = rev.agg(max(col("total_rev_micros")).as("max_rev_micros"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_rev_micros") === col("max_rev_micros"))
        .join(broadcast(Tables.table(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey").as("suppkey"), col("s_name"),
          col("total_rev_micros"))
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * 1000000 AS DECIMAL(38,0)) AS BIGINT) AS total_rev_micros
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1
        |)
        |SELECT l_suppkey AS suppkey, s_name, total_rev_micros
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_micros = (SELECT max(total_rev_micros) FROM rev)""".stripMargin),

    // Skew-immune salted two-phase aggregation (== plain groupBy result)
    GraftQuery("q_salt_skew_agg", (s, dir) =>
      graft.ops.Salt.saltedSumCount(upserts(s, dir), Seq("account_id"),
          "amount", col("txn_id"), buckets = 32)
        .select(col("account_id"), round(col("sum_amount"), 2).as("sum_amount"),
          col("n_rows")),
      P +
      """SELECT account_id, round(sum(amount), 2) AS sum_amount,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM upserts GROUP BY 1""".stripMargin),

    // Multi-level aggregation: ROLLUP over (currency, txn_type) with
    // grouping indicators (absent category §2.8, added as extension).
    // round(sum(double),2) is engine-safe here because amounts are exact
    // 2-dp values: the true total is on the 2-dp grid, and summation-order
    // noise (~1e-9) cannot move it across a .005 rounding boundary.
    GraftQuery("q_rollup_spend", (s, dir) =>
      completed(s, dir)
        .rollup(col("currency"), col("txn_type"))
        .agg(round(sum(col("amount")), 2).as("total_amount"),
          count(lit(1)).as("n_txns"))
        .select(
          coalesce(col("currency"), lit("ALL")).as("currency"),
          coalesce(col("txn_type"), lit("ALL")).as("txn_type"),
          col("total_amount"), col("n_txns")),
      P +
      """SELECT coalesce(currency, 'ALL') AS currency,
        |       coalesce(txn_type, 'ALL') AS txn_type,
        |       round(sum(amount), 2) AS total_amount,
        |       CAST(count(*) AS BIGINT) AS n_txns
        |FROM completed GROUP BY ROLLUP (currency, txn_type)""".stripMargin),

    // Pivot: currency columns x txn_type rows (explicit value list keeps
    // the output schema static and plannable — one shuffle, map-side
    // partials; round-safe because amounts are exact 2-dp)
    GraftQuery("q_pivot_currency", (s, dir) =>
      completed(s, dir)
        .groupBy("txn_type")
        .pivot("currency", Seq("USD", "NGN", "EUR"))
        .agg(round(sum(col("amount")), 2))
        .select(col("txn_type"),
          coalesce(col("USD"), lit(0.0)).as("usd_total"),
          coalesce(col("NGN"), lit(0.0)).as("ngn_total"),
          coalesce(col("EUR"), lit(0.0)).as("eur_total")),
      P +
      """SELECT txn_type,
        |  coalesce(round(sum(CASE WHEN currency = 'USD' THEN amount END), 2), 0.0) AS usd_total,
        |  coalesce(round(sum(CASE WHEN currency = 'NGN' THEN amount END), 2), 0.0) AS ngn_total,
        |  coalesce(round(sum(CASE WHEN currency = 'EUR' THEN amount END), 2), 0.0) AS eur_total
        |FROM completed GROUP BY 1""".stripMargin),

    // TPC-H Q18-shaped large-volume orders: the aggregate-then-join-back
    // shape — the HAVING survivors are tiny, so THEY broadcast and the
    // fact/dim tables never shuffle
    GraftQuery("q_large_orders", (s, dir) => {
      val big = Tables.table(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).cast("long").as("total_qty")) // whole-number doubles: exact
        .filter(col("total_qty") > LargeOrderQty)
      val enriched = Tables.table(s, dir, "orders")
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      broadcast(enriched)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_custkey").as("custkey"),
          col("o_orderkey").as("orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
          col("o_totalprice").as("totalprice"), col("total_qty"))
        .orderBy(col("totalprice").desc, col("orderkey"))
        .limit(100)
    },
      s"""WITH big AS (
         |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
         |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > $LargeOrderQty
         |)
         |SELECT c_name, o_custkey AS custkey, o_orderkey AS orderkey,
         |       epoch_ms(o_orderdate) AS orderdate_ms,
         |       o_totalprice AS totalprice, total_qty
         |FROM orders JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY totalprice DESC, orderkey LIMIT 100""".stripMargin),
  )
}
