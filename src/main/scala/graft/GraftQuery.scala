package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{JaccardMaxDocId, JaccardThreshold}
import graft.cdc.EnvelopeOps
import graft.ops.Predicates

/** One registered batch query: its Spark plan over an sf corpus directory
  * and the DuckDB SQL that re-derives the same rows for hash verification.
  * Column names/aliases match between the two by construction (the
  * verifier sorts columns by name before hashing). */
final case class GraftQuery(name: String,
    plan: (SparkSession, String) => DataFrame, oracleSql: String)

object GraftQuery {

  /** Index a registry by name. A repeated name fails loudly, naming every
    * duplicate: in a plain `Map` the later entry would silently replace
    * the earlier one. */
  def byName(qs: Seq[GraftQuery]): Map[String, GraftQuery] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}

/** Plan inputs and oracle SQL fragments used by more than one query
  * family: the parsed/upserted/completed transaction frames and their
  * DuckDB twin `P`, the engine hash kernels replayed in SQL, the
  * synthesized dimension changelogs, and the n-gram Jaccard, winnow and
  * LSH-bucket CTE chains. Single-family helpers live in their family
  * module. */
private[graft] object QueryShared {

  def parsed(s: SparkSession, dir: String): DataFrame =
    EnvelopeOps.parsedTransactions(Tables.events(s, dir))

  def upserts(s: SparkSession, dir: String): DataFrame =
    EnvelopeOps.upsertsOnly(parsed(s, dir))

  def completed(s: SparkSession, dir: String): DataFrame =
    upserts(s, dir).filter(Predicates.isCompleted(col("status")))

  /** Shared CTE prelude: the same envelope analog mapping as
    * [[graft.cdc.EnvelopeOps]] (flat form — DuckDB verifies outputs, not the
    * nested round-trip, which is Spark-side behavior under test). */
  val P =
    """WITH txns AS (
      |  SELECT event_id AS txn_id,
      |         user_id AS account_id,
      |         'TXN-' || event_id AS txn_ref,
      |         CASE event_type WHEN 'purchase' THEN 'DEBIT' WHEN 'click' THEN 'TRANSFER_OUT'
      |              WHEN 'error' THEN 'FEE' WHEN 'signup' THEN 'CREDIT' ELSE 'TRANSFER_IN' END AS txn_type,
      |         value AS amount,
      |         CASE user_id % 3 WHEN 0 THEN 'USD' WHEN 1 THEN 'NGN' ELSE 'EUR' END AS currency,
      |         CASE WHEN event_type = 'error' THEN 'FAILED' ELSE 'COMPLETED' END AS status,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS event_time_ms,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS event_time_us,
      |         CASE event_id % 10 WHEN 0 THEN 'd' WHEN 1 THEN 'u' WHEN 2 THEN 'r' ELSE 'c' END AS op
      |  FROM events
      |), upserts AS (
      |  SELECT * FROM txns WHERE op <> 'd' AND account_id <> 0
      |), completed AS (
      |  SELECT * FROM upserts WHERE status = 'COMPLETED'
      |)
      |""".stripMargin

  /** DuckDB reimplementation of the engine-side 64-bit hash kernels, built
    * from HUGEINT mod-2^64 arithmetic so the "engine-defined" fingerprint
    * queries get REAL cross-engine oracles instead of rows-only checks.
    * Byte access is `ord(substr(s, i, 1))`, which equals the UTF-8 byte the
    * Spark kernels hash because the shipped corpora are pure ASCII (the
    * Spark side is byte-correct for any input; only the ORACLE needs the
    * ASCII precondition). */
  object SqlHash {
    /** Unsigned 2^64 wrap-around constants. */
    val U64 = "18446744073709551616::HUGEINT"
    val I64Min = "9223372036854775808::HUGEINT"

    /** Unsigned HUGEINT -> signed BIGINT (two's complement). */
    def toSigned(h: String): String =
      s"CAST(CASE WHEN ($h) >= $I64Min THEN ($h) - $U64 ELSE ($h) END AS BIGINT)"

    /** FNV-1a 64 over the bytes of string expression `s` (ASCII oracle
      * twin of [[graft.functions.Fnv1a64Helper]]); lambda vars must be
      * unique per inlining site. */
    def fnv1a64(s: String, acc: String, b: String): String =
      s"""list_reduce(
         |  list_prepend(14695981039346656037::HUGEINT,
         |    list_transform(range(1, length($s)+1), __fi -> ord(substr($s, __fi, 1))::HUGEINT)),
         |  ($acc, $b) -> (($acc // 256 * 256 + xor(($acc % 256)::BIGINT, $b::BIGINT)::HUGEINT) * 1099511628211::HUGEINT) % $U64)""".stripMargin

    /** Signed BIGINT -> unsigned HUGEINT in [0, 2^64). */
    def toUnsigned(x: String): String =
      s"(CASE WHEN ($x) < 0 THEN ($x)::HUGEINT + $U64 ELSE ($x)::HUGEINT END)"

    /** Bitwise xor of two unsigned-represented 64-bit values (via the
      * two's-complement BIGINT round trip — same bits). */
    def uxor(a: String, b: String): String =
      toUnsigned(s"xor(${toSigned(a)}, ${toSigned(b)})")

    /** (a * c) mod 2^64 for unsigned `a` < 2^64 and a 64-bit constant.
      * A direct product can reach 2^128 and overflow signed INT128, so
      * the constant is split into 32-bit halves: a*c = a*c0 + (a*c1
      * mod 2^32)*2^32 (mod 2^64), keeping every intermediate < 2^97. */
    def umul(a: String, c: BigInt): String = {
      val c0 = c & 0xffffffffL
      val c1 = c >> 32
      if (c1 == 0) s"((($a) * $c0::HUGEINT) % $U64)"
      else s"(((($a) * $c0::HUGEINT) + (((($a) * $c1::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)) % $U64)"
    }

    def shr(a: String, n: Int): String =
      s"(($a) // ${BigInt(2).pow(n)}::HUGEINT)"

    /** 64-bit rotate-left: the two shifted halves occupy disjoint bit
      * ranges, so their sum equals the bitwise or. */
    def rotl(a: String, r: Int): String =
      s"((${umul(a, BigInt(2).pow(r))}) + (($a) // ${BigInt(2).pow(64 - r)}::HUGEINT))"

    val XxP1 = BigInt("11400714785074694791") // 0x9E3779B185EBCA87
    val XxP2 = BigInt("14029467366897019727") // 0xC2B2AE3D27D4EB4F
    val XxP3 = BigInt("1609587929392839161")  // 0x165667B19E3779F9
    val XxP5 = BigInt("2870177450012600261")  // 0x27D4EB2F165667C5

    /** Spark's XXH64.hashInt(input, seed) as a chain of named column
      * steps (each step references only the previous one, so wrapping
      * SELECTs keep the expression tree linear instead of exponential).
      * Verified step-for-step against `xxhash64()` output in tests; for
      * multi-arg `xxhash64(a, b)` chain two invocations — the first
      * result is the second's seed. Returns (steps, finalCol). */
    def xxh64IntSteps(input: String, seed: String, p: String): (Seq[(String, String)], String) = {
      val steps = Seq(
        s"${p}1" -> uxor(s"((($seed) + ${XxP5 + 4}::HUGEINT) % $U64)", umul(input, XxP1)),
        s"${p}2" -> s"((${umul(rotl(s"${p}1", 23), XxP2)} + $XxP3::HUGEINT) % $U64)",
        s"${p}3" -> uxor(s"${p}2", shr(s"${p}2", 33)),
        s"${p}4" -> umul(s"${p}3", XxP2),
        s"${p}5" -> uxor(s"${p}4", shr(s"${p}4", 29)),
        s"${p}6" -> umul(s"${p}5", XxP3),
        s"${p}7" -> uxor(s"${p}6", shr(s"${p}6", 32)))
      (steps, s"${p}7")
    }

    /** Wrap `inner` in one SELECT per step, adding each column. */
    def applySteps(inner: String, steps: Seq[(String, String)]): String =
      steps.foldLeft(inner) { case (q, (c, e)) => s"SELECT *, $e AS $c FROM ($q)" }

    val XxP4 = BigInt("9650029242287828579") // 0x85EBCA77C2B2AE63

    /** Spark's XXH64.hashLong(input, seed) — same shape as
      * [[xxh64IntSteps]] with the 8-byte mixing constants. */
    def xxh64LongSteps(input: String, seed: String, p: String): (Seq[(String, String)], String) = {
      val steps = Seq(
        s"${p}1" -> uxor(s"((($seed) + ${XxP5 + 8}::HUGEINT) % $U64)",
          umul(rotl(umul(input, XxP2), 31), XxP1)),
        s"${p}2" -> s"((${umul(rotl(s"${p}1", 27), XxP1)} + $XxP4::HUGEINT) % $U64)",
        s"${p}3" -> uxor(s"${p}2", shr(s"${p}2", 33)),
        s"${p}4" -> umul(s"${p}3", XxP2),
        s"${p}5" -> uxor(s"${p}4", shr(s"${p}4", 29)),
        s"${p}6" -> umul(s"${p}5", XxP3),
        s"${p}7" -> uxor(s"${p}6", shr(s"${p}6", 32)))
      (steps, s"${p}7")
    }

    // 32-bit lane (murmur3): values stay in [0, 2^32), so products fit
    // HUGEINT directly and xor can round-trip through BIGINT unsigned
    def m32(a: String, c: BigInt): String =
      s"((($a) * $c::HUGEINT) % 4294967296::HUGEINT)"
    def rotl32(a: String, r: Int): String =
      s"((${m32(a, BigInt(2).pow(r))}) + (($a) // ${BigInt(2).pow(32 - r)}::HUGEINT))"
    def xor32(a: String, b: String): String =
      s"xor(($a)::BIGINT, ($b)::BIGINT)::HUGEINT"

    /** Spark's Murmur3_x86_32 over the bytes of string column `col`
      * (seed 42), as one fold + fmix steps: 4-byte little-endian words
      * and tail bytes go through the identical mixK1+mixH1 round, so one
      * uniform list_reduce covers both; returns (foldExpr over column
      * `col` with length column `lenCol`, fmix steps ending in `__mm`). */
    def murmur3Fold(col: String): String = {
      val k1 = m32(rotl32(m32("__e", BigInt(3432918353L)), 15), BigInt(461845907))
      val mixbody = s"(((${rotl32(xor32("__a", k1), 13)}) * 5::HUGEINT + 3864292196::HUGEINT) % 4294967296::HUGEINT)"
      s"""list_reduce(list_prepend(42::HUGEINT, list_concat(
         |  list_transform(range(0, length($col) // 4), __j ->
         |    (ord(substr($col, 4*__j + 1, 1)) + ord(substr($col, 4*__j + 2, 1)) * 256
         |     + ord(substr($col, 4*__j + 3, 1)) * 65536 + ord(substr($col, 4*__j + 4, 1)) * 16777216)::HUGEINT),
         |  list_transform(range(length($col) - length($col) % 4 + 1, length($col) + 1),
         |    __i -> ord(substr($col, __i, 1))::HUGEINT))), (__a, __e) -> $mixbody)""".stripMargin
    }

    /** Murmur3 finalization over fold column `__m0` and byte-length
      * column `__n`; final unsigned 32-bit hash lands in `__mm`. */
    val murmur3FmixSteps: Seq[(String, String)] = Seq(
      "__f1" -> xor32("__m0", "__n"),
      "__f2" -> m32(xor32("__f1", shr("__f1", 16)), BigInt(2246822507L)),
      "__f3" -> m32(xor32("__f2", shr("__f2", 13)), BigInt(3266489909L)),
      "__mm" -> xor32("__f3", shr("__f3", 16)))

    /** Spark's XXH64.hashUnsafeBytes over the bytes of short string
      * column `w` (seed 42), valid for lengths < 16 — covers the one
      * 8-byte chunk, one 4-byte chunk, and tail bytes of the reference
      * finalization (the 32-byte stripe loop never runs). The corpus'
      * max whitespace token is 8 bytes; lengths >= 16 would need the
      * extra 8-byte rounds. Final unsigned hash lands in `__hu`. */
    def xxh64ShortStringSteps: Seq[(String, String)] = {
      def leBytes(startPlus: String, n: Int): String =
        (0 until n).map(i =>
          s"ord(substr(w, $startPlus${i + 1}, 1))::HUGEINT * ${BigInt(256).pow(i)}::HUGEINT")
          .mkString("(", " + ", ")")
      val byteFold =
        s"""list_reduce(list_prepend(__h2,
           |  list_transform(range((__o1)::BIGINT + 1, (__L)::BIGINT + 1), __i -> ord(substr(w, __i::INT, 1))::HUGEINT)),
           |  (__a, __b) -> ${umul(rotl(uxor("__a", umul("__b", XxP5)), 11), XxP1)})""".stripMargin
      Seq(
        "__L" -> "length(w)::HUGEINT",
        "__h0" -> s"((42::HUGEINT + $XxP5::HUGEINT + __L) % $U64)",
        "__k8" -> s"(CASE WHEN __L >= 8 THEN ${leBytes("", 8)} ELSE 0::HUGEINT END)",
        "__h0aux" -> uxor("__h0", umul(rotl(umul("__k8", XxP2), 31), XxP1)),
        "__h1" -> s"(CASE WHEN __L >= 8 THEN ((${umul(rotl("__h0aux", 27), XxP1)} + $XxP4::HUGEINT) % $U64) ELSE __h0 END)",
        "__o4" -> "(CASE WHEN __L >= 8 THEN 8::HUGEINT ELSE 0::HUGEINT END)",
        "__k4" -> ("(CASE WHEN __L - __o4 >= 4 THEN (ord(substr(w, (__o4)::INT + 1, 1))::HUGEINT" +
          " + ord(substr(w, (__o4)::INT + 2, 1))::HUGEINT * 256::HUGEINT" +
          " + ord(substr(w, (__o4)::INT + 3, 1))::HUGEINT * 65536::HUGEINT" +
          " + ord(substr(w, (__o4)::INT + 4, 1))::HUGEINT * 16777216::HUGEINT) ELSE 0::HUGEINT END)"),
        "__h2" -> s"(CASE WHEN __L - __o4 >= 4 THEN ((${umul(rotl(uxor("__h1", umul("__k4", XxP1)), 23), XxP2)} + $XxP3::HUGEINT) % $U64) ELSE __h1 END)",
        "__o1" -> "(CASE WHEN __L - __o4 >= 4 THEN __o4 + 4 ELSE __o4 END)",
        "__h3" -> byteFold,
        "__a1" -> uxor("__h3", shr("__h3", 33)),
        "__a2" -> umul("__a1", XxP2),
        "__a3" -> uxor("__a2", shr("__a2", 29)),
        "__a4" -> umul("__a3", XxP3),
        "__hu" -> uxor("__a4", shr("__a4", 32)))
    }
  }

  /** DuckDB CTEs replaying [[graft.functions.WinnowHelper]]: base-257
    * polynomial k-gram hashes (the rolling update is an optimization of
    * the same value) + distinct sliding-window minima as `sel(doc_id,
    * fps)`. Shared by the fingerprint-summary and containment oracles. */
  def sqlWinnowCtes(k: Int, w: Int): String = {
    val gram = s"""list_reduce(
       |      list_prepend(0::HUGEINT,
       |        list_transform(range(__i, __i + $k), __j -> ord(substr(text, __j, 1))::HUGEINT)),
       |      (__a, __b) -> (__a * 257::HUGEINT + __b) % ${SqlHash.U64})""".stripMargin
    s"""WITH h AS (
       |  SELECT doc_id, length(text) - $k + 1 AS m,
       |    CASE WHEN length(text) >= $k
       |      THEN list_transform(range(1, length(text) - $k + 2), __i -> ${SqlHash.toSigned(gram)})
       |      ELSE [] END AS hs
       |  FROM documents
       |), sel AS (
       |  SELECT doc_id,
       |    CASE WHEN m < 1 THEN []
       |         WHEN m <= $w THEN [list_min(hs)]
       |         ELSE list_distinct(list_transform(range(1, m - $w + 2),
       |                __s -> list_min(list_slice(hs, __s, __s + $w - 1)))) END AS fps
       |  FROM h
       |)""".stripMargin
  }

  /** DuckDB CTEs for the bounded exact n-gram Jaccard pairs, shared by the
    * pair and cluster oracles (`jpairs` = pairs at `threshold`). */
  def sqlJaccardCtesAt(threshold: Double): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < $JaccardMaxDocId),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM d)),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |jall AS (SELECT doc_a, doc_b, n_inter,
       |        floor((n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter)) * 1000000.0) / 1000000.0 AS jaccard
       |      FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id),
       |jpairs AS (SELECT * FROM jall WHERE jaccard >= $threshold)""".stripMargin

  lazy val sqlJaccardCtes: String = sqlJaccardCtesAt(JaccardThreshold)

  /** Shared CTE chain replaying [[graft.sim.Similarity.lshBucket]] at
    * `nBits` in DuckDB SQL — xxhash64-derived hyperplane components
    * (seed 42, step-for-step HUGEINT arithmetic), sign tests, bucket ids.
    * Ends with `n(vec_id, v, norm)` and `buck(vec_id, bucket)`; callers
    * append their own CTEs/SELECT. Used by the LSH ANN oracle (nBits=4)
    * and the semantic-dedup oracle (nBits=[[SemDedupBits]]). */
  def sqlLshBucketCtes(nBits: Int): String = {
    val (seedSteps, seedCol) = SqlHash.xxh64IntSteps("b", "42", "__s")
    val (compSteps, compCol) = SqlHash.xxh64IntSteps("d", seedCol, "__t")
    // the table-function range() only takes constants; the dimension
    // count comes from the data, so derive d via the scalar list range
    val grid = s"SELECT b, unnest(range(0, (SELECT max(len(embedding)) FROM embeddings))) AS d " +
      s"FROM range(0, $nBits) t1(b)"
    val comps = s"SELECT b, d, ${SqlHash.toSigned(compCol)}::DOUBLE / 9.223372036854776e18 AS comp " +
      s"FROM (${SqlHash.applySteps(grid, seedSteps ++ compSteps)})"
    s"""comps AS ($comps),
       |planes AS (SELECT b, list(comp ORDER BY d) AS pv FROM comps GROUP BY b),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |sgn AS (SELECT vec_id, CASE WHEN list_dot_product(v, pv) > 0 THEN (1::BIGINT << b) ELSE 0 END AS bit
       |        FROM n CROSS JOIN planes),
       |buck AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM sgn GROUP BY vec_id)""".stripMargin
  }

  /** DuckDB CTEs reproducing the synthesized ACCOUNTS CDC changelog + its
    * latest-per-key KTable reduction (the flat twin of
    * [[graft.cdc.DimensionCdc.accountsDim]] — the nested JSON serde round
    * trip is Spark-side behavior under test). */
  val sqlAcctDim =
    """acct_ver AS (
      |  SELECT c_custkey AS account_id, c_custkey AS customer_id,
      |         'ACCT-' || c_custkey AS account_number,
      |         CASE WHEN c_custkey % 2 = 0 THEN 'SAVINGS' ELSE 'CURRENT' END AS account_type,
      |         c_acctbal + v * 100.0 AS balance,
      |         CASE c_custkey % 3 WHEN 0 THEN 'USD' WHEN 1 THEN 'NGN' ELSE 'EUR' END AS currency,
      |         CASE WHEN c_custkey % 11 = 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS account_status,
      |         (c_custkey * 10 + v) * 1000000 AS cdc_ts_us,
      |         CASE WHEN c_custkey % 13 = 0 AND v = c_custkey % 3 THEN 'd'
      |              WHEN v = 0 THEN 'c' ELSE 'u' END AS op
      |  FROM (SELECT c_custkey, c_acctbal, unnest(generate_series(0, c_custkey % 3)) AS v FROM customer)
      |),
      |acct_dim AS (
      |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY account_id ORDER BY cdc_ts_us DESC) AS rn
      |                 FROM acct_ver)
      |  WHERE rn = 1 AND op <> 'd'
      |)""".stripMargin

  /** Same for the synthesized CUSTOMERS changelog
    * ([[graft.cdc.DimensionCdc.customersDim]]). */
  val sqlCustDim =
    """cust_ver AS (
      |  SELECT c_custkey AS customer_id,
      |         'F' || (c_custkey % 100) AS first_name,
      |         'L' || c_custkey AS last_name,
      |         'c' || c_custkey || '.v' || v || '@abbank.example' AS email,
      |         c_mktsegment AS segment,
      |         (c_custkey * 10 + v) * 1000000 + 500000 AS cdc_ts_us,
      |         CASE WHEN c_custkey % 17 = 0 AND v = c_custkey % 2 THEN 'd'
      |              WHEN v = 0 THEN 'c' ELSE 'u' END AS op
      |  FROM (SELECT c_custkey, c_mktsegment, unnest(generate_series(0, c_custkey % 2)) AS v FROM customer)
      |),
      |cust_dim AS (
      |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY customer_id ORDER BY cdc_ts_us DESC) AS rn
      |                 FROM cust_ver)
      |  WHERE rn = 1 AND op <> 'd'
      |)""".stripMargin
}
