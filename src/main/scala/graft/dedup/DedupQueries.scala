package graft
package dedup

import org.apache.spark.sql.functions._

import graft.QueryShared.{SqlHash, sqlJaccardCtes, sqlJaccardCtesAt,
  sqlLshBucketCtes, sqlWinnowCtes}
import graft.SparkEntry.{ContainmentMaxDf, ContainMinTextLen, DupSpanGram,
  DupSpanMaxFraction, EmbDupMaxVecId, EmbDupThreshold, JaccardMaxDocId,
  JaccardThreshold, MinhashEstThreshold, MinhashVerifyThreshold, SemDedupBits}
import graft.functions.GraftFunctions

/** Exact, near-duplicate, substring and semantic dedup queries (the
  * `dedup` family). */
object DedupQueries {

  /** DuckDB replay of [[graft.dedup.DupSpans.dupSpans]] as a WITH-body
    * CTE chain ending in `spans(doc_id, span_start, span_end,
    * span_tokens)`: positional word `n`-grams (1-based), fnv64 gram
    * fingerprints, df>=2 keys, and the interval-island merge (gap > n
    * breaks), step-for-step the Spark arithmetic. */
  private def sqlDupSpanCtes(n: Int): String = {
    val w = n - 1
    s"""__ds0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |__dsg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |            array_to_string(w[i:i+$w], ' ') AS gram
       |          FROM (SELECT doc_id, w,
       |                  unnest(generate_series(1, greatest(len(w) - $w, 0))) AS i
       |                FROM __ds0)),
       |__dshr AS (SELECT doc_id, pos,
       |            ${SqlHash.fnv1a64("gram", "__dsa", "__dsb")} AS hraw
       |          FROM __dsg),
       |__dsh AS MATERIALIZED (SELECT doc_id, pos,
       |            ${SqlHash.toSigned("hraw")} AS h
       |          FROM __dshr),
       |__dsk AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df
       |                         FROM __dsh GROUP BY 1) WHERE df >= 2),
       |__dshit AS (SELECT DISTINCT doc_id, pos FROM __dsh JOIN __dsk USING (h)),
       |__dsgap AS (SELECT doc_id, pos,
       |              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $n
       |                   THEN 1 ELSE 0 END AS gap
       |            FROM __dshit),
       |__dsisl AS (SELECT doc_id, pos,
       |              sum(gap) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |            FROM __dsgap),
       |spans AS (SELECT doc_id, min(pos) AS span_start,
       |            max(pos) + $w AS span_end,
       |            max(pos) + $w - min(pos) + 1 AS span_tokens
       |          FROM __dsisl GROUP BY doc_id, island)""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.Sketches.kmvOverlap]]: distinct
    * (source, h) -> per-source bottom-k -> pairwise union bottom-k ->
    * the integral KMV estimator, bit-for-bit. `inner0` must yield
    * (source, __f) with `__f` the UNSIGNED HUGEINT content fingerprint
    * (the FNV-1a64 replay); the xxh64 chain and every division are the
    * same integer ops the Spark side runs. `p` prefixes the step
    * columns (unique per inlining site). */
  private def sqlKmvOverlap(inner0: String, k: Int, p: String): String = {
    val (steps, hCol) = SqlHash.xxh64LongSteps("__f", "42", p)
    val inner = SqlHash.applySteps(inner0, steps)
    s"""hh AS MATERIALIZED (SELECT source, ${SqlHash.toSigned(hCol)} AS h FROM ($inner)),
       |dd AS (SELECT DISTINCT source, h FROM hh),
       |rr AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM dd),
       |sk AS (SELECT source, h FROM rr WHERE rk <= $k),
       |gs AS (SELECT DISTINCT source FROM sk),
       |pr AS (SELECT a.source AS sa, b.source AS sb FROM gs a JOIN gs b ON a.source < b.source),
       |pu AS (SELECT pr.sa, pr.sb, s.h,
       |         max(CASE WHEN s.source = pr.sa THEN 1 ELSE 0 END) AS in_a,
       |         max(CASE WHEN s.source = pr.sb THEN 1 ELSE 0 END) AS in_b
       |       FROM pr JOIN sk s ON s.source = pr.sa OR s.source = pr.sb
       |       GROUP BY 1, 2, 3),
       |ru AS (SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rk,
       |         count(*) OVER (PARTITION BY sa, sb) AS usz FROM pu),
       |uk AS (SELECT * FROM ru WHERE rk <= $k),
       |ag AS (SELECT sa AS source_a, sb AS source_b,
       |         CAST(count(*) AS BIGINT) AS union_k,
       |         max(CASE WHEN usz >= $k AND rk = $k THEN h END) AS theta,
       |         CAST(sum(in_a * in_b) AS BIGINT) AS rho
       |       FROM uk GROUP BY 1, 2),
       |es AS (SELECT *,
       |         CAST(CASE WHEN theta IS NULL THEN union_k
       |              ELSE (($k - 1)::HUGEINT * ${SqlHash.U64}) //
       |                   greatest(theta::HUGEINT + ${SqlHash.I64Min}, 1::HUGEINT) END AS BIGINT) AS est_union,
       |         CAST(rho * 1000000 // union_k AS BIGINT) AS jaccard_micro
       |       FROM ag)
       |SELECT source_a, source_b, union_k, theta, rho, est_union, jaccard_micro,
       |  CAST(CASE WHEN theta IS NULL THEN rho
       |       ELSE est_union * jaccard_micro // 1000000 END AS BIGINT) AS est_inter
       |FROM es""".stripMargin
  }

  def queries: Seq[GraftQuery] = Seq(
    // Dedup: exact (digest-grouped keep-min)
    GraftQuery("q_dedup_exact", (s, dir) => Dedup.exact(Tables.documents(s, dir)),
      """SELECT min(doc_id) AS keep_doc_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY lower(trim(text))""".stripMargin),

    // Dedup: exact n-gram Jaccard pairs via inverted shingle index
    GraftQuery("q_dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), JaccardThreshold, JaccardMaxDocId),
      sqlJaccardCtes + s"""
         |SELECT doc_a, doc_b, n_inter, jaccard FROM jpairs""".stripMargin),

    // Dedup: MinHash signatures + LSH banding candidates — oracle replays
    // murmur3, the perms, and the xxhash64 band buckets in SQL
    GraftQuery("q_dedup_minhash", (s, dir) =>
      MinHashLSH.candidatePairs(Tables.documents(s, dir), MinhashEstThreshold),
      // the full MinHash+LSH banding path replayed in SQL: Spark's murmur3
      // (32-bit lane arithmetic) per shingle, the 64 linear perms mod
      // 2^31-1, per-band bucket ids through four chained XXH64.hashLong
      // rounds, the banding self-join, and the signature-agreement
      // estimate — bit-identical end to end
      {
        import MinHashLSH.{Bands, NumPerms, MersennePrime}
        val mmInner = SqlHash.applySteps(
          s"SELECT doc_id, shingle, length(shingle)::HUGEINT AS __n, ${SqlHash.murmur3Fold("shingle")} AS __m0 FROM sh",
          SqlHash.murmur3FmixSteps)
        val (x1, c1) = SqlHash.xxh64LongSteps("s1", "42", "__x")
        val (x2, c2) = SqlHash.xxh64LongSteps("s2", c1, "__y")
        val (x3, c3) = SqlHash.xxh64LongSteps("s3", c2, "__z")
        val (x4, c4) = SqlHash.xxh64LongSteps("s4", c3, "__w")
        val bandInner = SqlHash.applySteps(
          "SELECT doc_id, sig, b, sig[4*b + 1]::HUGEINT AS s1, sig[4*b + 2]::HUGEINT AS s2, " +
            s"sig[4*b + 3]::HUGEINT AS s3, sig[4*b + 4]::HUGEINT AS s4 FROM sigl CROSS JOIN range(0, $Bands) t(b)",
          x1 ++ x2 ++ x3 ++ x4)
        s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM d0)),
           |mm AS ($mmInner),
           |h31 AS (SELECT doc_id, (__mm % 2147483648::HUGEINT)::BIGINT AS h FROM mm),
           |perms AS (SELECT i, (2*i + 1)::BIGINT AS a, ((i * 2654435769)::BIGINT % 2147483648) AS bb
           |          FROM range(0, $NumPerms) t(i)),
           |sigs AS (SELECT doc_id, i, min((h * a + bb) % $MersennePrime) AS s FROM h31 CROSS JOIN perms GROUP BY doc_id, i),
           |sigl AS (SELECT doc_id, list(s ORDER BY i) AS sig FROM sigs GROUP BY doc_id),
           |bands AS (SELECT doc_id, b, ${SqlHash.toSigned(c4)} AS bucket FROM ($bandInner)),
           |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |          FROM bands x JOIN bands y ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
           |est AS (SELECT doc_a, doc_b,
           |          round(list_sum(list_transform(range(1, ${NumPerms + 1}),
           |            __i -> CASE WHEN sa.sig[__i] = sb.sig[__i] THEN 1.0 ELSE 0.0 END)) / $NumPerms, 6) AS est_jaccard
           |        FROM cands JOIN sigl sa ON doc_a = sa.doc_id JOIN sigl sb ON doc_b = sb.doc_id)
           |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= $MinhashEstThreshold""".stripMargin
      }),

    // Dedup: the full MinHash composition with exact verification —
    // banding candidates, then exact Jaccard computed ONLY for candidates;
    // equals the exhaustive answer on this corpus (planted dups sit at
    // ~0.95 against a 16x4 banding S-curve), so the exact-Jaccard oracle
    // verifies the hash-defined candidate stage end to end
    GraftQuery("q_dedup_minhash_verified", (s, dir) =>
      MinHashLSH.verifiedPairs(
        Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxDocId),
        MinhashVerifyThreshold),
      // the 0.8 cut sits above the banding S-curve, so candidate recall is
      // ~1 and candidates ∩ exact-verify == the exhaustive exact answer
      sqlJaccardCtesAt(MinhashVerifyThreshold) + s"""
         |SELECT doc_a, doc_b, n_inter, jaccard FROM jpairs""".stripMargin),

    // Dedup: INCREMENTAL near-dup — a new batch (doc_id % 10 == 7) signed
    // and banded per-row, equi-joined against the corpus's persisted-shape
    // signature index (+ itself for batch-internal dups), exact verify
    // only for candidates with shingles built only for TOUCHED docs. The
    // continuous-ingest production shape: the corpus is never re-signed.
    // Equals the exhaustive >= 0.8 pairs touching the batch (same banding
    // S-curve argument as q_dedup_minhash_verified); the union over
    // successive batches reconstructs verifiedPairs by induction.
    GraftQuery("q_dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxDocId)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
      MinHashLSH.incrementalVerifiedPairs(
        MinHashLSH.signatureIndex(corpus), corpus, batch, MinhashVerifyThreshold)
    },
      // exhaustive exact Jaccard restricted to pairs TOUCHING the batch
      // split (doc_id % 10 == 7) — the incremental composition's contract
      sqlJaccardCtesAt(MinhashVerifyThreshold) + s"""
         |SELECT doc_a, doc_b, n_inter, jaccard FROM jpairs
         |WHERE doc_a % 10 = 7 OR doc_b % 10 = 7""".stripMargin),

    // Dedup: winnow-fingerprint containment candidates (substring reuse
    // that size-skewed Jaccard misses) — oracle replays the winnow hash
    GraftQuery("q_dedup_containment", (s, dir) => {
      GraftFunctions.register(s)
      MinHashLSH.winnowContainmentPairs(Tables.documents(s, dir), minShared = 5)
    },
      // winnow containment candidates, same fingerprint replay at the
      // containment operator's (k=16, w=16): explode the per-doc fingerprint
      // sets, self-join, count shared values
      sqlWinnowCtes(k = 16, w = 16) + """,
        |fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared_fps
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin),

    // Dedup: the SAME containment candidates under the production hot-
    // postings cap (one boilerplate fingerprint contributes df^2/2 join
    // rows — the sf1 gate measured the blowup; SCALING.md round 5). The
    // cap itself is oracle-verified: the SQL replays the winnow hashes,
    // prunes fingerprints with df > cap, then pairs.
    GraftQuery("q_dedup_containment_capped", (s, dir) => {
      GraftFunctions.register(s)
      MinHashLSH.winnowContainmentPairs(Tables.documents(s, dir),
        minShared = 5, maxDf = ContainmentMaxDf)
    },
      // capped variant: hot fingerprints (posting count > cap) pruned
      // BEFORE pairing — mirrors winnowContainmentPairs(maxDf); df counts
      // POSTING ROWS (not distinct docs), exactly like the Spark side's
      // groupBy("fp").count
      sqlWinnowCtes(k = 16, w = 16) + s""",
        |fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
        |hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > $ContainmentMaxDf),
        |fpk AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM hot))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared_fps
        |FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin),

    // Dedup: containment composition with exact verification — winnow
    // candidates, then a full-text substring check only for candidates;
    // equals the exhaustive containment answer (winnow's shared-
    // fingerprint guarantee makes candidates a superset), so the
    // position() oracle checks the fingerprint stage end to end
    GraftQuery("q_dedup_containment_verified", (s, dir) => {
      GraftFunctions.register(s)
      MinHashLSH.verifiedContainmentPairs(
        Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxDocId),
        minShared = 5, minTextLen = ContainMinTextLen)
    },
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |           WHERE doc_id < $JaccardMaxDocId AND length(text) >= $ContainMinTextLen)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM d a JOIN d b ON a.doc_id < b.doc_id
         |WHERE position(a.text IN b.text) > 0 OR position(b.text IN a.text) > 0""".stripMargin),

    // Dedup: pairs -> connected duplicate clusters (keeper = min doc_id
    // per component; exact pairs as input so the oracle can reproduce the
    // transitive closure with a recursive CTE)
    GraftQuery("q_dedup_clusters", (s, dir) =>
      Dedup.dupClusters(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), JaccardThreshold, JaccardMaxDocId)),
      sqlJaccardCtes.replace("WITH ", "WITH RECURSIVE ") + s""",
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM jpairs
         |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t
         |  UNION
         |  SELECT re.node, e.d FROM reach re JOIN edges e ON e.s = re.r
         |)
         |SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node""".stripMargin),

    // Dedup: the same components via ALTERNATING STAR CONTRACTION —
    // O(log d) rounds vs min-label's O(d), the long-path-component
    // alternative; identical output contract, same recursive-CTE oracle
    GraftQuery("q_dedup_clusters_star", (s, dir) =>
      Dedup.dupClustersStar(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), JaccardThreshold, JaccardMaxDocId)),
      sqlJaccardCtes.replace("WITH ", "WITH RECURSIVE ") + s""",
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM jpairs
         |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t
         |  UNION
         |  SELECT re.node, e.d FROM reach re JOIN edges e ON e.s = re.r
         |)
         |SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node""".stripMargin),

    // Dedup: INCREMENTAL cluster maintenance — the standing corpus
    // labeling (batch split % 10 == 7 held out) folded together with the
    // batch-touching pairs on a REDUCED graph sized by the new pairs, the
    // corpus graph never re-propagated; equals full-closure clustering
    // over all pairs (same recursive-CTE oracle as q_dedup_clusters)
    GraftQuery("q_dedup_clusters_incremental", (s, dir) => {
      val allPairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir), JaccardThreshold, JaccardMaxDocId)
      val corpusPairs = allPairs.filter(
        pmod(col("doc_a"), lit(10)) =!= 7 && pmod(col("doc_b"), lit(10)) =!= 7)
      val newPairs = allPairs.filter(
        pmod(col("doc_a"), lit(10)) === 7 || pmod(col("doc_b"), lit(10)) === 7)
      Dedup.dupClustersIncremental(Dedup.dupClusters(corpusPairs), newPairs)
    },
      // the incremental fold's union contract: identical ground truth to
      // q_dedup_clusters — full transitive closure over ALL pairs
      sqlJaccardCtes.replace("WITH ", "WITH RECURSIVE ") + s""",
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM jpairs
         |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t
         |  UNION
         |  SELECT re.node, e.d FROM reach re JOIN edges e ON e.s = re.r
         |)
         |SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node""".stripMargin),

    // Dedup: SimHash bit-vote fingerprints + chunk-bucketed hamming pairs
    // — oracle replays per-word xxhash64 and the bit votes in SQL
    GraftQuery("q_dedup_simhash", (s, dir) => MinHashLSH.simhashPairs(Tables.documents(s, dir)),
      // the SimHash fingerprint + chunk-bucketed pairs replayed in SQL:
      // per-word XXH64 (short-string path — corpus tokens are <= 8 bytes),
      // the 64 bit-vote counters, sign-packing, 16-bit chunk bucketing and
      // the hamming verify. Chunks come off the unsigned representation
      // (arithmetic-shift + mask == logical shift + mask for masked bits)
      {
        val hInner = SqlHash.applySteps(
          "SELECT doc_id, w FROM wd", SqlHash.xxh64ShortStringSteps)
        s"""WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           |hx AS ($hInner),
           |votes AS (SELECT doc_id, j, sum(CASE WHEN (__hu // (2::HUGEINT ^ j)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS v
           |          FROM hx CROSS JOIN range(0, 64) t(j) GROUP BY doc_id, j),
           |shh AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (2::HUGEINT ^ j)::HUGEINT ELSE 0::HUGEINT END) AS hu FROM votes GROUP BY doc_id),
           |sh AS (SELECT doc_id, hu, ${SqlHash.toSigned("hu")} AS simhash FROM shh),
           |chunked AS (SELECT doc_id, simhash, k,
           |              (hu // (CASE k WHEN 0 THEN 1 WHEN 1 THEN 65536 WHEN 2 THEN 4294967296 ELSE 281474976710656 END)::HUGEINT) % 65536::HUGEINT AS chunk
           |            FROM sh CROSS JOIN range(0, 4) t(k)),
           |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |            CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |          FROM chunked a JOIN chunked b ON a.k = b.k AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin
      }),

    // Dedup: SimHash composition with exact verification — 16x4-bit-chunk
    // hamming candidates (radius 15: the verifier window is a CONSTANT
    // 1000 docs, so selectivity is irrelevant and the wide radius covers
    // the corpus's observed hamming-9 exact pair with margin; the library
    // default stays at the selective 8x8), exact Jaccard ONLY for
    // candidates; equals the exhaustive answer under the hamming-radius
    // precondition asserted in SimhashVerifiedSpec
    GraftQuery("q_dedup_simhash_verified", (s, dir) =>
      MinHashLSH.verifiedSimhashPairs(
        Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxDocId),
        MinhashVerifyThreshold, nChunks = 16, maxHamming = 15),
      // same exhaustive ground truth as minhash_verified: the candidate
      // stages differ (simhash hamming vs banding) but both compositions
      // retain every >= 0.8 pair on this corpus, so both equal the
      // exhaustive exact-Jaccard answer
      sqlJaccardCtesAt(MinhashVerifyThreshold) + s"""
         |SELECT doc_a, doc_b, n_inter, jaccard FROM jpairs""".stripMargin),

    // Dedup: embedding-cosine near-dup pairs — banded sign-LSH candidates
    // (equi-join, no cross product) + exact cosine verify; the DuckDB
    // oracle recomputes the same result as bounded all-pairs
    GraftQuery("q_dedup_embedding", (s, dir) =>
      Dedup.embeddingNearDupPairsBanded(
        Tables.embeddings(s, dir).filter(col("vec_id") < EmbDupMaxVecId),
        EmbDupThreshold),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE vec_id < $EmbDupMaxVecId),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |        round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cos_sim
         |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= $EmbDupThreshold""".stripMargin),

    // Semantic dedup (SemDedup-style): one keeper per sign-LSH bucket —
    // scan-only bucketing, one scalar-column shuffle; the oracle replays
    // the xxhash64 hyperplanes + sign buckets in SQL
    GraftQuery("q_semantic_dedup", (s, dir) =>
      Dedup.semanticDedup(Tables.embeddings(s, dir), SemDedupBits),
      s"""WITH ${sqlLshBucketCtes(SemDedupBits)}
         |SELECT vec_id, bucket,
         |  min(vec_id) OVER (PARTITION BY bucket) AS keeper_id,
         |  CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS n_members,
         |  vec_id = min(vec_id) OVER (PARTITION BY bucket) AS is_kept
         |FROM buck""".stripMargin),

    // Substring-level dedup (Lee et al. 2022 shape): maximal duplicated
    // token spans per document via positional 8-gram df>=2 + interval
    // islands — linear in corpus grams, no pairwise doc join; the oracle
    // replays the fnv64 gram fingerprints and the island arithmetic
    GraftQuery("q_dup_spans", (s, dir) => {
      GraftFunctions.register(s)
      DupSpans.dupSpans(Tables.documents(s, dir), DupSpanGram)
    },
      s"""WITH ${sqlDupSpanCtes(DupSpanGram)}
         |SELECT doc_id, span_start, span_end, span_tokens FROM spans""".stripMargin),

    // Per-document duplicated-token report + keep/flag verdict at 50%
    GraftQuery("q_dup_doc_report", (s, dir) => {
      GraftFunctions.register(s)
      DupSpans.dupFractions(Tables.documents(s, dir), DupSpanGram,
        DupSpanMaxFraction)
    },
      s"""WITH ${sqlDupSpanCtes(DupSpanGram)},
         |__dpd AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
         |          FROM spans GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  COALESCE(p.dup_tokens, 0) AS dup_tokens,
         |  COALESCE(p.dup_tokens, 0)::DOUBLE
         |    / CAST(len(string_split(d.text, ' ')) AS BIGINT)::DOUBLE AS dup_fraction,
         |  CASE WHEN COALESCE(p.dup_tokens, 0)::DOUBLE
         |         / CAST(len(string_split(d.text, ' ')) AS BIGINT)::DOUBLE > $DupSpanMaxFraction
         |       THEN 'flag' ELSE 'keep' END AS verdict
         |FROM documents d LEFT JOIN __dpd p USING (doc_id)""".stripMargin),

    // The strip pass: documents rebuilt with duplicated spans removed
    // (span-free docs pass through byte-identical, no rejoin round-trip)
    GraftQuery("q_dup_span_strip", (s, dir) => {
      GraftFunctions.register(s)
      DupSpans.stripDupSpans(Tables.documents(s, dir), DupSpanGram)
    },
      s"""WITH ${sqlDupSpanCtes(DupSpanGram)},
         |__sph AS (SELECT DISTINCT doc_id FROM spans),
         |__spcov AS (SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
         |            FROM spans),
         |__sptok AS (SELECT t.doc_id, CAST(t.i AS BIGINT) AS pos, t.w[t.i] AS tok
         |            FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
         |                  FROM __ds0 JOIN __sph USING (doc_id)) t),
         |__spkept AS (SELECT t.doc_id, t.pos, t.tok
         |             FROM __sptok t LEFT JOIN __spcov c
         |               ON t.doc_id = c.doc_id AND t.pos = c.pos
         |             WHERE c.pos IS NULL),
         |__spagg AS (SELECT doc_id,
         |              string_agg(tok, ' ' ORDER BY pos) AS rebuilt,
         |              CAST(count(*) AS BIGINT) AS kept_tokens
         |            FROM __spkept GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  CASE WHEN h.doc_id IS NULL
         |       THEN CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |       ELSE COALESCE(a.kept_tokens, 0) END AS kept_tokens,
         |  CASE WHEN h.doc_id IS NULL THEN d.text
         |       ELSE COALESCE(a.rebuilt, '') END AS clean_text
         |FROM documents d
         |LEFT JOIN __sph h USING (doc_id)
         |LEFT JOIN __spagg a ON d.doc_id = a.doc_id""".stripMargin),

    // INCREMENTAL span dedup (continuous-ingest shape): a new batch
    // (doc_id % 10 == 7) folds against the standing gram-df index —
    // only the batch tokenizes; corpus positions retro-flag through the
    // df==1 exemplars the index kept. Union over batches reconstructs
    // the full-corpus duplicated-position set (DupSpansSpec pins the
    // induction); the oracle recomputes both sides from scratch with
    // corpus/batch doc-frequencies split
    GraftQuery("q_dup_spans_incremental", (s, dir) => {
      GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
      DupSpans.dupPositionsIncremental(
        DupSpans.gramIndex(corpus, DupSpanGram), batch, DupSpanGram)
    },
      s"""WITH __di0 AS (SELECT doc_id, (doc_id % 10 = 7) AS is_batch,
         |                 string_split(text, ' ') AS w FROM documents),
         |__dig AS (SELECT doc_id, is_batch, CAST(i AS BIGINT) AS pos,
         |            array_to_string(w[i:i+${DupSpanGram - 1}], ' ') AS gram
         |          FROM (SELECT doc_id, is_batch, w,
         |                  unnest(generate_series(1,
         |                    greatest(len(w) - ${DupSpanGram - 1}, 0))) AS i
         |                FROM __di0)),
         |__dih AS (SELECT doc_id, is_batch, pos,
         |            ${SqlHash.toSigned(SqlHash.fnv1a64("gram", "__dia", "__dib"))} AS h
         |          FROM __dig),
         |__didf AS (SELECT h,
         |             count(DISTINCT CASE WHEN NOT is_batch THEN doc_id END) AS cdf,
         |             count(DISTINCT CASE WHEN is_batch THEN doc_id END) AS bdf
         |           FROM __dih GROUP BY 1)
         |SELECT g.doc_id, g.pos, 'batch' AS src
         |FROM __dih g JOIN __didf f USING (h)
         |WHERE g.is_batch AND f.cdf + f.bdf >= 2
         |UNION ALL
         |SELECT g.doc_id, g.pos, 'retro' AS src
         |FROM __dih g JOIN __didf f USING (h)
         |WHERE NOT g.is_batch AND f.cdf = 1 AND f.bdf >= 1""".stripMargin),

    // KMV bottom-k distinct sketch per source (graft_kmv, a native
    // TypedImperativeAggregate: map-side partial buffers, the shuffle
    // moves kilobytes) — content identity = xxhash64 over the FNV-1a64
    // text fingerprint, both replayed exactly by the oracle
    GraftQuery("q_kmv_doc_sketch", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Sketches.kmvPerGroup(docs, "source",
          expr("xxhash64(graft_fnv64(text))"), k = 64)
        .select(col("source"), col("n_rows"),
          posexplode(col("kmv")).as(Seq("pos", "h")))
        .select(col("source"), col("n_rows"),
          (col("pos") + 1).cast("long").as("rank"), col("h"))
    },
      // the KMV sketch itself: k smallest distinct content hashes per
      // source — fnv64(text) then xxhash64, both replayed step-for-step
      {
        val (steps, hCol) = SqlHash.xxh64LongSteps("__f", "42", "__kd")
        val inner = SqlHash.applySteps(
          s"SELECT source, (${SqlHash.fnv1a64("text", "__ka", "__kb")}) AS __f FROM documents",
          steps)
        s"""WITH hh AS (SELECT source, ${SqlHash.toSigned(hCol)} AS h FROM ($inner)),
           |nn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows FROM documents GROUP BY 1),
           |dd AS (SELECT DISTINCT source, h FROM hh),
           |rr AS (SELECT source, h, CAST(row_number() OVER (PARTITION BY source ORDER BY h) AS BIGINT) AS rank FROM dd)
           |SELECT rr.source, nn.n_rows, rr.rank, rr.h
           |FROM rr JOIN nn USING (source) WHERE rank <= 64""".stripMargin
      }),

    // Cross-source distinct-document overlap from the KMV sketches —
    // exact while unsaturated (k=64 > docs/source at sf<=0.01), the
    // integral KMV estimator once saturated; all arithmetic `div`-exact
    GraftQuery("q_kmv_doc_overlap", (s, dir) =>
      graft.ops.Sketches.kmvOverlap(Tables.documents(s, dir), "source",
        expr("xxhash64(graft_fnv64(text))"), k = 64),
      "WITH " + sqlKmvOverlap(
      s"SELECT source, (${SqlHash.fnv1a64("text", "__oa", "__ob")}) AS __f FROM documents",
      k = 64, p = "__ko")),

    // The same overlap question at 3-gram granularity: cross-source
    // vocabulary/contamination overlap — saturated estimator path (every
    // source has >> 256 distinct grams), one corpus scan total
    GraftQuery("q_kmv_gram_overlap", (s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("source"), split(col("text"), " ").as("__w"))
        .select(col("source"),
          explode(array_distinct(graft.dedup.Dedup.shingleArray(3)))
            .as("gram"))
      graft.ops.Sketches.kmvOverlap(grams, "source",
        expr("xxhash64(graft_fnv64(gram))"), k = 256)
    },
      // 3-gram vocabulary overlap: the same estimator over word-shingle
      // fingerprints (saturated path — every source holds >> 256 grams)
      {
        val gramCtes =
          """d0 AS (SELECT source, string_split(text, ' ') AS w FROM documents),
            |gg AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
            |       FROM (SELECT source, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM d0)),
            |""".stripMargin
        "WITH " + gramCtes + sqlKmvOverlap(
          s"SELECT source, (${SqlHash.fnv1a64("gram", "__ga", "__gb")}) AS __f FROM gg",
          k = 256, p = "__kg")
      }),

    // Post-dedup corpus manifest: what the pipeline hands downstream —
    // every in-scope doc with its duplicate-cluster id and the canonical
    // keep/drop decision (pairs/labels alone leave the caller to derive it)
    GraftQuery("q_dedup_manifest", (s, dir) =>
      Dedup.dedupManifest(Tables.documents(s, dir), JaccardThreshold,
        JaccardMaxDocId),
      sqlJaccardCtes.replace("WITH ", "WITH RECURSIVE ") + s""",
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM jpairs
         |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t
         |  UNION
         |  SELECT re.node, e.d FROM reach re JOIN edges e ON e.s = re.r
         |),
         |clus AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
         |SELECT di.doc_id, coalesce(c.cluster_id, di.doc_id) AS cluster_id,
         |       di.doc_id = coalesce(c.cluster_id, di.doc_id) AS is_kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id < $JaccardMaxDocId) di
         |LEFT JOIN clus c USING (doc_id)""".stripMargin),

    // Keeper-by-quality variant: per duplicate cluster the LONGEST member
    // survives (doc_id tiebreak) — the keep-the-best-copy policy; keeper
    // election is one cluster-keyed window over (len, doc_id) scalars,
    // keeping the candidate lineage in a single plan branch
    GraftQuery("q_dedup_keep_best", (s, dir) =>
      Dedup.dedupManifestKeepBest(Tables.documents(s, dir), JaccardThreshold,
        JaccardMaxDocId),
      sqlJaccardCtes.replace("WITH ", "WITH RECURSIVE ") + s""",
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM jpairs
         |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t
         |  UNION
         |  SELECT re.node, e.d FROM reach re JOIN edges e ON e.s = re.r
         |),
         |clus AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
         |mem AS (SELECT di.doc_id, CAST(length(di.text) AS BIGINT) AS len,
         |          coalesce(c.cluster_id, di.doc_id) AS cluster_id
         |        FROM (SELECT doc_id, text FROM documents WHERE doc_id < $JaccardMaxDocId) di
         |        LEFT JOIN clus c USING (doc_id)),
         |k AS (SELECT cluster_id, doc_id AS keep_doc_id FROM (
         |        SELECT *, row_number() OVER (PARTITION BY cluster_id
         |                    ORDER BY len DESC, doc_id) AS rn FROM mem)
         |      WHERE rn = 1)
         |SELECT m.doc_id, m.cluster_id, k.keep_doc_id,
         |       m.doc_id = k.keep_doc_id AS is_kept
         |FROM mem m JOIN k USING (cluster_id)""".stripMargin),
  )
}
