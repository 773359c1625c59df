package graft
package sim

import org.apache.spark.sql.functions._

import graft.QueryShared.{SqlHash, sqlLshBucketCtes}
import graft.SparkEntry.{IvfIters, IvfNprobe, IvfStride, PqKsub, PqM, PqOpqGrid,
  PqRerank, SimNumQueries, SimTopK}

/** Vector-similarity and ANN queries: exact, LSH, IVF, PQ/OPQ (the
  * `sim` family). */
object SimQueries {

  /** The shared `e` (vectors) + `n` (norms) CTE pair every ANN oracle
    * starts from — emitted ONCE per WITH, so fragments that compose
    * (IVF cells + PQ codes) don't redefine them. */
  private val sqlAnnBaseCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e)""".stripMargin

  /** PQ pipeline CTEs (everything after `e`/`n` — see [[sqlPqCodesCtes]]
    * for the full story). Internal names are `pq_`-prefixed where they
    * would collide with the IVF fragment's (`hv`/`modEff`/`tr`/`seeds`),
    * so [[sqlIvfCellCtes]] + this can share one WITH for the IVF-PQ
    * composition. Ends with `codes(vec_id, s, code)`. */
  private def sqlPqCodesInner: String = sqlPqCodesInnerOn("e", "n")

  /** [[sqlPqCodesInner]] parameterized on the source CTE pair —
    * `eName(vec_id, v)` / `nName(vec_id, v, norm)` — so the SAME replay
    * runs over the raw embedding table (q_pq_encode / q_sim_pq_topk /
    * q_sim_ivfpq_topk, via `e`/`n`) and over the OPQ-transformed view
    * (q_sim_opq_topk, via `te`/`tn`). Dims come from the source CTE
    * (`max(len(v))` ≡ the old `max(len(embedding))` on the raw pair). */
  private def sqlPqCodesInnerOn(eName: String, nName: String): String = {
    val (kSteps, kCol) = SqlHash.xxh64LongSteps("vec_id::HUGEINT", "42", "__k")
    val seedInner = SqlHash.applySteps(s"SELECT vec_id FROM $eName", kSteps)
    // one Lloyd pass: assign each sampled subvector to its nearest
    // centroid (integer L2, tie -> lowest c_id), rebuild centroids as
    // elementwise integer-division means; empty cells drop out
    def lloyd(cin: String, i: Int): String =
      s"""d$i AS (SELECT t.vec_id, t.s, c.c_id,
         |    sum((t.g - c.cg) * (t.g - c.cg)) AS dist
         |  FROM trg t JOIN $cin c ON t.s = c.s AND t.dl = c.dl
         |  GROUP BY t.vec_id, t.s, c.c_id),
         |a$i AS (SELECT vec_id, s, c_id FROM (
         |  SELECT vec_id, s, c_id, row_number() OVER (PARTITION BY vec_id, s
         |    ORDER BY dist, c_id) AS rn FROM d$i) WHERE rn = 1),
         |cen$i AS (SELECT a.s, a.c_id, t.dl, sum(t.g) // count(*) AS cg
         |  FROM a$i a JOIN trg t ON a.vec_id = t.vec_id AND a.s = t.s
         |  GROUP BY a.s, a.c_id, t.dl)""".stripMargin
    s"""un AS (SELECT vec_id,
       |         list_transform(v, x -> x / greatest(norm, 1e-12)) AS u FROM $nName),
       |sdim AS (SELECT CAST((SELECT max(len(v)) FROM $eName) // $PqM AS BIGINT) AS sd),
       |gstat AS (SELECT d, min(u[d]) AS dmin,
       |    greatest((max(u[d]) - min(u[d])) / 256.0, 1e-12) AS dscale
       |  FROM un CROSS JOIN (SELECT unnest(range(1,
       |    (SELECT max(len(v)) FROM $eName) + 1)) AS d)
       |  GROUP BY d),
       |sub AS (SELECT un.vec_id, gs.d,
       |    least(CAST(floor((un.u[gs.d] - gs.dmin) / gs.dscale) AS BIGINT), 255) AS g,
       |    CAST((gs.d - 1) // (SELECT sd FROM sdim) AS BIGINT) AS s,
       |    CAST((gs.d - 1) % (SELECT sd FROM sdim) AS BIGINT) AS dl
       |  FROM un CROSS JOIN gstat gs),
       |-- MATERIALIZED: same planner trap as the IVF/mixture oracles
       |pq_hv AS MATERIALIZED (SELECT vec_id, ${SqlHash.toSigned(kCol)} AS hv FROM ($seedInner)),
       |pq_mod AS (SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE) /
       |  65536.0) AS BIGINT)) AS m FROM $eName),
       |pq_tr AS (SELECT vec_id FROM pq_hv WHERE hv % (SELECT m FROM pq_mod) = 0),
       |pq_seeds AS (SELECT vec_id, CAST(rn - 1 AS BIGINT) AS c_id FROM (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM pq_tr)
       |  WHERE rn <= $PqKsub),
       |trg AS (SELECT s.* FROM sub s JOIN pq_tr USING (vec_id)),
       |cen0 AS (SELECT sd.c_id, t.s, t.dl, t.g AS cg
       |  FROM trg t JOIN pq_seeds sd USING (vec_id)),
       |${lloyd("cen0", 1)},
       |${lloyd("cen1", 2)},
       |ed AS (SELECT t.vec_id, t.s, c.c_id,
       |    sum((t.g - c.cg) * (t.g - c.cg)) AS dist
       |  FROM sub t JOIN cen2 c ON t.s = c.s AND t.dl = c.dl
       |  GROUP BY t.vec_id, t.s, c.c_id),
       |codes AS (SELECT vec_id, s, c_id AS code FROM (
       |  SELECT vec_id, s, c_id, row_number() OVER (PARTITION BY vec_id, s
       |    ORDER BY dist, c_id) AS rn FROM ed) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB replay of the FULL product-quantization pipeline
    * (`graft.sim.PQ`) — unit-sphere normalization, per-dimension grid,
    * hash-gated training sample, integer-L2 Lloyd (2 passes, unrolled),
    * argmin codes. All-integer after the grid, so no order-forced float
    * folds are needed anywhere (the advantage the PQ design was chosen
    * for). Ends with `codes(vec_id, s, code)` and `n(vec_id, v, norm)`;
    * callers append their pivot/search CTEs. */
  private def sqlPqCodesCtes: String =
    s"$sqlAnnBaseCtes,\n$sqlPqCodesInner"

  /** IVF coarse-quantizer CTEs (extracted verbatim from the r4
    * q_sim_ivf_topk oracle so that query AND the IVF-PQ composition share
    * one replay): float Lloyd with order-forced folds, XXH64 seeds,
    * adaptive stride/sample. Starts after `e`/`n` ([[sqlAnnBaseCtes]]);
    * ends with `asg(vec_id, v, norm, cell)` and
    * `probes(q_id, qv, qnorm, cell)`. */
  private def sqlIvfCellCtes: String = {
    val (kSteps, kCol) = SqlHash.xxh64LongSteps("vec_id::HUGEINT", "42", "__k")
    val seedInner = SqlHash.applySteps("SELECT vec_id FROM e", kSteps)
    // one Lloyd pass: assign every vector to its best centroid from
    // `cin`, then rebuild centroids as order-forced per-dim means
    def lloyd(cin: String, i: Int): String =
      s"""asg$i AS (
         |  SELECT vec_id, v, c_id FROM (
         |    SELECT tr.vec_id, tr.v, c.c_id,
         |      row_number() OVER (PARTITION BY tr.vec_id
         |        ORDER BY list_dot_product(tr.v, c.cv) / (tr.norm * c.cnorm) DESC, c.c_id) AS rn
         |    FROM tr CROSS JOIN $cin c) WHERE rn = 1
         |),
         |m$i AS (
         |  SELECT c_id, d,
         |    list_reduce(list_prepend(0.0::DOUBLE, list(v[d] ORDER BY vec_id)),
         |      (acc, x) -> acc + x) / count(*) AS x
         |  FROM asg$i, dims GROUP BY c_id, d),
         |c$i AS (
         |  SELECT c_id, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT c_id, list(x ORDER BY d) AS cv FROM m$i GROUP BY c_id))""".stripMargin
    s"""dims AS (SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS d),
       |-- MATERIALIZED stops the seed predicate being pushed down through
       |-- the 7 wrapped hash-step SELECTs (inlining doubles the expression
       |-- tree per layer — same planner trap as the mixture oracle)
       |hv AS MATERIALIZED (SELECT vec_id, ${SqlHash.toSigned(kCol)} AS hv FROM ($seedInner)),
       |-- adaptive seed stride (Similarity.kmeansCentroids): cells are
       |-- floored at ~4*sqrt(n) so training stays sub-quadratic; identity
       |-- (= $IvfStride) for n <= ~8.5k, and the ceil/sqrt expression is
       |-- the same correctly-rounded IEEE arithmetic in both engines
       |strideEff AS (SELECT greatest($IvfStride, CAST(ceil(CAST(count(*) AS DOUBLE) /
       |  ceil(4.0 * sqrt(CAST(count(*) AS DOUBLE)))) AS BIGINT)) AS s FROM e),
       |-- adaptive training-sample modulus (same auto-derivation: corpora
       |-- above maxTrainSamples/2 = 65536 vectors train on a bounded
       |-- hash-sample; identity at every gated SF). Sample and seeds
       |-- share ONE hash: pmod(xxhash64(vec_id), m | s) = 0
       |modEff AS (SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE) /
       |  65536.0) AS BIGINT)) AS m FROM e),
       |tr AS (SELECT n.* FROM n JOIN hv USING (vec_id)
       |       WHERE hv % (SELECT m FROM modEff) = 0),
       |seeds AS (SELECT vec_id FROM hv
       |          WHERE hv % (SELECT m FROM modEff) = 0
       |            AND hv % (SELECT s FROM strideEff) = 0),
       |c0 AS (SELECT tr.vec_id AS c_id, tr.v AS cv, tr.norm AS cnorm
       |       FROM tr JOIN seeds USING (vec_id)),
       |${lloyd("c0", 1)},
       |${lloyd("c1", 2)},
       |asg AS (
       |  SELECT vec_id, v, norm, c_id AS cell FROM (
       |    SELECT n.vec_id, n.v, n.norm, c.c_id,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.v, c.cv) / (n.norm * c.cnorm) DESC, c.c_id) AS rn
       |    FROM n CROSS JOIN c2 c) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM n WHERE vec_id < $SimNumQueries),
       |probes AS (
       |  SELECT q_id, qv, qnorm, c_id AS cell FROM (
       |    SELECT q.q_id, q.qv, q.qnorm, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY list_dot_product(q.qv, c.cv) / (q.qnorm * c.cnorm) DESC, c.c_id) AS rn
       |    FROM q CROSS JOIN c2 c) WHERE rn <= $IvfNprobe)""".stripMargin
  }

  def queries: Seq[GraftQuery] = Seq(
    // Similarity: brute-force cosine top-k (broadcast queries, no shuffle)
    GraftQuery("q_sim_bruteforce_topk", (s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), SimNumQueries, SimTopK),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM n WHERE vec_id < $SimNumQueries),
         |sims AS (SELECT q_id, vec_id AS neighbor_id,
         |           round(list_dot_product(qv, v) / (qnorm * norm), 6) AS cos_sim
         |         FROM n CROSS JOIN q WHERE vec_id <> q_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
         |      FROM sims)
         |SELECT q_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= $SimTopK""".stripMargin),

    // Contrastive-training data prep: per query, the k most-similar vectors
    // of a DIFFERENT label (hard negatives) — the label-mismatch predicate
    // prunes in the scan stage next to the fused dot product, and the
    // candidate generator swaps for the IVF/IVF-PQ tier unchanged at scale
    GraftQuery("q_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), SimNumQueries, SimTopK),
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
         |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, norm AS qnorm
         |      FROM n WHERE vec_id < $SimNumQueries),
         |sims AS (SELECT q_id, q_label, vec_id AS neighbor_id, label AS neg_label,
         |           round(list_dot_product(qv, v) / (qnorm * norm), 6) AS cos_sim
         |         FROM n CROSS JOIN q WHERE vec_id <> q_id AND label <> q_label),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
         |      FROM sims)
         |SELECT q_id, q_label, neighbor_id, neg_label, cos_sim, rank
         |FROM r WHERE rank <= $SimTopK""".stripMargin),

    // Similarity: IVF-style pruned ANN (recall-tested vs brute force).
    // Fully oracle-replayable since the quantizer moved to driver-side
    // Lloyd over a vec_id-sorted sample: every float accumulates in a
    // DETERMINISTIC order, so the DuckDB oracle reproduces the centroids
    // bit-for-bit with order-forced list_reduce folds (this was the one
    // no-oracle query while the means came from shuffled avg())
    GraftQuery("q_sim_ivf_topk", (s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), SimNumQueries, SimTopK,
        IvfStride, IvfNprobe, IvfIters),
      // the full IVF ANN path replayed in SQL — the k-means training
      // included. The quantizer trains on the driver over a vec_id-SORTED
      // sample with sequential float accumulation, so every centroid mean
      // is reproducible by an ORDER-FORCED fold: per (cell, dim),
      // list_reduce(list_prepend(0, list(v[d] ORDER BY vec_id)), +) / n is
      // the exact IEEE addition sequence the driver executes. Seeds replay
      // pmod(xxhash64(vec_id), stride) == 0 via the XXH64.hashLong steps;
      // assignment/probe argmax tiebreaks (sim DESC, c_id ASC) match
      // max_by(struct(sim, -c_id)); two Lloyd passes are unrolled as CTEs
      s"""WITH $sqlAnnBaseCtes,
         |$sqlIvfCellCtes,
         |cand AS (
         |  SELECT p.q_id, a.vec_id AS neighbor_id,
         |    round(list_dot_product(p.qv, a.v) / (p.qnorm * a.norm), 6) AS cos_sim
         |  FROM asg a JOIN probes p USING (cell) WHERE a.vec_id <> p.q_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
         |      FROM cand)
         |SELECT q_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= $SimTopK""".stripMargin),

    // Similarity: sign-random-projection LSH with multi-probe (training-
    // free scale path; recall-tested vs brute force — on this near-
    // orthogonal corpus IVF prunes better, see Scaladoc). Oracle replays
    // the whole path in SQL, xxhash64 hyperplanes included
    GraftQuery("q_sim_lsh_topk", (s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), SimNumQueries, SimTopK),
      // the full LSH ANN path replayed in SQL: the pseudo-random hyperplane
      // components come from Spark's xxhash64 (XXH64 over ints, seed 42),
      // reimplemented step-for-step in HUGEINT mod-2^64 arithmetic (see
      // SqlHash.xxh64IntSteps), then sign-bucketing, multi-probe expansion,
      // and exact rerank exactly as Similarity.lshTopK computes them —
      // bit-identical including the IEEE fold order of every dot product
      {
        val nBits = 4
        s"""WITH ${sqlLshBucketCtes(nBits)},
           |alls AS (SELECT n.vec_id, v, norm, bucket FROM n JOIN buck USING(vec_id)),
           |q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm,
           |        unnest(list_distinct(list_prepend(bucket,
           |          list_transform(range(0, $nBits), bb -> xor(bucket, 1::BIGINT << bb))))) AS bucket
           |      FROM alls WHERE vec_id < $SimNumQueries),
           |cand AS (SELECT q.q_id, a.vec_id AS neighbor_id,
           |           round(list_dot_product(q.qv, a.v) / (q.qnorm * a.norm), 6) AS cos_sim
           |         FROM q JOIN alls a USING(bucket) WHERE a.vec_id <> q.q_id),
           |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
           |      FROM cand)
           |SELECT q_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= $SimTopK""".stripMargin
      }),

    // Embedding storage: per-vector int8 range quantization + error bound
    GraftQuery("q_embed_quantize", (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir)),
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |         list_min(v) AS vmin, list_max(v) AS vmax,
        |         greatest((list_max(v) - list_min(v)) / 256.0, 1e-12) AS scale
        |  FROM e
        |), q AS (
        |  SELECT vec_id, v, vmin, vmax, scale,
        |         list_transform(v, x -> least(CAST(floor((x - vmin) / scale) AS BIGINT), 255)) AS q
        |  FROM s
        |)
        |SELECT vec_id, vmin, vmax,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(list_max(q) AS BIGINT) AS q_max,
        |  list_max(list_transform(list_zip(v, q),
        |    p -> abs(p[1] - (vmin + (p[2] + 0.5) * scale)))) AS max_abs_err
        |FROM q""".stripMargin),

    // Second-moment (Gram) matrix of the embedding table — the
    // whitening/PCA/OPQ training statistic, accumulated as ONE
    // map-side-combined aggregate whose partial state is the d(d+1)/2
    // upper triangle itself (shuffle moves partitions x d^2/2 longs,
    // never a row); integer-grid quantized so sums are exact longs and
    // the oracle replays them bit-for-bit
    GraftQuery("q_embed_gram", (s, dir) =>
      graft.sim.Gram.gramUpperTriangle(Tables.embeddings(s, dir), dims = 64),
      // global-grid quantize + exact integer outer-product sums: the
      // min/max scalar, the floor-grid, and every gram_sum replayed
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT CAST(min(list_min(v)) AS DOUBLE) AS mn,
        |             CAST(max(list_max(v)) AS DOUBLE) AS mx FROM e),
        |q AS MATERIALIZED (
        |  SELECT list_transform(e.v, x ->
        |           least(CAST(floor((x - s.mn) / ((s.mx - s.mn) / 1024.0)) AS BIGINT), 1023)) AS g
        |  FROM e CROSS JOIN s),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM e),
        |ij AS (SELECT i.i, j.j FROM range(0, 64) i(i), range(0, 64) j(j)
        |       WHERE j.j >= i.i)
        |SELECT ij.i, ij.j,
        |       CAST(sum(g[ij.i + 1] * g[ij.j + 1]) AS BIGINT) AS gram_sum,
        |       n.n_rows
        |FROM q CROSS JOIN ij CROSS JOIN n
        |GROUP BY 1, 2, 4""".stripMargin),

    // Johnson-Lindenstrauss projection 64->16 with a DERIVED +-1 matrix
    // (R(j,i) = parity of xxhash64(j*64+i) — no stored state, any
    // engine re-derives it): per-row integer fold, zero shuffles; the
    // oracle replays the hash matrix and every projected coordinate
    GraftQuery("q_embed_project", (s, dir) =>
      graft.sim.Projection.jlProject(Tables.embeddings(s, dir),
        dIn = 64, dOut = 16),
      // the hash-derived sign matrix replayed entry-for-entry, then the
      // exact integer projection sums
      {
        val (steps, hCol) = SqlHash.xxh64LongSteps("idx", "42", "__jp")
        val inner = SqlHash.applySteps(
          "SELECT rj.j, ri.i, CAST(rj.j * 64 + ri.i AS HUGEINT) AS idx" +
            " FROM range(0, 16) rj(j), range(0, 64) ri(i)", steps)
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |s AS (SELECT CAST(min(list_min(v)) AS DOUBLE) AS mn,
           |             CAST(max(list_max(v)) AS DOUBLE) AS mx FROM e),
           |q AS MATERIALIZED (
           |  SELECT vec_id, list_transform(e.v, x ->
           |           least(CAST(floor((x - s.mn) / ((s.mx - s.mn) / 1024.0)) AS BIGINT), 1023)) AS g
           |  FROM e CROSS JOIN s),
           |r AS MATERIALIZED (
           |  SELECT j, i, 1 - 2 * (((${SqlHash.toSigned(hCol)} % 2) + 2) % 2) AS sgn
           |  FROM ($inner)),
           |u AS (SELECT vec_id, unnest(g) AS gv, generate_subscripts(g, 1) - 1 AS i FROM q)
           |SELECT u.vec_id, r.j, CAST(sum(r.sgn * u.gv) AS BIGINT) AS v
           |FROM u JOIN r USING (i)
           |GROUP BY 1, 2""".stripMargin
      }),

    // Two-stage search on int8 codes: integer code-dot + scalar fixups
    // prune, exact cosine reranks (recall 1.0 vs brute force at 2x rerank)
    GraftQuery("q_sim_quantized_topk", (s, dir) =>
      Similarity.quantizedTopK(Tables.embeddings(s, dir), SimNumQueries, SimTopK),
      // the two-stage quantized search reproduces brute force EXACTLY at the
      // shipped rerank factor (recall 1.0, same deterministic tiebreak), so
      // the brute-force SQL is its oracle too
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM n WHERE vec_id < $SimNumQueries),
         |sims AS (SELECT q_id, vec_id AS neighbor_id,
         |           round(list_dot_product(qv, v) / (qnorm * norm), 6) AS cos_sim
         |         FROM n CROSS JOIN q WHERE vec_id <> q_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
         |      FROM sims)
         |SELECT q_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= $SimTopK""".stripMargin),

    // Product quantization encode: 16 4-bit codes per vector (8 bytes —
    // 32x smaller than the floats). ALL-integer pipeline (unit-sphere
    // grid + integer-L2 Lloyd + argmin encode), so the oracle replays
    // training/encoding value-exact with no float-fold forcing
    GraftQuery("q_pq_encode", (s, dir) =>
      graft.sim.PQ.encodeQuery(Tables.embeddings(s, dir), m = PqM,
        ksub = PqKsub),
      // product quantization, training included: the all-integer pipeline
      // (unit grid -> integer Lloyd -> argmin codes) replays value-exact —
      // see sqlPqCodesCtes. The encode output pivots codes(vec_id, s, code)
      // into the m per-subspace columns the Spark query emits
      s"""WITH $sqlPqCodesCtes
         |SELECT vec_id, ${(0 until PqM).map(s =>
            s"CAST(max(CASE WHEN s = $s THEN code END) AS BIGINT) AS code_$s")
            .mkString(", ")}
         |FROM codes GROUP BY vec_id""".stripMargin),

    // PQ ADC search: per-query integer LUT against codebook literals, m
    // lookups per candidate, float rerank on survivors only (recall@5
    // 0.86 vs brute force at the shipped defaults)
    GraftQuery("q_sim_pq_topk", (s, dir) =>
      graft.sim.PQ.topKQuery(Tables.embeddings(s, dir), SimNumQueries,
        SimTopK, m = PqM, ksub = PqKsub, rerankFactor = PqRerank),
      // PQ ADC search: qd IS the per-query LUT (distance from the query's
      // grid codes to every surviving centroid); joining it through each
      // candidate's codes and summing replays Spark's m element_at lookups
      // integer-exactly. Float arithmetic only at the rerank, in the same
      // rounded-cosine form as every other search oracle
      s"""WITH $sqlPqCodesCtes,
         |qd AS (SELECT t.vec_id AS q_id, c.s, c.c_id,
         |    sum((t.g - c.cg) * (t.g - c.cg)) AS dist
         |  FROM sub t JOIN cen2 c ON t.s = c.s AND t.dl = c.dl
         |  WHERE t.vec_id < $SimNumQueries
         |  GROUP BY t.vec_id, c.s, c.c_id),
         |adc AS (SELECT qd.q_id, co.vec_id, sum(qd.dist) AS adc
         |  FROM qd JOIN codes co ON qd.s = co.s AND qd.c_id = co.code
         |  WHERE co.vec_id <> qd.q_id GROUP BY qd.q_id, co.vec_id),
         |cand AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc, vec_id) AS rn FROM adc)
         |  WHERE rn <= ${SimTopK * PqRerank}),
         |rr AS (SELECT c.q_id, c.vec_id AS neighbor_id,
         |    round(list_dot_product(q.v, a.v) / (q.norm * a.norm), 6) AS cos_sim
         |  FROM cand c JOIN n a ON a.vec_id = c.vec_id
         |  JOIN n q ON q.vec_id = c.q_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank FROM rr)
         |SELECT q_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= $SimTopK""".stripMargin),

    // IVF-PQ — the full FAISS layering from the two tiers above: coarse
    // cells PRUNE the scan (nprobe cells per query), PQ codes SCORE the
    // survivors (integer ADC over 8-byte codes), floats rerank only
    // k*rerankFactor rows. One corpus scan computes cell + codes via two
    // codegen kernels; fully oracle-replayed (IVF float CTEs + PQ integer
    // CTEs composed in one WITH)
    GraftQuery("q_sim_ivfpq_topk", (s, dir) =>
      graft.sim.PQ.ivfPqTopK(Tables.embeddings(s, dir), SimNumQueries,
        SimTopK, IvfStride, IvfNprobe, IvfIters, m = PqM, ksub = PqKsub,
        rerankFactor = PqRerank),
      // IVF-PQ composition: the IVF fragment supplies asg (vector -> cell)
      // and probes (query -> nprobe cells); the PQ fragment supplies codes;
      // candidates are their cell equi-join, scored by the qd LUT join (the
      // same integer ADC as q_sim_pq_topk), reranked on floats
      s"""WITH $sqlAnnBaseCtes,
         |$sqlIvfCellCtes,
         |$sqlPqCodesInner,
         |qd AS (SELECT t.vec_id AS q_id, c.s, c.c_id,
         |    sum((t.g - c.cg) * (t.g - c.cg)) AS dist
         |  FROM sub t JOIN cen2 c ON t.s = c.s AND t.dl = c.dl
         |  WHERE t.vec_id < $SimNumQueries
         |  GROUP BY t.vec_id, c.s, c.c_id),
         |cand0 AS (SELECT p.q_id, a.vec_id
         |  FROM asg a JOIN probes p USING (cell) WHERE a.vec_id <> p.q_id),
         |adc AS (SELECT c0.q_id, c0.vec_id, sum(qd.dist) AS adc
         |  FROM cand0 c0 JOIN codes co ON co.vec_id = c0.vec_id
         |  JOIN qd ON qd.q_id = c0.q_id AND qd.s = co.s AND qd.c_id = co.code
         |  GROUP BY c0.q_id, c0.vec_id),
         |cand AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc, vec_id) AS rn FROM adc)
         |  WHERE rn <= ${SimTopK * PqRerank}),
         |rr AS (SELECT c.q_id, c.vec_id AS neighbor_id,
         |    round(list_dot_product(q.v, a.v) / (q.norm * a.norm), 6) AS cos_sim
         |  FROM cand c JOIN n a ON a.vec_id = c.vec_id
         |  JOIN n q ON q.vec_id = c.q_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank FROM rr)
         |SELECT q_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= $SimTopK""".stripMargin),

    // OPQ — rotation-then-PQ (Ge et al. 2014): deterministic sign-flip +
    // Walsh-Hadamard rotation over global-grid INTEGER codes, then the
    // LEARNED variance snake-allocation permutation (exact integer
    // variances, n*sum(t^2) - sum(t)^2, ranked and dealt boustrophedon),
    // then plain PQ trains/encodes/ADC-searches the rotated space; floats
    // rerank on the ORIGINALS. All-integer transform -> the whole learned
    // pipeline replays bit-for-bit in the oracle (the PCA-rotation form
    // stays spec-pinned in Whitening — float eigenbases have no
    // cross-engine identity). Recall >= plain PQ at the same candidate
    // fraction (RecallProbe; floor pinned in RecallSpec)
    GraftQuery("q_sim_opq_topk", (s, dir) =>
      graft.sim.Opq.topKQuery(Tables.embeddings(s, dir), SimNumQueries,
        SimTopK, m = PqM, ksub = PqKsub, rerankFactor = PqRerank,
        grid = PqOpqGrid),
      // OPQ: the transform replays exactly — hash-derived sign flips, the
      // Walsh-Hadamard rotation as bit_count arithmetic over INTEGER grid
      // codes (order-free sums), HUGEINT variance ranking, snake-allocation
      // arithmetic — then the SAME PQ fragment instantiated on the
      // transformed pair (te/tn) and the q_sim_pq_topk search CTEs, with
      // the rerank joining the ORIGINAL n
      {
        val (sSteps, sCol) = SqlHash.xxh64LongSteps("idx", "42", "__os")
        val sgnInner = SqlHash.applySteps(
          "SELECT ri.i, CAST(ri.i AS HUGEINT) AS idx FROM range(0, 64) ri(i)",
          sSteps)
        s"""WITH $sqlAnnBaseCtes,
           |opq_u AS (SELECT vec_id, list_transform(v, x -> x / greatest(norm, 1e-12)) AS u FROM n),
           |opq_b AS (SELECT CAST(min(list_min(u)) AS DOUBLE) AS mn,
           |                 CAST(max(list_max(u)) AS DOUBLE) AS mx FROM opq_u),
           |opq_g AS MATERIALIZED (SELECT vec_id, list_transform(u, x ->
           |    least(CAST(floor((x - mn) / ((mx - mn) / ${PqOpqGrid}.0)) AS BIGINT), ${PqOpqGrid - 1})) AS g
           |  FROM opq_u CROSS JOIN opq_b),
           |opq_s AS MATERIALIZED (SELECT i, 1 - 2 * (((${SqlHash.toSigned(sCol)} % 2) + 2) % 2) AS sgn
           |  FROM ($sgnInner)),
           |opq_r AS MATERIALIZED (SELECT rj.j, s.i,
           |    s.sgn * (1 - 2 * (bit_count(CAST(rj.j AS BIGINT) & CAST(s.i AS BIGINT)) % 2)) AS c
           |  FROM range(0, 64) rj(j) CROSS JOIN opq_s s),
           |opq_f AS (SELECT vec_id, unnest(g) AS gv, generate_subscripts(g, 1) - 1 AS i FROM opq_g),
           |opq_rot AS MATERIALIZED (SELECT f.vec_id, r.j, CAST(sum(r.c * f.gv) AS BIGINT) AS t
           |  FROM opq_f f JOIN opq_r r USING (i) GROUP BY 1, 2),
           |opq_var AS (SELECT j,
           |    CAST(count(*) AS HUGEINT) * sum(CAST(t AS HUGEINT) * t) -
           |    sum(CAST(t AS HUGEINT)) * sum(CAST(t AS HUGEINT)) AS vr
           |  FROM opq_rot GROUP BY j),
           |opq_alloc AS (SELECT j, rk - 1 AS rr0,
           |    CASE WHEN ((rk - 1) // $PqM) % 2 = 0 THEN (rk - 1) % $PqM
           |         ELSE $PqM - 1 - (rk - 1) % $PqM END AS sub0
           |  FROM (SELECT j, row_number() OVER (ORDER BY vr DESC, j) AS rk FROM opq_var)),
           |opq_perm AS (SELECT j, sub0 * (64 // $PqM) +
           |    row_number() OVER (PARTITION BY sub0 ORDER BY rr0) - 1 AS p
           |  FROM opq_alloc),
           |te AS MATERIALIZED (SELECT o.vec_id, list(CAST(o.t AS DOUBLE) ORDER BY pm.p) AS v
           |  FROM opq_rot o JOIN opq_perm pm USING (j) GROUP BY o.vec_id),
           |tn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM te),
           |${sqlPqCodesInnerOn("te", "tn")},
           |qd AS (SELECT t.vec_id AS q_id, c.s, c.c_id,
           |    sum((t.g - c.cg) * (t.g - c.cg)) AS dist
           |  FROM sub t JOIN cen2 c ON t.s = c.s AND t.dl = c.dl
           |  WHERE t.vec_id < $SimNumQueries
           |  GROUP BY t.vec_id, c.s, c.c_id),
           |adc AS (SELECT qd.q_id, co.vec_id, sum(qd.dist) AS adc
           |  FROM qd JOIN codes co ON qd.s = co.s AND qd.c_id = co.code
           |  WHERE co.vec_id <> qd.q_id GROUP BY qd.q_id, co.vec_id),
           |cand AS (SELECT q_id, vec_id FROM (
           |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
           |    ORDER BY adc, vec_id) AS rn FROM adc)
           |  WHERE rn <= ${SimTopK * PqRerank}),
           |rr AS (SELECT c.q_id, c.vec_id AS neighbor_id,
           |    round(list_dot_product(q.v, a.v) / (q.norm * a.norm), 6) AS cos_sim
           |  FROM cand c JOIN n a ON a.vec_id = c.vec_id
           |  JOIN n q ON q.vec_id = c.q_id),
           |r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank FROM rr)
           |SELECT q_id, neighbor_id, cos_sim, rank FROM r2 WHERE rank <= $SimTopK""".stripMargin
      }),
  )
}
