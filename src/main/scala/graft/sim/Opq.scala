package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Optimized product quantization — the rotation-then-PQ tier of the
  * FAISS layering (Ge et al., "Optimized Product Quantization", CVPR
  * 2013/TPAMI 2014) on top of [[PQ]]: transform the corpus with an
  * orthogonal map chosen to balance information across the `m` code
  * subspaces, then train/encode/search plain PQ in the transformed
  * space. Reranking always happens on the ORIGINAL floats, so the
  * output contract (true cosine, rounded) is unchanged; the transform
  * only improves which candidates survive to the rerank.
  *
  * The transform is `T = P · H · D` composed of
  *
  *   1. `D` — deterministic ±1 sign flips, `s_i = 1 − 2·parity(
  *      xxh64(i, seed 42))` (the [[Projection]] derived-matrix
  *      discipline: no stored state, any engine re-derives it);
  *   2. `H` — the Walsh–Hadamard matrix `H(j,i) = (−1)^popcount(j AND
  *      i)`: `H·D` is the randomized-Hadamard rotation (up to the
  *      1/√d scale PQ's per-dimension re-gridding absorbs) that
  *      decorrelates and variance-spreads coordinates — FAISS's
  *      random-rotation OPQ initialization, Andoni et al.'s
  *      cross-polytope trick;
  *   3. `P` — the LEARNED part, OPQ's eigenvalue-allocation step on
  *      the rotated coordinates: rank them by exact integer variance
  *      `n·Σt² − (Σt)²` and deal them to the `m` subspaces in snake
  *      (boustrophedon) order so every subspace receives an even mix
  *      of high- and low-variance directions.
  *
  * Why not the full PCA rotation: eigenvectors of a float covariance
  * have no cross-engine bit identity (sign and rotation freedom,
  * iterative convergence). Here inputs are global-grid INTEGER codes
  * (the [[Gram]]/[[Projection]] discipline), `H·D` has ±1 integer
  * entries, and the variance ranking is exact integer arithmetic — so
  * the whole learned transform, and the PQ pipeline after it, replays
  * bit-for-bit in the DuckDB oracle. Measured on the test corpus the
  * allocation beats plain PQ's recall at the same candidate fraction
  * (RecallProbe; floors pinned in RecallSpec).
  *
  * Scale posture: two model-sized driver jobs (grid bounds — 2
  * doubles; rotated-coordinate moment vectors — 2·d longs + a count,
  * both map-side-combined [[Similarity.VecSumAgg]] aggregations), then
  * the transform itself is one scan-stage map over plan-literal
  * matrices — zero shuffles, nothing corpus-sized ever collects.
  * Moment-sum overflow bound: Σt² per dimension stays under 2^63 for
  * n < 2^63/(d·(grid−1))² ≈ 2.1e9 rows at d=64/grid=1024 — past that,
  * coarsen `grid` (the ranking only needs relative variances).
  */
object Opq {

  /** ±1 sign of dimension `i` — parity of Spark's own XXH64 (seed 42,
    * the `xxhash64` builtin's default) so the SQL replay reuses the
    * proven `SqlHash.xxh64LongSteps` chain. */
  def sign(i: Int): Long = {
    val h = XXH64.hashLong(i.toLong, 42L)
    1L - 2L * (((h % 2) + 2) % 2)
  }

  /** The signed Hadamard `(H·D)(j)(i) = s_i·(−1)^popcount(j AND i)` —
    * derived, never stored; requires `d` a power of two. */
  def rotationMatrix(d: Int): Seq[Seq[Long]] = {
    require(d > 0 && (d & (d - 1)) == 0, s"Hadamard needs power-of-two dims, got $d")
    (0 until d).map { j =>
      (0 until d).map { i =>
        sign(i) * (1L - 2L * (java.lang.Integer.bitCount(j & i) % 2))
      }
    }
  }

  /** The learned allocation: rank rotated dims by exact integer
    * variance (desc, dim asc tiebreak), snake-deal ranks to the `m`
    * subspaces, concatenate subspaces in order (within a subspace,
    * rank order). Returns `perm` with `out(p) = rot(perm(p))`. */
  def snakePermutation(varNum: Array[BigInt], m: Int): Array[Int] = {
    val d = varNum.length
    require(d % m == 0, s"dims=$d not divisible by m=$m")
    val order = (0 until d).sortBy(j => (-varNum(j), j))
    val slots = Array.fill(m)(Vector.empty[Int])
    order.zipWithIndex.foreach { case (j, r) =>
      val (q, pos) = (r / m, r % m)
      val s = if (q % 2 == 0) pos else m - 1 - pos
      slots(s) = slots(s) :+ j
    }
    slots.flatten.map(identity)
  }

  /** Transform the embedding table: (vec_id, embedding) with the
    * OPQ-rotated-and-permuted coordinates (exact integers carried as
    * doubles — |t| ≤ d·(grid−1) « 2^53). Feed the result to [[PQ]];
    * rerank on the originals via `rerankOn`. */
  def transform(embeddings: DataFrame, m: Int, grid: Int = 1024): DataFrame = {
    val u = PQ.unitVectors(embeddings)
    val d = u.select(max(size(col("v")))).head().getInt(0)
    val bounds = u.select(
      min(array_min(col("v"))).cast("double"),
      max(array_max(col("v"))).cast("double")).head()
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    val st = (mx - mn) / grid.toDouble
    require(st > 0, s"degenerate unit-coordinate range [$mn, $mx]")
    val rLit = typedlit(rotationMatrix(d))
    // materialize-once: the d^2-multiply-add rotation fold is the
    // expensive scan here, and the PQ pipeline downstream runs several
    // actions (meta, grid stats, training sample, encode, search) that
    // would each recompute it. Production materializes the transformed
    // corpus to storage after this one map pass; in-session, an eager
    // localCheckpoint computes it once for every action (d longs per
    // vector; sf0.1, 4 cores: 0.88-0.94x the persist it replaced)
    val rotated: DataFrame = u
      .withColumn("g", transform_(col("v"), x =>
        least(floor((x - lit(mn)) / lit(st)).cast("long"),
          lit((grid - 1).toLong))))
      .withColumn("rot", transform_(rLit, row =>
        aggregate(zip_with(row, col("g"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x)))
      .select(col("vec_id"), col("rot"))
      .localCheckpoint()

    val vsum = udaf(Similarity.VecSumAgg)
    val mom = rotated.agg(
      vsum(col("rot")).as("s1"),
      vsum(transform_(col("rot"), t => t * t)).as("s2"),
      count(lit(1)).as("n")).head()
    val s1 = mom.getSeq[Long](0)
    val s2 = mom.getSeq[Long](1)
    val n = BigInt(mom.getLong(2))
    val varNum = Array.tabulate(d)(j => n * BigInt(s2(j)) - BigInt(s1(j)) * BigInt(s1(j)))
    val perm = snakePermutation(varNum, m)

    rotated.select(col("vec_id"),
      array(perm.toIndexedSeq.map(j =>
        element_at(col("rot"), j + 1).cast("double")): _*).as("embedding"))
  }

  /** Registered-query wrapper: OPQ-transform, train + ADC-search PQ in
    * the rotated space, rerank the `k × rerankFactor` survivors on the
    * ORIGINAL floats (same candidate fraction as [[PQ.topKQuery]] —
    * the comparison RecallProbe/RecallSpec measure). */
  def topKQuery(embeddings: DataFrame, numQueries: Long, k: Int,
      m: Int = 16, ksub: Int = 16, iters: Int = 2,
      rerankFactor: Int = 8, grid: Int = 1024): DataFrame = {
    val t = transform(embeddings, m, grid)
    PQ.topK(t, PQ.train(t, m, ksub, iters), numQueries, k, rerankFactor,
      rerankOn = embeddings)
  }

  // spark's `transform` collides with scala.Predef / our own name
  private def transform_(c: org.apache.spark.sql.Column,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.transform(c, f)
}
