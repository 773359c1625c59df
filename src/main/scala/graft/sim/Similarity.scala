package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (LLM-data-pipeline extension set).
  *
  * Scale posture: the query set is broadcast (it is small by definition);
  * candidate vectors NEVER shuffle for brute force — one scan, a broadcast
  * nested-loop with a fused codegen'd dot product, then a per-query top-k
  * (tiny shuffle of k rows per partition per query via window on q_id).
  * The 100 TB path is [[ivfTopK]]: a coarse quantizer prunes the scan to
  * nprobe cells, turning O(N) per query into O(N * nprobe / cells).
  */
object Similarity {

  /** Dot product over two array<double> columns via the native codegen'd
    * [[graft.functions.Dot]] kernel (identical IEEE fold order to the
    * interpreted `aggregate(zip_with(...))` form it replaced, so every
    * oracle keeps matching bit-for-bit — the kernel just skips the zipped
    * array allocation and per-element lambda boxing). */
  def dot(a: String, b: String): Column =
    expr(s"graft_dot($a, $b)")

  /** Project to (id, v: array<double>, norm). Norms are computed once per
    * vector so every later similarity is a single dot product. */
  def withNorm(embeddings: DataFrame, idCol: String = "vec_id"): DataFrame =
    embeddings
      .select(col(idCol), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))

  /** Brute-force cosine top-k: for each query vector (vec_id < numQueries),
    * the k nearest other vectors. Rank is deterministic: (rounded sim DESC,
    * vec_id ASC). */
  def bruteForceTopK(embeddings: DataFrame, numQueries: Long, k: Int): DataFrame = {
    val all = withNorm(embeddings)
    val queries = all.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"))

    val sims = all.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(dot("qv", "v") / (col("qnorm") * col("norm")), 6).as("cos_sim"))

    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each query vector
    * (vec_id < numQueries, its `label` is the positive class), the k most
    * cosine-similar vectors of a DIFFERENT label — the near-miss negatives
    * a contrastive or reranker loss learns the most from (the random-
    * negative baseline is what [[graft.text.TrainingPrep.mixtureSample]]'s
    * hash sampling gives for free).
    *
    * Scale posture: identical to [[bruteForceTopK]] — queries broadcast,
    * the label-mismatch predicate evaluates in the scan stage next to the
    * fused dot product (it PRUNES candidate rows before the top-k window,
    * never after), and only (q_id, neighbor_id, sim) scalars reach the
    * per-query top-k. At 100 TB swap the candidate generator for the IVF /
    * IVF-PQ tier unchanged: the mismatch predicate composes with any of
    * them as the same scan-stage filter on the candidate set. */
  def hardNegatives(embeddings: DataFrame, numQueries: Long, k: Int): DataFrame = {
    val all = embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    val queries = all.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("norm").as("qnorm"))

    val sims = all.join(broadcast(queries),
        col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        round(dot("qv", "v") / (col("qnorm") * col("norm")), 6).as("cos_sim"))

    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Array[Array[Double]]]

  /** The sign-projection hyperplanes as driver-held literals:
    * planes(b)(d) = xxhash64(b, d) / 2^63 — computed through Spark's own
    * xxhash64 (INT inputs, matching the `sequence` element types of the
    * DuckDB oracle's replay bit-for-bit) once per (nBits, dims) and cached for the
    * process. nBits × dims doubles — a few KB, plan-constant material. */
  def lshPlanes(spark: org.apache.spark.sql.SparkSession, nBits: Int,
      dims: Int): Array[Array[Double]] =
    planeCache.getOrElseUpdate((nBits, dims), {
      import spark.implicits._
      spark.range(nBits.toLong)
        .select(col("id").cast("int").as("b"),
          explode(expr(s"sequence(0, ${dims - 1})")).as("d"))
        .select(col("b"), col("d"),
          (xxhash64(col("b"), col("d")).cast("double") /
            lit(9.223372036854776e18)).as("comp"))
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    })

  /** Embedding width — one cheap scan, used to size [[lshPlanes]]. The
    * plane-literal path (and the codegen'd dot kernel behind it) requires
    * UNIFORM dims: a mixed-width table would silently bucket short rows
    * against oversized planes (the per-row `sequence(0, size(v)-1)` form
    * handled each row's own width). Assert min == max up front so mixed
    * corpora fail with a clear error at the entry point, not a ragged-dims
    * require deep inside a task. */
  def embeddingDims(embeddings: DataFrame): Int = {
    val r = embeddings
      .select(min(size(col("embedding"))).as("mn"),
        max(size(col("embedding"))).as("mx")).head()
    val (mn, mx) = (r.getInt(0), r.getInt(1))
    require(mn == mx,
      s"embedding column has mixed widths ($mn..$mx dims); the LSH/ANN " +
        "entry points require a uniform-dims embedding table — normalize " +
        "(pad/truncate/split by width) before indexing")
    mx
  }

  /** Sign-random-projection LSH for cosine: `nBits` deterministic
    * pseudo-random hyperplanes (components derived from xxhash64(bit, dim)
    * — stable across runs/partitions, no stored model), bucket = the sign
    * bit-vector. Vectors within a small angle agree on most sign bits, so
    * probing the exact bucket (plus optionally 1-bit-flip neighbors) finds
    * near neighbors while scanning only a 2^nBits-th of the corpus. The
    * companion scale path to [[ivfTopK]]: LSH needs no training pass at
    * all, IVF gives tighter candidate sets.
    *
    * The components come precomputed as [[lshPlanes]], so each bit is one
    * codegen'd [[graft.functions.Dot]] call against a literal plane
    * array — zero per-row hashing. Tests pin the bucket bits to a
    * per-row-hashing reference form. */
  def lshBucketFromPlanes(v: String,
      planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, b) =>
      when(call_function("graft_dot", expr(v),
          array(p.toIndexedSeq.map(lit): _*)) > 0, lit(1L << b))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed cosine top-k: bucket all vectors and the query set with
    * [[lshBucketFromPlanes]], rerank exactly within shared buckets only. Candidates
    * come from one equi-join on the bucket id — no cross product. Recall
    * is probabilistic (rises with fewer bits / more probes); measured
    * against brute force in tests. */
  def lshTopK(embeddings: DataFrame, numQueries: Long, k: Int,
      nBits: Int = 4): DataFrame = {
    val planes = lshPlanes(embeddings.sparkSession, nBits,
      embeddingDims(embeddings))
    val all = withNorm(embeddings)
      .withColumn("bucket", lshBucketFromPlanes("v", planes))
    // multi-probe: each query also probes the nBits buckets one sign-flip
    // away — boundary vectors land in adjacent buckets, and a flipped bit
    // is exactly a hyperplane the vector sat close to
    val queries = all.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"),
        explode(expr(
          s"array_union(array(bucket), transform(sequence(0, ${nBits - 1}), b -> bucket ^ shiftleft(1L, b)))"))
          .as("bucket"))

    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    all.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(dot("qv", "v") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Int8 range quantization of an embedding column — the storage play for
    * 100 TB embedding tables (4 bytes -> 1 byte per dimension; search runs
    * on the quantized vectors, exact rerank on the float originals).
    * Per-vector affine quantization: q_i = floor((x_i - min) / scale),
    * scale = (max - min) / 256 — all explicit IEEE ops so the DuckDB
    * oracle reproduces values bit-for-bit. Reports the max absolute
    * dequantization error per vector (bounded by scale). */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    quantizeCodesWithVectors(embeddings)
      .withColumn("max_abs_err", expr(
        """aggregate(zip_with(v, q, (x, qi) -> abs(x - (vmin + (qi + 0.5D) * scale))),
          | 0D, (acc, e) -> greatest(acc, e))""".stripMargin))
      // raw doubles are safe to emit: every op above is a fixed-order IEEE
      // expression evaluated identically by the DuckDB oracle (no
      // aggregation reordering, no engine-specific rounding). The codes
      // are emitted as exact integer aggregates rather than an array
      // column (array-typed outputs don't hash uniformly across engines).
      .withColumn("q_sum", expr("aggregate(q, 0L, (a, x) -> a + x)"))
      .withColumn("q_max", array_max(col("q")))
      .select("vec_id", "vmin", "vmax", "q_sum", "q_max", "max_abs_err")

  /** Search on int8 codes: approximate dot products over [[quantizeInt8]]
    * codes prune to `rerankFactor`×k candidates, then exact cosine reranks
    * the float originals — the standard two-stage pattern that makes a
    * 100 TB embedding store scannable (codes are 4× smaller and the code
    * dot product is integer arithmetic). Recall measured vs brute force. */
  def quantizedTopK(embeddings: DataFrame, numQueries: Long, k: Int,
      rerankFactor: Int = 4): DataFrame = {
    val all = withNorm(embeddings)
    val codes = quantizeCodes(embeddings)
    val withCodes = all.join(codes, "vec_id")
    val queries = withCodes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"), col("q").as("qq"),
        col("vmin").as("q_vmin"), col("scale").as("q_scale"),
        col("qsum").as("q_qsum"), col("dqnorm").as("q_dqnorm"))

    // stage 1: approximate cosine from the codes. The dequantized dot
    // expands to ONE integer code-dot per pair plus scalar corrections:
    //   x̂·ŷ = d·ma·mb + ma·sb·Sb + mb·sa·Sa + sa·sb·(codeDot + .5ΣQa + .5ΣQb + .25d)
    // with per-vector scalars precomputed — the only array work is the
    // integer Σ qa_i·qb_i (this is why the codes are searchable at 1/4 the
    // bytes: integer array math + O(1) fixups, floats only at rerank)
    val d = size(col("q")).cast("double")
    val codeDot = expr("aggregate(zip_with(q, qq, (x, y) -> x * y), 0L, (a, p) -> a + p)")
    val approxDot =
      d * col("vmin") * col("q_vmin") +
      col("vmin") * col("q_scale") * (col("q_qsum") + lit(0.5) * d) +
      col("q_vmin") * col("scale") * (col("qsum") + lit(0.5) * d) +
      col("scale") * col("q_scale") *
        (codeDot.cast("double") + lit(0.5) * col("qsum") +
          lit(0.5) * col("q_qsum") + lit(0.25) * d)
    // the candidate window shuffles ONLY (q_id, vec_id, score) scalars —
    // carrying the float vectors and code arrays through the shuffle+sort
    // would move more bytes than brute force and defeat the codes' purpose
    val candW = Window.partitionBy(col("q_id"))
      .orderBy(col("__qcos").desc, col("vec_id"))
    val cands = withCodes.join(broadcast(queries.drop("qv", "qnorm")),
        col("vec_id") =!= col("q_id"))
      .withColumn("__qcos", approxDot / (col("dqnorm") * col("q_dqnorm")))
      .select("q_id", "vec_id", "__qcos")
      .withColumn("__rn", row_number().over(candW))
      .filter(col("__rn") <= k * rerankFactor)

    // stage 2: join the float vectors back for ONLY the survivors, rerank
    val qv = all.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("norm").as("qnorm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cands
      .join(all, "vec_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(dot("qv", "v") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** ONE definition of the affine int8 quantization (vmin/vmax/scale/q) —
    * shared by the oracle-verified [[quantizeInt8]] and the search path so
    * the two can never desynchronize. */
  private def quantizeCodesWithVectors(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("vmin", array_min(col("v")))
      .withColumn("vmax", array_max(col("v")))
      .withColumn("scale",
        greatest((col("vmax") - col("vmin")) / 256.0, lit(1e-12)))
      .withColumn("q", expr(
        "transform(v, x -> least(cast(floor((x - vmin) / scale) as bigint), 255L))"))

  /** (vec_id, q codes, vmin, scale, qsum = Σq, dqnorm = ‖dequant(q)‖) —
    * everything stage-1 search needs, precomputed once per vector. */
  private def quantizeCodes(embeddings: DataFrame): DataFrame =
    quantizeCodesWithVectors(embeddings)
      .withColumn("qsum", expr("aggregate(q, 0L, (a, x) -> a + x)").cast("double"))
      .withColumn("dqnorm", sqrt(expr(
        "aggregate(q, 0D, (a, x) -> a + (vmin + (x + 0.5D) * scale) * (vmin + (x + 0.5D) * scale))")))
      .drop("v", "vmax")

  /** Coarse quantizer training: deterministic stride-sampled seeds refined
    * by `iters` Lloyd passes (assign by cosine argmax, recompute each cell
    * as the elementwise mean of its members).
    *
    * The quantizer is trained on a SAMPLE, FAISS-style: one scan collects a
    * deterministic hash-sample of vectors (`pmod(xxhash64(vec_id),
    * sampleMod) == 0`, capped by `maxTrainSamples` fail-loud so a
    * mis-sized sampleMod can never flood the driver), Lloyd runs on the
    * driver over that sample (a few thousand vectors × a few dozen
    * centroids — microseconds, and deterministic because the sample is
    * sorted by vec_id before any float accumulates), and the resulting
    * centroid model ships back as a LITERAL local relation. That is the
    * same plan-constant discipline as the decontamination bloom bitset:
    * training is ONE shallow Spark job regardless of `iters`, the model
    * has no lineage to recompute, and every downstream broadcast of it is
    * free. A fully-distributed Lloyd pass (broadcast assignment +
    * map-side-combined vector sums) only pays off when the TRAINING SET
    * itself cannot sit on the driver — and a coarse quantizer never needs
    * a training set that big.
    *
    * Seeds are the sampled vectors with `pmod(xxhash64(vec_id), stride) ==
    * 0` — scan-only and deterministic (an ordinal row_number over an
    * unpartitioned window would sort the entire vector table on ONE task);
    * if hashing yields none (tiny corpus), every sampled vector seeds.
    * Cells that lose all members drop out. */
  def kmeansCentroids(all: DataFrame, stride: Int, iters: Int,
      sampleMod: Long = 1L, maxTrainSamples: Int = 1 << 17): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    // left at the default, BOTH size knobs derive from the corpus count
    // (one count-only scan); the explicit sampleMod knob is expert mode
    // and keeps the given stride untouched.
    //   - sample modulus: corpora above ~half the driver budget train on
    //     a bounded hash-sample instead of tripping the require below;
    //   - seed stride: stride-hash seeding makes the CELL COUNT linear in
    //     the corpus (k ~ n/stride), so driver Lloyd — O(n*k*d) — would go
    //     QUADRATIC in n (caught by the sf1 10x gate: 23s vs 1.9s/10x).
    //     The effective stride floors the cell count at ~4*sqrt(n), the
    //     FAISS coarse-quantizer sizing, restoring O(n^1.5 * d) training.
    // Both rules are identity for corpora <= ~8.5k vectors, so the
    // oracle-gated SFs keep bit-identical training; the IVF oracle SQL
    // replays BOTH auto-derivations — the ceil/sqrt stride floor AND the
    // ceil(n/65536) sample modulus (restricting its Lloyd CTEs to the
    // same xxhash64 % mod = 0 sample) — so oracle equality survives past
    // the ~65k-vector point where effectiveMod departs from 1 (IEEE sqrt
    // and ceil are correctly rounded — engines agree exactly).
    val (effectiveMod, effectiveStride) =
      if (sampleMod != 1L) (sampleMod, stride.toLong)
      else {
        val n = all.count()
        val target = (maxTrainSamples / 2).toDouble
        val mod = math.max(1L, math.ceil(n / target).toLong)
        val targetCells = math.ceil(4.0 * math.sqrt(n.toDouble))
        val strideEff = math.max(stride.toLong,
          math.ceil(n.toDouble / targetCells).toLong)
        (mod, strideEff)
      }
    val sample: Array[(Long, Array[Double], Boolean)] = all
      .filter(pmod(xxhash64(col("vec_id")), lit(effectiveMod)) === 0)
      .select(col("vec_id"), col("v"),
        (pmod(xxhash64(col("vec_id")), lit(effectiveStride)) === 0).as("is_seed"))
      .limit(maxTrainSamples + 1)
      .as[(Long, Array[Double], Boolean)].collect()
      .sortBy(_._1)
    require(sample.length <= maxTrainSamples,
      s"k-means training sample exceeds $maxTrainSamples vectors — raise " +
        "sampleMod so the hash-sample fits the driver budget")
    var centroids: Array[(Long, Array[Double])] =
      sample.collect { case (id, v, true) => (id, v) }
    if (centroids.isEmpty) centroids = sample.map { case (id, v, _) => (id, v) }

    def norm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    for (_ <- 1 to iters) {
      val cnorms = centroids.map { case (_, cv) => norm(cv) }
      // The O(n*k*d) argmax dominates training; it is embarrassingly
      // parallel AND order-free (each vector's best cell lands in its own
      // slot), so fan it across cores. Determinism holds: the float
      // ACCUMULATION below stays sequential in vec_id-sorted sample
      // order, which is what the bit-exact DuckDB oracle replays.
      val cents = centroids
      val bests = new Array[Int](sample.length)
      import scala.collection.parallel.CollectionConverters._
      (0 until sample.length).par.foreach { si =>
        val v = sample(si)._2
        val vn = norm(v)
        var best = -1; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          val cv = cents(c)._2
          while (i < v.length) { d += v(i) * cv(i); i += 1 }
          val sim = d / (vn * cnorms(c))
          // same tiebreak as the distributed argmax: higher sim, then
          // smaller centroid id (centroids are in ascending-id order)
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        bests(si) = best
      }
      val sums = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Array[Double], Long)]
      var si = 0
      while (si < sample.length) {
        val v = sample(si)._2
        val cid = centroids(bests(si))._1
        val (acc, n) = sums.getOrElseUpdate(cid,
          (new Array[Double](v.length), 0L))
        var i = 0
        while (i < v.length) { acc(i) += v(i); i += 1 }
        sums(cid) = (acc, n + 1)
        si += 1
      }
      centroids = sums.toArray.sortBy(_._1)
        .map { case (cid, (s, n)) => (cid, s.map(_ / n)) }
    }
    centroidFrame(spark, centroids)
  }

  /** (c_id, cv, cnorm) literal frame from driver-held centroids. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      cs: Array[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    cs.toSeq.toDF("c_id", "cv")
      .withColumn("cnorm", sqrt(expr("graft_dot(cv, cv)")))
  }

  /** IVF-style ANN: k-means coarse centroids (stride seeds + Lloyd
    * refinement), every vector assigned to its nearest centroid (one
    * broadcast pass), queries probe the `nprobe` nearest cells and
    * exact-rerank only those candidates.
    *
    * Returns the same shape as [[bruteForceTopK]] — recall measured against
    * it in tests. Defaults tuned by measurement (round 3): at a FIXED
    * scanned fraction, finer cells + more probes beat fewer/bigger cells —
    * stride 37/nprobe 10/1 Lloyd pass scanned ~18% of the sf0.1 corpus for
    * recall@5 0.54, while stride 23/nprobe 14/2 passes scans ~16% for
    * 0.76 (0.90 at sf0.001). The extra Lloyd pass is one more linear
    * broadcast+avg round, not a plan-shape change. */
  def ivfTopK(embeddings: DataFrame, numQueries: Long, k: Int,
      centroidStride: Int = 23, nprobe: Int = 14, kmeansIters: Int = 2,
      trainSampleMod: Long = 1L, refinePasses: Int = 0): DataFrame = {
    val all = withNorm(embeddings)
    // trained eagerly (kmeansCentroids collects per pass), so this is a
    // literal local relation — broadcasting it below costs nothing and can
    // never re-trigger the Lloyd passes. At the default trainSampleMod the
    // modulus is derived from the corpus count, so corpora beyond the
    // driver-sample budget train on a bounded hash-sample automatically;
    // the explicit knob remains for callers who want a fixed sample rate
    val coarse = kmeansCentroids(all, centroidStride, kmeansIters,
      sampleMod = trainSampleMod)
    // optional distributed refinement over the FULL corpus (not just the
    // driver sample) — for corpora above the sample budget where the
    // sample-trained cells are too coarse; opt-in because float centroid
    // means from a distributed partial aggregation are accumulation-order-
    // dependent (the default path stays bit-deterministic and oracled)
    val centroids =
      if (refinePasses > 0) refineCentroids(all, coarse, refinePasses)
      else coarse
    ivfSearch(all, centroids, numQueries, k, nprobe)
  }

  /** IVF search against a given centroid model (factored from [[ivfTopK]]
    * so training variants — sample-only, distributed-refined — share one
    * search path). */
  def ivfSearch(all: DataFrame, centroids: DataFrame, numQueries: Long,
      k: Int, nprobe: Int): DataFrame = {
    val assigned = assignCells(all, centroids)
      .select(col("vec_id"), col("cell"), col("v"), col("norm"))

    // queries probe their nprobe nearest cells
    val queries = all.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("__qcsim").desc, col("c_id"))
    val probes = queries.join(broadcast(centroids))
      .withColumn("__qcsim", dot("qv", "cv") / (col("qnorm") * col("cnorm")))
      .withColumn("__rn", row_number().over(probeW))
      .filter(col("__rn") <= nprobe)
      .select(col("q_id"), col("qv"), col("qnorm"), col("c_id").as("cell"))

    // exact rerank within probed cells only — probes are tiny (queries ×
    // nprobe), so broadcast them: the vector table never shuffles
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(dot("qv", "v") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Nearest-cell assignment for a centroid model: adds a `cell` column to
    * a [[withNorm]]-shaped frame with ONE per-row codegen argmax over the
    * plan-constant centroid matrix ([[graft.functions.IvfAssign]]) — zero
    * shuffle, zero joined rows. The broadcast-join + max_by form this
    * replaces materialized |corpus| × |cells| rows and re-shuffled every
    * vector: ~10 s at sf1 vs ~0.5 s, same flops (bit-identical argmax,
    * same tiebreak: higher cosine, then smaller centroid id). Shared by
    * the search path ([[ivfSearch]]) and the distributed Lloyd refit
    * ([[refineCentroids]]), so the two can never diverge in assignment
    * semantics. Centroids are a driver-built literal relation, so
    * collecting them back re-runs no lineage. */
  def assignCells(all: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = all.sparkSession
    val cs = centroids.select(col("c_id"), col("cv"), col("cnorm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val d = cs.head._2.length
    val flat = new Array[Double](cs.length * d)
    cs.iterator.zipWithIndex.foreach { case ((_, cv, _), ci) =>
      require(cv.length == d, "centroid model has mixed dims")
      System.arraycopy(cv, 0, flat, ci * d, d)
    }
    // registered under a MODEL-CONTENT-HASHED name: a fixed name would be
    // session-global mutable state — two concurrent ivfSearch calls (or
    // an unrefined/refined pair) could resolve each other's centroid
    // model at analysis time and silently assign against the wrong
    // quantizer. The FNV name is deterministic (same model ⇒ same name ⇒
    // reproducible plans); distinct models get distinct entries, bounded
    // by the number of trained quantizers in the session.
    val cids = cs.map(_._1)
    val cnorms = cs.map(_._3)
    // hash ids AND centroid values: a refined model keeps its coarse
    // seeds' ids, so ids alone would alias the two
    val modelBytes =
      java.nio.ByteBuffer.allocate(8 * (cids.length + flat.length + 1))
    cids.foreach(modelBytes.putLong)
    flat.foreach(modelBytes.putDouble)
    modelBytes.putLong(d.toLong)
    val fname = f"graft_ivf_cell_${graft.functions.Fnv1a64Helper.hashBytes(modelBytes.array())}%016x"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname,
      exprs => {
        require(exprs.size == 2,
          s"$fname takes 2 arguments, got ${exprs.size}")
        graft.functions.IvfAssign(exprs.head, exprs(1), flat, cnorms, cids, d)
      },
      "built-in")
    all.withColumn("cell", expr(s"$fname(v, norm)"))
  }

  /** Distributed Lloyd refinement: re-fit the coarse quantizer's centroids
    * over the FULL corpus — the scale path for training sets above the
    * driver-sample budget ([[kmeansCentroids]]'s `maxTrainSamples`).
    * Each pass is (a) the [[assignCells]] scan-stage argmax (a per-row
    * codegen kernel over the plan-constant centroid matrix — the corpus
    * neither shuffles nor fans out to |corpus| × |cells| joined rows),
    * then (b) one map-side-combined [[VecSumDoubleAgg]] aggregation whose
    * shuffle carries ~one partially-summed array per (partition, cell),
    * then (c) a driver fold of the cells×dims result — bounded by the
    * centroid count, the same literal-relation discipline as training.
    * So a pass costs ≈ one assignment scan (measured in ScaleProbe),
    * exactly the shape [[ivfSearch]] uses — the earlier
    * broadcast-join + max_by formulation here re-materialized the
    * corpus×cells product this kernel exists to avoid.
    * Cell ids stay the seed ids; emptied cells drop, as in driver Lloyd.
    * Float means from partial aggregation are accumulation-order-
    * dependent, so refined models are approximately (not bit-)
    * reproducible — recall is the contract, measured in tests. */
  def refineCentroids(all: DataFrame, centroids: DataFrame,
      passes: Int): DataFrame = {
    val spark = all.sparkSession
    val vsum = udaf(VecSumDoubleAgg)
    var cur = centroids
    for (_ <- 1 to passes) {
      val refit = assignCells(all, cur)
        .groupBy(col("cell").as("c_id"))
        .agg(vsum(col("v")).as("__sums"), count(lit(1)).as("__n"))
        .collect() // cells × dims doubles — centroid-model-sized
      cur = centroidFrame(spark, refit.map { r =>
        val n = r.getAs[Long]("__n").toDouble
        (r.getAs[Long]("c_id"), r.getAs[Seq[Double]]("__sums").map(_ / n).toArray)
      }.sortBy(_._1))
    }
    cur
  }

  /** Grouped DOUBLE vector sum — [[VecSumAgg]]'s float twin, the
    * map-side-combined building block of [[refineCentroids]] (same
    * write-amplification argument as the long variant). */
  object VecSumDoubleAgg extends Aggregator[Array[Double], Array[Double], Array[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray
    override def reduce(buf: Array[Double], x: Array[Double]): Array[Double] =
      if (buf.isEmpty) x.clone()
      else {
        require(x.length == buf.length,
          s"VecSumDoubleAgg: ragged vector in group (${x.length} vs ${buf.length} dims)")
        var i = 0
        while (i < buf.length) { buf(i) += x(i); i += 1 }
        buf
      }
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] =
      // empty zero buffers can appear on EITHER side (zero-row partition
      // partials) — see VecSumAgg.merge
      if (x.isEmpty) y else if (y.isEmpty) x else reduce(x, y)
    override def finish(buf: Array[Double]): Array[Double] = buf
    override def bufferEncoder: Encoder[Array[Double]] = ExprEnc
    override def outputEncoder: Encoder[Array[Double]] = ExprEnc
    private lazy val ExprEnc: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Grouped vector sum as a typed [[Aggregator]]: zip-adds each group's
    * long arrays into one accumulator. The load-bearing property is
    * MAP-SIDE COMBINE: a `posexplode -> groupBy(label, dim)` formulation
    * shuffles one row per vector PER DIMENSION (a dims-fold write
    * amplification that dominates at 100 TB), while the UDAF's partial
    * aggregation shuffles one partially-summed array per (partition,
    * label). */
  object VecSumAgg extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(buf: Array[Long], x: Array[Long]): Array[Long] =
      if (buf.isEmpty) x.clone()
      else {
        // ragged inputs would silently truncate (or throw mid-sum); the
        // grouped-vector contract is equal dims, so fail loudly instead
        require(x.length == buf.length,
          s"VecSumAgg: ragged vector in group (${x.length} vs ${buf.length} dims)")
        var i = 0
        while (i < buf.length) { buf(i) += x(i); i += 1 }
        buf
      }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      // BOTH sides can be the empty zero buffer (a zero-row partition
      // still emits a partial) — only non-empty pairs go through the
      // strict ragged check, which remains fail-loud for real inputs
      if (x.isEmpty) y else if (y.isEmpty) x else reduce(x, y)
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] = ExprEnc
    override def outputEncoder: Encoder[Array[Long]] = ExprEnc
    private lazy val ExprEnc: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Per-label centroid SUMS over int8-quantized codes — the grouped-
    * vector-mean building block (class prototypes, cluster refits, μ for
    * whitening) kept in EXACT integer form: emitting sums + counts instead
    * of float means makes the result aggregation-order-independent, so it
    * is engine-hashable AND mergeable across shards (means are not). One
    * scan + one UDAF aggregation (map-side combined) + a posexplode of the
    * labels×dims result frame, which is tiny by construction. The mean is
    * one exact-integer IEEE division away, done by the CONSUMER at full
    * precision. Codes come from the same shared quantization kernel as
    * [[quantizeInt8]] / [[quantizedTopK]]. */
  def labelCentroidSums(embeddings: DataFrame): DataFrame = {
    val vsum = udaf(VecSumAgg)
    quantizeCodesWithVectors(embeddings)
      .join(embeddings.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label").cast("long").as("label"))
      .agg(vsum(col("q")).as("__sums"), count(lit(1)).as("n_vecs"))
      .select(col("label"), col("n_vecs"),
        posexplode(col("__sums")).as(Seq("dim", "sum_q")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("sum_q"), col("n_vecs"))
  }
}
