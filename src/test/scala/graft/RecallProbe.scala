package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: measure every ANN tier's recall@k against brute-force ground
  * truth on a real corpus, with the two cost fractions a user picks a tier
  * by:
  *
  *   - `exact_frac` — fraction of the corpus receiving EXACT float cosine
  *     scoring per query (the dominant cost at scale: float vectors must
  *     be read and dotted);
  *   - `cheap_frac` — fraction receiving only integer/code scoring first
  *     (int8 code dots, PQ ADC lookups — 4-32× smaller reads, integer
  *     ALU): 0 for tiers that score candidates exactly right away.
  *
  * Candidate fractions are MEASURED (probed-cell occupancy, shared-bucket
  * join counts), not the nominal nprobe/cells arithmetic — skewed cells
  * and multi-probe unions make the nominal number wrong in both
  * directions. Timing is min-of-2 on the registered-query parameters.
  *
  * Run: `sbt "Test/runMain graft.RecallProbe <sfDir>"` (default: the
  * sf0.1 corpus).
  * Results recorded per round in COVERAGE.md (ANN tier table).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.create(appName = "graft-recall-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val Q = SparkEntry.SimNumQueries
    val K = SparkEntry.SimTopK
    val all = sim.Similarity.withNorm(emb)

    val truth = sim.Similarity.bruteForceTopK(emb, Q, K)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    def evalTier(name: String, exactFrac: Double, cheapFrac: Double)(
        df: => DataFrame): Unit = {
      var rows: Array[(Long, Long)] = null
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        rows = df.select("q_id", "neighbor_id").as[(Long, Long)].collect()
        (System.nanoTime() - t0) / 1e9
      }
      val byQ = rows.groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2).toSet }
      val recall = truth.toSeq.map { case (q, t) =>
        byQ.getOrElse(q, Set.empty[Long]).count(t.contains).toDouble / t.size
      }.sum / truth.size
      println(f"RECALL $name sf=$sfDir n=$n recall@$K=$recall%.3f " +
        f"exact_frac=$exactFrac%.4f cheap_frac=$cheapFrac%.4f " +
        f"min_sec=${times.min}%.2f")
    }

    // measured IVF probed-cell fraction: the registered query's coarse
    // model + the same probe selection as ivfSearch, joined to actual
    // cell occupancy — shared by the ivf and ivfpq rows (same quantizer)
    val coarse = sim.Similarity.kmeansCentroids(all,
      SparkEntry.IvfStride, SparkEntry.IvfIters)
    val cellSizes = sim.Similarity.assignCells(all, coarse)
      .groupBy("cell").agg(count(lit(1)).as("sz"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("__qcsim").desc, col("c_id"))
    val probedRows = all.filter(col("vec_id") < Q)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
      .join(broadcast(coarse))
      .withColumn("__qcsim",
        expr("graft_dot(qv, cv)") / (col("qnorm") * col("cnorm")))
      .withColumn("__rn", row_number().over(probeW))
      .filter(col("__rn") <= SparkEntry.IvfNprobe)
      .select(col("q_id"), col("c_id").as("cell"))
      .join(cellSizes, "cell")
      .agg(sum(col("sz"))).as[Long].head()
    val ivfFrac = probedRows.toDouble / (Q * (n - 1))

    // measured LSH candidate fraction: registered nBits=4, exact bucket +
    // all 1-bit flips (the lshTopK multi-probe set)
    val nBits = 4
    val planes = sim.Similarity.lshPlanes(spark, nBits,
      sim.Similarity.embeddingDims(emb))
    val bucketed = all.withColumn("bucket",
      sim.Similarity.lshBucketFromPlanes("v", planes))
    val lshCands = bucketed.filter(col("vec_id") < Q)
      .select(col("vec_id").as("q_id"),
        explode(expr(s"array_union(array(bucket), transform(sequence(0, ${nBits - 1}), b -> bucket ^ shiftleft(1L, b)))"))
          .as("bucket"))
      .join(bucketed.select(col("vec_id"), col("bucket")), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .count()
    val lshFrac = lshCands.toDouble / (Q * (n - 1))

    val rerankFrac = (K.toLong * SparkEntry.PqRerank).toDouble / (n - 1)

    evalTier("bruteforce", 1.0, 0.0)(
      sim.Similarity.bruteForceTopK(emb, Q, K))
    evalTier("ivf", ivfFrac, 0.0)(
      sim.Similarity.ivfTopK(emb, Q, K, SparkEntry.IvfStride,
        SparkEntry.IvfNprobe, SparkEntry.IvfIters))
    evalTier("lsh", lshFrac, 0.0)(
      sim.Similarity.lshTopK(emb, Q, K))
    evalTier("quantized_int8", rerankFrac, 1.0)(
      sim.Similarity.quantizedTopK(emb, Q, K))
    evalTier("pq_adc", rerankFrac, 1.0)(
      sim.PQ.topKQuery(emb, Q, K, m = SparkEntry.PqM,
        ksub = SparkEntry.PqKsub, rerankFactor = SparkEntry.PqRerank))
    // same candidate fraction as pq_adc by construction (identical k ×
    // rerankFactor survivors) — the OPQ-vs-PQ comparison the operator's
    // "Done" criterion is defined on
    evalTier("opq_adc", rerankFrac, 1.0)(
      sim.Opq.topKQuery(emb, Q, K, m = SparkEntry.PqM,
        ksub = SparkEntry.PqKsub, rerankFactor = SparkEntry.PqRerank,
        grid = SparkEntry.PqOpqGrid))
    evalTier("ivfpq", rerankFrac, ivfFrac)(
      sim.PQ.ivfPqTopK(emb, Q, K, SparkEntry.IvfStride,
        SparkEntry.IvfNprobe, SparkEntry.IvfIters, m = SparkEntry.PqM,
        ksub = SparkEntry.PqKsub, rerankFactor = SparkEntry.PqRerank))

    spark.stop()
  }
}
