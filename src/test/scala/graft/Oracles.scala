package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cdc.{AvroWireKernel, SnapshotDiff}
import graft.multimodal.Multimodal

/** Test oracles and fixture builders: the reference definitions specs pin
  * the registered operators against. No app or registered query runs
  * them. */
object Oracles {

  /** Generic two-snapshot diff: digest each side, full-outer join on the
    * key, compare. `oldSnap`/`newSnap` are plain tables (tombstones
    * already applied); `valueCols` resolve on both. Output shape matches
    * [[SnapshotDiff.changelogDiff]] minus the seq columns. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      keyCols: Seq[String], valueCols: Seq[Column]): DataFrame = {
    def digested(df: DataFrame, tag: String): DataFrame =
      df.select(keyCols.map(col) :+ SnapshotDiff.valueDigest(valueCols).as(tag): _*)
    digested(oldSnap, "__od")
      .join(digested(newSnap, "__nd"), keyCols, "full_outer")
      .withColumn("change",
        when(col("__od").isNull && col("__nd").isNotNull, lit("added"))
          .when(col("__od").isNotNull && col("__nd").isNull, lit("deleted"))
          .when(col("__od") =!= col("__nd"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** Envelope Row -> Confluent frame bytes. External-Row convenience over
    * [[AvroWireKernel.encode]]; the row's runtime shape must match
    * `schema` exactly (fixtures construct it from the same schema). */
  def encodeFrame(row: Row, schema: StructType, schemaIdNum: Int): Array[Byte] = {
    val ir = CatalystTypeConverters.createToCatalystConverter(schema)(row)
      .asInstanceOf[InternalRow]
    AvroWireKernel.encode(ir, AvroWireKernel.alignment(schema, schema), schemaIdNum)
  }

  /** Embedding-cosine near-duplicate pairs (exact all-pairs, bounded
    * candidate set). Norms are precomputed per vector (one pass) so the
    * pair stage is a single fused dot product. The registered query is
    * `Dedup.embeddingNearDupPairsBanded`, whose candidate stage is an
    * equi-join, not a cross product. */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double,
      maxVecId: Long): DataFrame = {
    val e = graft.sim.Similarity.withNorm(
      embeddings.filter(col("vec_id") < maxVecId))

    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        round(
          expr("graft_dot(a.v, b.v)")
            / (col("a.norm") * col("b.norm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Exhaustive frame-set Jaccard pairs via the frame inverted index (any
    * pair with jaccard > 0 shares a frame, so the frame-postings self-join
    * IS exhaustive for positive thresholds); the registered query goes
    * through `Multimodal.nearDupPairs`'s signature-bucketed candidates
    * instead. */
  def exhaustiveNearDupPairs(documents: DataFrame, threshold: Double,
      frameWidth: Int = 64): DataFrame = {
    require(threshold > 0.0, "inverted-index exhaustiveness needs jaccard > 0")
    val sh = Multimodal.framePostings(documents, frameWidth)
    val cands = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    graft.dedup.MinHashLSH.verifyJaccard(cands, sh, threshold)
  }

  /** Sign-random-projection LSH bucket with the hyperplane components
    * recomputed PER ROW (nBits × dims xxhash64 evaluations). The
    * production call sites use `Similarity.lshBucketFromPlanes`, which
    * derives the identical components once; this inline form is the
    * reference definition the equality tests pin it to. */
  def lshBucket(v: String, nBits: Int): Column =
    expr(
      s"""aggregate(sequence(0, ${nBits - 1}), 0L, (acc, b) ->
         |  acc + IF(aggregate(zip_with($v, sequence(0, size($v) - 1),
         |             (x, d) -> x * (cast(xxhash64(b, d) as double) / 9.223372036854776E18)),
         |           0D, (a, p) -> a + p) > 0, shiftleft(1L, b), 0L))""".stripMargin)

  /** Pure-Scala twin of `TrainingPrep.estTokens` for property tests —
    * asserted equal to the Column form in TrainingPrepSpec (keep the two
    * in lockstep). */
  def estTokensModel(textLen: Long): Long =
    math.max(math.ceil(textLen / 4.0).toLong, 1L)
}
