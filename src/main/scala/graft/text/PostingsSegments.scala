package graft.text

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance for the materialized postings index — the
  * segment/compaction architecture every production search index uses
  * (new documents land as a small DELTA SEGMENT derived from the new
  * docs only; readers merge segments at query time; a compaction job
  * periodically rewrites the segment list into one). Without this, any
  * corpus growth forces a full rebuild: [[PostingsIndex.ensure]]'s
  * fingerprint correctly INVALIDATES on mutation, but invalidation
  * re-derives everything — linear in the corpus, not in the change.
  *
  * Layout: `root/gen-<g>/seg-<k>/{postings,doclen,vocab,totals}`.
  * Readers resolve the HIGHEST complete generation; maintenance lands
  * every directory through [[PostingsIndex]]'s staged rename
  * (`stagedWrite`), so a crashed append or compaction can never leave a segment
  * (or a generation) half-visible. Compaction writes the merged index
  * as the sole segment of generation g+1 — a single atomic rename flips
  * readers from N segments to 1, with no window where old and new
  * coexist in one view. Superseded generations are reaped best-effort
  * (an in-flight reader of gen g keeps scanning files that still exist
  * until the reap; on object stores, reaping is a deferred GC job).
  *
  * Merge algebra (the same algebra the streaming vocab-maintenance twin
  * [[graft.streaming.DocStream]] proves incrementally): segments hold
  * DISJOINT doc sets, so
  *   - postings, doclen: plain union (no recompute);
  *   - vocab: union → sum(df), sum(ctf) per term (vocabulary-sized
  *     map-side-combined agg — never corpus-sized);
  *   - totals: union → sum(tt), sum(nd).
  * Hence merged(segments of corpus C) == derive(C) EXACTLY — pinned by
  * the `q_postings_build_incremental` oracle (digest vs the from-scratch
  * DuckDB derivation) and by frame-equality specs.
  *
  * Concurrency contract: readers are always safe (atomic renames only);
  * MAINTENANCE (append/compact) is single-writer per root — the standard
  * batch-pipeline posture where one scheduled job owns index upkeep.
  *
  * 100 TB posture: an append scans ONLY the new documents (delta cost
  * tracks new-docs postings — measured by ScaleProbe's
  * `postings_delta_append`); query-time segment merge costs one
  * vocabulary-sized agg while postings/doclen scans stay pruned
  * per-segment parquet; compaction ([[compact]]) resets segment-count
  * fan-in to one so the merge agg never grows unbounded.
  */
object PostingsSegments {

  private val GenPrefix = "gen-"
  private val SegPrefix = "seg-"

  private def numbered(dir: Path, prefix: String): Seq[(Int, Path)] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(dir)
      val entries = try ls.iterator.asScala.toSeq finally ls.close()
      entries.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith(prefix))
          scala.util.Try(n.stripPrefix(prefix).toInt -> p).toOption
        else None
      }.sortBy(_._1)
    }

  private def root(dir: String): Path =
    Paths.get(dir).toAbsolutePath.normalize

  /** The current (highest-numbered) generation dir, if any. */
  def currentGen(dir: String): Option[Path] =
    numbered(root(dir), GenPrefix).lastOption.map(_._2)

  /** Segment dirs of the current generation, oldest first. */
  def segments(dir: String): Seq[Path] =
    currentGen(dir).toSeq.flatMap(g => numbered(g, SegPrefix)).map(_._2)

  /** Initialize a segmented index at `dir` from the starting corpus:
    * generation 0, one segment. Fails if `dir` already holds one. */
  def init(documents: DataFrame, spark: SparkSession, dir: String): Unit = {
    require(currentGen(dir).isEmpty, s"segmented index already exists at $dir")
    PostingsIndex.writeDerivedAtomic(documents, spark,
      root(dir).resolve(GenPrefix + "0").resolve(SegPrefix + "0").toString)
  }

  /** Land `newDocs` (doc_ids DISJOINT from every existing segment — the
    * caller's contract, same as any append-only ingest) as the next
    * segment of the current generation. Scans ONLY `newDocs`. */
  def appendDelta(newDocs: DataFrame, spark: SparkSession,
      dir: String): Unit = {
    val gen = currentGen(dir).getOrElse(
      throw new IllegalStateException(s"no index at $dir — init() first"))
    val next = numbered(gen, SegPrefix).lastOption.map(_._1 + 1).getOrElse(0)
    PostingsIndex.writeDerivedAtomic(newDocs, spark,
      gen.resolve(SegPrefix + next).toString)
  }

  /** Open the merged view of the current generation: disjoint-doc unions
    * for postings/doclen, vocabulary-sized re-aggregation for
    * vocab/totals. One segment (the post-compaction fast path) returns
    * the plain single-index scans — zero merge overhead. */
  def readMerged(spark: SparkSession, dir: String): InvIndex = {
    val segs = segments(dir)
    require(segs.nonEmpty, s"no segments at $dir")
    val parts = segs.map(p => PostingsIndex.read(spark, p.toString))
    if (parts.size == 1) parts.head
    else InvIndex(
      postings = parts.map(_.postings).reduce(_ unionAll _),
      doclen = parts.map(_.doclen).reduce(_ unionAll _),
      vocab = parts.map(_.vocab).reduce(_ unionAll _)
        .groupBy("term")
        .agg(sum(col("df")).as("df"), sum(col("ctf")).as("ctf")),
      totals = parts.map(_.totals).reduce(_ unionAll _)
        .agg(sum(col("tt")).as("tt"), sum(col("nd")).as("nd")))
  }

  /** Rewrite the current generation's segments as the single segment of
    * generation g+1 (one atomic rename flips readers over), then reap
    * superseded generations best-effort. Returns the new generation
    * number.
    *
    * r15 (guide §6 — don't move bytes a metadata operation can place):
    * compaction is FILE-LEVEL for the two corpus-sized relations.
    * Segments hold DISJOINT doc sets, so the merged postings/doclen
    * relation IS the union of the segments' immutable part files — each
    * file is hard-linked (copy fallback for filesystems without links)
    * into the new generation's sole segment under a segment-prefixed
    * name, keeping its internal (term, doc_id) sort and row-group
    * min/max stats, so reader pruning is exactly what it was. Only the
    * vocabulary-sized `vocab` (per-term df/ctf re-aggregation across
    * segments) and the 1-row `totals` are recomputed and rewritten —
    * the previous byte-level rewrite re-shuffled (repartitionByRange +
    * sort) the whole postings relation to produce content it already
    * had on disk. Readers of the OLD generation stay safe: links are
    * created, nothing is moved, and the old dirs are reaped only after
    * the atomic generation flip (linked inodes survive the reap). The
    * trade, stated: per-segment files accumulate across compactions
    * (segment fan-in times compaction count); a deployment that needs
    * file-COUNT reduction (tiny-delta churn, object stores without
    * links) runs a byte-level rewrite of `readMerged(...)` instead, as a
    * scheduled deep-compaction. Content equality with a
    * from-scratch build is pinned either way by PostingsSegmentsSpec
    * and the `q_postings_build_incremental` digest oracle. */
  def compact(spark: SparkSession, dir: String): Int = {
    val gens = numbered(root(dir), GenPrefix)
    require(gens.nonEmpty, s"no index at $dir")
    val (g, _) = gens.last
    val segs = segments(dir)
    require(segs.nonEmpty, s"no segments at $dir")
    val dest = root(dir).resolve(GenPrefix + (g + 1)).resolve(SegPrefix + "0")
    // resolve the merged view NOW: stagedWrite pre-creates the gen-(g+1)
    // parent, which would otherwise become currentGen and make readMerged
    // see an empty "latest" generation mid-compaction
    val merged = readMerged(spark, dir)
    PostingsIndex.stagedWrite(dest.toString) { staging =>
      import scala.jdk.CollectionConverters._
      for (rel <- Seq("postings", "doclen")) {
        val outDir = Paths.get(staging, rel)
        Files.createDirectories(outDir)
        segs.zipWithIndex.foreach { case (seg, i) =>
          val srcDir = seg.resolve(rel)
          val ls = Files.list(srcDir)
          val files = try ls.iterator.asScala.toSeq finally ls.close()
          files
            .filter { f =>
              val n = f.getFileName.toString
              Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
            }
            .foreach { f =>
              val target = outDir.resolve(s"seg$i-${f.getFileName}")
              try Files.createLink(target, f)
              catch {
                case _: UnsupportedOperationException |
                     _: java.nio.file.FileSystemException =>
                  Files.copy(f, target)
              }
            }
        }
      }
      // vocab and totals re-aggregate from independent inputs — overlap
      // the two jobs (guide §2.6, the writeDerived discipline)
      PostingsIndex.runBothJobs(
        () => merged.vocab
          .repartitionByRange(col("term"))
          .sortWithinPartitions("term")
          .write.mode("overwrite").parquet(s"$staging/vocab"),
        () => merged.totals.coalesce(1).write.mode("overwrite")
          .parquet(s"$staging/totals"))
    }
    gens.foreach { case (_, p) =>
      scala.util.Try(PostingsIndex.deleteRecursively(p))
    }
    g + 1
  }
}
