package graft.text

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The four relations of an inverted retrieval index, each a DataFrame:
  *
  *   - `postings` (doc_id, term, tf)  — the index proper
  *   - `doclen`   (doc_id, dl)        — per-document token counts
  *   - `vocab`    (term, df, ctf)     — per-term document/collection freq
  *   - `totals`   (tt, nd)            — corpus token and document totals
  *
  * Both rankers in [[Bm25]] consume exactly this shape; `vocab` carries
  * df (BM25's idf input) AND ctf (query-likelihood's collection LM input)
  * so ONE index serves every ranker — the production posture where the
  * index is built once and queried by many retrieval jobs. */
case class InvIndex(postings: DataFrame, doclen: DataFrame,
    vocab: DataFrame, totals: DataFrame)

/** The materialized postings index — the production shape of the
  * retrieval family ([[Bm25]]'s own scale note: "at production scale the
  * index is a materialized TABLE (written once, scanned by every query),
  * not a runtime cache").
  *
  * Why a table and not `persist()`: Spark's CacheManager substitutes a
  * cached fragment into ANY later plan with a canonically-equal subtree
  * (TF-IDF derives the same tf aggregation), breaking unrelated queries'
  * whole-stage pipelines and holding session-lifetime memory — measured
  * in round 11 as a 2.6× q_tfidf_terms slowdown and a 15% whole-bench
  * drag. A parquet table has none of those failure modes: each reader
  * gets an ordinary pruned/pushed-down scan, memory is the scan's own,
  * and the artifact outlives the session (real pipelines build the index
  * in one job and query it from many).
  *
  * Layout at scale: `postings` is range-partitioned on (term, doc_id)
  * and sorted within partitions — the sharded-by-term layout every
  * distributed search engine uses, except range partitioning also SPLITS
  * a heavy term's postings list across shards (hash-by-term would put
  * all of one stop-word's postings in a single task), and the sort gives
  * parquet row-group min/max stats on `term` so a term-filtered scan
  * skips row groups. `doclen` is written sorted by doc_id for the same
  * stats on the candidate join's doc side; `vocab` and `totals` are
  * model-sized single files.
  *
  * Reference behavior anchor: the reference has no retrieval surface;
  * this is the LLM-data-pipeline extension's index-build job (the batch
  * sibling of a search indexer).
  */
object PostingsIndex {

  /** Derive the four index relations from a (doc_id, text) corpus —
    * one explode + three reused aggregations (dl, vocab, and totals all
    * fold FROM the postings, never rescanning the corpus). */
  def derive(documents: DataFrame): InvIndex = {
    val terms = documents.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val totals = dl.agg(sum(col("dl")).as("tt"), count(lit(1)).as("nd"))
    val vocab = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"))
    InvIndex(tf, dl, vocab, totals)
  }

  /** Write the index OF `documents` under `dir`, corpus scanned once
    * (r14, guide §1.2 step 1 — don't recompute what you already wrote):
    * writing each of `derive(documents)`'s four relations re-derived the
    * corpus-sized explode+agg for EVERY relation write and every
    * `repartitionByRange` sampling pass (doclen, vocab and totals all
    * fold from the tf aggregation — up to 8 corpus scans per build).
    * Here only the postings write touches the corpus; doclen/vocab then
    * fold from the WRITTEN postings parquet (column-pruned scans of the
    * just-written table — the invariant dl = Σtf per doc, (df, ctf) =
    * per-term (count, Σtf) is the definition of a derived index), and
    * totals folds from the written doclen. A cache-based variant
    * (persist the tf frame across the four writes) was measured
    * SLOWER at sf0.1 (+30% on q_postings_build: cache materialization
    * cost exceeds the saved recompute) and holds corpus-sized state in
    * executor memory at scale; the read-back costs three extra scans of
    * already-columnar, already-local output instead. */
  def writeDerived(documents: DataFrame, spark: SparkSession,
      dir: String): Unit = {
    derive(documents).postings
      .repartitionByRange(col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/postings")
    val p = spark.read.parquet(s"$dir/postings")
    // r15 (guide §2.6 — overlap independent jobs): the doclen and vocab
    // folds both read the written postings and depend on NOTHING else;
    // only totals chains after the written doclen. Submitting the
    // doclen→totals chain and the vocab fold from two driver threads
    // lets the scheduler back-fill one fold's task tail with the
    // other's tasks — build wall drops to max(chain, vocab) instead of
    // their sum. Both outcomes are always awaited before control leaves
    // (first failure rethrown only after both settle), so the staged
    // cleanup can never race an in-flight write.
    runBothJobs(
      () => {
        p.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
          .repartitionByRange(col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(s"$dir/doclen")
        spark.read.parquet(s"$dir/doclen")
          .agg(sum(col("dl")).as("tt"), count(lit(1)).as("nd"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/totals")
      },
      () => {
        p.groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"))
          .repartitionByRange(col("term"))
          .sortWithinPartitions("term")
          .write.mode("overwrite").parquet(s"$dir/vocab")
      })
  }

  /** Run two independent driver-side job chains concurrently and await
    * BOTH before returning (first failure rethrown after both settle —
    * a caller's cleanup can never race a still-running write). Spark
    * schedules concurrent jobs FIFO, which is exactly the §2.6 back-fill
    * behaviour. */
  private[text] def runBothJobs(a: () => Unit, b: () => Unit): Unit = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val outcomes = Seq(Future(a()), Future(b()))
        .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      outcomes.foreach(_.get)
    } finally pool.shutdown()
  }

  /** Open a written index: four plain parquet scans (pruning/pushdown
    * stay available to Catalyst; nothing is cached). */
  def read(spark: SparkSession, dir: String): InvIndex = InvIndex(
    spark.read.parquet(s"$dir/postings"),
    spark.read.parquet(s"$dir/doclen"),
    spark.read.parquet(s"$dir/vocab"),
    spark.read.parquet(s"$dir/totals"))

  /** Build at a fresh staging path next to `dest`, then atomically rename
    * into place — a crashed or concurrent build can never leave `dest`
    * half-written or clobber a directory another reader is scanning. The
    * staging dir carries a random suffix so two builders never collide;
    * the rename is same-filesystem (sibling path) so ATOMIC_MOVE holds.
    *
    * CONTRACT: `dest` must be content-unique — derived from the corpus
    * identity (path + fingerprint, as [[ensure]] does) or freshly random
    * (as `q_postings_build` does). An existing `dest` is served as-is on
    * rename collision, which is only correct because under this contract
    * any concurrent builder of the same `dest` derived the same index.
    * Whatever the move outcome, the staging dir never outlives the call
    * (deleted in `finally` unless it became `dest`). */
  def buildAtomic(documents: DataFrame, spark: SparkSession,
      dest: String): InvIndex = {
    writeDerivedAtomic(documents, spark, dest)
    read(spark, Paths.get(dest).toAbsolutePath.normalize.toString)
  }

  /** [[writeDerived]] through the staged atomic rename of
    * [[buildAtomic]] (same contract) — for [[buildAtomic]] and
    * [[PostingsSegments.init]]/`appendDelta`. */
  def writeDerivedAtomic(documents: DataFrame, spark: SparkSession,
      dest: String): Unit =
    stagedWrite(dest)(staging => writeDerived(documents, spark, staging))

  private[text] def stagedWrite(dest: String)(doWrite: String => Unit): Unit = {
    val destPath = Paths.get(dest).toAbsolutePath.normalize
    Files.createDirectories(destPath.getParent)
    val staging = destPath.resolveSibling(
      destPath.getFileName.toString + ".tmp-" +
        java.util.UUID.randomUUID.toString.take(8))
    var moved = false
    try {
      doWrite(staging.toString)
      try {
        Files.move(staging, destPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        moved = true
      } catch {
        // ONLY the concurrent-equivalent-builder race is swallowed: the
        // other builder's index is the same content (see contract above).
        // The guard must be dest-EXISTS + FileSystemException, not a
        // narrower subclass: the JDK's UnixCopyFile surfaces an
        // ATOMIC_MOVE onto an existing dir as a PLAIN FileSystemException
        // ("Directory not empty"), not DirectoryNotEmptyException
        // (verified by the Bm25Spec race test). Any failure while dest
        // does NOT exist (permissions, cross-device, disk full)
        // propagates — and the staging dir is removed in finally either
        // way, so no path leaks it.
        case _: java.nio.file.FileAlreadyExistsException
             | _: java.nio.file.FileSystemException
            if Files.exists(destPath) => ()
      }
    } finally if (!moved) deleteRecursively(staging)
  }

  /** Remove a directory tree (no-op if absent). The walk stream is
    * closed explicitly — java.nio stream-returning APIs hold an open
    * directory fd until closed, and this runs on every build/cleanup. */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator.asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.delete)
    }
  }

  /** Fingerprint of the corpus behind `sfDir`'s documents table: the
    * sorted (name, size, mtime) listing of its parquet files, hashed.
    * Cheap (one directory listing, no data read) and changes whenever
    * the corpus is regenerated in place — the session cache below keys
    * on it so a mutated corpus triggers a rebuild, never a stale serve. */
  def corpusFingerprint(sfDir: String): String = {
    val docs = Paths.get(sfDir, "documents.parquet")
    val listing =
      if (!Files.exists(docs)) "absent"
      else if (Files.isRegularFile(docs))
        s"${Files.size(docs)}:${Files.getLastModifiedTime(docs).toMillis}"
      else {
        import scala.jdk.CollectionConverters._
        val ls = Files.list(docs) // close explicitly: runs per ensure()
        val entries = try ls.iterator.asScala
          .filter(Files.isRegularFile(_))
          .map(f => s"${f.getFileName}:${Files.size(f)}:" +
            s"${Files.getLastModifiedTime(f).toMillis}")
          .toSeq
        finally ls.close()
        entries.sorted.mkString(",")
      }
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(listing).toLong & 0xffffffffL)
  }

  // one build per (JVM, corpus dir, corpus fingerprint): the first
  // retrieval query pays the index build, every later query in the
  // session scans the table — the amortization the bench measures.
  // Builds run under a lock (TrieMap.getOrElseUpdate may evaluate the
  // builder concurrently) and land in a per-JVM-nonce directory, so a
  // second JVM running the same corpus concurrently (parallel sbt test +
  // bench) builds its OWN index instead of overwriting the directory the
  // first JVM is actively scanning.
  private val builtDirs = scala.collection.mutable.Map.empty[String, String]
  private val jvmNonce = java.util.UUID.randomUUID.toString.take(8)
  // this JVM's nonce dirs are garbage the moment the JVM exits (no other
  // JVM can ever cache-hit them) — reap them at shutdown so repeated
  // test/bench JVMs don't accumulate full index copies under tmpdir
  sys.addShutdownHook {
    builtDirs.synchronized { builtDirs.values.toSeq }
      .foreach(d => scala.util.Try(deleteRecursively(Paths.get(d))))
  }

  /** The shared session index for the standard documents corpus at
    * `sfDir`: built on first use in this JVM under the JVM temp dir,
    * reopened thereafter. Deterministic content — the index is a pure
    * function of the corpus — so rebuild-vs-reuse can never change
    * results, only cost. Cache key includes [[corpusFingerprint]]: a
    * corpus regenerated in place mid-session gets a fresh build. */
  def ensure(spark: SparkSession, sfDir: String): InvIndex = {
    val abs = Paths.get(sfDir).toAbsolutePath.normalize.toString
    val key = abs + "@" + corpusFingerprint(abs)
    val dir = builtDirs.synchronized {
      builtDirs.getOrElseUpdate(key, {
        val root = Paths.get(System.getProperty("java.io.tmpdir"),
          "graft-postings-index")
        Files.createDirectories(root)
        // dir name: sanitized corpus-dir basename + hash of the keyed
        // (path, fingerprint) + this JVM's nonce — unique per corpus
        // state AND per JVM
        val out = root.resolve(
          abs.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(48) +
            "-" + java.lang.Integer.toHexString(key.hashCode) +
            "-" + jvmNonce).toString
        buildAtomic(graft.Tables.documents(spark, abs), spark, out)
        out
      })
    }
    read(spark, dir)
  }
}
