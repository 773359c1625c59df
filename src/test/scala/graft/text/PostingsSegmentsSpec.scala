package graft.text

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase

/** Incremental postings-index maintenance: delta append + merged read +
  * compaction must equal a from-scratch build EXACTLY on every relation
  * (the merge algebra is lossless on disjoint doc sets), generations
  * must flip atomically, and the reader fast path (single segment → no
  * merge agg) must hold after compaction. */
class PostingsSegmentsSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val corpus = Seq(
    0L -> "spark shuffle join rare unicorn",
    1L -> "spark shuffle join join",
    2L -> "spark join scan scan scan",
    3L -> "spark scan rare extra",
    4L -> "spark shuffle unicorn unicorn spark",
    5L -> "delta segment lands here",
    6L -> "another delta doc spark",
    7L -> "third arrival join scan")

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-seg-spec").resolve("idx").toString

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def assertSameIndex(a: InvIndex, b: InvIndex): Unit = {
    assert(rowsOf(a.postings) === rowsOf(b.postings), "postings")
    assert(rowsOf(a.doclen) === rowsOf(b.doclen), "doclen")
    assert(rowsOf(a.vocab) === rowsOf(b.vocab), "vocab")
    assert(rowsOf(a.totals) === rowsOf(b.totals), "totals")
  }

  test("delta append + merged read equals a from-scratch build exactly") {
    val root = tmpRoot()
    val (standing, arrivals) = (corpus.take(5), corpus.drop(5))
    PostingsSegments.init(docs(standing: _*), spark, root)
    PostingsSegments.appendDelta(docs(arrivals: _*), spark, root)
    assert(PostingsSegments.segments(root).size === 2)
    assertSameIndex(
      PostingsSegments.readMerged(spark, root),
      PostingsIndex.derive(docs(corpus: _*)))
  }

  test("compaction flips to one segment in a new generation, same content") {
    val root = tmpRoot()
    PostingsSegments.init(docs(corpus.take(5): _*), spark, root)
    PostingsSegments.appendDelta(docs(corpus.slice(5, 7): _*), spark, root)
    PostingsSegments.appendDelta(docs(corpus.drop(7): _*), spark, root)
    val gen0 = PostingsSegments.currentGen(root).get
    assert(gen0.getFileName.toString === "gen-0")
    assert(PostingsSegments.segments(root).size === 3)
    val g = PostingsSegments.compact(spark, root)
    assert(g === 1)
    assert(PostingsSegments.currentGen(root).get.getFileName.toString === "gen-1")
    assert(PostingsSegments.segments(root).size === 1)
    assert(!Files.exists(gen0), "superseded generation reaped")
    assertSameIndex(
      PostingsSegments.readMerged(spark, root),
      PostingsIndex.derive(docs(corpus: _*)))
  }

  test("retrieval over the merged view equals retrieval over a full build") {
    val root = tmpRoot()
    PostingsSegments.init(docs(corpus.take(5): _*), spark, root)
    PostingsSegments.appendDelta(docs(corpus.drop(5): _*), spark, root)
    val merged = PostingsSegments.readMerged(spark, root)
    val full = PostingsIndex.derive(docs(corpus: _*))
    val got = Bm25.topKIndexed(merged, queryMod = 3, queryTerms = 2, k = 3,
      maxDfDen = 1)
    val want = Bm25.topKIndexed(full, queryMod = 3, queryTerms = 2, k = 3,
      maxDfDen = 1)
    assert(rowsOf(got) === rowsOf(want))
  }

  test("init refuses a root that already holds an index") {
    val root = tmpRoot()
    PostingsSegments.init(docs(corpus.take(2): _*), spark, root)
    intercept[IllegalArgumentException] {
      PostingsSegments.init(docs(corpus.take(2): _*), spark, root)
    }
  }

  test("appendDelta without init fails loudly") {
    intercept[IllegalStateException] {
      PostingsSegments.appendDelta(docs(corpus.take(1): _*), spark,
        Files.createTempDirectory("graft-seg-none").resolve("x").toString)
    }
  }

  test("a crashed (staged but unrenamed) segment is invisible to readers") {
    val root = tmpRoot()
    PostingsSegments.init(docs(corpus.take(5): _*), spark, root)
    // simulate a crashed append: a staging dir left behind next to seg-0
    val gen = PostingsSegments.currentGen(root).get
    Files.createDirectories(gen.resolve("seg-1.tmp-deadbeef"))
    assert(PostingsSegments.segments(root).size === 1)
    assertSameIndex(
      PostingsSegments.readMerged(spark, root),
      PostingsIndex.derive(docs(corpus.take(5): _*)))
  }
}
