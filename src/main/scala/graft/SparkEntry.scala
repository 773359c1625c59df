package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.CdcQueries
import graft.dedup.DedupQueries
import graft.graph.GraphQueries
import graft.multimodal.MultimodalQueries
import graft.ops.{EventQueries, FilterEnrichQueries, StatsQueries, TpchQueries}
import graft.sim.SimQueries
import graft.text.TextQueries

/** The batch query surface (SURVEY.md §7): `entry`, `queries`, `oracleSql`.
  *
  * Each entry in [[queries]] is one operator from SURVEY §2 (or a
  * scale-extension operator) expressed over the sf parquet corpus;
  * [[oracleSql]] carries the DuckDB-equivalent SQL for hash verification.
  * Both maps are views of one registry of [[GraftQuery]] values, each
  * pairing a plan with its oracle, defined per query family next to the
  * operators it uses.
  */
object SparkEntry {

  // ---- thresholds (analog of reference application.conf values, scaled to
  //      the test corpus's value range 0..~330) -------------------------------
  val HighValueThreshold = 200.0   // analog of ₦500,000 (inclusive >=)
  val VelocityWindowSec  = 3600    // analog of 60 s (corpus is ~30 days sparse)
  val VelocityMinTxns    = 2L      // analog of >=5
  val VelocityAdvanceSec = 1800    // hopping advance: 2 overlapping windows
  // the q_velocity_hopping oracle fans each event out over EXACTLY
  // window/advance integer hops (generate_series 0 .. w/a - 1); Spark's
  // two-arg window() also handles non-divisible hops (ceil expansion), so
  // a knob change to a non-multiple would silently desync the oracle —
  // fail at class-load instead
  require(VelocityWindowSec % VelocityAdvanceSec == 0,
    s"VelocityWindowSec ($VelocityWindowSec) must be a multiple of " +
      s"VelocityAdvanceSec ($VelocityAdvanceSec): the hopping-window oracle " +
      "derives its per-event fan-out as window/advance exact hops")
  val DailySpendAlert    = 150.0   // analog of ₦1,000,000 / 24 h (~p90 of daily sums)
  val DormancyGap        = "48 hours" // analog of 30-day inactivity gap
  val BigramMinCount     = 2L      // LM count cutoff: singleton bigram types prune
  val DormancyGapUs      = 48L * 3600 * 1000000 // same gap in epoch-micros

  // ---- extension-operator knobs (tuned to the corpus distributions) --------
  /** Committed golden binary-media fixture (scripts/gen_media.py) — the
    * DuckDB oracles read it by absolute path since it lives in the repo,
    * not in the sfDir corpus. Keep in sync with [[Tables.media]]. */
  val MediaFixturePath   = sys.env.getOrElse("GRAFT_MEDIA_PATH",
    "/root/repo/testdata/media/media.parquet")
  val JaccardThreshold   = 0.5    // exact n-gram pairs (planted near-dups ~0.95)
  val JaccardMaxDocId    = 1000L  // bounded candidate set for the oracle
                                  // path. 1000, not 200: the sf0.1-derived
                                  // corpora plant their first near-dup
                                  // pairs above id 200 (7 pairs < 1000),
                                  // so the cluster/verified queries were
                                  // trivially empty at the gated SFs —
                                  // correct, but zero-row evidence. Still
                                  // a CONSTANT window: verifier cost does
                                  // not grow with SF
  val MultimodalDupThreshold = 0.5 // frame-SET Jaccard cut: the planted
                                   // near-dups differ by ONE 64-char frame
                                   // (frame overlap (n-1)/(n+1) ≥ 0.5 from
                                   // n=3), while unrelated docs share no
                                   // frames — 0.5 splits the two cleanly
  val MinhashEstThreshold = 0.7   // banding est-jaccard cut
  val MinhashVerifyThreshold = 0.8 // verified-pairs cut — at/above the 16x4
                                   // banding S-curve so candidate recall ~1
                                   // and the exhaustive-oracle equality
                                   // holds (MinHashLSH.verifiedPairs doc)
  val ContainMinTextLen  = 120    // verified containment length gate (winnow
                                  // fingerprint-count superset bound)
  val ContainmentMaxDf   = 64L    // hot-postings cap for the capped variant
                                  // (df^2 pair-row blowup guard; SCALING.md)
  val EmbDupThreshold    = 0.45   // cosine near-dup cut (corpus max ~0.51)
  val EmbDupMaxVecId     = 500L
  val SimNumQueries      = 10L    // ANN query set = vec_id < 10
  val SimTopK            = 5
  val SemDedupBits       = 8      // sign-LSH bucket width for semantic dedup
  val DupSpanGram        = 8      // word-gram width for substring-level dedup
  val DupSpanMaxFraction = 0.5    // flag docs whose dup-token share exceeds this
  val IvfStride          = 23     // IVF coarse-quantizer knobs — shared by the
  val IvfNprobe          = 14     // query registration AND its SQL oracle so
  val IvfIters           = 2      // the two can never desynchronize
  val PqM                = 16     // PQ subspaces (graft.sim.PQ defaults —
  val PqKsub             = 16     // shared with the SQL oracle like the IVF
  val PqRerank           = 8      // knobs above)
  val PqOpqGrid          = 1024   // OPQ rotation grid (graft.sim.Opq)
  val LargeOrderQty      = 300L   // Q18-shaped HAVING cut (~top 0.1% of
                                  // orders; corpus avg order qty ~103)
  val BoilerplateMinDocs = 5L     // segment-frequency boilerplate cut

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_high_value_enrich")(spark, "/root/testdata/sf0.001")

  // Built after the thresholds above: the family registries' oracle SQL
  // interpolates them. Fails class init on a repeated query name.
  private val registry: Map[String, GraftQuery] = GraftQuery.byName(
    CdcQueries.queries ++ FilterEnrichQueries.queries ++ EventQueries.queries ++
      TpchQueries.queries ++ StatsQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ SimQueries.queries ++ GraphQueries.queries ++
      MultimodalQueries.queries)

  /** Every registered query's plan, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.plan }

  /** For each key in [[queries]], equivalent SQL runnable by DuckDB on the
    * same parquet tables. */
  val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracleSql }
}
