package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The batch face (`batch_modules`): a fixed query set, each query tagged
  * with the module whose operators it exercises.
  *
  * A run makes one timed pass over the set in a fresh JVM, right after
  * set-up — the cost of a batch job run once, JIT and codegen included.
  * Each query is fully materialized by writing its output as parquet
  * (never `count()`, which lets Catalyst prune the work); those outputs
  * are what `run.py` checks against the DuckDB oracles. One pass, not a
  * timed `noop` pass plus a second checked one, because the run budget
  * holds each query once. The cache is never cleared between queries, so
  * a plan a query leaves cached stays visible to the next one.
  */
object BatchWorkload {

  /** The reference's own surface as batch twins — envelope decode, CDC
    * dimension tables, enrichment, reconciliation and time-weighted
    * balances — scan- and serde-bound, with none of the persist-holding
    * modules. Trimmed from the 54 queries of the `cdc_serde`,
    * `filters_enrich` and `events` families so that one pass fits the run
    * length. The event queries left out of the pass (rolling spend,
    * velocity) run as streams in `stream_stateful_replay`, where rolling
    * spend is checked against its batch twin. */
  val cdcSet: Seq[(String, String)] = Seq(
    "q_cdc_account_dim" -> "cdc",
    "q_envelope_avro_serde" -> "cdc",
    "q_latest_with_tombstones" -> "cdc",
    "q_enrich_cdc_dim" -> "ops",
    "q_balance_reconcile" -> "ops",
    "q_time_weighted_balance" -> "ops")

  /** Iterative, shuffle- and cache-heavy queries from every module that
    * holds persists — KCore rounds, MinHash LSH banding with
    * verification, query-likelihood retrieval over a postings index, LSH
    * search, multimodal frame decode and near-dups.
    * Trimmed from the 55 queries of these modules so that one pass fits
    * the run length. */
  val heavySet: Seq[(String, String)] = Seq(
    "q_kcore" -> "graph",
    "q_dedup_minhash_verified" -> "dedup",
    "q_ql_topk" -> "text",
    "q_sim_lsh_topk" -> "sim",
    "q_multimodal_near_dup" -> "multimodal",
    "q_multimodal_frames" -> "multimodal")

  val modules = Seq("cdc", "ops", "graph", "dedup", "text", "sim", "multimodal")

  /** Set-up's one warm-up query is materialized the way `graft.Bench`
    * does it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, workload: String, dataDir: String,
      workDir: String, tracer: Option[Tracer], setup: () => Double): RunResult = {
    val set = cdcSet ++ heavySet
    val tally = new Tally
    val setupS = setup()

    val spans = ArrayBuffer.empty[Span]
    val held = ArrayBuffer.empty[Int]
    val p0 = System.nanoTime()
    val p0Ms = System.currentTimeMillis()
    for ((q, module) <- set) {
      val id = s"q:$q"
      val s0 = System.currentTimeMillis()
      val q0 = System.nanoTime()
      val ok = tally.attempt(q) {
        val write = () => SparkEntry.queries(q)(spark, dataDir)
          .write.mode("overwrite").parquet(s"$workDir/out/$q")
        tracer.fold(write())(_.within(id)(write()))
      }.isDefined
      val dt = (System.nanoTime() - q0) / 1e9
      val s1 = System.currentTimeMillis()
      if (tracer.isDefined) held += Session.cachedPlans(spark)
      if (ok) spans += Span(id, "w", q, s0, s1,
        Map("seconds" -> dt, s"module.$module" -> 1.0) ++
          held.lastOption.map(n => "cache.held_plans" -> n.toDouble))
    }
    val passS = (System.nanoTime() - p0) / 1e9
    // the oracle of every query that ran, beside its output, as
    // `graft.Verify` writes it for scripts/check_oracle.py
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.write(java.nio.file.Paths.get(workDir, "out", "oracle_sql.json"),
      Json.obj(spans.map(s => s.name -> Json.str(oracle(s.name))).toSeq).getBytes("UTF-8"))

    val queryTimes = spans.map(_.attrs("seconds")).toSeq
    val endToEnd = Map(
      "pass_s" -> passS,
      "query_p50_s" -> Stats.median(queryTimes),
      "op_p50_ms" -> Stats.median(queryTimes) * 1e3,
      "op_p90_ms" -> Stats.quantile(queryTimes, 0.9) * 1e3,
      "queries" -> set.size.toDouble)

    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      spans += Span("w", "", workload, p0Ms, System.currentTimeMillis(),
        Map("seconds" -> passS))
      spans.foreach(t.add)
      t.drain()
      val moduleS = modules.map { m =>
        s"$m.query_s" -> spans.filter(_.attrs.contains(s"module.$m"))
          .map(_.attrs("seconds")).sum
      }
      val timed: String => Boolean = _.startsWith("q:")
      moduleS.toMap ++ t.workFor(timed).metrics ++ t.planFor(timed).metrics ++
        Map("cache.leaked_plans" -> held.lastOption.getOrElse(0).toDouble,
          "traced.pass_s" -> passS)
    }
    RunResult(setupS, endToEnd, layers, tally.attempted, tally.failed,
      spans.filter(_.id.startsWith("q:")).map(s => s.name -> s.attrs("seconds")).toSeq,
      tally.notes.toSeq)
  }
}
