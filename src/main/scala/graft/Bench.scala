package graft

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line to stdout.
  *
  * Each query is fully materialized through a `noop` write (NOT `count()` —
  * count lets Catalyst prune projections/formatting work and would
  * under-report). One warm-up query runs first so JVM/codegen warm-up isn't
  * billed to the first measured query.
  *
  * Output discipline: the harness that runs this keeps only a bounded tail
  * of the process output, and sbt prints its own footer line after `main`
  * returns — so the LAST line we print must be a complete, parseable JSON
  * record that fits in that window even with the footer behind it. With 80+
  * registered queries the full per-query map is ~3 KB and cannot fit, so:
  *   1. the full-precision record is written to BENCH_FULL.json (repo root)
  *      and also printed early for anyone reading the whole log;
  *   2. the final stdout line is the same record with the `queries` map cut
  *      to the heaviest entries, sized well under the tail window.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(appName = "graft-bench")
    // fail loudly on corpus schema drift BEFORE timing anything
    Tables.schemaProbe(spark, sfDir)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    runOnce("q_envelope_parse") // warm-up (JVM + codegen + FS caches)

    // three runs per query: a back-to-back A,A pair — the second run rides
    // the just-warmed JIT/codegen/page-cache state (measured: separated
    // runs inflate the total 40%, 70.5s vs 50.3s at sf0.1), keeping mins
    // comparable to the historical anchors — PLUS one temporally-separated
    // pass C over all queries, so a correlated contention burst that
    // inflates a query's warm pair cannot also inflate its C sample
    // minutes later. min of 3. SPARK_GRAFT_PASSES=2 skips C (diagnostic).
    // Dev iteration: SPARK_GRAFT_ONLY=q_a,q_b limits the run to named
    // queries (the driver never sets either — full surface, 3 passes).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val thirdPass = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3") != "2"
    // Self-adjudicating contention: compare each query's min against the
    // COMMITTED idle reference (BENCH_IDLE_REF.tsv, written by the idle
    // gate run and committed with it) — the exact comparison the
    // adjudication previously burned an idle re-run to make (r6/r7/r9:
    // every >=2x driver mover was disproved by an idle re-run). A query
    // >1.5x AND >0.2s above its idle min in THIS run is listed as
    // contended: its min is a host-contention artifact, not a regression.
    // (Within-run warm-sample spread was tried first and over-flags: JIT
    // keeps improving across the whole run, so early-alphabet queries
    // show 2-3x pair-vs-C drift even on an idle machine.)
    // The reference is only meaningful at the SF and core count it was
    // measured at: an sf1 run compared against the sf0.1 idle reference
    // would flag nearly every query (r10's first BENCH_sf1 listed 99
    // "contended" queries that were just the sf0.1→sf1 scale-up), and a
    // 4-core run against a 32-core reference flags almost everything. The
    // TSV's `#sf <basename>` and `#cpus <n>` headers record both; unless
    // both match this run the check is skipped entirely (a TSV without
    // `#cpus` never applies).
    val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
    val cpus = spark.sparkContext.defaultParallelism
    val (refSf, refCpus, idleRef): (String, Option[String], Map[String, Double]) = {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_IDLE_REF", "BENCH_IDLE_REF.tsv"))
      if (java.nio.file.Files.isReadable(p)) {
        val lines = scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq
        val header = lines.filter(_.startsWith("#")).map(_.split("\t", 2))
          .collect { case Array(k, v) => k -> v.trim }.toMap
        (header.getOrElse("#sf", "sf0.1"), header.get("#cpus"),
          lines.flatMap { l => l.split("\t") match {
            case Array(n, v) if !n.startsWith("#") =>
              scala.util.Try(n -> v.toDouble).toOption
            case _ => None
          }}.toMap)
      } else ("none", None, Map.empty[String, Double])
    }
    val refMatches = refSf == sfBase && refCpus.contains(cpus.toString)
    if (refSf == sfBase && !refMatches)
      System.err.println(s"[bench] idle reference cpus=" +
        s"${refCpus.getOrElse("unrecorded")} vs this run's $cpus: " +
        "contended adjudication disabled")
    // Freshness guard (round 14): the committed idle reference only
    // adjudicates a run if it actually covers the current query registry.
    // A reference missing more than 25% of registered queries predates
    // the surface and would silently exempt every new query from the
    // contended check — refuse it (treat as not applicable) and say so;
    // smaller gaps are warned per-count and the affected queries simply
    // have no idle row (same as today). Procedure note in BASELINE.md.
    val refMissing =
      if (!refMatches) Seq.empty[String]
      else names.filterNot(idleRef.contains)
    val refStale = refMatches && names.nonEmpty &&
      refMissing.size * 4 > names.size
    if (refMissing.nonEmpty)
      System.err.println(s"[bench] idle reference $refSf lacks " +
        s"${refMissing.size}/${names.size} registered queries" +
        (if (refStale) " (>25% — STALE: contended adjudication disabled; " +
          "rebuild via >=3 idle JVM runs + scripts/merge_idle_ref.py)"
         else s": ${refMissing.take(8).mkString(", ")}"))
    val refApplies = refMatches && !refStale

    // Locale.ROOT: the default-locale f"" interpolator would print a comma
    // decimal separator on e.g. de_DE hosts and break the JSON contract
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // Artifact hygiene: subset runs (SPARK_GRAFT_ONLY) must not clobber
    // the committed full-surface artifact; idle gate runs override the
    // name explicitly so the driver's contended run and the committed
    // idle run stay distinct files.
    val outName = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_FULL.json")

    // ---- measurement loop (round 14: incremental + contention-aware) ----
    // The r13 driver run was timeout-killed (rc=124) with zero parseable
    // output even though all 177 queries had completed: the one summary
    // line printed at the END never ran. Two structural fixes:
    //   1. CHECKPOINT after every query — rewrite the artifact file AND
    //      print the current compact summary line (flagged "partial")
    //      so ANY truncated run still leaves a parseable record with
    //      per-query provenance in the harness's bounded output tail.
    //      The final, non-partial line still prints last and wins.
    //   2. SKIP the back-to-back repeat sample when the first sample is
    //      >5x the committed idle reference (and >10s): the pair min is
    //      already contention-contaminated, so a second 100+s sample has
    //      zero information value — it is what pushed the r13 run past
    //      the driver's window (q_triangles 144s + 243s). The temporally
    //      separated pass C still runs: minutes later it is the sample
    //      that can actually rescue the min.
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()

    def currentResults: Seq[(String, Double)] =
      samples.toSeq.map { case (n, ss) =>
        val ok = ss.filter(_ >= 0)
        n -> (if (ok.isEmpty) -1.0 else ok.min) // -1 only if ALL runs failed
      }
    def record(qs: Seq[(String, Double)], total: Double, nDone: Int,
        finalRec: Boolean, extra: String = ""): String = {
      val m = qs.map { case (k, v) => s""""$k":${d3(v)}""" }.mkString("{", ",", "}")
      val contended = if (!refApplies) Seq.empty[String]
        else qs.collect { case (n, v)
          if idleRef.get(n).exists(i => v > i * 1.5 && v - i > 0.2) => n }
      val contendedJson = contended.map(n => s""""$n"""").mkString("[", ",", "]")
      val partial = if (!finalRec) s""","partial":true,"n_done":$nDone""" else ""
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","n_queries":${names.size},"queries":$m,"contended":$contendedJson,"contended_ref":"${if (refApplies) refSf else "none"}"$partial$extra,"sf":"$sfDir","cpus":$cpus}"""
    }
    def checkpoint(done: Int, finalRec: Boolean = false): Unit = {
      val rs = currentResults
      val total = rs.map(_._2).sum
      val sampleMap = samples.map { case (n, ss) =>
        s""""$n":${ss.map(d3).mkString("[", ",", "]")}""" }.mkString("{", ",", "}")
      val skippedJson = skipped.map(n => s""""$n"""").mkString("[", ",", "]")
      val full = record(rs, total, done, finalRec,
        extra = s""","samples":$sampleMap,"skipped_repeat":$skippedJson""")
      try java.nio.file.Files.write(java.nio.file.Paths.get(outName),
        (full + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outName: ${e.getMessage}")
      }
      // BENCH_IDLE_REF.tsv is deliberately NOT written here: a single
      // run's in-JVM min is not the committed idle reference (the r12
      // defect — one contended run became the standing budget). The only
      // writer is scripts/merge_idle_ref.py, fed >= 3 separate-JVM runs.
      val heaviest = rs.sortBy { case (_, v) => -v }.take(20)
      println(record(heaviest, total, done, finalRec,
        extra = s""","queries_full":"$outName""""))
    }

    // pass A,A (with the contamination skip), checkpointing per query
    for ((n, i) <- names.zipWithIndex) {
      val t1 = runOnce(n)
      val contaminated = refApplies && t1 > 10.0 &&
        idleRef.get(n).exists(idle => t1 > idle * 5)
      if (contaminated) {
        skipped += n
        System.err.println(s"[bench] $n first sample ${d3(t1)}s > 5x idle " +
          s"${d3(idleRef(n))}s — skipping repeat (pass C still runs)")
        samples(n) = Vector(t1)
      } else samples(n) = Vector(t1, runOnce(n))
      checkpoint(i + 1)
    }
    // temporally-separated pass C over all queries
    if (thirdPass) for (n <- names) {
      samples(n) = samples(n) :+ runOnce(n)
      checkpoint(names.size)
    }

    // final line: heaviest queries only, capped so the line stays < ~1200
    // chars — complete per-query detail (incl. raw samples) is in the
    // file / the full partial lines above. checkpoint() prints it.
    checkpoint(names.size, finalRec = true)
    spark.stop()
  }
}
