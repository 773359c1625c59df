package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}

/** The JVM half of the benchmark (`perfbench/run.py` is the other half:
  * it builds, generates inputs, checks batch outputs against the DuckDB
  * oracles and prints the result line).
  *
  * Usage: `graftbench.Main <workload> <dataDir> <workDir> <trace 0|1>`
  *
  * The program is driven only through its public entry points:
  * `GraftSession.create`, `SparkEntry.queries`, `Tables.schemaProbe`,
  * `GraftApp.start`, `Pipelines.*` and `Sources.sink`. The run writes
  * `result.json` (and with tracing `spans.jsonl`) into `workDir`.
  */
object Main {

  /** Whole seconds since JVM start are the set-up clock: set-up is
    * everything from process start to the first timed call. */
  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, traceArg) = args
    val spark = GraftSession.create(appName = s"perfbench-$workload")
    val tracer = if (traceArg == "1") Some(new Tracer(spark).attach()) else None
    val res = try {
      val run = workload match {
        case "batch_modules" =>
          BatchWorkload.run(spark, workload, dataDir, workDir, tracer,
            setup = () => {
              SparkEntry.queries
              Tables.schemaProbe(spark, dataDir)
              BatchWorkload.noop(SparkEntry.queries("q_envelope_parse")(spark, dataDir))
              sinceJvmStart()
            })
        case "stream_stateful_replay" | "stream_app_backlog" =>
          StreamWorkload.run(spark, workload, dataDir, workDir, tracer,
            setup = () => {
              // the stream inputs are not a full corpus, so there is no
              // schema probe; the warm-up query reads the batch twin's
              // events
              val twin = StreamWorkload.twinDir(workload, dataDir)
              BatchWorkload.noop(SparkEntry.queries("q_envelope_parse")(spark, twin))
              sinceJvmStart()
            })
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.foreach { t =>
        t.drain()
        t.write(Paths.get(workDir, "spans.jsonl"))
      }
      run
    } finally spark.stop()
    Files.write(Paths.get(workDir, "result.json"), res.json(spark = sparkVersion).getBytes("UTF-8"))
  }

  private lazy val sparkVersion = org.apache.spark.SPARK_VERSION
}

/** What one run measured. `endToEnd` holds the untraced user-facing
  * metrics (also measured in a traced run, where they show the tracing
  * overhead); `layers` the per-layer ones. */
final case class RunResult(setupS: Double, endToEnd: Map[String, Double],
    layers: Map[String, Double], attempted: Long, failed: Long,
    queryS: Seq[(String, Double)], notes: Seq[String]) {

  def json(spark: String): String = {
    val rt = Runtime.getRuntime
    val host = Json.obj(Seq(
      "nproc" -> rt.availableProcessors.toString,
      "spark_graft_cpus" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
      "driver_heap_mb" -> (rt.maxMemory / (1 << 20)).toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.version")),
      "spark" -> Json.str(spark)))
    Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "end_to_end" -> Json.nums(endToEnd),
      "layers" -> Json.nums(layers),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "query_s" -> queryS.map { case (q, t) => s"[${Json.str(q)}, ${Json.num(t)}]" }
        .mkString("[", ", ", "]"),
      "notes" -> notes.map(Json.str).mkString("[", ", ", "]"),
      "host" -> host))
  }
}

object Stats {
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** A failed operation is counted and its message kept for the notes. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val notes = ArrayBuffer.empty[String]

  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body) catch {
      case e: Throwable =>
        failed += 1
        notes += s"$what failed: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  def check(what: String)(ok: => Boolean): Unit =
    attempt(what)(ok) match {
      case Some(false) =>
        failed += 1
        notes += s"$what: output differs from its batch twin"
      case _ =>
    }
}

object Session {
  def cachedPlans(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }
}
