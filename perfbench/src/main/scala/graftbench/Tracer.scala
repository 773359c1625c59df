package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Ids are strings that name their layer: `w`
  * (workload), `q:<query>` (one query execution), `p:<pipeline>`
  * (one streaming query), `b:<query id>:<batch>` (one micro-batch) and
  * `j:<job>` (one Spark job). `parent` is the id of the span that caused
  * it. */
final case class Span(id: String, parent: String, name: String,
    startMs: Long, endMs: Long, attrs: Map[String, Double])

/** Task-level work summed over the jobs of one span. */
final class Work {
  var jobs, stages, tasks, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
  }

  def metrics: Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.executor_run_s" -> runMs / 1e3, "spark.gc_s" -> gcMs / 1e3,
    "spark.shuffle_write_mb" -> shuffleWrite / 1e6,
    "spark.shuffle_read_mb" -> shuffleRead / 1e6,
    "spark.spill_mb" -> spill / 1e6, "spark.input_mb" -> input / 1e6)
}

/** Executed-plan shape of one SQL execution. */
final case class PlanShape(exchanges: Int, reused: Int, broadcasts: Int,
    smj: Int, inMemory: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges,
    reused + o.reused, broadcasts + o.broadcasts, smj + o.smj,
    inMemory + o.inMemory)

  def metrics: Map[String, Double] = {
    val refs = exchanges + reused + broadcasts
    Map("plan.exchanges" -> exchanges.toDouble,
      "plan.reused_exchanges" -> reused.toDouble,
      "plan.broadcasts" -> broadcasts.toDouble, "plan.smj" -> smj.toDouble,
      "plan.inmemory_relations" -> inMemory.toDouble,
      "plan.exchange_reuse_ratio" -> (if (refs == 0) 0.0 else reused.toDouble / refs))
  }
}

object PlanShape {
  val empty = PlanShape(0, 0, 0, 0, 0)

  /** Walks a plan as Spark's SQL listener events describe it (final
    * plan after adaptive re-planning; query stages and subqueries are
    * children). A reused exchange counts once as reused, and neither it
    * nor a cached relation's scan is walked into: their plans ran
    * elsewhere. */
  def of(plan: SparkPlanInfo): PlanShape = {
    val n = plan.nodeName
    val here =
      if (n.startsWith("ReusedExchange")) PlanShape(0, 1, 0, 0, 0)
      else if (n.startsWith("BroadcastExchange")) PlanShape(0, 0, 1, 0, 0)
      else if (n.startsWith("Exchange")) PlanShape(1, 0, 0, 0, 0)
      else if (n.startsWith("SortMergeJoin")) PlanShape(0, 0, 0, 1, 0)
      else if (n.startsWith("InMemoryTableScan")) PlanShape(0, 0, 0, 0, 1)
      else empty
    if (n.startsWith("ReusedExchange") || n.startsWith("InMemoryTableScan")) here
    else plan.children.map(of).foldLeft(here)(_ + _)
  }
}

/** The traced run's recorder. It attaches Spark's public listeners —
  * `SparkListener` for jobs, stages, tasks and executed plans (the SQL
  * execution events, which carry the execution id that ties a plan to
  * the query that ran it; a `QueryExecutionListener` callback carries no
  * such id), `StreamingQueryListener` for micro-batches — and
  * keeps every span in memory until [[write]]. The benchmark thread tags
  * the jobs it causes with the local property [[SpanKey]]; streaming jobs
  * are tied to their micro-batch through the query and batch ids Spark
  * stamps on them. */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanKey

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stageSpan = TrieMap.empty[Int, String]
  private val execSpan = TrieMap.empty[Long, String]
  private val jobStart = TrieMap.empty[Int, (String, Long)]
  private val work = TrieMap.empty[String, Work]
  private val plans = TrieMap.empty[Long, SparkPlanInfo]

  def add(s: Span): Unit = spans.add(s)

  private def workOf(span: String): Work = work.getOrElseUpdate(span, new Work)

  private def spanOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty(SpanKey)).orElse(
        for {
          q <- Option(p.getProperty("sql.streaming.queryId"))
          b <- Option(p.getProperty("streaming.sql.batchId"))
        } yield s"b:$q:$b")
    }

  private val sparkListener = new SparkListener {
    // the executed plan of each SQL execution: the plan at start, then
    // each adaptive re-plan; the last one is the final plan
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans(u.executionId) = u.sparkPlanInfo
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { span =>
        jobStart(e.jobId) = span -> e.time
        workOf(span).synchronized { workOf(span).jobs += 1 }
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(id => execSpan(id.toLong) = span)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (span, t0) =>
        add(Span(s"j:${e.jobId}", span, "job", t0, e.time, Map.empty))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { span =>
        stageSpan(e.stageInfo.stageId) = span
        workOf(span).synchronized { workOf(span).stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = workOf(span)
        w.synchronized {
          w.tasks += 1
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.diskBytesSpilled
          w.input += m.inputMetrics.bytesRead
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = p.durationMs.asScala.map { case (k, v) => s"ms.$k" -> v.doubleValue }
      add(Span(s"b:${p.id}:${p.batchId}", s"p:${p.name}", "micro-batch", t0,
        t0 + p.durationMs.getOrDefault("triggerExecution", 0L),
        dur.toMap + ("rows_in" -> p.numInputRows.toDouble)))
    }
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Runs `body` with its jobs attributed to span `id`. */
  def within[A](id: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, id)
    try body finally sc.setLocalProperty(SpanKey, null)
  }

  /** Waits for the listener bus so every event up to now is recorded. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  /** Summed task work of the spans whose id satisfies `p`. */
  def workFor(p: String => Boolean): Work = {
    val total = new Work
    work.foreach { case (span, w) => if (p(span)) w.synchronized(total.add(w)) }
    total
  }

  /** Summed plan shape of the SQL executions that ran under the spans
    * whose id satisfies `p`. */
  def planFor(p: String => Boolean): PlanShape =
    plansBySpan.collect { case (span, shape) if p(span) => shape }
      .foldLeft(PlanShape.empty)(_ + _)

  private def plansBySpan: Map[String, PlanShape] =
    plans.toSeq.flatMap { case (exec, plan) =>
      execSpan.get(exec).map(_ -> PlanShape.of(plan)) }
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** Per-span task work and plan shape are folded into the span records;
    * one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val planBySpan = plansBySpan
    val lines = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id)).map { s =>
      val extra = work.get(s.id).map(_.metrics).getOrElse(Map.empty) ++
        planBySpan.get(s.id).map(_.metrics).getOrElse(Map.empty)
      Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString,
        "attrs" -> Json.nums(s.attrs ++ extra)))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Minimal JSON writing for flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
