package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench's per-query profiler and plan audit, called as plain functions:
  * the plan walk counts nodes (not explain text) across adaptive plans
  * and subqueries, the SMJ allowlist flags only unexpected joins, and
  * each timed sample carries only its own task work and compiles. */
class BenchSpec extends SparkSpecBase {

  private def shape(df: DataFrame): Bench.PlanShape =
    Bench.planShape(df.queryExecution.executedPlan)

  /** Runs `body` with the given session confs, restoring them after. */
  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def left = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
  private def right = spark.range(100).select((col("id") % 7).as("k"), col("id").as("v"))

  test("broadcast disabled plans one SMJ, a crossJoin one cartesian product") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val smj = shape(left.join(right, "k"))
      assert(smj.smj === 1 && smj.broadcasts === 0 && smj.cartesian === 0)
      assert(smj.exchanges === 2) // one hash shuffle per join side
      val cross = shape(left.crossJoin(right))
      assert(cross.cartesian === 1 && cross.smj === 0)
    }
  }

  test("a broadcast() hint counts as one broadcast") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val s = shape(left.join(broadcast(right), "k"))
      assert(s.broadcasts === 1 && s.smj === 0 && s.exchanges === 0)
    }
  }

  test("a scalar subquery's exchanges are counted") {
    val main = left.select(col("id"))
    val sub = left.groupBy("k").count().agg(max("count"))
    assert(shape(main).exchanges === 0)
    assert(shape(sub).exchanges === 2) // hash by k, then the global max
    val withSub = main.select(col("id"), sub.scalar().as("max_count"))
    assert(shape(withSub).exchanges === 2)
  }

  test("allowlist: an unlisted SMJ is flagged, an allowlisted count is not") {
    val oneSmj = Bench.PlanShape(exchanges = 2, broadcasts = 0,
      pushedScans = 0, smj = 1, cartesian = 0, inMemory = 0)
    assert(Bench.planFlags("q_unlisted", oneSmj).nonEmpty)
    assert(Bench.planFlags("q_interval_join", oneSmj).isEmpty)
    assert(Bench.planFlags("q_interval_join", oneSmj.copy(smj = 2)).nonEmpty)
    assert(Bench.planFlags("q_interval_join", oneSmj.copy(cartesian = 1)).nonEmpty)
    assert(Bench.planFlags("q_unlisted", oneSmj.copy(smj = 0)).isEmpty)
  }

  test("a plan function that leaves a cached plan behind is flagged") {
    val clean = Bench.PlanShape(exchanges = 0, broadcasts = 0,
      pushedScans = 0, smj = 0, cartesian = 0, inMemory = 0)
    val (_, none) = Bench.leftCached(spark)(spark.range(10).toDF())
    assert(none.isEmpty)
    val df = spark.range(7919).select((col("id") * 3).as("x"))
    val (_, left) = Bench.leftCached(spark)(df.persist())
    try {
      assert(left.size === 1)
      assert(Bench.planFlags("q_leaky", clean, leftCached = left.size) ===
        Seq("q_leaky: cached plan left behind x1"))
      assert(Bench.planFlags("q_leaky", clean).isEmpty)
    } finally df.unpersist()
    assert(!Bench.cachedPlans(spark).exists(p => left.exists(_ eq p)))
  }

  test("a sample counts the classes it compiles; a warm repeat compiles none") {
    val sc = spark.sparkContext
    val work = new Bench.TaskWork
    sc.addSparkListener(work)
    try {
      // literals no other test uses: generated code inlines them, so the
      // first run cannot hit the codegen cache
      val df = spark.range(1000).select((col("id") * 7919L + 104729L).as("x"))
        .filter(col("x") % 7121L =!= 4099L)
      def noop(): Unit = df.write.format("noop").mode("overwrite").save()
      val (_, _, first) = Bench.sample(sc, work)(noop())
      val (_, _, second) = Bench.sample(sc, work)(noop())
      assert(first.toMap.apply("codegen.compiles") >= 1.0)
      assert(second.toMap.apply("codegen.compiles") === 0.0)
    } finally sc.removeSparkListener(work)
  }

  test("back-to-back samples each report only their own shuffle bytes") {
    val sc = spark.sparkContext
    val work = new Bench.TaskWork
    // a slow listener on the same queue holds task events back after
    // each action returns, so a sample read before the bus drains misses
    // its own work and a later sample would receive it
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Thread.sleep(200)
    }
    sc.addSparkListener(slow)
    sc.addSparkListener(work)
    try {
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val shuffled = spark.range(0, 200000, 1, 4)
        .groupBy((col("id") % 1000).as("k")).count()
      val (_, _, a) = Bench.sample(sc, work)(noop(shuffled))
      val (_, _, b) = Bench.sample(sc, work)(noop(spark.range(10).toDF()))
      val (_, _, c) = Bench.sample(sc, work)(noop(shuffled))
      def m(ms: Seq[(String, Double)], k: String) = ms.toMap.apply(k)
      assert(m(a, "spark.shuffle_write_mb") > 0)
      // complete: the reduce side read every byte the map side wrote
      assert(m(a, "spark.shuffle_read_mb") === m(a, "spark.shuffle_write_mb"))
      assert(m(b, "spark.shuffle_write_mb") === 0.0)
      assert(m(b, "spark.shuffle_read_mb") === 0.0)
      assert(m(c, "spark.shuffle_write_mb") === m(a, "spark.shuffle_write_mb"))
      assert(m(b, "spark.jobs") === 1.0 && m(b, "spark.stages") === 1.0)
    } finally { sc.removeSparkListener(work); sc.removeSparkListener(slow) }
  }
}
