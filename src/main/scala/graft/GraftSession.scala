package graft

import org.apache.spark.sql.SparkSession

import graft.plans.BoundedTopKStrategy

/** Library entry point: a SparkSession tuned for this engine.
  *
  * Sets the confs every graft workload needs — UTC (oracle parity), AQE
  * (runtime coalescing + skew-join splitting), nanos-as-long parquet reads
  * (the corpus's TIMESTAMP(NANOS) columns), right-sized shuffle
  * parallelism — and registers the custom function surface. On a real
  * cluster pass the same settings via spark-submit and
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftSession {

  def create(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      appName: String = "graft",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val cores = master match {
      case s if s.startsWith("local[") && s.endsWith("]") =>
        s.stripPrefix("local[").stripSuffix("]") match {
          case "*" => Runtime.getRuntime.availableProcessors()
          case n => n.toInt
        }
      case _ => 200
    }
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE picks the ACTUAL post-shuffle partition count by coalescing
      // down from this ceiling, so large shuffles aren't forced into
      // cores-many oversized sort/spill tasks while small ones still
      // coalesce to a handful (50M-row label-propagation probe: 260.2 s
      // with the ceiling at `cores` — 4.2x the 25M time, spill-bound —
      // vs 180.3 s with 8x headroom, back to ~3x for 2x rows-with-joins).
      // On a cluster this is the standard "thousands of initial
      // partitions, AQE right-sizes" posture.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          (cores * 8).toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
  }

  /** Register the custom function surface and the planner strategy
    * (rank-filter windows -> bounded-heap top-k) on an existing session.
    * The strategy is prepended only if absent, so strategies a host
    * application installed survive and repeated calls add nothing.
    * Cluster-wide alternative:
    * `spark.sql.extensions=graft.functions.GraftExtensions`. */
  def install(spark: SparkSession): SparkSession = {
    graft.functions.GraftFunctions.register(spark)
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(BoundedTopKStrategy))
      ex.extraStrategies = BoundedTopKStrategy +: ex.extraStrategies
    spark
  }
}
