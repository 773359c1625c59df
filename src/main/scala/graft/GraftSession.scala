package graft

import org.apache.spark.sql.SparkSession

import graft.io.{NioLocalFileSystem, NioLocalFs}
import graft.plans.BoundedTopKStrategy

/** Library entry point: a SparkSession tuned for this engine.
  *
  * Sets the confs every graft workload needs — UTC (oracle parity), AQE
  * (runtime coalescing + skew-join splitting), nanos-as-long parquet reads
  * (the corpus's TIMESTAMP(NANOS) columns), the two partition widths
  * below, a generated-code cache that holds the streaming working set, a
  * local file system that does not fork processes — and registers the
  * custom function surface. On a real cluster
  * pass the same settings via spark-submit and
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  * `spark.sql.codegen.cache.maxEntries` is a static conf: Spark reads it
  * once per JVM, so it must be passed at submit time (`--conf`), not set
  * on a running session. The same holds for [[LocalFileSystemConfs]].
  *
  * Two partition widths, set from the core count:
  *  - Batch shuffles start at `cores * 8` partitions
  *    (`spark.sql.adaptive.coalescePartitions.initialPartitionNum`) and
  *    AQE coalesces them down per stage. With AQE coalescing on, Spark
  *    sizes batch shuffles from that conf, not `spark.sql.shuffle.partitions`.
  *    One batch planner rule still reads the latter: `EnsureRequirements`
  *    keeps a child's existing partitioning only if it has at least that
  *    many partitions. A full `graft.Bench` at sf0.01 plans the same
  *    shuffles, broadcasts and joins for all 178 queries at 4 and at 32
  *    cores with the state width as with `cores`.
  *  - Streaming state is `spark.sql.shuffle.partitions` =
  *    [[statePartitions]]`(cores)` partitions per stateful query. Streaming
  *    runs without AQE, and Spark records this width in each checkpoint's
  *    offset log and restores it on restart, so a checkpoint keeps the width
  *    it was started with whatever the session says later.
  */
object GraftSession {

  /** State-holding queries `GraftApp.start` launches: velocity fraud,
    * balance reconciliation, dormancy, daily spend, rolling spend, TWAB,
    * the two KTables (each table is its query's state), funnel and the
    * 3-step pattern (`GraftAppSpec` counts them from their progress
    * reports). */
  val StatefulQueries = 10

  /** State partitions per stateful streaming query, sized so that all of
    * `GraftApp`'s stateful queries together run about one state task per
    * core per trigger: 1 at 4 cores, 3 at 32, 20 at the cluster default
    * of 200. Each state task pays fixed costs that do not shrink with its
    * rows: a state-store load, a delta-file commit, and the file sink's
    * Hadoop-conf deserialization. At `cores` partitions per query the six
    * stateful pipelines of perfbench's `stream_stateful_replay` ran 24
    * state tasks per trigger round on 4 cores. At 1 partition a traced
    * run made 64 Spark tasks instead of 166, state commits took 2.9 s
    * instead of 16.0 s and executor run time was 22 s instead of 57 s.
    * The median micro-batch latency fell 23% (1932 → 1484 ms, 10
    * interleaved pairs on 4 vCPUs). */
  def statePartitions(cores: Int): Int = math.max(1, cores / StatefulQueries)

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The six stateful
    * pipelines of perfbench's `stream_stateful_replay` compile about 113
    * classes in their first round of triggers. The default cache, split
    * by Guava into 4 LRU segments of ~25, evicted each class before its
    * next use, so every micro-batch recompiled: 344-406 Janino compiles
    * per run (JFR: Janino in 10.5% of the JVM's CPU samples). At 200,
    * 1000 and 2000 entries a run makes 158 (6.6% of samples); what
    * remains after the first round is Spark's watermark predicates, which
    * inline the current watermark as a literal. 1000 leaves headroom for
    * `GraftApp`'s 12 queries. */
  val CodegenCacheEntries = 1000

  /** Hadoop's `file:` scheme, in both of its APIs, resolved to
    * [[graft.io.NioRawLocalFileSystem]] under the stock checksum layers:
    * `FileSystem` (the file sink, batch writes) and `FileContext` (Spark's
    * default streaming checkpoint manager: offsets, commits, source and
    * sink logs, state deltas). Without the native Hadoop library (the
    * `NativeCodeLoader` warning at start-up) stock Hadoop forks `chmod` for
    * every local file it creates and `readlink` four times per rename, at
    * 2.8–4.2 ms a process where the `java.nio` call takes 0.01–0.04 ms. On
    * 4 vCPUs one run of perfbench's `stream_stateful_replay` forked 2,322
    * such processes under its checkpoints and one `batch_modules` pass
    * 206; with these classes they fork none. A traced replay run spent
    * 0.5 s instead of 5.6 s in offset-log writes and 0.5 s instead of
    * 4.9 s in state commits; over 10 interleaved pairs its `pass_s` fell
    * 18% and its median micro-batch latency 17%. File names, `.crc` side
    * files and the checkpoint manager are the stock ones, so existing
    * checkpoints restore as before; other schemes (HDFS, S3) are not
    * touched. Hadoop caches the `file:` `FileSystem` once per JVM, so the
    * settings must be in the conf the SparkContext starts with. */
  val LocalFileSystemConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  def create(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      appName: String = "graft"): SparkSession = {
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
      .config("spark.sql.shuffle.partitions", statePartitions(cores).toString)
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
        (cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config(LocalFileSystemConfs)
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
