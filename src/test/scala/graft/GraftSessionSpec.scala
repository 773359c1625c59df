package graft

import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

import graft.io.{NioLocalFileSystem, NioLocalFs}
import graft.plans.BoundedTopKStrategy

class GraftSessionSpec extends SparkSpecBase {

  /** Stands in for a strategy a host application installed. */
  private object HostStrategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
  }

  test("install keeps host strategies and adds BoundedTopKStrategy once") {
    val prev = spark.experimental.extraStrategies
    try {
      spark.experimental.extraStrategies = Seq(HostStrategy)
      GraftSession.install(spark)
      GraftSession.install(spark)
      val got = spark.experimental.extraStrategies
      assert(got.contains(HostStrategy))
      assert(got.count(_ == BoundedTopKStrategy) === 1)
    } finally spark.experimental.extraStrategies = prev
  }

  test("statePartitions gives the stateful queries about one state task per core") {
    assert(Seq(1, 4, 32, 200).map(GraftSession.statePartitions) === Seq(1, 1, 3, 20))
  }

  test("file: resolves to the fork-free local file system in both Hadoop APIs") {
    assert(FileSystemWiring.resolved(spark) === FileSystemWiring.Expected)
    // GraftSession.create's own SparkContext needs a JVM of its own: in this
    // one getOrCreate would hand back the test session
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens")).toSeq
    val out = Files.createTempFile("graft_fs_wiring", ".out").toFile
    val err = Files.createTempFile("graft_fs_wiring", ".log").toFile
    val proc = new ProcessBuilder((java +: jvmArgs) ++ Seq("-Xmx1g",
        "-cp", sys.props("java.class.path"), FileSystemWiring.getClass.getName.stripSuffix("$")): _*)
      .redirectOutput(out).redirectError(err).start()
    val exited = try proc.waitFor(120, TimeUnit.SECONDS) finally proc.destroyForcibly()
    assert(exited && proc.exitValue == 0, s"see $err")
    assert(Files.readAllLines(out.toPath).asScala.lastOption ===
      Some(FileSystemWiring.Expected.mkString(" ")))
  }
}

/** What a session's Hadoop conf resolves `file:///` to, in the `FileSystem`
  * and the `FileContext` API. */
object FileSystemWiring {
  val Expected = Seq(classOf[NioLocalFileSystem].getName, classOf[NioLocalFs].getName)

  def resolved(spark: SparkSession): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val uri = URI.create("file:///")
    Seq(FileSystem.get(uri, conf).getClass.getName,
      FileContext.getFileContext(uri, conf).getDefaultFileSystem.getClass.getName)
  }

  /** Prints what `GraftSession.create`'s session resolves. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create("local[1]", "graft-fs-wiring")
    try println(resolved(spark).mkString(" ")) finally spark.stop()
  }
}
