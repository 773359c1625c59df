package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkSpecBase, Tables}
import graft.cdc.{DimensionCdc, Wire}
import graft.ops.LatestByKey

/** The KTables live in their queries' state stores: a [[Pipelines.ktableQuery]]
  * maintains one and [[Pipelines.ktableSnapshot]] reads its last committed
  * batch through Spark's state data source. The KTable streams themselves
  * must converge to the batch KTables. */
class KTableSpec extends SparkSpecBase {

  import spark.implicits._

  /** A small KTable over a monitored directory of changelog files
    * `(account_id, account_number, op, ts)`, the same `max_by` shape as
    * [[Pipelines.ktableStream]]. */
  private def changelogTable(dir: String): DataFrame =
    LatestByKey.latestByMaxBy(
      spark.readStream
        .schema("account_id BIGINT, account_number STRING, op STRING, ts BIGINT")
        .parquet(dir),
      Seq("account_id"), struct(col("ts")))

  private def writeFile(dir: String, rows: Seq[(Long, String, String, Long)],
      f: String): Unit = {
    val staging = Files.createTempDirectory("graft_ktable_st").toString
    rows.toDF("account_id", "account_number", "op", "ts")
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$dir/$f.parquet"))
  }

  private def run(dir: String, ckpt: String): Unit = {
    val q = Pipelines.ktableQuery(changelogTable(dir), ckpt)
    q.processAllAvailable(); q.stop()
  }

  private def snapshot(ckpt: String): Set[(Long, String)] =
    Pipelines.ktableSnapshot(spark, ckpt, "account_id BIGINT, account_number STRING")
      .as[(Long, String)].collect().toSet

  test("the snapshot equals the batch accounts and customers KTables on sf0.001, " +
      "tombstoned keys absent") {
    val base = Files.createTempDirectory("graft_ktable_sf").toString
    val customer = Tables.customer(spark, sf0001)
    Seq(DimensionCdc.Accounts, DimensionCdc.Customers).map(t =>
      (t.key, Pipelines.ktableStream(spark, t, sf0001),
        t.dim(customer, Wire.Json), t.changelog(customer, Wire.Json))
    ).foreach { case (key, stream, batchDim, changelog) =>
      val ckpt = s"$base/$key"
      val q = Pipelines.ktableQuery(stream, ckpt)
      q.processAllAvailable(); q.stop()

      val got = Pipelines.ktableSnapshot(spark, ckpt, batchDim.schema.toDDL)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        batchDim.schema.map(f => f.name -> f.dataType), key)
      assert(got.collect().toSet === batchDim.collect().toSet, key)
      val tombstoned = changelog.filter(col("op") === "d").select(key)
        .as[Long].collect().toSet
      assert(tombstoned.nonEmpty, key)
      assert(got.select(key).as[Long].collect().toSet.intersect(tombstoned).isEmpty,
        key)
    }
  }

  test("streaming accounts KTable (complete snapshot) == batch accountsDim") {
    val stream = Pipelines.ktableStream(spark, DimensionCdc.Accounts, sf0001)
    val q = stream.writeStream.format("memory").queryName("acct_ktable")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    // apply tombstones to the snapshot the way an upsert sink would
    val got = spark.table("acct_ktable")
      .filter(col("op") =!= "d").drop("op").collect().toSet
    val want = DimensionCdc.Accounts.dim(Tables.customer(spark, sf0001), Wire.Json)
      .collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("a second trigger's update and tombstone show up in the next read") {
    val dir = Files.createTempDirectory("graft_ktable_in").toString
    val ckpt = Files.createTempDirectory("graft_ktable_ck").toString
    writeFile(dir, Seq((1L, "A1", "c", 10L), (2L, "B1", "c", 10L),
      (1L, "A2", "u", 11L)), "f1")
    val q = Pipelines.ktableQuery(changelogTable(dir), ckpt)
    try {
      q.processAllAvailable()
      assert(snapshot(ckpt) === Set((1L, "A2"), (2L, "B1")))
      // key 2 deleted, key 1 updated, and a stale key-1 version that loses
      writeFile(dir, Seq((2L, "B1", "d", 12L), (1L, "A3", "u", 13L),
        (1L, "A0", "u", 5L)), "f2")
      q.processAllAvailable()
      assert(snapshot(ckpt) === Set((1L, "A3")))
    } finally q.stop()
  }

  test("the read is empty before the first commit") {
    val dir = Files.createTempDirectory("graft_ktable_none").toString
    val ckpt = s"$dir/ckpt"
    assert(snapshot(ckpt).isEmpty) // no checkpoint at all
    Files.createDirectories(Paths.get(s"$dir/in"))
    val q = Pipelines.ktableQuery(changelogTable(s"$dir/in"), ckpt)
    try {
      q.processAllAvailable() // no file: no batch runs, nothing commits
      val empty = Pipelines.ktableSnapshot(spark, ckpt,
        "account_id BIGINT, account_number STRING")
      assert(empty.schema ===
        StructType.fromDDL("account_id BIGINT, account_number STRING"))
      assert(empty.isEmpty)
    } finally q.stop()
  }

  test("after a restart on the same checkpoint with a new file, the read " +
      "reflects that file") {
    val dir = Files.createTempDirectory("graft_ktable_rs").toString
    val ckpt = Files.createTempDirectory("graft_ktable_rsck").toString
    writeFile(dir, Seq((1L, "A1", "c", 10L), (2L, "B1", "c", 10L),
      (3L, "C1", "c", 10L)), "f1")
    run(dir, ckpt)
    assert(snapshot(ckpt) === Set((1L, "A1"), (2L, "B1"), (3L, "C1")))
    // the restored state still holds key 1's version 10: an older row loses
    writeFile(dir, Seq((2L, "B2", "u", 11L), (3L, "C1", "d", 11L),
      (1L, "A0", "u", 9L), (4L, "D1", "c", 11L)), "f2")
    run(dir, ckpt)
    assert(snapshot(ckpt) === Set((1L, "A1"), (2L, "B2"), (4L, "D1")))
  }
}
