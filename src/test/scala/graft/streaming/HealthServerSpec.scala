package graft.streaming

import java.net.{HttpURLConnection, URL}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase

/** The ops sidecar must report the reference's three probes
  * (health/HealthServer.java:40-52) against live Structured Streaming
  * state: readiness flips once queries commit progress, metrics carry the
  * per-query progress JSON, and a dead query flips liveness to 503. */
class HealthServerSpec extends SparkSpecBase {

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = scala.io.Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (code, body)
  }

  /** Parses a body as JSON, failing the test if it is not valid JSON. */
  private def json(body: String): JsonNode = new ObjectMapper().readTree(body)

  test("probes track query lifecycle: not-ready -> ready -> failed") {
    val health = new HealthServer(spark, port = 0).start()
    try {
      val port = health.boundPort

      // before any query: live but not ready (no topology yet)
      val (h0, b0) = get(port, "/health")
      assert(h0 === 200 && b0.contains("\"probe\":\"liveness\""), b0)
      val (r0, b1) = get(port, "/ready")
      assert(r0 === 503 && b1.contains("\"probe\":\"readiness\""), b1)

      // a healthy query commits progress -> ready flips to 200; its name
      // carries a tab, which /metrics must escape to stay valid JSON
      val name = "health\tprobe_q"
      val q = Pipelines.parsedStream(spark, sf0001)
        .writeStream.format("noop").queryName(name).start()
      q.processAllAvailable()
      // processAllAvailable returns when data is processed, but the
      // progress EVENT reaches the server's listener over the async
      // listener bus — under full-suite load the first /metrics read can
      // land before it; poll the endpoint, not the query
      def metricsNow(): (Int, String) = get(port, "/metrics")
      var (m0, metrics) = metricsNow()
      var tries = 0
      while (!metrics.contains("\"batchId\"") && tries < 100) {
        Thread.sleep(100); tries += 1
        val r = metricsNow(); m0 = r._1; metrics = r._2
      }
      val (r1, _) = get(port, "/ready")
      assert(r1 === 200)
      assert(m0 === 200)
      val progress = json(metrics).path("queries").path(name).path("lastProgress")
      assert(progress.has("batchId"), metrics.take(500)) // real progress JSON
      q.stop()

      // graceful stop is not a failure
      val (h1, _) = get(port, "/health")
      assert(h1 === 200)

      // a query dying with an exception flips liveness to 503
      val bad = Pipelines.parsedStream(spark, sf0001)
        .writeStream.queryName("health_bad_q")
        .foreachBatch { (_: DataFrame, _: Long) =>
          throw new RuntimeException("planted failure")
        }
        .start()
      intercept[Exception] { bad.processAllAvailable() }
      // the terminated-with-exception event is delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (get(port, "/health")._1 == 200 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val (h2, body2) = get(port, "/health")
      assert(h2 === 503, body2)
      val (_, metrics2) = get(port, "/metrics")
      assert(json(metrics2).path("queries").path("health_bad_q").path("state")
        .has("failed"), metrics2.take(500))
    } finally health.stop()
  }

  test("stop() leaves no non-daemon thread behind, so the JVM can exit") {
    def nonDaemon(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    val before = nonDaemon()
    val health = new HealthServer(spark, port = 0).start()
    try assert(get(health.boundPort, "/health")._1 === 200)
    finally health.stop()
    // the server's threads wind down asynchronously after stop()
    val deadline = System.currentTimeMillis() + 10000
    var left = nonDaemon() -- before
    while (left.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); left = nonDaemon() -- before
    }
    assert(left.isEmpty, left.map(_.getName))
  }
}
