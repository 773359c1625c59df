package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.Json

/** Ops introspection sidecar — the analog of the reference's
  * `health/HealthServer.java:40-52` (liveness/readiness/metrics HTTP
  * endpoints next to the stream processor, consumed by the Docker
  * healthcheck in its `Dockerfile`).
  *
  * The Kafka Streams `KafkaStreams.State` machine maps onto Structured
  * Streaming through a [[StreamingQueryListener]] (the supported
  * observability hook — no polling, no private APIs):
  *
  *   - **GET /health** (liveness): 200 while no tracked query has died
  *     with an exception and the SparkSession is alive; 503 after a
  *     failure — reference: `state == RUNNING ? 200 : 503`.
  *   - **GET /ready** (readiness): 200 once every started query has
  *     committed at least one micro-batch progress (the
  *     REBALANCING-tolerant probe: queries mid-initialization are
  *     "starting", not dead); 503 before any query starts or after a
  *     failure.
  *   - **GET /metrics**: JSON snapshot — app/state/timestamp plus, per query,
  *     the LAST `StreamingQueryProgress` as Spark's own JSON rendering
  *     (batchId, input rates, state-operator rows — strictly more than the
  *     reference's static metadata body).
  *
  * Uses only the JDK's built-in `HttpServer` (same as the reference) —
  * zero new dependencies. Port 0 binds an ephemeral port (tests);
  * `boundPort` reports it.
  */
class HealthServer(spark: SparkSession, port: Int = 8080) {

  private sealed trait QState
  private case object Starting extends QState
  private case object Progressing extends QState
  // @nowarn: the synthetic members (copy/productArity/…) of a private case
  // class trip -Wunused even though apply and unapply are both used
  @scala.annotation.nowarn("cat=unused")
  private final case class Failed(message: String) extends QState
  private case object Stopped extends QState

  private val queryStates = TrieMap.empty[UUID, (String, QState)]
  private val lastProgress = TrieMap.empty[UUID, String]

  /** The listener is public so callers can also register it on sessions
    * they manage themselves. */
  val listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit =
      queryStates.put(event.id, (event.name, Starting))
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      queryStates.put(event.progress.id,
        (event.progress.name, Progressing))
      lastProgress.put(event.progress.id, event.progress.json)
    }
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
      val name = queryStates.get(event.id).map(_._1).orNull
      event.exception match {
        case Some(e) => queryStates.put(event.id, (name, Failed(e)))
        case None => queryStates.put(event.id, (name, Stopped))
      }
    }
  }

  private var server: HttpServer = _

  def live: Boolean =
    !spark.sparkContext.isStopped &&
      !queryStates.values.exists(_._2.isInstanceOf[Failed])

  def ready: Boolean =
    live && queryStates.nonEmpty &&
      queryStates.values.forall { case (_, s) =>
        s == Progressing || s == Stopped
      }

  def state: String =
    if (!live) "ERROR"
    else if (ready) "RUNNING"
    else if (queryStates.nonEmpty) "REBALANCING" // queries initializing
    else "CREATED"

  private def probeBody(probe: String): String =
    s"""{"status":${Json.quote(state)},"probe":${Json.quote(probe)},""" +
      s""""timestamp":${Json.quote(java.time.Instant.now.toString)}}"""

  private def metricsBody(): String = {
    val queries = queryStates.toSeq.map { case (id, (name, st)) =>
      val progress = lastProgress.get(id).getOrElse("null")
      val stName = st match {
        case Failed(m) => s"""{"failed":${Json.quote(m.linesIterator.take(1).mkString)}}"""
        case other => Json.quote(other.toString.toUpperCase)
      }
      s"""${Json.quote(Option(name).getOrElse(id.toString))}:""" +
        s"""{"state":$stName,"lastProgress":$progress}"""
    }.mkString("{", ",", "}")
    s"""{"state":${Json.quote(state)},""" +
      s""""application":${Json.quote(spark.sparkContext.appName)},""" +
      s""""version":"1.0.0",""" +
      s""""timestamp":${Json.quote(java.time.Instant.now.toString)},""" +
      s""""queries":$queries}"""
  }

  private def send(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def start(): HealthServer = {
    spark.streams.addListener(listener)
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/health",
      (ex: HttpExchange) => send(ex, if (live) 200 else 503,
        probeBody("liveness")))
    server.createContext("/ready",
      (ex: HttpExchange) => send(ex, if (ready) 200 else 503,
        probeBody("readiness")))
    server.createContext("/metrics",
      (ex: HttpExchange) => send(ex, 200, metricsBody()))
    // no executor: requests run on the server's dispatcher thread, which
    // stop() ends — HttpServer.stop never shuts down an executor it was
    // given, and that executor's non-daemon thread would keep the JVM up
    server.start()
    this
  }

  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = {
    if (server != null) server.stop(0)
    spark.streams.removeListener(listener)
  }
}
