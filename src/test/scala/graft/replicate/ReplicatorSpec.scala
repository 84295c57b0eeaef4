package graft.replicate

import graft.SparkTestSession
import graft.cdc.KafkaWire.decodeRecordBatch
import graft.cdc.{Envelope, ReplicatePipeline, ScriptedKafkaBroker}
import graft.control.StatsServer
import graft.sources.{InMemoryWal, InMemoryWalStream, WalRecord}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

class ReplicatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def change(walId: String, op: String, id: Int, lsn: Long): Unit =
    InMemoryWal.append(walId, WalRecord(lsn, "appdb", "public", "users", op,
      1000L + lsn, null, Map("id" -> id.toString), 1L))

  /** The measured replicate path: DSv2 CDC source -> envelope -> wire
    * Kafka, resuming from `ckpt`. */
  private def pipeline(walId: String, name: String, broker: ScriptedKafkaBroker,
      ckpt: String): SparkSession => StreamingQuery = s =>
    ReplicatePipeline.startToKafkaWire(
      Envelope.toKafkaFrame(InMemoryWalStream(s, walId), "postgresql", name),
      "127.0.0.1", broker.port, "changes", ckpt)

  private def values(broker: ScriptedKafkaBroker): Seq[String] =
    broker.produced.toArray(Array.empty[broker.Captured]).toSeq.flatMap(c =>
      decodeRecordBatch(c.recordSet).map(r => new String(r.value, UTF_8)))

  test("replicate pipeline: CDC source -> wire Kafka, with pause/resume") {
    val walId = "replicator-r1"
    InMemoryWal.clear(walId)
    val broker = new ScriptedKafkaBroker("changes", numPartitions = 3)
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    (1 to 5).foreach(i => change(walId, "c", i, i))

    val repl = new Replicator("r1", spark, pipeline(walId, "r1", broker, ckpt))
    ReplicatorRegistry.register(repl)
    try {
      repl.start()
      assert(repl.fsm.state == FsmState.Streaming)
      repl.processAllAvailable()
      assert(values(broker).size == 5)

      // pause = graceful stop; state visible; no query running
      repl.pause()
      assert(repl.fsm.state == FsmState.Paused)
      assert(repl.activeQuery.isEmpty)

      // new changes land while paused
      (6 to 8).foreach(i => change(walId, "u", i, 100 + i))

      // resume restarts from the checkpoint: only the new changes are
      // produced, no replay
      repl.resume()
      assert(repl.fsm.state == FsmState.Streaming)
      repl.processAllAvailable()
      val all = values(broker)
      assert(all.size == 8, s"expected 8 (no duplicates after resume), got ${all.size}")
      assert(all.distinct.size == 8, "every change produced exactly once")

      // envelope content survived the full pipeline
      assert(all.forall(_.contains(""""connector":"postgresql"""")))
      assert(all.count(_.contains(""""op":"u"""")) == 3)
      assert(broker.failure == null, s"broker failure: ${broker.failure}")

      repl.stop()
      assert(repl.fsm.state == FsmState.Stopped)
      assert(repl.stats.totalEvents.get == 8)
    } finally {
      if (repl.fsm.state != FsmState.Stopped) repl.stop()
      broker.stop()
    }
  }

  test("stats server exposes state and drives signals (server.go:64-77)") {
    val walId = "replicator-web1"
    InMemoryWal.clear(walId)
    val broker = new ScriptedKafkaBroker("changes", numPartitions = 3)
    val ckpt = Files.createTempDirectory("graft-http-ckpt").toString
    change(walId, "c", 1, 1L)

    val repl = new Replicator("web1", spark, pipeline(walId, "web1", broker, ckpt))
    ReplicatorRegistry.register(repl)
    repl.start()
    repl.processAllAvailable()

    val server = new StatsServer(0)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    def get(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET.build(),
      HttpResponse.BodyHandlers.ofString())
    def post(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())

    try {
      // bare liveness probe (reference handlers.go): 200, empty body, no JSON
      val health = get("/health")
      assert(health.statusCode() == 200)
      assert(health.body().isEmpty)
      // Go's ServeMux matches "/health" exactly — prefix strays are 404
      assert(get("/healthz").statusCode() == 404)
      // HEAD probes (common liveness config) answer 200 like Go
      val headReq = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/health"))
          .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(headReq.statusCode() == 200)

      val list = get("/api/v1/replicators")
      assert(list.statusCode() == 200)
      assert(list.body().contains(""""id":"web1""""))
      assert(list.body().contains(""""state":"streaming""""))

      val one = get("/api/v1/replicators/web1")
      assert(one.statusCode() == 200)
      assert(one.body().contains(""""total_events":1"""))

      assert(get("/api/v1/replicators/ghost").statusCode() == 404)

      val paused = post("/api/v1/replicators/web1/pause")
      assert(paused.statusCode() == 200)
      assert(paused.body().contains(""""state":"paused""""))

      // illegal transition surfaces as 409, not a silent no-op
      val badPause = post("/api/v1/replicators/web1/pause")
      assert(badPause.statusCode() == 409)

      val resumed = post("/api/v1/replicators/web1/resume")
      assert(resumed.body().contains(""""state":"streaming""""))

      val stopped = post("/api/v1/replicators/web1/stop")
      assert(stopped.body().contains(""""state":"stopped""""))

      assert(post("/api/v1/replicators/web1/flip").statusCode() == 400)
    } finally {
      server.stop()
      if (repl.fsm.state != FsmState.Stopped) repl.stop()
      broker.stop()
    }
  }
}
