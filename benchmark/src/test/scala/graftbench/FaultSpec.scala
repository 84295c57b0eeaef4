package graftbench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.GraftSession
import graft.control.StatsServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Planted broker faults must raise the failed count and never read as a
  * faster drain.
  */
class FaultSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.create("local[2]")
  private lazy val stats = new StatsServer(0)
  private lazy val statsPort = stats.start()
  private val work = Files.createTempDirectory("graftbench-fault")

  override def afterAll(): Unit = {
    stats.stop()
    spark.stop()
    Dirs.delete(work)
  }

  private def smallSpec(): Spec = {
    val root = Json.parse(Files.readString(Paths.get("spec.json"))).asInstanceOf[ObjectNode]
    root.get("cdc_bulk").asInstanceOf[ObjectNode].put("round_events", 400)
    root.get("cdc").asInstanceOf[ObjectNode].put("ack_timeout_s", 5)
    Spec(root)
  }

  private def bulkRun(faults: BrokerFaults): CdcWorkload = {
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = RunContext(spark, work, seed = 5, seconds = 0.5, traced = false, smallSpec(), statsPort)
    val w = new CdcWorkload(ctx, bulk = true, faults)
    try {
      w.prepare()
      w.warmUp()
      w.measure()
    } finally w.close()
    w
  }

  test("a clean drain acks every event") {
    val w = bulkRun(BrokerFaults())
    assert(w.failed == 0, w.problems)
    assert(w.attempted >= 1600)
    assert(w.throughput > 0)
  }

  test("an error code on one partition raises failed and is never a faster drain") {
    val clean = bulkRun(BrokerFaults())
    val w = bulkRun(BrokerFaults(errorPartition = Some(3)))
    assert(w.failed > 0)
    assert(w.problems.exists(_.contains("never acked")))
    assert(!(w.throughput > clean.throughput))
  }

  test("a dropped ack raises failed and is never a faster drain") {
    val clean = bulkRun(BrokerFaults())
    val w = bulkRun(BrokerFaults(dropAckOnRequest = Some(2)))
    assert(w.failed > 0)
    assert(!(w.throughput > clean.throughput))
  }
}
