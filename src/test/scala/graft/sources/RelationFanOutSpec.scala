package graft.sources

import graft.SparkTestSession
import graft.cdc.{Envelope, ReplicatePipeline, ScriptedKafkaBroker}
import graft.cdc.KafkaWire.{decodeRecordBatch, partitionFor}
import graft.replicate.ReplicatorStats
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** A large CDC micro-batch fans out over the cores, one task per relation
  * group ([[CdcRows.groupRelations]]), for both the LSN source and the
  * resume-token source; a small one stays one task. Every change is
  * delivered, per-key (= per-relation) order holds, and a batch that fails
  * on one group's Kafka partition while the other groups ack commits
  * nothing and is redelivered whole after a restart.
  */
class RelationFanOutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Min = CdcRows.MinChangesPerTask

  // ------------------------------------------------------ the grouping --

  test("relation groups: threshold, cap, largest-first balance, no relation split") {
    def counts(ns: Long*): Map[String, Long] =
      ns.zipWithIndex.map { case (n, i) => s"db.s.t$i" -> n }.toMap

    // under 2 x MinChangesPerTask: today's single partition, "all relations"
    assert(CdcRows.groupRelations(counts(Min, Min - 1), 4) == Seq(Set.empty))
    assert(CdcRows.groupRelations(Map.empty, 4) == Seq(Set.empty))
    // one relation never splits, however large
    assert(CdcRows.groupRelations(counts(50L * Min), 4) == Seq(Set.empty))
    // a single task's worth of parallelism plans one partition
    assert(CdcRows.groupRelations(counts(Min, Min, Min), 1) == Seq(Set.empty))

    // k = min(maxTasks, relations, changes / MinChangesPerTask)
    assert(CdcRows.groupRelations(counts(Min, Min), 4).size == 2)
    assert(CdcRows.groupRelations(counts(Seq.fill(8)(Min.toLong): _*), 4).size == 4,
      "capped at maxTasks")
    assert(CdcRows.groupRelations(counts(Seq.fill(8)(Min.toLong / 4): _*), 4).size == 2,
      "2000 changes over 8 relations: k = 2")
    assert(CdcRows.groupRelations(counts(Seq.fill(8)(Min.toLong / 2): _*), 4).size == 4)
    assert(CdcRows.groupRelations(counts(Seq.fill(8)(Min.toLong * 3 / 8): _*), 4).size == 3)

    // largest first onto the least-loaded group (ties: lower name, lower
    // group): a | b | c, then d -> c's group, e -> b's, f -> a's
    val c = Map("a" -> 7000L, "b" -> 5000L, "c" -> 4000L, "d" -> 3000L, "e" -> 3000L, "f" -> 2000L)
    val groups = CdcRows.groupRelations(c, 3)
    assert(groups == Seq(Set("a", "f"), Set("b", "e"), Set("c", "d")))
    assert(groups.map(_.toSeq.map(c).sum) == Seq(9000L, 8000L, 7000L))
    // every relation lands in exactly one group
    assert(groups.flatten.sorted == c.keys.toSeq.sorted)
  }

  test("a change's relation is the Kafka key Envelope ships") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a Mongo change has no schema: concat_ws skips nulls, and so must relation
    val parts = Seq(("appdb", "public", "users"), ("appdb", null, "users"), ("", "s", "t"))
    val keys = parts.toDF("db", "schema", "table")
      .select(Envelope.kafkaKey(col("db"), col("schema"), col("table"))).as[String].collect().toSeq
    assert(keys == Seq("appdb.public.users", "appdb.users", ".s.t"))
    assert(parts.map { case (d, s, t) =>
      CdcRows.relation(WalRecord(1L, d, s, t, "c", 0L, null, null, 0L)) } == keys)
  }

  // ---------------------------------------------------------- end to end --

  /** (table, changes) of one large batch: 4 relations, 4000 changes. */
  private val bulk = Seq("orders" -> 1500, "users" -> 1100, "items" -> 800, "tags" -> 600)

  private def records(tables: Seq[(String, Int)], firstLsn: Long): Seq[WalRecord] = {
    // interleaved the way a WAL would: round-robin over the relations
    val order = (0 until tables.map(_._2).max)
      .flatMap(i => tables.collect { case (t, n) if i < n => t })
    order.zipWithIndex.map { case (t, i) =>
      val lsn = firstLsn + i
      WalRecord(lsn, "appdb", "public", t, "c", 1000L + lsn, null,
        Map("id" -> lsn.toString), lsn)
    }
  }

  /** Task counts of the jobs each streaming query ran, by query id. */
  private final class TaskCounts extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(String, Int)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .foreach(q => jobs.add((q, e.stageInfos.map(_.numTasks).sum)))
    def of(queryId: String): Seq[Int] =
      jobs.toArray(Array.empty[(String, Int)]).toSeq.filter(_._1 == queryId).map(_._2)
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  /** (key, lsn) of every record the broker received, in capture order. */
  private def delivered(broker: ScriptedKafkaBroker): Seq[(String, Long)] =
    broker.produced.toArray(Array.empty[broker.Captured]).toSeq
      .flatMap(c => decodeRecordBatch(c.recordSet).map(r =>
        (new String(r.key.get, UTF_8), "\"lsn\":(\\d+)".r
          .findFirstMatchIn(new String(r.value, UTF_8)).map(_.group(1).toLong).get)))

  private def assertKeyOrder(records: Seq[(String, Long)]): Unit =
    records.groupBy(_._1).foreach { case (k, rs) =>
      val lsns = rs.map(_._2)
      assert(lsns == lsns.sorted, s"key $k out of LSN order")
    }

  /** Runs `frame` to the scripted broker: one large batch fans out over
    * several tasks, then one small batch runs as one task. */
  private def fanOutEndToEnd(name: String, append: Seq[WalRecord] => Unit,
      frame: () => DataFrame): Unit = {
    val broker = new ScriptedKafkaBroker("changes", 4)
    val ckpt = Files.createTempDirectory(s"$name-ckpt").toString
    val tasks = new TaskCounts
    spark.sparkContext.addSparkListener(tasks)
    try {
      val large = records(bulk, 1L)
      append(large)
      val q = ReplicatePipeline.startToKafkaWire(
        Envelope.toKafkaFrame(frame(), "postgresql", name),
        "127.0.0.1", broker.port, "changes", ckpt)
      try {
        q.processAllAvailable()
        assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(large.size.toLong),
          "the backlog is one micro-batch")
        eventually("the large batch's job was never seen")(tasks.of(q.id.toString).nonEmpty)
        assert(tasks.of(q.id.toString) == Seq(4), "one task per relation")
        val got = delivered(broker)
        assert(got.map(_._2).sorted == large.map(_.lsn), "every change exactly once")
        assertKeyOrder(got)
        assert(got.map(_._1).distinct.size == bulk.size)

        // a small batch: one partition, one task
        val small = records(Seq("orders" -> 20, "users" -> 10), large.size + 1L)
        append(small)
        q.processAllAvailable()
        eventually("the small batch's job was never seen")(tasks.of(q.id.toString).size == 2)
        assert(tasks.of(q.id.toString).last == 1)
        assert(delivered(broker).map(_._2).sorted == (large ++ small).map(_.lsn))
      } finally q.stop()
      assert(broker.failure == null, s"broker failure: ${broker.failure}")
    } finally {
      spark.sparkContext.removeSparkListener(tasks)
      broker.stop()
    }
  }

  test("CdcSourceProvider: a large batch fans out by relation, a small one stays one task") {
    val walId = "fan-out-lsn"
    InMemoryWal.clear(walId)
    fanOutEndToEnd("fan-lsn", _.foreach(InMemoryWal.append(walId, _)),
      () => InMemoryWalStream(spark, walId))
  }

  test("TokenStreamProvider: a large batch fans out by relation, a small one stays one task") {
    val streamId = "fan-out-token"
    InMemoryTokenLog.clear(streamId)
    fanOutEndToEnd("fan-token", _.foreach(InMemoryTokenLog.append(streamId, _)),
      () => spark.readStream.format("graft.sources.TokenStreamProvider")
        .option("stream.client", "graft.sources.InMemoryTokenClient")
        .option("stream.id", streamId)
        .load())
  }

  // ------------------------------------------------------ partial ack --

  test("a partial ack across groups fails the batch once, commits nothing, and is redelivered") {
    val partitions = 8
    // three relations on three different Kafka partitions, one group each
    val tables = (0 until 100).map(i => s"t$i")
      .map(t => t -> partitionFor(s"appdb.public.$t".getBytes(UTF_8), partitions))
      .distinctBy(_._2).take(3)
    val sizes = Seq(1500, 1200, 900)
    val batch = records(tables.map(_._1).zip(sizes), 1L)
    val (failingTable, failingPartition) = tables(1)

    val walId = "fan-out-partial-ack"
    InMemoryWal.clear(walId)
    batch.foreach(InMemoryWal.append(walId, _))
    val ckpt = Files.createTempDirectory("partial-ack-ckpt").toString
    val stats = new ReplicatorStats
    val batches = new ConcurrentLinkedQueue[Long]()
    val tasks = new TaskCounts
    spark.sparkContext.addSparkListener(tasks)

    // error 7 = REQUEST_TIMED_OUT on the middle relation's partition only
    val failing = new ScriptedKafkaBroker("changes", partitions,
      produceErrors = Map(failingPartition -> (7: Short)))
    val q = try {
      val q = ReplicatePipeline.startToKafkaWire(
        Envelope.toKafkaFrame(InMemoryWalStream(spark, walId), "postgresql", "pa"),
        "127.0.0.1", failing.port, "changes", ckpt,
        onError = (b, e) => { batches.add(b); stats.recordWriteError(b, e) })
      intercept[Exception](q.processAllAvailable())
      q
    } finally failing.stop()

    eventually("onError never fired")(stats.writeErrors.get == 1)
    eventually("the batch's job was never seen")(tasks.of(q.id.toString).nonEmpty)
    spark.sparkContext.removeSparkListener(tasks)
    assert(tasks.of(q.id.toString) == Seq(3), "the batch fanned out, one task per relation")
    assert(batches.toArray.toSeq == Seq(0L), "onError fired once, with the failed batch")
    assert(stats.toJson("streaming", healthy = true).contains(""""write_error_count":1"""))
    assert(stats.lastError.get.contains(s"partition $failingPartition (err 7)"))
    assert(ReplicatePipeline.checkpointedOffset(spark, ckpt).isEmpty, "nothing committed")
    // the failing broker saw the failing relation's partition refused; what
    // the other groups got through kept per-key order
    val firstTry = failing.produced.toArray(Array.empty[failing.Captured]).toSeq
    assert(firstTry.exists(_.partition == failingPartition))
    assertKeyOrder(delivered(failing))

    // restart on the same checkpoint against a healthy broker: the whole
    // batch goes out again; the healthy groups' changes may repeat
    val healthy = new ScriptedKafkaBroker("changes", partitions)
    try {
      val q2 = ReplicatePipeline.startToKafkaWire(
        Envelope.toKafkaFrame(InMemoryWalStream(spark, walId), "postgresql", "pa"),
        "127.0.0.1", healthy.port, "changes", ckpt,
        onError = (b, e) => stats.recordWriteError(b, e))
      try q2.processAllAvailable() finally q2.stop()
      val again = delivered(healthy)
      assert(again.map(_._2).sorted == batch.map(_.lsn), "every change of the batch, once")
      assertKeyOrder(again)
      assert(again.exists(_._1 == s"appdb.public.$failingTable"))
      assert(ReplicatePipeline.checkpointedOffset(spark, ckpt).contains(batch.size.toString))
      assert(healthy.failure == null, s"broker failure: ${healthy.failure}")
    } finally healthy.stop()
    assert(stats.writeErrors.get == 1, "the redelivery adds no errors")
  }
}
