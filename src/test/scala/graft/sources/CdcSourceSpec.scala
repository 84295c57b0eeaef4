package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class CdcSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rec(lsn: Long, op: String, id: Int): WalRecord =
    WalRecord(lsn, "appdb", "public", "users", op, 1000L + lsn,
      if (op == "c") null else Map("id" -> id.toString),
      if (op == "d") null else Map("id" -> id.toString),
      txId = lsn / 10)

  private def startQuery(walId: String, out: String, ckpt: String) =
    InMemoryWalStream(spark, walId)
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50))
      .start()

  test("micro-batches follow the LSN offset; schema is the raw-change contract") {
    val walId = "wal-basic"
    InMemoryWal.clear(walId)
    (1 to 5).foreach(i => InMemoryWal.append(walId, rec(i * 10, "c", i)))

    val out = Files.createTempDirectory("cdc-out").toString
    val ckpt = Files.createTempDirectory("cdc-ckpt").toString
    val q = startQuery(walId, out, ckpt)
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(out)
      assert(got.schema == graft.cdc.ChangeSource.rawSchema)
      assert(got.count() == 5)
      // new WAL entries arrive -> next batch picks up only the delta
      (6 to 8).foreach(i => InMemoryWal.append(walId, rec(i * 10, "u", i)))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 8)
      val ops = spark.read.parquet(out).groupBy("op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(ops == Map("c" -> 5L, "u" -> 3L))
    } finally q.stop()
  }

  test("restart resumes from the checkpointed LSN (no replay, no loss)") {
    val walId = "wal-resume"
    InMemoryWal.clear(walId)
    (1 to 4).foreach(i => InMemoryWal.append(walId, rec(i, "c", i)))

    val out = Files.createTempDirectory("cdc-out2").toString
    val ckpt = Files.createTempDirectory("cdc-ckpt2").toString
    val q1 = startQuery(walId, out, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 4)

    // while down: more WAL
    (5 to 9).foreach(i => InMemoryWal.append(walId, rec(i, "c", i)))

    val q2 = startQuery(walId, out, ckpt)
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
      assert(rows.count() == 9, "resume must deliver exactly the missed range")
      // every lsn exactly once
      assert(rows.select("lsn").distinct().count() == 9)
    } finally q2.stop()
  }

  test("feeds the envelope pipeline end-to-end (source -> Debezium JSON)") {
    val walId = "wal-envelope"
    InMemoryWal.clear(walId)
    InMemoryWal.append(walId, rec(42, "c", 7))

    val out = Files.createTempDirectory("cdc-out3").toString
    val ckpt = Files.createTempDirectory("cdc-ckpt3").toString
    val changes = InMemoryWalStream(spark, walId)
    val q = graft.cdc.Envelope.toKafkaFrame(changes, "postgres", "cdc-e2e")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      val row = spark.read.parquet(out).head
      assert(row.getString(0) == "appdb.public.users")
      val v = row.getString(1)
      assert(v.contains(""""op":"c"""") && v.contains(""""lsn":42"""))
    } finally q.stop()
  }

  test("start.position=latest delivers new data only (no-checkpoint " +
    "reference behavior, source.go:597-621)") {
    val walId = "wal-latest"
    InMemoryWal.clear(walId)
    (1 to 5).foreach(i => InMemoryWal.append(walId, rec(i, "c", i)))

    val out = Files.createTempDirectory("cdc-out4").toString
    val ckpt = Files.createTempDirectory("cdc-ckpt4").toString
    val q = spark.readStream
      .format("graft.sources.CdcSourceProvider")
      .option("wal.client", "graft.sources.InMemoryWalClient")
      .option("wal.id", walId)
      .option("start.position", "latest")
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 0, "history must be skipped")
      (6 to 8).foreach(i => InMemoryWal.append(walId, rec(i, "u", i)))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
      assert(rows.count() == 3, "only post-start records delivered")
      assert(rows.select("lsn").collect().map(_.getLong(0)).toSet == Set(6L, 7L, 8L))
    } finally q.stop()
  }

  test("missing options fail the query with a clear message") {
    val q = spark.readStream.format("graft.sources.CdcSourceProvider")
      .option("wal.client", "graft.sources.InMemoryWalClient")
      .load() // no wal.id
      .writeStream.format("noop").start()
    try {
      val ex = intercept[Exception](q.processAllAvailable())
      assert(ex.getMessage.contains("wal.id") ||
        Option(ex.getCause).exists(_.getMessage.contains("wal.id")))
    } finally q.stop()
  }
}
