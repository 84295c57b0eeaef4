package graft.cdc

import graft.SparkTestSession
import graft.sources.{InMemoryWal, InMemoryWalStream, WalRecord}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class ApplySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def change(lsn: Long, op: String, id: String, name: String): (String, String, String, String, Long, Map[String, String], Map[String, String], Long, Long) =
    ("db", "s", "users", op, lsn,
      if (op == "c") null else Map("id" -> id, "name" -> "old"),
      if (op == "d") null else Map("id" -> id, "name" -> name),
      lsn, lsn)

  private def changesDf(rows: Seq[(String, String, String, String, Long, Map[String, String], Map[String, String], Long, Long)]) =
    rows.toDF("db", "schema", "table", "op", "ts_ms", "before", "after", "lsn", "txId")

  test("applyChanges: upsert, update-latest-wins, delete, passthrough") {
    val base = Seq(("1", "alice"), ("2", "bob"), ("3", "carol"))
      .toDF("id", "name")
    val changes = changesDf(Seq(
      change(10, "u", "2", "bobby"),     // update bob
      change(11, "u", "2", "bobbie"),    // later update wins
      change(12, "d", "3", null),        // delete carol
      change(13, "c", "4", "dave")))     // insert dave

    val out = Apply.applyChanges(base, changes, "id", Seq("name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map(
      "1" -> "alice",   // untouched passthrough
      "2" -> "bobbie",  // highest-lsn update
      "4" -> "dave"))   // insert; 3 deleted
  }

  test("scd2History: versioned intervals, delete closes the tail, current flag") {
    val changes = changesDf(Seq(
      change(1, "c", "A", "a-v1"),
      change(3, "u", "A", "a-v2"),
      change(5, "d", "A", null), // closes a-v2, emits no row
      change(2, "c", "B", "b-v1")))
    val out = Apply.scd2History(changes, "id", Seq("name"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(out == Seq(
      ("A", "a-v1", 1L, 3L, false),
      ("A", "a-v2", 3L, 5L, false), // delete bounded the final version
      ("B", "b-v1", 2L, -1L, true)), s"got $out")
  }

  /** A users change at `lsn`; deletes carry only the before image (where
    * the key lives), like pgoutput. */
  private def walChange(walId: String, lsn: Long, op: String, id: String,
      name: String): Unit =
    InMemoryWal.append(walId, WalRecord(lsn, "db", "s", "users", op, lsn,
      if (op == "d") Map("id" -> id) else null,
      if (op == "d") null else Map("id" -> id, "name" -> name), lsn))

  test("streaming SCD2 materialization closes open tails across micro-batches") {
    val walId = "scd2-wal"
    InMemoryWal.clear(walId)
    val tableDir = Files.createTempDirectory("scd2-t").toString + "/hist"
    val ckpt = Files.createTempDirectory("scd2-ck").toString
    // batch 1: A created then updated; B created
    walChange(walId, 1, "c", "A", "a-v1")
    walChange(walId, 3, "u", "A", "a-v2")
    walChange(walId, 2, "c", "B", "b-v1")
    val q = Apply.startScd2Materialize(spark, InMemoryWalStream(spark, walId), "id", Seq("name"),
      tableDir, ckpt, triggerMs = 50)
    try {
      q.processAllAvailable()
      // batch 2: A deleted (must close a-v2's OPEN tail from batch 1)
      walChange(walId, 5, "d", "A", null)
      q.processAllAvailable()

      val hist = spark.read.parquet(tableDir)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(hist == Seq(
        ("A", "a-v1", 1L, 3L, false),
        ("A", "a-v2", 3L, 5L, false), // closed by batch 2's delete
        ("B", "b-v1", 2L, -1L, true)), s"got $hist")
    } finally q.stop()
  }

  test("streaming SCD2 replay of a committed batch leaves history unchanged") {
    // simulate foreachBatch's at-least-once replay: process the same input
    // with a FRESH checkpoint against the already-materialized table —
    // the merge must be idempotent (no duplicate rows, no inverted
    // intervals from closing the batch's own versions)
    val walId = "scd2r-wal"
    InMemoryWal.clear(walId)
    val tableDir = Files.createTempDirectory("scd2r-t").toString + "/hist"
    walChange(walId, 1, "c", "A", "a-v1")
    walChange(walId, 3, "u", "A", "a-v2")
    walChange(walId, 2, "c", "B", "b-v1")

    def runOnce(): Unit = {
      val ckpt = Files.createTempDirectory("scd2r-ck").toString
      val q = Apply.startScd2Materialize(spark, InMemoryWalStream(spark, walId), "id", Seq("name"),
        tableDir, ckpt, triggerMs = 50)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val first = spark.read.parquet(tableDir).collect()
      .map(_.toSeq).toSet
    runOnce() // replay: same batch against the populated table
    val second = spark.read.parquet(tableDir).collect()
      .map(_.toSeq).toSet
    assert(second == first, s"replay changed history:\n$first\nvs\n$second")
    assert(first.size == 3, s"expected 3 versions, got $first")
  }

  test("delete then re-insert within one batch resolves by lsn order") {
    val base = Seq(("1", "x")).toDF("id", "name")
    val changes = changesDf(Seq(
      change(20, "d", "1", null),
      change(21, "c", "1", "reborn")))
    val out = Apply.applyChanges(base, changes, "id", Seq("name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("1" -> "reborn"))
    // and the reverse order deletes
    val changes2 = changesDf(Seq(
      change(31, "c", "1", "zombie"),
      change(32, "d", "1", null)))
    assert(Apply.applyChanges(base, changes2, "id", Seq("name")).count() == 0)
  }

  test("continuous materialization from the DSv2 CDC source") {
    val walId = "apply-wal"
    InMemoryWal.clear(walId)
    def rec(lsn: Long, op: String, id: String, name: String) =
      WalRecord(lsn, "db", "s", "users", op, lsn,
        if (op == "c") null else Map("id" -> id),
        if (op == "d") null else Map("id" -> id, "name" -> name), lsn)

    InMemoryWal.append(walId, rec(1, "c", "1", "alice"))
    InMemoryWal.append(walId, rec(2, "c", "2", "bob"))

    val table = Files.createTempDirectory("apply-table").toString + "/t"
    val ckpt = Files.createTempDirectory("apply-ckpt").toString
    val changes = InMemoryWalStream(spark, walId)
    val q = Apply.startMaterialize(spark, changes, "id", Seq("name"),
      table, ckpt, triggerMs = 50)
    try {
      q.processAllAvailable()
      val s1 = spark.read.parquet(table).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(s1 == Map("1" -> "alice", "2" -> "bob"))

      InMemoryWal.append(walId, rec(3, "u", "1", "alicia"))
      InMemoryWal.append(walId, rec(4, "d", "2", null))
      q.processAllAvailable()
      val s2 = spark.read.parquet(table).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(s2 == Map("1" -> "alicia"), s"got $s2")
    } finally q.stop()
  }
}
