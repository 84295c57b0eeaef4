package graft.replicate

import graft.SparkTestSession
import graft.sources.{InMemoryWal, InMemoryWalStream, WalRecord}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A local FileSystem under a scheme that is not `file:` — stands in for
  * HDFS / s3a when checking which manager a non-local path gets.
  */
class DummySchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "dummy"
  override def getUri: URI = URI.create("dummy:///")
}

/** FileContext binding for the dummy scheme. */
class DummySchemeAbstractFileSystem(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new DummySchemeFileSystem, conf, "dummy", false)

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val ConfKey = LocalCheckpointFileManager.ConfKey

  /** Runs `body` with the manager registered on the shared session. A
    * query snapshots the session conf when it starts, so unsetting after
    * `body` leaves running queries on the manager they started with.
    */
  private def withManager[T](body: => T): T = {
    spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
    try body finally spark.conf.unset(ConfKey)
  }

  private def rec(lsn: Long): WalRecord =
    WalRecord(lsn, "appdb", "public", "users", "c", 1000L + lsn,
      null, Map("id" -> lsn.toString), txId = lsn)

  /** A CDC replicator whose sink records each delivered LSN and batch id. */
  private final class CdcRun(walId: String, val ckpt: String) {
    val lsns = new ConcurrentLinkedQueue[Long]()
    val batches = new ConcurrentLinkedQueue[Long]()
    private var next = 1L
    InMemoryWal.clear(walId)

    val replicator = new Replicator(walId, spark, (s: SparkSession) => query(s))

    private def query(s: SparkSession): StreamingQuery =
      InMemoryWalStream(s, walId).writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          df.select("lsn").collect().foreach(r => lsns.add(r.getLong(0)))
          batches.add(batchId)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(20L))
        .start()

    def append(n: Int): Unit =
      (0 until n).foreach { _ => InMemoryWal.append(walId, rec(next)); next += 1 }

    /** Appends `n` WAL records and waits until they are delivered. */
    def round(n: Int): Unit = { append(n); replicator.processAllAvailable() }

    def appended: Long = next - 1

    def assertExactlyOnce(): Unit = {
      val got = lsns.asScala.toSeq
      assert(got.size == appended, s"delivered ${got.size} of $appended (replay or loss)")
      assert(got.toSet == (1L to appended).toSet)
    }
  }

  private def files(dir: JPath): Seq[String] =
    scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.map(_.getFileName.toString).toSeq.sorted)

  test("replicate micro-batches on a local checkpoint start no process after the first batch") {
    val processes = new ConcurrentLinkedQueue[(Instant, String, String)]()
    val jfr = new RecordingStream()
    jfr.enable("jdk.ProcessStart")
    jfr.onEvent("jdk.ProcessStart", e => processes.add((e.getStartTime,
      Option(e.getThread).map(_.getJavaName).getOrElse(""), e.getString("command"))))
    jfr.startAsync()

    // a process started from this thread marks a point in the JFR stream;
    // waiting for it to arrive also flushes every earlier event
    def marker(tag: String): Instant = {
      new ProcessBuilder("true", tag).start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000000000L
      var seen: Option[Instant] = None
      while (seen.isEmpty && System.nanoTime() < deadline) {
        seen = processes.asScala.collectFirst { case (t, _, cmd) if cmd.contains(tag) => t }
        if (seen.isEmpty) Thread.sleep(50)
      }
      seen.getOrElse(fail(s"JFR never reported the $tag marker process"))
    }

    val run = new CdcRun("ckfm-jfr", Files.createTempDirectory("ckfm-jfr").toString)
    try {
      withManager {
        run.replicator.start()
        run.round(3)
      }
      val afterFirst = marker("graft-first-batch-done")
      (1 to 5).foreach(_ => run.round(4))
      marker("graft-batches-done")

      assert(run.batches.size >= 6, s"only ${run.batches.size} micro-batches ran")
      // the stream thread's name carries the query id
      val queryId = run.replicator.activeQuery.get.id.toString
      val forked = processes.asScala.toSeq.collect {
        case (t, thread, cmd) if t.isAfter(afterFirst) && thread.contains(queryId) => cmd
      }
      assert(forked.isEmpty,
        s"stream execution thread started ${forked.size} processes: ${forked.take(5)}")

      // pause = graceful stop; resume restarts from this checkpoint, no replay
      run.replicator.pause()
      run.append(3)
      withManager(run.replicator.resume())
      run.replicator.processAllAvailable()
      run.assertExactlyOnce()
      // local commits write no .crc sidecars
      assert(!files(java.nio.file.Paths.get(run.ckpt, "offsets")).exists(_.endsWith(".crc")))
    } finally {
      if (run.replicator.fsm.state != FsmState.Stopped) run.replicator.stop()
      jfr.close()
    }
  }

  test("a checkpoint written by Spark's default manager resumes under the local manager") {
    val run = new CdcRun("ckfm-compat", Files.createTempDirectory("ckfm-compat").toString)
    val offsets = java.nio.file.Paths.get(run.ckpt, "offsets")
    try {
      run.replicator.start() // no manager set: Spark's default, with .crc sidecars
      run.round(3)
      run.round(3)
      run.replicator.pause()
      val before = files(offsets)
      assert(before.exists(_.endsWith(".crc")), s"default manager wrote no .crc: $before")

      withManager(run.replicator.resume())
      run.round(3)
      run.round(3)
      run.assertExactlyOnce()
      val added = files(offsets).filterNot(before.contains)
      assert(added.nonEmpty && !added.exists(_.endsWith(".crc")), s"new offset files: $added")
    } finally {
      if (run.replicator.fsm.state != FsmState.Stopped) run.replicator.stop()
    }
  }

  test("createAtomic: close commits, cancel leaves nothing, no overwrite of an existing file") {
    val dir = Files.createTempDirectory("ckfm-atomic")
    val conf = new Configuration()
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    assert(fm.delegate.isInstanceOf[LocalCheckpointFileManager.NioTempFileManager])
    assert(fm.isLocal)
    // Spark's own factory instantiates the registered class
    conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
    assert(CheckpointFileManager.create(new Path(dir.toUri), conf)
      .isInstanceOf[LocalCheckpointFileManager])

    def write(p: Path, text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
      out.write(text.getBytes(UTF_8))
      out.close()
    }
    def read(p: Path): String = {
      val in = fm.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }

    val target = new Path(dir.toUri.toString, "0")
    val cancelled = fm.createAtomic(target, overwriteIfPossible = false)
    cancelled.write("never".getBytes(UTF_8))
    cancelled.cancel()
    assert(!fm.exists(target))
    assert(files(dir).isEmpty, s"cancel left ${files(dir)}")

    write(target, "v1", overwrite = false)
    assert(read(target) == "v1")
    assert(files(dir) == Seq("0"))

    intercept[FileAlreadyExistsException](write(target, "v2", overwrite = false))
    assert(read(target) == "v1")

    // replacing a file Spark's default manager wrote drops its stale .crc
    val legacy = new Path(dir.toUri.toString, "legacy")
    val out = LocalCheckpointFileManager.sparkDefault(legacy, new Configuration())
      .createAtomic(legacy, overwriteIfPossible = false)
    out.write("old".getBytes(UTF_8))
    out.close()
    assert(files(dir).contains(".legacy.crc"))
    write(legacy, "replaced", overwrite = true)
    assert(!files(dir).contains(".legacy.crc"))
    assert(read(legacy) == "replaced") // a stale checksum would fail this read
  }

  test("a non-file: checkpoint path keeps Spark's default manager") {
    val conf = new Configuration()
    conf.set("fs.dummy.impl", classOf[DummySchemeFileSystem].getName)
    conf.setBoolean("fs.dummy.impl.disable.cache", true)
    val path = new Path("dummy:///graft-ckpt")

    // no FileContext binding for the scheme: Spark falls back to FileSystem
    val fallback = new LocalCheckpointFileManager(path, conf).delegate
    assert(fallback.getClass == classOf[FileSystemBasedCheckpointFileManager])
    assert(fallback.getClass == CheckpointFileManager.create(path, conf).getClass)

    conf.set("fs.AbstractFileSystem.dummy.impl", classOf[DummySchemeAbstractFileSystem].getName)
    val primary = new LocalCheckpointFileManager(path, conf).delegate
    assert(primary.getClass == classOf[FileContextBasedCheckpointFileManager])
    assert(primary.getClass == CheckpointFileManager.create(path, conf).getClass)
  }
}
