package graft.sources

import graft.cdc.{KafkaWire, KafkaWireCluster, KafkaWireProducer, ScriptedKafkaBroker}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets

/** The wire-protocol Kafka batch source against the scripted broker's
  * in-memory log: planning pins one Spark task per Kafka partition, the
  * read returns exactly the produced records.
  */
class KafkaWireSourceSpec extends AnyFunSuite {

  test("batch read distributes one task per Kafka partition and round-trips") {
    val spark = graft.SparkTestSession.spark
    val broker = new ScriptedKafkaBroker("events", numPartitions = 3)
    try {
      val records = (0 until 30).map(i =>
        (s"key-$i".getBytes(StandardCharsets.UTF_8),
          s"""{"n":$i}""".getBytes(StandardCharsets.UTF_8),
          1700000000000L + i))
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      try producer.send("events", 3, records) finally producer.close()

      val df = KafkaWireSource.read(spark, "127.0.0.1", broker.port, "events")
      // one input partition per Kafka partition — the scale contract
      assert(df.rdd.getNumPartitions == 3)

      val rows = df.selectExpr("partition", "offset",
        "cast(key as string) as key", "cast(value as string) as value",
        "timestamp_ms").collect()
      assert(rows.length == 30)

      // every record on the partition its key hashes to, payload intact
      val byKey = rows.map(r => r.getString(2) ->
        ((r.getInt(0), r.getString(3), r.getLong(4)))).toMap
      records.foreach { case (k, v, ts) =>
        val key = new String(k, StandardCharsets.UTF_8)
        val (p, value, gotTs) = byKey(key)
        assert(p == KafkaWire.partitionFor(k, 3), s"$key on wrong partition")
        assert(value == new String(v, StandardCharsets.UTF_8))
        assert(gotTs == ts)
      }

      // offsets gapless per partition from the broker's log start (100+p)
      rows.groupBy(_.getInt(0)).foreach { case (p, rs) =>
        val offsets = rs.map(_.getLong(1)).sorted
        assert(offsets.head == 100L + p, s"partition $p starts at ${offsets.head}")
        assert(offsets.toSeq == (offsets.head to offsets.last),
          s"partition $p offsets have gaps")
      }

      // the scan is a plain projectable source: column pruning applies
      val keysOnly = df.select(col("key")).count()
      assert(keysOnly == 30)
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("streaming read delivers each produce round once and resumes from " +
      "the checkpoint") {
    val spark = graft.SparkTestSession.spark
    val broker = new ScriptedKafkaBroker("stream", numPartitions = 2)
    val out = java.nio.file.Files.createTempDirectory("kwsrc-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kwsrc-ckpt").toString
    def produce(ids: Range): Unit = {
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      try producer.send("stream", 2, ids.map(i =>
        (s"k$i".getBytes, s"v$i".getBytes, 1000L + i)))
      finally producer.close()
    }
    def start() = KafkaWireSource
      .readStream(spark, "127.0.0.1", broker.port, "stream")
      .selectExpr("partition", "offset", "cast(key as string) as key")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    try {
      produce(0 until 5)
      val q1 = start()
      try {
        q1.processAllAvailable()
        assert(spark.read.parquet(out).count() == 5)
        produce(5 until 8) // a second round inside the same run
        q1.processAllAvailable()
        assert(spark.read.parquet(out).count() == 8)
      } finally q1.stop()

      produce(8 until 12) // produced while the stream is DOWN
      val q2 = start()
      try {
        q2.processAllAvailable()
        val rows = spark.read.parquet(out)
        assert(rows.count() == 12, "resume must deliver exactly the missed range")
        assert(rows.select("key").distinct().count() == 12, "no replays")
      } finally q2.stop()
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("streaming start.position=latest skips the backlog") {
    val spark = graft.SparkTestSession.spark
    val broker = new ScriptedKafkaBroker("tail", numPartitions = 1)
    val out = java.nio.file.Files.createTempDirectory("kwtail-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kwtail-ckpt").toString
    def produce(ids: Range): Unit = {
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      try producer.send("tail", 1, ids.map(i =>
        (s"k$i".getBytes, s"v$i".getBytes, 1000L + i)))
      finally producer.close()
    }
    try {
      produce(0 until 4) // backlog that must NOT be delivered
      val q = KafkaWireSource
        .readStream(spark, "127.0.0.1", broker.port, "tail", startPosition = "latest")
        .selectExpr("offset", "cast(key as string) as key")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try {
        q.processAllAvailable()
        assert(spark.read.parquet(out).count() == 0)
        produce(4 until 6)
        q.processAllAvailable()
        val keys = spark.read.parquet(out).collect().map(_.getString(1)).sorted
        assert(keys.toSeq == Seq("k4", "k5"))
      } finally q.stop()
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("offset json round-trips, including the empty map") {
    val o = KafkaPartitionOffsets(Map(1 -> 107L, 0 -> 100L))
    assert(o.json() == """{"0":100,"1":107}""")
    assert(KafkaPartitionOffsets.fromJson(o.json()) == o)
    assert(KafkaPartitionOffsets.fromJson("{}").offsets.isEmpty)
  }

  test("CDC changes survive the full produce/fetch loop and apply cleanly") {
    // DSv2 CDC source -> Debezium envelope -> wire produce -> wire
    // batch read -> envelope decode -> applyChanges: the whole replicate
    // pipeline round-trips through a broker with no client jar anywhere
    val spark = graft.SparkTestSession.spark
    val broker = new ScriptedKafkaBroker("cdc", numPartitions = 3)
    val ckpt = java.nio.file.Files.createTempDirectory("kwcdc-ckpt").toString
    val walId = "kwcdc-wal"
    InMemoryWal.clear(walId)
    try {
      def change(lsn: Long, op: String, before: Map[String, String],
          after: Map[String, String]): Unit =
        InMemoryWal.append(walId, WalRecord(lsn, "appdb", "public", "users",
          op, lsn - 9, before, after, lsn - 9))
      change(10, "c", null, Map("id" -> "1", "name" -> "ada"))
      change(11, "c", null, Map("id" -> "2", "name" -> "bob"))
      change(12, "u", Map("id" -> "1", "name" -> "ada"), Map("id" -> "1", "name" -> "ada2"))
      change(13, "d", Map("id" -> "2", "name" -> "bob"), null)
      val frame = graft.cdc.Envelope.toKafkaFrame(
        InMemoryWalStream(spark, walId), "postgresql", "graft")
      val q = graft.cdc.ReplicatePipeline.startToKafkaWire(
        frame, "127.0.0.1", broker.port, "cdc", ckpt)
      try q.processAllAvailable() finally q.stop()

      val envelopeSchema = "struct<before:map<string,string>," +
        "after:map<string,string>,source:struct<db:string,schema:string," +
        "table:string,lsn:bigint,txId:bigint>,op:string,ts_ms:bigint>"
      val changes = KafkaWireSource.read(spark, "127.0.0.1", broker.port, "cdc")
        .select(from_json(col("value").cast("string"),
          org.apache.spark.sql.types.DataType.fromDDL(envelopeSchema)).as("e"))
        .select(col("e.source.db").as("db"), col("e.source.schema").as("schema"),
          col("e.source.table").as("table"), col("e.op").as("op"),
          col("e.ts_ms").as("ts_ms"), col("e.before").as("before"),
          col("e.after").as("after"), col("e.source.lsn").as("lsn"),
          col("e.source.txId").as("txId"))
      assert(changes.count() == 4)

      import spark.implicits._
      val base = Seq(("3", "eve")).toDF("id", "name")
      val state = graft.cdc.Apply.applyChanges(base, changes, "id", Seq("name"))
        .orderBy("id").collect().map(r => (r.getString(0), r.getString(1)))
      assert(state.toSeq == Seq(("1", "ada2"), ("3", "eve")),
        "update applied, delete dropped, untouched base row kept")
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("multi-broker read routes each partition's fetches to its leader") {
    val spark = graft.SparkTestSession.spark
    // partition p is led by node p; each broker stores only what it leads,
    // so a misrouted fetch would find an empty log and stall out
    var table: Seq[(Int, String, Int)] = Nil
    val leaders = (_: Int, p: Int) => p
    val a = new ScriptedKafkaBroker("routed", 2, nodeId = 0,
      brokerTable = () => table, partitionLeaders = leaders, owned = _ == 0)
    val b = new ScriptedKafkaBroker("routed", 2, nodeId = 1,
      brokerTable = () => table, partitionLeaders = leaders, owned = _ == 1)
    table = Seq((0, "127.0.0.1", a.port), (1, "127.0.0.1", b.port))
    try {
      val keys = (0 until 16).map(i => s"key-$i".getBytes)
      assert(keys.map(KafkaWire.partitionFor(_, 2)).toSet == Set(0, 1))
      val cluster = new KafkaWireCluster("127.0.0.1", a.port)
      try cluster.send("routed", keys.map(k => (k, "v".getBytes, 1L)))
      finally cluster.close()

      // bootstrap via A; partition 1's slice must still be read from B
      val df = KafkaWireSource.read(spark, "127.0.0.1", a.port, "routed")
      val rows = df.selectExpr("partition", "cast(key as string) as key").collect()
      assert(rows.length == 16)
      assert(rows.map(_.getInt(0)).toSet == Set(0, 1))
      rows.foreach { r =>
        assert(r.getInt(0) ==
          KafkaWire.partitionFor(r.getString(1).getBytes, 2))
      }
      assert(a.failure == null, s"broker A failure: ${a.failure}")
      assert(b.failure == null, s"broker B failure: ${b.failure}")
    } finally { a.stop(); b.stop() }
  }

  test("an empty topic plans empty slices and returns zero rows") {
    val spark = graft.SparkTestSession.spark
    val broker = new ScriptedKafkaBroker("empty", numPartitions = 2)
    try {
      val df = KafkaWireSource.read(spark, "127.0.0.1", broker.port, "empty")
      assert(df.count() == 0)
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }
}
