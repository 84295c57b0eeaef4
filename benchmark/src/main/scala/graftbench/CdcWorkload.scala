package graftbench

import graft.cdc.{Envelope, KafkaWire, ReplicatePipeline}
import graft.replicate.{Replicator, ReplicatorRegistry}
import graft.sources.{PgOutputWalClient, PgTransports, ReplicationTransport, WalClient, WalRecord}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A replication frame, tagged with the identity of the change it
  * carries (null for Begin/Commit/Relation frames).
  */
final case class Frame(bytes: Array[Byte], event: String)

/** The replication connection stand-in: frames the generator enqueues
  * are what [[graft.sources.PgOutputSession]] receives. It records when
  * each tagged change frame was pulled (decoded), while tracing is on.
  */
final class QueueTransport extends ReplicationTransport {
  val queue = new ConcurrentLinkedQueue[Frame]()
  val framesReceived = new AtomicLong
  @volatile var firstReceiveNs = 0L
  val decodedNs = new ConcurrentHashMap[String, java.lang.Long]()

  override def receive(): Option[Array[Byte]] = {
    val f = queue.poll()
    if (f == null) None
    else {
      framesReceived.incrementAndGet()
      if (firstReceiveNs == 0L) firstReceiveNs = System.nanoTime()
      if (Trace.on && f.event != null) decodedNs.put(f.event, System.nanoTime())
      Some(f.bytes)
    }
  }
  override def send(frame: Array[Byte]): Unit = () // standby status updates
}

/** What the delegating WAL client saw (shared through the JVM, as the
  * program's own transport registry is).
  */
object CdcProbe {
  /** (start, end, offset advanced) of each latestOffset drain + decode. */
  val latest = new ConcurrentLinkedQueue[(Long, Long, Boolean)]()
  /** (first pull, last pull, time inside the source, rows) per partition read. */
  val reads = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  val commits = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var committedLsn = 0L
  /** commit LSN -> (events staged up to and including it, due time); traced run only. */
  val staged = new ConcurrentSkipListMap[java.lang.Long, (Long, Long)]()

  def reset(): Unit = {
    latest.clear(); reads.clear(); commits.clear(); staged.clear(); committedLsn = 0L
  }
}

/** Delegating [[WalClient]] for the traced run, passed by the `wal.client`
  * option: times the program's [[PgOutputWalClient]] calls.
  */
final class TracedWalClient extends WalClient {
  private val inner = new PgOutputWalClient
  private var last = Long.MinValue

  override def configure(options: Map[String, String]): Unit = inner.configure(options)

  override def latest(): Long = {
    val t0 = System.nanoTime()
    val l = inner.latest()
    if (Trace.on) CdcProbe.latest.add((t0, System.nanoTime(), l != last))
    last = l
    l
  }

  override def read(fromExclusive: Long, toInclusive: Long): Iterator[WalRecord] = {
    val it = inner.read(fromExclusive, toInclusive)
    if (!Trace.on) it
    else new Iterator[WalRecord] {
      private var first = 0L
      private var inside = 0L
      private var rows = 0L
      private var done = false
      override def hasNext: Boolean = {
        val t0 = System.nanoTime()
        if (first == 0L) first = t0
        val h = it.hasNext
        val t1 = System.nanoTime()
        inside += t1 - t0
        if (!h && !done) { done = true; CdcProbe.reads.add((first, t1, inside, rows)) }
        h
      }
      override def next(): WalRecord = {
        val t0 = System.nanoTime()
        val r = it.next()
        inside += System.nanoTime() - t0
        rows += 1
        r
      }
    }
  }

  override def commit(upToInclusive: Long): Unit = {
    val t0 = System.nanoTime()
    inner.commit(upToInclusive)
    if (Trace.on) CdcProbe.commits.add((t0, System.nanoTime()))
    CdcProbe.committedLsn = upToInclusive
  }
}

/** Broker and pipeline counters at one instant, for per-window deltas. */
final case class CdcCounters(connections: Long, handshakes: Long, produces: Long,
    records: Long, bytes: Long, idleNs: Long, frames: Long) {
  def -(o: CdcCounters): CdcCounters = CdcCounters(connections - o.connections,
    handshakes - o.handshakes, produces - o.produces, records - o.records,
    bytes - o.bytes, idleNs - o.idleNs, frames - o.frames)
  def +(o: CdcCounters): CdcCounters = CdcCounters(connections + o.connections,
    handshakes + o.handshakes, produces + o.produces, records + o.records,
    bytes + o.bytes, idleNs + o.idleNs, frames + o.frames)
}

/** The CDC product path end to end: seeded pgoutput frames -> the
  * program's PgOutputSession/PgOutputWalClient -> CdcSourceProvider (DSv2)
  * -> Envelope.toKafkaFrame -> ReplicatePipeline.startToKafkaWire, run by
  * a Replicator registered with the StatsServer -> the loopback broker.
  *
  * `bulk`: a backlog of multi-row transactions over 8 wide relations is
  * staged, released, and drained; repeated in rounds for the run length.
  * Otherwise (trickle): an open-loop generator thread emits single-row
  * transactions on 2 narrow relations at each rung of a fixed rate ladder.
  */
final class CdcWorkload(ctx: RunContext, bulk: Boolean,
    faults: BrokerFaults = BrokerFaults()) extends Workload {
  private val spec = ctx.spec
  private val id = if (bulk) "bench-bulk" else "bench-trickle"
  private val transportId = s"graftbench-$id"
  private val topic = "cdc"
  private val relations =
    if (bulk) RelSpec.wide(spec.int("cdc_bulk.relations"))
    else RelSpec.narrow(spec.int("cdc_trickle.relations"))

  private var broker: LoopbackBroker = _
  private var frames: PgFrames = _
  private var transport: QueueTransport = _
  private var replicator: Replicator = _
  private var staged: (IndexedSeq[Frame], IndexedSeq[ExpectedEvent]) = _

  // correctness bookkeeping
  private val pending = new ConcurrentHashMap[String, (ExpectedEvent, Long)]() // identity -> (expected, due ns)
  private val seen = mutable.HashSet.empty[String]
  private val lastLsnByKey = mutable.Map.empty[(Int, String), Long]
  private val problemList = mutable.ArrayBuffer.empty[String]
  private var generated = 0L
  private var badEvents = 0L
  private var duplicates = 0L
  private var lastEvents: IndexedSeq[ExpectedEvent] = IndexedSeq.empty

  // measurements
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private var throughputPerS = Double.NaN
  private val reportMetrics = mutable.ArrayBuffer.empty[Metric]
  private val layer = mutable.Map.empty[String, Double]
  private val tracedWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var tracedCounters = CdcCounters(0, 0, 0, 0, 0, 0, 0)
  private val generatorLateMs = mutable.ArrayBuffer.empty[Double]
  private val backlogSamples = mutable.ArrayBuffer.empty[Double]
  private val lagSamples = mutable.ArrayBuffer.empty[Double]
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  override def statsPath: String = s"/api/v1/replicators/$id"

  override def prepare(): Unit = {
    if (broker != null) broker.stop()
    broker = new LoopbackBroker(topic, spec.int("cdc.partitions"), faults)
    frames = new PgFrames(ctx.seed, relations)
    transport = new QueueTransport
    pending.clear()
    generated = 0L
    if (bulk) staged = stageBacklog(spec.int("cdc_bulk.round_events"))
  }

  /** Frames for a backlog of at least `events` changes in multi-row
    * transactions, committed now.
    */
  private def stageBacklog(events: Int): (IndexedSeq[Frame], IndexedSeq[ExpectedEvent]) = {
    val maxRows = spec.int("cdc_bulk.max_tx_rows")
    val rnd = new java.util.SplittableRandom(ctx.seed * 31 + generated)
    val out = IndexedSeq.newBuilder[Frame]
    val evs = IndexedSeq.newBuilder[ExpectedEvent]
    var n = 0
    val commitMicros = Clock.wallMicrosOfNs(System.nanoTime())
    while (n < events) {
      val tx = frames.transaction(rnd.nextInt(1, maxRows + 1), commitMicros)
      val tags = mutable.Map(tx.changeFrames.zip(tx.events.map(_.identity)): _*)
      tx.frames.indices.foreach(i => out += Frame(tx.frames(i), tags.getOrElse(i, null)))
      evs ++= tx.events
      n += tx.events.size
    }
    (out.result(), evs.result())
  }

  override def warmUp(): Unit = {
    CdcProbe.reset()
    PgTransports.clear(transportId)
    PgTransports.register(transportId, transport)
    ReplicatorRegistry.clear()
    val ckpt = ctx.fresh(s"$id-checkpoint").toString
    val walClient =
      if (ctx.traced) classOf[TracedWalClient].getName else classOf[PgOutputWalClient].getName
    lazy val r: Replicator = new Replicator(id, ctx.spark, s => {
      val changes = s.readStream.format("graft.sources.CdcSourceProvider")
        .option("wal.client", walClient)
        .option("pg.transport.id", transportId)
        .option("pg.database", "appdb")
        .load()
      ReplicatePipeline.startToKafkaWire(Envelope.toKafkaFrame(changes, "postgresql", "graft"),
        "127.0.0.1", broker.port, topic, ckpt,
        onError = (b, e) => r.stats.recordWriteError(b, e))
    })
    replicator = r
    ReplicatorRegistry.register(r)
    ctx.spark.streams.addListener(progressListener)
    r.start()
    if (bulk) {
      bulkRound(staged)
      staged = null
      // the drain keeps speeding up over its first rounds (JIT); measure after
      (1 until spec.int("cdc_bulk.warmup_rounds")).foreach(_ =>
        bulkRound(stageBacklog(spec.int("cdc_bulk.round_events"))))
    } else {
      runRung(Rung(spec.double("cdc_trickle.warmup_rate_per_s"), 0), spec.double("cdc_trickle.warmup_s"), "warmup")
      // the top rung's large micro-batches take code paths the trickle does not
      runRung(spec.ladder.last, spec.double("cdc_trickle.warmup_burst_s"), "warmup-burst")
    }
    latencies.clear()
  }

  override def measure(): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    if (bulk) measureBulk(deadline) else measureTrickle()
    val stats = finalStatsCheck()
    reportMetrics += Metric("stats_total_events", stats, "count")
    if (ctx.traced) traceLayers()
  }

  // ------------------------------------------------------------- bulk --

  private val roundRates = mutable.ArrayBuffer.empty[(Boolean, Double)]

  private def measureBulk(deadline: Long): Unit = {
    val roundEvents = spec.int("cdc_bulk.round_events")
    var i = 0
    // at least three rounds, whatever the run length
    while (i < 3 || System.nanoTime() < deadline) {
      val backlog = stageBacklog(roundEvents)
      val traced = ctx.traced && i % 2 == 1
      roundRates += ((traced, withTrace(traced)(bulkRound(backlog))))
      i += 1
    }
    val untraced = roundRates.filter(!_._1).map(_._2)
    throughputPerS = Stats.median(untraced)
    reportMetrics += Metric("cdc_drain_events_per_s", throughputPerS, "1/s")
    reportMetrics += Metric("cdc_drain_rounds", untraced.size, "count")
    reportMetrics += Metric("cdc_drain_events_per_round", roundEvents, "count")
    roundRates.zipWithIndex.foreach { case ((t, r), i) =>
      reportMetrics += Metric(s"round${i}_${if (t) "traced" else "untraced"}_events_per_s", r, "1/s")
    }
    if (ctx.traced) {
      val traced = roundRates.filter(_._1).map(_._2)
      layer("trace.overhead_pct") = (Stats.median(untraced) / Stats.median(traced) - 1) * 100
    }
  }

  /** Release one staged backlog and wait until it is acked; returns the
    * drain rate (events acked per second from the replicator's first read
    * of the backlog to the last ack). Events not acked within the timeout
    * count as failed, and the round's rate then runs to the end of the
    * wait, so a fault never reads as a faster round.
    */
  private def bulkRound(backlog: (IndexedSeq[Frame], IndexedSeq[ExpectedEvent])): Double = {
    val (fs, evs) = backlog
    val before = broker.producedRecords.get
    transport.firstReceiveNs = 0L
    val released = System.nanoTime()
    evs.foreach(e => pending.put(e.identity, (e, released)))
    generated += evs.size
    if (ctx.traced) CdcProbe.staged.put(evs.last.lsn, (generated, released))
    transport.queue.addAll(fs.asJava)
    val complete = awaitAcks(before + evs.size)
    val waited = System.nanoTime()
    verify()
    val acks = evs.flatMap(e => Option(firstAck.remove(e.identity)).map(_.longValue))
    val firstRead = if (transport.firstReceiveNs == 0L) released else transport.firstReceiveNs
    val lastAck = if (complete && acks.nonEmpty) acks.max else waited
    lastEvents = evs
    acks.size / ((lastAck - firstRead) / 1e9)
  }

  /** Wait until the broker has acked `target` records in total; false on
    * timeout or when the query has died.
    */
  private def awaitAcks(target: Long): Boolean = {
    val deadline = System.nanoTime() + (spec.double("cdc.ack_timeout_s") * 1e9).toLong
    while (broker.producedRecords.get < target && System.nanoTime() < deadline &&
        replicator.activeQuery.exists(_.isActive)) {
      sampleBacklog()
      LockSupport.parkNanos(1000000L)
    }
    broker.producedRecords.get >= target
  }

  private def sampleBacklog(): Unit = if (Trace.on) {
    val now = System.nanoTime()
    val committed = Option(CdcProbe.staged.floorEntry(CdcProbe.committedLsn)).map(_.getValue._1).getOrElse(0L)
    backlogSamples += (generated - committed).toDouble
    Option(CdcProbe.staged.higherEntry(CdcProbe.committedLsn)).foreach { e =>
      lagSamples += (now - e.getValue._2) / 1e6
    }
  }

  // ---------------------------------------------------------- trickle --

  private case class RungResult(rung: Rung, label: String, latMs: Seq[Double],
      achievedPerS: Double, ackedPerS: Double, backlogAtEnd: Long, allAcked: Boolean) {
    def p99: Double = Stats.percentile(latMs, 0.99)
    def sustained(limitMs: Double): Boolean =
      allAcked && latMs.nonEmpty && p99 <= limitMs && backlogAtEnd <= rung.ratePerS * limitMs / 1000
  }
  private val rungResults = mutable.ArrayBuffer.empty[RungResult]

  private def measureTrickle(): Unit = {
    val ladder = spec.ladder
    val ref = spec.referenceRung
    val limit = spec.p99LimitMs
    ladder.zipWithIndex.foreach { case (rung, i) =>
      val secs = rung.share * ctx.seconds
      if (i == ref && ctx.traced) {
        // the reference rung's two halves give the tracing overhead
        val a = withTrace(on = false)(runRung(rung, secs / 2, s"rung$i-untraced"))
        val b = withTrace(on = true)(runRung(rung, secs / 2, s"rung$i"))
        layer("trace.overhead_pct") = (Stats.median(b.latMs) / Stats.median(a.latMs) - 1) * 100
      } else withTrace(ctx.traced)(runRung(rung, secs, s"rung$i"))
    }
    val results = rungResults.filter(r => r.label.startsWith("rung") && !r.label.endsWith("untraced")).toIndexedSeq
    val refRes = results.find(_.label == s"rung$ref").get
    latencies ++= refRes.latMs
    val passing = results.filter(_.sustained(limit))
    // the top rung overloads the pipeline: its delivered rate is the capacity
    throughputPerS = results.last.ackedPerS
    reportMetrics += Metric("cdc_commit_to_ack_p50_ms", Stats.median(refRes.latMs), "ms")
    reportMetrics += Metric("cdc_commit_to_ack_p99_ms", refRes.p99, "ms")
    reportMetrics += Metric("cdc_commit_to_ack_samples", refRes.latMs.size, "count")
    reportMetrics += Metric("cdc_sustained_events_per_s",
      if (passing.isEmpty) 0.0 else passing.map(_.achievedPerS).max, "1/s")
    reportMetrics += Metric("cdc_overload_acked_per_s", throughputPerS, "1/s")
    results.foreach { r =>
      reportMetrics += Metric(s"${r.label}_rate_per_s", r.rung.ratePerS, "1/s")
      reportMetrics += Metric(s"${r.label}_acked_per_s", r.ackedPerS, "1/s")
      reportMetrics += Metric(s"${r.label}_p50_ms", Stats.median(r.latMs), "ms")
      reportMetrics += Metric(s"${r.label}_p99_ms", r.p99, "ms")
      reportMetrics += Metric(s"${r.label}_backlog_at_end", r.backlogAtEnd.toDouble, "count")
      reportMetrics += Metric(s"${r.label}_sustained", if (r.sustained(limit)) 1 else 0, "bool")
    }
    reportMetrics += Metric("bench.generator_late_ms_p99", Stats.percentile(generatorLateMs.toSeq, 0.99), "ms")
    layer("bench.generator_late_ms_p99") = Stats.percentile(generatorLateMs.toSeq, 0.99)
  }

  /** Emit single-row transactions at `rung.ratePerS` for `secs` seconds
    * from one generator thread on a fixed schedule (open loop: a slow
    * pipeline never delays the schedule), then wait for the acks.
    */
  private def runRung(rung: Rung, secs: Double, label: String): RungResult = {
    val n = math.max(1, (rung.ratePerS * secs).toInt)
    val periodNs = 1e9 / rung.ratePerS
    val before = broker.producedRecords.get
    val dues = new Array[Long](n)
    val sample = mutable.ArrayBuffer.empty[ExpectedEvent]
    val ids = new Array[String](n)
    val relIdx = relations.indices
    val start = System.nanoTime() + 20000000L
    val emitted = new Array[Long](n)
    val gen = new Thread(() => {
      var k = 0
      while (k < n) {
        val now = System.nanoTime()
        while (k < n && start + (k * periodNs).toLong <= now) {
          val due = start + (k * periodNs).toLong
          val tx = frames.transaction(1, Clock.wallMicrosOfNs(due), relIdx)
          val e = tx.events.head
          pending.put(e.identity, (e, due))
          dues(k) = due
          ids(k) = e.identity
          val change = tx.changeFrames.head
          generatorLateMs.synchronized(generatorLateMs += (System.nanoTime() - due) / 1e6)
          if (ctx.traced) CdcProbe.staged.put(e.lsn, (generated + k + 1, due))
          tx.frames.indices.foreach(i => transport.queue.add(Frame(tx.frames(i), if (i == change) e.identity else null)))
          emitted(k) = System.nanoTime()
          if (k >= n - encodeSample) sample += e
          k += 1
        }
        if (k < n) {
          val wait = start + (k * periodNs).toLong - System.nanoTime()
          if (wait > 0) LockSupport.parkNanos(wait)
        }
      }
    }, "pgoutput-generator")
    gen.start()
    val end = start + (secs * 1e9).toLong
    while (gen.isAlive) { sampleBacklog(); gen.join(5) }
    val rungEnd = math.max(end, System.nanoTime())
    generated += n
    val complete = awaitAcks(before + n)
    verify()
    val ackOf = ids.map(i => Option(firstAck.remove(i)).map(_.longValue))
    val lat = (0 until n).flatMap(k => ackOf(k).map(a => (a - dues(k)) / 1e6))
    val backlogAtEnd = (0 until n).count(k => dues(k) <= rungEnd && ackOf(k).forall(_ > rungEnd))
    val acked = ackOf.flatten
    if (Trace.on) (0 until n).foreach { k =>
      ackOf(k).foreach(a => eventTimes += ((dues(k), Option(transport.decodedNs.remove(ids(k))).map(_.longValue).getOrElse(a), a)))
    }
    // the rate the generator actually offered, counted only when every
    // event of the rung was acked
    val offered = if (n < 2 || acked.size < n) 0.0 else (n - 1) / ((emitted(n - 1) - emitted(0)) / 1e9)
    // and the rate the pipeline delivered them: the rung's events over the
    // time from its first due time to its last ack
    val ackedPerS = if (acked.size < n) 0.0 else n / ((acked.max - dues(0)) / 1e9)
    lastEvents = sample.toIndexedSeq
    val res = RungResult(rung, label, lat, offered, ackedPerS, backlogAtEnd, complete)
    rungResults += res
    res
  }

  /** How many of a rung's last events the direct encode timings reuse. */
  private val encodeSample = 2000

  /** (due, decoded, acked) of every traced trickle event. */
  private val eventTimes = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** First-delivery ack time per change identity, until its round reads it. */
  private val firstAck = new ConcurrentHashMap[String, java.lang.Long]()

  // ----------------------------------------------------------- checks --

  /** Check every record acked since the last call against the
    * generator's expectation: envelope digest, partition = murmur2(key),
    * LSN order per key, duplicates.
    */
  private def verify(): Unit = {
    val n = broker.numPartitions
    broker.drain().foreach { r =>
      val keyStr = new String(r.key, StandardCharsets.UTF_8)
      val v = try Json.parse(new String(r.value, StandardCharsets.UTF_8)) catch { case _: Exception => null }
      if (v == null) problem(s"unparseable envelope on partition ${r.partition}")
      else {
        val src = v.get("source")
        val op = v.get("op").asText()
        val table = src.get("table").asText()
        val lsn = src.get("lsn").asLong()
        def img(f: String): Map[String, String] = Option(v.get(f)).filterNot(_.isNull).map { o =>
          o.properties().asScala.map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap
        }.orNull
        val before = img("before")
        val after = img("after")
        val idn = ExpectedEvent.identity(table, Option(if (op == "d") before else after).flatMap(_.get("id")).orNull, lsn)
        if (KafkaWire.partitionFor(r.key, n) != r.partition) {
          badEvents += 1; problem(s"key $keyStr on partition ${r.partition}")
        }
        if (keyStr != s"${src.get("db").asText()}.${src.get("schema").asText()}.$table") {
          badEvents += 1; problem(s"key $keyStr does not name ${src.get("table").asText()}")
        }
        if (seen(idn)) duplicates += 1
        else {
          val last = lastLsnByKey.getOrElse((r.partition, keyStr), Long.MinValue)
          if (lsn < last) { badEvents += 1; problem(s"LSN $lsn after $last on key $keyStr") }
          lastLsnByKey((r.partition, keyStr)) = lsn
          Option(pending.remove(idn)) match {
            case None => badEvents += 1; problem(s"acked change $idn was never generated")
            case Some((exp, due)) =>
              seen += idn
              val got = ExpectedEvent.digest(op, table, lsn, src.get("txId").asLong(),
                v.get("ts_ms").asLong(), before, after)
              if (got != exp.digest) { badEvents += 1; problem(s"envelope of $idn differs from the generated change") }
              firstAck.put(idn, r.ackNs)
              if (bulk) latencies += (r.ackNs - due) / 1e6
          }
        }
      }
    }
  }

  private def problem(s: String): Unit = if (problemList.size < 50) problemList += s

  /** The stats endpoint's final `total_events` (read over HTTP) must
    * equal the events the pipeline processed; returns the value read.
    */
  private def finalStatsCheck(): Double = {
    val deadline = System.nanoTime() + 10000000000L
    var total = -1L
    while (total != generated && System.nanoTime() < deadline) {
      val (code, body) = StatsPoller.getOnce(ctx.statsPort, statsPath)
      total = if (code != 200) -1L else Json.parse(body).get("stats").get("source").get("total_events").asLong()
      if (total != generated) Thread.sleep(20)
    }
    if (total != generated) problem(s"stats total_events $total != $generated events processed")
    total.toDouble
  }

  // ---------------------------------------------------------- tracing --

  private def withTrace[T](on: Boolean)(body: => T): T = {
    val was = Trace.on
    Trace.on = on
    val c0 = counters
    val t0 = System.nanoTime()
    try body
    finally {
      if (on) {
        tracedWindows += ((t0, System.nanoTime()))
        tracedCounters = tracedCounters + (counters - c0)
      }
      Trace.on = was
    }
  }

  private def counters: CdcCounters = CdcCounters(broker.connections.get,
    broker.handshakeRequests.get, broker.produceRequests.get, broker.producedRecords.get,
    broker.producedBytes.get, broker.idleNs.get, transport.framesReceived.get)

  private def inTraced(ns: Long): Boolean = tracedWindows.exists { case (a, b) => a <= ns && ns <= b }

  /** Per-layer figures over the traced windows, and the span tree. */
  private def traceLayers(): Unit = {
    val batches = progress.asScala.toIndexedSeq
      .filter(p => p.numInputRows > 0 && inTraced(Clock.nsOfWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)))
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val nb = batches.size.toDouble
    layer("replicate.batches") = nb
    layer("replicate.rows_per_batch_p50") = Stats.median(batches.map(_.numInputRows.toDouble))
    layer("replicate.trigger_ms_p50") = Stats.median(batches.map(d(_, "triggerExecution")))
    layer("replicate.add_batch_ms_p50") = Stats.median(batches.map(d(_, "addBatch")))
    layer("replicate.latest_offset_ms_p50") = Stats.median(batches.map(d(_, "latestOffset")))
    layer("replicate.query_planning_ms_p50") = Stats.median(batches.map(d(_, "queryPlanning")))
    layer("replicate.offset_log_ms_p50") = Stats.median(batches.map(p => d(p, "walCommit") + d(p, "commitOffsets")))
    val windowMs = tracedWindows.map { case (a, b) => (b - a) / 1e6 }.sum
    layer("replicate.idle_ms") = windowMs - batches.map(d(_, "triggerExecution")).sum

    val latest = CdcProbe.latest.asScala.toIndexedSeq.filter(_._3)
    val reads = CdcProbe.reads.asScala.toIndexedSeq
    val commits = CdcProbe.commits.asScala.toIndexedSeq
    layer("sources.latest_ms") = Stats.median(latest.map(x => (x._2 - x._1) / 1e6))
    layer("sources.read_ms") = Stats.median(reads.map(_._3 / 1e6))
    layer("sources.commit_ms") = Stats.median(commits.map(x => (x._2 - x._1) / 1e6))
    layer("sources.frames") = tracedCounters.frames.toDouble
    layer("sources.events") = reads.map(_._4).sum.toDouble
    layer("sources.backlog_events") = if (backlogSamples.isEmpty) 0 else backlogSamples.max
    layer("sources.lag_ms") = Stats.median(lagSamples.toSeq)

    val c = tracedCounters
    layer("cdc.connections_per_batch") = c.connections / nb
    layer("cdc.handshake_requests_per_batch") = c.handshakes / nb
    layer("cdc.produce_requests") = c.produces.toDouble
    layer("cdc.records_per_produce") = c.records.toDouble / c.produces
    layer("cdc.bytes_per_produce") = c.bytes.toDouble / c.produces
    layer("cdc.max_inflight_per_conn") = broker.maxInflight.get.toDouble
    layer("cdc.broker_idle_ms_per_conn") = c.idleNs / 1e6 / c.connections
    layer("cdc.duplicates") = duplicates.toDouble
    directEncodeTimings()

    // spans: micro-batches with their drain / read / produce / phase children
    val batchSpans = batches.map { p =>
      val s = Clock.nsOfWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      Span(Trace.nextId(), 0, "replicate.batch", s, s + (d(p, "triggerExecution") * 1e6).toLong)
    }
    val phases = batches.zip(batchSpans).flatMap { case (p, b) =>
      // Spark's order: latestOffset, walCommit, queryPlanning, addBatch, commitOffsets
      val addStart = b.startNs + ((d(p, "latestOffset") + d(p, "walCommit") + d(p, "queryPlanning")) * 1e6).toLong
      val addEnd = addStart + (d(p, "addBatch") * 1e6).toLong
      Seq(Span(Trace.nextId(), b.id, "replicate.add_batch", addStart, addEnd),
        Span(Trace.nextId(), b.id, "replicate.offset_log", addEnd, b.endNs))
    }
    val addBatchSpans = phases.filter(_.name == "replicate.add_batch")
    val inner = Trace.nest(batchSpans, latest.map(x => Span(Trace.nextId(), 0, "sources.drain", x._1, x._2))) ++
      Trace.nest(addBatchSpans, reads.map(x => Span(Trace.nextId(), 0, "sources.read", x._1, x._2)) ++
        broker.produceSpans.asScala.toIndexedSeq.filter(x => inTraced(x._1))
          .map(x => Span(Trace.nextId(), 0, "cdc.produce", x._1, x._2)))
    (batchSpans ++ phases ++ inner).foreach(s => Trace.record(s.name, s.startNs, s.endNs, s.parent))
    if (!bulk) eventSpans()
  }

  /** Trickle: one span per event from due to acked, split at decode. */
  private def eventSpans(): Unit = eventTimes.foreach { case (due, decoded, acked) =>
    val e = Trace.record("event.commit_to_ack", due, acked)
    Trace.record("event.queued", due, decoded, e)
    Trace.record("event.delivered", decoded, acked, e)
  }

  /** Time the program's envelope projection and record-batch encoder on
    * the last round's own changes, one direct call each.
    */
  private def directEncodeTimings(): Unit = {
    val evs = lastEvents
    if (evs.nonEmpty) {
      import ctx.spark.implicits._
      val rows = evs.map(e => WalRecordRow("appdb", "public", e.table, e.op, e.tsMs, e.before, e.after, e.lsn, e.txId))
      val df = rows.toDF("db", "schema", "table", "op", "ts_ms", "before", "after", "lsn", "txId")
      Envelope.toKafkaFrame(df, "postgresql", "graft").collect() // warm
      val t0 = System.nanoTime()
      val kv = Envelope.toKafkaFrame(df, "postgresql", "graft").collect()
      layer("cdc.envelope_us_per_event") = (System.nanoTime() - t0) / 1e3 / evs.size
      val recs = kv.map(r => KafkaWire.Record(Some(r.getString(0).getBytes(StandardCharsets.UTF_8)),
        r.getString(1).getBytes(StandardCharsets.UTF_8), 0L)).toIndexedSeq
      KafkaWire.recordBatch(recs)
      val t1 = System.nanoTime()
      KafkaWire.recordBatch(recs)
      layer("cdc.encode_us_per_event") = (System.nanoTime() - t1) / 1e3 / evs.size
    }
  }

  override def attempted: Long = generated
  override def failed: Long = pending.size + badEvents
  override def problems: Seq[String] = {
    val lost = if (pending.isEmpty) Nil else Seq(s"${pending.size} generated changes never acked")
    problemList.toSeq ++ lost ++ Option(broker.failure).map(f => s"broker failure: $f")
  }
  override def throughput: Double = throughputPerS
  override def latenciesMs: Seq[Double] = latencies.toSeq
  override def report: Seq[Metric] = reportMetrics.toSeq
  override def perLayer: Map[String, Double] = layer.toMap

  override def close(): Unit = {
    if (replicator != null) try replicator.stop() catch { case _: Exception => }
    ctx.spark.streams.removeListener(progressListener)
    ReplicatorRegistry.clear()
    PgTransports.clear(transportId)
    if (broker != null) broker.stop()
  }
}

final case class WalRecordRow(db: String, schema: String, table: String, op: String,
    tsMs: Long, before: Map[String, String], after: Map[String, String], lsn: Long, txId: Long)
