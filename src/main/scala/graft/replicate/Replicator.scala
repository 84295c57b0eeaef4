package graft.replicate

import graft.Json
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** Accumulated per-replicator counters, fed by a StreamingQueryListener
  * (reference: mutex-guarded SourceStats/TargetStats,
  * `pkg/replicator/stats.go:5-45`).
  */
class ReplicatorStats {
  val totalEvents = new AtomicLong(0)
  val totalBatches = new AtomicLong(0)
  val checkpoints = new AtomicLong(0)
  val errors = new AtomicLong(0)
  val writeErrors = new AtomicLong(0)
  val signalsReceived = new AtomicLong(0)
  val startedAtMs = new AtomicLong(0)
  val stoppedAtMs = new AtomicLong(0)
  val lastEventAtMs = new AtomicLong(0)
  val lastError = new AtomicReference[String]("")

  /** Target-side delivery-report hook (the `onError` of
    * [[graft.cdc.ReplicatePipeline.startToKafkaWire]]): counts
    * write failures separately from query-level errors, like the
    * reference's WriteErrorCount vs EventErrorCount
    * (`pkg/replicator/stats.go`, fed at
    * `internal/integrations/kafka/repository.go:106-109`).
    */
  def recordWriteError(batchId: Long, e: Throwable): Unit = {
    writeErrors.incrementAndGet()
    val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    lastError.set(s"batch $batchId: $msg")
  }

  /** Frozen at stop time — a stopped replicator's uptime must not keep
    * climbing.
    */
  def uptimeMs: Long =
    if (startedAtMs.get == 0) 0
    else {
      val end = if (stoppedAtMs.get != 0) stoppedAtMs.get else System.currentTimeMillis()
      end - startedAtMs.get
    }

  private def iso(ms: Long): String =
    if (ms == 0) "1970-01-01T00:00:00Z"
    else java.time.Instant.ofEpochMilli(ms).toString

  /** Three-level stats payload, shape-compatible with the reference
    * (`README.md:180-224`: source / target / replicator blocks).
    */
  def toJson(state: String, healthy: Boolean): String = {
    val src =
      s"""{"total_events":${totalEvents.get},"connection_healthy":$healthy,
         |"event_error_count":${errors.get},
         |"last_event_at":"${iso(lastEventAtMs.get)}"}""".stripMargin.replace("\n", "")
    val tgt =
      s"""{"total_events":${totalEvents.get},"connection_healthy":$healthy,
         |"write_error_count":${writeErrors.get},
         |"last_error":${Json.str(lastError.get)},
         |"last_write_at":"${iso(lastEventAtMs.get)}"}""".stripMargin.replace("\n", "")
    val repl =
      s"""{"started_at":"${iso(startedAtMs.get)}","uptime_seconds":${uptimeMs / 1000},
         |"state":"$state","checkpoint_count":${checkpoints.get},
         |"total_batches":${totalBatches.get},
         |"signals_received":${signalsReceived.get}}""".stripMargin.replace("\n", "")
    s"""{"source":$src,"target":$tgt,"replicator":$repl}"""
  }
}

/** Streaming-CDC control plane: wraps a restartable StreamingQuery behind
  * the reference's FSM (`pkg/replicator/replicator.go:215-284`) and signal
  * surface (pause/resume/stop/restart, `:288-344`).
  *
  * Pause has no native Spark equivalent — it is implemented as a graceful
  * `query.stop()` plus restart-from-checkpoint on resume (SURVEY.md §7.3
  * hard-part 6); the checkpointLocation inside `buildQuery` makes that
  * exactly-resumable, so the observable semantics (at-least-once delivery,
  * resume from last committed position) match the reference's
  * write-then-checkpoint loop.
  */
class Replicator(
    val id: String,
    spark: SparkSession,
    buildQuery: SparkSession => StreamingQuery) {

  val fsm = new Fsm()
  val stats = new ReplicatorStats
  private val query = new AtomicReference[StreamingQuery](null)

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val q = query.get
      if (q != null && e.progress.id == q.id) {
        stats.totalBatches.incrementAndGet()
        val rows = e.progress.numInputRows
        if (rows > 0) {
          stats.totalEvents.addAndGet(rows)
          stats.lastEventAtMs.set(System.currentTimeMillis())
        }
        stats.checkpoints.incrementAndGet() // each committed micro-batch = one checkpoint
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val q = query.get
      if (q != null && e.id == q.id && e.exception.isDefined)
        stats.errors.incrementAndGet()
    }
  }

  def start(): Unit = synchronized {
    fsm.transition(FsmState.Connecting)
    try {
      spark.streams.addListener(listener)
      query.set(buildQuery(spark))
      stats.startedAtMs.set(System.currentTimeMillis())
      stats.stoppedAtMs.set(0)
      fsm.transition(FsmState.Streaming)
    } catch {
      case e: Throwable =>
        stats.errors.incrementAndGet()
        fsm.transition(FsmState.Error)
        throw e
    }
  }

  def pause(): Unit = synchronized {
    stats.signalsReceived.incrementAndGet()
    fsm.transition(FsmState.Paused)
    Option(query.getAndSet(null)).foreach(_.stop())
  }

  def resume(): Unit = synchronized {
    stats.signalsReceived.incrementAndGet()
    // build first: a failed build must leave the FSM in Error, not claim
    // a healthy streaming state with no query behind it
    try {
      val q = buildQuery(spark)
      query.set(q)
      fsm.transition(FsmState.Streaming)
    } catch {
      case e: Throwable =>
        stats.errors.incrementAndGet()
        fsm.transition(FsmState.Error)
        throw e
    }
  }

  def stop(): Unit = synchronized {
    stats.signalsReceived.incrementAndGet()
    fsm.transition(FsmState.Stopped)
    Option(query.getAndSet(null)).foreach(_.stop())
    stats.stoppedAtMs.set(System.currentTimeMillis())
    spark.streams.removeListener(listener)
  }

  def restart(): Unit = synchronized {
    stats.signalsReceived.incrementAndGet()
    fsm.transition(FsmState.Reconnecting)
    Option(query.getAndSet(null)).foreach(_.stop())
    try {
      query.set(buildQuery(spark))
      fsm.transition(FsmState.Streaming)
    } catch {
      case e: Throwable =>
        stats.errors.incrementAndGet()
        fsm.transition(FsmState.Error)
        throw e
    }
  }

  /** Block until the current query has processed all available input —
    * test/drain hook (maps to `processAllAvailable`).
    */
  def processAllAvailable(): Unit =
    Option(query.get).foreach(_.processAllAvailable())

  def activeQuery: Option[StreamingQuery] = Option(query.get)

  def stateJson: String = {
    val st = fsm.state // single read — state/healthy must agree under races
    val state = st.toString.toLowerCase
    // paused stops the query: no live connection, so not "healthy"
    val healthy = st == FsmState.Streaming
    s"""{"id":"$id","state":"$state","stats":${stats.toJson(state, healthy)}}"""
  }
}

/** Process-wide registry backing the stats/control HTTP server. */
object ReplicatorRegistry {
  private val reg = new java.util.concurrent.ConcurrentHashMap[String, Replicator]()
  def register(r: Replicator): Unit = reg.put(r.id, r)
  def get(id: String): Option[Replicator] = Option(reg.get(id))
  def all: Seq[Replicator] = {
    import scala.jdk.CollectionConverters._
    reg.values.asScala.toSeq.sortBy(_.id)
  }
  def clear(): Unit = reg.clear()
}
