package graft

import graft.functions._
import graft.replicate.LocalCheckpointFileManager
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** SparkSessionExtensions entry point — registers graft's custom
  * expressions at session build, so pure-SQL users get them without
  * touching the Scala API:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * spark.sql("SELECT vec_cosine(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * (`graft.functions.registerAll(spark)` does the same on an existing
  * session.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.sqlFunctionTable.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), builder))
    }
}

/** The one session builder for graft's entry points (`Cli`, `Bench`,
  * `Verify`, ScaleCheck): graft extensions, UTC, shuffle partitions =
  * cores (or `shufflePartitions`), AQE on, no web UI (the stats server is
  * the control surface), and [[graft.replicate.LocalCheckpointFileManager]]
  * as the streaming checkpoint file manager, so replicate queries on local
  * checkpoint directories commit their offset and commit logs without
  * starting a process (non-local schemes keep Spark's default manager).
  */
object GraftSession {
  def create(master: String = "local[*]",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val parts = shufflePartitions.getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      .getOrCreate()
    graft.functions.registerAll(spark) // cover getOrCreate of an existing session
    spark
  }
}
