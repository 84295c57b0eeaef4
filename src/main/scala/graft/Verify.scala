package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // usage: Verify <sfDir> <outDir> [queryName...] — extra args restrict
    // the dump to the named queries (fast single-query iteration); the
    // driver passes exactly two and gets the full surface.
    val sfDir = args(0)
    val outDir = args(1)
    val picked =
      if (args.length > 2) SparkEntry.pick(args.drop(2).toSeq)
      else SparkEntry.queries.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape of ALL control chars: a tab or CR in
    // oracle SQL would otherwise make the DuckDB compare's json.load
    // fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
