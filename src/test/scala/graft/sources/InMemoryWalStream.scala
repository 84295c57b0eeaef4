package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The specs' one source double: the DSv2 CDC stream
  * ([[CdcSourceProvider]]) over the in-memory WAL `walId`, which test code
  * fills with [[InMemoryWal.append]]. */
object InMemoryWalStream {
  def apply(spark: SparkSession, walId: String): DataFrame =
    spark.readStream.format("graft.sources.CdcSourceProvider")
      .option("wal.client", "graft.sources.InMemoryWalClient")
      .option("wal.id", walId)
      .load()
}
