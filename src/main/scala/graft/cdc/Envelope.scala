package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Debezium-envelope construction as pure column expressions (SURVEY.md
  * §2.7 T5–T8). The reference assembles the envelope imperatively per row
  * (`pkg/postgres/source.go:242-263`, `pkg/mongo/source.go:211-233`); here
  * it is a `select` over codegen'd built-ins, so envelope construction
  * rides inside whole-stage codegen and scales with partitions.
  *
  * Input contract: a frame of raw change rows with columns
  *   before: Map[String,String] | null
  *   after:  Map[String,String] | null
  *   op:     String               ("c"|"u"|"d"|"r" or a source op name)
  *   ts_ms:  Long
  * plus source-metadata values supplied by the caller.
  */
object Envelope {

  /** Mongo operationType -> Debezium op code
    * (`pkg/mongo/source.go:189-200`): insert->c, update/replace->u,
    * delete->d, default r.
    */
  def mongoOpCode(opType: Column): Column =
    when(opType === "insert", "c")
      .when(opType === "update" || opType === "replace", "u")
      .when(opType === "delete", "d")
      .otherwise("r")

  /** source-metadata struct (`pkg/replicator/event.go:14-27`). */
  def sourceMeta(connector: String, name: String, db: Column, schemaCol: Column,
      table: Column, tsMs: Column, lsn: Column, txId: Column): Column =
    struct(
      lit("1.0").as("version"),
      lit(connector).as("connector"),
      lit(name).as("name"),
      tsMs.as("ts_ms"),
      lit("false").as("snapshot"),
      db.as("db"),
      lit("").as("sequence"),
      schemaCol.as("schema"),
      table.as("table"),
      txId.as("txId"),
      lsn.as("lsn"))

  /** Full envelope payload struct: before/after/source/op/ts_ms
    * (`pkg/replicator/event.go:30-37`; transaction always null, matching
    * `pkg/postgres/source.go:261`).
    */
  def payload(before: Column, after: Column, source: Column, op: Column,
      tsMs: Column): Column =
    struct(
      before.as("before"),
      after.as("after"),
      source.as("source"),
      op.as("op"),
      tsMs.as("ts_ms"),
      lit(null).cast("struct<id:string,total_order:bigint,data_collection_order:bigint>")
        .as("transaction"))

  /** Kafka message key `{db}.{schema}.{table}` — "similar to Debezium's
    * default key format" (`internal/integrations/kafka/repository.go:152-157`).
    */
  def kafkaKey(db: Column, schemaCol: Column, table: Column): Column =
    concat_ws(".", db, schemaCol, table)

  /** Project a raw change frame into the Kafka-ready (key, value) shape:
    * value = envelope JSON (T7, `internal/integrations/kafka/repository.go:143`).
    * The result feeds [[ReplicatePipeline.startToKafkaWire]] unchanged.
    */
  def toKafkaFrame(changes: DataFrame, connector: String, name: String): DataFrame = {
    val src = sourceMeta(connector, name,
      col("db"), col("schema"), col("table"), col("ts_ms"),
      coalesce(col("lsn"), lit(0L)), coalesce(col("txId"), lit(0L)))
    changes.select(
      kafkaKey(col("db"), col("schema"), col("table")).as("key"),
      to_json(payload(col("before"), col("after"), src, col("op"), col("ts_ms")))
        .as("value"))
  }
}
