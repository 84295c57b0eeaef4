package graftbench

import com.fasterxml.jackson.databind.JsonNode

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

final case class Rung(ratePerS: Double, share: Double)
final case class QuerySpec(name: String, floor: Boolean)

/** The benchmark's fixed definition, read from `spec.json`: sizes, the
  * trickle rate ladder and latency limit, and the analytics query list.
  * The metric names and units are BENCHMARK.json's.
  */
final case class Spec(root: JsonNode) {
  private def node(path: String): JsonNode =
    path.split('.').foldLeft(root)((n, k) => Option(n.get(k)).getOrElse(
      throw new IllegalArgumentException(s"spec.json lacks '$path'")))

  def int(path: String): Int = node(path).asInt()
  def long(path: String): Long = node(path).asLong()
  def double(path: String): Double = node(path).asDouble()
  def string(path: String): String = node(path).asText()

  def maxCores: Int = int("max_cores")
  def setupRepeats: Int = int("setup_repeats")
  def statsIntervalMs: Int = int("stats_interval_ms")
  def workloads: Seq[String] = node("workloads").fieldNames().asScala.toSeq

  def ladder: IndexedSeq[Rung] = node("cdc_trickle.ladder").elements().asScala
    .map(r => Rung(r.get("rate_per_s").asDouble(), r.get("share").asDouble())).toIndexedSeq
  def referenceRung: Int = int("cdc_trickle.reference_rung")
  def p99LimitMs: Double = double("cdc_trickle.p99_limit_ms")

  def queries: IndexedSeq[QuerySpec] = node("analytics_mix.queries").elements().asScala
    .map(q => QuerySpec(q.get("name").asText(), q.get("floor").asBoolean())).toIndexedSeq
}

object Spec {
  def load(p: Path): Spec = Spec(Json.parse(Files.readString(p)))
}
