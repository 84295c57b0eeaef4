package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Summary statistics over latency samples. */
object Stats {

  /** Nearest-rank percentile, `q` in [0, 1]; NaN on no samples. */
  def percentile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  def median(xs: Iterable[Double]): Double = percentile(xs, 0.5)

  /** The highest percentile with at least ten samples above it, among
    * p99.9, p99, p95, p90, p75 and p50 — a tail figure the sample count
    * actually supports. Returns (label, value).
    */
  def supportedTail(xs: Iterable[Double]): (String, Double) = {
    val n = xs.size
    val q = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5).find(q => n * (1 - q) >= 10).getOrElse(0.5)
    (label(q), percentile(xs, q))
  }

  def label(q: Double): String = {
    val s = BigDecimal(q * 100).bigDecimal.stripTrailingZeros.toPlainString
    s"p$s"
  }

}

/** Order-insensitive multiset digests: a row's digest is the 64-bit hash
  * of its canonical rendering; a result's digest is the wrapping sum of
  * its rows' digests plus the row count, so row order never matters and
  * a lost, duplicated or altered row always does.
  */
object Digest {

  /** 64-bit FNV-1a over UTF-8 bytes, finished with a murmur3 mix. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xff); h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb93e53fe1a85L
    h ^ (h >>> 33)
  }

  final case class Multiset(count: Long, sum: Long) {
    def +(rowHash: Long): Multiset = Multiset(count + 1, sum + rowHash)
    def render: String = f"$count:$sum%016x"
  }
  val empty: Multiset = Multiset(0, 0L)

  /** Canonical text of a Spark result value: maps sorted by key, arrays
    * and structs positional, decimals plain, doubles by their shortest
    * round-trip form.
    */
  def render(v: Any): String = v match {
    case null => "∅"
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case x => x.toString
  }

  def ofRows(rows: Iterable[org.apache.spark.sql.Row]): Multiset =
    rows.foldLeft(empty)((m, r) => m + hash64(render(r)))
}

/** JSON reading and writing through Jackson, for the result line, the
  * report, the span file and the expected digests.
  */
object Json {
  val mapper = new ObjectMapper()

  def parse(s: String): JsonNode = mapper.readTree(s)

  def obj(): ObjectNode = mapper.createObjectNode()

  /** Sets a measured value; NaN or infinite (no samples) is written as null. */
  def putNum(o: ObjectNode, key: String, d: Double): ObjectNode =
    if (d.isNaN || d.isInfinite) o.putNull(key) else o.put(key, d)

  def write(n: JsonNode): String = mapper.writeValueAsString(n)
}
