package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/**
 * The synthetic "deals" feed: every field of deal `id` at revision `rev`
 * is a pure function of (seed, id, rev), so the JSON the fake API serves,
 * the rows seeded straight into a main table and the model the output
 * check compares against all agree without sharing state.
 *
 * The keys hit all three Normalize branches: INT-list keys (`id`,
 * `deal_no`, `customer_id`, `requester_id`, a numeric-string `amount`, a
 * boolean `is_active`), TIMESTAMP-list keys (`created_at`, `updated_at`)
 * and default STRING keys (`status`, `subject` and a nested `pipeline`
 * object).
 */
final class Deals(seed: Long) extends Serializable {
  import Deals._

  private def h(id: Long, rev: Int): Long = mix(seed, id, rev.toLong)

  def amount(id: Long, rev: Int): Long = (h(id, rev) >>> 3) % 10000000L
  def status(id: Long, rev: Int): String =
    Statuses(((h(id, rev) >>> 40) % Statuses.length).toInt)
  def pipelineId(id: Long, rev: Int): Int =
    ((h(id, rev) >>> 50) % Pipelines.length).toInt
  def isActive(id: Long, rev: Int): Boolean = (h(id, rev) & 1L) == 0L
  def customerId(id: Long): Long = (mix(seed, id, -1L) >>> 8) % 50000L
  def requesterId(id: Long): Long = (mix(seed, id, -2L) >>> 8) % 2000L
  def createdAt(id: Long): Long = BaseEpoch + (id * 37L) % (180L * 86400L)
  /** Strictly increasing in `rev`, so "latest revision" and "latest
   * `updated_at`" name the same row. */
  def updatedAt(id: Long, rev: Int): Long = createdAt(id) + rev * 3600L
  def subject(id: Long, rev: Int): String = s"Deal $id rev $rev"

  /** The API's JSON object for one deal. */
  def json(id: Long, rev: Int, sb: java.lang.StringBuilder): Unit = {
    val p = pipelineId(id, rev)
    sb.append("{\"id\":").append(id)
      .append(",\"deal_no\":").append(id + 100000L)
      .append(",\"customer_id\":").append(customerId(id))
      .append(",\"requester_id\":").append(requesterId(id))
      .append(",\"amount\":\"").append(amount(id, rev)).append('"')
      .append(",\"is_active\":").append(isActive(id, rev))
      .append(",\"status\":\"").append(status(id, rev)).append('"')
      .append(",\"subject\":\"").append(subject(id, rev)).append('"')
      .append(",\"pipeline\":{\"id\":").append(p)
      .append(",\"name\":\"").append(Pipelines(p)).append("\"}")
      .append(",\"created_at\":\"").append(ts(createdAt(id))).append('"')
      .append(",\"updated_at\":\"").append(ts(updatedAt(id, rev))).append('"')
      .append('}')
  }

  /** One API page: the reference's `{"deals": [...]}` envelope. */
  def page(deals: Seq[(Long, Int)]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(deals.size * 300)
    sb.append("{\"deals\":[")
    var first = true
    deals.foreach { case (id, rev) =>
      if (!first) sb.append(',')
      first = false
      json(id, rev, sb)
    }
    sb.append("]}").toString.getBytes(UTF_8)
  }

  /** The deal as the pipeline commits it (normalized types, timestamps
   * as canonical strings, the `pipeline` struct cast to STRING). */
  def normalizedRow(id: Long, rev: Int): Seq[Any] = Seq(
    amount(id, rev), ts(createdAt(id)), customerId(id),
    id + 100000L, id, if (isActive(id, rev)) 1L else 0L,
    s"{${pipelineId(id, rev)}, ${Pipelines(pipelineId(id, rev))}}",
    requesterId(id), status(id, rev), subject(id, rev),
    ts(updatedAt(id, rev)))

  /** CRC-32 of the canonical check string of one committed row — the
   * same string [[Deals.checkExpr]] builds on the Spark side. */
  def checkCrc(id: Long, rev: Int): Long = {
    val p = pipelineId(id, rev)
    val s = s"$id|${ts(updatedAt(id, rev))}|${amount(id, rev)}|" +
      s"${status(id, rev)}|{$p, ${Pipelines(p)}}|${subject(id, rev)}"
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes(UTF_8))
    c.getValue
  }
}

object Deals {
  val Statuses: Array[String] = Array("new", "open", "won", "lost", "pending")
  val Pipelines: Array[String] = Array("Sales", "Support", "Renewal", "Partner")
  /** 2024-01-01 00:00:00 UTC. */
  val BaseEpoch: Long = 1704067200L
  /** The reference's page size (omnichannel_to_bq.py `count=500`). */
  val PageSize: Int = 500

  /** Column order of a committed deals table (JSON inference sorts keys). */
  val Columns: Seq[String] = Seq("amount", "created_at", "customer_id",
    "deal_no", "id", "is_active", "pipeline", "requester_id", "status",
    "subject", "updated_at")

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def ts(epochSec: Long): String =
    LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC).format(TsFormat)

  /** SplitMix64-style mixing of three longs. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L +
      c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  /** Spark-side CRC-32 of the canonical check string; timestamp columns
   * (the streaming path keeps them typed) cast to the same
   * `yyyy-MM-dd HH:mm:ss` text under the UTC session. */
  val checkExpr: String =
    "crc32(cast(concat_ws('|', cast(id AS STRING), cast(updated_at AS STRING), " +
      "cast(amount AS STRING), status, pipeline, subject) AS BINARY))"
}
