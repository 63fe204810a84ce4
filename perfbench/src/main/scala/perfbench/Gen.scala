package perfbench

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.UUID

import scala.util.Random

/** One generated CF audit event. `org`/`space` are `""` where CF reports
  * no organization or space; `createdAt` is whole epoch seconds, the CF
  * API's timestamp granularity. */
final case class Ev(
    guid: String,
    createdAt: Long,
    eventType: String,
    actor: String,
    actorName: String,
    actee: String,
    acteeType: String,
    acteeName: String,
    org: String,
    space: String,
    metadata: String) {
  def raw: String = Gen.fmt(createdAt)
  def actorType: String = "user"
  def actorUsername: String = actorName + "@example.com"

  /** The event as one `resources[]` element of a `/v2/events` page. */
  lazy val wireJson: String =
    s"""{"metadata":{"guid":"$guid","url":"/v2/events/$guid","created_at":"$raw","updated_at":"$raw"},""" +
      s""""entity":{"type":"$eventType","actor":"$actor","actor_type":"$actorType",""" +
      s""""actor_name":"$actorName","actor_username":"$actorUsername","actee":"$actee",""" +
      s""""actee_type":"$acteeType","actee_name":"$acteeName","timestamp":"$raw",""" +
      s""""metadata":$metadata,"space_guid":"$space","organization_guid":"$org"}}"""
}

/** Seeded generator of CF-shaped audit events. The same seed gives the
  * same events; only `createdAt` of live events depends on the clock. */
final class Gen(seed: Long) {
  private val rng = new Random(seed)
  private val users = 2000
  private val types = Array(
    "audit.app.update" -> 30, "audit.app.start" -> 15, "audit.app.stop" -> 10,
    "audit.app.create" -> 8, "audit.app.restage" -> 7, "audit.space.create" -> 4,
    "audit.service_instance.bind" -> 6, "audit.user.login" -> 20)
  private val typeTable = types.flatMap { case (t, w) => Array.fill(w)(t) }

  private def uuid(): String = new UUID(rng.nextLong(), rng.nextLong()).toString
  private def stableUuid(s: String): String =
    UUID.nameUUIDFromBytes(s"$seed/$s".getBytes("UTF-8")).toString

  def event(createdAt: Long): Ev = {
    val u = rng.nextInt(users)
    val app = rng.nextInt(users * 4)
    val tpe = typeTable(rng.nextInt(typeTable.length))
    val onSpace = !tpe.startsWith("audit.user.")
    Ev(
      guid = uuid(),
      createdAt = createdAt,
      eventType = tpe,
      actor = stableUuid(s"user-$u"),
      actorName = s"user-$u",
      actee = stableUuid(s"app-$app"),
      acteeType = if (onSpace) "app" else "user",
      acteeName = if (onSpace) s"app-$app" else s"user-$u",
      org = if (onSpace && u % 7 != 0) stableUuid(s"org-${u % 50}") else "",
      space = if (onSpace && u % 11 != 0) stableUuid(s"space-${u % 300}") else "",
      metadata = s"""{"request":{"k":${rng.nextInt(100)},"name":"n${rng.nextInt(1000)}"},"origin":"cli"}""")
  }

  /** `n` events spread uniformly over the `spanSec` seconds ending at
    * `endSec` (the last event is exactly at `endSec`), in (createdAt, guid)
    * order. */
  def history(n: Int, spanSec: Long, endSec: Long): Array[Ev] = {
    val secs = Array.fill(n - 1)(endSec - 1 - (rng.nextDouble() * spanSec).toLong) :+ endSec
    Gen.ordered(secs.map(event))
  }
}

object Gen {
  private val tsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  def fmt(sec: Long): String = tsFormat.format(Instant.ofEpochSecond(sec))

  /** (createdAt, guid) order: the order the store assigns ids in and the
    * shipper ships in. */
  def ordered(evs: Array[Ev]): Array[Ev] =
    evs.sortWith((a, b) => a.createdAt < b.createdAt || (a.createdAt == b.createdAt && a.guid < b.guid))
}
