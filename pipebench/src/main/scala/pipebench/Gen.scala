package pipebench

import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom
import graft.Settings

/** One generated recentchange event; `line` is its envelope body
  * without the per-send offset and timestamp. */
final case class Ev(id: String, domain: String, eventTs: Long, body: String) {
  private val t = Instant.ofEpochSecond(eventTs).atOffset(ZoneOffset.UTC)
  def date: String = t.toLocalDate.toString
  def hour: Int = t.getHour
}

/** Seeded synthetic Wikimedia recentchange envelopes in the file-replay
  * shape `{"offset", "timestamp", "value"}` that
  * `graft.streaming.EventSource.fileReplay` reads. Domains, users and
  * titles are Zipf-skewed; the program sees only the lines written. */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private var serial = 0L

  // the 18 mapped domains (en first, so it is the hottest) and two the
  // region map does not know, which Silver files under "other"
  private val domains: Array[String] = {
    val mapped = Settings.DomainRegionMap.map(_._1)
    (("en.wikipedia.org" +: mapped.filterNot(_ == "en.wikipedia.org")) ++
      Seq("commons.wikimedia.org", "www.wikidata.org")).toArray
  }
  private val domainCdf = Gen.zipfCdf(domains.length, 1.0)
  private val userCdf = Gen.zipfCdf(4000, 1.1)
  private val titleCdf = Gen.zipfCdf(20000, 0.9)
  private val types = Array("edit", "edit", "edit", "edit", "edit", "edit",
    "new", "log", "log", "categorize")

  def uniform(): Double = rnd.nextDouble()
  def below(n: Int): Int = rnd.nextInt(n)

  /** A fresh event at `eventTs` (unix seconds). */
  def event(eventTs: Long): Ev = {
    serial += 1
    val id = s"ev-$seed-$serial"
    val domain = domains(Gen.draw(domainCdf, rnd))
    val anon = rnd.nextDouble() < 0.12
    val userIx = Gen.draw(userCdf, rnd)
    val user = if (anon) s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
               else s"User$userIx"
    val bot = !anon && userIx % 13 == 7
    val typ = types(rnd.nextInt(types.length))
    val ns = if (rnd.nextDouble() < 0.7) 0 else 1 + rnd.nextInt(15)
    val title = s"Page_${Gen.draw(titleCdf, rnd)}"
    val lOld = 100 + rnd.nextInt(50000)
    val u = rnd.nextDouble()
    val lNew = math.max(0,
      if (u < 0.01) lOld - 6000 - rnd.nextInt(4000)
      else if (u < 0.012) lOld + 50001 + rnd.nextInt(20000)
      else lOld - 300 + rnd.nextInt(900))
    val rev = 1000000L + serial
    val dt = Instant.ofEpochSecond(eventTs).toString
    val data = s"""{"id": $serial, "type": "$typ", "namespace": $ns, """ +
      s""""title": ${Json.str(title)}, "timestamp": $eventTs, """ +
      s""""user": ${Json.str(user)}, "bot": $bot, """ +
      s""""length": {"old": $lOld, "new": $lNew}, """ +
      s""""revision": {"old": $rev, "new": ${rev + 1}}, """ +
      s""""meta": {"domain": "$domain", "dt": "$dt", "id": "$id"}, """ +
      s""""wiki": "${domain.takeWhile(_ != '.')}wiki"}"""
    val value = s"""{"id": "$id", "data": ${Json.str(data)}, """ +
      s""""_processing": {"ingested_at": "$dt", "producer_version": "1.0.0", """ +
      s""""environment": "bench"}}"""
    Ev(id, domain, eventTs, Json.str(value))
  }

  /** A malformed envelope: either unparseable, or parseable with no
    * data payload. Both belong in the DLQ. */
  def malformed(): String = {
    serial += 1
    if (rnd.nextBoolean()) Json.str(s"""{"id": "bad-$seed-$serial", "data": """)
    else Json.str(s"""{"id": "bad-$seed-$serial", "_processing": """ +
      """{"ingested_at": "2024-01-01T00:00:00Z"}}""")
  }
}

object Gen {
  /** One envelope line: a send of `body` at `offset`, stamped `sentMs`. */
  def line(body: String, offset: Long, sentMs: Long): String =
    s"""{"offset": $offset, "timestamp": "${Instant.ofEpochMilli(sentMs)}", "value": $body}"""

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def draw(cdf: Array[Double], rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def dayStart(date: String): Long =
    java.time.LocalDate.parse(date).atStartOfDay(ZoneOffset.UTC).toEpochSecond
}
