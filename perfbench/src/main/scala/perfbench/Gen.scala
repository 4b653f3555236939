package perfbench

import java.util.SplittableRandom

/** One seeded WRP message, rendered to JSON during set-up, with its
  * ground truth: why validation rejects it (None = valid) and the
  * streams the route table must deliver it to. */
final case class WrpEvent(id: Long, json: String, invalid: Option[String],
    routes: Seq[String], eventType: String, userId: Long, tsMs: Long, value: Double)

/** One seeded document; `plantedFrom` is the earlier doc it copies with
  * one to three words edited (None = an original doc). */
final case class Doc(id: Long, text: String, plantedFrom: Option[Long])

/** A route as the route table states it: event-type regex, device regex
  * ("" or ".*" matches every device). */
final case class Route(stream: String, eventRegex: String, deviceRegex: String)

object Gen {
  val Devices = 5000
  // six event types with skewed frequency (cumulative weights)
  val EventTypes: Seq[(String, Double)] = Seq(
    "click" -> 0.40, "view" -> 0.65, "purchase" -> 0.77,
    "error" -> 0.87, "signup" -> 0.95, "online" -> 1.0)

  /** Expected deliveries of a valid event under `routes`, with the
    * route table's documented semantics: partial (find) Java regex on
    * the event type; the device regex is tried against the source and
    * against the dest with its "event:" scheme stripped. */
  def expectedRoutes(routes: Seq[Route], eventType: String, source: String,
      dest: String): Seq[String] = {
    val stripped = dest.stripPrefix("event:")
    routes.filter { r =>
      find(r.eventRegex, eventType) &&
        (r.deviceRegex == "" || r.deviceRegex == ".*" ||
          find(r.deviceRegex, source) || find(r.deviceRegex, stripped))
    }.map(_.stream)
  }

  private val patterns = scala.collection.mutable.Map.empty[String, java.util.regex.Pattern]
  private def find(re: String, s: String): Boolean =
    patterns.getOrElseUpdate(re, java.util.regex.Pattern.compile(re)).matcher(s).find()

  /** `n` WRP events with ids from `firstId`: about 2% carry msg_type≠4,
    * about 1% a dest without the event scheme; devices are skewed
    * towards low ids so the device-scoped route sees traffic. */
  def wrp(seed: Long, firstId: Long, n: Int, routes: Seq[Route]): Array[WrpEvent] = {
    val rnd = new SplittableRandom(seed * 1000003L + firstId)
    val out = new Array[WrpEvent](n)
    val t0 = 1704067200000L // 2024-01-01T00:00:00Z
    var i = 0
    while (i < n) {
      val id = firstId + i
      val u = rnd.nextDouble()
      val eventType = EventTypes.find(_._2 > u).getOrElse(EventTypes.last)._1
      val device = (Devices * math.pow(rnd.nextDouble(), 2.0)).toInt
      val digits = device.toString
      val source = "mac:" + "000000000000".substring(digits.length) + digits
      val ack = rnd.nextInt(1000)
      val r = rnd.nextDouble()
      val (msgType, dest, invalid) =
        if (r < 0.02) (3 + 2 * rnd.nextInt(2), s"event:$eventType/$ack", Some("msg_type"))
        else if (r < 0.03) (4, s"dns:$eventType/$ack", Some("dest_scheme"))
        else (4, s"event:$eventType/$ack", None)
      val user = rnd.nextInt(20000)
      val tsMs = t0 + id * 7L
      val ts = java.time.Instant.ofEpochMilli(tsMs).toString
      val value = rnd.nextInt(100000) / 100.0
      val json = s"""{"msg_type":$msgType,"source":"$source","dest":"$dest",""" +
        s""""event_id":$id,"user_id":$user,"ts":"$ts","value":$value}"""
      val expected =
        if (invalid.isEmpty) expectedRoutes(routes, eventType, source, dest) else Nil
      out(i) = WrpEvent(id, json, invalid, expected, eventType, user, tsMs, value)
      i += 1
    }
    out
  }

  val VocabSize = 4000

  /** `n` docs of 20–60 words from a skewed vocabulary, ids from
    * `firstId`; about 10% copy an earlier doc of this set with one to
    * three words replaced. */
  def docs(seed: Long, firstId: Long, n: Int): Array[Doc] = {
    val rnd = new SplittableRandom(seed * 1000003L + firstId + 17L)
    def word(): String = s"w${(VocabSize * math.pow(rnd.nextDouble(), 3.0)).toInt}"
    val out = new Array[Doc](n)
    var i = 0
    while (i < n) {
      val id = firstId + i
      if (i > 0 && rnd.nextDouble() < 0.10) {
        val src = out(rnd.nextInt(i))
        val words = src.text.split(" ")
        val edits = 1 + rnd.nextInt(3)
        (0 until edits).foreach(_ => words(rnd.nextInt(words.length)) = word())
        out(i) = Doc(id, words.mkString(" "), Some(src.id))
      } else {
        val len = 20 + rnd.nextInt(41)
        out(i) = Doc(id, Array.fill(len)(word()).mkString(" "), None)
      }
      i += 1
    }
    out
  }
}
