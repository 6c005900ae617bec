package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The delivery gate. What should arrive is computed from the input table
  * and [[graft.etl.EnvelopeGen]]'s branch rules, which are arithmetic on
  * `event_id` — never by running the program:
  *   - valid ⇔ event_type present (id%13≠0) AND time > 0 (id%17≠0) AND a
  *     string user_id or a device_id (user_id is absent for id%7==0 or
  *     id%19==0 and numeric for id%23==0; device_id is absent for id%5==0
  *     or id%19==0);
  *   - an `$identify` record splits off a valid `signup` unless its
  *     user_properties stays a string (id%6==0: op/data + stringified;
  *     id%18==13: bare + stringified).
  *
  * Every expected event must arrive exactly once despite the redelivered
  * envelopes, and each `$identify` must sit directly before its event in the
  * same body. Missing, duplicate and unexpected records all count against
  * the delivered share.
  *
  * `types(id)` is the input's event_type index (0 = signup); ids below
  * `published` are expected. Records of later ids were sent by a batch the
  * daemon had not acked when it stopped: counted as in flight, not errors. */
final class Gate(types: Array[Byte], published: Int) {
  private val n = types.length
  private val mapper = new ObjectMapper()
  private val mainSeen = new Array[Int](n)
  private val identSeen = new Array[Int](n)
  /** first delivery of each event: POST end (wall ms) and its micro-batch */
  val firstEndMs: Array[Double] = Array.fill(n)(Double.NaN)
  val firstBatch: Array[Long] = Array.fill(n)(-1L)
  var unexpected = 0L
  var inFlight = 0L
  var records = 0L

  def valid(id: Long): Boolean = {
    val uidNonString = id % 7 == 0 || id % 19 == 0 || id % 23 == 0
    val devAbsent = id % 5 == 0 || id % 19 == 0
    id % 13 != 0 && id % 17 != 0 && !(uidNonString && devAbsent)
  }
  def identify(id: Long): Boolean =
    types(id.toInt) == 0 && valid(id) && !(id % 6 == 0 || id % 18 == 13)
  def expected(id: Long): Boolean = id >= 0 && id < published && valid(id)

  private def eidOf(ev: JsonNode): Long = {
    val ep0 = ev.get("event_properties")
    val ep = if (ep0 != null && ep0.isTextual) mapper.readTree(ep0.asText) else ep0
    val e = if (ep == null) null else ep.get("eid")
    if (e == null || !e.isNumber) -1L else e.asLong
  }

  def add(p: Post): Unit = {
    val evs = mapper.readTree(p.body).get("events")
    var i = 0
    while (i < evs.size) {
      val ev = evs.get(i)
      records += 1
      if (ev.path("event_type").asText == "$identify") {
        val next = if (i + 1 < evs.size) evs.get(i + 1) else null
        val id = if (next == null || next.path("event_type").asText == "$identify") -1L
          else eidOf(next)
        if (id >= 0 && expected(id) && identify(id)) identSeen(id.toInt) += 1
        else if (id >= published && id < n) inFlight += 1
        else unexpected += 1
      } else {
        val id = eidOf(ev)
        if (expected(id)) {
          val k = id.toInt
          mainSeen(k) += 1
          if (mainSeen(k) == 1) { firstEndMs(k) = p.endMs; firstBatch(k) = p.batch }
        } else if (id >= published && id < n) inFlight += 1
        else unexpected += 1
      }
      i += 1
    }
  }

  final case class Verdict(expected: Long, exactlyOnce: Long, missing: Long,
      duplicates: Long, unexpected: Long) {
    def share: Double = math.max(0L, exactlyOnce - unexpected).toDouble / expected
    def correct: Boolean = missing == 0 && duplicates == 0 && unexpected == 0
  }

  def verdict(): Verdict = {
    var exp, once, missing, dup = 0L
    var id = 0
    while (id < math.min(n, published)) {
      if (valid(id)) {
        val counts = if (identify(id)) Seq(mainSeen(id), identSeen(id)) else Seq(mainSeen(id))
        counts.foreach { c =>
          exp += 1
          if (c == 1) once += 1 else if (c == 0) missing += 1 else dup += c - 1
        }
      }
      id += 1
    }
    Verdict(exp, once, missing, dup, unexpected)
  }
}
