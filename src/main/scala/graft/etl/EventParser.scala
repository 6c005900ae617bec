package graft.etl

import java.util.Base64

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.expr.HmacSha256

/** Pure per-message parser for the reference's transform chain O2→O9 + the
  * identify split trigger (fxa-amplitude-send `utils.js:37-90`), executed
  * inside `mapPartitions` by [[EventEtl.parsed]].
  *
  * WHY IMPERATIVE, NOT Column EXPRESSIONS: the record is schema-on-read JSON
  * whose semantics depend on runtime JSON *types* (session_id repaired only
  * when it arrives as a string, `utils.js:58-68`; validation requires `time`
  * to be a number, `utils.js:34`; stringified props re-parsed only in the
  * flat branch, `utils.js:44-50`). Expressing those probes as Catalyst
  * variant expressions duplicates the envelope-unwrap tree into every field
  * extraction once projections collapse; measured on Spark 4.1 the generated
  * code exceeds the 64 KB method limit, whole-stage codegen falls back to
  * interpreted mode, and a 60 k-row batch takes minutes. One Jackson parse
  * per record in a typed flatMap is the idiomatic Spark treatment of a
  * dynamically-typed record core (SURVEY.md §1.4): a single narrow stage,
  * trivially parallel at 100 TB, with a constant-size plan.
  *
  * All reference fine print is replicated (SURVEY.md §2.3): falsy-skip
  * delimiter-free HMAC, hash-of-hash insert_id, JS-parseInt session repair,
  * identify-before-event ordering, disjoint verb/non-verb map partition,
  * B2 fixed (absent user_properties ≠ crash), B3 kept (op/data payload props
  * never re-parsed).
  */
object EventParser {

  /** Jackson is thread-safe for reads; Spark ships it (no new dependency). */
  private val mapper = new ObjectMapper()

  /** The five Amplitude identify verbs (reference `utils.js:105`). */
  private val Verbs = Set("$set", "$setOnce", "$add", "$append", "$unset")

  /** Parsed per-message diagnostic record; `rows` arity is derived by
    * [[EventEtl.flatten]] from (valid, has_identify). `sessionRepaired` /
    * `sessionIdOld` are the engine form of the reference's
    * `amplitude.validation.error` per-record repair log (`utils.js:66`):
    * instead of a driver-side log line per record, the repair is a column —
    * aggregable into metrics, filterable into a quarantine sink. */
  final case class Parsed(
      publishTime: String,
      eventType: String,
      timeMs: java.lang.Long,
      userIdRaw: String,
      deviceIdRaw: String,
      valid: Boolean,
      sessionId: java.lang.Double,
      userId: String,
      insertId: String,
      eventProperties: String,
      userProperties: String,
      identifyProps: String,
      hasIdentify: Boolean,
      sessionRepaired: Boolean,
      sessionIdOld: String) {
    def toSeq: Seq[Any] = Seq(publishTime, eventType, timeMs, userIdRaw,
      deviceIdRaw, valid, sessionId, userId, insertId, eventProperties,
      userProperties, identifyProps, hasIdentify, sessionRepaired,
      sessionIdOld)
  }

  private val invalid = Parsed(null, null, null, null, null, false, null,
    null, null, null, null, null, false, false, null)

  /** JS truthiness of a JSON value (`if (event.Fields)`, `utils.js:38`). */
  private def truthy(n: JsonNode): Boolean =
    n != null && !n.isNull &&
      (!n.isTextual || n.asText.nonEmpty) &&
      (!n.isNumber || { val d = n.doubleValue(); d != 0.0 && !d.isNaN }) &&
      (!n.isBoolean || n.booleanValue())

  private def nonEmptyText(n: JsonNode): Boolean = n != null && n.isTextual && n.asText.nonEmpty

  /** `is.nonEmptyString` probe: the value as text iff it is a JSON string
    * (a numeric user_id fails the probe, exactly as `check-types` does). */
  private def textOrNull(n: JsonNode): String =
    if (n != null && n.isTextual) n.asText else null

  /** The JS value of a JSON node, typed for [[HmacSha256.digest]]'s
    * JS-stringification (`String(x)` semantics, falsy-skip applied there):
    * strings as-is, numbers as doubles (JS numbers), booleans boxed.
    * Objects stringify to `"[object Object]"`; arrays comma-join their
    * members' JVM renderings (close enough to `String([...])` — integral
    * doubles inside arrays print "5.0" not "5", a corner the reference's
    * event data cannot reach). */
  private def jsVal(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isTextual) n.asText
    else if (n.isNumber) java.lang.Double.valueOf(n.doubleValue)
    else if (n.isBoolean) java.lang.Boolean.valueOf(n.booleanValue)
    else if (n.isArray) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < n.size()) {
        if (i > 0) sb.append(',')
        val v = jsVal(n.get(i))
        if (v != null) sb.append(v.toString)
        i += 1
      }
      sb.toString
    } else "[object Object]"

  /** JS `parseInt(s, 10)` (`utils.js:61`): leading whitespace, optional
    * sign, longest leading digit run; anything else → NaN (None). */
  def jsParseInt(s: String): Option[Long] = {
    var i = 0
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    val start = i
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    val digits0 = i
    while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
    if (i == digits0) None
    else try Some(java.lang.Long.parseLong(s.substring(start, i)))
    catch { case _: NumberFormatException => None }
  }

  private def hmac(key: String, args: Any*): String =
    HmacSha256.digest(key, args.toArray).toString

  /** Full chain for one raw base64(JSON envelope) message. Never throws:
    * undecodable/unparseable input degrades to an invalid record (the
    * reference would kill the whole batch on a JSON.parse throw — an engine
    * MUST NOT lose a 100 TB batch to one bad record; the drop is observable
    * via input_count vs output_count, same as reference O6 drops). */
  def parse(value: String, hmacKey: String): Parsed = {
    if (value == null) return invalid
    val env =
      try mapper.readTree(Base64.getMimeDecoder.decode(value))
      catch { case _: Exception => return invalid }
    if (env == null) return invalid

    // publish-time message attribute (`synchronous-pull.js:59-63`)
    val publishTime =
      textOrNull(env.path("attributes").get("logging.googleapis.com/timestamp"))

    var event = env.get("jsonPayload")
    if (event == null || !event.isObject) return invalid.copy(publishTime = publishTime)

    // O3 — Fields envelope (`utils.js:38-39`). O4 (op/data unwrap) and O5
    // (stringified-prop re-parse) are BOTH scoped inside the Fields branch —
    // a bare payload gets neither (`utils.js:38-52`): its op/data keys are
    // ordinary event fields and its stringified props stay strings (so a
    // bare stringified `$set` never triggers an identify split).
    var epNode: JsonNode = null
    var upNode: JsonNode = null
    val fields = event.get("Fields")
    if (truthy(fields)) {
      event = fields

      // O4 — op/data form (`utils.js:41-42`): JS truthiness on BOTH keys
      // (a numeric op or data qualifies, not just non-empty strings).
      val op = if (event.isObject) event.get("op") else null
      val data = if (event.isObject) event.get("data") else null
      if (truthy(op) && truthy(data)) {
        // JS `JSON.parse(event.data)` coerces data with String(): text
        // parses as JSON; scalar numbers/booleans round-trip to themselves;
        // objects ("[object Object]") and arrays throw — the reference
        // would kill the batch, the engine degrades to an invalid record.
        event =
          if (data.isTextual)
            try mapper.readTree(data.asText)
            catch { case _: Exception => return invalid.copy(publishTime = publishTime) }
          else if (data.isNumber || data.isBoolean) data
          else return invalid.copy(publishTime = publishTime)
        if (event == null) return invalid.copy(publishTime = publishTime)
        // B3: op/data payload props are NOT re-parsed (`utils.js:41-51`)
        epNode = event.get("event_properties")
        upNode = event.get("user_properties")
      } else {
        // O5 — stringified props parsed in place (`utils.js:44-50`)
        def parsedProp(name: String): JsonNode = {
          val n = event.get(name)
          if (nonEmptyText(n))
            try mapper.readTree(n.asText) catch { case _: Exception => n }
          else n
        }
        epNode = parsedProp("event_properties")
        upNode = parsedProp("user_properties")
      }
    } else {
      // bare payload: props forwarded exactly as they arrived
      epNode = event.get("event_properties")
      upNode = event.get("user_properties")
    }

    // O6 — validation gate (`utils.js:28-35`): only non-empty STRINGS count
    // as ids here (`is.nonEmptyString`) — a numeric user_id does not make an
    // event valid, but it IS hashed below if the event is otherwise valid.
    val userNode = event.get("user_id")
    val deviceNode = event.get("device_id")
    val userIdRaw = textOrNull(userNode)
    val deviceIdRaw = textOrNull(deviceNode)
    val eventType = textOrNull(event.get("event_type"))
    val timeNode = event.get("time")
    val timeOk = timeNode != null && timeNode.isNumber && timeNode.doubleValue > 0
    val timeMs: java.lang.Long =
      if (timeNode != null && timeNode.isNumber) java.lang.Long.valueOf(timeNode.longValue) else null
    val valid = (nn(deviceIdRaw) || nn(userIdRaw)) && nn(eventType) && timeOk
    val diag = invalid.copy(publishTime = publishTime, eventType = eventType,
      timeMs = timeMs, userIdRaw = userIdRaw, deviceIdRaw = deviceIdRaw)
    if (!valid) return diag

    // O7 — session_id repair (`utils.js:58-68`): ANY string (is.string, even
    // empty) gets parseInt with NaN → -1, and the repair is recorded
    // (`amplitude.validation.error`, old value preserved); numbers (incl.
    // floats) pass through; absent stays absent. A non-string non-number
    // (bool/array/object) is forwarded untouched by the reference — it can't
    // live in this Double column (recorded null) but its JS stringification
    // still reaches the insert_id preimage below.
    val sessionNode = event.get("session_id")
    val sessionRepaired = sessionNode != null && sessionNode.isTextual
    val sessionIdOld = if (sessionRepaired) sessionNode.asText else null
    val sessionId: java.lang.Double =
      if (sessionNode == null) null
      else if (sessionNode.isTextual)
        java.lang.Double.valueOf(jsParseInt(sessionNode.asText).map(_.toDouble).getOrElse(-1.0))
      else if (sessionNode.isNumber) java.lang.Double.valueOf(sessionNode.doubleValue)
      else null
    val sessionPreimage: Any =
      if (sessionNode == null) null
      else if (sessionNode.isTextual) sessionId
      else jsVal(sessionNode)

    // O8 — pseudonymize on JS truthiness (`utils.js:70-72`): a NUMERIC
    // user_id is hashed too (the HMAC stringifies it as JS `String(n)`);
    // falsy values (absent, '', 0) pass through unhashed. A falsy non-string
    // can't be represented in this String column (null) — it contributes
    // nothing to the insert_id preimage either way.
    val userId =
      if (truthy(userNode)) hmac(hmacKey, jsVal(userNode))
      else userIdRaw

    // O9 — hash-of-hash insert_id (`utils.js:74`); falsy components skipped
    // inside the digest (session 0, absent device — SURVEY.md §2.3.2).
    // device_id enters as its JS value (a numeric device_id contributes
    // String(n), not nothing).
    val insertId = hmac(hmacKey, userId, jsVal(deviceNode), sessionPreimage,
      eventType, java.lang.Double.valueOf(timeNode.doubleValue))

    // O10 — identify split trigger + disjoint verb partition
    // (`utils.js:76-84,105-116`): triggers iff some verb key is *assigned*
    // (present and not JSON null); verb KEYS move wholesale (null-valued
    // verbs ride along once triggered).
    var hasIdentify = false
    var identifyProps: String = null
    var httpapiUp: String = null
    if (upNode != null && upNode.isObject) {
      val it = upNode.properties().iterator()
      while (it.hasNext && !hasIdentify) {
        val e = it.next()
        if (Verbs.contains(e.getKey) && !e.getValue.isNull) hasIdentify = true
      }
      if (hasIdentify) {
        val verbs = mapper.createObjectNode()
        val rest = mapper.createObjectNode()
        val all = upNode.properties().iterator()
        while (all.hasNext) {
          val e = all.next()
          (if (Verbs.contains(e.getKey)) verbs else rest).set[JsonNode](e.getKey, e.getValue)
        }
        identifyProps = mapper.writeValueAsString(verbs)
        httpapiUp = mapper.writeValueAsString(rest)
      } else httpapiUp = mapper.writeValueAsString(upNode)
    } else if (upNode != null) {
      httpapiUp = mapper.writeValueAsString(upNode)
    }

    diag.copy(
      valid = true,
      sessionId = sessionId,
      userId = userId,
      insertId = insertId,
      eventProperties = if (epNode == null) null else mapper.writeValueAsString(epNode),
      userProperties = httpapiUp,
      identifyProps = identifyProps,
      hasIdentify = hasIdentify,
      sessionRepaired = sessionRepaired,
      sessionIdOld = sessionIdOld)
  }

  @inline private def nn(s: String): Boolean = s != null && s.nonEmpty
}
