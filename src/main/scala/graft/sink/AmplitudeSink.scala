package graft.sink

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's sink path re-expressed for executors: POST batches of
  * flattened events to the Amplitude HTTP Batch API with bounded
  * exponential-backoff retry (reference `utils.js:92-103` send,
  * `synchronous-pull.js:74-86` retry/bail, `synchronous-pull.js:15-16`
  * knobs).
  *
  * Semantics parity:
  *   - body `{"api_key": key, "events": [...]}` (`utils.js:97-100`);
  *   - per-POST timeout 5 s (`utils.js:101`);
  *   - `maxRetries` attempts with exponential backoff, then THROW
  *     (`synchronous-pull.js:83-86`): the task fails, the micro-batch is not
  *     committed, the source redelivers — at-least-once, neutralized
  *     downstream by `insert_id` dedup, exactly the reference's
  *     effectively-once recipe;
  *   - identify-before-event intra-pair order: [[graft.etl.EventEtl.flatten]]
  *     emits both records of a message adjacently in one partition (posexplode
  *     preserves iterator order), and this sink never reorders within a
  *     partition nor cuts a POST body between an `$identify` record and
  *     the event after it — so the pair arrives together, in order
  *     (SURVEY.md §2.3.3/§7.4.3).
  *
  * Scale notes: one shared `HttpClient` per executor JVM (the DNS/connection
  * cache analog of the reference's `lookup-dns-cache`, `utils.js:13-14`);
  * each partition iterator is cut into POST bodies of at most
  * `maxPerRequest` events, counting both records of a pair, at message
  * boundaries only (a lone pair goes out whole when `maxPerRequest` = 1)
  * — no driver collect, no shuffle.
  */
object AmplitudeSink {

  /** Pluggable transport (tests inject a recorder; prod uses [[HttpPoster]]). */
  trait Poster extends Serializable {
    /** Returns the HTTP status code. */
    def post(url: String, body: String, timeoutMs: Int): Int
  }

  /** java.net.http-based poster; one client per executor JVM. */
  object HttpPoster extends Poster {
    @transient private lazy val client: HttpClient =
      HttpClient.newBuilder().connectTimeout(Duration.ofMillis(5000)).build()
    def post(url: String, body: String, timeoutMs: Int): Int = {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .build()
      client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
    }
  }

  final case class Config(
      url: String = "https://api.amplitude.com/batch",
      apiKey: String = "",
      maxPerRequest: Int = 1000,
      maxRetries: Int = 3, // reference MAX_RETRIES default, synchronous-pull.js:16
      timeoutMs: Int = 5000, // utils.js:101
      backoffMs: Long = 200L,
      poster: Poster = HttpPoster)

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Minimal JSON string-escape (quote/backslash/control chars) — the event
    * rows are pre-serialized JSON, but the api key is raw config text. */
  private[sink] def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** The reference relies on JSON.stringify for the whole body; here the
    * events are pre-serialized rows, so only the api key needs escaping. */
  private def postWithRetry(cfg: Config, events: collection.Seq[String]): Unit = {
    val body = events.mkString(
      s"""{"api_key":"${jsonEscape(cfg.apiKey)}","events":[""", ",", "]}")
    var attempt = 0
    var done = false
    while (!done) {
      val status =
        try cfg.poster.post(cfg.url, body, cfg.timeoutMs)
        catch { case e: Exception => attempt += 1; if (attempt > cfg.maxRetries) throw e; -1 }
      if (status >= 200 && status < 300) done = true
      else {
        if (status != -1) attempt += 1
        if (attempt > cfg.maxRetries)
          throw new RuntimeException(
            s"amplitude batch failed after ${cfg.maxRetries} retries (status $status)")
        val backoff = cfg.backoffMs << (attempt - 1) // exponential backoff
        // per-retry telemetry, the reference's `amplitude.batch.error` log
        // (`synchronous-pull.js:78-80`) — structured so a 100 TB operator
        // can alert on retry rates, not grep free text
        log.warn(s"""{"type":"amplitude.batch.error","status":$status,"attempt":$attempt,"max_retries":${cfg.maxRetries},"backoff_ms":$backoff,"n_events":${events.size}}""")
        Thread.sleep(backoff)
      }
    }
  }

  /** Serialize the flattened event columns to Amplitude HTTP-V2 JSON.
    * `ignoreNulls` drops absent fields the way JSON.stringify drops
    * `undefined` (`utils.js:112`-adjacent). */
  def toAmplitudeJson(flat: DataFrame): DataFrame = flat.select(eventJson(flat))

  private def eventJson(flat: DataFrame): Column = {
    // props are JSON *text* in the flat schema — re-parse to variant so
    // to_json embeds them as objects, not double-encoded strings (the
    // reference sends parsed objects, utils.js:97-100).
    val cols = Seq("user_id", "device_id", "event_type", "time", "session_id",
      "insert_id", "event_properties", "user_properties")
      .filter(flat.columns.contains)
      .map {
        case p @ ("event_properties" | "user_properties") =>
          try_parse_json(col(p)).as(p)
        case c => col(c).as(c)
      }
    to_json(struct(cols: _*), Map("ignoreNullFields" -> "true")).as("event_json")
  }

  /** Batch-mode sink action over [[graft.etl.EventEtl.flatten]]'s rows:
    * POST every partition's rows in bodies of ≤ maxPerRequest events, cut
    * only between messages: an `$identify` record (`is_identify`) and the
    * event after it share a body. Also the `foreachBatch` body for
    * streaming. */
  def send(flat: DataFrame, cfg: Config): Unit = {
    val events = flat.select(eventJson(flat), col("is_identify"))
    events.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val body = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val r = it.next()
        val pair = r.getBoolean(1) && it.hasNext
        if (body.nonEmpty && body.size + (if (pair) 2 else 1) > cfg.maxPerRequest) {
          postWithRetry(cfg, body); body.clear()
        }
        body += r.getString(0)
        if (pair) body += it.next().getString(0)
      }
      if (body.nonEmpty) postWithRetry(cfg, body)
    }
  }
}
