package graft

import java.util.Base64

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl.EventEtl
import graft.sink.AmplitudeSink
import graft.streaming.StreamingPipeline

/** M3 coverage: the Amplitude sink contract (batch shape, retry, intra-pair
  * order, terminal failure) against an injected recording transport, and the
  * Structured-Streaming pipeline (micro-batches, watermarked message-level
  * dedup across redelivery). */
class StreamingSinkSpec extends SparkTestBase {
  import spark.implicits._

  private val Key = "graft-test-key"

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def envelope(uid: String, et: String, time: Long,
      withIdentify: Boolean = false): String = {
    val up = if (withIdentify)
      ""","user_properties":{"$set":{"plan":"pro"},"keep":"me"}""" else ""
    b64(s"""{"jsonPayload":{"user_id":"$uid","device_id":"d-$uid","event_type":"$et","time":$time$up},""" +
      s""""attributes":{"logging.googleapis.com/timestamp":"2024-01-01T00:00:00.000Z"}}""")
  }

  test("sink posts {api_key, events} batches, preserving intra-pair order") {
    RecordingPoster.reset()
    val flat = EventEtl.pipeline(
      Seq(envelope("u1", "login", 1000, withIdentify = true)).toDF("value"), Key)
    AmplitudeSink.send(flat, AmplitudeSink.Config(
      url = "http://stub/batch", apiKey = "k123", poster = RecordingPoster))
    val bodies = RecordingPoster.bodies
    assert(bodies.size === 1)
    val body = bodies.head
    assert(body.startsWith("""{"api_key":"k123","events":["""))
    // identify first, original second, verb keys split (SURVEY §2.3.3-5)
    val iIdent = body.indexOf("\"$identify\"")
    val iLogin = body.indexOf("\"login\"")
    assert(iIdent >= 0 && iLogin >= 0 && iIdent < iLogin)
    assert(body.contains(""""user_properties":{"$set":{"plan":"pro"}}"""))
    assert(body.contains(""""user_properties":{"keep":"me"}"""))
    // props embedded as objects, not double-encoded strings
    assert(!body.contains("""\"$set\""""))
  }

  test("sink groups a partition into maxPerRequest batches") {
    RecordingPoster.reset()
    val rows = (1 to 25).map(i => envelope(s"u$i", "e", 1000L + i)).toDF("value")
    val flat = EventEtl.pipeline(rows, Key).coalesce(1)
    AmplitudeSink.send(flat, AmplitudeSink.Config(
      url = "http://stub/batch", apiKey = "k", maxPerRequest = 10,
      poster = RecordingPoster))
    assert(RecordingPoster.bodies.size === 3) // 10 + 10 + 5
  }

  test("sink never splits an $identify from its event across POST bodies") {
    // Messages laid out so that a blind cut every 5 records would fall
    // inside a pair at every cut: each record index ≡ 4 (mod 5) is an
    // $identify. Pairs and single events are mixed around those cuts.
    val max = 5
    val pairs = mutable.Buffer.empty[Boolean]
    var pos = 0
    while (pos < 60) {
      val pair = pos % max != 3
      pairs += pair
      pos += (if (pair) 2 else 1)
    }
    val rows = pairs.zipWithIndex.map { case (p, i) =>
      envelope(s"u$i", "e", 1000L + i, withIdentify = p) }.toSeq.toDF("value")
    val flat = EventEtl.pipeline(rows, Key).coalesce(1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def bodies(maxPerRequest: Int): Seq[Seq[(String, String)]] = {
      RecordingPoster.reset()
      AmplitudeSink.send(flat, AmplitudeSink.Config(
        url = "http://stub/batch", apiKey = "k", maxPerRequest = maxPerRequest,
        poster = RecordingPoster))
      RecordingPoster.bodies.toSeq.map { b =>
        val ev = mapper.readTree(b).get("events")
        (0 until ev.size).map(j =>
          (ev.get(j).get("event_type").asText, ev.get(j).get("user_id").asText))
      }
    }
    def assertPairsWhole(bs: Seq[Seq[(String, String)]]): Unit = bs.foreach { b =>
      b.zipWithIndex.filter(_._1._1 == "$identify").foreach { case ((_, uid), j) =>
        assert(j + 1 < b.size, s"identify of $uid ends a body")
        assert(b(j + 1) === (("e", uid)))
      }
    }
    val capped = bodies(max)
    val records = capped.flatten
    assert(records.size === pairs.size + pairs.count(identity))
    // the input straddles every blind cut
    assert((max - 1 until records.size by max).forall(records(_)._1 == "$identify"))
    assertPairsWhole(capped)
    assert(capped.forall(_.size <= max))
    // only a lone pair may exceed a cap of one
    val single = bodies(1)
    assertPairsWhole(single)
    assert(single.flatten === records)
    assert(single.forall(b => b.size == 1 || (b.size == 2 && b.head._1 == "$identify")))
  }

  test("sink retries transient failures, then succeeds") {
    FlakyPoster.reset(failures = 2)
    val flat = EventEtl.pipeline(Seq(envelope("u1", "e", 5)).toDF("value"), Key)
    AmplitudeSink.send(flat, AmplitudeSink.Config(
      url = "http://stub/batch", apiKey = "k", maxRetries = 3,
      backoffMs = 1L, poster = FlakyPoster))
    assert(FlakyPoster.attempts === 3) // 2 failures + 1 success
  }

  test("sink throws after maxRetries — batch not committed (redelivery path)") {
    FlakyPoster.reset(failures = 100)
    val flat = EventEtl.pipeline(Seq(envelope("u1", "e", 5)).toDF("value"), Key)
    val e = intercept[Exception] {
      AmplitudeSink.send(flat, AmplitudeSink.Config(
        url = "http://stub/batch", apiKey = "k", maxRetries = 2,
        backoffMs = 1L, poster = FlakyPoster))
    }
    assert(e.getMessage != null)
  }

  test("sink body stays valid JSON when api key contains quotes/backslashes") {
    RecordingPoster.reset()
    val flat = EventEtl.pipeline(Seq(envelope("u1", "e", 5)).toDF("value"), Key)
    AmplitudeSink.send(flat, AmplitudeSink.Config(
      url = "http://stub/batch", apiKey = "k\"quote\\slash", poster = RecordingPoster))
    val body = RecordingPoster.bodies.head
    // must parse cleanly and round-trip the key
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(node.get("api_key").asText === "k\"quote\\slash")
    assert(node.get("events").size === 1)
  }

  test("streaming: parse-stage observed metrics expose invalid/repaired counts") {
    val input = MemoryStream[String](spark)
    val flat = StreamingPipeline.transform(
      input.toDF(), Key, watermarkDelay = "1 hour")
    input.addData(
      envelope("u1", "login", 1000),
      b64("""{"jsonPayload":{"user_id":"u2","event_type":"e","time":2,"session_id":"oops"}}"""),
      // invalid, with the batch's earliest publish time: min/max count
      // every pulled message (synchronous-pull.js:59-63)
      b64("""{"jsonPayload":{"event_type":"bad","time":0},""" +
        """"attributes":{"logging.googleapis.com/timestamp":"2023-12-31T23:59:59.000Z"}}"""))
    val q = flat.writeStream
      .format("memory").queryName("graft_observe_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val parse = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("parse"))).toSeq
    assert(parse.nonEmpty)
    assert(parse.map(_.getAs[Long]("input_count")).sum === 3L)
    assert(parse.map(_.getAs[Long]("invalid_count")).sum === 1L)
    assert(parse.map(_.getAs[Long]("repaired_count")).sum === 1L)
    assert(parse.flatMap(r => Option(r.getAs[String]("min_publish_time")))
      .min === "2023-12-31T23:59:59.000Z")
    assert(parse.flatMap(r => Option(r.getAs[String]("max_publish_time")))
      .max === "2024-01-01T00:00:00.000Z")
  }

  test("streaming: stateful sessionization emits finalized sessions on watermark") {
    import java.sql.Timestamp
    val input = MemoryStream[(Long, Timestamp)](spark)
    val ms = (m: Long) => new Timestamp(m)
    val sessions = graft.streaming.StreamingSessions.sessionize(
      input.toDF().toDF("user_id", "ts"),
      gapMs = 60_000L, watermarkDelay = "0 seconds")
    // user 1: burst at t=1..30s (one session), then t=200s (second session).
    // (t=0 would collide with the INITIAL watermark and be dropped as late.)
    // user 99's late event at t=600s advances the watermark past both.
    input.addData((1L, ms(1_000)), (1L, ms(10_000)), (1L, ms(30_000)))
    input.addData((1L, ms(200_000)))
    input.addData((99L, ms(600_000)))
    input.addData((99L, ms(700_000))) // one more batch so 99's timeout fires too
    val q = sessions.writeStream
      .format("memory").queryName("graft_sessions_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("graft_sessions_test")
      .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted
    // user 1: sessions of 3 events and 1 event, both finalized
    assert(out.toSeq.take(2) === Seq((1L, 1L), (1L, 3L)).sorted)
  }

  test("streaming: watermarked tumbling-window aggregation finalizes on watermark") {
    import java.sql.Timestamp
    val input = MemoryStream[(String, Timestamp)](spark)
    val ms = (m: Long) => new Timestamp(m)
    val minute = 60_000L
    val counts = input.toDF().toDF("event_type", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 minute"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w_start"), $"event_type", $"n")
    // two windows of data, then a far-future event to advance the watermark
    input.addData(("click", ms(minute + 1000)), ("click", ms(minute + 2000)),
      ("view", ms(minute + 3000)))
    input.addData(("click", ms(2 * minute + 1000)))
    input.addData(("late", ms(60 * minute)))
    val q = counts.writeStream
      .format("memory").queryName("graft_window_test")
      .outputMode("append") // append emits a window only once it is FINAL
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("graft_window_test")
      .select($"w_start", $"event_type", $"n")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(out.contains((ms(minute), "click", 2L)))
    assert(out.contains((ms(minute), "view", 1L)))
    assert(out.contains((ms(2 * minute), "click", 1L)))
  }

  test("streaming: micro-batches flow, redelivered message deduped in-watermark") {
    val input = MemoryStream[String](spark)
    val flat = StreamingPipeline.transform(
      input.toDF().withColumnRenamed("value", "value"), Key,
      watermarkDelay = "1 hour")
    // each addData is its own micro-batch offset; batch 3 redelivers batch 1's
    // message. Data must be queued before an AvailableNow query starts.
    input.addData(envelope("u1", "login", 1000, withIdentify = true))
    input.addData(envelope("u2", "click", 2000))
    input.addData(envelope("u1", "login", 1000, withIdentify = true)) // dup
    val q = flat.writeStream
      .format("memory").queryName("graft_stream_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("graft_stream_test")
      .select($"event_type", $"is_identify").as[(String, Boolean)].collect()
    // u1 login emits identify+event ONCE (dup dropped), u2 click once
    assert(out.count(_._1 == "login") === 1)
    assert(out.count(_._1 == "$identify") === 1)
    assert(out.count(_._1 == "click") === 1)
  }
}

/** Serializable recording transport (local-mode tests share the JVM). */
object RecordingPoster extends AmplitudeSink.Poster {
  val bodies: mutable.Buffer[String] = mutable.Buffer.empty
  def reset(): Unit = synchronized { bodies.clear() }
  def post(url: String, body: String, timeoutMs: Int): Int =
    synchronized { bodies += body; 200 }
}

object FlakyPoster extends AmplitudeSink.Poster {
  @volatile var failuresLeft = 0
  @volatile var attempts = 0
  def reset(failures: Int): Unit = synchronized { failuresLeft = failures; attempts = 0 }
  def post(url: String, body: String, timeoutMs: Int): Int = synchronized {
    attempts += 1
    if (failuresLeft > 0) { failuresLeft -= 1; 500 } else 200
  }
}
