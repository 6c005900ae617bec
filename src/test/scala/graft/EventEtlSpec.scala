package graft

import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.EventEtl

/** End-to-end fixtures through the O2→O10 chain (FIXTURES.md §B): every
  * envelope variant, every validity/repair edge, identify-split shape. */
class EventEtlSpec extends SparkTestBase {
  import spark.implicits._

  private val Key = "graft-test-key"

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def run(payloads: String*): DataFrame = {
    val rows = payloads.zipWithIndex.map { case (p, i) =>
      (i.toLong, b64(
        s"""{"jsonPayload":$p,"attributes":{"logging.googleapis.com/timestamp":"2024-01-01T00:00:0$i.000Z"}}"""))
    }
    EventEtl.pipeline(rows.toDF("fixture_id", "value"), Key)
  }

  private val flatEvent =
    """{"Fields":{"user_id":"uid-1","device_id":"dev-1","event_type":"fxa_login - success",
      |"time":1704067200000,"session_id":1704067100000,
      |"event_properties":"{\"service\":\"sync\"}",
      |"user_properties":"{\"$set\":{\"ua_browser\":\"Firefox\"},\"flow_id\":\"f1\"}"}}"""
      .stripMargin.replace("\n", "")

  test("flat form: stringified props parsed, identify split, ordering") {
    val out = run(flatEvent).collect()
    assert(out.length === 2)
    val first = out.find(_.getAs[Int]("seq") == 0).get
    val second = out.find(_.getAs[Int]("seq") == 1).get
    // identify first (SURVEY §2.3.3)
    assert(first.getAs[Boolean]("is_identify"))
    assert(first.getAs[String]("event_type") === "$identify")
    // identify shape: no time/session/insert_id (SURVEY §2.3.5)
    assert(first.isNullAt(first.fieldIndex("time")))
    assert(first.isNullAt(first.fieldIndex("session_id")))
    assert(first.isNullAt(first.fieldIndex("insert_id")))
    assert(first.getAs[String]("user_properties") ===
      """{"$set":{"ua_browser":"Firefox"}}""")
    // original keeps only non-verb keys
    assert(second.getAs[String]("user_properties") === """{"flow_id":"f1"}""")
    assert(second.getAs[String]("event_properties") === """{"service":"sync"}""")
    assert(second.getAs[Long]("time") === 1704067200000L)
    assert(second.getAs[Double]("session_id") === 1704067100000.0)
    // pseudonymized uid, same on both records
    assert(first.getAs[String]("user_id") === second.getAs[String]("user_id"))
    assert(first.getAs[String]("user_id") !== "uid-1")
    assert(first.getAs[String]("user_id").length === 64)
    assert(second.getAs[String]("publish_time") === "2024-01-01T00:00:00.000Z")
  }

  test("op/data form unwraps; nested props NOT re-parsed (B3)") {
    val inner = """{\"user_id\":\"uid-2\",\"event_type\":\"click\",\"time\":5,"""+
      """\"user_properties\":\"{\\\"$set\\\":{\\\"a\\\":1}}\"}"""
    val out = run(s"""{"Fields":{"op":"amplitudeEvent","data":"$inner"}}""").collect()
    // stringified user_properties stays a string in the op/data branch →
    // no identify split, up forwarded as the original string value
    assert(out.length === 1)
    assert(!out.head.getAs[Boolean]("is_identify"))
    assert(out.head.getAs[String]("user_properties") ===
      "\"{\\\"$set\\\":{\\\"a\\\":1}}\"")
  }

  test("bare payload (no Fields wrapper) works") {
    val out = run("""{"user_id":"u","event_type":"e","time":1}""").collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("event_type") === "e")
  }

  test("bare + stringified props NOT re-parsed, no identify (O5 gated on Fields)") {
    // reference scopes the re-parse inside `if (event.Fields)` (utils.js:38-51):
    // a bare stringified $set stays a string and must NOT trigger a split
    val out = run(
      """{"user_id":"u","event_type":"e","time":1,
        |"user_properties":"{\"$set\":{\"a\":1},\"k\":\"v\"}",
        |"event_properties":"{\"svc\":\"sync\"}"}""".stripMargin.replace("\n", ""))
      .collect()
    assert(out.length === 1)
    assert(!out.head.getAs[Boolean]("is_identify"))
    assert(out.head.getAs[String]("user_properties") ===
      "\"{\\\"$set\\\":{\\\"a\\\":1},\\\"k\\\":\\\"v\\\"}\"")
    assert(out.head.getAs[String]("event_properties") === "\"{\\\"svc\\\":\\\"sync\\\"}\"")
  }

  test("bare + op/data keys are ordinary fields, NOT an unwrap (O4 gated on Fields)") {
    val out = run(
      """{"op":"decoy","data":"not-json","user_id":"u","event_type":"outer","time":9}""")
      .collect()
    assert(out.length === 1) // pre-fix parsers would JSON.parse("not-json") and drop the row
    assert(out.head.getAs[String]("event_type") === "outer")
    assert(out.head.getAs[Long]("time") === 9L)
  }

  test("op/data unwrap accepts JS-truthy non-string op (utils.js:41)") {
    val inner = """{\"user_id\":\"u\",\"event_type\":\"in\",\"time\":3}"""
    val out = run(s"""{"Fields":{"op":1,"data":"$inner"}}""").collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("event_type") === "in")
  }

  test("numeric user_id: fails validation probe but IS hashed (utils.js:70)") {
    val out = run(
      """{"user_id":42,"device_id":"d","event_type":"e","time":1}""",
      """{"user_id":"42","device_id":"d","event_type":"e","time":1}""",
      """{"user_id":42,"event_type":"e","time":1}""") // no device → invalid
      .collect()
    assert(out.map(_.getAs[Long]("fixture_id")).toSet === Set(0L, 1L))
    val byFix = out.map(r => r.getAs[Long]("fixture_id") -> r).toMap
    // String(42) and "42" hash identically
    assert(byFix(0L).getAs[String]("user_id") === byFix(1L).getAs[String]("user_id"))
    assert(byFix(0L).getAs[String]("user_id").length === 64)
    // and the insert_id preimages agree too (user_id digest + same rest)
    assert(byFix(0L).getAs[String]("insert_id") === byFix(1L).getAs[String]("insert_id"))
  }

  test("validation: missing event_type / non-positive time / no ids drop") {
    val out = run(
      """{"user_id":"u","time":1}""",
      """{"user_id":"u","event_type":"e","time":0}""",
      """{"user_id":"u","event_type":"e","time":-5}""",
      """{"event_type":"e","time":1}""",
      """{"user_id":"","device_id":"","event_type":"e","time":1}""",
      """{"user_id":"u","event_type":"","time":1}""",
      """{"user_id":"u","event_type":"e","time":"123"}""",
      """{"device_id":"d","event_type":"e","time":1}""")
    assert(out.select("fixture_id").as[Long].collect().toSet === Set(7L))
  }

  test("device-only event: no pseudonymize, user_id stays null") {
    val out = run("""{"device_id":"d1","event_type":"e","time":1}""").collect()
    assert(out.length === 1)
    assert(out.head.isNullAt(out.head.fieldIndex("user_id")))
    assert(out.head.getAs[String]("insert_id").length === 64)
  }

  test("session_id repair: string-numeric, garbage, zero, float, absent") {
    val out = run(
      """{"user_id":"u","event_type":"e","time":1,"session_id":"1704067100000"}""",
      """{"user_id":"u","event_type":"e","time":1,"session_id":"oops"}""",
      """{"user_id":"u","event_type":"e","time":1,"session_id":0}""",
      """{"user_id":"u","event_type":"e","time":1,"session_id":1.5}""",
      """{"user_id":"u","event_type":"e","time":1,"session_id":"  42abc"}""",
      """{"user_id":"u","event_type":"e","time":1}""")
      .select($"fixture_id", $"session_id").as[(Long, Option[Double])]
      .collect().toMap
    assert(out(0L) === Some(1704067100000.0))
    assert(out(1L) === Some(-1.0))
    assert(out(2L) === Some(0.0))
    assert(out(3L) === Some(1.5))
    assert(out(4L) === Some(42.0)) // JS parseInt('  42abc') = 42
    assert(out(5L) === None)
  }

  test("JSON-null verb does not trigger identify; map kept intact") {
    val out = run(
      """{"user_id":"u","event_type":"e","time":1,"user_properties":{"$unset":null,"ok":true}}""")
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("user_properties") === """{"$unset":null,"ok":true}""")
  }

  test("absent user_properties: no crash (bug B2 fixed), no identify") {
    val out = run("""{"user_id":"u","event_type":"e","time":1}""").collect()
    assert(out.length === 1)
    assert(out.head.isNullAt(out.head.fieldIndex("user_properties")))
  }

  test("all-verb map: httpapi keeps empty user_properties object") {
    val out = run(
      """{"user_id":"u","event_type":"e","time":1,"user_properties":{"$add":{"n":1}}}""")
      .collect()
    assert(out.length === 2)
    val httpapi = out.find(!_.getAs[Boolean]("is_identify")).get
    assert(httpapi.getAs[String]("user_properties") === "{}")
    val ident = out.find(_.getAs[Boolean]("is_identify")).get
    assert(ident.getAs[String]("user_properties") === """{"$add":{"n":1}}""")
  }

  test("insert_id: session 0 collides with absent session (falsy-skip)") {
    val out = run(
      """{"user_id":"u","device_id":"d","event_type":"e","time":7,"session_id":0}""",
      """{"user_id":"u","device_id":"d","event_type":"e","time":7}""")
      .select($"insert_id").as[String].collect()
    assert(out.toSet.size === 1)
  }

  test("dedup of a redelivered batch is effectively-once") {
    val rows = Seq((1L, b64(s"""{"jsonPayload":$flatEvent}"""))).toDF("fixture_id", "value")
    val doubled = rows.union(rows)
    val out = EventEtl.pipelineDedup(doubled, Key)
    assert(out.count() === 2) // one identify + one event
  }

  test("pipeline metrics: invalid + repaired side-channel counts (utils.js:66)") {
    val rows = Seq(
      s"""{"jsonPayload":$flatEvent,"attributes":{"logging.googleapis.com/timestamp":"2024-01-01T00:00:05.000Z"}}""",
      """{"jsonPayload":{"event_type":"bad","time":0},"attributes":{"logging.googleapis.com/timestamp":"2024-01-01T00:00:01.000Z"}}""",
      """{"jsonPayload":{"user_id":"u","event_type":"e","time":1,"session_id":"oops"}}""",
      // invalid AND string session: repair is logged only past the gate → not counted
      """{"jsonPayload":{"user_id":"u","time":1,"session_id":"77"}}""")
      .zipWithIndex.map { case (p, i) => (i.toLong, b64(p)) }
      .toDF("fixture_id", "value")
    val m = EventEtl.pipelineMetrics(EventEtl.parsed(rows, Key)).head()
    assert(m.getAs[Long]("input_count") === 4L)
    assert(m.getAs[Long]("output_count") === 3L) // identify + event + repaired event
    assert(m.getAs[Long]("invalid_count") === 2L)
    assert(m.getAs[Long]("repaired_count") === 1L)
    assert(m.getAs[String]("min_publish_time") === "2024-01-01T00:00:01.000Z")
    assert(m.getAs[String]("max_publish_time") === "2024-01-01T00:00:05.000Z")
  }

  test("session repair records old value in the side-channel columns") {
    val rows = Seq((0L, b64(
      """{"jsonPayload":{"user_id":"u","event_type":"e","time":1,"session_id":"  42abc"}}""")))
      .toDF("fixture_id", "value")
    val p = EventEtl.parsed(rows, Key).head()
    assert(p.getAs[Boolean]("session_repaired"))
    assert(p.getAs[String]("session_id_old") === "  42abc")
    assert(p.getAs[Double]("session_id") === 42.0)
  }
}
