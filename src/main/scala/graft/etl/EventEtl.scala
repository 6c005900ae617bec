package graft.etl

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's per-record transform chain (`utils.js:37-90`,
  * `synchronous-pull.js:56-72`) as a single narrow Spark stage:
  * one `mapPartitions` running [[EventParser]] per message (the O2→O9 chain
  * + identify trigger), then a constant-size Catalyst projection building
  * the 0/1/2 output records per message ([[flatten]], O10).
  *
  * No shuffle anywhere in the chain — the 100 TB path is embarrassingly
  * parallel, scaling linearly with input partitions. The only wide operator
  * in this file is the explicit redelivery dedup ([[pipelineDedup]]), a
  * hash-partitioned shuffle on a 64-hex uniform key (no skew by
  * construction).
  *
  * Column layout: [[parsed]] appends the per-message diagnostic columns
  * (everything a downstream stage or test needs to observe per stage) after
  * the caller's passthrough columns; [[flatten]] turns them into the
  * reference's flattened Amplitude record stream.
  */
object EventEtl {

  /** Diagnostic/message-level columns produced by [[parsed]], appended after
    * the caller's passthrough columns (order matches
    * [[EventParser.Parsed.toSeq]]). */
  val parsedFields: Seq[StructField] = Seq(
    StructField("publish_time", StringType),
    StructField("event_type", StringType),
    StructField("time_ms", LongType),
    StructField("user_id_raw", StringType),
    StructField("device_id_raw", StringType),
    StructField("valid", BooleanType, nullable = false),
    StructField("session_id", DoubleType),
    StructField("user_id", StringType),
    StructField("insert_id", StringType),
    StructField("event_properties", StringType),
    StructField("user_properties", StringType),
    StructField("identify_props", StringType),
    StructField("has_identify", BooleanType, nullable = false),
    StructField("session_repaired", BooleanType, nullable = false),
    StructField("session_id_old", StringType))

  private val parsedFieldNames = parsedFields.map(_.name).toSet

  /** O2→O9 + identify trigger: one parsed diagnostic row per input message
    * (invalid messages included, marked `valid = false` — the reference acks
    * and drops them silently, observable only through [[pipelineMetrics]]).
    * Caller columns other than `inputCol` pass through. */
  def parsed(raw: DataFrame, hmacKey: String, inputCol: String = "value"): DataFrame = {
    val keepIdx = raw.columns.zipWithIndex.collect { case (c, i) if c != inputCol => i }
    val vIdx = raw.columns.indexOf(inputCol)
    require(vIdx >= 0, s"input column '$inputCol' not found")
    val schema = StructType(keepIdx.map(raw.schema(_)) ++ parsedFields)
    raw.mapPartitions { it =>
      it.map { row =>
        val p = EventParser.parse(
          if (row.isNullAt(vIdx)) null else row.getString(vIdx), hmacKey)
        Row.fromSeq(keepIdx.toSeq.map(row.get) ++ p.toSeq)
      }
    }(Encoders.row(schema))
  }

  /** O10 — the 1→{0,1,2} flatMap (`synchronous-pull.js:65-72`): invalid
    * messages emit nothing; identify-triggering messages emit the synthetic
    * `$identify` record FIRST (SURVEY.md §2.3.3 — ordering is structural:
    * both records live in one array cell until posexplode, never relying on
    * cross-partition row order). The identify record carries no
    * time/session_id/insert_id (`utils.js:78-83`). */
  def flatten(parsedDf: DataFrame): DataFrame = {
    val keep = parsedDf.columns.filter(c => !parsedFieldNames.contains(c))
    val nullS = lit(null).cast(StringType)
    val identify = struct(
      col("user_id"), col("device_id_raw").as("device_id"),
      lit("$identify").as("event_type"),
      lit(null).cast(LongType).as("time"),
      lit(null).cast(DoubleType).as("session_id"),
      nullS.as("insert_id"), nullS.as("event_properties"),
      col("identify_props").as("user_properties"),
      lit(true).as("is_identify"))
    val httpapi = struct(
      col("user_id"), col("device_id_raw").as("device_id"),
      col("event_type"), col("time_ms").as("time"), col("session_id"),
      col("insert_id"), col("event_properties"), col("user_properties"),
      lit(false).as("is_identify"))
    val rows = when(col("valid"),
      when(col("has_identify"), array(identify, httpapi)).otherwise(array(httpapi)))
    parsedDf
      .select((keep.map(col) :+ col("publish_time") :+ posexplode(rows)): _*)
      .select((keep.map(col) :+
        col("col.user_id") :+ col("col.device_id") :+ col("col.event_type") :+
        col("col.time") :+ col("col.session_id") :+ col("col.insert_id") :+
        col("col.event_properties") :+ col("col.user_properties") :+
        col("col.is_identify") :+ col("publish_time") :+
        col("pos").as("seq")): _*)
  }

  /** The full O2→O10 chain. */
  def pipeline(raw: DataFrame, hmacKey: String, inputCol: String = "value"): DataFrame =
    flatten(parsed(raw, hmacKey, inputCol))

  /** Effectively-once over a redelivered stream (`synchronous-pull.js:74-86`
    * failure semantics + Amplitude-side `insert_id` dedup): drop duplicate
    * MESSAGES on the deterministic insert_id BEFORE the identify split, so a
    * redelivered message contributes neither its event nor its synthetic
    * identify record twice. Keyed pre-split because the identify record
    * itself carries no insert_id (`utils.js:78-83`) — deduping the flattened
    * stream would either keep identify duplicates or wrongly conflate
    * identical identify payloads from distinct messages.
    *
    * Invalid messages (insert_id null) collapse to one survivor, which emits
    * zero rows regardless — harmless. At scale: one shuffle on a uniform
    * 64-hex key; map-side partial aggregation applies. Streaming mode must
    * use `dropDuplicatesWithinWatermark` instead (unbounded state otherwise,
    * SURVEY.md §7.4.5). */
  def pipelineDedup(raw: DataFrame, hmacKey: String, inputCol: String = "value"): DataFrame =
    flatten(parsed(raw, hmacKey, inputCol).dropDuplicates("insert_id"))

  /** O11+O14 — per-batch observability in ONE pass over the parsed
    * stream (no second scan of the raw input): input/output counts, true
    * min/max publish time over ALL messages, valid or not (the reference
    * accumulates before the validity gate, `synchronous-pull.js:59-63`; its
    * `else if` min/max bug B1 is deliberately not replicated — SURVEY.md
    * §2.6), plus the error
    * side-channels the reference logs per record — `invalid_count` (O6
    * drops, silent in the reference) and `repaired_count`
    * (`amplitude.validation.error`, `utils.js:66`; the reference logs only
    * for records that survive the validity gate, so the count is gated on
    * `valid` here too). The output arity is derived, not measured:
    * valid messages emit 1 + has_identify records ([[flatten]]). */
  def pipelineMetrics(parsedDf: DataFrame): DataFrame =
    parsedDf.agg(
      count(lit(1)).as("input_count"),
      sum(when(col("valid"),
          when(col("has_identify"), 2L).otherwise(1L)).otherwise(0L))
        .as("output_count"),
      sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid_count"),
      sum(when(col("valid") && col("session_repaired"), 1L).otherwise(0L))
        .as("repaired_count"),
      min(col("publish_time")).as("min_publish_time"),
      max(col("publish_time")).as("max_publish_time"))
}
