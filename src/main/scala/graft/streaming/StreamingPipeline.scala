package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.etl.EventEtl
import graft.sink.AmplitudeSink

/** Structured-Streaming form of the reference daemon
  * (`synchronous-pull.js:23-105`): an unbounded envelope stream, the O2→O10
  * chain per micro-batch, watermark-bounded insert_id dedup, and the
  * Amplitude sink inside `foreachBatch` with checkpoint commit as the ack.
  *
  * Mapping (SURVEY.md §3.1):
  *   - pull loop            → micro-batch trigger (`maxFilesPerTrigger` /
  *     `Trigger.ProcessingTime` plays MAX_EVENTS_PER_BATCH's role)
  *   - transform chain      → [[EventEtl.parsed]]/[[EventEtl.flatten]]
  *   - Amplitude dedup      → `dropDuplicatesWithinWatermark("insert_id")`,
  *     applied at MESSAGE level (pre-split) so identify records are neither
  *     duplicated nor wrongly conflated; watermark-bounded state, never the
  *     unbounded batch `dropDuplicates` (SURVEY.md §7.4.5)
  *   - send + retry         → [[AmplitudeSink.send]] in `foreachBatch`; a
  *     terminal failure fails the batch, no checkpoint commit, redelivery —
  *     the reference's no-ack-on-failure path (`synchronous-pull.js:83-86`)
  *   - ack                  → checkpoint offset commit after `foreachBatch`;
  *     a local checkpoint is written through Hadoop's FileSystem API, not
  *     FileContext, which forks `readlink` per stat without libhadoop
  *     (see [[graft.Main]]; HDFS keeps FileContext, an explicit
  *     `spark.sql.streaming.checkpointFileManagerClass` wins)
  *   - batch metrics (O14)  → `observe()` counters surfaced through
  *     `StreamingQueryProgress.observedMetrics`
  */
object StreamingPipeline {

  /** Raw envelope stream from a directory of text files (one base64 envelope
    * per line) — the harness stand-in for a Pub/Sub/Kafka source; swap
    * `format` for kafka in production (the chain is source-agnostic).
    *
    * The relation is built on a clone of `spark` with `conf` set (when it
    * is non-empty) and the plan is rebound to `spark`: the query runs on,
    * and is reported by, the caller's `spark.streams`, and the caller's
    * conf is unchanged. Spark reads two of the daemon's defaults
    * ([[graft.Main.sessionDefaults]]) from the session the relation was
    * built with, not from the one `writeStream.start()` clones:
    *   - the listing threshold. The source stats each micro-batch's files
    *     on the driver: its `getBatch` indexes the batch's file paths, and
    *     above `spark.sql.sources.parallelPartitionDiscovery.threshold`
    *     (default 32) paths Spark lists them in a distributed job, one task
    *     per path. That job is meant for recursing remote directory trees;
    *     these paths are leaf files the source already listed, and the job
    *     cost most of a drain batch. The daemon sets it to `Int.MaxValue`.
    *   - the checkpoint file manager of the source's own log,
    *     `sources/0`, which Spark opens at query init, after `start()`
    *     returns. */
  def readEnvelopes(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None,
      conf: Map[String, String] = Map.empty): DataFrame = {
    val source =
      if (conf.isEmpty) spark
      else {
        val clone = GraftBridge.cloneSession(spark)
        conf.foreach { case (k, v) => clone.conf.set(k, v) }
        clone
      }
    val r = source.readStream.format("text")
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    GraftBridge.ofRows(spark, r.load(dir))
  }

  /** The full transform: parse → watermarked message-level dedup → flatten.
    * `publish_time` (RFC-3339 text) supplies event time for the watermark.
    * The parse stage carries `observe("parse", ...)` counters — the
    * engine form of the reference's per-record error logs
    * (`amplitude.validation.error`, `utils.js:66`; silent O6 drops):
    * input/invalid/repaired counts and the min/max publish time over
    * every pulled message (`synchronous-pull.js:59-63`, before any
    * filter or dedup) surface per micro-batch through
    * `StreamingQueryProgress.observedMetrics("parse")`. Invalid messages
    * are dropped after those counters and before the dedup: they emit
    * nothing after [[EventEtl.flatten]], and their shared null insert_id
    * would pile them onto one state partition.
    *
    * A message without a parseable publish time has a null event time.
    * Spark never judges a null event time late and never moves the
    * watermark with it, so the message is sent. Its dedup entry expires at
    * the next eviction, so a copy redelivered in a later batch may be sent
    * again; Amplitude's own `insert_id` dedup absorbs that. There is no
    * fallback to `current_timestamp()`: one such message would move the
    * watermark to wall-clock time less the delay, and every backlog
    * message behind it would be dropped as late, in batches still
    * committed (acked). Spark would also inline each batch's timestamp
    * into the generated code and recompile the parse stage every batch.
    *
    * The dedup state has `spark.sql.shuffle.partitions` partitions, fixed
    * at the checkpoint's first start ([[graft.Main.start]] sizes it to the
    * task slots). */
  def transform(raw: DataFrame, hmacKey: String,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val deduped = EventEtl.parsed(raw, hmacKey)
      .observe("parse", EventEtl.ParseCounters.head,
        EventEtl.ParseCounters.tail: _*)
      .filter(col("valid"))
      .withColumn("publish_ts", to_timestamp(col("publish_time")))
      .withWatermark("publish_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("insert_id")
    EventEtl.flatten(deduped.drop("publish_ts"))
  }

  /** Wire the stream to the Amplitude sink with per-batch metrics logging
    * (O11/O14). Caller starts/stops the returned writer. */
  def writer(flat: DataFrame, cfg: AmplitudeSink.Config,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): DataStreamWriter[org.apache.spark.sql.Row] = {
    flat.observe("batch", count(lit(1)).as("output_count")).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        AmplitudeSink.send(df, cfg)
        () // commit happens after this returns — the ack analog
      }
  }
}
