package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.Multimodal

/** Always-on CONTENT-DEFINED CHUNK-TABLE maintenance — the streaming form
  * of the clip-containment family's persisted artifact
  * ([[Multimodal.chunkTable]]), completing its taxonomy (build /
  * incremental / prebuilt / delete / STREAMED / streamed-erasure) the
  * same way [[StreamingMedia]] does for perceptual features.
  *
  * The expensive step is the codec-boundary per-byte chunking: per batch
  * ONLY the adds are chunked (bytes ∝ batch; 16-byte digests, never
  * media, land in `seg/v=<id>/chnk`). The chunk table is a per-media row
  * artifact — nothing to decrement — so tombstone erasure IS the
  * version-ordered anti join ([[SegmentedState.rowView]]), erase →
  * re-ingest churn is correct by the same rule, minor folds concatenate
  * the del-less tail run, and major compaction buckets by a media-id
  * hash — the [[SegmentedState.applyRows]] fold. Replays are
  * pointer-skipped / mismatch-thrown by [[StatePointer.applyOnce]]
  * before any state dir is touched.
  *
  * Serving: [[clipPairs]] runs the containment tail
  * ([[Multimodal.clipPairsFromChunks]]) over the merge-on-read view —
  * zero media access; [[probeBatch]] is the incremental ingest check
  * over the maintained state. `q_media_clip_stream` pins streamed ≡ the
  * inline build's oracle VERBATIM; `q_media_clip_stream_erasure` pins
  * the survivors contract. */
object StreamingChunks {

  val DefaultMaxSegments = 8
  val DefaultBuckets = 32

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  /** The maintained (media_id, band_hash) view over the live corpus. */
  def readChunks(spark: SparkSession, dir: String): DataFrame =
    SegmentedState.rowView(spark, dir,
      SegmentedState.current(spark, dir, "chunk state"), "chnk", "media_id",
      baseDrop = Seq("b"))

  /** Containment pairs over the maintained state — zero media access. */
  def clipPairs(spark: SparkSession, dir: String, minShared: Int = 2,
      maxChunkDf: Int = 4096): DataFrame =
    Multimodal.clipPairsFromChunks(readChunks(spark, dir), minShared,
      maxChunkDf)

  /** Probe a NEW batch against the maintained state without folding it. */
  def probeBatch(spark: SparkSession, dir: String, newMedia: DataFrame,
      window: Int = 8, divisor: Int = 32, minShared: Int = 2,
      maxChunkDf: Int = 4096): DataFrame =
    Multimodal.clipContainmentIncremental(newMedia,
      readChunks(spark, dir), window, divisor, minShared, maxChunkDf)

  /** Fold one batch (optionally a change stream with tombstones under
    * `deleteCol`; tombstone rows need only media_id — they are never
    * chunked) into the persisted chunk state. Public so batch-parity
    * catalog rows drive the IDENTICAL code the writer runs. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets, window: Int = 8, divisor: Int = 32,
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): Unit =
    // the batch is CHUNKED here, once
    SegmentedState.applyRows(batch, dir, batchId, deleteCol, "media_id",
      "chnk", maxSegments, majorRatio, "b", Some(nBuckets))(
      Multimodal.chunkTable(_, window, divisor))

  /** Out-of-band compaction at the current version (no-op without
    * segments); content-identical, manifest rewrite atomic. */
  def compact(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBuckets): Unit =
    SegmentedState.compact(spark, dir)(SegmentedState.compactRows(spark,
      dir, "chnk", "media_id", "b", Some(nBuckets)))

  /** Reclaim superseded segments/bases/manifests; `retain` > 1 =
    * concurrent-reader grace window ([[SegmentedState.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit =
    SegmentedState.vacuum(spark, dir, withStats = false, retain)

  /** Wire a media (or change) stream to the maintained chunk state. */
  def writer(media: DataFrame, dir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets,
      vacuumEvery: Int = 0,
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(media, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, _, deleteCol, maxSegments, nBuckets,
        majorRatio = majorRatio))
}
