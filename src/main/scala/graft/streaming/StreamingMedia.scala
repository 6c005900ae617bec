package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.Multimodal

/** Always-on MEDIA FEATURES maintenance: a media (or change) stream folds
  * into a persisted per-media feature artifact under the
  * [[StatePointer]]/[[SegmentedState]] discipline — the streaming form of
  * `q_media_neardup_incr`'s features artifact, giving the multimodal
  * family the same always-on ingest story as text near-dup
  * ([[StreamingDedup]]), ANN ([[StreamingIvf]]), and retrieval
  * ([[StreamingIndex]]).
  *
  * The expensive step in a multimodal pipeline is the DECODE. Per batch,
  * ONLY the adds pass the codec boundary ([[Multimodal.extractFeatures]] —
  * scan-side, one codec per task, media bytes never shuffle) and land as
  * an immutable `seg/v=<id>/feat` segment (bytes ∝ batch, and ~10³×
  * smaller than the media). Tombstone id lists ride `seg/v=<id>/del` —
  * features are a per-media row artifact with nothing to decrement, so
  * erasure IS the version-ordered anti join ([[SegmentedState.rowView]]),
  * and erase → re-ingest churn is correct by the same rule. At
  * `maxSegments` the view compacts into `base/v=<id>/feat` hive-bucketed
  * by a media-id hash (clustered write — one file per bucket); minor
  * folds concatenate the del-less tail run without touching the base —
  * the [[SegmentedState.applyRows]] fold. Replays are pointer-skipped
  * before any state dir is touched.
  *
  * Serving: [[nearDups]] runs the band → cap → verify tail
  * ([[Multimodal.dedupNearFromFeatures]]) over the merge-on-read view —
  * near-dup over the maintained state never re-reads, re-decodes, or
  * shuffles any media. `q_media_neardup_stream` pins streamed ≡ the
  * inline build's oracle VERBATIM; `q_media_neardup_erasure` pins the
  * survivors contract. */
object StreamingMedia {

  val DefaultMaxSegments = 8
  val DefaultBuckets = 32

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  /** The maintained (media_id, features) view over the live corpus. */
  def readFeatures(spark: SparkSession, dir: String): DataFrame =
    SegmentedState.rowView(spark, dir,
      SegmentedState.current(spark, dir, "media state"), "feat", "media_id",
      baseDrop = Seq("b"))

  /** Perceptual near-dup pairs over the maintained state — zero media
    * access ([[Multimodal.dedupNearFromFeatures]]). */
  def nearDups(spark: SparkSession, dir: String,
      threshold: Double = 0.9995, dim: Int = 16, bandCoords: Int = 4,
      quantLevels: Int = 256, maxBucket: Int = 4096): DataFrame =
    Multimodal.dedupNearFromFeatures(readFeatures(spark, dir), threshold,
      dim, bandCoords, quantLevels, maxBucket)

  /** Probe a NEW batch against the maintained state without folding it —
    * the [[Multimodal.dedupNearIncremental]] ingest check, reading the
    * corpus side from the maintained features. */
  def probeBatch(spark: SparkSession, dir: String, newMedia: DataFrame,
      threshold: Double = 0.9995, dim: Int = 16,
      codec: Multimodal.MediaCodec = Multimodal.FakeCodec): DataFrame =
    Multimodal.dedupNearIncremental(newMedia, readFeatures(spark, dir),
      threshold, dim, codec = codec)

  /** Fold one batch (optionally a change stream with tombstones under
    * `deleteCol`; tombstone rows need only media_id — they are never
    * decoded) into the persisted feature state. Public so batch-parity
    * catalog rows drive the IDENTICAL code the writer runs. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets, dim: Int = 16,
      codec: Multimodal.MediaCodec = Multimodal.FakeCodec,
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): Unit =
    // the batch is DECODED here, once
    SegmentedState.applyRows(batch, dir, batchId, deleteCol, "media_id",
      "feat", maxSegments, majorRatio, "b", Some(nBuckets))(
      Multimodal.extractFeatures(_, dim, codec)
        .select(col("media_id"), col("features")))

  /** Out-of-band compaction at the current version (no-op without
    * segments); content-identical, manifest rewrite atomic. */
  def compact(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBuckets): Unit =
    SegmentedState.compact(spark, dir)(SegmentedState.compactRows(spark,
      dir, "feat", "media_id", "b", Some(nBuckets)))

  /** Reclaim superseded segments/bases/manifests; `retain` > 1 =
    * concurrent-reader grace window ([[SegmentedState.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit =
    SegmentedState.vacuum(spark, dir, withStats = false, retain)

  /** Wire a media (or change) stream to the maintained feature state. */
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
