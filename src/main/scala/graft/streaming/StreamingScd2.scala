package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.analytics.Analytics

/** Continuously-maintained SCD2 history with SEGMENTED persistence — the
  * history-keeping twin of [[StreamingSnapshot]].
  *
  * ==Why the history CAN be segmented after all==
  * The r10 first cut kept this state copy-on-write ("the fold is
  * sequential and non-idempotent"), rewriting the WHOLE history per
  * batch. But a type-2 history decomposes exactly along the
  * mutable/immutable line:
  *
  *  - '''closed intervals are append-only''': once a row's `valid_to` is
  *    set it never changes again — a batch can only ADD closed rows;
  *  - '''open rows are a per-key snapshot''': one `is_current` row per
  *    key, REPLACED when the key changes state — last-writer-wins, the
  *    [[StreamingSnapshot]] problem verbatim.
  *
  * So each batch writes `seg/v=<id>/closed` (rows this batch closed:
  * the touched keys' previous open rows plus intra-batch superseded
  * states) and `seg/v=<id>/open` (the touched keys' NEW open rows) —
  * '''bytes ∝ touched keys, never ∝ history'''. The read view is
  * `(closed parts appended) ∪ (open parts LWW-merged per key)`; the
  * fold itself stays sequential and non-idempotent (versions would
  * re-increment), so the `_LATEST` pointer remains the correctness
  * guard against replays, exactly as before.
  *
  * Per-batch compute also drops from O(history) to O(open + batch): the
  * incremental MERGE ([[Analytics.scd2Apply]]) only ever needs the OPEN
  * rows — closed intervals are invisible to it — so the batch applies
  * against the open-row view, not the full history.
  *
  * Compaction at `maxSegments` folds both sides into
  * `base/v=<id>/{closed,open}`, hive-partitioned by a key-hash bucket
  * (O(history) but amortized over `maxSegments` batches — the family
  * contract); [[vacuum]] reclaims superseded state. Micro-batch
  * watermark ordering gives scd2Apply its strictly-newer precondition
  * for free in event-time-ordered sources; out-of-order stragglers fail
  * the operator's rail rather than corrupting history. */
object StreamingScd2 {

  val DefaultMaxSegments = 8
  val DefaultBuckets = 32

  import SegmentedState.Manifest

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  private def manifest(spark: SparkSession, dir: String): Manifest =
    SegmentedState.current(spark, dir, "history")

  // ---- key column name, persisted once next to the state ----

  private def readKeyCol(spark: SparkSession, dir: String): String =
    SegmentedState.readMeta(spark, dir).getOrElse("key",
      throw new IllegalStateException(s"malformed _META at $dir"))

  // ---- the two views ----

  /** Append-only side: closed intervals never change, so the view is a
    * plain union — no joins, no dedup, nothing to merge. */
  private def closedView(spark: SparkSession, dir: String,
      m: Manifest): DataFrame = {
    val parts = m.base.map(v =>
        spark.read.parquet(s"$dir/base/v=$v/closed").drop("b")).toSeq ++
      m.segments.map(v => spark.read.parquet(s"$dir/seg/v=$v/closed"))
    parts.reduce(_ unionByName _)
  }

  /** LWW side: one open row per key, the latest touching segment wins —
    * [[StreamingSnapshot]]'s broadcast key-gated merge: base rows touched
    * by no segment pass one anti join unshuffled; only contested keys
    * (plus all segment rows — a sliver) take the per-key pick. */
  private def openView(spark: SparkSession, dir: String, m: Manifest,
      keyCol: String): DataFrame = {
    val base = m.base.map(v =>
      spark.read.parquet(s"$dir/base/v=$v/open").drop("b"))
    val segs = m.segments.map(v =>
      spark.read.parquet(s"$dir/seg/v=$v/open").withColumn("_v", lit(v)))
    if (segs.isEmpty)
      return base.getOrElse(
        throw new IllegalStateException(s"empty manifest at $dir"))
    val segAll = segs.reduce(_ unionByName _)
    val segKeys = broadcast(segAll.select(col(keyCol)).distinct())
    val contestedBase = base.map(_
      .join(segKeys, Seq(keyCol), "left_semi").withColumn("_v", lit(-1L)))
    val winners = SegmentedState.lastWriterWins(
      contestedBase.fold(segAll)(_ unionByName segAll), Seq(keyCol))
    base.fold(winners) { b =>
      b.join(segKeys, Seq(keyCol), "left_anti").unionByName(winners)
    }
  }

  /** The full type-2 history: append-only closed intervals ∪ the LWW
    * open-row set (error until the first batch commits). */
  def readHistory(spark: SparkSession, dir: String): DataFrame = {
    val m = manifest(spark, dir)
    closedView(spark, dir, m)
      .unionByName(openView(spark, dir, m, readKeyCol(spark, dir)))
  }

  private[graft] def applyBatch(df: DataFrame, dir: String, keyCol: String,
      tsCol: String, stateCol: String, tieCol: String, batchId: Long,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets,
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): Unit = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    for (reserved <- Seq("b", "_v", "_w"))
      require(!df.columns.contains(reserved),
        s"column name '$reserved' is reserved by the segmented state " +
          "layout (bucket/version markers) — rename the column")
    val spark = df.sparkSession
    StatePointer.applyOnce(spark, dir, batchId) { prev =>
      SegmentedState.writeMeta(spark, dir, "key" -> keyCol)
      // the MERGE sees only the OPEN rows — closed intervals are
      // invisible to scd2Apply's bulk/touched/new decomposition, so
      // the apply is O(open + batch) regardless of history depth
      val applied = (prev match {
        case Some(pv) => Analytics.scd2Apply(
          openView(spark, dir, SegmentedState.readManifest(spark, dir, pv),
            keyCol), df,
          keyCol, tsCol, stateCol, tieCol)
        case None => Analytics.scd2History(df, keyCol, tsCol, stateCol, tieCol)
      }).localCheckpoint(eager = false) // closed + open writes
      // delta writes: rows this batch closed, and the touched keys'
      // new open rows (untouched keys' open rows — scd2Apply's bulk —
      // stay valid in their older segments, shadowed by nothing)
      applied.filter(!col("is_current"))
        .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/closed")
      applied.filter(col("is_current"))
        .join(broadcast(df.select(col(keyCol)).distinct()),
          Seq(keyCol), "left_semi")
        .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/open")
      SegmentedState.appendSegment(spark, dir, batchId, prev, maxSegments)(
        SegmentedState.tailMinor(spark, dir, batchId, majorRatio)(
          // closed intervals are append-only — a pure concat; open rows
          // fold LWW per key across the window (a key's only live open
          // row is in the latest segment that touched it, so max-by
          // segment version is exact)
          "closed" -> SegmentedState.concat(spark, dir, "closed"),
          "open" -> (run => SegmentedState.lastWriterWins(run.map(v =>
              spark.read.parquet(s"$dir/seg/v=$v/open")
                .withColumn("_v", lit(v)))
            .reduce(_ unionByName _), Seq(keyCol)))))(
        compactTo(spark, dir, keyCol, nBuckets))
    }
  }

  private def compactTo(spark: SparkSession, dir: String, keyCol: String,
      nBuckets: Int)(m: Manifest, v: Long): Unit = {
    def bucketed(dfv: DataFrame, sub: String) =
      SegmentedState.writePartitioned(
        dfv.withColumn("b", pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong))),
        s"$dir/base/v=$v/$sub", Seq("b"))
    bucketed(closedView(spark, dir, m), "closed")
    bucketed(openView(spark, dir, m, keyCol), "open")
  }

  /** Out-of-band compaction at the current version (no-op without
    * segments); content-identical, manifest rewrite atomic. */
  def compact(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBuckets): Unit =
    SegmentedState.compact(spark, dir)((m, v) =>
      compactTo(spark, dir, readKeyCol(spark, dir), nBuckets)(m, v))

  /** Reclaim every state dir the `retain` most recent manifests no
    * longer reference ([[SegmentedState.vacuum]]); safe against replays
    * — an applied batchId is pointer-skipped before any dir is touched. */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit =
    SegmentedState.vacuum(spark, dir, withStats = false, retain)

  /** Wire a change-event stream to the maintained history. Caller
    * starts/stops the returned writer. */
  def writer(events: DataFrame, dir: String, checkpointDir: String,
      keyCol: String = "user_id", tsCol: String = "ts",
      stateCol: String = "event_type", tieCol: String = "event_id",
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxSegments: Int = DefaultMaxSegments,
      vacuumEvery: Int = 0,
      nBuckets: Int = DefaultBuckets,
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(events, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, keyCol, tsCol, stateCol, tieCol, _, maxSegments,
        nBuckets, majorRatio))
}
