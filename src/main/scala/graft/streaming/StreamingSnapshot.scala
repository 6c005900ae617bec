package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.Merge

/** Continuously-maintained snapshot table with SEGMENTED persistence: a
  * stream of change rows (inserts, full-row updates, `_deleted`
  * tombstones) folded into a queryable "latest state" view — the
  * streaming CDC consumer, pairing with
  * [[graft.analytics.Analytics.scd2Apply]] (which keeps the history).
  *
  * The r9 form ran [[Merge.upsert]] per batch and rewrote the WHOLE
  * snapshot into a fresh `v=<batchId>` dir — O(corpus) writes per
  * trigger, dirs never reclaimed. This is the lakehouse copy-on-write /
  * merge-on-read trade, and a 10-second trigger needs the MoR side:
  *
  *  - '''ingest''': each batch appends its RAW change rows as an
  *    immutable `seg/v=<batchId>` dir (bytes ∝ batch) with the
  *    [[Merge.railUniqueKeys]] ambiguity rail attached to the write job
  *    (a duplicate surviving key fails the batch loudly, the MERGE
  *    contract);
  *  - '''read''' ([[readSnapshot]]): last-writer-wins merge-on-read. The
  *    live segments' key set BROADCASTS: base rows touched by no segment
  *    pass one anti join unshuffled (the [[Merge.upsert]] bulk
  *    discipline); only contested keys (base ∩ segment keys, plus all
  *    segment rows — a sliver at steady state) take the per-key
  *    latest-version pick, and tombstoned winners drop. Sequential
  *    equivalence with per-batch [[Merge.upsert]] is spec-pinned;
  *  - '''compaction''': at `maxSegments` live segments the view is
  *    written as a new base, hive-partitioned by a stable key-hash bucket
  *    (`b = pmod(xxhash64(keys…), nBuckets)`) — O(corpus) but amortized
  *    over `maxSegments` batches, and the bucket is the unit a pruned
  *    key probe or per-bucket compactor keys on;
  *  - '''vacuum''' ([[vacuum]]): reclaims everything the latest manifest
  *    no longer references.
  *
  * Commit protocol and replay safety are [[SegmentedState]]'s: segment →
  * manifest → `_LATEST` pointer; an applied batchId is detected by the
  * pointer and skipped before any state dir is touched. */
object StreamingSnapshot {

  val DefaultMaxSegments = 8
  val DefaultBuckets = 32

  /** Major compaction triggers when accumulated segment bytes reach this
    * fraction of the base (the [[StreamingIndex.DefaultMajorRatio]]
    * trade); below it the count trigger runs a MINOR fold instead. */
  val DefaultMajorRatio = 0.2

  import SegmentedState.Manifest

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  /** The current snapshot view (error until the first batch commits).
    * Plan shape: broadcast segment-keys anti join over the base bulk +
    * per-key latest-version pick over the contested sliver. */
  def readSnapshot(spark: SparkSession, dir: String): DataFrame =
    mergedView(spark, dir, SegmentedState.current(spark, dir, "snapshot"))

  private def mergedView(spark: SparkSession, dir: String,
      m: Manifest): DataFrame = {
    val base = m.base.map(v => spark.read.parquet(s"$dir/base/v=$v").drop("b"))
    if (m.segments.isEmpty)
      return base.getOrElse(
        throw new IllegalStateException(s"empty manifest at $dir"))
    // keyCols/deleteCol are recorded in the segment sidecar file so the
    // reader needs no out-of-band schema knowledge
    val (keyCols, deleteCol) = readMeta(spark, dir)
    val segAll = segments(spark, dir, m.segments)
    val keys = keyCols.map(col)
    val payload = base.map(_.columns.toSeq)
      .getOrElse(segAll.columns.toSeq.filterNot(c => c == deleteCol || c == "_v"))
    val contestedBase = base.map(_
        .join(broadcast(segAll.select(keys: _*).distinct()), keyCols, "left_semi")
        .withColumn(deleteCol, lit(false)).withColumn("_v", lit(-1L)))
    // last writer wins per key. Ties can only be duplicate pure
    // tombstones (the write-side rail forbids duplicate surviving keys),
    // and a tombstone winner drops either way.
    val winners = SegmentedState.lastWriterWins(
        contestedBase.fold(segAll)(_ unionByName segAll), keyCols)
      .filter(!col(deleteCol))
      .select(payload.map(col): _*)
    base.fold(winners) { b =>
      b.join(broadcast(segAll.select(keys: _*).distinct()), keyCols, "left_anti")
        .unionByName(winners)
    }
  }

  /** The change rows of `versions`, each tagged with its version `_v`. */
  private def segments(spark: SparkSession, dir: String,
      versions: Seq[Long]): DataFrame =
    versions.map(v =>
        spark.read.parquet(s"$dir/seg/v=$v").withColumn("_v", lit(v)))
      .reduce(_ unionByName _)

  // ---- key/tombstone column names, persisted once next to the state ----

  private def readMeta(spark: SparkSession, dir: String): (Seq[String], String) = {
    val kv = SegmentedState.readMeta(spark, dir)
    (kv("keys").split(",").toSeq, kv("delete_col"))
  }

  private[graft] def applyBatch(df: DataFrame, dir: String,
      keyCols: Seq[String], deleteCol: String, batchId: Long,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets,
      majorRatio: Double = DefaultMajorRatio): Unit = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    // "b" is the compaction bucket column and "_v"/"_w" are the MoR
    // version/winner markers: a same-named payload column would be
    // silently clobbered (and dropped from the base at read) — refuse
    // loudly instead.
    for (reserved <- Seq("b", "_v", "_w"))
      require(!df.columns.contains(reserved),
        s"snapshot column name '$reserved' is reserved by the segmented " +
          "state layout (bucket/version markers) — rename the column")
    val spark = df.sparkSession
    StatePointer.applyOnce(spark, dir, batchId) { prev =>
      SegmentedState.writeMeta(spark, dir, "keys" -> keyCols.mkString(","),
        "delete_col" -> deleteCol)
      // segment write: raw change rows, bytes ∝ batch; the ambiguity
      // rail rides this job so a bad batch fails BEFORE it commits
      Merge.railUniqueKeys(df, keyCols, deleteCol)
        .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId")
      SegmentedState.appendSegment(spark, dir, batchId, prev, maxSegments) {
        appended =>
          if (appended.base.isEmpty ||
              SegmentedState.segBytesDue(spark, dir, appended, majorRatio))
            None
          else {
            // MINOR: LWW-fold the whole window into this batch's segment
            // — write ∝ window, base untouched on disk. LWW's total order
            // (unlike the index's del boundaries) lets the entire window
            // fold at once; per key the latest row wins and tombstone
            // winners stay as rows so they keep shadowing base keys at
            // read. The folded segment sits at the window's max version,
            // so ordering against the base and any future segment holds.
            // Stage-and-swap inside the uncommitted v=batchId dir.
            val fs = SegmentedState.fs(spark, dir)
            val staged = s"$dir/seg/v=$batchId/.seg_minor"
            SegmentedState.lastWriterWins(segments(spark, dir,
                appended.segments), keyCols)
              .write.mode("overwrite").parquet(staged)
            val segPath = new Path(s"$dir/seg/v=$batchId")
            val tmp = new Path(s"$dir/seg/.minor_$batchId")
            fs.delete(tmp, true) // stale tmp from a crashed prior attempt
            if (!fs.rename(new Path(staged), tmp))
              throw new java.io.IOException(s"minor-compaction stage failed: $tmp")
            fs.delete(segPath, true)
            if (!fs.rename(tmp, segPath))
              throw new java.io.IOException(s"minor-compaction rename failed: $segPath")
            Some(Manifest(appended.base, Seq(batchId), Set.empty))
          }
      }(compactTo(spark, dir, keyCols, nBuckets))
    }
  }

  /** MAJOR: fold everything into a fresh key-bucketed base. */
  private def compactTo(spark: SparkSession, dir: String,
      keyCols: Seq[String], nBuckets: Int)(m: Manifest, v: Long): Unit =
    SegmentedState.writePartitioned(
      mergedView(spark, dir, m)
        .withColumn("b", pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong))),
      s"$dir/base/v=$v", Seq("b"))

  /** Out-of-band compaction: fold the live segments into a new
    * bucket-partitioned base at the current version (no-op without
    * segments). Content-identical; the manifest rewrite is atomic. */
  def compact(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBuckets): Unit =
    SegmentedState.compact(spark, dir)((m, v) =>
      compactTo(spark, dir, readMeta(spark, dir)._1, nBuckets)(m, v))

  /** Reclaim every state dir the `retain` most recent manifests no
    * longer reference (`retain` > 1 = concurrent-reader grace window —
    * see [[SegmentedState.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit =
    SegmentedState.vacuum(spark, dir, withStats = false, retain)

  /** Wire a change stream to the maintained snapshot. Caller starts/stops
    * the returned writer. `vacuumEvery` > 0 reclaims superseded state
    * after every N applied batches. */
  def writer(changes: DataFrame, dir: String, keyCols: Seq[String],
      checkpointDir: String, deleteCol: String = "_deleted",
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets,
      vacuumEvery: Int = 0,
      majorRatio: Double = DefaultMajorRatio): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(changes, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, keyCols, deleteCol, _, maxSegments, nBuckets,
        majorRatio))
}
