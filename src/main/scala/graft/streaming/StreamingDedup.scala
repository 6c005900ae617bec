package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.Dedup

/** Always-on NEAR-DUP maintenance: a document (or change) stream folds
  * into the persisted LSH dedup artifacts — band table, shingle table,
  * near-dup pair list, and cluster labels — inside `foreachBatch` under
  * the [[StatePointer]]/[[SegmentedState]] discipline. The streaming form
  * of the batch `q_dedup_incr_prebuilt` → `q_dedup_incr_clusters` →
  * `q_dedup_incr_delete` maintenance path, so near-dup dedup has an
  * always-on ingest story like search ([[StreamingIndex]]) and snapshots
  * ([[StreamingSnapshot]]).
  *
  * ==State layout and per-batch cost==
  * The corpus-proportional artifacts (bands: ~`bands` rows/doc; shingles:
  * 1 wide row/doc) are SEGMENTED — each batch writes only its own adds'
  * rows (bytes ∝ batch), tombstone id-lists ride `seg/v=<id>/del`, and
  * the read view is `(base ∪ segments) anti-join live-tombstones`,
  * VERSION-ORDERED so a tombstone kills only strictly earlier rows of
  * its id (both artifacts are per-doc rows with nothing to decrement,
  * so erasure IS the anti join — [[Dedup.bandsDelete]]'s shape plus the
  * [[StreamingSnapshot]] last-writer-wins rule). At `maxSegments` the
  * view compacts into `base/v=<id>` (bands hive-partitioned by `band`,
  * shingles by an id-hash bucket), re-applying the LSH bucket cap so a
  * bucket saturated ACROSS batches is pruned exactly like one saturated
  * at build time ([[Dedup.bandTable]]'s corpus-property rule; per-batch
  * caps bound each segment in the meantime).
  *
  * The pair list and cluster labels are copy-on-write per batch — they
  * are SLIVERS (rows exist only for detected near-dups, size bounded by
  * the bucket caps), and the label fold ([[Dedup.clustersIncremental]] /
  * [[Dedup.clustersDelete]]) is sequential and non-idempotent, exactly
  * the [[StreamingScd2]] position. [[vacuum]] reclaims superseded
  * versions of all four artifacts.
  *
  * ==Per-batch fold==
  *  1. the adds probe the CURRENT band/shingle views
  *     ([[Dedup.incrementalNearDupsPrebuilt]] — corpus side never
  *     re-shingled, cost O(batch + candidates));
  *  2. discovered pairs stitch into the labels by contracted-graph
  *     propagation ([[Dedup.clustersIncremental]] — O(batch pairs), the
  *     corpus labels pass one anti join);
  *  3. tombstones re-run only their TOUCHED components over retained
  *     pairs ([[Dedup.clustersDelete]] — deletions can SPLIT components,
  *     so subtraction alone cannot maintain labels), and fold out of the
  *     band/shingle views by anti join.
  *
  * Preconditions (the [[StreamingIndex]] change-stream contract): adds
  * are new doc ids relative to the LIVE view, tombstones reference
  * previously-ingested docs and CARRY the doc row, and a doc is not
  * added and erased in the same batch. An erased id MAY re-ingest in any
  * later batch: the view's erasure join is version-ordered (a tombstone
  * kills only strictly earlier rows of its id), so the re-ingested
  * bands/shingles survive and later batches pair against them.
  * Replays of an applied batch are pointer-skipped (the label fold
  * is non-idempotent, so the pointer check is the exactly-once
  * mechanism). Streamed state ≡ a full rebuild over the live corpus is
  * pinned by the `q_dedup_stream*` rows (full-recompute oracles) and the
  * MemoryStream spec. */
object StreamingDedup {

  val DefaultMaxSegments = 8
  val DefaultBuckets = 32

  import SegmentedState.Manifest

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  private def manifest(spark: SparkSession, dir: String): Manifest =
    SegmentedState.current(spark, dir, "dedup state")

  /** Version-ordered merge-on-read over a per-doc artifact
    * ([[SegmentedState.rowView]]): an erased id may re-ingest in a later
    * batch and the re-ingested rows survive. */
  private def artifactView(spark: SparkSession, dir: String, m: Manifest,
      sub: String, baseDrop: Seq[String]): DataFrame =
    SegmentedState.rowView(spark, dir, m, sub, "id", baseDrop)

  /** The maintained band table view (id, band, band_hash). */
  def readBands(spark: SparkSession, dir: String): DataFrame =
    artifactView(spark, dir, manifest(spark, dir), "bands", Nil)

  /** The maintained shingle table view (id, sh). */
  def readShingles(spark: SparkSession, dir: String): DataFrame =
    artifactView(spark, dir, manifest(spark, dir), "shingles", Seq("b"))

  /** The maintained near-dup pair list (id_a, id_b). */
  def readPairs(spark: SparkSession, dir: String): DataFrame =
    StatePointer.versioned(spark, dir, "pairs", "dedup state")

  /** The maintained cluster labels (doc_id, cluster_id) — members only,
    * [[Dedup.clusters]]' contract. */
  def readLabels(spark: SparkSession, dir: String): DataFrame =
    StatePointer.versioned(spark, dir, "labels", "dedup state")

  /** Fold one batch into the persisted dedup state (see object doc).
    * Public so the batch-parity catalog rows drive the IDENTICAL code the
    * writer runs. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      deleteCol: Option[String] = None, threshold: Double = 0.6,
      w: Int = 3, k: Int = 64, bands: Int = 16, maxBucket: Int = 4096,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "doc_id", textCol: String = "text",
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): Unit = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    val spark = batch.sparkSession
    StatePointer.applyOnce(spark, dir, batchId) { prev =>
      val (adds0, delIds) = SegmentedState.splitChange(batch, deleteCol)(
        SegmentedState.tombIds(idCol))
      val adds = adds0.localCheckpoint(eager = false) // bands + shingles + probe
      val prevM = prev.map(SegmentedState.readManifest(spark, dir, _))
        .getOrElse(Manifest(None, Nil, Set.empty))

      // ---- 1. pair discovery against the CURRENT views ----
      // ---- 2/3. label + pair-list fold (slivers, copy-on-write) ----
      val grown = prev match {
        case None => // first batch: no corpus yet — batch-internal truth
          val np = Dedup.minhashNearDups(adds, threshold, w, k, bands,
              maxBucket, idCol, textCol)
            .select(col("id_a"), col("id_b"))
            .localCheckpoint(eager = false) // clusters + persist
          (Dedup.clusters(np), np)
        case Some(pv) =>
          val np = Dedup.incrementalNearDupsPrebuilt(adds,
              artifactView(spark, dir, prevM, "bands", Nil),
              artifactView(spark, dir, prevM, "shingles", Seq("b")),
              threshold, w, k, bands, maxBucket, idCol, textCol)
            .select(col("id_new").as("id_a"), col("id_other").as("id_b"))
          (Dedup.clustersIncremental(
              spark.read.parquet(s"$dir/labels/v=$pv"), np),
            spark.read.parquet(s"$dir/pairs/v=$pv").unionByName(np))
      }
      val hasDel = delIds.exists(d => !d.isEmpty)
      val (labels1, pairs1) = delIds.filter(_ => hasDel) match {
        case Some(d) =>
          val retained = grown._2
            .join(broadcast(d), grown._2("id_a") === d("id"), "left_anti")
            .join(broadcast(d), grown._2("id_b") === d("id"), "left_anti")
            .localCheckpoint(eager = false) // delete fold + persist
          (Dedup.clustersDelete(grown._1, grown._2, d), retained)
        case None => grown
      }
      labels1.write.mode("overwrite").parquet(s"$dir/labels/v=$batchId")
      pairs1.write.mode("overwrite").parquet(s"$dir/pairs/v=$batchId")

      // ---- segment writes: bytes ∝ batch ----
      Dedup.bandTable(adds, w, k, bands, maxBucket, idCol, textCol)
        .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/bands")
      Dedup.shingleTable(adds, w, idCol, textCol)
        .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/shingles")
      // tombstones last: written before the fold, they cost one more
      // Spark job per del-carrying batch
      if (hasDel)
        delIds.get.write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/del")

      // ---- manifest + (amortized) compaction ----
      SegmentedState.appendSegment(spark, dir, batchId, prev, maxSegments,
          hasDel)(
        SegmentedState.tailMinor(spark, dir, batchId, majorRatio)(
          // the band side is RE-CAPPED across the merged run
          // (window-only cost) so every live segment keeps the
          // ≤ maxBucket per-bucket invariant the probe-join bound rests on
          "bands" -> (run => Dedup.capBuckets(
            SegmentedState.concat(spark, dir, "bands")(run), maxBucket,
            "StreamingDedup.minor")),
          "shingles" -> SegmentedState.concat(spark, dir, "shingles")))(
        compactTo(spark, dir, maxBucket, nBuckets))
    }
  }

  private def compactTo(spark: SparkSession, dir: String, maxBucket: Int,
      nBuckets: Int)(m: Manifest, v: Long): Unit = {
    // re-apply the bucket cap across the merged corpus: a bucket
    // saturated by accumulation is pruned here exactly as bandTable
    // prunes one saturated at build time (drops observe()-surfaced)
    SegmentedState.writePartitioned(
      Dedup.capBuckets(artifactView(spark, dir, m, "bands", Nil), maxBucket,
        "StreamingDedup.compact"),
      s"$dir/base/v=$v/bands", Seq("band"))
    SegmentedState.compactRows(spark, dir, "shingles", "id", "b",
      Some(nBuckets))(m, v)
  }

  /** Out-of-band compaction at the current version (no-op without
    * segments); content-identical, manifest rewrite atomic. */
  def compact(spark: SparkSession, dir: String, maxBucket: Int = 4096,
      nBuckets: Int = DefaultBuckets): Unit =
    SegmentedState.compact(spark, dir)(compactTo(spark, dir, maxBucket,
      nBuckets))

  /** Reclaim superseded segments/bases/manifests AND stale label/pair
    * versions. Pointer-skip makes replays safe after a vacuum; `retain`
    * > 1 = concurrent-reader grace window ([[SegmentedState.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit = {
    SegmentedState.vacuum(spark, dir, withStats = false, retain)
    SegmentedState.vacuumVersioned(spark, dir, Seq("labels", "pairs"),
      SegmentedState.retainedVersions(spark, dir, retain))
  }

  /** Wire a doc (or change) stream to the maintained dedup state. Caller
    * starts/stops the returned writer. */
  def writer(docs: DataFrame, dir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      deleteCol: Option[String] = None, threshold: Double = 0.6,
      maxSegments: Int = DefaultMaxSegments,
      vacuumEvery: Int = 0): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(docs, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, _, deleteCol, threshold, maxSegments = maxSegments))
}
