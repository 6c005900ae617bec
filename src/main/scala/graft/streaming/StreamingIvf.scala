package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.Similarity

/** Always-on IVF (inverted-file) ANN index maintenance: an embedding (or
  * change) stream folds into the persisted cell-partitioned assignment
  * index under the [[StatePointer]]/[[SegmentedState]] discipline — the
  * streaming form of the `q_knn_ivf_indexed` artifact pair
  * ([[Similarity.ivfCenters]] + [[Similarity.ivfAssignments]]). With
  * this, similarity search joins near-dup text ([[StreamingDedup]]),
  * centroids ([[StreamingCentroids]]), retrieval ([[StreamingIndex]])
  * and snapshots ([[StreamingSnapshot]]) in the always-on story: every
  * incrementally-maintained artifact family now has one.
  *
  * ==Codebook is a BUILD artifact, not stream state==
  * IVF codebooks are trained offline (the production discipline — and
  * [[Similarity.ivfCenters]]' bounded hash-ordered sample + driver Lloyd
  * is exactly that trainer). The FIRST `applyBatch` persists the caller's
  * codebook at `centers/`; every later batch assigns with the PERSISTED
  * copy, because an index whose rows were assigned under two different
  * codebooks routes probes wrong silently. Re-training (codebook drift
  * after heavy churn — [[Similarity]]'s drift ops measure when) is a
  * REBUILD: new state dir, stream replays or a batch backfill.
  *
  * ==State layout and per-batch cost==
  * Per batch, ONLY the adds are assigned (scan-side argmin over the
  * broadcast codebook — no shuffle) and appended as an immutable
  * `seg/v=<id>/ivf` segment (bytes ∝ batch); tombstone id lists ride
  * `seg/v=<id>/del`. The read view is [[SegmentedState.rowView]] —
  * version-ordered erasure, so erase → re-ingest churn is correct. At
  * `maxSegments` the view compacts into `base/v=<id>/ivf`
  * HIVE-PARTITIONED BY `cell`: the same layout `q_knn_ivf_indexed`
  * serves from, so a pruned probe (nprobe < nCells) scans only its
  * probed cells' directories — the [[SegmentedState.applyRows]] fold.
  * [[vacuum]] reclaims superseded state; replays are pointer-skipped
  * before any state dir is touched. */
object StreamingIvf {

  val DefaultMaxSegments = 8

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  /** The persisted codebook (cell, center) — written once at the first
    * batch, shared by every assignment and probe thereafter. */
  def readCenters(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/centers")

  /** The maintained assignment index view (idCol, vecCol, cell, vnorm) —
    * [[Similarity.ivfAssignments]]' contract over the live corpus. */
  def readIndex(spark: SparkSession, dir: String,
      idCol: String = "vec_id"): DataFrame =
    SegmentedState.rowView(spark, dir,
      SegmentedState.current(spark, dir, "IVF state"), "ivf", idCol,
      baseDrop = Nil)

  /** Probe the maintained index — [[Similarity.ivfKnnFromIndex]] over the
    * merge-on-read view and the persisted codebook. Post-compaction with
    * nprobe < nCells, the cell-partitioned base prunes to the probed
    * cells' directories. */
  def knn(spark: SparkSession, dir: String, queryPred: Column, k: Int,
      nprobe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Similarity.ivfKnnFromIndex(readIndex(spark, dir, idCol),
      readCenters(spark, dir), queryPred, k, nprobe, idCol, vecCol)

  /** Fold one batch into the persisted IVF state (see object doc).
    * `centers` is only materialized (and persisted) when the state does
    * not exist yet; later batches assign with the persisted codebook.
    * Public so batch-parity catalog rows drive the IDENTICAL code the
    * writer runs. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      centers: => DataFrame,
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      idCol: String = "vec_id", vecCol: String = "embedding",
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): Unit =
    // `cell` doubles as the hive-partition column: the probe's pruning
    // unit, and already part of the artifact schema (no extra bucket col
    // to drop at read)
    SegmentedState.applyRows(batch, dir, batchId, deleteCol, idCol, "ivf",
        maxSegments, majorRatio, "cell", None) { adds =>
      val spark = batch.sparkSession
      if (!SegmentedState.fs(spark, dir).exists(new Path(s"$dir/centers")))
        centers.coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
      // scan-side assignment, bytes ∝ batch
      Similarity.ivfAssignments(adds, readCenters(spark, dir), idCol, vecCol)
    }

  /** Out-of-band compaction at the current version (no-op without
    * segments); content-identical, manifest rewrite atomic. */
  def compact(spark: SparkSession, dir: String,
      idCol: String = "vec_id"): Unit =
    SegmentedState.compact(spark, dir)(SegmentedState.compactRows(spark,
      dir, "ivf", idCol, "cell", None))

  /** Reclaim superseded segments/bases/manifests; `retain` > 1 =
    * concurrent-reader grace window ([[SegmentedState.vacuum]]). The
    * codebook is never vacuumed — it is the state's identity. */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit =
    SegmentedState.vacuum(spark, dir, withStats = false, retain)

  /** Wire an embedding (or change) stream to the maintained IVF index.
    * Caller starts/stops the returned writer. */
  def writer(emb: DataFrame, dir: String, centers: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      vacuumEvery: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(emb, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, _, centers, deleteCol, maxSegments, idCol, vecCol,
        majorRatio))
}
