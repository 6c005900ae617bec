package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.Sketch
import graft.llm.Sketch.QuantileState

/** Always-on per-group QUANTILE SKETCH maintenance: an event (or change)
  * stream folds into a persisted thresholded bottom-k sample
  * ([[Sketch.QuantileState]]) inside `foreachBatch` — the streaming form
  * of the `q_quantile_*` batch maintenance rows, completing the sketch
  * family's always-on story next to [[StreamingCuration.windowedCms]]
  * (windowed CMS) and the HLL daily-artifact lifecycle.
  *
  * State is SKETCH-SIZED (≤ k rows per group + one taus row per group),
  * so the layout is the simple copy-on-write sliver under the
  * [[StatePointer]] discipline — each batch writes fresh
  * `rows/v=<batchId>` + `taus/v=<batchId>` directories and atomically
  * advances the pointer; a crash-replay of an applied batchId is
  * detected and skipped (the fold is non-idempotent: re-merging a batch
  * would double its rows). No segments, no compaction: the whole state
  * rewrite IS batch-sized, because the state never exceeds sketch size.
  *
  * Per-batch fold (deletes FIRST, then adds — the [[StreamingIndex]]
  * change-stream contract: tombstones reference previously-ingested
  * rows, an id never adds and erases in one batch):
  * erasure rows subtract by hash under the theta difference
  * ([[Sketch.quantileDeleteT]] — tau unchanged, the invariant survives
  * verbatim), then the batch's own bottom-k sample merges under the
  * theta union ([[Sketch.quantileMergeT]]). Both touch only sketch-sized
  * frames: an ingest never re-reads or re-scans the corpus, which at
  * 100 TB is the entire point of maintaining quantiles as a sketch
  * instead of re-sorting per refresh. Sample-size health after heavy
  * erasure is the read-side [[Sketch.quantileFlagsT]] check — a flagged
  * group needs its survivors re-ingested (group-pruned, the
  * q_quantile_delete protocol), which this state cannot do alone since
  * it deliberately retains no corpus. */
object StreamingQuantile {

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  /** The maintained sketch at the committed version. */
  def readState(spark: SparkSession, dir: String): QuantileState =
    latestVersion(spark, dir) match {
      case Some(v) => QuantileState(
        spark.read.parquet(s"$dir/rows/v=$v"),
        spark.read.parquet(s"$dir/taus/v=$v"))
      case None =>
        throw new IllegalStateException(s"no quantile state at $dir yet")
    }

  /** Fold one batch into the persisted sketch (see object doc). Public so
    * the batch-parity catalog row drives the IDENTICAL code the writer
    * runs. `deleteCol` marks full-row tombstones inside the batch. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      groupCol: String, keyCol: String, valueCol: String, k: Int,
      deleteCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    StatePointer.applyOnce(spark, dir, batchId) { prev =>
      val adds = deleteCol.fold(batch)(dc => batch.filter(!col(dc)))
      val batchSk = Sketch.quantileBuildT(adds, groupCol, keyCol,
        valueCol, k)
      val next = prev match {
        case Some(pv) =>
          val cur = QuantileState(
            spark.read.parquet(s"$dir/rows/v=$pv"),
            spark.read.parquet(s"$dir/taus/v=$pv"))
          val afterDel = deleteCol.fold(cur)(dc =>
            Sketch.quantileDeleteT(cur, batch.filter(col(dc)),
              groupCol, keyCol))
          Sketch.quantileMergeT(afterDel, batchSk, k)
        case None => batchSk
      }
      next.rows.write.mode("overwrite").parquet(s"$dir/rows/v=$batchId")
      next.taus.write.mode("overwrite").parquet(s"$dir/taus/v=$batchId")
    }
  }

  /** Drop state versions older than the committed one (`retain` > 1 = a
    * concurrent-reader grace window, the [[SegmentedState.vacuum]]
    * contract). Versions are enumerated from the state's OWN `rows/v=*`
    * layout — [[SegmentedState.retainedVersions]] reads a `manifest/`
    * directory this sliver state never writes, and would collapse the
    * retained set to just the pointer, deleting a concurrent reader's
    * version out from under it despite `retain` > 1. */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit = {
    require(retain >= 1, s"retain must be >= 1: $retain")
    StatePointer.read(spark, dir).foreach { v =>
      val f = StatePointer.fs(spark, dir)
      val p = new org.apache.hadoop.fs.Path(s"$dir/rows")
      val versions =
        if (!f.exists(p)) Seq(v)
        else f.listStatus(p).toSeq.flatMap(_.getPath.getName match {
          case s if s.startsWith("v=") => Some(s.drop(2).toLong)
          case _ => None
        }).filter(_ <= v).sorted
      SegmentedState.vacuumVersioned(spark, dir, Seq("rows", "taus"),
        versions.takeRight(retain).toSet + v)
    }
  }

  /** Wire an event (or change) stream to the maintained sketch. Caller
    * starts/stops the returned writer. */
  def writer(events: DataFrame, dir: String, checkpointDir: String,
      groupCol: String, keyCol: String, valueCol: String, k: Int,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      deleteCol: Option[String] = None,
      vacuumEvery: Int = 0): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(events, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, _, groupCol, keyCol, valueCol, k, deleteCol))
}
