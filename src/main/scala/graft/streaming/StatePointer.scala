package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The `_LATEST` version-pointer discipline shared by every maintained
  * streaming state: a batch writes its output under version
  * directories, then atomically advances one small pointer — readers
  * never observe a half-written version, and a crash-replay of an
  * already-applied `foreachBatch` batchId is detected by the pointer and
  * skipped (the exactly-once mechanism for non-idempotent folds).
  *
  * ==The shared fold==
  * Every streamed state's `applyBatch` is [[applyOnce]] around its own
  * fold — batch plus previous version gives the next version's
  * directories — and every `writer` is [[foldStream]] around that
  * `applyBatch`. The segmented states ([[SegmentedState]]) end their
  * fold with [[SegmentedState.appendSegment]]; the sliver states
  * ([[StreamingQuantile]], [[StreamingRelease]]) write their own
  * version directories.
  *
  * ==Marker files, not an overwritten file==
  * The pointer is the set of empty marker files `_LATEST.v=<batchId>`;
  * the committed version is the MAX. [[advance]] CREATES a new marker
  * (an atomic operation on HDFS and local filesystems — no rename over
  * an existing file, no delete+rename window) and then best-effort
  * deletes older markers. A crash at ANY point leaves at least the
  * previous marker in place, so a replay can never mistake existing
  * state for a fresh directory — the failure mode of an overwrite-style
  * pointer, where a crash between delete and re-create makes the next
  * replay silently REBUILD the state from one batch. Readers racing an
  * advance see the old max or the new max, never a truncated value
  * (the version is in the NAME, not the content). */
private[graft] object StatePointer {

  def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Marker = """_LATEST\.v=(\d+)""".r

  /** The committed version, None before the first batch lands. */
  def read(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) None
    else f.listStatus(root).toSeq
      .flatMap(_.getPath.getName match {
        case Marker(n) => Some(n.toLong)
        case _ => None
      }) match {
      case Nil => None
      case vs => Some(vs.max)
    }
  }

  /** The copy-on-write sliver `dir/<sub>/v=<committed>`; `what` names
    * the state in the error thrown before its first batch lands. */
  def versioned(spark: SparkSession, dir: String, sub: String,
      what: String): DataFrame =
    read(spark, dir) match {
      case Some(v) => spark.read.parquet(s"$dir/$sub/v=$v")
      case None => throw new IllegalStateException(s"no $what at $dir yet")
    }

  /** Replay guard shared by every streamed-state `applyBatch`: returns
    * true when `batchId` IS the committed version (a crash-replay —
    * foreachBatch only ever re-delivers the immediately-uncommitted id,
    * which after our commit equals the pointer) and the caller must skip
    * idempotently. Any id STRICTLY behind the pointer is not a replay:
    * it means a FRESH checkpoint (batch ids reset) was pointed at
    * EXISTING state, and silently skipping would leave stale state that
    * looks current forever — that mismatch throws. Deterministic
    * full-re-drive callers (catalog rows, batch-parity tests) must go
    * through [[Redrive]], which drives only the un-applied suffix and so
    * never hands this guard a behind-the-pointer id. */
  def replayCheck(spark: SparkSession, dir: String, batchId: Long): Boolean =
    read(spark, dir) match {
      case Some(v) if v > batchId =>
        throw new IllegalStateException(
          s"applyBatch($batchId) against state at version $v in $dir: " +
            "batch ids restarted behind the committed pointer — fresh " +
            "checkpoint over existing state? Clear the state dir, resume " +
            "from the original checkpoint, or drive through Redrive")
      case Some(v) if v == batchId =>
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"skipping already-applied batch $batchId (state at $v) in $dir")
        true
      case _ => false
    }

  /** Apply `fold` to `batchId` exactly once: a replay of the committed
    * batch skips and an id behind the pointer throws ([[replayCheck]]);
    * otherwise `fold` gets the previous committed version (None on a
    * fresh dir), writes the batch's version directories, and the pointer
    * then advances to `batchId` — the commit point. */
  def applyOnce(spark: SparkSession, dir: String, batchId: Long)(
      fold: Option[Long] => Unit): Unit =
    read(spark, dir) match {
      case Some(v) if v >= batchId => replayCheck(spark, dir, batchId)
      case prev =>
        fold(prev)
        advance(spark, dir, batchId)
    }

  /** The `writeStream … foreachBatch` shell of every streamed state's
    * `writer`: `apply` folds each micro-batch, then every
    * `vacuumEvery`-th batch (0 = never) runs `vacuum`. */
  def foldStream(stream: DataFrame, checkpointDir: String, trigger: Trigger,
      vacuumEvery: Int = 0, vacuum: SparkSession => Unit = _ => ())(
      apply: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        apply(df, batchId)
        if (vacuumEvery > 0 && (batchId + 1) % vacuumEvery == 0)
          vacuum(df.sparkSession)
      }

  /** Commit `batchId` as the latest version (see object doc). */
  def advance(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val f = fs(spark, dir)
    val marker = new Path(dir, s"_LATEST.v=$batchId")
    f.create(marker, true).close()
    // best-effort cleanup of superseded markers — correctness rests on
    // max(), so a crash mid-cleanup is harmless
    for (st <- f.listStatus(new Path(dir)))
      st.getPath.getName match {
        case Marker(n) if n.toLong < batchId => f.delete(st.getPath, false)
        case _ => ()
      }
  }
}
