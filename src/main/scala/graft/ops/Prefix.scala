package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The repo-wide replacement for an ORDER-BY-only window with an empty
  * partition spec: a GLOBAL total order (row number + running sum)
  * computed with the two-phase range-partitioned prefix discipline that
  * [[graft.llm.Packing]] introduced — never a single-partition WindowExec.
  *
  * Phase 1: `repartitionByRange` on the order columns (a k-bounded
  * shuffle; equal keys land in one partition, partitions cover disjoint
  * contiguous ranges in order). Phase 2: a PER-PARTITION window keyed on
  * `spark_partition_id()` computes each row's intra-partition inclusive
  * prefix (sum of `value`, row count). Phase 3: per-partition totals — one
  * row per PARTITION, bounded by the partition count and never by the
  * data — are prefix-scanned on the driver and broadcast back as offsets.
  * `__cum` = intra + offset, `__rn` = intra count + offset.
  *
  * The intra frame `localCheckpoint`s before the totals collect:
  * `repartitionByRange` samples its range boundaries, so without freezing
  * the cut the totals job and the caller's action could see DIFFERENT
  * partitionings and the offsets would be garbage (the
  * [[graft.llm.Packing]] re-sample rationale, measured there).
  *
  * At 100 TB this is the shape that survives: every window is bounded by
  * rows-per-range-partition, the only driver state is (pid, totals) —
  * one row per partition — and the offset rejoin is a broadcast. The
  * eager totals job at call time is the same contract as
  * [[graft.llm.Packing.packByBudget]] / `epochShuffle`.
  */
object Prefix {

  /** `frame` carries every input column plus `__rn` (1-based global row
    * number in `order` order) and `__cum` (INCLUSIVE global prefix sum of
    * `value`); `nRows` / `total` are the bounded driver-side grand totals
    * (free by-products of the offset scan — callers that need "count over
    * the whole frame" take these as literals instead of a second global
    * window). */
  final case class Ordered(frame: DataFrame, nRows: Long, total: Long)

  // Every eager localCheckpoint this object creates, until the session
  // releases it: the checkpointed blocks pin executor storage for the
  // session (a localCheckpoint truncates lineage, so Spark can never
  // evict-and-recompute them), and a long session — bench's 3 × catalog
  // passes — would otherwise accumulate one pinned frame per call.
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every intra frame [[globalOrder]] has checkpointed since
    * the last release, and delete the verify-mode state dirs handed out
    * since then ([[graft.sources.Artifacts.releaseState]]). The CALLER
    * owns the timing: a released frame has no lineage to recompute from,
    * so call this only once every action on every frame derived from
    * earlier [[Ordered]]s has completed — [[graft.Bench]],
    * [[graft.Verify]] and [[graft.tools.Profile]] release after each
    * catalog row. */
  def releaseAll(): Unit = {
    var df = live.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = live.poll()
    }
    graft.sources.Artifacts.releaseState()
  }

  /** `order` must be a TOTAL order (add a tie-break column if the leading
    * key can repeat) so `__rn` is deterministic; `value` must cast to
    * long. */
  def globalOrder(df: DataFrame, order: Seq[Column], value: Column,
      nParts: Int = 0): Ordered = {
    require(order.nonEmpty, "globalOrder: at least one order column")
    val spark = df.sparkSession
    val n = if (nParts > 0) nParts else spark.sparkContext.defaultParallelism
    val ranged = df
      .withColumn("__v", value.cast("long"))
      .repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = ranged
      .withColumn("__iv", sum(col("__v")).over(w))
      .withColumn("__ic", count(lit(1)).over(w))
      .localCheckpoint()
    live.add(intra)
    // one row per partition — bounded driver state, the permitted collect
    val totals = intra.groupBy(col("__pid"))
      .agg(sum(col("__v")).as("tv"), count(lit(1)).as("tc"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val vOff = totals.map(_._2).scanLeft(0L)(_ + _) // exclusive scans
    val cOff = totals.map(_._3).scanLeft(0L)(_ + _)
    val offs = totals.indices
      .map(i => (totals(i)._1, vOff(i), cOff(i)))
    val offDf = spark.createDataFrame(offs.toSeq)
      .toDF("__pid", "__voff", "__coff")
    val frame = intra.join(broadcast(offDf), Seq("__pid"))
      .withColumn("__cum", col("__iv") + col("__voff"))
      .withColumn("__rn", col("__ic") + col("__coff"))
      .drop("__pid", "__v", "__iv", "__ic", "__voff", "__coff")
    Ordered(frame, totals.map(_._3).sum, totals.map(_._2).sum)
  }
}
