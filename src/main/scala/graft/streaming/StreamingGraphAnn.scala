package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.GraphAnn

/** Always-on NSW graph-ANN maintenance: a vector (or change) stream
  * folds into the persisted navigable-neighbor-graph artifact under the
  * [[StatePointer]]/[[SegmentedState]] discipline — the streaming form
  * of the `q_knn_graph_prebuilt` artifact, completing the family's
  * taxonomy (build / prebuilt / incr / delete / streamed / erasure).
  *
  * ==Supersede-by-src state==
  * A graph is not append-only: an insert re-caps the touched sources'
  * edge sets and a delete re-wires the doomed nodes' in-neighbors. Both
  * are LAST-WRITER-WINS per src, which [[SegmentedState.rowView]]'s
  * version-ordered tombstones express exactly: batch `v` writes the
  * changed sources' POST-change edge rows into `seg/v=<v>/edges` and
  * tombstones the same ids in `seg/v=<v>/del` — the tombstone kills only
  * STRICTLY EARLIER rows, so the new rows survive and every older edge
  * set of a superseded src dies. Doomed (erased) ids are tombstoned
  * without replacement rows: physical scrub happens at compaction (the
  * fold resolves kills, the erased vectors leave the artifact) and
  * [[vacuum]] reclaims the superseded segments — the per-family GDPR
  * discipline.
  *
  * ==The vec sidecar==
  * `seg/v=&#42;/vecs` (id, vec, nrm) carries each live node's own vector:
  * entry points for serving walks and the delete-repair's in-neighbor
  * rescoring come from STATE, never the corpus (a vector index owns its
  * vectors — the DiskANN layout, extended to srcs). Superseded srcs'
  * vec rows are re-written at the superseding version (the shared del
  * list kills both subviews), erased ids are not.
  *
  * ==Per-batch cost==
  * Batch 1 is the bootstrap [[GraphAnn.buildGraph]] over the first
  * batch alone. Every later batch: adds beam-walk the MAINTAINED graph
  * ([[GraphAnn.insertDelta]] — only the batch walks, re-cap touches ≤
  * |batch|·m sources), deletes repair through bridge candidates
  * ([[GraphAnn.removeDelta]] — work ∝ |doomed|·m²), and segment bytes
  * stay ∝ batch·m. The corpus is never re-bucketed and never re-walked. */
object StreamingGraphAnn {

  val DefaultMaxSegments = 8

  import SegmentedState.Manifest

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  private def manifest(spark: SparkSession, dir: String): Manifest =
    SegmentedState.current(spark, dir, "graph-ANN state")

  /** The maintained graph view — [[GraphAnn.buildGraph]]'s schema (src,
    * dst, score_cos, dst_vec, dst_norm, b) over the live edge set. */
  def readGraph(spark: SparkSession, dir: String): DataFrame =
    SegmentedState.rowView(spark, dir, manifest(spark, dir), "edges",
      "src", baseDrop = Nil)

  /** The maintained (id, vec, nrm) node sidecar — the live vector set. */
  def readVecs(spark: SparkSession, dir: String): DataFrame =
    SegmentedState.rowView(spark, dir, manifest(spark, dir), "vecs",
      "id", baseDrop = Nil)

  /** Fold one change batch (vectors with `idCol`/`vecCol`; rows with
    * `deleteCol` = true are erasure tombstones of previously-ingested
    * ids, which may not re-appear as adds in the SAME batch) into the
    * maintained graph. Deletes repair first, adds walk the repaired
    * graph — one batch's delta is written as one segment + one shared
    * tombstone list. Public so batch-parity catalog rows drive the
    * IDENTICAL code the writer runs. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      m: Int = 16, lshBits: Int = 4, probes: Int = 2,
      ef: Int = 96, iters: Int = 5, entries: Int = 24,
      nBuckets: Int = GraphAnn.DefaultBuckets,
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    val spark = batch.sparkSession
    StatePointer.applyOnce(spark, dir, batchId) { prev =>
      val (adds0, dels) = SegmentedState.splitChange(batch, deleteCol)(
        SegmentedState.tombIds(idCol).andThen(_.distinct()))
      val adds = adds0.select(col(idCol), col(vecCol))
        .localCheckpoint(eager = false) // walk/build + vec sidecar
      val delIds = dels.filter(d => !d.isEmpty)
      val addVecs = GraphAnn.vecTable(adds, idCol, vecCol)
      prev match {
        case None =>
          // bootstrap: the first batch IS the corpus — the build job
          GraphAnn.buildGraph(adds, m, lshBits, probes = probes,
              nBuckets = nBuckets, idCol = idCol, vecCol = vecCol)
            .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/edges")
          addVecs.write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/vecs")
          delIds.foreach(_.write.mode("overwrite")
            .parquet(s"$dir/seg/v=$batchId/del"))
        case Some(p) =>
          val prevM = SegmentedState.readManifest(spark, dir, p)
          val view = SegmentedState.rowView(spark, dir, prevM, "edges",
              "src", baseDrop = Nil)
            .localCheckpoint(eager = false) // remove + insert consumers
          val vecsView = SegmentedState.rowView(spark, dir, prevM, "vecs",
              "id", baseDrop = Nil)
            .localCheckpoint(eager = false) // repair vecs + re-writes
          // deletes repair first; adds walk the repaired graph
          val (afterRm, gone) = delIds match {
            case Some(d) =>
              val (delta, g0) = GraphAnn.removeDelta(view, d, vecsView,
                m, nBuckets)
              (view.join(broadcast(g0), Seq("src"), "left_anti")
                .unionByName(delta), g0)
            case None =>
              (view, view.select(col("src")).limit(0))
          }
          val (delta, superseded) =
            if (adds.isEmpty)
              (afterRm.limit(0),
                afterRm.select(col("src")).limit(0))
            else if (afterRm.isEmpty)
              // the graph emptied out (total erasure) — re-bootstrap
              // from the batch, else the new nodes would join edgeless
              (GraphAnn.buildGraph(adds, m, lshBits, probes = probes,
                 nBuckets = nBuckets, idCol = idCol, vecCol = vecCol),
               adds.select(col(idCol).as("src")).distinct())
            else GraphAnn.insertDelta(afterRm, adds, m, ef, iters,
              entries, nBuckets, idCol, vecCol)
          val changed = gone.unionByName(superseded).distinct()
            .localCheckpoint(eager = false) // edge + vec + del writers
          // the batch's post-change edge rows: every changed src's
          // final edge set (erased srcs have none — tombstone only)
          afterRm.join(broadcast(superseded), Seq("src"), "left_anti")
            .unionByName(delta)
            .join(broadcast(changed), Seq("src"), "left_semi")
            .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/edges")
          // vec sidecar: adds' own vectors ∪ superseded live srcs'
          // (re-written at this version — the shared del list kills
          // their older rows in BOTH subviews); erased ids die
          val keepIds = changed.withColumnRenamed("src", "id")
            .join(broadcast(delIds.getOrElse(
                changed.select(col("src").as("id")).limit(0))),
              Seq("id"), "left_anti")
          vecsView.join(broadcast(keepIds), Seq("id"), "left_semi")
            .join(broadcast(addVecs.select(col("id"))), Seq("id"),
              "left_anti") // adds' own rows win (erase → re-ingest)
            .unionByName(addVecs)
            .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/vecs")
          // one shared tombstone list: superseded srcs + erased ids
          changed.withColumnRenamed("src", "id")
            .unionByName(delIds.getOrElse(
              changed.select(col("src").as("id")).limit(0)))
            .distinct()
            .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/del")
      }
      // every later segment carries a del side (its superseded srcs);
      // no minor fold — at `maxSegments` a major resolves kills,
      // scrubs and partitions. The bootstrap batch never compacts.
      SegmentedState.appendSegment(spark, dir, batchId, prev,
          if (prev.isEmpty) Int.MaxValue else maxSegments,
          hasDel = prev.isDefined || delIds.isDefined)(_ => None)(
        compactTo(spark, dir))
    }
  }

  private def compactTo(spark: SparkSession, dir: String)(m: Manifest,
      v: Long): Unit = {
    // `b` doubles as the hive-partition column — the serving walk's
    // pruning unit, already part of the edge schema
    SegmentedState.compactRows(spark, dir, "edges", "src", "b", None)(m, v)
    SegmentedState.rowView(spark, dir, m, "vecs", "id", baseDrop = Nil)
      .write.mode("overwrite").parquet(s"$dir/base/v=$v/vecs")
  }

  /** Out-of-band compaction at the current version (no-op without
    * segments); content-identical, manifest rewrite atomic. */
  def compact(spark: SparkSession, dir: String): Unit =
    SegmentedState.compact(spark, dir)(compactTo(spark, dir))

  /** Reclaim superseded segments/bases/manifests; `retain` > 1 =
    * concurrent-reader grace window ([[SegmentedState.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit =
    SegmentedState.vacuum(spark, dir, withStats = false, retain)

  /** Beam-walk the MAINTAINED graph for the view rows matching
    * `queryPred` — query vectors, entry points, and edges all come from
    * state (zero corpus access; post-compaction the walk prunes to the
    * frontier's `b` partitions). */
  def knn(spark: SparkSession, dir: String, queryPred: Column, k: Int,
      ef: Int = 32, iters: Int = 3, entries: Int = 8,
      nBuckets: Int = GraphAnn.DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    GraphAnn.search(liveEmb(spark, dir, idCol, vecCol),
      readGraph(spark, dir), queryPred, k, ef, iters, entries, nBuckets,
      idCol, vecCol)

  /** The panel recall contract over the maintained state — the
    * [[GraphAnn.knnRecallPanel]] publishing discipline with BOTH the
    * approximate walk and the brute-force truth evaluated on the live
    * vec view (erased ids are in neither). */
  def knnRecallPanel(spark: SparkSession, dir: String, queryPred: Column,
      k: Int, ef: Int = 32, iters: Int = 3, entries: Int = 8,
      recallBound: Double = 0.5,
      nBuckets: Int = GraphAnn.DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    GraphAnn.knnRecallPanel(liveEmb(spark, dir, idCol, vecCol),
      readGraph(spark, dir), queryPred, k, ef, iters, entries, recallBound,
      nBuckets, idCol, vecCol)

  private def liveEmb(spark: SparkSession, dir: String, idCol: String,
      vecCol: String): DataFrame =
    readVecs(spark, dir)
      .select(col("id").as(idCol), col("vec").as(vecCol))

  /** Wire a vector (or change) stream to the maintained graph. Caller
    * starts/stops the returned writer. */
  def writer(emb: DataFrame, dir: String, checkpointDir: String,
      m: Int = 16, lshBits: Int = 4, probes: Int = 2,
      ef: Int = 96, iters: Int = 5, entries: Int = 24,
      nBuckets: Int = GraphAnn.DefaultBuckets,
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      vacuumEvery: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(emb, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, _, m, lshBits, probes, ef, iters, entries, nBuckets,
        deleteCol, maxSegments, idCol, vecCol))
}
