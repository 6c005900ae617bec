package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.{Dedup, Similarity}

/** Always-on EMBEDDING-CLUSTER CENTROID maintenance: an embedding (or
  * change) stream folds into the persisted centroid state — labels,
  * pre-division micro-unit sums, and the pair graph — inside
  * `foreachBatch` under the pointer discipline. The streaming form of
  * the batch `q_embed_centroids_incr` / `q_centroids_delete` maintenance
  * path; together with [[StreamingDedup]] (text near-dups) and
  * [[StreamingIndex]] (search) it completes the always-on story for
  * every incrementally-maintained artifact family.
  *
  * State layout mirrors [[StreamingDedup]]: the corpus-proportional
  * artifact (the embedding rows themselves, needed by future batches'
  * cross-pair probes and by split re-stitches) is SEGMENTED — each batch
  * writes only its adds (bytes ∝ batch), tombstone id lists ride the
  * segment, the view is `(base ∪ segments) anti-join live-tombstones`
  * (version-ordered — a tombstone kills only strictly earlier rows),
  * and compaction at `maxSegments` rewrites a base hive-partitioned by
  * an id-hash bucket. Labels, sums and pairs are SLIVERS (rows only for
  * detected near-dup members / cluster×dim cells) and their folds
  * ([[Similarity.clusterCentroidSumsIncremental]] /
  * [[Similarity.clusterCentroidSumsDelete]]) are sequential and
  * non-idempotent — copy-on-write per batch, the pointer as the
  * exactly-once guard. [[vacuum]] reclaims all superseded state.
  *
  * Per-batch fold: (1) the adds find their pairs against the current
  * corpus view ([[Similarity.cosinePairsIncremental]] — block-keyed, the
  * batch side drives); (2) labels stitch by contracted-graph propagation
  * and sums carry over untouched clusters while ONLY fresh members'
  * vectors are read; (3) tombstoned ids re-stitch their touched
  * components over retained pairs and those components' sums recompute
  * from the surviving member sliver (splits cannot be apportioned by
  * subtraction). Preconditions are the [[StreamingIndex]] change-stream
  * contract (new ids relative to the LIVE view, full-row tombstones of
  * previously-ingested ids, no add+erase of one id in a batch); an
  * erased id MAY re-ingest in a later batch — the view's erasure join is
  * version-ordered, so the re-ingested vector survives and later batches
  * pair against it. The served centroids ≡ a full recompute over the
  * live corpus (`q_centroids_stream*` share those oracles verbatim). */
object StreamingCentroids {

  val DefaultMaxSegments = 8
  val DefaultBuckets = 32

  import SegmentedState.Manifest

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  /** Version-ordered merge-on-read over the embedding rows
    * ([[SegmentedState.rowView]]): an erased id may re-ingest in a later
    * batch and the new vector survives. */
  private def embView(spark: SparkSession, dir: String, m: Manifest,
      idCol: String): DataFrame =
    SegmentedState.rowView(spark, dir, m, "emb", idCol, Seq("b"))

  /** The maintained corpus embedding view. */
  def readEmbeddings(spark: SparkSession, dir: String,
      idCol: String = "vec_id"): DataFrame =
    embView(spark, dir, SegmentedState.current(spark, dir, "centroid state"),
      idCol)

  def readLabels(spark: SparkSession, dir: String): DataFrame =
    StatePointer.versioned(spark, dir, "labels", "centroid state")

  /** The persisted pre-division sums — (cluster_id, dim, n_members,
    * s_micro). */
  def readSums(spark: SparkSession, dir: String): DataFrame =
    StatePointer.versioned(spark, dir, "sums", "centroid state")

  /** The published centroids — one division over the maintained sums. */
  def readCentroids(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroidsFromSums(readSums(spark, dir))

  /** Fold one batch into the persisted centroid state (see object doc).
    * Public so the batch-parity catalog rows drive the IDENTICAL code
    * the writer runs. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      deleteCol: Option[String] = None, blockCol: String = "label",
      threshold: Double = 0.4,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding",
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): Unit = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    require(!batch.columns.contains("b"),
      "embedding column name 'b' is reserved by the compaction bucket " +
        "layout — rename the column")
    val spark = batch.sparkSession
    StatePointer.applyOnce(spark, dir, batchId) { prev =>
      val (adds0, delIds) = SegmentedState.splitChange(batch, deleteCol)(
        SegmentedState.tombIds(idCol))
      val adds = adds0.localCheckpoint(eager = false) // probe + sums + segment
      val prevM = prev.map(SegmentedState.readManifest(spark, dir, _))
        .getOrElse(Manifest(None, Nil, Set.empty))

      // ---- 1. pairs touching the batch, against the current view ----
      val (labels0, sums0, pairs0) = prev match {
        case Some(pv) => (spark.read.parquet(s"$dir/labels/v=$pv"),
          spark.read.parquet(s"$dir/sums/v=$pv"),
          spark.read.parquet(s"$dir/pairs/v=$pv"))
        case None => (null, null, null)
      }
      val (grownLabels, grownSums, grownPairs) = prev match {
        case None =>
          val pairs = Similarity.cosinePairsBlocked(adds, blockCol,
              threshold, idCol, vecCol)
            .select(col("id_a"), col("id_b"))
            .localCheckpoint(eager = false) // labels + sums + persist
          val labels = Dedup.clusters(pairs)
            .localCheckpoint(eager = false) // sums + persist
          (labels, Similarity.clusterCentroidSums(adds, labels, idCol, vecCol),
            pairs)
        case Some(_) =>
          val corpus = embView(spark, dir, prevM, idCol)
          val newPairs = Similarity.cosinePairsIncremental(corpus, adds,
              blockCol, threshold, idCol, vecCol)
            .select(col("id_a"), col("id_b"))
            .localCheckpoint(eager = false) // fold + persist
          // fresh members' vectors come from corpus ∪ adds (a corpus
          // doc can enter its first pair through a batch edge)
          val embAll = corpus.unionByName(adds)
          val (l1, s1) = Similarity.clusterCentroidSumsIncremental(
            embAll, labels0, sums0, newPairs, idCol, vecCol)
          (l1, s1, pairs0.unionByName(newPairs))
      }
      val hasDel = SegmentedState.writeDels(dir, batchId, delIds)()
      val (labels1, sums1, pairs1) = delIds.filter(_ => hasDel) match {
        case Some(d) =>
          // delete fold runs against the pre-delete view (tombstoned
          // rows still readable — the applyDeletes ordering)
          val embAll = embView(spark, dir, prevM, idCol).unionByName(adds)
          val gp = grownPairs.localCheckpoint(eager = false)
          val (l2, s2) = Similarity.clusterCentroidSumsDelete(
            embAll, grownLabels, grownSums, gp, d, idCol, vecCol)
          val retained = gp
            .join(broadcast(d), gp("id_a") === d("id"), "left_anti")
            .join(broadcast(d), gp("id_b") === d("id"), "left_anti")
          (l2, s2, retained)
        case None => (grownLabels, grownSums, grownPairs)
      }
      labels1.write.mode("overwrite").parquet(s"$dir/labels/v=$batchId")
      sums1.write.mode("overwrite").parquet(s"$dir/sums/v=$batchId")
      pairs1.write.mode("overwrite").parquet(s"$dir/pairs/v=$batchId")

      // ---- segment write: bytes ∝ batch ----
      adds.write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/emb")
      // ---- manifest + (amortized) compaction; minor = pure concat ----
      SegmentedState.appendSegment(spark, dir, batchId, prev, maxSegments,
          hasDel)(
        SegmentedState.tailMinor(spark, dir, batchId, majorRatio)(
          "emb" -> SegmentedState.concat(spark, dir, "emb")))(
        compactTo(spark, dir, idCol, nBuckets))
    }
  }

  private def compactTo(spark: SparkSession, dir: String, idCol: String,
      nBuckets: Int): (Manifest, Long) => Unit =
    SegmentedState.compactRows(spark, dir, "emb", idCol, "b", Some(nBuckets))

  /** Out-of-band compaction: fold the live segments (and their
    * tombstones) into a new bucket-partitioned base at the current
    * version — no-op without segments. Content-identical; the manifest
    * rewrite is atomic ([[StreamingIndex.compact]]'s contract). */
  def compact(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id"): Unit =
    SegmentedState.compact(spark, dir)(compactTo(spark, dir, idCol, nBuckets))

  /** Reclaim superseded segments/bases/manifests and stale
    * labels/sums/pairs versions; `retain` > 1 = concurrent-reader grace
    * window ([[SegmentedState.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit = {
    SegmentedState.vacuum(spark, dir, withStats = false, retain)
    SegmentedState.vacuumVersioned(spark, dir, Seq("labels", "sums", "pairs"),
      SegmentedState.retainedVersions(spark, dir, retain))
  }

  /** Wire an embedding (or change) stream to the maintained centroid
    * state. Caller starts/stops the returned writer. */
  def writer(emb: DataFrame, dir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      deleteCol: Option[String] = None, blockCol: String = "label",
      threshold: Double = 0.4,
      maxSegments: Int = DefaultMaxSegments,
      vacuumEvery: Int = 0): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(emb, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, _, deleteCol, blockCol, threshold,
        maxSegments = maxSegments))
}
