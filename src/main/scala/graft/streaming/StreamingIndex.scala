package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.Search

/** Always-on inverted-index ingest with SEGMENTED persistence — the
  * log-structured layout every production search engine uses for exactly
  * this reason: a micro-batch writes ONLY its own postings.
  *
  * ==Why segments, not bucket-partitioned copy-on-write==
  * The r9 form rewrote the ENTIRE merged index per micro-batch — O(corpus)
  * writes per trigger. Partitioning the persisted index by a gram-hash
  * bucket and rewriting "touched buckets" does NOT fix that: gram hashes
  * spread uniformly, so even a small batch's gram set lands in essentially
  * every bucket and the "touched" set is all of them. The write-cost bound
  * the 10-second-trigger regime needs (bytes per batch ∝ batch, not
  * corpus) requires the LSM discipline instead:
  *
  *  - '''ingest''': each batch appends an immutable SEGMENT
  *    (`seg/v=<batchId>/idx` = [[Search.invertedIndexRaw]] over the adds,
  *    plus `…/del` when the batch carries tombstones) — write ∝ batch;
  *  - '''read''' ([[readIndex]]): merge-on-read in BATCH ORDER — base +
  *    contiguous add runs fold through [[Search.indexMerge]] (segment
  *    gram lists broadcast; base grams untouched by any segment pass one
  *    anti join unshuffled), and the fold splits at each tombstone
  *    boundary so a del segment subtracts ([[Search.indexDelete]]) from
  *    exactly the state that preceded it. No live tombstones = ONE
  *    merge; |dels| live = 2·|dels|+1 layers, bounded by `maxSegments`,
  *    so read amplification is bounded;
  *  - '''compaction''': when the live-segment count reaches
  *    `maxSegments`, a MINOR compaction folds the tail del-less run into
  *    one segment (write ∝ window, base untouched — see [[applyBatch]]);
  *    a MAJOR — the merged view written as a new base, O(corpus)
  *    amortized — runs only when no base exists, accumulated segment
  *    bytes reach `majorRatio` × base, or a del boundary leaves the tail
  *    run too short. The base is hive-partitioned by a stable gram-hash
  *    bucket (`b = pmod(xxhash64(gram), nBuckets)`, the
  *    [[graft.sources.Artifacts.table]] cell-partition discipline — also
  *    the unit a future per-bucket compactor or pruned gram probe keys
  *    on);
  *  - '''vacuum''' ([[vacuum]]): deletes every state dir the latest
  *    manifest no longer references (superseded bases, compacted
  *    segments, old stats/manifests), bounding disk. Replays stay safe
  *    after a vacuum because an applied batchId is detected by the
  *    `_LATEST` pointer BEFORE any state dir is touched.
  *
  * ==Commit protocol==
  * Per batch: write segment + stats, then `manifest/v=<batchId>` (the
  * base version + live segment list), then atomically advance `_LATEST`
  * ([[StatePointer]]). Readers resolve pointer → manifest → dirs, so they
  * never observe a half-written batch; a crash before the pointer advance
  * replays the batch, which rewrites the same dirs (overwrite) and
  * commits once. Replays of an APPLIED batch are detected by the pointer
  * and SKIPPED — re-merging postings would double df/cf, so the pointer
  * check is the exactly-once mechanism (`foreachBatch`'s batchId
  * contract).
  *
  * ==Erasure==
  * With `deleteCol` set the batch is a change stream in the
  * [[StreamingSnapshot]] full-row-tombstone convention: tombstones CARRY
  * THE DOC TEXT, so their postings re-derive from the tombstone row
  * itself and subtract exactly ([[Search.indexDelete]] ordering).
  * Preconditions: adds are new doc ids relative to the LIVE view
  * ([[Search.indexMerge]] disjointness), tombstones reference
  * previously-ingested docs, and a doc is not added and erased in the
  * same batch. An erased doc id MAY re-ingest in any later batch — the
  * read fold applies each tombstone segment at its place in batch order
  * (see [[mergedView]]), so the old postings are gone from the state
  * before the new ones merge; update churn (erase in batch k, re-add in
  * batch k+1) costs nothing beyond the bounded per-boundary fold depth,
  * never an O(corpus) rewrite.
  *
  * The state is UNRAILED on disk (df rails are a read decision —
  * [[Search.applyRails]]); [[readRailedIndex]] is the consumer form.
  *
  * The core is GRAM-AGNOSTIC: every mechanism above keys on the gram
  * column and the per-batch builder, so [[applyBatch]]/[[readIndex]]/
  * [[readIndexPruned]] take (`gramCol`, `build`) parameters defaulting
  * to the bigram phrase index; [[StreamingSearchIndex]] instantiates
  * the same core for the unigram BM25-serving index. Erasure-sweep
  * workloads additionally get TOMBSTONE-RUN minor folds: a trailing run
  * of pure-del segments (tracked via the manifest's `pure` set) folds
  * into one del segment ([[SegmentedState.delRunPlan]]), so a sweep
  * costs ∝ accumulated tombstones per trigger, never an O(corpus)
  * major. */
object StreamingIndex {

  val DefaultMaxSegments = 8
  val DefaultBuckets = 32

  /** Major compaction triggers when accumulated segment bytes reach this
    * fraction of the base — the minor/major cost trade: smaller = more
    * corpus rewrites, larger = bigger tail-run re-merges per minor. */
  val DefaultMajorRatio = 0.2

  import SegmentedState.Manifest

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    StatePointer.read(spark, dir)

  /** Assemble the merge-on-read plan for a manifest: base + live segments
    * folded in BATCH ORDER, split at tombstone boundaries — a del segment
    * subtracts from exactly the state that preceded it (base + earlier
    * segments), never from adds that arrived after it. That ordering is
    * what makes erase → RE-INGEST of the same doc id correct: the later
    * add merges into a state its old postings have already left, so
    * [[Search.indexMerge]]'s doc-disjointness holds at every layer and
    * [[Search.indexDelete]]'s full-doc posting cut never touches the new
    * text's rows. With no live tombstones (the steady state) the fold
    * degenerates to TODAY's single merge — one [[Search.indexMerge]] over
    * base + segment union — and a lone base-less del-less segment to a
    * pure file scan; with tombstones live, plan depth is
    * 2·|del segments| + 1 broadcast-gated layers, bounded by
    * `maxSegments` and folded flat again at compaction. Pure plan
    * construction — no action. */
  private[streaming] def mergedView(spark: SparkSession, dir: String,
      m: Manifest, grams: Option[Seq[String]] = None,
      gramCol: String = "gram"): DataFrame = {
    // Literal-panel pruning (readIndexPruned): every part — base,
    // add segments, del segments — restricts to the panel's grams before
    // entering the fold. Legal because the whole fold is PER-GRAM
    // (indexMerge / indexDelete key on gram and never mix grams), so
    // pruning each part to the panel commutes with folding. The base
    // additionally takes a STATIC partition filter on the panel's hash
    // buckets (modulus read from the manifest — the writer's, never
    // configuration), so only those buckets' files are listed and read.
    val pruneSeg: DataFrame => DataFrame = grams match {
      case Some(gs) => df => df.filter(col(gramCol).isin(gs.distinct: _*))
      case None => identity
    }
    val pruneBase: DataFrame => DataFrame = (grams, m.buckets) match {
      case (Some(gs), Some(n)) => df =>
        pruneSeg(df.filter(col("b").isin(Search.gramBuckets(gs, n): _*)))
      case _ => pruneSeg
    }
    val base = m.base.map(v =>
      pruneBase(spark.read.parquet(s"$dir/base/v=$v")).drop("b"))
    if (m.segments.isEmpty)
      return base.getOrElse(
        throw new IllegalStateException(s"empty manifest at $dir"))
    // fold a run of contiguous add segments into the state in ONE merge
    def flush(state: Option[DataFrame],
        run: Seq[DataFrame]): Option[DataFrame] = (state, run) match {
      case (s, Nil) => s
      // a single base-less segment is already one row per gram
      // (invertedIndexRaw's contract): the fold is the identity, so the
      // serving view stays a pure file scan until a second part lands
      case (None, Seq(only)) => Some(only)
      // indexMerge with an empty old side degenerates to the pure
      // re-aggregation of the segment union — same code path, no
      // special-case aggregation to keep in sync
      case (None, segs) =>
        Some(Search.indexMerge(segs.head.limit(0),
          segs.reduce(_ unionByName _), gramCol))
      case (Some(b), segs) =>
        Some(Search.indexMerge(b, segs.reduce(_ unionByName _), gramCol))
    }
    var state = base
    var run = List.empty[DataFrame]
    for (v <- m.segments) {
      run = run :+ pruneSeg(spark.read.parquet(s"$dir/seg/v=$v/idx"))
      if (m.dels.contains(v)) {
        // batch v's adds merge before its tombstones subtract — safe
        // because a doc is never added and erased in the same batch
        val merged = flush(state, run).getOrElse(throw new IllegalStateException(
          s"tombstone segment v=$v precedes any adds at $dir"))
        state = Some(Search.indexDelete(merged,
          pruneSeg(spark.read.parquet(s"$dir/seg/v=$v/del")), gramCol))
        run = Nil
      }
    }
    flush(state, run).get
  }

  /** The current unrailed index (empty-schema error until a batch lands).
    * A merge-on-read view: one broadcast-gated fold over ≤ `maxSegments`
    * live segments — compaction keeps this bounded. */
  def readIndex(spark: SparkSession, dir: String,
      gramCol: String = "gram"): DataFrame =
    mergedView(spark, dir, SegmentedState.current(spark, dir, "index"), None,
      gramCol)

  /** Gram-bucket-pruned serving read for a LITERAL gram panel (phrase
    * probes, literal BM25 panels): the merge-on-read view with every part
    * restricted to the panel — the base scan takes a STATIC partition
    * filter on the panel grams' hash buckets (`b IN (…)`, modulus from
    * the manifest) so only those buckets' files are listed and read, and
    * every part takes a pushed `gram IN (panel)` filter (row-group
    * pruning). Semantically [[readIndex]] restricted to the panel grams
    * ([[mergedView]] doc) — a probe that only joins against the panel
    * sees identical rows, so pruned probes share unpruned oracles
    * verbatim. At 100 TB this is the last O(corpus) read off the serving
    * path: a phrase probe touches its grams' buckets, never the index. */
  def readIndexPruned(spark: SparkSession, dir: String,
      grams: Seq[String], gramCol: String = "gram"): DataFrame =
    mergedView(spark, dir, SegmentedState.current(spark, dir, "index"),
      Some(grams), gramCol)

  /** The current stats sidecar (n_docs, sum_dl) — 1 row, folded and
    * rewritten per batch (O(1) state, not worth segmenting). */
  def readStats(spark: SparkSession, dir: String): DataFrame =
    StatePointer.versioned(spark, dir, "stats", "stats")

  /** Consumer view: rails applied over the LIVE doc count, the
    * [[Search.applyRails]] read-time contract (minDf, maxDfFrac·n). */
  def readRailedIndex(spark: SparkSession, dir: String, minDf: Long = 2L,
      maxDfFrac: Double = 0.06): DataFrame = {
    val n = readStats(spark, dir).collect().head.getAs[Long]("n_docs")
    Search.applyRails(readIndex(spark, dir), minDf,
      math.floor(maxDfFrac * n).toLong)
  }

  /** [[readRailedIndex]] over the bucket-pruned panel view
    * ([[readIndexPruned]]) — rails commute with the per-gram pruning (df
    * is a column of every row, global regardless of pruning), so railed
    * pruned rows equal the railed full view restricted to the panel. */
  def readRailedIndexPruned(spark: SparkSession, dir: String,
      grams: Seq[String], minDf: Long = 2L,
      maxDfFrac: Double = 0.06): DataFrame = {
    val n = readStats(spark, dir).collect().head.getAs[Long]("n_docs")
    Search.applyRails(readIndexPruned(spark, dir, grams), minDf,
      math.floor(maxDfFrac * n).toLong)
  }

  /** Fold one batch into the persisted state (see object doc for the
    * segment/commit/erasure contracts). Public so the batch-parity catalog
    * rows drive the IDENTICAL code `foreachBatch` runs.
    *
    * ==Minor vs major compaction==
    * At `maxSegments` live segments the state compacts. A MAJOR
    * compaction (the r10 first cut's only form) folds base + segments
    * into a fresh bucketed base — O(corpus) amortized over `maxSegments`
    * batches. The LSM answer to that recurring corpus rewrite is MINOR
    * compaction: fold only the TAIL RUN of del-less segments (everything
    * after the last tombstone boundary, which in the low-churn steady
    * state is the whole window) into one segment at the current batch's
    * version — write ∝ window, base untouched on disk. Tail-run-only is
    * what keeps tombstone ordering exact with no del splitting: adds
    * never move across a del boundary, so every tombstone still
    * subtracts from exactly the state that preceded it. A major runs
    * instead when (a) no base exists yet, (b) accumulated segment bytes
    * reach `majorRatio` × base bytes (deltas are no longer small — fold
    * them in), or (c) the tail run is too short to reduce the count
    * (a del-heavy window). */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets,
      majorRatio: Double = DefaultMajorRatio,
      gramCol: String = "gram",
      build: DataFrame => DataFrame = Search.invertedIndexRaw(_)): Unit = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    val spark = batch.sparkSession
    StatePointer.applyOnce(spark, dir, batchId) { prev =>
      // lazy checkpoints: each side has 2-3 consumers below (segment
      // write, stats fold, emptiness probe) — don't rescan the batch
      val (adds0, dels) = SegmentedState.splitChange(batch, deleteCol)(identity)
      val adds = adds0.localCheckpoint(eager = false)
      // ---- segment write: bytes ∝ batch, never ∝ corpus ----
      build(adds)
        .write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/idx")
      val hasDel = SegmentedState.writeDels(dir, batchId, dels)(build)
      // ---- stats fold: 1-row sidecar, O(1) per batch ----
      val batchStats = Search.corpusStats(adds)
      val grown = prev match {
        case Some(v) => Search.statsMerge(
          spark.read.parquet(s"$dir/stats/v=$v"), batchStats)
        case None => batchStats
      }
      val stats = if (hasDel)
        Search.statsDelete(grown, Search.corpusStats(dels.get)) else grown
      stats.write.mode("overwrite").parquet(s"$dir/stats/v=$batchId")
      // per-gram re-aggregation of a segment-run union — the minor-fold
      // kernel (direct re-agg, NOT indexMerge: the run includes the
      // previously-minored segment, whose gram list is too large to
      // broadcast). Folds add runs and pure-del runs alike: doc sets
      // are disjoint within either run kind, so counts add exactly.
      def foldRun(sub: String)(run: Seq[Long]): DataFrame =
        SegmentedState.concat(spark, dir, sub)(run)
          .groupBy(col(gramCol))
          .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"),
            sort_array(flatten(collect_list(col("pl")))).as("pl"))
      // ---- manifest + (amortized) compaction ----
      // pure-tombstone batches (del side present, add side empty) are
      // what a trailing del-run minor fold may later collapse — record
      // them in the manifest (invariant: pure ⊆ dels). Checked only on
      // del-carrying batches, so the common all-adds path pays nothing.
      // Buckets are recorded at a major so pruned probes hash with the
      // WRITER's modulus (readIndexPruned), never a configured one.
      SegmentedState.appendSegment(spark, dir, batchId, prev, maxSegments,
          hasDel, pureDel = hasDel && adds.isEmpty, buckets = Some(nBuckets)) {
        appended =>
          // MINOR: fold the tail del-less run into this batch's segment
          // — folded-run members (except this batch) become debris,
          // unreferenced by the new manifest, vacuumable
          SegmentedState.tailMinor(spark, dir, batchId, majorRatio)(
              "idx" -> foldRun("idx"))(appended)
            .orElse(SegmentedState.delRunPlan(spark, dir, appended,
                majorRatio, batchId).map { delRun =>
              // TOMBSTONE-RUN MINOR (the erasure-sweep answer): a
              // trailing run of PURE-del segments folds into ONE del
              // segment at this batch's version. Legal because no adds
              // interleave inside the run — the union of the tombstones
              // subtracts from exactly the state that preceded the run,
              // preserving batch order — so an erasure sweep costs ∝
              // accumulated tombstones per trigger, never an O(corpus)
              // major.
              SegmentedState.swapIn(foldRun("del")(delRun), dir, batchId,
                "del")
              SegmentedState.afterDelRun(appended, delRun, batchId)
            })
      }(compactTo(spark, dir, gramCol, nBuckets))
    }
  }

  private def compactTo(spark: SparkSession, dir: String, gramCol: String,
      nBuckets: Int)(m: Manifest, v: Long): Unit =
    SegmentedState.writePartitioned(
      mergedView(spark, dir, m, gramCol = gramCol)
        .withColumn("b", pmod(xxhash64(col(gramCol)), lit(nBuckets.toLong))),
      s"$dir/base/v=$v", Seq("b"))

  /** Out-of-band compaction: fold the live segments (and their
    * tombstones) into a new bucket-partitioned base at the CURRENT
    * version. No-op when no segments are live. Does not advance the
    * pointer — the content is unchanged, only its layout; the manifest
    * rewrite is atomic (temp + rename), so readers see the old or new
    * layout, never a mix. */
  def compact(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBuckets, gramCol: String = "gram"): Unit =
    SegmentedState.compact(spark, dir, Some(nBuckets))(
      compactTo(spark, dir, gramCol, nBuckets))

  /** Delete every state dir the `retain` most recent manifests no
    * longer reference (superseded bases, compacted-away segments, stale
    * stats and manifests) — [[SegmentedState.vacuum]] with the stats
    * sidecar included. `retain` > 1 is the concurrent-reader grace
    * window (see that method's doc). */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit =
    SegmentedState.vacuum(spark, dir, withStats = true, retain)

  /** Wire a doc (or change) stream to the maintained index. Caller
    * starts/stops the returned writer. `vacuumEvery` > 0 runs [[vacuum]]
    * after every N applied batches — superseded state is reclaimed
    * continuously instead of growing without bound. */
  def writer(docs: DataFrame, dir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      deleteCol: Option[String] = None,
      maxSegments: Int = DefaultMaxSegments,
      nBuckets: Int = DefaultBuckets,
      vacuumEvery: Int = 0,
      majorRatio: Double = DefaultMajorRatio): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(docs, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, _, deleteCol, maxSegments, nBuckets, majorRatio))
}
