package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared SEGMENTED-state discipline behind [[StreamingIndex]] (and
  * [[StreamingSearchIndex]] through it), [[StreamingSnapshot]],
  * [[StreamingScd2]], [[StreamingDedup]], [[StreamingCentroids]],
  * [[StreamingIvf]], [[StreamingMedia]], [[StreamingChunks]] and
  * [[StreamingGraphAnn]]: each micro-batch appends an immutable
  * `seg/v=<batchId>` directory (bytes ∝ batch), reads are merge-on-read
  * over the live segment list, compaction folds the segments into a
  * `base/v=<id>` directory, and [[vacuum]] deletes everything the
  * retained manifests no longer reference. The manifest
  * (`manifest/v=<batchId>.g=<gen>`) records the base version and the
  * live segments; `_LATEST` ([[StatePointer]]) is the commit point.
  *
  * ==The shared fold==
  * A state's `applyBatch` is [[StatePointer.applyOnce]] around its fold:
  * split the change batch ([[splitChange]]), write the batch's segment
  * subdirs and tombstones ([[writeDels]]), then [[appendSegment]] — the
  * manifest append and, at `maxSegments`, the minor ([[tailMinor]]) or
  * major compaction the state passes in. Its out-of-band `compact` is
  * [[compact]] with the same major write. A PER-ROW artifact state
  * (Chunks, Media, Ivf) is nothing but its artifact function:
  * [[applyRows]] is its whole fold.
  *
  * ==Write protocol==
  * Per batch: segment dirs → manifest file → pointer. Readers resolve
  * pointer → manifest → dirs, so a half-written batch is invisible; a
  * crash before the pointer advance replays the batch into the same
  * dirs (overwrite) and commits once. Manifest files are IMMUTABLE once
  * created: a rewrite at the same version (out-of-band compaction)
  * creates the next GENERATION `v=<id>.g=<gen+1>` — an atomic fresh-name
  * rename, never a delete+recreate of a file the pointer references —
  * and readers take the max generation. A crash at any point leaves the
  * previous generation readable. */
object SegmentedState {

  /** `base`: compacted-base version, if one exists. `segments`: live
    * segment versions in fold order. `dels`: the subset of segments that
    * carry a tombstone side (state-specific; empty where unused).
    * `buckets`: the hash-bucket count the base was hive-partitioned with
    * (recorded at compaction — a pruned probe MUST bucket its literals
    * with the writer's modulus, so the reader takes it from here, never
    * from configuration). `pure`: the subset of segments whose ADD side
    * is empty (pure-tombstone batches) — what makes a trailing del run
    * minor-foldable. Both optional lines in the manifest file; absent in
    * pre-r11 manifests, which parse to None/empty (backward compatible). */
  case class Manifest(base: Option[Long], segments: Seq[Long],
      dels: Set[Long], buckets: Option[Int] = None,
      pure: Set[Long] = Set.empty)

  def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ManifestName = """v=(\d+)\.g=(\d+)""".r

  /** Generations present for version `v`, ascending. */
  private def gens(f: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long): Seq[Long] = {
    val p = new Path(s"$dir/manifest")
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.flatMap(_.getPath.getName match {
      case ManifestName(mv, g) if mv.toLong == v => Some(g.toLong)
      case _ => None
    }).sorted
  }

  /** A text file of `key=value` lines, as a map. */
  private def readKv(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Map[String, String] = {
    val in = f.open(p)
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    text.linesIterator.map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, rest) = l.split("=", 2); (k, rest) }.toMap
  }

  /** The column names a state records once next to itself (`_META`), so
    * readers need no out-of-band schema knowledge. */
  private[streaming] def readMeta(spark: SparkSession,
      dir: String): Map[String, String] =
    readKv(fs(spark, dir), new Path(s"$dir/_META"))

  /** Write `_META` as `key=value` lines unless the first batch already
    * did. */
  private[streaming] def writeMeta(spark: SparkSession, dir: String,
      kv: (String, String)*): Unit = {
    val f = fs(spark, dir)
    val p = new Path(s"$dir/_META")
    if (!f.exists(p)) {
      val out = f.create(p, true)
      try out.write(kv.map { case (k, v) => s"$k=$v\n" }.mkString
        .getBytes("UTF-8"))
      finally out.close()
    }
  }

  def readManifest(spark: SparkSession, dir: String, v: Long): Manifest = {
    val f = fs(spark, dir)
    val g = gens(f, dir, v).lastOption.getOrElse(
      throw new java.io.FileNotFoundException(s"no manifest for v=$v at $dir"))
    val kv = readKv(f, new Path(s"$dir/manifest/v=$v.g=$g"))
    def longs(s: String): Seq[Long] =
      s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toLong)
    Manifest(
      kv.get("base").filter(_ != "-").map(_.toLong),
      longs(kv.getOrElse("segments", "")),
      longs(kv.getOrElse("dels", "")).toSet,
      kv.get("buckets").filter(_ != "-").map(_.toInt),
      longs(kv.getOrElse("pure", "")).toSet)
  }

  /** Write the manifest for `v` as a NEW generation (see object doc). */
  def writeManifest(spark: SparkSession, dir: String, v: Long,
      m: Manifest): Unit = {
    val f = fs(spark, dir)
    val g = gens(f, dir, v).lastOption.fold(0L)(_ + 1L)
    val text = s"base=${m.base.getOrElse("-")}\n" +
      s"segments=${m.segments.mkString(",")}\n" +
      s"dels=${m.dels.toSeq.sorted.mkString(",")}\n" +
      m.buckets.fold("")(n => s"buckets=$n\n") +
      (if (m.pure.isEmpty) ""
       else s"pure=${m.pure.toSeq.sorted.mkString(",")}\n")
    val tmp = new Path(s"$dir/manifest/.v=$v.g=$g.tmp")
    val out = f.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val dst = new Path(s"$dir/manifest/v=$v.g=$g")
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"manifest rename failed: $dst")
  }

  /** The committed manifest; `what` names the state in the error
    * thrown before its first batch lands. */
  private[streaming] def current(spark: SparkSession, dir: String,
      what: String): Manifest =
    StatePointer.read(spark, dir) match {
      case Some(v) => readManifest(spark, dir, v)
      case None => throw new IllegalStateException(s"no $what at $dir yet")
    }

  /** The change-stream split: the adds (rows with `deleteCol` false, the
    * flag dropped) and, under a `deleteCol`, the tombstone rows (flag
    * dropped) shaped by `tomb` behind a lazy checkpoint — they feed an
    * emptiness probe and at least one write. */
  private[streaming] def splitChange(batch: DataFrame,
      deleteCol: Option[String])(
      tomb: DataFrame => DataFrame): (DataFrame, Option[DataFrame]) =
    (deleteCol.fold(batch)(dc => batch.filter(!col(dc)).drop(dc)),
      deleteCol.map(dc =>
        tomb(batch.filter(col(dc)).drop(dc)).localCheckpoint(eager = false)))

  /** The `del` side's schema: a tombstone row's `idCol` as `id`. */
  private[streaming] def tombIds(idCol: String): DataFrame => DataFrame =
    _.select(col(idCol).as("id"))

  /** Write non-empty tombstones, shaped by `shape`, as
    * `seg/v=<batchId>/del`; true when the batch carries any. */
  private[streaming] def writeDels(dir: String, batchId: Long,
      dels: Option[DataFrame])(
      shape: DataFrame => DataFrame = identity): Boolean = {
    val hasDel = dels.exists(d => !d.isEmpty)
    if (hasDel)
      shape(dels.get).write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/del")
    hasDel
  }

  /** The segment-append step every segmented fold ends with: batch
    * `batchId`'s segment joins the previous version's manifest
    * (`hasDel`/`pureDel` record its tombstone side — [[Manifest]]), and
    * at `maxSegments` live segments the state compacts: `minor` when it
    * returns a manifest, else `major` writes `base/v=<batchId>` from the
    * appended view and the base alone is live (`buckets` = the modulus it
    * was partitioned with, when a reader prunes by it). The result is
    * written as the batch's manifest; the pointer advance of
    * [[StatePointer.applyOnce]] commits it. */
  private[streaming] def appendSegment(spark: SparkSession, dir: String,
      batchId: Long, prev: Option[Long], maxSegments: Int,
      hasDel: Boolean = false, pureDel: Boolean = false,
      buckets: Option[Int] = None)(minor: Manifest => Option[Manifest])(
      major: (Manifest, Long) => Unit): Unit = {
    val prevM = prev.fold(Manifest(None, Nil, Set.empty))(
      readManifest(spark, dir, _))
    val appended = prevM.copy(segments = prevM.segments :+ batchId,
      dels = if (hasDel) prevM.dels + batchId else prevM.dels,
      pure = if (pureDel) prevM.pure + batchId else prevM.pure)
    val committed =
      if (appended.segments.size < maxSegments) appended
      else minor(appended).getOrElse {
        major(appended, batchId)
        Manifest(Some(batchId), Nil, Set.empty, buckets)
      }
    writeManifest(spark, dir, batchId, committed)
  }

  /** Out-of-band compaction at the committed version: `major` folds the
    * live segments (and their tombstones) into `base/v=<v>` and the
    * manifest is rewritten atomically as the next generation — no-op
    * without segments. Content-identical, so the pointer stays put. */
  private[streaming] def compact(spark: SparkSession, dir: String,
      buckets: Option[Int] = None)(major: (Manifest, Long) => Unit): Unit =
    StatePointer.read(spark, dir).foreach { v =>
      val m = readManifest(spark, dir, v)
      if (m.segments.nonEmpty) {
        major(m, v)
        writeManifest(spark, dir, v, Manifest(Some(v), Nil, Set.empty, buckets))
      }
    }

  /** The del-less tail-run MINOR fold ([[minorPlan]]): each artifact
    * subdir's `fold` of the run is swapped into this batch's segment
    * ([[swapIn]]) and the run collapses to it ([[afterMinor]]). None when
    * a major is due instead. */
  private[streaming] def tailMinor(spark: SparkSession, dir: String,
      batchId: Long, majorRatio: Double)(
      folds: (String, Seq[Long] => DataFrame)*)(
      appended: Manifest): Option[Manifest] =
    minorPlan(spark, dir, appended, majorRatio).map { tailRun =>
      for ((sub, fold) <- folds) swapIn(fold(tailRun), dir, batchId, sub)
      afterMinor(appended, tailRun, batchId)
    }

  /** The union of artifact `sub` over a run of segments — a per-row
    * artifact's whole minor fold. */
  private[streaming] def concat(spark: SparkSession, dir: String,
      sub: String): Seq[Long] => DataFrame =
    _.map(v => spark.read.parquet(s"$dir/seg/v=$v/$sub"))
      .reduce(_ unionByName _)

  /** Major compaction of a per-row artifact: the [[rowView]] over `m`
    * written to `base/v=<v>/<sub>`, hive-partitioned by `part` — an
    * `idCol` hash bucket mod `nBuckets` when given (the bucket column is
    * the one readers drop), else an artifact column. */
  private[streaming] def compactRows(spark: SparkSession, dir: String,
      sub: String, idCol: String, part: String, nBuckets: Option[Int])(
      m: Manifest, v: Long): Unit = {
    val view = rowView(spark, dir, m, sub, idCol, nBuckets.map(_ => part).toSeq)
    writePartitioned(
      nBuckets.fold(view)(n =>
        view.withColumn(part, pmod(xxhash64(col(idCol)), lit(n.toLong)))),
      s"$dir/base/v=$v/$sub", Seq(part))
  }

  /** The whole fold of a PER-ROW artifact state (rows keyed by `idCol`,
    * nothing to decrement): ONLY the adds pass `artifact` and land as
    * `seg/v=<batchId>/<sub>` (bytes ∝ batch), tombstone ids ride
    * `seg/v=<batchId>/del`, a minor fold concatenates the del-less tail
    * run (row versions bump to `batchId`, which stays ordered against
    * every tombstone), and a major is [[compactRows]]. Erasure is the
    * version-ordered anti join of [[rowView]], so erase → re-ingest churn
    * is correct by the same rule. */
  private[streaming] def applyRows(batch: DataFrame, dir: String,
      batchId: Long, deleteCol: Option[String], idCol: String, sub: String,
      maxSegments: Int, majorRatio: Double, part: String,
      nBuckets: Option[Int])(artifact: DataFrame => DataFrame): Unit = {
    require(maxSegments >= 1, s"maxSegments must be >= 1: $maxSegments")
    val spark = batch.sparkSession
    StatePointer.applyOnce(spark, dir, batchId) { prev =>
      val (adds, delIds) = splitChange(batch, deleteCol)(tombIds(idCol))
      artifact(adds).write.mode("overwrite").parquet(s"$dir/seg/v=$batchId/$sub")
      val hasDel = writeDels(dir, batchId, delIds)()
      appendSegment(spark, dir, batchId, prev, maxSegments, hasDel)(
        tailMinor(spark, dir, batchId, majorRatio)(
          sub -> concat(spark, dir, sub)))(
        compactRows(spark, dir, sub, idCol, part, nBuckets))
    }
  }

  /** Last-writer-wins over versioned rows: per `keyCols` key the row
    * with the max `_v` wins, returned without `_v` in `rows`' column
    * order — the fold of the LWW states' open/snapshot rows. */
  private[streaming] def lastWriterWins(rows: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val payload = rows.columns.toSeq.filterNot(_ == "_v")
    val rest = payload.filterNot(keyCols.contains)
    rows.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(rest.map(col): _*), col("_v")).as("_w"))
      .select(keyCols.map(col) ++ rest.map(c => col(s"_w.$c").as(c)): _*)
      .select(payload.map(col): _*)
  }

  /** Hive-partitioned compaction write that survives an EMPTY fold: a
    * partitioned write of an empty frame emits no data files at all, so
    * the base directory cannot be read back (parquet schema inference
    * fails) — the erase-everything corpus, or an empty first batch at
    * maxSegments=1, would brick the state. Detection is one recursive
    * listing after the write (data files exist in every non-empty case);
    * the empty rewrite is unpartitioned — same schema, the partition key
    * becomes a plain (empty) column, and readers' drop()/projection
    * behave identically.
    *
    * The frame is CLUSTERED on the partition keys before the write (one
    * exchange, amortized over the compaction cadence): an unclustered
    * partitioned write emits up to tasks × |partition values| files —
    * the small-files problem that turns a pruned probe's "read one
    * bucket" into "open hundreds of slivers" at scale. Clustered, each
    * bucket is one file (spec-pinned). Parallelism note: buckets are the
    * write AND pruning granularity — size nBuckets to the cluster, not
    * to 32. */
  def writePartitioned(df: org.apache.spark.sql.DataFrame, path: String,
      parts: Seq[String]): Unit = {
    df.repartition(parts.map(col): _*)
      .write.mode("overwrite").partitionBy(parts: _*).parquet(path)
    val f = fs(df.sparkSession, path)
    val it = f.listFiles(new Path(path), true)
    var hasData = false
    while (!hasData && it.hasNext) {
      val n = it.next().getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) hasData = true
    }
    if (!hasData) df.write.mode("overwrite").parquet(path)
  }

  /** Merge-on-read view for PER-ROW artifacts (one or more rows per id,
    * nothing to decrement — dedup bands/shingles, centroid embeddings,
    * IVF assignments): `(base ∪ segments)` with VERSION-ORDERED tombstone
    * erasure. A tombstone kills only STRICTLY EARLIER rows of its id
    * (the [[StreamingSnapshot]] last-writer-wins rule), so an erased id
    * may RE-INGEST in a later batch and the returned rows survive. Base
    * rows carry the sentinel version -1 — compaction folded every
    * earlier tombstone away, so any live tombstone postdates them. The
    * tombstone sliver broadcasts; the bulk passes one anti join
    * unshuffled. Pure plan construction — no action.
    *
    * `sub` is the artifact subdir under `seg/v=&#42;` / `base/v=&#42;`;
    * del files live in the version dir's `del` subdir and carry one `id`
    * column; `baseDrop` strips compaction-layout columns (e.g. the hash
    * bucket `b`). */
  def rowView(spark: SparkSession, dir: String, m: Manifest, sub: String,
      idCol: String, baseDrop: Seq[String]): DataFrame = {
    require(sub.nonEmpty, "artifact subdir must be non-empty")
    // Part versions are PLAN-TIME literals, so the version ordering
    // resolves statically: part v anti-joins only the tombstone segments
    // with version > v — a pure equi anti join per part, no version
    // columns, no aggregation, and parts newer than every live tombstone
    // (the common case: fresh segments) take NO join at all.
    val delsByV = m.segments.filter(m.dels.contains)
      .map(v => v -> spark.read.parquet(s"$dir/seg/v=$v/del"))
    def killed(part: DataFrame, partV: Long): DataFrame =
      delsByV.filter(_._1 > partV).map(_._2) match {
        case Nil => part
        case ds => part.join(
          broadcast(ds.reduce(_ unionByName _).withColumnRenamed("id", "_kid")),
          col(idCol) === col("_kid"), "left_anti")
      }
    val segs = m.segments.map(v =>
      killed(spark.read.parquet(s"$dir/seg/v=$v/$sub"), v))
    // base rows predate every live tombstone (compaction folded earlier
    // ones away): sentinel version -1
    val base = m.base.map(v => killed(
      baseDrop.foldLeft(spark.read.parquet(s"$dir/base/v=$v/$sub"))(_ drop _),
      -1L))
    (base.toSeq ++ segs) match {
      case Nil => throw new IllegalStateException(s"empty manifest at $dir")
      case parts => parts.reduce(_ unionByName _)
    }
  }

  /** Recursive delete of superseded `v=<n>` children under `dir/<sub>`
    * for each sub in `subs`, keeping exactly the versions in `keep` —
    * the shared sliver-artifact vacuum ([[StreamingDedup]] labels/pairs,
    * [[StreamingCentroids]] labels/sums/pairs). */
  def vacuumVersioned(spark: SparkSession, dir: String, subs: Seq[String],
      keep: Set[Long]): Unit = {
    val f = fs(spark, dir)
    val Plain = """v=(\d+)""".r
    for (sub <- subs) {
      val p = if (sub.isEmpty) new Path(dir) else new Path(s"$dir/$sub")
      if (f.exists(p))
        for (st <- f.listStatus(p); c = st.getPath)
          c.getName match {
            case Plain(n) if !keep.contains(n.toLong) => f.delete(c, true)
            case _ => ()
          }
    }
  }

  /** The manifest versions a `retain`-window vacuum keeps: the newest
    * `retain` distinct versions, always including the pointer's. */
  def retainedVersions(spark: SparkSession, dir: String,
      retain: Int): Set[Long] = {
    require(retain >= 1, s"retain must be >= 1: $retain")
    StatePointer.read(spark, dir).fold(Set.empty[Long]) { v =>
      val f = fs(spark, dir)
      val mp = new Path(s"$dir/manifest")
      val allVersions =
        if (!f.exists(mp)) Seq(v)
        else f.listStatus(mp).toSeq.flatMap(_.getPath.getName match {
          case ManifestName(mv, _) => Some(mv.toLong)
          case _ => None
        }).distinct.sorted
      allVersions.takeRight(retain).toSet + v
    }
  }

  /** Minor-vs-major decision for a segmented state at its count trigger:
    * `Some(tailRun)` when a MINOR fold applies — the trailing del-less
    * run (ending at the current batch) that can fold into one segment
    * without moving any row across a tombstone boundary. A major is due
    * instead when no base exists yet, accumulated segment bytes reach
    * `majorRatio` × base bytes, or the tail run is too short to reduce
    * the segment count. */
  def minorPlan(spark: SparkSession, dir: String, appended: Manifest,
      majorRatio: Double): Option[Seq[Long]] = {
    if (appended.base.isEmpty) return None
    val tailRun = appended.segments.reverse
      .takeWhile(v => !appended.dels.contains(v)).reverse
    if (tailRun.size < 2) return None
    if (segBytesDue(spark, dir, appended, majorRatio)) None else Some(tailRun)
  }

  /** Whether accumulated segment bytes have reached `majorRatio` × base
    * bytes — the deltas-are-no-longer-small trigger that forces a MAJOR
    * over any minor fold. */
  private[streaming] def segBytesDue(spark: SparkSession, dir: String,
      appended: Manifest, majorRatio: Double): Boolean = {
    val f = fs(spark, dir)
    def du(p: String): Long = {
      val path = new Path(p)
      if (!f.exists(path)) 0L else f.getContentSummary(path).getLength
    }
    val baseBytes = appended.base.fold(0L)(b => du(s"$dir/base/v=$b"))
    val segBytes = appended.segments.map(v => du(s"$dir/seg/v=$v")).sum
    segBytes >= majorRatio * baseBytes
  }

  /** Tombstone-run minor plan — the erasure-sweep companion to
    * [[minorPlan]]: `Some(run)` when the TRAILING segments (ending at the
    * current, still-uncommitted batch) are all PURE tombstones (del side
    * present, add side empty — the manifest's `pure` set), so their del
    * sides may fold into ONE del segment at the current batch's version.
    * Legal because no adds interleave inside the run: the tombstone union
    * subtracts from exactly the state that preceded the run, preserving
    * version order, and the union's doc sets are disjoint (a doc cannot
    * be tombstoned twice without a re-ingest between, which would be an
    * add). Ending at the current batch is what makes the fold crash-safe:
    * it writes only into the uncommitted `seg/v=<batchId>` dir
    * ([[swapIn]]) — a fold that rewrote a committed run member's dir
    * could brick the previous manifest on a crash. Same byte guard as
    * [[minorPlan]]: once accumulated tombstones reach `majorRatio` ×
    * base, a major is genuinely due. */
  def delRunPlan(spark: SparkSession, dir: String, appended: Manifest,
      majorRatio: Double, batchId: Long): Option[Seq[Long]] = {
    if (appended.base.isEmpty) return None
    val run = appended.segments.reverse
      .takeWhile(v => appended.pure.contains(v)).reverse
    if (run.size < 2 || !run.lastOption.contains(batchId)) return None
    if (segBytesDue(spark, dir, appended, majorRatio)) None else Some(run)
  }

  /** The post-tombstone-run-fold manifest: the folded run collapses to
    * the current batch's segment, which stays marked del and pure. */
  def afterDelRun(appended: Manifest, run: Seq[Long],
      batchId: Long): Manifest =
    appended.copy(
      segments = appended.segments.filterNot(v =>
        run.contains(v) && v != batchId),
      dels = appended.dels -- run + batchId,
      pure = appended.pure -- run + batchId)

  /** Stage-and-swap a minor-fold result over `seg/v=<batchId>/<sub>` —
    * never read and overwrite the same path in one job. The v=<batchId>
    * dir is uncommitted (no manifest references it yet), so a crash at
    * any point replays the batch and redoes the fold. */
  def swapIn(df: org.apache.spark.sql.DataFrame, dir: String,
      batchId: Long, sub: String): Unit = {
    val f = fs(df.sparkSession, dir)
    val staged = s"$dir/seg/v=$batchId/.${sub}_minor"
    df.write.mode("overwrite").parquet(staged)
    val dst = new Path(s"$dir/seg/v=$batchId/$sub")
    f.delete(dst, true)
    if (!f.rename(new Path(staged), dst))
      throw new java.io.IOException(s"minor-compaction rename failed: $dst")
  }

  /** The post-minor manifest: the folded tail run collapses to the
    * current batch's segment, everything else unchanged. */
  def afterMinor(appended: Manifest, tailRun: Seq[Long],
      batchId: Long): Manifest =
    appended.copy(segments = appended.segments.filterNot(v =>
      tailRun.contains(v) && v != batchId))

  /** One fsck finding: `level` is "error" (the state cannot serve — a
    * referenced dir is missing/unreadable, the manifest does not parse)
    * or "info" (expected debris — orphan dirs a crash or compaction left
    * behind, reclaimable by [[vacuum]]). */
  case class Finding(level: String, what: String, detail: String)

  /** Integrity report for a segmented state directory — the operational
    * companion to [[vacuum]]: run it before trusting a state dir after a
    * crash, a partial copy, or a manual intervention. Checks are
    * STRUCTURAL and cheap (FS listings + parquet footer of each
    * referenced leaf dir; never a data scan):
    *
    *  - the `_LATEST` marker set is non-empty and the max version's
    *    manifest exists and parses;
    *  - every dir the manifest references (segments, del sides, base)
    *    exists and its parquet reads a schema;
    *  - unreferenced `v=*` dirs are classified as vacuum-reclaimable
    *    debris (info), never as corruption — a crash between segment
    *    write and pointer advance legally leaves them.
    *
    * Returns findings (empty = healthy); never throws on a sick state —
    * the report IS the result. */
  def fsck(spark: SparkSession, dir: String): Seq[Finding] = {
    val f = fs(spark, dir)
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    def schemaOk(p: Path): Boolean =
      try { spark.read.parquet(p.toString).schema; true }
      catch { case _: Throwable => false }
    // leaf artifact dirs = dirs that directly contain data files
    def leaves(p: Path): Seq[Path] = {
      if (!f.exists(p)) return Nil
      val (dirs, files) = f.listStatus(p).toSeq.partition(_.isDirectory)
      val dataHere = files.exists(s => !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      // hive-partitioned bases nest one more level (b=*/cell=*): treat
      // the partitioned root as the leaf — spark reads it whole
      if (dataHere || dirs.exists(_.getPath.getName.contains("=")))
        Seq(p)
      else dirs.flatMap(s => leaves(s.getPath))
    }
    StatePointer.read(spark, dir) match {
      case None =>
        if (f.exists(new Path(s"$dir/seg")) || f.exists(new Path(s"$dir/base")))
          out += Finding("error", "pointer",
            "state dirs exist but no _LATEST marker — nothing is committed")
      case Some(v) =>
        val m = try Some(readManifest(spark, dir, v)) catch {
          case e: Throwable =>
            out += Finding("error", "manifest",
              s"manifest for committed v=$v unreadable: ${e.getMessage}")
            None
        }
        m.foreach { man =>
          def check(p: String, what: String): Unit = {
            val path = new Path(p)
            if (!f.exists(path))
              out += Finding("error", what, s"referenced dir missing: $p")
            else leaves(path) match {
              case Nil => out += Finding("error", what, s"no data files under: $p")
              case ls => for (l <- ls if !schemaOk(l))
                out += Finding("error", what, s"parquet unreadable: $l")
            }
          }
          man.segments.foreach(s => check(s"$dir/seg/v=$s", "segment"))
          man.dels.foreach(s => check(s"$dir/seg/v=$s/del", "tombstones"))
          man.base.foreach(b => check(s"$dir/base/v=$b", "base"))
          // unreferenced version dirs: crash debris or pre-vacuum state
          val retained = retainedVersions(spark, dir, 1)
          val manifests = retained.toSeq.sorted
            .flatMap(rv => scala.util.Try(readManifest(spark, dir, rv)).toOption)
          val liveSegs = manifests.flatMap(_.segments).toSet
          val liveBases = manifests.flatMap(_.base).toSet
          val Plain = """v=(\d+)""".r
          def orphans(sub: String, live: Set[Long]): Unit = {
            val p = new Path(s"$dir/$sub")
            if (f.exists(p))
              for (st <- f.listStatus(p)) st.getPath.getName match {
                case Plain(n) if !live.contains(n.toLong) =>
                  out += Finding("info", "orphan",
                    s"unreferenced $sub/v=$n — reclaimable by vacuum")
                case _ => ()
              }
          }
          orphans("seg", liveSegs)
          orphans("base", liveBases)
        }
    }
    out.toSeq
  }

  /** Delete every state dir that none of the `retain` most recent
    * manifests references: superseded bases, compacted-away segments,
    * stale manifests, and — when `withStats` — stale `stats/v=*`
    * sidecars.
    *
    * `retain` > 1 is the concurrent-reader grace window: a reader that
    * resolved pointer → manifest keeps its (lazy, not-yet-executed) plan
    * servable as long as that manifest stays within the retained window —
    * the reason production merge-on-read formats vacuum with a retention
    * period, not to the live snapshot. `retain` = 1 (default) reclaims
    * everything but the current view; use it when the writer is the only
    * process touching the state, or readers materialize eagerly. The
    * failure mode is PINNED (StreamingIndexSpec): a reader whose manifest
    * fell out of the window fails LOUDLY at its next fresh execution
    * (missing files) — it never silently serves a partial view, because
    * every part the plan references is either fully present or listed
    * from a dir the vacuum removed wholesale. */
  def vacuum(spark: SparkSession, dir: String, withStats: Boolean,
      retain: Int = 1): Unit =
    StatePointer.read(spark, dir).foreach { v =>
      val f = fs(spark, dir)
      val kept = retainedVersions(spark, dir, retain)
      val manifests = kept.toSeq.sorted.map(readManifest(spark, dir, _))
      val liveSegs = manifests.flatMap(_.segments).toSet
      val liveBases = manifests.flatMap(_.base).toSet
      def children(sub: String): Seq[Path] = {
        val p = new Path(s"$dir/$sub")
        if (!f.exists(p)) Nil else f.listStatus(p).toSeq.map(_.getPath)
      }
      def ver(p: Path): Option[Long] =
        p.getName match {
          case ManifestName(mv, _) => Some(mv.toLong)
          case other => other.split("=", 2) match {
            case Array("v", n) => scala.util.Try(n.toLong).toOption
            case _ => None
          }
        }
      for (p <- children("seg"); sv <- ver(p); if !liveSegs.contains(sv))
        f.delete(p, true)
      for (p <- children("base"); bv <- ver(p); if !liveBases.contains(bv))
        f.delete(p, true)
      for (p <- children("manifest"); mv <- ver(p); if !kept.contains(mv))
        f.delete(p, true)
      if (withStats)
        for (p <- children("stats"); sv <- ver(p); if !kept.contains(sv))
          f.delete(p, true)
    }
}
