package graft.sources

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted derived artifacts for the steady-state operators.
  *
  * Every incremental/prebuilt catalog row (`q_dedup_incr_prebuilt`,
  * `q_semantic_dedup_prebuilt`, `q_bm25_indexed`, `q_index_incr`,
  * `q_embed_centroids_incr`, …) consumes an artifact that in production
  * is PERSISTED — an inverted index, a codebook, a band table — and the
  * operator's value is that the probe pass never re-derives it. Building
  * the artifact inline per run (the pre-r8 form) kept correctness honest
  * but made the bench measure rebuild+probe, so the steady-state cost
  * claims rested on specs alone.
  *
  * [[table]] splits the two concerns by mode:
  *
  *  - '''bench mode''' (`graft.artifact.dir` system property set — only
  *    [[graft.Bench]] sets it, pointing into `target/`): the first call
  *    writes the built frame to parquet under the root and every later
  *    call reads the parquet back. The probe plan then genuinely starts
  *    at a FileScan — the build lineage is gone, pass 1 pays the build,
  *    passes 2+ measure the probe. The root is wiped at bench startup,
  *    so artifacts can never go stale across code changes.
  *  - '''verify / library mode''' (property unset — the driver's
  *    correctness gate, unit specs, user code): the build runs inline
  *    behind a lazy `localCheckpoint` (multi-consumer rows don't
  *    re-derive the subtree per consumer). The gate therefore always
  *    proves maintained-state ≡ full-recompute from scratch; a cached
  *    file can never mask a builder regression.
  *
  * Parquet round-trips long/double/string/array columns bit-exactly, so
  * the two modes are value-identical by construction.
  *
  * [[stateDir]] applies the same split to a streamed row's maintained
  * state: bench mode keeps it under the root (pass 1 folds, later passes
  * serve), verify/library mode folds into a fresh temp dir that the
  * row's release deletes. */
object Artifacts {

  def root: Option[String] = sys.props.get("graft.artifact.dir")

  /** Build-once-read-many (see object doc). `name` keys the artifact
    * within one bench run; rows sharing a name MUST build identical
    * frames (that sharing is the point — one build, many probes).
    * `partitionBy` lays the artifact out hive-partitioned on its probe
    * key (e.g. the IVF index by cell), so a keyed probe prunes to its
    * partitions' files — static pruning for literal keys, dynamic
    * partition pruning under a selective join at cluster scale. */
  def table(spark: SparkSession, name: String,
      partitionBy: Seq[String] = Nil)(build: => DataFrame): DataFrame =
    root match {
      case None => build.localCheckpoint(eager = false)
      case Some(r) =>
        val path = s"$r/$name"
        if (!new File(path, "_SUCCESS").exists()) {
          // cluster on the partition keys first: an unclustered
          // partitioned write emits up to tasks × |values| sliver files,
          // defeating the pruned probe the layout exists for
          val clustered =
            if (partitionBy.isEmpty) build
            else build.repartition(
              partitionBy.map(org.apache.spark.sql.functions.col): _*)
          val w = clustered.write.mode("overwrite")
          (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
            .parquet(path)
        }
        spark.read.parquet(path)
    }

  // Verify-mode state dirs handed out since the last release.
  private val liveState = new java.util.concurrent.ConcurrentLinkedQueue[File]()
  // A row built without a release (a spec that only collects it) still
  // leaves no state behind once the JVM exits.
  private lazy val exitHook: Unit = sys.addShutdownHook(releaseState()): Unit

  /** The directory a streamed catalog row folds its state `name` into —
    * the one place that picks it.
    *
    *  - '''bench mode''': `<root>/<name>`. It outlives the row: pass 1
    *    folds, later passes find the pointer at the final batch and serve
    *    ([[graft.streaming.Redrive]]); rows naming the same state share
    *    one fold. [[wipe]] deletes it with the rest of the root.
    *  - '''verify / library mode''': a fresh `graft_<name>*` temp dir per
    *    call, so every build folds from scratch. [[releaseState]] deletes
    *    it — the per-row release [[graft.ops.Prefix.releaseAll]] runs
    *    that after the row's action — or JVM exit does, if no release
    *    comes. */
  def stateDir(name: String): String = root match {
    case Some(r) => s"$r/$name"
    case None =>
      exitHook
      val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
      liveState.add(d)
      d.getPath
  }

  /** Deletes every verify-mode [[stateDir]] handed out since the last
    * release. Same timing rule as [[graft.ops.Prefix.releaseAll]]: call
    * it only once every action over the rows that folded into them has
    * ended. */
  def releaseState(): Unit = {
    var d = liveState.poll()
    while (d != null) {
      rm(d)
      d = liveState.poll()
    }
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** Recursive delete of the artifact root — bench startup hygiene.
    * Refuses roots that don't name an artifact directory: this is a
    * recursive delete driven by a configurable property, so a typo'd
    * root ("/", a home dir) must fail loudly, not be obeyed. */
  def wipe(): Unit = root.foreach { r =>
    require(new File(r).getAbsolutePath.contains("artifact"),
      s"refusing to recursively delete '$r': artifact roots must contain " +
        "'artifact' in their path")
    rm(new File(r))
  }
}
