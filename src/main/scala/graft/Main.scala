package graft

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.sink.AmplitudeSink
import graft.streaming.StreamingPipeline

/** O15 — the runnable daemon: the engine form of the reference's `main()`
  * loop (`synchronous-pull.js:23-109`).
  *
  * Mapping:
  *   - env validation → [[GraftConfig.fromEnv]] (fatal, lists ALL missing
  *     vars; reference `startup.error`, `synchronous-pull.js:18-21`)
  *   - pull loop with MAX_EVENTS_PER_BATCH → micro-batch trigger with
  *     `maxFilesPerTrigger` = `maxEventsPerBatch` (`synchronous-pull.js:31-34,44`):
  *     it caps the FILES (pulls) per trigger, not the events; each file
  *     holds many envelopes. The same value caps the events per POST body.
  *   - transform + send + retry → [[StreamingPipeline]] / [[AmplitudeSink]]
  *   - ack → checkpoint commit after a successful `foreachBatch`
  *   - `events.processed` per-batch log (`synchronous-pull.js:94-101`) →
  *     [[Main.ProgressLogger]] over `observedMetrics`, registered once per
  *     session however often the stream restarts
  *   - SIGINT/SIGTERM graceful stop (`synchronous-pull.js:36-42,107-109`) →
  *     JVM shutdown hook calling `query.stop()`; the current micro-batch
  *     finishes (and acks) before the process exits, matching the
  *     reference's finish-current-iteration semantics.
  *
  * Session defaults ([[sessionDefaults]]): the daemon runs with three
  * settings of its own, each only where the caller's session does not set
  * the key (an explicit setting always wins, and the caller's conf is
  * never changed):
  *   - state partitions: the insert_id dedup state is split into
  *     `spark.sql.shuffle.partitions` partitions, and Spark fixes that
  *     count in a checkpoint's offset log at its first start; every restart
  *     resumes with the recorded count. A NEW checkpoint gets the task slots
  *     (`defaultParallelism`): Spark's default of 200 partitions costs a
  *     task, a state-store commit and a POST body per partition per
  *     micro-batch, whatever the state's size. On a cluster, set
  *     `spark.sql.shuffle.partitions` (or `spark.default.parallelism`)
  *     before the first start: executors may not have registered yet when
  *     `defaultParallelism` is read.
  *   - listing threshold: see [[StreamingPipeline.readEnvelopes]].
  *   - checkpoint file manager: a checkpoint on the local filesystem is
  *     written through Hadoop's FileSystem API
  *     (`FileSystemBasedCheckpointFileManager`) instead of Spark's default
  *     FileContext one. Hadoop without its native library (libhadoop)
  *     forks `readlink` for every local stat, and FileContext's rename
  *     stats the source, the destination and both `.crc` twins first:
  *     about 90 forks per micro-batch, all paid in the commit that acks
  *     it. The FileSystem API renames with one POSIX rename and stats
  *     without a shell; one `chmod` fork per file create remains. No
  *     rename atomicity is lost: FileContext's local rename is itself
  *     check-then-rename ("deals with overwrite in a non-atomic way").
  *     The files on disk are the same (deltas, Spark's checksum sidecars,
  *     Hadoop's `.crc` files), so a checkpoint resumes under either
  *     manager. HDFS and object stores keep FileContext.
  */
object Main {

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.fromEnv() // throws with the full missing-var list
    val b = SparkSession.builder()
      .appName("graft-amplitude-send")
      .config("spark.sql.session.timeZone", "UTC")
    // master normally comes from spark-submit; GRAFT_MASTER covers bare runs
    sys.env.get("GRAFT_MASTER").orElse(Some("local[*]"))
      .foreach(m => if (!sys.props.contains("spark.master")) b.master(m))
    val spark = b.getOrCreate()
    runSupervised(spark, cfg)
  }

  @volatile private var shuttingDown = false

  /** The reference's error-and-continue loop (`pubsub.pull.error`,
    * `synchronous-pull.js:45-51`: a failed pull is logged and the loop
    * continues): a failed stream is logged and restarted from the
    * checkpoint after a backoff — unsent batches were never committed, so
    * the source redelivers and insert_id dedup neutralizes any partial
    * delivery. `maxRestarts < 0` = restart forever (the daemon form);
    * tests pass a bound. Returns the number of restarts consumed. */
  def runSupervised(spark: SparkSession, cfg: GraftConfig,
      poster: AmplitudeSink.Poster = AmplitudeSink.HttpPoster,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxRestarts: Int = -1, restartBackoffMs: Long = 5000L): Int = {
    var restarts = 0
    var query = start(spark, cfg, poster, trigger)
    val hook = new Thread(() => {
      shuttingDown = true
      log.info("""{"type":"shutdown","msg":"stopping stream"}""")
      try query.stop() catch { case _: Exception => () }
    })
    Runtime.getRuntime.addShutdownHook(hook)
    try {
      var done = false
      while (!done) {
        try {
          query.awaitTermination() // normal stop or AvailableNow completion
          done = true
        } catch {
          case e: Exception if !shuttingDown &&
              (maxRestarts < 0 || restarts < maxRestarts) =>
            restarts += 1
            // first line only: Spark appends the full logical plan to
            // streaming exceptions — that belongs in debug logs, not the
            // structured error channel
            val msg = String.valueOf(e.getMessage).takeWhile(_ != '\n').take(400)
            log.warn(s"""{"type":"stream.error","restart":$restarts,"error":${
              "\"" + msg.replace("\\", "\\\\").replace("\"", "\\\"") + "\""}}""")
            Thread.sleep(restartBackoffMs)
            query = start(spark, cfg, poster, trigger)
        }
      }
      restarts
    } finally {
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () } // JVM already exiting
    }
  }

  /** Compose config → source → transform → sink and start the stream.
    * `poster`/`trigger` are injectable for tests (recording transport,
    * `Trigger.AvailableNow`). [[ProgressLogger]] is added to
    * `spark.streams` only if it is not there yet: the listener bus keeps
    * duplicates, and [[runSupervised]] calls this on every restart.
    * Two sessions read the [[sessionDefaults]]: the clone the file source
    * is built on (it keeps `sources/0`), and the clone `start()` makes
    * for the query (offset and commit logs, state stores). The defaults
    * are set on the first and only around `start()` on the caller's
    * session, so the caller's conf is unchanged afterwards. */
  def start(spark: SparkSession, cfg: GraftConfig,
      poster: AmplitudeSink.Poster = AmplitudeSink.HttpPoster,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    if (!spark.streams.listListeners().contains(ProgressLogger))
      spark.streams.addListener(ProgressLogger)
    val defaults = sessionDefaults(spark, cfg.checkpointDir)
    val raw = StreamingPipeline.readEnvelopes(spark, cfg.sourceDir,
      maxFilesPerTrigger = Some(cfg.maxEventsPerBatch), conf = defaults)
    val flat = StreamingPipeline.transform(raw, cfg.hmacKey)
    val writer = StreamingPipeline.writer(flat,
      AmplitudeSink.Config(
        apiKey = cfg.amplitudeApiKey,
        maxPerRequest = cfg.maxEventsPerBatch,
        maxRetries = cfg.maxRetries,
        timeoutMs = cfg.httpTimeoutMs,
        poster = poster),
      cfg.checkpointDir, trigger)
    defaults.foreach { case (k, v) => spark.conf.set(k, v) }
    try writer.start() finally defaults.keys.foreach(spark.conf.unset)
  }

  /** The daemon's session defaults (see the object doc) that `spark` does
    * not set explicitly: state partitions at the task slots, the listing
    * threshold at `Int.MaxValue`, and, for a checkpoint on the local
    * filesystem, the FileSystem-based checkpoint file manager. */
  def sessionDefaults(spark: SparkSession, checkpointDir: String): Map[String, String] = {
    val localCheckpoint = new Path(checkpointDir)
      .getFileSystem(GraftBridge.hadoopConf(spark)).isInstanceOf[LocalFileSystem]
    (Seq(
      SQLConf.SHUFFLE_PARTITIONS.key -> spark.sparkContext.defaultParallelism.toString,
      SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key -> Int.MaxValue.toString) ++
      Option.when(localCheckpoint)(GraftBridge.checkpointFileManagerKey ->
        classOf[FileSystemBasedCheckpointFileManager].getName))
      .filterNot { case (k, _) => GraftBridge.confContains(spark, k) }.toMap
  }

  /** The reference's `events.processed` info log per batch
    * (`synchronous-pull.js:94-101`), fed from the `parse`/`batch` observe()
    * counters carried by the pipeline. */
  object ProgressLogger extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val om = e.progress.observedMetrics
      val parse = Option(om.get("parse"))
      val batch = Option(om.get("batch"))
      if (parse.nonEmpty || batch.nonEmpty) {
        def l(r: Option[org.apache.spark.sql.Row], f: String): Long =
          r.map(_.getAs[Long](f)).getOrElse(0L)
        def s(r: Option[org.apache.spark.sql.Row], f: String): String =
          r.flatMap(x => Option(x.getAs[String](f))).getOrElse("")
        log.info(
          s"""{"type":"events.processed"""" +
            s""","minPublishedTime":"${s(parse, "min_publish_time")}"""" +
            s""","maxPublishedTime":"${s(parse, "max_publish_time")}"""" +
            s""","inputCount":${l(parse, "input_count")}""" +
            s""","outputCount":${l(batch, "output_count")}""" +
            s""","invalidCount":${l(parse, "invalid_count")}""" +
            s""","repairedCount":${l(parse, "repaired_count")}}""")
      }
    }
  }
}
