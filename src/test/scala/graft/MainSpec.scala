package graft

import java.nio.file.Files
import java.util.Base64
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** O15 end-to-end: the daemon composition (config → source → transform →
  * sink → ack) driven against the recording transport, including the
  * checkpoint-as-ack restart contract. */
class MainSpec extends SparkTestBase {

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def envelope(uid: String, time: Long): String =
    b64(s"""{"jsonPayload":{"user_id":"$uid","device_id":"d-$uid","event_type":"e","time":$time},""" +
      s""""attributes":{"logging.googleapis.com/timestamp":"2024-01-01T00:00:00.000Z"}}""")

  test("config validation reports ALL missing variables") {
    val e = intercept[IllegalArgumentException] {
      GraftConfig.fromEnv(Map("HMAC_KEY" -> "k"))
    }
    for (v <- Seq("AMPLITUDE_API_KEY", "MAX_EVENTS_PER_BATCH",
        "GRAFT_SOURCE_DIR", "GRAFT_CHECKPOINT_DIR"))
      assert(e.getMessage.contains(v))
    assert(!e.getMessage.contains("HMAC_KEY"))
  }

  test("supervisor restarts a failed stream; redelivery completes the send") {
    val src = Files.createTempDirectory("graft-sv-src").toFile
    val ckpt = Files.createTempDirectory("graft-sv-ckpt").toFile
    val cfg = GraftConfig(
      amplitudeApiKey = "key-sv", hmacKey = "graft-test-key",
      maxEventsPerBatch = 10, sourceDir = src.getAbsolutePath,
      checkpointDir = ckpt.getAbsolutePath, maxRetries = 0)
    Files.writeString(new java.io.File(src, "b.txt").toPath, envelope("u9", 900) + "\n")
    // first POST fails terminally (maxRetries=0) -> query fails -> the
    // supervisor restarts from the uncommitted checkpoint -> redelivery
    // succeeds on the now-healthy transport
    FlakyPoster.reset(failures = 1)
    val restarts = Main.runSupervised(spark, cfg, poster = FlakyPoster,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxRestarts = 3, restartBackoffMs = 50L)
    assert(restarts === 1)
    assert(FlakyPoster.attempts === 2) // the failed POST + the redelivered one
  }

  test("daemon end-to-end: reads, transforms, posts, acks via checkpoint") {
    val src = Files.createTempDirectory("graft-src").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt").toFile
    val cfg = GraftConfig(
      amplitudeApiKey = "key-1", hmacKey = "graft-test-key",
      maxEventsPerBatch = 10, sourceDir = src.getAbsolutePath,
      checkpointDir = ckpt.getAbsolutePath)

    RecordingPoster.reset()
    Files.writeString(new java.io.File(src, "batch1.txt").toPath,
      envelope("u1", 1000) + "\n" + envelope("u2", 2000) + "\n")
    val q1 = Main.start(spark, cfg, poster = RecordingPoster,
      trigger = Trigger.AvailableNow())
    q1.processAllAvailable(); q1.stop()
    // one POST per non-empty partition of the batch (all ≤ maxPerRequest)
    val sent1 = RecordingPoster.bodies.mkString("\n")
    assert(RecordingPoster.bodies.forall(_.startsWith("""{"api_key":"key-1","events":[""")))
    assert(sent1.contains("\"device_id\":\"d-u1\""))
    assert(sent1.contains("\"device_id\":\"d-u2\""))

    // restart with one NEW file: the checkpoint (ack ledger) must prevent
    // re-sending batch1 — only u3 goes out
    RecordingPoster.reset()
    Files.writeString(new java.io.File(src, "batch2.txt").toPath,
      envelope("u3", 3000) + "\n")
    val q2 = Main.start(spark, cfg, poster = RecordingPoster,
      trigger = Trigger.AvailableNow())
    q2.processAllAvailable(); q2.stop()
    val sent2 = RecordingPoster.bodies.mkString("\n")
    assert(sent2.contains("\"device_id\":\"d-u3\""))
    assert(!sent2.contains("\"device_id\":\"d-u1\""))
  }

  private val partitionsKey = SQLConf.SHUFFLE_PARTITIONS.key

  /** A session over the shared context with no explicit shuffle-partition
    * setting, as `Main.main` builds it. */
  private def unsetSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.unset(partitionsKey)
    assert(!GraftBridge.confContains(s, partitionsKey))
    s
  }

  /** A fresh source holding one file (user u1) and a fresh checkpoint. */
  private def daemonDirs(tag: String): (java.io.File, GraftConfig) = {
    val src = Files.createTempDirectory(s"graft-$tag-src").toFile
    val ckpt = Files.createTempDirectory(s"graft-$tag-ckpt").toFile
    Files.writeString(new java.io.File(src, "a.txt").toPath, envelope("u1", 1000) + "\n")
    (src, GraftConfig(
      amplitudeApiKey = "key-p", hmacKey = "graft-test-key",
      maxEventsPerBatch = 10, sourceDir = src.getAbsolutePath,
      checkpointDir = ckpt.getAbsolutePath))
  }

  /** Runs an AvailableNow query to its own end, so that every batch's
    * progress has been reported. */
  private def drain(s: SparkSession, cfg: GraftConfig): StreamingQuery = {
    RecordingPoster.reset()
    val q = Main.start(s, cfg, poster = RecordingPoster, trigger = Trigger.AvailableNow())
    q.awaitTermination()
    q
  }

  private def statePartitions(q: StreamingQuery): Set[Long] =
    q.recentProgress.flatMap(_.stateOperators).map(_.numShufflePartitions).toSet

  test("new checkpoint without an explicit setting gets one state partition per task slot") {
    val (_, cfg) = daemonDirs("slots")
    val q = drain(unsetSession(), cfg)
    assert(spark.sparkContext.defaultParallelism !== 200)
    assert(statePartitions(q) === Set(spark.sparkContext.defaultParallelism.toLong))
  }

  test("an explicit spark.sql.shuffle.partitions wins and is left as set") {
    val (_, cfg) = daemonDirs("explicit")
    val s = unsetSession()
    s.conf.set(partitionsKey, "3")
    assert(statePartitions(drain(s, cfg)) === Set(3L))
    assert(s.conf.get(partitionsKey) === "3")
  }

  test("Main.start leaves the caller's session conf unchanged") {
    val (_, cfg) = daemonDirs("restore")
    val s = unsetSession()
    val before = s.conf.getAll
    val q = Main.start(s, cfg, poster = RecordingPoster, trigger = Trigger.AvailableNow())
    try assert(s.conf.getAll === before)
    finally q.awaitTermination()
  }

  test("a checkpoint resumes with the state partition count it was created with") {
    val (src, cfg) = daemonDirs("resume")
    val first = unsetSession()
    first.conf.set(partitionsKey, "7")
    assert(statePartitions(drain(first, cfg)) === Set(7L))
    Files.writeString(new java.io.File(src, "b.txt").toPath, envelope("u2", 2000) + "\n")
    val q = drain(unsetSession(), cfg)
    assert(statePartitions(q) === Set(7L))
    val sent = RecordingPoster.bodies.mkString("\n")
    assert(sent.contains("\"device_id\":\"d-u2\""))
    assert(!sent.contains("\"device_id\":\"d-u1\""))
  }

  test("two starts on one session register ProgressLogger once") {
    val (_, cfg) = daemonDirs("listener")
    val s = spark.newSession()
    drain(s, cfg).stop()
    drain(s, cfg).stop()
    assert(s.streams.listListeners().count(_ eq Main.ProgressLogger) === 1)
  }

  private val thresholdKey = SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key

  /** Drains a 40-file backlog (above the default listing threshold of 32)
    * in one AvailableNow batch through `runSupervised`, checks that every
    * event was posted, and returns how many jobs listed the batch's files
    * in parallel. */
  private def drainBacklog(s: SparkSession, tag: String): Int = {
    val src = Files.createTempDirectory(s"graft-$tag-src").toFile
    val ckpt = Files.createTempDirectory(s"graft-$tag-ckpt").toFile
    val n = 40
    for (i <- 0 until n)
      Files.writeString(new java.io.File(src, f"f$i%02d.txt").toPath,
        envelope(s"u$i", 1000L + i) + "\n")
    val cfg = GraftConfig(
      amplitudeApiKey = "key-l", hmacKey = "graft-test-key",
      maxEventsPerBatch = n, sourceDir = src.getAbsolutePath,
      checkpointDir = ckpt.getAbsolutePath)
    val listings = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files"))) listings.incrementAndGet()
    }
    RecordingPoster.reset()
    spark.sparkContext.addSparkListener(l)
    try {
      assert(Main.runSupervised(s, cfg, poster = RecordingPoster,
        trigger = Trigger.AvailableNow(), maxRestarts = 0) === 0)
      GraftBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    val sent = RecordingPoster.bodies.mkString("\n")
    for (i <- 0 until n) assert(sent.contains(s"\"device_id\":\"d-u$i\""), s"u$i not posted")
    listings.get()
  }

  test("the file source stats a batch's files on the driver: no listing job") {
    val s = spark.newSession()
    assert(!GraftBridge.confContains(s, thresholdKey))
    assert(drainBacklog(s, "stat") === 0)
    assert(!GraftBridge.confContains(s, thresholdKey))
  }

  test("an explicit listing threshold wins and is left as set") {
    val s = spark.newSession()
    s.conf.set(thresholdKey, "8")
    assert(drainBacklog(s, "list") > 0)
    assert(s.conf.get(thresholdKey) === "8")
  }

  private val managerKey = GraftBridge.checkpointFileManagerKey
  private val fileContextManager = classOf[FileContextBasedCheckpointFileManager].getName

  /** Bytes and write operations Hadoop's FileContext API has written to
    * `file:` paths in this JVM so far. Reads are left out: the state-store
    * maintenance thread may still list an earlier query's checkpoint
    * through FileContext while a test runs. */
  private def fileContextWrites(): Long =
    FileContext.getAllStatistics().asScala.collect {
      case (uri, st) if uri.getScheme == "file" => st.getBytesWritten + st.getWriteOps
    }.sum

  /** The checkpoint's files relative to its root, sorted. */
  private def checkpointFiles(cfg: GraftConfig): Seq[String] = {
    val root = java.nio.file.Paths.get(cfg.checkpointDir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSeq.sorted
    finally walk.close()
  }

  test("a local checkpoint is written through the FileSystem API, not FileContext") {
    val (src, cfg) = daemonDirs("fs")
    Files.writeString(new java.io.File(src, "b.txt").toPath, envelope("u2", 2000) + "\n")
    val s = spark.newSession()
    assert(!GraftBridge.confContains(s, managerKey))
    val before = fileContextWrites()
    RecordingPoster.reset()
    assert(Main.runSupervised(s, cfg, poster = RecordingPoster,
      trigger = Trigger.AvailableNow(), maxRestarts = 0) === 0)
    assert(fileContextWrites() === before)
    val sent = RecordingPoster.bodies.mkString("\n")
    assert(sent.contains("\"device_id\":\"d-u1\"") && sent.contains("\"device_id\":\"d-u2\""))
    assert(!GraftBridge.confContains(s, managerKey))
  }

  test("an explicit checkpoint file manager wins and is left as set") {
    val (_, cfg) = daemonDirs("fc")
    val s = spark.newSession()
    s.conf.set(managerKey, fileContextManager)
    val conf = s.conf.getAll
    val before = fileContextWrites()
    drain(s, cfg)
    assert(fileContextWrites() > before)
    assert(s.conf.getAll === conf)
  }

  test("a FileContext-written checkpoint has the same files and resumes under the default") {
    val (_, viaFs) = daemonDirs("same-fs")
    drain(spark.newSession(), viaFs)
    val (src, cfg) = daemonDirs("resume-fc")
    val s = spark.newSession()
    s.conf.set(managerKey, fileContextManager)
    drain(s, cfg)
    assert(checkpointFiles(cfg) === checkpointFiles(viaFs))
    Files.writeString(new java.io.File(src, "b.txt").toPath, envelope("u2", 2000) + "\n")
    val before = fileContextWrites()
    drain(spark.newSession(), cfg)
    assert(fileContextWrites() === before)
    val sent = RecordingPoster.bodies.mkString("\n")
    assert(sent.contains("\"device_id\":\"d-u2\""))
    assert(!sent.contains("\"device_id\":\"d-u1\""))
  }

  /** An envelope whose attributes carry no publish timestamp. */
  private def untimedEnvelope(uid: String, time: Long): String =
    b64(s"""{"jsonPayload":{"user_id":"$uid","device_id":"d-$uid","event_type":"e","time":$time},"attributes":{}}""")

  test("an envelope without a publish time does not make the backlog behind it late") {
    val src = Files.createTempDirectory("graft-untimed-src").toFile
    val ckpt = Files.createTempDirectory("graft-untimed-ckpt").toFile
    // one file per batch, read in modification-time order: the untimed
    // envelope first, then four 2024 envelopes
    val lines = untimedEnvelope("u0", 1000L) +: (1 to 4).map(i => envelope(s"u$i", 1000L + i))
    val t0 = System.currentTimeMillis() - 600000L
    for ((line, i) <- lines.zipWithIndex) {
      val f = new java.io.File(src, s"f$i.txt")
      Files.writeString(f.toPath, line + "\n")
      assert(f.setLastModified(t0 + i * 1000L))
    }
    val cfg = GraftConfig(
      amplitudeApiKey = "key-u", hmacKey = "graft-test-key",
      maxEventsPerBatch = 1, sourceDir = src.getAbsolutePath,
      checkpointDir = ckpt.getAbsolutePath)
    RecordingPoster.reset()
    assert(Main.runSupervised(spark.newSession(), cfg, poster = RecordingPoster,
      trigger = Trigger.AvailableNow(), maxRestarts = 0) === 0)
    val sent = RecordingPoster.bodies.mkString("\n")
    for (i <- 0 to 4) assert(sent.contains(s"\"device_id\":\"d-u$i\""), s"u$i not posted")
  }
}
