package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.{GraftConfig, Main}

/** The measured process: one JVM that runs the shipped daemon
  * ([[Main.runSupervised]] → [[Main.start]]: file source →
  * `StreamingPipeline.transform` → `AmplitudeSink`, checkpoint commit as the
  * ack) on a pre-rendered input, with a [[BenchPoster]] in place of the
  * network and the workload's trigger.
  *
  * Timeline: launch (JVM start) → first committed micro-batch (`setup_s`) →
  * `warm_batches` more batches → the window → end. CPU, GC and JIT are read
  * at both window edges, which are commits, so a window holds whole
  * micro-batches. A drain's (`trigger_ms=0`, AvailableNow) window closes at
  * the commit that acks the whole backlog; the open loop's (`steady=1`) at
  * the first commit that ends at least `seconds` after the window opened
  * and at least two batches with input into it. The open loop's generator
  * thread publishes staged files on a fixed schedule from the first commit
  * until the window closes; the daemon stops then, and what it had not
  * acked is in flight (`source.unacked_envelopes`), not expected by the
  * delivery gate.
  *
  * Prints one line `GRAFTBENCH {json}` on stdout with the gate verdict, the
  * end-to-end metrics and, with `trace=1`, the per-layer metrics.
  */
object DaemonBench {

  private val HmacKey = "bench-hmac-key"

  final case class Snap(atMs: Double, cpuNs: Long, gcMs: Long, jitMs: Long, heapMb: Double)

  /** CPU, GC and JIT are read before the forced GC (`gc = true`, for the
    * heap figure), so that GC is not charged to the window. */
  private def snap(gc: Boolean): Snap = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val s = Snap(Spool.nowMs(), os.getProcessCpuTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime, Double.NaN)
    if (!gc) s
    else {
      System.gc()
      s.copy(heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    }
  }

  /** A committed micro-batch as the listener saw it. */
  final case class Batch(p: StreamingQueryProgress, startMs: Double, endMs: Double, cumRows: Long) {
    def id: Long = p.batchId
    def rows: Long = p.numInputRows
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def observed(name: String, field: String): Long =
      Option(p.observedMetrics.get(name)).map(r => r.getAs[Long](field)).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val input = new File(a("input"))
    val run = new File(a("run"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val steady = a("steady") == "1"
    val warm = a("warm_batches").toInt
    val limitMs = a("limit_ms").toDouble
    val gapMs = a("gap_us").toDouble / 1000.0
    val perFile = a("per_file").toInt
    val lines = new String(Files.readAllBytes(new File(input, "manifest.tsv").toPath),
      StandardCharsets.US_ASCII).split('\n').filter(_.nonEmpty).map(_.split('\t')(1).toInt)
    val types = Files.readAllBytes(new File(input, "types.bin").toPath)
    val n = types.length
    run.mkdirs()
    Spool.open(new File(run, "posts.bin"))

    // built the way Main.main builds it
    val b = SparkSession.builder().appName("graft-amplitude-send")
      .config("spark.sql.session.timeZone", "UTC")
    sys.env.get("GRAFT_MASTER").orElse(Some("local[*]"))
      .foreach(m => if (!sys.props.contains("spark.master")) b.master(m))
    val spark = b.getOrCreate()
    val stages = new StageRecorder
    if (trace) spark.sparkContext.addSparkListener(stages)

    val srcDir = if (steady) new File(run, "src") else new File(input, "files")
    srcDir.mkdirs()
    val totalLines = lines.map(_.toLong).sum
    val batches = new ConcurrentLinkedQueue[Batch]()
    val opened = new CountDownLatch(1)
    val drained = new CountDownLatch(1)
    @volatile var setupEndMs = Double.NaN
    @volatile var w0: Snap = null
    @volatile var w1: Snap = null
    @volatile var committed = 0L
    @volatile var winBatches = 0
    def closeWindow(end: Double): Unit = synchronized {
      if (w1 == null) { w1 = snap(gc = true).copy(atMs = end); drained.countDown() }
    }

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val end = start + p.durationMs.get("triggerExecution").toDouble
        committed += p.numInputRows
        batches.add(Batch(p, start, end, committed))
        if (setupEndMs.isNaN && p.numInputRows > 0) setupEndMs = end
        if (p.batchId == warm) { w0 = snap(gc = false).copy(atMs = end); opened.countDown() }
        if (p.batchId > warm && p.numInputRows > 0) winBatches += 1
        if (w0 != null && (if (steady) winBatches >= 2 && end - w0.atMs >= seconds * 1000.0
            else committed >= totalLines))
          closeWindow(end)
      }
    })

    val cfg = GraftConfig(amplitudeApiKey = "bench-api-key", hmacKey = HmacKey,
      maxEventsPerBatch = a("max_events").toInt, sourceDir = srcDir.getPath,
      checkpointDir = new File(run, "checkpoint").getPath)
    val poster = new BenchPoster(a("post_delay_ms").toLong, a("drop_one") == "1")
    val trigger =
      if (a("trigger_ms").toLong == 0) Trigger.AvailableNow()
      else Trigger.ProcessingTime(a("trigger_ms").toLong)
    @volatile var failure: Throwable = null
    val daemon = new Thread(() =>
      try Main.runSupervised(spark, cfg, poster, trigger, maxRestarts = 0)
      catch { case t: Throwable => failure = t; opened.countDown(); drained.countDown() })

    // open loop: file 0 is published before launch so the first micro-batch
    // (set-up) has input; the schedule starts when that batch commits, and
    // file k is published when its last event is due
    val gen = new Generator(new File(run, "stage"), srcDir, lines, perFile, n, gapMs)
    if (steady) gen.publish(0)
    daemon.start()
    var t0 = 0.0
    if (steady) {
      val deadline = System.nanoTime() + 90e9.toLong
      while (setupEndMs.isNaN && failure == null && System.nanoTime() < deadline) Thread.sleep(5)
      t0 = Spool.nowMs() - gen.dueMs(0.0, 0)
      gen.start(t0)
    }

    if (!opened.await(90, TimeUnit.SECONDS)) failure = new RuntimeException("no warm-up")
    if (failure == null && !drained.await(90, TimeUnit.SECONDS))
      failure = new RuntimeException(if (steady) "window did not close" else "backlog not acked")
    if (steady) {
      gen.stopAt = Spool.nowMs()
      gen.join()
    }
    spark.streams.active.foreach(_.stop())
    daemon.join(30000L)
    val windowStart = if (w0 == null) Double.NaN else w0.atMs
    val windowEnd = if (w1 == null) Double.NaN else w1.atMs
    if (failure != null) {
      println("GRAFTBENCH " + Json(Map("ok" -> false, "error" -> String.valueOf(failure))))
      spark.stop()
      sys.exit(3)
    }

    // ---- after the window: gate, latency, metrics ----
    // expected: the events of every file the daemon acked (files are taken
    // whole, in publish order); deliveries from a batch cut short by the stop
    // are in flight, not errors
    val ackedFiles = lines.scanLeft(0L)(_ + _).indexWhere(_ >= committed) match {
      case -1 => lines.length
      case k => k
    }
    val published = math.min(ackedFiles.toLong * perFile, n.toLong).toInt
    val gate = new Gate(types, published)
    // batch, start, end, bytes, records, body hash
    val posts = mutable.ArrayBuffer.empty[(Long, Double, Double, Int, Long, Int)]
    Spool.replay { p =>
      val before = gate.records
      gate.add(p)
      posts += ((p.batch, p.startMs, p.endMs, p.body.length, gate.records - before,
        java.util.Arrays.hashCode(p.body)))
    }
    val v = gate.verdict()

    val all = batches.asScala.toVector.sortBy(_.id)
    val inWin = all.filter(x => x.id > warm && x.endMs <= windowEnd + 1e-6 && x.rows > 0)
    val batchStart = all.map(x => x.id -> x.startMs).toMap
    val winIds = inWin.map(_.id).toSet
    val lat = mutable.ArrayBuffer.empty[Double]
    var winExpected = 0L
    var onTime = 0L
    var id = 0
    while (id < published) {
      if (gate.valid(id)) {
        val k = id
        val due = t0 + k * gapMs
        // delivered by a window batch, or never (a missing event is late)
        val inSet = gate.firstBatch(k) < 0 || winIds.contains(gate.firstBatch(k))
        if (inSet) {
          winExpected += 1
          val end = gate.firstEndMs(k)
          if (!end.isNaN) {
            val l = end - (if (steady) due else batchStart(gate.firstBatch(k)))
            lat += l
            if (l <= limitMs) onTime += 1
          }
        }
      }
      id += 1
    }
    val winMs = windowEnd - windowStart
    val winRows = inWin.map(_.rows).sum
    val winOut = inWin.map(_.observed("batch", "output_count")).sum
    val kev = winOut / 1000.0
    val trig = inWin.map(_.d("triggerExecution"))
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "envelopes_per_s" -> (winRows / (winMs / 1000.0), "1/s"),
      "batch_ms_p50" -> (pct(trig, 50), "ms"),
      "delivery_latency_p50_ms" -> (pct(lat, 50), "ms"),
      "delivery_latency_p99_ms" -> (pct(lat, 99), "ms"),
      "on_time_event_share" -> (onTime.toDouble / math.max(1L, winExpected), "share"),
      "delivered_event_share" -> (v.share, "share"),
      "cpu_ms_per_kevent" -> ((w1.cpuNs - w0.cpuNs) / 1e6 / kev, "ms"),
      "heap_after_gc_mb" -> (w1.heapMb, "MB"),
      "setup_s" -> ((setupEndMs - launchMs) / 1000.0, "s"))

    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    val notes = mutable.LinkedHashMap[String, Any](
      "window_batches" -> inWin.size, "window_ms" -> winMs, "latency_samples" -> lat.size,
      "expected" -> v.expected, "missing" -> v.missing, "duplicates" -> v.duplicates,
      "unexpected" -> v.unexpected, "in_flight" -> gate.inFlight, "batches_total" -> all.size)
    val pubLines = if (steady) lines.take(gen.published).map(_.toLong).sum else totalLines
    notes("unacked") = pubLines - committed
    if (steady) notes("generator_late_ms_max") = gen.lateMs.max
    if (trace) {
      val ctx = Layers.Ctx(spark, all, inWin, posts.toVector, stages, w0, w1, kev, winRows,
        input, perFile, lines, gapMs, steady, t0, gen, HmacKey,
        lines.take(ackedFiles).map(_.toLong).sum - published)
      Layers.compute(ctx, layer, new File(a("trace_out")))
    }
    spark.stop()
    println("GRAFTBENCH " + Json(Map(
      "ok" -> true, "correct" -> v.correct, "attempted" -> v.expected,
      "failed" -> (v.expected - v.exactlyOnce + v.unexpected),
      "e2e" -> e2e.map { case (k, (x, u)) => k -> Map("value" -> x, "unit" -> u) }.toMap,
      "layer" -> layer.map { case (k, (x, u)) => k -> Map("value" -> x, "unit" -> u) }.toMap,
      "notes" -> notes.toMap)))
    sys.exit(0)
  }

  /** Linear-interpolated percentile (NaN when empty). */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = (s.length - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** Stage and job records from the SparkListener (traced runs only). */
  final class StageRecorder extends SparkListener {
    final case class Job(id: Int, batch: Long, startMs: Long, var endMs: Long, stageIds: Seq[Int])
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val b = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId, b, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
  }

  /** Open-loop publisher: renames staged file k into the source directory
    * when its last event is due, and records how late that rename ran. */
  final class Generator(stage: File, src: File, lines: Array[Int], perFile: Int, n: Int,
      gapMs: Double) {
    @volatile var stopAt = Double.PositiveInfinity
    @volatile var published = 0
    val lateMs = mutable.ArrayBuffer(0.0)
    val publishedAtMs = mutable.ArrayBuffer.empty[Double]
    private var thread: Thread = _
    def dueMs(t0: Double, k: Int): Double = t0 + (math.min((k + 1L) * perFile, n.toLong) - 1) * gapMs
    /** Renames staged file k into the source. */
    def publish(k: Int): Unit = {
      val name = f"part-$k%06d.txt"
      Files.move(new File(stage, name).toPath, new File(src, name).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      publishedAtMs += Spool.nowMs()
      published = k + 1
    }
    def start(t0: Double): Unit = {
      thread = new Thread(() => {
        var k = published
        while (k < lines.length && dueMs(t0, k) <= stopAt) {
          val due = dueMs(t0, k)
          var wait = due - Spool.nowMs()
          while (wait > 0) {
            Thread.sleep(math.max(1L, math.min(50L, wait.toLong)))
            wait = due - Spool.nowMs()
          }
          publish(k)
          lateMs += publishedAtMs.last - due
          k += 1
        }
      })
      thread.setDaemon(true)
      thread.start()
    }
    def join(): Unit = thread.join()
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
