package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.etl.{EventEtl, EventParser}
import graft.expr.HmacSha256
import graft.sink.AmplitudeSink

import DaemonBench.{Batch, Generator, Snap, StageRecorder, pct}

/** Per-layer numbers of a traced run, named by module:
  *   - `source`  StreamingPipeline.readEnvelopes (file source)
  *   - `engine`  Main.start's micro-batch loop
  *   - `parse`   EventParser.parse / EventEtl.parsed / HmacSha256.digest
  *   - `dedup`   dropDuplicatesWithinWatermark state in StreamingPipeline.transform
  *   - `sink`    AmplitudeSink.toAmplitudeJson / send / the Poster
  *   - `jvm`     GC and JIT over the window
  *
  * Spans come from the engine's progress reports (phase durations laid out
  * in execution order from the trigger start), the SparkListener (jobs and
  * stages) and the Poster (one span per POST). They are kept in memory and
  * written as JSON at the end. `self.*` splits each window batch's
  * `triggerExecution` along its blocking steps: the result stage's wall time
  * is divided between dedup, serialization and POST by their shares of the
  * stage's task time; `self.unattributed_ms_per_batch` is what is left.
  */
object Layers {

  final case class Ctx(spark: SparkSession, all: Vector[Batch], win: Vector[Batch],
      posts: Vector[(Long, Double, Double, Int, Long, Int)], stages: StageRecorder,
      w0: Snap, w1: Snap, kev: Double, winRows: Long, input: File, perFile: Int,
      lines: Array[Int], gapMs: Double, steady: Boolean, t0: Double, gen: Generator,
      hmacKey: String, injected: Long)

  def compute(c: Ctx, out: mutable.LinkedHashMap[String, (Double, String)], traceFile: File): Unit = {
    import c._
    val nb = win.size.toDouble
    val winIds = win.map(_.id).toSet
    def perBatch(f: Batch => Double): Double = win.map(f).sum / nb
    def put(k: String, v: Double, u: String): Unit = out(k) = (v, u)
    val slots = spark.sparkContext.defaultParallelism

    // ---- source ----
    put("source.list_ms_per_batch", perBatch(b => b.d("latestOffset") + b.d("getBatch")), "ms")
    put("source.envelopes_per_batch", winRows / nb, "count")
    // how late the open-loop generator published its files (0 on drains)
    put("source.generator_late_ms_max", gen.lateMs.max, "ms")
    val cumLines = lines.scanLeft(0L)(_ + _.toLong).tail
    def fileDue(k: Int): Double =
      (if (steady) gen.dueMs(t0, k) - t0 else (k + 1L) * perFile * gapMs)
    def newestCommitted(rows: Long): Int = {
      val i = java.util.Arrays.binarySearch(cumLines, rows)
      if (i >= 0) i else -i - 2
    }
    val pubTimes = gen.publishedAtMs
    put("source.lag_s", perBatch { b =>
      val pub =
        if (!steady) lines.length - 1
        else pubTimes.lastIndexWhere(_ <= b.endMs)
      val com = newestCommitted(b.cumRows)
      if (pub < 0) 0.0 else (fileDue(pub) - (if (com < 0) 0.0 else fileDue(com))) / 1000.0
    }, "s")

    // ---- engine ----
    val jobs = stages.jobs.values.asScala.filter(j => winIds.contains(j.batch)).toVector
    val stageById = stages.stages.asScala.map(s => s.stageId -> s).toMap
    val winStages = jobs.flatMap(_.stageIds).flatMap(stageById.get)
    put("engine.batches", nb, "count")
    put("engine.planning_ms_per_batch", perBatch(_.d("queryPlanning")), "ms")
    put("engine.commit_ms_per_batch", perBatch(b => b.d("walCommit") + b.d("commitOffsets")), "ms")
    put("engine.jobs_per_batch", jobs.size / nb, "count")
    put("engine.tasks_per_batch", winStages.map(_.numTasks.toDouble).sum / nb, "count")

    // ---- parse ----
    // a job's last stage is the result stage (dedup state, flatten, JSON,
    // POST); the stages before it scan and parse, ending in the shuffle write
    val mapStageIds = jobs.flatMap(j => j.stageIds.filter(_ != j.stageIds.max)).toSet
    def isMap(s: org.apache.spark.scheduler.StageInfo): Boolean = mapStageIds.contains(s.stageId)
    val parseStages = winStages.filter(isMap)
    put("parse.cpu_ms_per_kevent",
      parseStages.map(_.taskMetrics.executorCpuTime / 1e6).sum / kev, "ms")
    put("parse.gc_ms_per_kevent", parseStages.map(_.taskMetrics.jvmGCTime.toDouble).sum / kev, "ms")
    val sample = sampleEnvelopes(input, 20000)
    put("parse.ns_per_envelope", timePerItem(sample.length) {
      var h = 0
      sample.foreach(v => h += String.valueOf(EventParser.parse(v, hmacKey).insertId).length)
      h
    }, "ns")
    put("parse.hmac_ns_per_call", hmacNs(hmacKey), "ns")
    val inCount = all.map(_.observed("parse", "input_count")).sum.toDouble
    put("parse.invalid_share", all.map(_.observed("parse", "invalid_count")).sum / inCount, "share")
    put("parse.repaired_share", all.map(_.observed("parse", "repaired_count")).sum / inCount, "share")

    // ---- dedup ----
    def so(b: Batch) = b.p.stateOperators.headOption
    def st(b: Batch, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      so(b).map(f).getOrElse(0.0)
    def stateMs(b: Batch) = st(b, s => (s.allUpdatesTimeMs + s.allRemovalsTimeMs + s.commitTimeMs).toDouble)
    put("dedup.update_ms_per_batch",
      perBatch(st(_, s => (s.allUpdatesTimeMs + s.allRemovalsTimeMs).toDouble)), "ms")
    put("dedup.commit_ms_per_batch", perBatch(st(_, _.commitTimeMs.toDouble)), "ms")
    put("dedup.partitions", st(win.last, _.numShufflePartitions.toDouble), "count")
    put("dedup.state_rows", st(win.last, _.numRowsTotal.toDouble), "count")
    put("dedup.state_mb", st(win.last, _.memoryUsedBytes / 1048576.0), "MB")
    put("dedup.shuffle_bytes_per_kevent",
      parseStages.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten.toDouble).sum / kev, "bytes")
    put("dedup.duplicates_removed", all.map(b => st(b, s =>
      Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.toDouble).getOrElse(0.0))).sum,
      "count")
    put("dedup.injected_redeliveries", injected.toDouble, "count")
    put("dedup.dropped_by_watermark", all.map(st(_, _.numRowsDroppedByWatermark.toDouble)).sum, "count")

    // ---- sink ----
    val wp = posts.filter(p => winIds.contains(p._1))
    val postMs = wp.map(p => p._3 - p._2)
    val records = wp.map(_._5).sum.toDouble
    put("sink.posts_per_batch", wp.size / nb, "count")
    put("sink.events_per_post", records / wp.size, "count")
    put("sink.post_ms_p50", pct(postMs, 50), "ms")
    put("sink.post_wait_share", postMs.sum / (win.map(_.d("addBatch")).sum * slots), "share")
    put("sink.body_bytes_per_event", wp.map(_._4.toDouble).sum / records, "bytes")
    put("sink.retries", (posts.size - posts.map(_._6).distinct.size).toDouble, "count")
    put("sink.serialize_ns_per_event", serializeNs(spark, sample, hmacKey), "ns")
    put("sink.add_batch_ms_per_batch", perBatch(_.d("addBatch")), "ms")

    // ---- jvm ----
    put("jvm.gc_ms_per_kevent", (w1.gcMs - w0.gcMs) / kev, "ms")
    put("jvm.jit_ms_in_window", (w1.jitMs - w0.jitMs).toDouble, "ms")

    // ---- spans and self time along the blocking steps ----
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var nextId = 0
    def span(name: String, s: Double, e: Double, parent: Int, batch: Long): Int = {
      nextId += 1
      spans += Map("id" -> nextId, "name" -> name, "start_ms" -> s, "end_ms" -> e,
        "parent" -> parent, "batch" -> batch)
      nextId
    }
    val self = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    for (b <- win) {
      val root = span("engine.trigger", b.startMs, b.endMs, 0, b.id)
      var t = b.startMs
      var addSpan = 0
      for (ph <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")) {
        val layerName = if (ph == "latestOffset" || ph == "getBatch") "source" else "engine"
        val id = span(s"$layerName.$ph", t, t + b.d(ph), root, b.id)
        if (ph == "addBatch") addSpan = id
        t += b.d(ph)
      }
      self("source") += b.d("latestOffset") + b.d("getBatch")
      self("engine") += b.d("walCommit") + b.d("queryPlanning") + b.d("commitOffsets")
      val bj = jobs.filter(_.batch == b.id).sortBy(_.startMs)
      var jobWall = 0.0
      for (j <- bj) {
        val jid = span("engine.job", j.startMs, j.endMs, addSpan, b.id)
        jobWall += j.endMs - j.startMs
        var stageWall = 0.0
        for (s <- j.stageIds.flatMap(stageById.get) if s.submissionTime.nonEmpty) {
          val ss = s.submissionTime.get.toDouble
          val se = s.completionTime.getOrElse(s.submissionTime.get).toDouble
          stageWall += se - ss
          if (isMap(s)) {
            span("parse.stage", ss, se, jid, b.id)
            self("parse") += se - ss
          } else {
            val sid = span("dedup+sink.stage", ss, se, jid, b.id)
            val run = math.max(1.0, s.taskMetrics.executorRunTime.toDouble)
            val post = wp.filter(_._1 == b.id)
            post.foreach(p => span("sink.post", p._2, p._3, sid, b.id))
            val postShare = math.min(1.0, post.map(p => p._3 - p._2).sum / run)
            val stateShare = math.min(1.0 - postShare, stateMs(b) / run)
            self("dedup") += (se - ss) * stateShare
            self("sink.post") += (se - ss) * postShare
            self("sink.serialize") += (se - ss) * (1.0 - postShare - stateShare)
          }
        }
        self("engine") += math.max(0.0, (j.endMs - j.startMs) - stageWall)
      }
      self("engine") += math.max(0.0, b.d("addBatch") - jobWall)
    }
    val trig = win.map(_.d("triggerExecution")).sum
    for (k <- Seq("source", "engine", "parse", "dedup", "sink.serialize", "sink.post"))
      put(s"self.${k.replace('.', '_')}_ms_per_batch", self(k) / nb, "ms")
    put("self.unattributed_ms_per_batch", (trig - self.values.sum) / nb, "ms")
    put("self.trigger_ms_per_batch", trig / nb, "ms")

    traceFile.getParentFile.mkdirs()
    Files.write(traceFile.toPath, Json(Map("spans" -> spans,
      "metrics" -> out.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap))
      .getBytes(StandardCharsets.UTF_8))
  }

  private def sampleEnvelopes(input: File, max: Int): Array[String] = {
    val files = new File(input, "files").listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).iterator
    val buf = mutable.ArrayBuffer.empty[String]
    while (buf.size < max && files.hasNext)
      buf ++= Files.readAllLines(files.next().toPath).asScala.take(max - buf.size)
    buf.toArray
  }

  /** keeps the timed loops' results alive */
  @volatile private var consumed = 0

  /** Median of 5 timed passes after 2 warm passes, in ns per item. */
  private def timePerItem(items: Int)(body: => Int): Double = {
    val ns = (0 until 7).map { _ =>
      val t = System.nanoTime()
      consumed += body
      (System.nanoTime() - t).toDouble / items
    }.drop(2)
    pct(ns, 50)
  }

  private def hmacNs(key: String): Double = {
    val m = 20000
    val uids = Array.tabulate[Array[Any]](m)(i => Array[Any](s"${i % 2000}"))
    val ins = Array.tabulate[Array[Any]](m)(i => Array[Any](f"${i.toLong * 2654435761L}%064x",
      s"dev-${i % 2000}", java.lang.Double.valueOf(1.7e12 + i), "click",
      java.lang.Double.valueOf(1.7e12 + i)))
    timePerItem(2 * m) {
      var h = 0
      var i = 0
      while (i < m) {
        h += HmacSha256.digest(key, uids(i)).numBytes
        h += HmacSha256.digest(key, ins(i)).numBytes
        i += 1
      }
      h
    }
  }

  /** `toAmplitudeJson` over one cached single-partition batch frame. */
  private def serializeNs(spark: SparkSession, sample: Array[String], key: String): Double = {
    import spark.implicits._
    val flat = EventEtl.pipeline(sample.toSeq.toDF("value").coalesce(1), key).cache()
    val rows = flat.count()
    val r = timePerItem(rows.toInt) {
      AmplitudeSink.toAmplitudeJson(flat).queryExecution.toRdd
        .map(_.getUTF8String(0).numBytes().toLong).reduce(_ + _).toInt
    }
    flat.unpersist()
    r
  }
}
