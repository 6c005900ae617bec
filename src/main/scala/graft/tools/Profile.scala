package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.{Bench, SparkEntry}

/** Where a catalog row's time goes: runs rows exactly as a [[graft.Bench]]
  * pass does (same session, artifacts and timed region) and prints one
  * JSON line of [[Counters]] per row and pass on stdout.
  *
  * Usage: `runMain graft.tools.Profile <sfDir> <row,row,…|all> [passes]
  * [--trace] [--explain <dir>]` (3 passes by default).
  *   - `--trace` prints a `[trace]` line per job of the last pass: its SQL
  *     execution id, call site, job description, first graft frames and
  *     stage names.
  *   - `--explain <dir>` writes each row's `explain("formatted")` to
  *     `<dir>/<row>.explain` after the passes, so the plan is the one a
  *     steady-state pass runs. */
object Profile {
  def main(args: Array[String]): Unit = {
    var trace = false
    var explainDir: Option[String] = None
    val pos = Seq.newBuilder[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--trace" => trace = true
      case "--explain" if it.hasNext => explainDir = Some(it.next())
      case a => pos += a
    }
    val usage = "usage: Profile <sfDir> <row,row,…|all> [passes] " +
      "[--trace] [--explain <dir>]"
    val positional = pos.result()
    require(positional.size == 2 || positional.size == 3, usage)
    val sfDir = positional(0)
    val rows = if (positional(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else positional(1).split(",").toSeq
    val unknown = rows.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(",")}")
    val passes = positional.lift(2).fold(3)(_.toInt)
    val spark = Bench.session()
    for (p <- 1 to passes; row <- rows) {
      val c = measure(spark, trace && p == passes) {
        Bench.runRow(spark, sfDir, row)
      }
      println(c.json(row, p))
    }
    explainDir.foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      for (row <- rows) {
        val out = new java.io.ByteArrayOutputStream()
        try Console.withOut(out) {
          SparkEntry.queries(row)(spark, sfDir).explain("formatted")
        } finally graft.ops.Prefix.releaseAll()
        Files.write(Paths.get(dir, s"$row.explain"), out.toByteArray)
      }
    }
    spark.stop()
  }

  /** What Spark ran for one measured block: its wall seconds, the jobs, SQL
    * executions, completed stages and ended tasks it scheduled, and the
    * summed task metrics (executor CPU, run and GC seconds; shuffle read and
    * write, input and on-disk spill bytes). */
  final case class Counters(wallS: Double, jobs: Int, sqlExecs: Int,
      stages: Int, tasks: Int, cpuS: Double, runS: Double, gcS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, inputBytes: Long,
      spillBytes: Long) {
    def json(row: String, pass: Int): String = {
      def s(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      s"""{"row":"$row","pass":$pass,"wall_s":${s(wallS)},"jobs":$jobs,""" +
        s""""sql_execs":$sqlExecs,"stages":$stages,"tasks":$tasks,""" +
        s""""cpu_s":${s(cpuS)},"run_s":${s(runS)},"gc_s":${s(gcS)},""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""input_bytes":$inputBytes,"spill_bytes":$spillBytes}"""
    }
  }

  /** Runs `f` under one counting listener and returns what Spark ran for
    * it. The listener bus is drained before the listener is added (so
    * earlier work's events stay out) and again after `f` (so every event
    * of `f` is in); the listener is removed even if `f` throws. */
  def measure(spark: SparkSession, trace: Boolean = false)(f: => Any): Counters = {
    GraftBridge.drainListenerBus(spark)
    val c = new Counter(trace)
    spark.sparkContext.addSparkListener(c)
    try {
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(spark)
      c.counters(wall)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  /** Sums events on the listener bus's one dispatch thread; the drain in
    * [[measure]] orders those writes before the read in `counters`. */
  private final class Counter(trace: Boolean) extends SparkListener {
    private var jobs, sqlExecs, stages, tasks = 0
    private var cpuNs, runMs, gcMs, shufR, shufW, input, spill = 0L

    def counters(wallS: Double): Counters = Counters(wallS, jobs, sqlExecs,
      stages, tasks, cpuNs / 1e9, runMs / 1e3, gcMs / 1e3, shufR, shufW,
      input, spill)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs += 1
      if (trace) println(traceLine(e))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shufR += m.shuffleReadMetrics.totalBytesRead
        shufW += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
        spill += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => sqlExecs += 1
      case _ =>
    }

    private def traceLine(e: SparkListenerJobStart): String = {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // the stages' details carry the call-site stack: its first graft
      // frames (past the bench harness) attribute the job to an operator
      val frames = e.stageInfos.flatMap(_.details.split('\n')).map(_.trim)
      val ours = frames.filter(l => l.contains("graft.") &&
        !l.contains("graft.tools") && !l.contains("graft.Bench"))
      val site = (if (ours.nonEmpty) ours else frames).take(2).mkString(" <- ")
      val names = e.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ")
      s"[trace] job$jobs exec=${prop("spark.sql.execution.id").getOrElse("-")} " +
        s"stages=${e.stageInfos.size} ${prop("callSite.short").getOrElse("?")} " +
        s"${prop("spark.job.description").getOrElse("")} $site STG[$names]"
    }
  }
}
