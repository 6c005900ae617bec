package graftbench

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File,
  FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext

import graft.sink.AmplitudeSink

/** One POST as the stand-in network saw it: wall-clock start and end in
  * milliseconds (fractional), the micro-batch that sent it, and the body. */
final case class Post(startMs: Double, endMs: Double, batch: Long, body: Array[Byte])

/** Process-wide POST spool. The benchmark runs Spark in local mode, so the
  * deserialized [[BenchPoster]] copies inside tasks all reach this one
  * object. The hot path is a timestamp pair and one buffered append of the
  * body bytes, O(1) work per event; bodies are parsed only after the timed
  * window ([[Gate]]). Spooling to a file keeps bodies off the heap, so
  * `heap_after_gc_mb` sees the daemon's state, not the benchmark's records. */
object Spool {
  private var out: DataOutputStream = _
  private var file: File = _
  /** wall-clock anchor: nanoTime → epoch milliseconds with sub-ms digits */
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  val dropped = new AtomicBoolean(false)

  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def open(f: File): Unit = synchronized {
    file = f
    out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 20))
  }

  def record(startMs: Double, endMs: Double, batch: Long, body: Array[Byte]): Unit = synchronized {
    out.writeDouble(startMs)
    out.writeDouble(endMs)
    out.writeLong(batch)
    out.writeInt(body.length)
    out.write(body)
  }

  /** Closes the spool and streams every recorded POST to `f`. */
  def replay(f: Post => Unit): Unit = {
    synchronized(out.close())
    val in = new DataInputStream(new java.io.BufferedInputStream(new FileInputStream(file), 1 << 20))
    try {
      while (true) {
        val s = try in.readDouble() catch { case _: EOFException => return }
        val e = in.readDouble()
        val b = in.readLong()
        val body = new Array[Byte](in.readInt())
        in.readFully(body)
        f(Post(s, e, b, body))
      }
    } finally in.close()
  }
}

/** The benchmark's network: blocks `delayMs` per POST (0 = returns at once)
  * to model Amplitude's round trip, records the POST, and answers 200.
  * With `dropOne`, the first body is answered 200 but never recorded — the
  * self-test's proof that the delivery gate catches a lost body. */
final class BenchPoster(delayMs: Long, dropOne: Boolean) extends AmplitudeSink.Poster {
  def post(url: String, body: String, timeoutMs: Int): Int = {
    val start = Spool.nowMs()
    if (delayMs > 0) Thread.sleep(delayMs)
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val end = Spool.nowMs()
    val tc = TaskContext.get()
    val batch = Option(tc).flatMap(t => Option(t.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    if (!(dropOne && Spool.dropped.compareAndSet(false, true)))
      Spool.record(start, end, batch, bytes)
    200
  }
}
