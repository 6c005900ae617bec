package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.EnvelopeGen

/** Renders one seed's daemon input: a directory of text files, one base64
  * envelope per line, produced by [[EnvelopeGen.fromEvents]] from a seeded
  * events table in the shape of the harness `events` table.
  *
  * Runs in its own JVM, before the measured daemon process starts, so input
  * generation never lands in the daemon's set-up or timed window.
  *
  * Events: `event_id` 0..n-1; `user_id` uniform over `users` ids;
  * `event_type` uniform over the table's five types; `props` =
  * `{"k": 0..99, "eid": id}`. `ts` never decreases with `event_id`: the gap
  * to the previous event is exponential with mean `gap_us` (`gaps=exp`, a
  * Poisson stream like the harness table) or exactly `gap_us`
  * (`gaps=fixed`, a schedule). The `eid` key rides through the pipeline in
  * `event_properties`, so the benchmark can name every delivered event
  * without re-running the program.
  *
  * Files hold `per_file` consecutive events in publish order, one pull batch
  * each. A seeded `redeliver_permille` share of files is delivered once more,
  * whole, inside a file 1 to `lag_files` files later (uniform; a copy due
  * after the last file is left out): a pull batch that was not acked and
  * came back, as in the reference daemon. A copy keeps its envelopes'
  * publish times, so it lands behind the newest event time the daemon has
  * seen, and a copy that lands two micro-batches after its original may be
  * older than the dedup watermark.
  * Modification times increase with the file index, so the file source lists
  * the files in publish order.
  *
  * Usage: Render out=DIR n=N per_file=F seed=S gap_us=G gaps=exp|fixed
  *   users=U redeliver_permille=P lag_files=L base_ms=EPOCH_MS
  * Writes `DIR/files/part-NNNNNN.txt`, `DIR/manifest.tsv` (file index,
  * envelope lines) and `DIR/types.bin` (one event_type index per event id,
  * 0 = signup) for the delivery gate.
  */
object Render {

  private val Types = Array("signup", "click", "error", "view", "purchase")

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val out = new File(a("out"))
    val n = a("n").toInt
    val perFile = a("per_file").toInt
    val gapUs = a("gap_us").toDouble
    val expGaps = a("gaps") match {
      case "exp" => true
      case "fixed" => false
      case g => sys.error(s"gaps=$g")
    }
    val users = a("users").toInt
    val permille = a("redeliver_permille").toInt
    val lagFiles = a("lag_files").toInt
    val rnd = new SplittableRandom(a("seed").toLong)

    val typeCodes = new Array[Byte](n)
    var tsUs = a("base_ms").toLong * 1000.0
    val rows = (0 until n).map { id =>
      if (id > 0) tsUs += (if (expGaps) -gapUs * math.log(1.0 - rnd.nextDouble()) else gapUs)
      typeCodes(id) = rnd.nextInt(Types.length).toByte
      (id.toLong, tsUs.toLong, rnd.nextInt(users).toLong, Types(typeCodes(id)),
        s"""{"k": ${rnd.nextInt(100)}, "eid": $id}""")
    }
    val nFiles = (n + perFile - 1) / perFile
    // redeliveries(f): the files whose copy rides in file f
    val redeliveries = Array.fill(nFiles)(List.empty[Int])
    for (f <- 0 until nFiles if rnd.nextInt(1000) < permille) {
      val to = f + 1 + rnd.nextInt(lagFiles)
      if (to < nFiles) redeliveries(to) = f :: redeliveries(to)
    }

    val spark = SparkSession.builder().appName("graftbench-render")
      .master("local[*]").config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val events = rows.toDF("event_id", "ts_us", "user_id", "event_type", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("props"))
    val envelope = new Array[String](n)
    EnvelopeGen.fromEvents(events).collect().foreach { r =>
      // Spark's base64 wraps at 76 columns; the source reads one envelope per line
      envelope(r.getLong(0).toInt) = r.getString(1).replace("\r", "").replace("\n", "")
    }
    spark.stop()

    val files = new File(out, "files")
    files.mkdirs()
    val manifest = new StringBuilder
    val t0 = System.currentTimeMillis() - nFiles * 1000L
    def ids(f: Int) = f * perFile until math.min((f + 1) * perFile, n)
    for (f <- 0 until nFiles) {
      val lines = redeliveries(f).sorted.flatMap(ids) ++ ids(f)
      val p = Paths.get(files.getPath, f"part-$f%06d.txt")
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(p.toFile),
        StandardCharsets.US_ASCII), 1 << 16)
      lines.foreach { id => w.write(envelope(id)); w.write('\n') }
      w.close()
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + f * 1000L))
      manifest ++= s"$f\t${lines.size}\n"
    }
    Files.write(Paths.get(out.getPath, "manifest.tsv"),
      manifest.toString.getBytes(StandardCharsets.US_ASCII))
    Files.write(Paths.get(out.getPath, "types.bin"), typeCodes)
  }
}
