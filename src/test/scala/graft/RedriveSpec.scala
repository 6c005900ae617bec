package graft

import graft.streaming.{Redrive, StatePointer}

/** The deterministic-re-drive contract every streamed catalog row now
  * drives through (the r13 ADVICE fix): a fresh dir folds everything, a
  * died-mid-prefix dir folds ONLY the un-applied suffix, a completed dir
  * serves WITHOUT invoking the drive at all (the steady-state a bench
  * pass ≥ 2 must measure — not a replayCheck throw, not a re-drive), and
  * a pointer ahead of the declared final id throws (two rows sharing a
  * state dir with divergent batch sequences). Plus the tightened
  * [[StatePointer.replayCheck]]: skip is ONLY for the committed id
  * itself; any id strictly behind the pointer throws. */
class RedriveSpec extends SparkTestBase {

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("redrive").toString

  test("fresh dir drives every batch 0..final") {
    val dir = freshDir()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    Redrive(spark, dir, 2L) { b =>
      seen += b
      StatePointer.advance(spark, dir, b)
    }
    assert(seen.toSeq === Seq(0L, 1L, 2L))
    assert(StatePointer.read(spark, dir) === Some(2L))
  }

  test("died-mid-prefix dir resumes the un-applied suffix only") {
    val dir = freshDir()
    StatePointer.advance(spark, dir, 0L) // a previous run died after batch 0
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    Redrive(spark, dir, 3L) { b =>
      seen += b
      StatePointer.advance(spark, dir, b)
    }
    assert(seen.toSeq === Seq(1L, 2L, 3L))
  }

  test("completed dir serves without invoking the drive (bench pass >= 2)") {
    val dir = freshDir()
    Redrive(spark, dir, 2L)(b => StatePointer.advance(spark, dir, b))
    var invoked = false
    Redrive(spark, dir, 2L) { _ => invoked = true }
    assert(!invoked, "a completed fold must serve as-is, never re-drive")
    assert(StatePointer.read(spark, dir) === Some(2L))
  }

  test("pointer ahead of the declared final id throws (shared-dir mismatch)") {
    val dir = freshDir()
    Redrive(spark, dir, 3L)(b => StatePointer.advance(spark, dir, b))
    val err = intercept[IllegalStateException] {
      Redrive(spark, dir, 2L)(_ => fail("must not drive"))
    }
    assert(err.getMessage.contains("ahead"))
  }

  test("replayCheck: committed id skips, behind-the-pointer throws, next id proceeds") {
    val dir = freshDir()
    StatePointer.advance(spark, dir, 2L)
    assert(StatePointer.replayCheck(spark, dir, 2L),
      "the committed id is the one foreachBatch re-delivers — skip")
    assert(!StatePointer.replayCheck(spark, dir, 3L))
    // one-behind is NOT a legitimate replay (foreachBatch never
    // re-delivers a committed-and-superseded id): fresh checkpoint over
    // existing state — must throw, not no-op (the r13 ADVICE low item)
    intercept[IllegalStateException](StatePointer.replayCheck(spark, dir, 1L))
    intercept[IllegalStateException](StatePointer.replayCheck(spark, dir, 0L))
  }

  test("a streamed catalog row re-invoked over persisted state serves identically (the bench shape)") {
    // the exact bench-mode sequence: same row, same state dir, three
    // invocations — pass 1 folds, passes 2-3 must serve the SAME result
    // without throwing (r13's regression threw here and the bench
    // recorded time-to-throw as the pin)
    import spark.implicits._
    val docs = (0L until 12L)
      .map(i => (i, s"alpha beta gamma delta token$i"))
      .toDF("doc_id", "text")
    val dir = freshDir()
    def invoke() = {
      Redrive(spark, dir, 2L) { b =>
        streaming.StreamingIndex.applyBatch(
          docs.filter($"doc_id" % 3 === b), dir, b, maxSegments = 3)
      }
      streaming.StreamingIndex.vacuum(spark, dir)
      llm.Search.renderIndex(
          streaming.StreamingIndex.readIndex(spark, dir))
        .orderBy($"gram").collect().toSeq
    }
    val first = invoke()
    assert(first.nonEmpty)
    assert(invoke() === first)
    assert(invoke() === first)
  }

  // Artifacts.stateDir over a real catalog row at sf0.001
  private val sfDir = "/root/testdata/sf0.001"
  private val row = "q_scd2_stream"

  // the row's verify-mode state dirs in the temp dir
  private def graftTmpDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(
        _.filter(_.startsWith("graft_scd2_stream_state")).toSet)

  test("stateDir, verify mode: the row's release deletes its state; every build folds into a fresh dir") {
    assert(graft.sources.Artifacts.root.isEmpty)
    def buildAndRelease() = {
      val before = graftTmpDirs()
      val df = Queries.all(row)(spark, sfDir) // folds the state
      val created = graftTmpDirs() -- before
      val out = df.collect().toSeq
      graft.ops.Prefix.releaseAll() // the drivers' per-row release
      (created, out)
    }
    val (first, out1) = buildAndRelease()
    assert(first.size === 1, s"one state dir per build: $first")
    assert((graftTmpDirs() intersect first).isEmpty,
      s"state left behind after the release: $first")
    val (second, out2) = buildAndRelease()
    assert(second.size === 1 && second != first,
      s"the second build must fold into a fresh dir: $first, $second")
    assert((graftTmpDirs() intersect second).isEmpty)
    assert(out2 === out1)
  }

  test("stateDir, bench mode: builds share <root>/<name>; the second serves without re-driving") {
    val root = java.nio.file.Files.createTempDirectory("statedir_artifacts")
      .toString
    sys.props("graft.artifact.dir") = root
    try {
      val state = graft.sources.Artifacts.stateDir("scd2_stream_state")
      assert(state === s"$root/scd2_stream_state")
      def tree(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
          .flatMap(tree)
        else Seq(f.getPath -> f.lastModified())
      def build() = {
        val out = Queries.all(row)(spark, sfDir).collect().toSeq
        graft.ops.Prefix.releaseAll()
        out
      }
      val out1 = build()
      val v1 = StatePointer.read(spark, state)
      val files1 = tree(new java.io.File(state))
      assert(v1 === Some(2L))
      val out2 = build()
      assert(graft.sources.Artifacts.stateDir("scd2_stream_state") === state)
      assert(StatePointer.read(spark, state) === v1)
      assert(tree(new java.io.File(state)) === files1,
        "a completed fold must serve without touching its state")
      assert(out2 === out1)
    } finally {
      graft.sources.Artifacts.wipe()
      sys.props.remove("graft.artifact.dir")
    }
  }
}
