package graft

import org.apache.spark.sql.GraftBridge

import graft.tools.Profile

/** `Profile.measure`, the one job/stage/task counter the job-budget specs
  * and the profiler share: it counts real work, counts it the same way
  * twice, and leaves no listener behind. */
class ProfileSpec extends SparkTestBase {

  private def invertedIndex(): Unit =
    Queries.all("q_inverted_index")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()

  test("measure counts a row's jobs, stages, tasks and CPU, within its job budget") {
    val c = Profile.measure(spark)(invertedIndex())
    info(c.json("q_inverted_index", 1))
    assert(c.jobs > 0 && c.stages > 0 && c.tasks > 0 && c.cpuS > 0, c)
    assert(c.sqlExecs > 0 && c.wallS > 0, c)
    // IndexScanSpec's single-scan budget for this row
    assert(c.jobs <= 9, c)
    assert(Profile.measure(spark)(invertedIndex()).jobs === c.jobs)
  }

  test("measure removes its listener, also when the block throws") {
    def registered = GraftBridge.listeners(spark).toSet
    val before = registered
    Profile.measure(spark)(spark.range(10).count())
    assert(registered === before)
    intercept[IllegalStateException] {
      Profile.measure(spark)(throw new IllegalStateException("boom"))
    }
    assert(registered === before)
  }
}
