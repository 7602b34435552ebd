package graft

/** The tests plan and run on the bench's session config: every setting
  * of [[GraftSession]] reaches the shared test session. */
class GraftSessionSpec extends SparkFunSuite {
  test("the test session carries every GraftSession setting") {
    assert(spark.sparkContext.master == s"local[${GraftSession.cores}]")
    GraftSession.settings.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }
}
