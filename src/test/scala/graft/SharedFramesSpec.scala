package graft

/** The shared-derivation registry, driven by a counting derive: one
  * derive per (name, session, dir), nothing stored when a derive throws,
  * [[SharedFrames.clear]] forces a re-derive, and each name holds at most
  * eight (session, dir) pairs. */
class SharedFramesSpec extends SparkFunSuite {

  /** A derive that counts its runs and returns the run number. */
  private class Counting {
    var runs = 0
    def derive(): Int = { runs += 1; runs }
  }

  test("one derive per (name, session, dir)") {
    val c = new Counting
    assert((1 to 3).map(_ => SharedFrames("spec-once", spark, "a")(c.derive()))
      == Seq(1, 1, 1))
    assert(SharedFrames("spec-once-peer", spark, "a")(c.derive()) == 2)
    assert(SharedFrames("spec-once", spark.newSession(), "a")(c.derive()) == 3)
    assert(SharedFrames("spec-once", spark, "a")(c.derive()) == 1)
    assert(c.runs == 3)
  }

  test("a second dir derives separately") {
    val c = new Counting
    assert(SharedFrames("spec-dirs", spark, "a")(c.derive()) == 1)
    assert(SharedFrames("spec-dirs", spark, "b")(c.derive()) == 2)
    assert(SharedFrames("spec-dirs", spark, "a")(c.derive()) == 1)
    assert(SharedFrames("spec-dirs", spark, "b")(c.derive()) == 2)
    assert(c.runs == 2)
  }

  test("a throwing derive stores nothing and throws again on the next call") {
    var runs = 0
    def boom(): Int = { runs += 1; throw new IllegalStateException("boom") }
    intercept[IllegalStateException](SharedFrames("spec-throw", spark, "a")(boom()))
    intercept[IllegalStateException](SharedFrames("spec-throw", spark, "a")(boom()))
    assert(runs == 2)
    assert(SharedFrames("spec-throw", spark, "a")(7) == 7)
  }

  test("clear() forces a re-derive") {
    val c = new Counting
    assert(SharedFrames("spec-clear", spark, "a")(c.derive()) == 1)
    SharedFrames.clear()
    assert(SharedFrames("spec-clear", spark, "a")(c.derive()) == 2)
    assert(SharedFrames("spec-clear", spark, "a")(c.derive()) == 2)
  }

  test("a name's ninth (session, dir) pair evicts its earlier pairs only") {
    val c = new Counting
    val peer = SharedFrames("spec-bound-peer", spark, "d0")(c.derive())
    val dirs = (0 until 8).map(i => s"d$i")
    val first = dirs.map(d => SharedFrames("spec-bound", spark, d)(c.derive()))
    // eight pairs fit: re-reading every one derives nothing
    assert(dirs.map(d => SharedFrames("spec-bound", spark, d)(c.derive()))
      == first)
    assert(c.runs == 9)
    SharedFrames("spec-bound", spark, "d8")(c.derive())
    assert(c.runs == 10)
    assert(SharedFrames("spec-bound", spark, "d0")(c.derive()) == 11)
    assert(SharedFrames("spec-bound-peer", spark, "d0")(c.derive()) == peer)
  }
}
