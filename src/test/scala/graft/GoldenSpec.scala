package graft

import scala.io.Source

/** Committed golden fixture (SURVEY.md §5.4, ≙ the reference's
  * demo/cinderella pickles): the 64-row images_tiny table's res-7 tile
  * assignments and point-in-polygon matches, pinned against
  * src/test/resources/golden_tiny.txt. Catches silent changes to the
  * deterministic derivation chain (key -> anchor -> cell -> summaries)
  * across rounds. The lines come from [[GenGolden]], the fixture's
  * generator. */
class GoldenSpec extends SparkFunSuite {

  private lazy val golden: Seq[String] = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/golden_tiny.txt"), "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("images_tiny res-7 tiles match the committed golden output") {
    val got = GenGolden.tileLines(spark)
    assert(got == golden.filter(_.startsWith("GOLD|")))
    assert(got.nonEmpty)
  }

  test("images_tiny pip join matches the committed golden pairs") {
    val got = GenGolden.pipLines(spark)
    assert(got == golden.filter(_.startsWith("GOLDP|")))
    assert(got.nonEmpty)
  }
}
