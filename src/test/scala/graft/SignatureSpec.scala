package graft

import scala.io.Source

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GraftOptimizations
import graft.sources.Images

/** Every registry query's plan, and the lazy operator plans the queries
  * hide behind a checkpoint, reduced to one [[PlanSignature]] line each and
  * pinned against src/test/resources/plan_signatures.txt (regenerate with
  * [[GenGolden]]). Any change to a plan's exchanges, joins, aggregates,
  * windows, generators, scans or codegen fallbacks shows as a diff of that
  * file. The hard rules ([[PlanSignature.Rules]]) fail the build outright. */
class SignatureSpec extends SparkFunSuite {

  private lazy val golden: Seq[String] = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/plan_signatures.txt"), "UTF-8")
    try src.getLines().toList finally src.close()
  }

  private lazy val operatorSigs =
    GenGolden.operatorSigs(spark, tempDir("graft-sig-merge"))

  /** Fails with the lines of `got` and `want` that differ, position by
    * position. */
  private def assertLines(got: Seq[String], want: Seq[String]): Unit = {
    val diff = got.zipAll(want, "<none>", "<none>").collect {
      case (g, w) if g != w => s"  want $w\n   got $g"
    }
    if (diff.nonEmpty) fail("plan signatures changed (regenerate with " +
      s"GenGolden if the change is meant):\n${diff.mkString("\n")}")
  }

  test("every registry query's plan signature matches plan_signatures.txt") {
    val got = GenGolden.queryLines
    assert(got.size == Queries.all.size)
    assertLines(got, golden.take(got.size))
  }

  test("the lazy operator plans match their named signature lines") {
    assertLines(operatorSigs.map((GenGolden.signatureLine _).tupled),
      golden.drop(Queries.all.size))
  }

  test("no signed plan has a CartesianProduct, SortAggregate or " +
      "partitionless window") {
    val signed = SparkSpec.shippedQueries.map(s => s.name -> s.sig) ++
      operatorSigs
    val bad = signed.flatMap { case (name, sig) =>
      sig.violations.map(v => s"$name: $v")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("each hard rule fires on a synthetic frame") {
    def rulesOf(df: DataFrame): Seq[String] =
      PlanSignature.fresh(spark)(df)._2.violations
    // ranges too large to broadcast, so the cross join cannot plan as a
    // broadcast nested loop
    val big = spark.range(0L, 1L << 40)
    assert(rulesOf(big.crossJoin(big.withColumnRenamed("id", "id2"))) ==
      Seq("CartesianProduct"))
    // a string max has no fixed-width buffer, so it cannot hash-aggregate
    val r = spark.range(10).select((col("id") % 3).as("g"),
      col("id").cast("string").as("s"))
    assert(rulesOf(r.groupBy("g").agg(max("s"))) == Seq("SortAggregate"))
    assert(rulesOf(r.withColumn("rn",
      row_number().over(Window.orderBy("s")))) == Seq("partitionless window"))
  }

  test("a persisted Images.images or installed optimizer rules do not " +
      "change a query's signature") {
    val build = () => Queries.queryMap("q_pip_join")(spark, SparkSpec.Sf)
    val clean = PlanSignature.fresh(spark)(build())._2
    val rules = spark.experimental.extraOptimizations
    val imgs = Images.images(spark, SparkSpec.Sf).persist()
    GraftOptimizations.install(spark)
    try {
      // signed as found, the persisted frame replaces the scan and the
      // installed rules rewrite the join
      val found = PlanSignature.of(build().queryExecution.executedPlan)
      assert(found.counts.contains("scan.inmemory") &&
        found.counts.get("gen") != clean.counts.get("gen"), found.line)
      assert(PlanSignature.fresh(spark)(build())._2 == clean)
    } finally {
      imgs.unpersist()
      spark.experimental.extraOptimizations = rules
    }
    assert(golden.contains(GenGolden.signatureLine("q_pip_join", clean)))
  }
}
