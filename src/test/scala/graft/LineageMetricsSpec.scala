package graft

import org.apache.spark.sql.functions._

import graft.operators.{Lineage, QueryMetrics, TilePyramid}
import graft.sources.Images

/** Input-file lineage (which files fed each tile) and per-query stage
  * metrics (latency/volume flight record) — the north rule's
  * "per-partition lineage + cell-count/latency metrics" as first-class,
  * spec-pinned operators (no DuckDB oracle: file names and stage timings
  * are engine-side facts an external SQL engine can't replay). */
class LineageMetricsSpec extends SparkFunSuite {

  private lazy val twoFileDir: String = {
    val dir = tempDir("graft-lineage")
    val imgs = Images.images(spark, SparkSpec.Sf)
      .select("image_id", "lat", "lon", "w", "h", "phash")
    // two separate write jobs -> disjoint file sets with shared cells.
    // Split on md5, NOT phash parity: hot rows (k%20==0) force h1 odd ->
    // h2 even through the LCG, so a phash-parity split would single-source
    // the planted hot cell and leave the shared-cell assertions untested.
    val h = expr(
      "cast(conv(substring(md5(image_id), 1, 8), 16, 10) as bigint) % 2")
    imgs.filter(h === 0).coalesce(1).write.mode("append").parquet(dir)
    imgs.filter(h === 1).coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  test("file edges: exact per-(cell, file) row counts, both directions") {
    val df = spark.read.parquet(twoFileDir)
    val edges = Lineage.fileEdges(df, 6).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val files = edges.keys.map(_._2).toSet
    assert(files.size == 2, s"fixture must span two files, got $files")
    assert(edges.keys.forall(_._2.endsWith(".parquet")))
    // edge counts conserve rows exactly
    assert(edges.values.sum == df.count())
    // independent ground truth per file: read each file alone and encode
    files.foreach { f =>
      val want = TilePyramid.withCell(
          spark.read.parquet(s"$twoFileDir/$f"), 6)
        .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = edges.collect { case ((c, ff), n) if ff == f => c -> n }
      assert(got == want, s"edge counts for $f diverge")
      // reverse audit returns the same cells
      val rev = Lineage.tilesOfFile(
          Lineage.fileEdges(spark.read.parquet(twoFileDir), 6), f)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rev == want)
    }
  }

  test("rolled-up source sets: shared cells list both files; counts match") {
    val df = spark.read.parquet(twoFileDir)
    val rolled = Lineage.leafTilesWithSources(df, 6).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[String](2).toVector)).toMap
    val plain = TilePyramid.withCell(df, 6)
      .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rolled.view.mapValues(_._1).toMap == plain)
    // the parity halves interleave: a meaningful share of cells carries
    // BOTH files (sparse res-6 cells often hold a single row, so "most"
    // would overfit the fixture), and the arrays are sorted
    val both = rolled.values.count(_._2.size == 2)
    assert(both >= 100, s"only $both/${rolled.size} shared cells")
    // the planted hot cell is fed by both halves by construction
    val hottest = rolled.maxBy(_._2._1)._2
    assert(hottest._2.size == 2, s"hot cell single-sourced: $hottest")
    assert(rolled.values.forall(v => v._2 == v._2.sorted))
  }

  test("query metrics: volumes and task counts of a known job; scoped") {
    // an unrelated background-ish job BEFORE the capture must not leak in
    spark.range(1000).repartition(3).count()
    val n = 100000L
    val parts = 7
    val ((), rows) = QueryMetrics.capture(spark, "probe") {
      val c = spark.range(n).repartition(parts).count()
      assert(c == n)
      ()
    }
    assert(rows.nonEmpty)
    assert(rows.forall(_.query == "probe"))
    // the repartition's reduce side has exactly `parts` tasks
    assert(rows.exists(_.numTasks == parts),
      s"no $parts-task stage in ${rows.map(r => r.stageId -> r.numTasks)}")
    // shuffle volume is real and counted once on each side
    assert(rows.map(_.shuffleWriteBytes).sum > 0L)
    assert(rows.map(_.shuffleReadBytes).sum > 0L)
    // stage timings are sane: p50 <= max, wall >= 0
    rows.foreach { r =>
      assert(r.taskDurP50Ms <= r.taskDurMaxMs && r.wallMs >= 0L, r.toString)
    }
    // the pre-capture 3-partition job did not leak into the report
    assert(!rows.exists(_.numTasks == 3) || parts == 3)

    // report/sink round-trip
    val sink = tempDir("graft-metrics")
    QueryMetrics.writeSink(spark, rows, sink)
    val back = spark.read.json(sink)
    assert(back.count() == rows.size)
    assert(back.columns.contains("taskDurP50Ms"))
  }
}
