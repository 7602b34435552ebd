package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Snapshot, TilePyramid}
import graft.sources.Images

/** File-stats manifest + planning-time file pruning (the Iceberg
  * manifest-entry / scan-planning analog): per-file min/max recorded from
  * parquet footers must (a) prune decisively on a sort-compacted layout,
  * (b) stay conservative — the pruned scan plus the exact predicate equals
  * the full scan plus the same predicate on ANY layout, and (c) the
  * recorded stats must be exactly the files' true bounds. */
class FilePruneSpec extends SparkFunSuite {

  private def leaves: DataFrame =
    TilePyramid.leafTiles(Images.images(spark, SparkSpec.Sf), 8)

  private def canon(df: DataFrame): Set[String] =
    df.select("cell", "cnt", "bytes_sum").collect().map(_.mkString("|")).toSet

  // the qFilesPrune band: res-8 lat indices 128..191, every lon
  private val Lo = (8L << 58) | (128L << 8)
  private val Hi = (8L << 58) | (191L << 8) | 255L

  test("sorted compaction + manifest stats prune files; answer exact") {
    val root = tempDir("graft-fp-spec")
    val lv = leaves
    Snapshot.writeVersioned(lv, root, "s1", buildTs = 1L)
    // tiny target so the level splits into several cell-ranged files
    Snapshot.compact(spark, root, "s1", targetBytes = 8L << 10,
      sortBy = Seq("cell"))
    val stats = Snapshot.writeFileStats(spark, root, "s1")
    assert(stats.size > 2, s"need a multi-file layout, got ${stats.size}")
    assert(stats.forall(_.hasStats), "INT64 cell column must yield stats")

    // recorded bounds == true per-file bounds (footer stats are exact)
    val tiles = s"$root/tiles"
    stats.foreach { f =>
      val Seq(mn, mx, n) = spark.read.parquet(s"$tiles/${f.path}")
        .agg(min("cell"), max("cell"), count(lit(1)))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toSeq
      assert((mn, mx, n) == (f.min, f.max, f.rows),
        s"manifest entry drifted from file content for ${f.path}")
    }

    val (pruned, kept, total) = Snapshot.scanPruned(spark, root, "s1", Lo, Hi)
    assert(kept < total,
      s"sorted layout must prune ($kept of $total files kept)")
    val expect = canon(lv.filter(col("cell").between(Lo, Hi)))
    assert(canon(pruned.filter(col("cell").between(Lo, Hi))) == expect)
  }

  test("pruning is conservative on an UNSORTED layout (correct, no skips)") {
    val root = tempDir("graft-fp-spec")
    val lv = leaves
    // shuffle the rows so every file spans ~the whole key space
    Snapshot.writeVersioned(lv.repartition(6, col("phash_centroid")),
      root, "s1", buildTs = 1L)
    Snapshot.writeFileStats(spark, root, "s1")
    val (pruned, kept, total) = Snapshot.scanPruned(spark, root, "s1", Lo, Hi)
    assert(total > 1)
    val expect = canon(lv.filter(col("cell").between(Lo, Hi)))
    assert(canon(pruned.filter(col("cell").between(Lo, Hi))) == expect,
      s"unsorted layout ($kept/$total kept) must still answer exactly")
  }

  test("empty range prunes everything and returns an empty frame") {
    val root = tempDir("graft-fp-spec")
    Snapshot.writeVersioned(leaves, root, "s1", buildTs = 1L)
    Snapshot.compact(spark, root, "s1", targetBytes = 8L << 10,
      sortBy = Seq("cell"))
    Snapshot.writeFileStats(spark, root, "s1")
    // res-9 ids sit above every res-8 id: an empty band
    val lo9 = 9L << 58
    val (df, kept, _) = Snapshot.scanPruned(spark, root, "s1", lo9, lo9 + 10)
    assert(kept == 0 && df.count() == 0)
  }

  test("compaction refreshes an existing stats manifest (never stale)") {
    val root = tempDir("graft-fp-spec")
    val lv = leaves
    Snapshot.writeVersioned(lv, root, "s1", buildTs = 1L)
    Snapshot.writeFileStats(spark, root, "s1") // BEFORE the rewrite
    Snapshot.compact(spark, root, "s1", targetBytes = 8L << 10,
      sortBy = Seq("cell"))
    // every manifest entry must point at a live post-compaction file,
    // and the pruned range scan must still answer exactly
    val stats = Snapshot.readFileStats(root, "s1")
    stats.foreach(f => assert(
      Files.exists(java.nio.file.Paths.get(s"$root/tiles/${f.path}")),
      s"stale manifest entry after compact: ${f.path}"))
    val (pruned, kept, total) = Snapshot.scanPruned(spark, root, "s1", Lo, Hi)
    assert(kept < total)
    assert(canon(pruned.filter(col("cell").between(Lo, Hi))) ==
      canon(lv.filter(col("cell").between(Lo, Hi))))
  }

  test("expiry deletes the expired version's stats manifest too") {
    val root = tempDir("graft-fp-spec")
    val lv = leaves
    Snapshot.writeVersioned(lv, root, "s1", buildTs = 1L)
    Snapshot.writeFileStats(spark, root, "s1")
    Snapshot.writeVersioned(lv, root, "s2", buildTs = 2L)
    assert(Snapshot.expireSnapshots(root, keepLast = 1) == Seq("s1"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/FILES-s1.json")))
  }

  test("crashed-compact scratch dirs never enter the manifest") {
    val root = tempDir("graft-fp-spec")
    val lv = leaves
    Snapshot.writeVersioned(lv, root, "s1", buildTs = 1L)
    // simulate a compact killed after the scratch write, before the swap:
    // a populated dot-prefixed dir full of parquet files
    val base = java.nio.file.Paths.get(s"$root/tiles/snapshot_id=s1")
    val scratch = base.resolve(".compact-res=8")
    lv.limit(100).write.parquet(scratch.toString)
    val stats = Snapshot.writeFileStats(spark, root, "s1")
    assert(stats.forall(f => !f.path.contains(".compact-res=")),
      "scratch parquet files leaked into the FILES manifest")
    // and the pruned scan over the live files answers exactly
    val (pruned, _, _) = Snapshot.scanPruned(spark, root, "s1", Lo, Hi)
    assert(canon(pruned.filter(col("cell").between(Lo, Hi))) ==
      canon(lv.filter(col("cell").between(Lo, Hi))))
  }

  test("stale manifest (crash between swap and refresh) falls back to full scan") {
    val root = tempDir("graft-fp-spec")
    val lv = leaves
    Snapshot.writeVersioned(lv, root, "s1", buildTs = 1L)
    Snapshot.writeFileStats(spark, root, "s1")
    // simulate the crash window: data files replaced, manifest not
    // refreshed — rewrite the level dir under a different file set
    val resDir = java.nio.file.Paths.get(s"$root/tiles/snapshot_id=s1/res=8")
    val saved = spark.read.parquet(resDir.toString)
      .localCheckpoint(true)
    Snapshot.deleteRecursively(resDir)
    saved.drop("snapshot_id", "res").coalesce(1)
      .write.parquet(resDir.toString)
    val (df, kept, total) = Snapshot.scanPruned(spark, root, "s1", Lo, Hi)
    assert(kept == total, "stale manifest must disable pruning, not crash")
    assert(canon(df.filter(col("cell").between(Lo, Hi))) ==
      canon(lv.filter(col("cell").between(Lo, Hi))))
  }

  test("stats manifest round-trips through its JSON file") {
    val root = tempDir("graft-fp-spec")
    Snapshot.writeVersioned(leaves, root, "s1", buildTs = 1L)
    val written = Snapshot.writeFileStats(spark, root, "s1")
    assert(Snapshot.readFileStats(root, "s1") == written)
  }
}
