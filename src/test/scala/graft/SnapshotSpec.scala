package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Snapshot, TilePyramid}
import graft.sources.Images

/** Snapshot write/read/resume (SURVEY.md §5.7 resume test): rebuild from a
  * leaf-only checkpoint must reproduce the original pyramid exactly. */
class SnapshotSpec extends SparkFunSuite {

  private def images = Images.images(spark, SparkSpec.Sf)

  /** Order-insensitive frame compare on the rollup columns. */
  private def canon(df: DataFrame): Set[String] =
    df.select("res", "cell", "cnt", "bytes_sum", "lat_min", "lat_max",
        "lon_min", "lon_max", "phash_centroid")
      .collect()
      .map(_.mkString("|"))
      .toSet

  test("snapshot round-trip + rebuild-from-leaves reproduces the pyramid") {
    val root = tempDir("graft-snap-spec")
    val (pyr, counts) = TilePyramid.build(images, 8, 12)
    val manifest = Snapshot.write(pyr, root, "snapA", buildTs = 7L)
    assert(manifest == counts, "manifest counts must match build counts")

    // read back: identical content (modulo lineage cols)
    val back = Snapshot.read(spark, root)
    assert(canon(back) == canon(pyr))
    assert(Snapshot.LineageCols.forall(back.columns.contains))

    // resume from leaves only -> upper levels identical to original build
    val rebuilt = Snapshot.rebuildFromLeaves(spark, root, 12, 8)
    assert(canon(rebuilt) == canon(pyr))
  }

  test("versioned snapshots: time travel, isolation, manifest listing") {
    val root = tempDir("graft-snap-tt")
    val v1src = TilePyramid.leafTiles(
      images.filter(col("phash") % 2 === 0), 8)
    val v2src = TilePyramid.leafTiles(images, 8)
    val m1 = Snapshot.writeVersioned(v1src, root, "v1", buildTs = 10L)
    // v1 pinned read BEFORE v2 exists
    val v1Before = canon(Snapshot.readAsOf(spark, root, "v1"))
    val m2 = Snapshot.writeVersioned(v2src, root, "v2", buildTs = 20L)
    assert(m1(8) > 0 && m2(8) > m1(8))
    // time travel: v1 unchanged after v2 landed
    assert(canon(Snapshot.readAsOf(spark, root, "v1")) == v1Before)
    assert(canon(Snapshot.readAsOf(spark, root, "v1")) == canon(v1src))
    assert(canon(Snapshot.readAsOf(spark, root, "v2")) == canon(v2src))
    // full read sees both versions, disjoint by snapshot_id
    val all = Snapshot.read(spark, root)
    assert(all.count() == m1(8) + m2(8))
    // manifest listing, oldest first
    assert(Snapshot.snapshots(root) == Seq("v1" -> 10L, "v2" -> 20L))
    // snapshot ids are immutable: a re-commit of an existing id is refused
    // (append would double the version's rows under a replaced manifest)
    intercept[IllegalArgumentException] {
      Snapshot.writeVersioned(v1src, root, "v1", buildTs = 30L)
    }
    assert(canon(Snapshot.readAsOf(spark, root, "v1")) == v1Before)
    // pinned read is partition-pruned: only v1's files are listed
    val files = Snapshot.readAsOf(spark, root, "v1")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("snapshot_id=v1")))
  }

  test("delta-merge equals a from-scratch rebuild on every level") {
    val (full, _) = TilePyramid.build(images, 5, 8)
    // (base, delta) inputs: a 25% delta spread over the base's cells, and
    // a delta confined to res-5 cells the base lacks, so whole branches
    // have no old tile at any level
    val cell5 = graft.geo.functions.cell_encode(col("lat"), col("lon"), 5)
    Seq(col("phash") % 4 =!= 0, cell5 % 2 === 0).foreach { inBase =>
      val root = tempDir("graft-snap-delta")
      val base = images.filter(inBase)
      val delta = images.filter(!inBase)
      assert(!base.isEmpty && !delta.isEmpty, s"degenerate split $inBase")
      val (pyr, _) = TilePyramid.build(base, 5, 8)
      Snapshot.write(pyr, root, "base", buildTs = 1L)

      val cachedBefore = spark.sparkContext.getPersistentRDDs.size
      val merged = Snapshot.mergeDelta(spark, root, delta, leafRes = 8,
        minRes = 5)
      // cache hygiene (round-3 verdict #3): the merge is eager and
      // persists no intermediate — at most the ONE result-sized
      // localCheckpoint cache survives the call, so nightly deltas in a
      // long-lived session don't accumulate pyramid caches
      val cachedAfter = spark.sparkContext.getPersistentRDDs.size
      assert(cachedAfter - cachedBefore <= 1,
        s"mergeDelta leaked intermediate caches: $cachedBefore -> $cachedAfter")
      assert(canon(merged) == canon(full),
        s"incremental merge diverged from the from-scratch rebuild ($inBase)")

      // empty delta: the merged pyramid IS the snapshot, untouched
      val noop = Snapshot.mergeDelta(spark, root, delta.limit(0),
        leafRes = 8, minRes = 5)
      assert(canon(noop) == canon(pyr))
    }
  }

  test("expiry: keepLast/olderThan retention, newest always survives, " +
    "manifest-first crash order is recovered") {
    val root = tempDir("graft-snap-expire")
    val tiles = TilePyramid.leafTiles(images, 8)
    Snapshot.writeVersioned(tiles, root, "e1", buildTs = 10L)
    Snapshot.writeVersioned(tiles, root, "e2", buildTs = 20L)
    Snapshot.writeVersioned(tiles, root, "e3", buildTs = 30L)
    val e3Canon = canon(Snapshot.readAsOf(spark, root, "e3"))

    // keepLast retention: oldest goes, survivors untouched
    assert(Snapshot.expireSnapshots(root, keepLast = 2) == Seq("e1"))
    assert(Snapshot.snapshots(root) == Seq("e2" -> 20L, "e3" -> 30L))
    intercept[IllegalArgumentException] {
      Snapshot.readAsOf(spark, root, "e1")
    }
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$root/tiles/snapshot_id=e1")))

    // olderThan retention
    assert(Snapshot.expireSnapshots(root, olderThan = 25L) == Seq("e2"))
    assert(Snapshot.snapshots(root) == Seq("e3" -> 30L))

    // the newest version NEVER expires, even under an over-broad predicate
    assert(Snapshot.expireSnapshots(root, keepLast = 1,
      olderThan = Long.MaxValue).isEmpty)
    assert(canon(Snapshot.readAsOf(spark, root, "e3")) == e3Canon)
    // keepLast = 0 is rejected outright
    intercept[IllegalArgumentException] {
      Snapshot.expireSnapshots(root, keepLast = 0)
    }

    // crash order: manifest deleted, data delete crashed -> the orphan is
    // invisible to every reader and swept by the next expire run
    Snapshot.writeVersioned(tiles, root, "e4", buildTs = 40L)
    Files.delete(java.nio.file.Paths.get(s"$root/MANIFEST-e3.json"))
    val orphan = java.nio.file.Paths.get(s"$root/tiles/snapshot_id=e3")
    assert(Files.exists(orphan))
    assert(Snapshot.snapshots(root) == Seq("e4" -> 40L))
    intercept[IllegalArgumentException] {
      Snapshot.readAsOf(spark, root, "e3")
    }
    assert(Snapshot.expireSnapshots(root, keepLast = 1).isEmpty)
    assert(!Files.exists(orphan), "orphaned half-expired data not swept")
    assert(Snapshot.snapshots(root) == Seq("e4" -> 40L))
  }

  test("compaction rewrites a fragmented version to few files, losslessly") {
    val root = tempDir("graft-snap-compact")
    val tiles = TilePyramid.leafTiles(images, 8)
    // fragment the version the way a micro-batch writer would
    Snapshot.writeVersioned(tiles.repartition(16), root, "f1", buildTs = 1L)
    Snapshot.writeVersioned(tiles, root, "f2", buildTs = 2L)
    val before = canon(Snapshot.readAsOf(spark, root, "f1"))
    def nFiles(id: String) = Snapshot.readAsOf(spark, root, id)
      .select(input_file_name()).distinct().count()
    val f2Files = Snapshot.readAsOf(spark, root, "f2")
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    assert(nFiles("f1") == 16)

    val counts = Snapshot.compact(spark, root, "f1")
    assert(counts == Map(8 -> 1), s"expected one compacted file: $counts")
    assert(nFiles("f1") == 1)
    // lossless: same rows, manifest listing untouched, sibling untouched
    assert(canon(Snapshot.readAsOf(spark, root, "f1")) == before)
    assert(Snapshot.snapshots(root) == Seq("f1" -> 1L, "f2" -> 2L))
    assert(Snapshot.readAsOf(spark, root, "f2")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
      .toSet == f2Files)
    // idempotent AND io-free when already compact: the data files must be
    // the very same ones (no rewrite, so no new file names)
    val filesBefore = Snapshot.readAsOf(spark, root, "f1")
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    assert(Snapshot.compact(spark, root, "f1") == Map(8 -> 1))
    assert(Snapshot.readAsOf(spark, root, "f1")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
      .toSet == filesBefore)
    // crash recovery: simulate a run killed between the two swap renames
    // (level moved to trash, replacement never landed) — compact restores
    // the level before doing anything else
    val lvl = java.nio.file.Paths.get(s"$root/tiles/snapshot_id=f1/res=8")
    val trash = lvl.resolveSibling(".old-res=8")
    Files.move(lvl, trash)
    assert(Snapshot.compact(spark, root, "f1") == Map(8 -> 1))
    assert(canon(Snapshot.readAsOf(spark, root, "f1")) == before)
    // uncommitted ids are refused, like readAsOf
    intercept[IllegalArgumentException] {
      Snapshot.compact(spark, root, "nope")
    }
  }

  test("versioned commit point: half-commits are unreadable and retry-safe") {
    val root = tempDir("graft-snap-crash")
    val src = TilePyramid.leafTiles(images, 8)
    val n = src.count()
    // simulate a crash AFTER the data job but BEFORE the manifest: data
    // files land under the partition dir with no MANIFEST-v1.json
    src.withColumn("snapshot_id", lit("v1"))
      .write.mode("append").partitionBy("snapshot_id", "res")
      .parquet(s"$root/tiles")
    // the half-commit is not readable as a version (manifest is the
    // commit point)...
    intercept[IllegalArgumentException] {
      Snapshot.readAsOf(spark, root, "v1")
    }
    assert(Snapshot.snapshots(root).isEmpty)
    // ...and a RETRY of the same id commits exactly once (the orphaned
    // files are cleared, not appended onto)
    val m = Snapshot.writeVersioned(src, root, "v1", buildTs = 5L)
    assert(m(8) == n)
    assert(Snapshot.readAsOf(spark, root, "v1").count() == n)

    // ids that Hive partition-path escaping would rewrite are refused
    // (write would land under snapshot_id=a%3Ab while reads probe a:b)
    intercept[IllegalArgumentException] {
      Snapshot.writeVersioned(src, root, "a:b", buildTs = 6L)
    }
    // negative build_ts would vanish from the manifest listing's regex
    intercept[IllegalArgumentException] {
      Snapshot.writeVersioned(src, root, "v9", buildTs = -1L)
    }
  }

  test("level read is partition-pruned (res is a partition dir)") {
    val root = tempDir("graft-snap-prune")
    Snapshot.write(TilePyramid.build(images, 10, 12)._1, root, "snapB", 1L)
    val dirs = new java.io.File(s"$root/tiles").listFiles().map(_.getName).toSet
    assert(Set("res=10", "res=11", "res=12").subsetOf(dirs))
    val one = Snapshot.level(spark, root, 11)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && one.count() > 0)
    assert(one.select(countDistinct(col("res"))).first().getLong(0) == 1)
  }

  test("schema migration on read adds missing columns with defaults only") {
    val root = tempDir("graft-snap-mig")
    // simulate an old-engine snapshot that predates the bytes_sum column
    val old = TilePyramid.leafTiles(images, 9).drop("bytes_sum")
    Snapshot.write(old, root, "oldv", 3L)
    val migrated = Snapshot.readMigrated(spark, root, Seq(
      "bytes_sum" -> lit(-1L),   // missing -> defaulted
      "cnt" -> lit(999L)))       // present -> untouched
    assert(migrated.columns.contains("bytes_sum"))
    val rows = migrated.select("cell", "cnt", "bytes_sum").collect()
    assert(rows.forall(_.getLong(2) == -1L), "missing column gets the default")
    val wantCnt = TilePyramid.leafTiles(images, 9)
      .select("cell", "cnt").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => r.getLong(1) == wantCnt(r.getLong(0))),
      "present columns must be untouched by migration")
  }

  test("stats transfer merges source counts with 0-defaults and persists") {
    val tmp = tempDir("graft-snap-xfer")
    // md5 split: spatially uncorrelated (a k-parity split puts the halves
    // in DISJOINT cells — the LCG's Marsaglia-lattice structure alternates
    // parities along its lattice lines)
    val h = expr("cast(conv(substring(md5(image_id), 1, 8), 16, 10) as bigint) % 2")
    val even = images.filter(h === 0)
    val odd = images.filter(h === 1)
    Snapshot.write(TilePyramid.leafTiles(even, 8), s"$tmp/a", "a", 1L)
    Snapshot.write(TilePyramid.leafTiles(odd, 8), s"$tmp/b", "b", 2L)
    val out = Snapshot.transferStats(spark, s"$tmp/a", s"$tmp/b",
      s"$tmp/out", "m", 3L)
    val evenCnt = TilePyramid.leafTiles(even, 8).select("cell", "cnt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = out.select("cell", "hot_cnt").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.nonEmpty && got.exists(_._2 == 0L) && got.exists(_._2 > 0L))
    got.foreach { case (cell, hot) =>
      assert(hot == evenCnt.getOrElse(cell, 0L), s"cell $cell")
    }
    // persisted: a fresh read of outRoot sees the merged column + manifest
    assert(Snapshot.read(spark, s"$tmp/out").columns.contains("hot_cnt"))
    assert(new java.io.File(s"$tmp/out/MANIFEST-m.json").exists())
  }

  test("lineage metrics cover every level and sum to image count") {
    val root = tempDir("graft-snap-lin")
    Snapshot.write(TilePyramid.build(images, 10, 12)._1, root, "snapC", 2L)
    val lm = Snapshot.lineageMetrics(spark, root)
    val perRes = lm.groupBy(col("res")).agg(sum(col("n_images")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = images.count()
    assert(perRes.keySet == Set(10, 11, 12))
    assert(perRes.values.forall(_ == total),
      "every level must account for every image")
  }

  test("partition evolution: v2 adds a partition column without rewriting " +
    "v1; readEvolved spans both layouts; the new column prunes v2") {
    import graft.geo.{functions => G}
    val root = tempDir("graft-snap-pe")
    val leaves = TilePyramid.leafTiles(images, 6)
      .select("cell", "cnt", "res")
      .persist()
    Snapshot.writeVersioned(leaves, root, "v1", buildTs = 1L)
    Snapshot.writeVersionedPartitioned(
      leaves.withColumn("pcell", G.cell_parent_at(col("cell"), 3)),
      root, "v2", buildTs = 2L, extraPartCols = Seq("pcell"))
    // on-disk layouts really differ: v2 has pcell= dirs, v1 does not
    import scala.jdk.CollectionConverters._
    def dirs(id: String) = {
      val res6 = java.nio.file.Paths.get(s"$root/tiles/snapshot_id=$id/res=6")
      scala.util.Using.resource(Files.list(res6))(
        _.iterator().asScala.map(_.getFileName.toString).toList)
    }
    assert(dirs("v2").exists(_.startsWith("pcell=")))
    assert(!dirs("v1").exists(_.startsWith("pcell=")))
    // spanning read: all rows of both versions, v1's pcell NULL then
    // re-derived (hidden partitioning)
    val ev = Snapshot.readEvolved(spark, root)
    val n = leaves.count()
    assert(ev.count() == 2 * n)
    assert(ev.filter(col("snapshot_id") === "v1" &&
      col("pcell").isNotNull).count() == 0)
    val derived = ev.withColumn("pcell",
      coalesce(col("pcell"), G.cell_parent_at(col("cell"), 3)))
    assert(derived.filter(col("pcell").isNull).count() == 0)
    // per-version pruning: a pcell filter on v2 scans strictly fewer
    // partition directories than the whole version
    val v2 = Snapshot.readAsOf(spark, root, "v2")
    val nPcells = v2.select("pcell").distinct().count()
    assert(nPcells > 1, "fixture must span several pcell buckets")
    val onePcell = v2.select("pcell").distinct().head().getLong(0)
    val filtered = v2.filter(col("pcell") === onePcell)
    val scan = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.headOption.getOrElse(fail("no file scan in the filtered plan"))
    assert(scan.toString.contains("PartitionFilters"))
    val selected = scan.selectedPartitions.partitionCount
    assert(selected == 1,
      s"pcell filter selected $selected of $nPcells partition dirs")
    leaves.unpersist(blocking = false)
  }

  test("named refs: set/resolve/list, atomic retag, dangling ref fails loud") {
    val root = tempDir("graft-ref-spec")
    val tiles = TilePyramid.withCell(images, 6)
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .withColumn("res", lit(6))
    Snapshot.writeVersioned(tiles.filter(col("cnt") > 1), root, "v1", 1L)
    Snapshot.writeVersioned(tiles, root, "v2", 2L)
    Snapshot.setRef(root, "stable", "v1")
    Snapshot.setRef(root, "latest", "v2")
    assert(Snapshot.resolveRef(root, "stable") == "v1")
    assert(Snapshot.refs(root) == Seq("latest" -> "v2", "stable" -> "v1"))
    val v1Rows = Snapshot.readAsOf(spark, root, "v1").count()
    val v2Rows = Snapshot.readAsOf(spark, root, "v2").count()
    assert(v1Rows < v2Rows)
    assert(Snapshot.readByRef(spark, root, "stable").count() == v1Rows)
    // retag repoints every reader; the old ref file is replaced, not added
    Snapshot.setRef(root, "stable", "v2")
    assert(Snapshot.readByRef(spark, root, "stable").count() == v2Rows)
    assert(Snapshot.refs(root).size == 2)
    intercept[IllegalArgumentException] {
      Snapshot.resolveRef(root, "prod")
    }
    intercept[IllegalArgumentException] {
      Snapshot.setRef(root, "bad/name", "v1")
    }
    // a ref can only name a committed snapshot: a typo'd id is refused
    // and the existing pin is left as it was
    intercept[IllegalArgumentException] {
      Snapshot.setRef(root, "stable", "v3")
    }
    assert(Snapshot.resolveRef(root, "stable") == "v2")
    Snapshot.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("orphan files: uncommitted version dirs and scratch are flagged, " +
      "committed data survives removal") {
    val root = tempDir("graft-orphan-spec")
    val tiles = TilePyramid.withCell(images, 6)
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .withColumn("res", lit(6))
    Snapshot.writeVersioned(tiles, root, "v1", 1L)
    assert(Snapshot.orphanFiles(root).isEmpty, "a clean store has no orphans")
    // a crashed writer: data landed, manifest never committed
    tiles.limit(5).withColumn("snapshot_id", lit("vX"))
      .write.mode("append").partitionBy("snapshot_id")
      .parquet(s"$root/tiles")
    // an interrupted compaction scratch dir
    val scratch = java.nio.file.Paths.get(root, "tiles", ".compact-res=6")
    Files.createDirectories(scratch)
    Files.write(scratch.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    // fresh uncommitted files may be a writer still in flight: not orphans
    // until they are older than the safety age
    assert(Snapshot.orphanFiles(root).isEmpty, "fresh files flagged")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - Snapshot.OrphanMinAgeMs - 60000L)
    scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(root))) {
      _.filter(Files.isRegularFile(_)).forEach(Files.setLastModifiedTime(_, old))
    }
    val orphans = Snapshot.orphanFiles(root)
    assert(orphans.nonEmpty)
    assert(orphans.forall(p =>
      p.contains("snapshot_id=vX") || p.contains(".compact-res=6")))
    val before = Snapshot.readAsOf(spark, root, "v1").count()
    val removed = Snapshot.removeOrphans(root)
    assert(removed == orphans)
    assert(Snapshot.orphanFiles(root).isEmpty)
    assert(!Files.isDirectory(scratch), "emptied scratch dir is pruned")
    assert(Snapshot.readAsOf(spark, root, "v1").count() == before,
      "committed snapshot unaffected")
    Snapshot.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
