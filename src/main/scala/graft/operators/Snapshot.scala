package graft.operators

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.LevelCounts

/** Snapshot checkpointing + resume for the tile pyramid — the graft of the
  * reference's pickle save/load + rebuild-from-leaves maintenance path
  * (raptor/RetrievalAugmentation.py:435-440 save, 260-268 load;
  * transform_tree.py:24-142 — load tree, keep layer 0, rebuild upper
  * layers). Iceberg-style semantics on plain parquet (the sandbox has no
  * Iceberg runtime; the layout mirrors it: snapshot id + manifest +
  * partition-pruned data files):
  *
  *   <root>/tiles/res=<r>/part-*.parquet     (partitioned by level)
  *   <root>/MANIFEST-<snapshot_id>.json      (levels, counts, build_ts)
  *
  * Every row carries lineage columns (north rule "per-partition lineage +
  * metrics"): `snapshot_id`, `build_ts`, `src_partition` (the shuffle
  * partition that produced the row — groupBy(cell) hashes by cell, so this
  * is reproducible and identifies the reducer for skew forensics).
  *
  * Scale notes: the write is partitioned by `res` so any later read of one
  * level is partition-pruned (≙ `layer_to_nodes`, SURVEY.md §1.2); resume
  * reads ONLY the leaf partition and re-aggregates the upper levels from
  * it — upper levels are never re-read, matching transform_tree's
  * discard-and-rebuild.
  */
object Snapshot {

  val LineageCols: Seq[String] = Seq("snapshot_id", "build_ts", "src_partition")

  /** Write a pyramid DataFrame (schema of [[TilePyramid.build]]) as a new
    * snapshot under `root`. Returns the per-level row counts recorded in
    * the manifest.
    *
    * Manifest counts ride the WRITE job itself as ONE `observe` metric, a
    * [[LevelCounts]] aggregate (rows per level 0..30 plus an out-of-range
    * slot) — a single pass over the data; the round-2 shape re-read the
    * freshly written snapshot to count it, doubling write-path IO at
    * scale. Levels outside 0..30 do not fail the write: they fall back to
    * a post-write count (correct, just not single-pass). */
  def write(pyramid: DataFrame, root: String, snapshotId: String,
            buildTs: Long): Map[Int, Long] =
    writeWith(pyramid, root, snapshotId, buildTs,
      partCols = Seq("res"), mode = "overwrite",
      recountRoot = s"$root/tiles")

  private def writeWith(pyramid: DataFrame, root: String, snapshotId: String,
                        buildTs: Long, partCols: Seq[String], mode: String,
                        recountRoot: String): Map[Int, Long] = {
    val withLineage = pyramid
      .withColumn("snapshot_id", lit(snapshotId))
      .withColumn("build_ts", lit(buildTs))
      .withColumn("src_partition", spark_partition_id())
    val obs = org.apache.spark.sql.Observation(s"snap-$snapshotId-$buildTs")
    withLineage.observe(obs, LevelCounts.of(col("res")).as("levels"))
      .write.mode(mode).partitionBy(partCols: _*)
      .parquet(s"$root/tiles")
    val counts = LevelCounts.toMap(obs.get("levels").asInstanceOf[Seq[Long]])
      .getOrElse( // exotic levels: graceful fallback to counting what was written
        withLineage.sparkSession.read.parquet(recountRoot)
          .groupBy(col("res")).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    val levels = counts.keys.toSeq.sorted
    val json = levels.map(r => s""""$r": ${counts(r)}""").mkString(
      s"""{"snapshot_id": "$snapshotId", "build_ts": $buildTs, "levels": {""",
      ", ", "}}")
    Files.write(Paths.get(s"$root/MANIFEST-$snapshotId.json"),
      json.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    counts
  }

  /** Versioned write — the Iceberg-semantics counterpart of [[write]]:
    * snapshots APPEND under a `snapshot_id=` partition, so every prior
    * version stays readable (time travel) and a reader pinned to one id is
    * partition-pruned past all other versions' files at the listing level.
    * Retention is directory removal of `tiles/snapshot_id=<id>` plus its
    * manifest — no rewrite of surviving snapshots. Layout:
    *
    *   <root>/tiles/snapshot_id=<id>/res=<r>/part-*.parquet
    *   <root>/MANIFEST-<id>.json
    *
    * The manifest counts ride the write job via the same single-pass
    * `observe` metric as [[write]]. */
  def writeVersioned(pyramid: DataFrame, root: String, snapshotId: String,
                     buildTs: Long): Map[Int, Long] =
    writeVersionedPartitioned(pyramid, root, snapshotId, buildTs, Nil)

  /** [[writeVersioned]] with an EVOLVED partition layout — the Iceberg
    * partition-evolution semantic: a NEW version may add partition columns
    * (e.g. a coarse-cell bucket derived from `cell`) without rewriting any
    * prior version; each version keeps its own directory layout under
    * `tiles/snapshot_id=<id>/...`, and [[readEvolved]] spans them. The
    * extra columns must be DERIVABLE from the data (hidden partitioning) so
    * readers of old versions can recompute them — the contract Iceberg's
    * spec-per-snapshot encodes in metadata, here carried by the
    * deterministic derivation expression at the read site. */
  def writeVersionedPartitioned(pyramid: DataFrame, root: String,
                                snapshotId: String, buildTs: Long,
                                extraPartCols: Seq[String]): Map[Int, Long] = {
    // Ids must survive Hive partition-path encoding verbatim: partitionBy
    // percent-escapes characters like ':' '=' '%' in the directory name,
    // so an id containing them would WRITE to `snapshot_id=a%3Ab` while
    // readAsOf probes `snapshot_id=a:b`. Reject rather than escape — the
    // id is user-facing in paths, manifests and lineage columns.
    require(snapshotId.matches("[A-Za-z0-9._-]+"),
      s"snapshot id '$snapshotId' contains characters the partition-path " +
        "encoding would rewrite; use [A-Za-z0-9._-] only")
    require(buildTs >= 0L, s"build_ts must be non-negative, got $buildTs")
    // A snapshot id is immutable once committed (Iceberg semantics):
    // appending the same id again would silently double the version's
    // rows while TRUNCATE_EXISTING replaced its manifest. A retried
    // build must mint a NEW id.
    require(!Files.exists(Paths.get(s"$root/MANIFEST-$snapshotId.json")),
      s"snapshot '$snapshotId' already exists under $root — snapshot ids " +
        "are immutable; retry with a new id")
    // The MANIFEST is the commit point (written after the data job). Data
    // files WITHOUT a manifest are a half-commit from a crashed write —
    // readAsOf refuses them, and a retry of the same id must not append
    // onto them: clear the orphaned partition directory first.
    val partDir = Paths.get(s"$root/tiles/snapshot_id=$snapshotId")
    if (Files.exists(partDir)) deleteRecursively(partDir)
    writeWith(pyramid, root, snapshotId, buildTs,
      partCols = Seq("snapshot_id", "res") ++ extraPartCols, mode = "append",
      recountRoot = s"$root/tiles/snapshot_id=$snapshotId")
  }

  /** Read ALL committed versions under a root whose partition layouts may
    * DIFFER ([[writeVersionedPartitioned]] — partition evolution): a plain
    * `read(root/tiles)` would fail on the inconsistent partition-directory
    * depths, so each version is listed and read under its OWN layout and
    * the union is by name, old versions carrying NULL for partition
    * columns they predate (callers re-derive them from the data — hidden
    * partitioning). Per-version partition PRUNING still applies before the
    * union: a filter on an evolved column prunes the versions that have
    * it and only scans (then filters) the ones that don't. */
  def readEvolved(spark: SparkSession, root: String): DataFrame =
    snapshots(root).map { case (id, _) => readAsOf(spark, root, id) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(p)) { stream =>
      stream.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.delete)
    }
  }

  /** Time travel: read exactly one snapshot version. The read is scoped
    * to the version's own directory (with `basePath` preserving the
    * snapshot_id partition column), so file LISTING touches only this
    * version — a filter over the root would list every version's files
    * before planner pruning discarded them. Gated on the MANIFEST (the
    * commit point): data files from a crashed, never-committed write are
    * not readable as a version. */
  def readAsOf(spark: SparkSession, root: String, snapshotId: String): DataFrame = {
    require(Files.exists(Paths.get(s"$root/MANIFEST-$snapshotId.json")),
      s"snapshot '$snapshotId' is not committed under $root (no manifest)")
    spark.read.option("basePath", s"$root/tiles")
      .parquet(s"$root/tiles/snapshot_id=$snapshotId")
  }

  /** Compact a committed version's data files in place (the Iceberg
    * `rewrite_data_files` analog): each `res=` partition of
    * `tiles/snapshot_id=<id>` is rewritten into ceil(bytes/targetBytes)
    * files. Rows, schema, partition layout and the MANIFEST are unchanged —
    * only the file count. Incremental writers (micro-batches, per-executor
    * appends) fragment a version into many small files; at scale that
    * multiplies scan tasks and listing cost, so compaction is the standing
    * maintenance job. Returns the per-level file count after compaction.
    *
    * Each level is rewritten to a dot-prefixed scratch dir (invisible to
    * Spark's file listing) and swapped in with two same-directory renames.
    * Each rename is atomic but the PAIR is not, so compaction first
    * RECOVERS any half-swap a crashed run left behind: a `.old-res=<r>`
    * dir with no live `res=<r>` sibling is the old level mid-swap — it is
    * moved back before anything else, so a killed run never loses a
    * committed level and a re-run heals it. Levels already at the target
    * file count are skipped (a standing nightly job over an
    * already-compact version does no IO). On an object store this
    * maintenance slot must still be scheduled around readers (true
    * snapshot isolation needs manifest-level file tracking, out of scope
    * for the plain-parquet layout).
    *
    * `sortBy` (the `rewrite_data_files` SORT-strategy analog): when set,
    * each level is rewritten RANGE-PARTITIONED + sorted within files on
    * those columns instead of coalesced, so every output file covers a
    * narrow, near-disjoint key range. That is what makes the per-file
    * min/max stats of [[writeFileStats]] decisive: on an unsorted layout
    * every file spans the whole key space and nothing prunes; after a
    * sorted rewrite a key-range scan plans to O(range) files. Sorted
    * compaction always rewrites (the existing files may have the right
    * COUNT but not the clustering). An existing FILES stats manifest is
    * refreshed in place after the rewrite — compaction deletes the files
    * it references, and a stale manifest would hand [[scanPruned]] dead
    * paths. */
  def compact(spark: SparkSession, root: String, snapshotId: String,
              targetBytes: Long = 128L << 20,
              sortBy: Seq[String] = Nil): Map[Int, Int] = {
    require(Files.exists(Paths.get(s"$root/MANIFEST-$snapshotId.json")),
      s"snapshot '$snapshotId' is not committed under $root (no manifest)")
    val base = Paths.get(s"$root/tiles/snapshot_id=$snapshotId")
    import scala.jdk.CollectionConverters._
    def ls(p: java.nio.file.Path, pred: String => Boolean) =
      scala.util.Using.resource(Files.list(p)) { s =>
        s.iterator().asScala.filter(q =>
          pred(q.getFileName.toString)).toSeq
      }
    // crash recovery: restore levels a killed swap left in the trash dir
    ls(base, _.startsWith(".old-res=")).foreach { trash =>
      val live = base.resolve(trash.getFileName.toString.stripPrefix(".old-"))
      if (!Files.exists(live)) Files.move(trash, live)
      else deleteRecursively(trash) // swap had completed; drop the old copy
    }
    var rewroteAny = false
    val counts = ls(base, _.startsWith("res=")).map { dir =>
      val res = dir.getFileName.toString.stripPrefix("res=").toInt
      val parts = ls(dir, _.endsWith(".parquet"))
      val bytes = parts.map(Files.size).sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (parts.size <= n && sortBy.isEmpty) res -> parts.size // no IO
      else {
        rewroteAny = true
        val tmp = base.resolve(s".compact-res=$res")
        if (Files.exists(tmp)) deleteRecursively(tmp)
        val level = spark.read.parquet(dir.toString)
        val rewritten =
          if (sortBy.isEmpty) level.coalesce(n)
          else level.repartitionByRange(n, sortBy.map(col): _*)
            .sortWithinPartitions(sortBy.map(col): _*)
        rewritten.write.mode("overwrite").parquet(tmp.toString)
        val trash = base.resolve(s".old-res=$res")
        Files.move(dir, trash)
        Files.move(tmp, dir)
        deleteRecursively(trash)
        res -> ls(dir, _.endsWith(".parquet")).size
      }
    }.toMap
    // Compaction replaced data files, so an existing file-stats manifest
    // now references DELETED parts — a stale FILES json would make
    // scanPruned hand the reader dead paths. Refresh it in place (the
    // stats column rides in the json, so the refresh is self-describing).
    // A no-op maintenance run (every level already compact) rewrote
    // nothing, so the manifest is still live — skip the footer sweep.
    val filesJson = Paths.get(s"$root/FILES-$snapshotId.json")
    if (rewroteAny && Files.exists(filesJson)) {
      val StatsCol = """"stats_col": "([^"]+)"""".r.unanchored
      new String(Files.readAllBytes(filesJson), "UTF-8") match {
        case StatsCol(c) => writeFileStats(spark, root, snapshotId, c)
        case _ => Files.delete(filesJson) // unreadable: stale is worse
      }
    }
    counts
  }

  /** One data file's entry in the file-stats manifest: path relative to
    * `<root>/tiles`, its `res=` partition value (-1 if unpartitioned),
    * row count, and min/max of the stats column. `hasStats` false means
    * the footer carried no usable statistics for the column (all-null
    * file, or a non-INT64 column) — such a file is NEVER pruned. */
  case class FileStat(path: String, res: Int, rows: Long,
                      min: Long, max: Long, hasStats: Boolean)

  private val ResInPath = "res=(\\d+)".r.unanchored

  /** Record per-FILE column stats for a committed snapshot version — the
    * Iceberg manifest-ENTRY analog (each data file's row count + lower/
    * upper bound of a key column, kept in table metadata so scan PLANNING
    * prunes files without touching them). Stats come from the parquet
    * FOOTERS of the version's files: a driver-side metadata read (no data
    * pages — footers are O(KB) regardless of file size), the same cost
    * class as the file listing itself. Written as
    * `FILES-<snapshotId>.json` beside the MANIFEST; re-running after
    * [[compact]] refreshes it (compaction changes the file set).
    *
    * At 10^12-row scale the win is planning-time: a key-range query over
    * a sort-compacted level opens O(range) files instead of listing-then-
    * filtering row groups inside every file (parquet row-group skipping
    * still needs every footer opened by some task; manifest pruning never
    * schedules the task at all). */
  def writeFileStats(spark: SparkSession, root: String, snapshotId: String,
                     statsCol: String = "cell"): Seq[FileStat] = {
    require(Files.exists(Paths.get(s"$root/MANIFEST-$snapshotId.json")),
      s"snapshot '$snapshotId' is not committed under $root (no manifest)")
    val tilesRoot = Paths.get(s"$root/tiles")
    val versioned = tilesRoot.resolve(s"snapshot_id=$snapshotId")
    val base = if (Files.isDirectory(versioned)) versioned else tilesRoot
    import scala.jdk.CollectionConverters._
    // Exclude dot-prefixed PATH COMPONENTS, not just file names: a crashed
    // sorted compact can leave a populated `.compact-res=*` scratch dir
    // whose part files must never enter the manifest (scanPruned would
    // read them alongside the live level — duplicated rows).
    def hidden(p: java.nio.file.Path) =
      base.relativize(p).iterator().asScala
        .exists(_.toString.startsWith("."))
    val files = scala.util.Using.resource(Files.walk(base)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          !hidden(p))
        .toSeq.sortBy(_.toString)
    }
    val conf = spark.sessionState.newHadoopConf()
    val stats = files.map { p =>
      val rel = tilesRoot.relativize(p).toString
      val res = rel match { case ResInPath(r) => r.toInt; case _ => -1 }
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      scala.util.Using.resource(
        org.apache.parquet.hadoop.ParquetFileReader.open(in)) { r =>
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val colStats = blocks.flatMap(b => b.getColumns.asScala
          .find(_.getPath.toDotString == statsCol).map(_.getStatistics))
        val longStats = colStats.collect {
          case s: org.apache.parquet.column.statistics.LongStatistics
            if !s.isEmpty && s.hasNonNullValue => s
        }
        if (longStats.size == blocks.size && blocks.nonEmpty)
          FileStat(rel, res, rows,
            longStats.map(_.genericGetMin.longValue).min,
            longStats.map(_.genericGetMax.longValue).max, hasStats = true)
        else // missing/all-null stats in some block: conservative entry
          FileStat(rel, res, rows, Long.MinValue, Long.MaxValue,
            hasStats = false)
      }
    }
    val body = stats.map(f =>
      s"""{"path": "${f.path}", "res": ${f.res}, "rows": ${f.rows}, """ +
        s""""min": ${f.min}, "max": ${f.max}, "has_stats": ${f.hasStats}}""")
      .mkString(",\n  ")
    val json =
      s"""{"snapshot_id": "$snapshotId", "stats_col": "$statsCol", "files": [
         |  $body
         |]}""".stripMargin
    Files.write(Paths.get(s"$root/FILES-$snapshotId.json"),
      json.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    stats
  }

  private val FileEntry =
    ("""\{"path": "([^"]+)", "res": (-?\d+), "rows": (\d+), """ +
      """"min": (-?\d+), "max": (-?\d+), "has_stats": (true|false)\}""").r

  /** Parse `FILES-<snapshotId>.json` back into [[FileStat]]s. */
  def readFileStats(root: String, snapshotId: String): Seq[FileStat] = {
    val p = Paths.get(s"$root/FILES-$snapshotId.json")
    require(Files.exists(p),
      s"no file-stats manifest for snapshot '$snapshotId' under $root — " +
        "run writeFileStats after the write (and after every compact)")
    FileEntry.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
      .map(m => FileStat(m.group(1), m.group(2).toInt, m.group(3).toLong,
        m.group(4).toLong, m.group(5).toLong, m.group(6) == "true"))
      .toSeq
  }

  /** Plan a key-range scan over a version using the file-stats manifest
    * (the Iceberg scan-planning analog): only files whose recorded
    * [min,max] of the stats column OVERLAPS [lo,hi] are read at all —
    * pruning is decided from the manifest on the driver, before any task
    * is scheduled. Pruning is CONSERVATIVE (overlap keeps the file; files
    * without stats always survive), so the returned frame is a superset
    * of the exact range — callers apply the precise predicate on top, and
    * correctness never depends on the layout. Returns
    * (frame, filesKept, filesTotal). */
  def scanPruned(spark: SparkSession, root: String, snapshotId: String,
                 lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val stats = readFileStats(root, snapshotId)
    val tiles = s"$root/tiles"
    // Staleness guard: compact's dir swap and the manifest refresh are two
    // steps — a crash between them leaves entries naming deleted files.
    // Any missing path means the whole manifest describes a previous file
    // set, so fall back to the unpruned (always-correct) version scan; the
    // next compact or writeFileStats heals the manifest.
    if (!stats.forall(f => Files.exists(Paths.get(s"$tiles/${f.path}")))) {
      val full = readAsOf(spark, root, snapshotId)
      return (full, stats.size, stats.size)
    }
    val kept = stats.filter(f => !f.hasStats || (f.min <= hi && f.max >= lo))
    val df =
      if (kept.isEmpty) readAsOf(spark, root, snapshotId).filter(lit(false))
      else spark.read.option("basePath", tiles)
        .parquet(kept.map(f => s"$tiles/${f.path}"): _*)
    (df, kept.size, stats.size)
  }

  /** Retention for the versioned store — the operational complement of
    * [[writeVersioned]]/[[readAsOf]] (the Iceberg `expire_snapshots`
    * analog; the reference's save-over workflows assume superseded trees
    * get deleted — RetrievalAugmentation.py:435-440): delete every
    * committed version EXCEPT the newest `keepLast`, plus any version with
    * `build_ts < olderThan`. Time travel without expiry is an
    * unbounded-storage design at scale; this bounds it.
    *
    * Crash order (deliberate, mirrored by the recovery sweep): the
    * MANIFEST is deleted FIRST. The manifest is the commit point —
    * without it the version is already unreadable ([[readAsOf]] refuses,
    * [[snapshots]] omits it) — so a crash between the manifest delete and
    * the data delete leaves an orphaned data directory that no reader can
    * observe, never a readable version with missing data files (the
    * data-first order would serve partial scans to a concurrently pinned
    * reader). Orphaned `snapshot_id=` directories (from a crashed expire
    * OR a crashed never-committed write — indistinguishable, both
    * unreadable) are swept at the start of the next expire run; like
    * [[compact]]'s maintenance slot, expire assumes no write to the same
    * root is in flight.
    *
    * Never expires every version: the NEWEST committed snapshot always
    * survives regardless of parameters (an over-broad `olderThan` must not
    * quietly empty the root — Iceberg's expire keeps the current snapshot
    * the same way), and `keepLast = 0` is rejected outright. Returns the
    * expired ids, oldest first. */
  def expireSnapshots(root: String, keepLast: Int = Int.MaxValue,
                      olderThan: Long = Long.MinValue): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val committed = snapshots(root) // oldest first
    // recovery sweep: data dirs with no manifest are unreadable orphans
    val tiles = Paths.get(s"$root/tiles")
    if (Files.isDirectory(tiles)) {
      import scala.jdk.CollectionConverters._
      val live = committed.map(_._1).toSet
      scala.util.Using.resource(Files.list(tiles)) { s =>
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("snapshot_id="))
          .filterNot(p =>
            live(p.getFileName.toString.stripPrefix("snapshot_id=")))
          .toSeq
      }.foreach(deleteRecursively)
    }
    val dropForCount = math.max(0, committed.size - keepLast)
    val newest = committed.lastOption.map(_._1)
    val expired = committed.zipWithIndex.collect {
      case ((id, ts), i)
        if (i < dropForCount || ts < olderThan) && !newest.contains(id) => id
    }
    expired.foreach { id =>
      Files.deleteIfExists(Paths.get(s"$root/MANIFEST-$id.json")) // commit
      Files.deleteIfExists(Paths.get(s"$root/FILES-$id.json"))
      val data = Paths.get(s"$root/tiles/snapshot_id=$id")
      if (Files.exists(data)) deleteRecursively(data)
    }
    expired
  }

  /** List (snapshot_id, build_ts) recorded under `root`, oldest first —
    * driver-side manifest scan (manifests are one tiny JSON each). */
  def snapshots(root: String): Seq[(String, Long)] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Seq.empty
    val Name = "MANIFEST-(.+)\\.json".r
    val Ts = """"build_ts": (-?\d+)""".r.unanchored
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(dir)) { stream =>
      stream.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case Name(id) =>
            new String(Files.readAllBytes(p), "UTF-8") match {
              case Ts(ts) => Some(id -> ts.toLong)
              case _      => None
            }
          case _ => None
        }
      }.toSeq
    }.sortBy(s => (s._2, s._1))
  }

  /** ORPHAN FILE DETECTION (Iceberg's `remove_orphan_files` action):
    * parquet files under `tiles/` that no committed snapshot can reach —
    * a crashed writer's version dir that never got its manifest (the
    * commit point is the manifest move, so data without one is dead by
    * construction), or dot-prefixed scratch left by an interrupted
    * compaction. Files in the FLAT layout (no `snapshot_id=` component)
    * belong to the unversioned store and are never flagged. Returns
    * tiles-relative paths, sorted — the audit listing a maintenance job
    * reviews before [[removeOrphans]] deletes.
    *
    * Files younger than [[OrphanMinAgeMs]] are never flagged: a version's
    * data lands before its manifest commits, so a fresh uncommitted file
    * may belong to a writer still in flight rather than a crashed one
    * (Iceberg's action guards the same race with its `older_than` cutoff).
    *
    * Scale shape: pure metadata — one directory walk against the
    * committed-id set; on an object store this is the same LIST +
    * manifest diff Iceberg's action runs, no data IO. */
  def orphanFiles(root: String): Seq[String] = {
    val tiles = Paths.get(root, "tiles")
    if (!Files.isDirectory(tiles)) return Seq.empty
    val committed = snapshots(root).map(_._1).toSet
    val cutoff = System.currentTimeMillis() - OrphanMinAgeMs
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(tiles)) { s =>
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          Files.getLastModifiedTime(p).toMillis < cutoff)
        .filter { p =>
          val comps = tiles.relativize(p).iterator().asScala
            .map(_.toString).toSeq
          val hidden = comps.exists(_.startsWith("."))
          val snap = comps.collectFirst {
            case c if c.startsWith("snapshot_id=") =>
              c.stripPrefix("snapshot_id=")
          }
          hidden || snap.exists(id => !committed.contains(id))
        }
        .map(p => tiles.relativize(p).toString).toSeq.sorted
    }
  }

  /** Minimum age of an [[orphanFiles]] hit: longer than any single
    * write job's data-to-manifest window. */
  val OrphanMinAgeMs: Long = 24L * 60 * 60 * 1000

  /** Delete every [[orphanFiles]] hit and the directories those deletions
    * leave empty. Committed data is untouched by construction — the
    * listing only ever names unreachable files — and so is any other empty
    * directory, which may be a concurrent writer's fresh output dir. */
  def removeOrphans(root: String): Seq[String] = {
    val tiles = Paths.get(root, "tiles")
    val victims = orphanFiles(root)
    def isEmptyDir(d: java.nio.file.Path) =
      scala.util.Using.resource(Files.list(d))(!_.iterator().hasNext)
    victims.foreach { rel =>
      val f = tiles.resolve(rel)
      Files.deleteIfExists(f)
      var d = f.getParent
      while (d != tiles && isEmptyDir(d)) { Files.delete(d); d = d.getParent }
    }
    victims
  }

  /** NAMED REFS (Iceberg-style tags/branches): a ref maps a stable NAME
    * to a snapshot id, so consumers pin "prod"/"stable" instead of raw
    * version ids and a retag atomically repoints every reader — the
    * Iceberg `refs` metadata re-expressed on the plain-parquet store
    * (reference analog: the pickle path the reference reloads by fixed
    * FILE NAME, RetrievalAugmentation.py:260-268 — a name→tree pointer).
    * One tiny file per ref under `_refs/`; [[setRef]] writes a temp file
    * and ATOMIC_MOVEs it over the name, so readers never observe a torn
    * ref — the same last-writer-wins commit the versioned manifests use.
    * Refs are metadata-only: retagging touches zero data files. A ref
    * can only name a committed snapshot (one with a MANIFEST), so a typo'd
    * id fails at tagging time instead of at the first pinned read. */
  def setRef(root: String, name: String, snapshotId: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad ref name: $name")
    require(Files.exists(Paths.get(s"$root/MANIFEST-$snapshotId.json")),
      s"snapshot '$snapshotId' is not committed under $root (no manifest)")
    val dir = Paths.get(root, "_refs")
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".$name", ".tmp")
    Files.write(tmp, snapshotId.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(s"$name.ref"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve a ref name to its snapshot id (fails loud on a dangling
    * name — a silent default would mask a broken deploy pin). */
  def resolveRef(root: String, name: String): String = {
    val p = Paths.get(root, "_refs", s"$name.ref")
    require(Files.exists(p), s"unknown ref: $name")
    new String(Files.readAllBytes(p), "UTF-8").trim
  }

  /** All refs of a store as (name, snapshot_id). */
  def refs(root: String): Seq[(String, String)] = {
    val dir = Paths.get(root, "_refs")
    if (!Files.isDirectory(dir)) return Seq.empty
    val Name = "(.+)\\.ref".r
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(dir)) { stream =>
      stream.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case Name(n) => Some(n -> new String(
            Files.readAllBytes(p), "UTF-8").trim)
          case _ => None
        }
      }.toSeq
    }.sortBy(_._1)
  }

  /** Read the snapshot a ref points at — [[readAsOf]] through one level
    * of naming indirection (partition-pruned like any pinned read). */
  def readByRef(spark: SparkSession, root: String, name: String): DataFrame =
    readAsOf(spark, root, resolveRef(root, name))

  /** Read a snapshot (all levels). `res` is a partition column — filters on
    * it prune at the file-listing level. */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/tiles")

  /** Read exactly one level (partition-pruned scan). */
  def level(spark: SparkSession, root: String, res: Int): DataFrame =
    read(spark, root).filter(col("res") === res)

  /** Resume: read ONLY the leaf level of a snapshot and rebuild all upper
    * levels `minRes..leafRes-1` from it
    * (≙ transform_tree.py:58-119: keep layer 0, reconstruct the rest).
    * The leaves pass through unchanged; every upper level comes from ONE
    * [[TilePyramid.combineByCell]] over the leaf tiles re-keyed to their
    * ancestors ([[TilePyramid.toAncestors]]): one cell shuffle, not one
    * per level. Returns the rebuilt quadkey pyramid INCLUDING the
    * leaves. */
  def rebuildFromLeaves(spark: SparkSession, root: String, leafRes: Int,
                        minRes: Int): DataFrame = {
    val leaves = level(spark, root, leafRes).drop(LineageCols: _*)
    if (minRes >= leafRes) leaves
    else leaves.unionByName(TilePyramid.combineByCell(TilePyramid.toAncestors(
      leaves, minRes until leafRes, graft.geo.QuadkeyTiling)))
  }

  /** INCREMENTAL pyramid maintenance — fold a DELTA corpus into an
    * existing snapshot WITHOUT a full rebuild (the batch counterpart of
    * the streaming maintenance, and the nightly-delta story at 100 TB:
    * re-aggregating the whole corpus for a 0.1% addition is the failure
    * mode). Additions only; every tile summary is an associative combiner
    * (sums, bbox min/max, phash bit counts), so:
    *
    *  1. delta leaf tiles — ONE scan of the delta corpus;
    *  2. delta rows = those tiles re-keyed to their ancestor at every
    *     level `minRes..leafRes` ([[TilePyramid.toAncestors]]); touched
    *     cells = the distinct cells of the delta rows;
    *  3. merged = untouched old tiles (anti-join) ∪ ONE
    *     [[TilePyramid.combineByCell]] over the touched old tiles
    *     (semi-join) and the delta rows.
    *
    * Step 3 is exact because the old tile of a touched cell already
    * summarizes every old image under it: combining it with the delta's
    * contribution to that cell gives the from-scratch tile. The old
    * pyramid must therefore hold every level `minRes..leafRes` for the
    * cells it covers (a [[TilePyramid.build]] early stop that dropped
    * coarse levels breaks this). Work scales with |delta| x levels plus
    * the touched old tiles, never with corpus size, and the whole merge
    * is one combine whatever the number of levels. Equality with a
    * from-scratch rebuild of the full corpus is oracle-proven
    * (q_delta_merge) and spec-pinned across every level (SnapshotSpec).
    * Returns the merged pyramid `minRes..leafRes`, EAGERLY MATERIALIZED
    * (`localCheckpoint(eager = true)`) and persisting nothing else, so a
    * long-lived session running nightly deltas holds exactly ONE
    * result-sized cache per merge, released when the returned frame is
    * GC'd. The lineage truncation is the usual localCheckpoint trade:
    * losing an executor during the merged frame's lifetime forfeits
    * recompute — callers that need durability write the result to a
    * snapshot (which q_delta_merge's consumers do) rather than keeping
    * the ephemeral frame. */
  def mergeDelta(spark: SparkSession, root: String, delta: DataFrame,
                 leafRes: Int, minRes: Int,
                 strategy: graft.geo.TilingStrategy = graft.geo.QuadkeyTiling)
      : DataFrame =
    mergeDeltaInto(read(spark, root),
      TilePyramid.leafTiles(delta, leafRes, strategy),
      leafRes, minRes, strategy)

  /** The merge core over an explicit OLD pyramid frame and the delta as
    * ALREADY-AGGREGATED leaf tiles (schema of [[TilePyramid.leafTiles]]
    * at `leafRes`) — for callers that read the old state some other way
    * (a versioned snapshot via [[readAsOf]], the streaming maintenance
    * sink's previous version) or whose delta arrives pre-tiled (a
    * streaming micro-batch's per-cell increments); [[mergeDelta]]
    * delegates here. An empty old pyramid yields the delta's own
    * pyramid. */
  def mergeDeltaInto(oldPyramid: DataFrame, deltaLeaf: DataFrame,
                     leafRes: Int, minRes: Int,
                     strategy: graft.geo.TilingStrategy = graft.geo.QuadkeyTiling)
      : DataFrame =
    mergePlan(oldPyramid, deltaLeaf, leafRes, minRes, strategy)
      .localCheckpoint(true)

  /** The lazy plan [[mergeDeltaInto]] materializes. The delta leaf
    * aggregation feeds both the touched cells and the combine; the two
    * references share one exchange (ReuseExchange), so the delta is
    * scanned once without a persist. */
  private[graft] def mergePlan(oldPyramid: DataFrame, deltaLeaf: DataFrame,
                               leafRes: Int, minRes: Int,
                               strategy: graft.geo.TilingStrategy)
      : DataFrame = {
    val old = oldPyramid.drop(LineageCols: _*)
      .filter(col("res").between(minRes, leafRes))
    val deltaRows = TilePyramid.toAncestors(deltaLeaf, minRes to leafRes,
      strategy)
    val touched = deltaRows.select(col("cell")).distinct()
    old.join(touched, Seq("cell"), "left_anti")
      .unionByName(TilePyramid.combineByCell(
        old.join(touched, Seq("cell"), "left_semi").unionByName(deltaRows),
        strategy))
  }

  /** Stats transfer between snapshots (≙ `update_kmean_with_index`,
    * raptor/merge_distance&tree_exam.py:687-766 — compute index counts on
    * one tree, write them into another, save): per-cell stats of `srcRoot`
    * are joined into `dstRoot`'s tiles as a `hot_cnt` column (0 where the
    * source has no such cell) and persisted as a NEW snapshot at `outRoot`.
    * The join is a shuffle equi-join on the cell key; both reads are
    * partition-pruned by level when `res` filters are pushed by callers. */
  def transferStats(spark: SparkSession, srcRoot: String, dstRoot: String,
                    outRoot: String, snapshotId: String,
                    buildTs: Long): DataFrame = {
    val src = read(spark, srcRoot)
      .select(col("cell"), col("cnt").as("hot_cnt"))
    val merged = read(spark, dstRoot).drop(LineageCols: _*)
      .join(src, Seq("cell"), "left_outer")
      .withColumn("hot_cnt", coalesce(col("hot_cnt"), lit(0L)))
    write(merged, outRoot, snapshotId, buildTs)
    read(spark, outRoot)
  }

  /** Schema migration on read (≙ `migrate_tree_schema`,
    * raptor/merge_distance&tree_exam.py:769-810 — load an old snapshot
    * lacking a column, add it with a default, persist): any column named in
    * `defaults` that the stored snapshot lacks is added with its default
    * expression; present columns are untouched. */
  def readMigrated(spark: SparkSession, root: String,
                   defaults: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val df = read(spark, root)
    defaults.foldLeft(df) { case (d, (name, default)) =>
      if (d.columns.contains(name)) d else d.withColumn(name, default)
    }
  }

  /** EQUALITY-DELETE file (Iceberg v2 merge-on-read row-level deletes):
    * commit a small parquet of delete KEYS against a committed snapshot —
    * no data file is rewritten. The delete file's SCHEMA is its equality
    * key set (the Iceberg v2 contract: an equality delete carries the
    * columns it matches on), so readers discover the join key from the
    * file itself. Delete files accumulate under
    * `<root>/deletes/snapshot_id=<id>/del=<deleteId>/` and are applied in
    * deleteId order by [[readMergeOnRead]]; folding them into the data
    * files is the separate compaction maintenance job (same split Iceberg
    * makes: cheap O(deleted-keys) commit now, amortized rewrite later —
    * at a 10^12-row table a predicate delete that rewrote data files
    * would be a full-table job). */
  def writeEqualityDeletes(keys: DataFrame, root: String, snapshotId: String,
                           deleteId: String): Unit = {
    require(Files.exists(Paths.get(s"$root/MANIFEST-$snapshotId.json")),
      s"snapshot '$snapshotId' is not committed under $root (no manifest)")
    keys.repartition(1).write.mode("overwrite")
      .parquet(s"$root/deletes/snapshot_id=$snapshotId/del=$deleteId")
  }

  /** Merge-on-read of a versioned snapshot: the base files of
    * `snapshotId` minus every committed equality-delete file, applied in
    * deleteId (commit) order as BROADCAST anti-joins — delete key sets
    * are small by construction (they are the predicate's distinct keys),
    * so at scale each delete costs one map-side hash probe per row, never
    * a shuffle of the base table. With no delete files this IS
    * [[readAsOf]]. */
  def readMergeOnRead(spark: SparkSession, root: String,
                      snapshotId: String): DataFrame = {
    val base = readAsOf(spark, root, snapshotId)
    val delRoot = Paths.get(s"$root/deletes/snapshot_id=$snapshotId")
    if (!Files.exists(delRoot)) base
    else {
      val stream = Files.list(delRoot)
      val dirs =
        try {
          val it = stream.iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) buf += it.next().getFileName.toString
          buf.filter(_.startsWith("del=")).sorted.toSeq
        } finally stream.close()
      dirs.foldLeft(base) { (df, d) =>
        val keys = spark.read.parquet(s"$delRoot/$d")
        df.join(broadcast(keys), keys.columns.toSeq, "left_anti")
      }
    }
  }

  /** Per-partition lineage metrics of a snapshot: rows and cells produced
    * by each (level, source shuffle partition) — the metrics sink of the
    * north rule (≙ per-layer stats, raptor/utils.py:222-271). */
  def lineageMetrics(spark: SparkSession, root: String): DataFrame =
    read(spark, root)
      .groupBy(col("res"), col("snapshot_id"), col("src_partition"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_images"))
      .orderBy(col("res"), col("src_partition"))
}
