package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.cdc.Changelog
import graft.sinks.ZoneMap
import graft.streaming.ChangelogStream.Change

/** Keyed-table materialization sink: maintains an always-current
  * parquet table from a changelog stream — the end-to-end form of the
  * reference's headline use cases ("populating a search index live",
  * "building live views of data for caching or analytics", reference
  * `README.md`).
  *
  * The table is a [[ViewLayout]] view keyed by `(tbl, id)` (the same
  * write-once co-location idea as [[graft.sources.Bucketed]]); its
  * layout, atomic publish and replay idempotence are
  * [[ViewLayout.publish]]'s. It is merge-on-read: per micro-batch the
  * merge folds the batch to its last op per key (one shuffle on the
  * batch only) and writes that once, deletes kept as tombstones, as one
  * delta file set ([[ViewLayout.Publication.appendDelta]]). A batch
  * of more than numBuckets/2 keys keeps the delta as a `-1` manifest
  * line — an O(batch) publish in one job; a smaller one touches at
  * most half the buckets and is folded into them at once; and the live
  * deltas are folded into every bucket they touch once they outgrow
  * the base, in bytes or in files. A fold is the incremental form of
  * [[graft.cdc.Changelog.applyChangelog]]: the newest delta wins per
  * key, base rows no delta key matches stay (an anti-join the planner
  * broadcasts for small deltas, so the base is never shuffled), and
  * the deltas' upserts are added; all deltas are one scan, so a read
  * costs the same jobs however many are live, and its data grows
  * with their bytes, which compaction bounds by the base's. Optional
  * per-version zone maps give
  * the live view file-skipping range reads ([[readCurrentRange]]).
  *
  * Every read — the live view, time travel, range reads and the merge's
  * own read of the touched buckets — resolves its files from the
  * version manifest, scans them with the table's fixed schema
  * ([[ViewLayout.read]]: no listing or schema-inference job) and folds
  * the version's deltas over its buckets.
  */
object UpsertSink {

  /** The table's recorded bucket count, if it has ever published
    * (see [[ViewLayout.storedNumBuckets]]). */
  def storedNumBuckets(tableDir: String): Option[Int] =
    ViewLayout.storedNumBuckets(tableDir)

  /** The snapshot's fixed column set (the canonical entity frame). */
  private val snapshotSchema = StructType(Seq(
    StructField("tbl", StringType), StructField("id", LongType),
    StructField("value", DoubleType), StructField("lastPos", LongType)))

  /** A delta row: the batch's last op per key, tombstones kept. */
  private val deltaSchema = snapshotSchema.add(StructField("op", StringType))

  private def readPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    ViewLayout.read(spark, paths, snapshotSchema)

  /** The table as of bucket `paths` with `deltaDirs` (newest first)
    * folded over them. */
  private def readFolded(spark: SparkSession, paths: Seq[String], deltaDirs: Seq[String]): DataFrame =
    fold(spark, paths, ViewLayout.Deltas.read(spark, deltaDirs, deltaSchema))

  /** Fold `deltas` over the rows of bucket `paths`: the newest op per
    * key wins, base rows that no delta key matches stay, and the
    * winning upserts are added. The deltas are one scan and, when
    * there are several, one window, however many there are; with no
    * base the deltas' upserts are the table. */
  private def fold(spark: SparkSession, paths: Seq[String], deltas: ViewLayout.Deltas): DataFrame =
    if (deltas.count == 0) readPaths(spark, paths)
    else {
      val age = ViewLayout.Deltas.Age
      val newest =
        if (deltas.count == 1) deltas.rows.drop(age)
        else deltas.rows
          .withColumn("__rn", row_number().over(Window.partitionBy("tbl", "id").orderBy(age)))
          .filter(col("__rn") === 1).drop(age, "__rn")
      val upserts = newest.filter(col("op") === "upsert").drop("op")
      if (paths.isEmpty) upserts
      else readPaths(spark, paths).join(newest, Seq("tbl", "id"), "left_anti").union(upserts)
    }

  /** Zone-map refresh for the JUST-WRITTEN version dir: per-file
    * min/max from parquet footers (file-count-sized — no second pass
    * over the bucket data). Untouched buckets keep the zone maps their
    * own writing version produced. */
  private def writeZoneMap(spark: SparkSession, p: ViewLayout.Publication,
                           statsCols: Seq[String]): Unit =
    if (statsCols.nonEmpty)
      ZoneMap.writeManifest(spark, s"${p.dir}/${p.version}", statsCols.map(c => snapshotSchema(c)))

  /** Read the currently-published snapshot (empty frame if none). */
  def readCurrent(spark: SparkSession, tableDir: String): DataFrame =
    readAt(spark, tableDir, ViewLayout.currentVersion(tableDir))

  /** The table as `version`'s manifest holds it — resolved once, so a
    * publish that flips the pointer meanwhile cannot pair one
    * version's buckets with another's deltas. */
  private def readAt(spark: SparkSession, tableDir: String, version: Option[String]): DataFrame =
    readFolded(spark, version.toSeq.flatMap(ViewLayout.bucketDirs(tableDir, _)),
      version.toSeq.flatMap(ViewLayout.deltaDirs(tableDir, _)))

  /** Batch ids whose manifests are still on disk, ascending — the
    * versions [[readVersion]] can time-travel to. */
  def retainedVersions(tableDir: String): Seq[Long] =
    ViewLayout.manifestVersions(tableDir)

  /** Time travel: the table exactly as published by batch `batchId`.
    * Works for any version whose manifest retention
    * (`retainVersions`) still holds — version directories are shared
    * structurally, so a retained historical snapshot costs only the
    * buckets that have since been rewritten. Raises (with the
    * retained list) on a pruned or never-published version rather
    * than silently serving the wrong data. */
  def readVersion(spark: SparkSession, tableDir: String, batchId: Long): DataFrame = {
    val v = s"v$batchId"
    require(Files.exists(Paths.get(tableDir, s"$v.manifest")),
      s"version $v is not retained at $tableDir " +
        s"(retained: ${retainedVersions(tableDir).mkString(", ")})")
    readAt(spark, tableDir, Some(v))
  }

  /** Keep the newest `retain` versions (see [[ViewLayout.pruneVersions]]). */
  def pruneVersions(tableDir: String, retain: Int): Unit =
    ViewLayout.pruneVersions(tableDir, retain)

  /** Merge one batch of changes into the snapshot and publish
    * ([[ViewLayout.publish]]: idempotent per batchId). The batch is
    * evaluated once and written as one delta file set, which is kept
    * when it holds more than numBuckets/2 keys and folded into the
    * buckets it touches otherwise, or once the live deltas outgrow the
    * base ([[ViewLayout.Publication.appendDelta]]). Every read beside
    * live deltas pays one scan of them all and, with more than one,
    * a window over their keys: work that grows with the deltas'
    * bytes, up to the base's, until they are folded. `numBuckets` fixes
    * the table's key-bucket count (size it so one bucket is a few
    * executor-partitions of data at the target scale) and every later
    * call must pass the same value; `retainVersions` bounds on-disk
    * history (min 2: current + previous); `statsCols` maintains
    * per-version zone maps on those columns for the bucket data a
    * version writes (a kept delta is always read). */
  def mergeBatch(batch: Dataset[Change], tableDir: String, batchId: Long,
                 numBuckets: Int = 64, retainVersions: Int = 2,
                 statsCols: Seq[String] = Nil): Unit =
    ViewLayout.publish(tableDir, batchId, numBuckets, retainVersions, "table") { p =>
      val spark = batch.sparkSession
      val delta = Changelog.lastOpPerKey(batch.toDF(), "tbl", "id")
        .select(col("tbl"), col("id"), col("value"), col("pos").as("lastPos"), col("op"))
      val wrote = p.appendDelta(delta, col("tbl"), col("id")) { (curDirs, deltas) =>
        fold(spark, curDirs, deltas).withColumn("__bucket", p.bucket(col("tbl"), col("id")))
      }
      if (wrote) writeZoneMap(spark, p, statsCols)
      Nil
    }

  /** Re-shard a grown table to `newN` buckets, in place
    * ([[ViewLayout.rebucket]]; the writer must be stopped meanwhile). */
  def rebucket(spark: SparkSession, tableDir: String, newN: Int,
               retainVersions: Int = 2, statsCols: Seq[String] = Nil): Unit =
    ViewLayout.rebucket(tableDir, newN, retainVersions) { p =>
      p.write(readCurrent(spark, tableDir).withColumn("__bucket", p.bucket(col("tbl"), col("id"))))
      writeZoneMap(spark, p, statsCols)
      Nil
    }

  /** Start materializing a changelog stream into `tableDir`, one
    * [[mergeBatch]] per micro-batch: a batch of more than numBuckets/2
    * keys publishes one delta file set, a smaller one rewrites its
    * buckets, and the deltas are folded into the buckets once they
    * outgrow them. `retainVersions` > 2 keeps that much [[readVersion]]
    * time-travel history on disk. `statsCols` (e.g. `Seq("lastPos")`)
    * maintains a per-version zone-map manifest so [[readCurrentRange]]
    * can skip files — `lastPos` is the natural choice: each version's
    * bucket files carry that batch's position range, so "rows changed
    * since pos P" reads only recently-rewritten buckets, plus the
    * deltas. */
  def materialize(changes: Dataset[Change], tableDir: String,
                  checkpointDir: String, numBuckets: Int = 64,
                  retainVersions: Int = 2,
                  statsCols: Seq[String] = Nil): StreamingQuery =
    changes.writeStream
      .foreachBatch((batch: Dataset[Change], batchId: Long) =>
        mergeBatch(batch, tableDir, batchId, numBuckets, retainVersions, statsCols))
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The current snapshot's data files whose zone on `statsCol`
    * intersects `[lo, hi]` — resolved per referenced VERSION dir
    * (each version's `_zonemap` covers exactly the bucket files that
    * version wrote; only files under bucket dirs the current manifest
    * actually references count). A version without a manifest (written
    * before stats were enabled) contributes all its referenced bucket
    * dirs — conservative, never a false skip. The current deltas'
    * data files follow, always: a delta carries no zone map, and a
    * fold needs every delta key. */
  def currentRangeFiles(spark: SparkSession, tableDir: String, statsCol: String,
                        lo: Column, hi: Column): Seq[String] = {
    val v = ViewLayout.currentVersion(tableDir)
    rangeBucketFiles(spark, tableDir, v, statsCol, lo, hi) ++
      ViewLayout.dataFiles(spark, v.toSeq.flatMap(ViewLayout.deltaDirs(tableDir, _))).map(_.getPath.toString)
  }

  private def rangeBucketFiles(spark: SparkSession, tableDir: String, version: Option[String],
                               statsCol: String, lo: Column, hi: Column): Seq[String] =
    version match {
      case None => Nil
      case Some(v) =>
        val bucketDirs = ViewLayout.readBucketManifest(tableDir, v).values.toSeq
        bucketDirs.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1).flatMap {
          case (ver, dirs) =>
            val zm = s"$tableDir/$ver/${ZoneMap.manifestDir}"
            // a version may predate zone maps entirely, or carry a
            // manifest built for DIFFERENT statsCols (the sink's
            // statsCols changed between batches) — both degrade to
            // the conservative all-referenced-dirs read, never a
            // false skip
            if (Files.exists(Paths.get(tableDir, ver, ZoneMap.manifestDir)) &&
                Set(s"min_$statsCol", s"max_$statsCol").subsetOf(ZoneMap.manifestColumns(spark, zm)))
              ZoneMap.candidateFilesAt(spark, zm, statsCol, lo, hi)
                // the version's manifest covers every file IT wrote;
                // keep only files under bucket dirs still referenced
                .filter(f => dirs.exists(d => f.contains(s"/$d/")))
            else dirs.sorted.map(d => s"$tableDir/$d")
        }
    }

  /** Range read over the LIVE view with zone-map file skipping:
    * result-identical to `readCurrent(...).filter(statsCol ∈ [lo,
    * hi])` (the residual filter drops in-file non-matches; unknown
    * bounds are kept), scanning only intersecting bucket files and the
    * deltas. The deltas fold over the candidates before the filter, so
    * a key whose newest op moved it out of the range, or deleted it,
    * leaves the result; a skipped bucket file holds no row in range. */
  def readCurrentRange(spark: SparkSession, tableDir: String, statsCol: String,
                       lo: Column, hi: Column): DataFrame = {
    val v = ViewLayout.currentVersion(tableDir)
    readFolded(spark, rangeBucketFiles(spark, tableDir, v, statsCol, lo, hi),
      v.toSeq.flatMap(ViewLayout.deltaDirs(tableDir, _)))
      .filter(col(statsCol) >= lo && col(statsCol) <= hi)
  }
}
