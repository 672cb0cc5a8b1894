package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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
  * [[ViewLayout.publish]]'s. Per micro-batch the merge plan folds the
  * batch to its last op per key (one shuffle on the batch only), then
  * full-outer-merges ONLY the touched buckets with their batch slice —
  * the incremental form of [[graft.cdc.Changelog.applyChangelog]]:
  * batch wins, deletes drop rows. A 1 GB batch against a 100 TB /
  * 4096-bucket table reads and rewrites only the ~25 GB of buckets it
  * touches. Optional per-version zone maps give the live view
  * file-skipping range reads ([[readCurrentRange]]).
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

  private def emptySnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Double, Long)].toDF("tbl", "id", "value", "lastPos")
  }

  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptySnapshot(spark) else spark.read.parquet(dirs: _*)

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
    readDirs(spark, ViewLayout.currentBucketDirs(tableDir))

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
    readDirs(spark, ViewLayout.bucketDirs(tableDir, v))
  }

  /** Keep the newest `retain` versions (see [[ViewLayout.pruneVersions]]). */
  def pruneVersions(tableDir: String, retain: Int): Unit =
    ViewLayout.pruneVersions(tableDir, retain)

  /** Merge one batch of changes into the snapshot and publish
    * ([[ViewLayout.publish]]: idempotent per batchId). `numBuckets`
    * fixes the table's key-bucket count (size it so one bucket is a few
    * executor-partitions of data at the target scale) and every later
    * call must pass the same value; `retainVersions` bounds on-disk
    * history (min 2: current + previous); `statsCols` maintains
    * per-version zone maps on those columns. */
  def mergeBatch(batch: Dataset[Change], tableDir: String, batchId: Long,
                 numBuckets: Int = 64, retainVersions: Int = 2,
                 statsCols: Seq[String] = Nil): Unit =
    ViewLayout.publish(tableDir, batchId, numBuckets, retainVersions, "table") { p =>
      val spark = batch.sparkSession
      val folded = Changelog.lastOpPerKey(batch.toDF(), "tbl", "id")
        .select(col("tbl"), col("id"), col("value"), col("op"), col("pos"))
        .withColumn("__bucket", p.bucket(col("tbl"), col("id")))
      val wrote = p.rewrite(folded.select("__bucket")) { curDirs =>
        readDirs(spark, curDirs)
          .withColumn("__bucket", p.bucket(col("tbl"), col("id"))).as("c")
          .join(folded.as("b"),
            col("c.tbl") === col("b.tbl") && col("c.id") === col("b.id"), "full_outer")
          .filter(coalesce(col("b.op"), lit("upsert")) === "upsert")
          .select(
            coalesce(col("b.tbl"), col("c.tbl")).as("tbl"),
            coalesce(col("b.id"), col("c.id")).as("id"),
            when(col("b.id").isNotNull, col("b.value")).otherwise(col("c.value")).as("value"),
            when(col("b.id").isNotNull, col("b.pos")).otherwise(col("c.lastPos")).as("lastPos"),
            coalesce(col("b.__bucket"), col("c.__bucket")).as("__bucket"))
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

  /** Start materializing a changelog stream into `tableDir`.
    * `retainVersions` > 2 keeps that much [[readVersion]] time-travel
    * history on disk. `statsCols` (e.g. `Seq("lastPos")`) maintains a
    * per-version zone-map manifest so [[readCurrentRange]] can skip
    * files — `lastPos` is the natural choice: each version's files
    * carry that batch's position range, so "rows changed since pos P"
    * reads only recently-rewritten buckets. */
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
    * (each version's `_zonemap` covers exactly the files that version
    * wrote; only files under bucket dirs the current manifest actually
    * references count). A version without a manifest (written before
    * stats were enabled) contributes all its referenced bucket dirs —
    * conservative, never a false skip. */
  def currentRangeFiles(spark: SparkSession, tableDir: String, statsCol: String,
                        lo: Column, hi: Column): Seq[String] =
    ViewLayout.currentVersion(tableDir) match {
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
            def manifestHas(colName: String): Boolean =
              spark.read.parquet(zm).schema.fieldNames.toSet
                .intersect(Set(s"min_$colName", s"max_$colName")).size == 2
            if (Files.exists(Paths.get(tableDir, ver, ZoneMap.manifestDir)) &&
                manifestHas(statsCol))
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
    * bounds are kept), scanning only intersecting files. */
  def readCurrentRange(spark: SparkSession, tableDir: String, statsCol: String,
                       lo: Column, hi: Column): DataFrame = {
    val files = currentRangeFiles(spark, tableDir, statsCol, lo, hi)
    val base =
      if (files.isEmpty) emptySnapshot(spark)
      else spark.read.parquet(files: _*).select(
        col("tbl"), col("id"), col("value"), col("lastPos"))
    base.filter(col(statsCol) >= lo && col(statsCol) <= hi)
  }
}
