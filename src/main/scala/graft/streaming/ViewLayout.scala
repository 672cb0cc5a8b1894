package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.graftbridge.FileBridge
import org.apache.spark.sql.types.StructType

/** The versioned bucket-manifest layout and the one publish protocol
  * behind every live view ([[UpsertSink]], [[AggView]], [[JoinView]]).
  * See [[publish]] for the layout and the protocol; each view supplies
  * only its key, its merge plan and any extra manifest line.
  *
  * Manifest lines a parser doesn't recognize are tolerated everywhere
  * here; torn lines from pre-atomic-write crashes are skipped, not a
  * crash — the pruner must never die on an orphan it exists to clean.
  */
private[graft] object ViewLayout {

  private val currentFile = "_CURRENT"
  private val metaFile = "_META"

  /** Atomic small-file write: tmp + ATOMIC_MOVE. A crash mid-write can
    * never leave a torn file visible. */
  private def writeAtomic(dir: String, name: String, body: String): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def currentVersion(dir: String): Option[String] = {
    val p = Paths.get(dir, currentFile)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  /** The recorded bucket count, if the view has ever published.
    * `numBuckets` is part of the layout: rows land in `pmod(hash, n)`
    * buckets, so merging with a DIFFERENT n would look keys up in the
    * wrong buckets and silently resurrect stale rows. */
  def storedNumBuckets(dir: String): Option[Int] = {
    val p = Paths.get(dir, metaFile)
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p), "UTF-8").linesIterator
      .collectFirst { case s if s.startsWith("numBuckets=") =>
        s.stripPrefix("numBuckets=").trim.toInt }
  }

  /** Enforce the pinned bucket count before a merge touches anything. */
  private def requireSameBuckets(dir: String, numBuckets: Int, what: String): Unit =
    storedNumBuckets(dir).foreach { stored =>
      require(stored == numBuckets,
        s"$what at $dir was created with numBuckets=$stored; merge called " +
          s"with numBuckets=$numBuckets — the bucket count is fixed at " +
          "creation (rehashing would corrupt the merge)")
    }

  /** Version numbers with a manifest on disk, ascending (orphan data
    * dirs from a pre-publish crash don't count, so a replay re-uses and
    * Overwrites the orphan's number). */
  def manifestVersions(dir: String): Seq[Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.matches("v\\d+\\.manifest"))
      .map(_.getName.stripSuffix(".manifest").drop(1).toLong)
      .sorted.toSeq

  /** Next version name to publish under. Version numbers are a PUBLISH
    * COUNTER, not batch ids — decoupled so a non-batch publication
    * ([[rebucket]]) can slot between batches without colliding with the
    * engine's future batch ids. While a stream is the only publisher the
    * two coincide (batch ids are contiguous from 0). */
  private def nextVersion(dir: String): String =
    s"v${manifestVersions(dir).lastOption.map(_ + 1).getOrElse(0L)}"

  /** The value of `version`'s `<tag> <value>` manifest line, if any
    * (`batch` on every manifest, `dim` on [[JoinView]]'s). */
  def manifestTag(dir: String, version: String, tag: String): Option[String] =
    tagged(manifestLines(dir, version), tag)

  private def tagged(lines: Seq[String], tag: String): Option[String] =
    lines.collectFirst { case s if s.startsWith(s"$tag ") => s.stripPrefix(s"$tag ").trim }

  /** The batch id that published the CURRENT version — the replay-
    * idempotence token. Back-compat: layouts from before the publish
    * counter named versions `v<batchId>` directly with no batch line,
    * so fall back to parsing the version name. */
  private def publishedBatch(dir: String): Option[Long] =
    currentVersion(dir).flatMap { v =>
      manifestTag(dir, v, "batch").map(_.toLong)
        .orElse(Some(v.drop(1)).filter(_.forall(_.isDigit)).map(_.toLong))
    }

  /** All non-empty manifest lines for `version`. */
  private def manifestLines(dir: String, version: String): Seq[String] = {
    val p = Paths.get(dir, s"$version.manifest")
    if (!Files.exists(p)) Seq.empty
    else new String(Files.readAllBytes(p), "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
  }

  /** Bucket id → view-relative data dir, from `<int> <dir>` lines; any
    * other line (torn writes, tagged extras) is skipped. */
  private def bucketLines(lines: Seq[String]): Map[Int, String] =
    lines.flatMap { line =>
      line.split(" ", 2) match {
        case Array(b, d) if b.nonEmpty && b.forall(_.isDigit) && d.nonEmpty =>
          Some(b.toInt -> d)
        case _ => None
      }
    }.toMap

  /** Delta dirs from `-1 v<N>/<dir>` lines (see [[publish]]),
    * view-relative and newest version first — the order a fold applies
    * them in. */
  private def deltaLines(lines: Seq[String]): Seq[String] =
    lines.flatMap { line =>
      line.split(" ", 2) match {
        case Array("-1", d) if d.matches("v\\d+/.+") => Some(d)
        case _ => None
      }
    }.sortBy(d => -d.takeWhile(_ != '/').drop(1).toLong)

  /** Manifest for `version`: bucket id → view-relative data dir. */
  def readBucketManifest(dir: String, version: String): Map[Int, String] =
    bucketLines(manifestLines(dir, version))

  /** The data dirs of `version`'s buckets, absolute and sorted. */
  def bucketDirs(dir: String, version: String): Seq[String] =
    readBucketManifest(dir, version).values.toSeq.sorted.map(d => s"$dir/$d")

  /** The data dirs of the current version's buckets (none before the
    * first publish). */
  def currentBucketDirs(dir: String): Seq[String] =
    currentVersion(dir).toSeq.flatMap(bucketDirs(dir, _))

  /** The delta dirs of `version` (its `-1` lines), absolute and newest
    * first: rows of any bucket, newer than the bucket dirs. */
  def deltaDirs(dir: String, version: String): Seq[String] =
    deltaLines(manifestLines(dir, version)).map(d => s"$dir/$d")

  /** Where a publish of `version` stages its delta: beside the version
    * dir, not in it, so a bucket write that Overwrites `version` cannot
    * delete a delta it is still reading. */
  private[graft] def stagingDir(dir: String, version: String): String = s"$dir/_staged_$version"

  /** Read the parquet data under `paths` — a view's write-once data
    * dirs as its manifest names them, or single files — with the
    * view's own `schema`. The files are listed here on the driver and
    * handed to the scan as they are, so a read launches neither a
    * listing job (`spark.read.parquet` lists more than 32 paths with
    * one) nor a schema-inference job. A dir is never rewritten once a
    * manifest references it, so the listing cannot go stale under a
    * published version; no paths reads as an empty frame. */
  def read(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame =
    FileBridge.parquet(spark, dataFiles(spark, paths), schema)

  /** A view's deltas, newest first, as one frame: `rows` carries each
    * row's delta index (0 = newest) in the int column [[Deltas.Age]]. */
  final case class Deltas(rows: DataFrame, count: Int)

  object Deltas {
    val Age = "__delta"

    /** The deltas under `dirs` (newest first) in one scan, whatever
      * their number; the index comes from the file list, not the data. */
    def read(spark: SparkSession, dirs: Seq[String], schema: StructType): Deltas =
      Deltas(FileBridge.parquetGroups(spark, dirs.map(d => dataFiles(spark, Seq(d))), schema, Age),
        dirs.size)
  }

  /** The parquet data files directly under `paths` (or the paths
    * themselves, if files), as the driver lists them. */
  private[graft] def dataFiles(spark: SparkSession, paths: Seq[String]): Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.flatMap { p =>
      val path = new Path(p)
      path.getFileSystem(conf).listStatus(path).toSeq.filter { st =>
        val name = st.getPath.getName
        st.isFile && st.getLen > 0 && !name.startsWith("_") && !name.startsWith(".")
      }
    }
  }

  /** Rows in `files`, from their parquet footers (driver metadata reads). */
  private def rowCount(spark: SparkSession, files: Seq[FileStatus]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Scan the `__bucket=N` directories the parquet writer actually
    * materialized under `dir/relPath` (a touched bucket that came back
    * EMPTY — every key deleted — writes no dir and simply leaves the
    * manifest). Returns bucket id → view-relative dir. */
  private def writtenBuckets(dir: String, relPath: String): Map[Int, String] =
    Option(new java.io.File(s"$dir/$relPath").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
      .map(f => f.getName.stripPrefix("__bucket=").toInt -> s"$relPath/${f.getName}")
      .toMap

  /** Delete manifests beyond the newest `retain` (min 2: a reader that
    * resolved the pointer just before a flip may still be scanning the
    * previous version) and every `v*` directory no retained manifest
    * references — including orphans from a crash before a pointer
    * flip, and any delta staging dir one left behind. Every
    * `<tag> <dir>` manifest line but `batch` references a live dir
    * (bucket and `-1` delta lines, [[JoinView]]'s `dim`). On an object
    * store you'd defer this to a table format's vacuum with a reader
    * lease — same policy, different mechanism. */
  def pruneVersions(dir: String, retain: Int): Unit = {
    val versions = manifestVersions(dir).map(v => s"v$v")
    val (dead, retained) = versions.splitAt(versions.length - math.max(retain, 2))
    val live = retained.flatMap(manifestLines(dir, _)).flatMap { line =>
      line.split(" ", 2) match {
        case Array(tag, d) if tag != "batch" && d.nonEmpty => Some(d.split("/", 2).head)
        case _ => None
      }
    }.toSet
    dead.foreach(v => Files.deleteIfExists(Paths.get(dir, s"$v.manifest")))
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && (f.getName.startsWith("_staged_") ||
        f.getName.matches("v\\d+") && !live.contains(f.getName)))
      .foreach(deleteRec)
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(); ()
  }

  /** One publication in flight, lent to a view by [[publish]] or
    * [[rebucket]]: the version being written, the prior manifest, and
    * the partitioned write every view's data goes through. */
  final class Publication private[ViewLayout] (val dir: String, val version: String,
                                               numBuckets: Int, priorLines: Seq[String]) {
    private val prior = bucketLines(priorLines)
    private var dataRel = version
    private var touched = Set.empty[Long]
    /** Delta dirs of the new manifest: the prior ones, plus one kept by
      * [[appendDelta]], or none once it folded them into buckets. */
    private[ViewLayout] var deltas: Seq[String] = deltaLines(priorLines)

    /** A row's bucket under this publication's bucket count. */
    def bucket(keys: Column*): Column = pmod(xxhash64(keys: _*), lit(numBuckets))

    /** The prior manifest's `<tag> <value>` line (see [[manifestTag]]). */
    def priorTag(tag: String): Option[String] = tagged(priorLines, tag)

    /** Write `rows` (carrying `__bucket`) as one file set per bucket
      * under `version/sub`. Overwrite: a replay of a crashed pre-flip
      * attempt must clean that attempt's partials.
      *
      * The write runs in min(numBuckets, defaultParallelism) tasks,
      * hashed by `__bucket`: each bucket still lands in one task (one
      * file per bucket dir), and the explicit width keeps adaptive
      * execution from coalescing a small view into one task that
      * writes every bucket file in turn. */
    def write(rows: DataFrame, sub: String = ""): Unit = {
      dataRel = if (sub.isEmpty) version else s"$version/$sub"
      rows.repartition(math.min(numBuckets, rows.sparkSession.sparkContext.defaultParallelism),
          col("__bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("__bucket")
        .parquet(s"$dir/$dataRel")
    }

    /** The bucket-incremental merge: collect the distinct bucket ids of
      * `buckets` (at most numBuckets ints — driver-sized by
      * construction) and, if any, [[write]] `plan` applied to those
      * buckets' current data dirs. Returns whether anything was written.
      *
      * A view with no prior bucket (first publish, or every key
      * deleted) has no dir to choose and none to keep, so `plan(Nil)`
      * is written at once and the written buckets are the touched set:
      * the collect would run the caller's whole input plan only for
      * the write to run it again (on a bulk load, the entire CDC
      * chain). The manifest and the bucket dirs come out the same. */
    def rewrite(buckets: DataFrame, sub: String = "")(plan: Seq[String] => DataFrame): Boolean =
      if (prior.isEmpty) {
        write(plan(Nil), sub)
        written.nonEmpty
      } else rewriteTouched(buckets.distinct().collect().map(_.getLong(0)).toSet, sub)(plan)

    private def rewriteTouched(t: Set[Long], sub: String = "")(plan: Seq[String] => DataFrame): Boolean = {
      touched = t
      if (t.nonEmpty)
        write(plan(prior.filter { case (b, _) => t.contains(b.toLong) }
          .values.toSeq.sorted.map(d => s"$dir/$d")), sub)
      t.nonEmpty
    }

    /** The merge-on-read publish (see [[publish]] for the layout): the
      * batch `delta` — one row per key of `keys`, deletes kept as
      * tombstones — is written once, as one unpartitioned file set,
      * then either kept as this version's `-1` line or folded with the
      * live deltas into the buckets they touch. `plan(dirs, deltas)`
      * returns the rows (carrying `__bucket`) of bucket `dirs` folded
      * with `deltas`. Returns whether bucket data was written.
      *
      *  - A view with no bucket and no delta writes the folded batch
      *    straight into buckets, as [[rewrite]] does: one evaluation
      *    of the input, no staging.
      *  - Otherwise the delta is staged beside the version dir and
      *    every later step reads it from there, so the input plan runs
      *    exactly once. An empty delta changes nothing.
      *  - With no live delta, a delta of at most numBuckets/2 keys
      *    (its footers' row count: no Spark job) touches at most half
      *    the buckets and is folded into them at once (the
      *    copy-on-write layout, byte for byte); a larger one is kept,
      *    in one job. Keeping is the cheaper publish at any touched
      *    fraction; what a kept delta costs is one more job on every
      *    read until it is folded (see [[publish]]).
      *  - With live deltas the view already carries more than
      *    numBuckets/2 delta keys: the new delta is kept unless the
      *    deltas have outgrown the base, in bytes or in files (a
      *    driver listing), and then all of them are folded into every
      *    bucket they touch and the manifest goes back to bucket lines
      *    only. So a read scans at most about twice the base. */
    def appendDelta(delta: DataFrame, keys: Column*)
                   (plan: (Seq[String], Deltas) => DataFrame): Boolean = {
      if (prior.isEmpty && deltas.isEmpty)
        return rewrite(delta.select(bucket(keys: _*)))(
          plan(_, Deltas(delta.withColumn(Deltas.Age, lit(0)), 1)))
      val spark = delta.sparkSession
      val staging = stagingDir(dir, version)
      // one file, yet only the write runs in one task: a coalesce(1)
      // would pull the caller's shuffled last-op-per-key stage into it
      delta.repartition(1).write.mode(SaveMode.Overwrite).parquet(staging)
      val staged = dataFiles(spark, Seq(staging))
      try {
        val keyCount = rowCount(spark, staged)
        if (keyCount == 0L) false
        else {
          val liveDirs = deltas.map(d => s"$dir/$d")
          val fold =
            if (deltas.isEmpty) keyCount * 2 <= numBuckets
            else outgrown(dataFiles(spark, prior.values.toSeq.map(d => s"$dir/$d")),
                          staged ++ dataFiles(spark, liveDirs))
          if (fold) {
            val all = Deltas.read(spark, staging +: liveDirs, delta.schema)
            deltas = Nil
            rewriteTouched(bucketsOf(all, keys))(plan(_, all))
          } else {
            val target = new java.io.File(dir, version)
            deleteRec(target) // a crashed attempt's orphan
            Files.createDirectories(target.toPath)
            Files.move(Paths.get(staging), Paths.get(dir, version, "_delta"), StandardCopyOption.ATOMIC_MOVE)
            deltas = s"$version/_delta" +: deltas
            false
          }
        }
      } finally deleteRec(new java.io.File(staging))
    }

    /** The buckets the rows of `all` fall in: a distinct per partition
      * (at most numBuckets ids each), so one job, no shuffle. */
    private def bucketsOf(all: Deltas, keys: Seq[Column]): Set[Long] =
      all.rows.select(bucket(keys: _*))
        .mapPartitions(_.map(_.getLong(0)).distinct)(Encoders.scalaLong)
        .collect().toSet

    /** Deltas outgrow the base once they hold more bytes or more files. */
    private def outgrown(base: Seq[FileStatus], deltaFiles: Seq[FileStatus]): Boolean =
      deltaFiles.map(_.getLen).sum > base.map(_.getLen).sum || deltaFiles.size > base.size

    /** Untouched prior buckets, then every bucket dir this publication
      * wrote. A touched bucket that came back EMPTY (every key deleted)
      * writes no dir and simply leaves the manifest. */
    private[ViewLayout] def merged: Map[Int, String] =
      prior.filterNot { case (b, _) => touched.contains(b.toLong) } ++ written

    private[ViewLayout] def written: Map[Int, String] = writtenBuckets(dir, dataRel)
  }

  /** Publish one micro-batch into the view at `dir`.
    *
    * {{{
    *   dir/
    *     v12/__bucket=3/part-*.parquet   bucket 3 as of version 12
    *     v17/__bucket=3/part-*.parquet   bucket 3 rewritten by version 17
    *     v17.manifest                    "batch 9\n3 v17/__bucket=3\n5 v12/__bucket=5\n…"
    *     v18/_delta/part-*.parquet       a kept delta: rows of any bucket
    *     v18.manifest                    "batch 10\n-1 v18/_delta\n3 v17/__bucket=3\n…"
    *     _META                           "numBuckets=64"  (fixed at creation)
    *     _CURRENT                        "v18"
    * }}}
    *
    * Rows are hash-partitioned into `numBuckets` key-buckets
    * (`pmod(xxhash64(key), numBuckets)`). A merge-on-read view
    * ([[UpsertSink]], through [[Publication.appendDelta]]) may also
    * carry deltas: `-1 <version>/_delta` lines, "bucket −1: rows of any
    * bucket, newer than the bucket lines", oldest first. A reader folds
    * them over the buckets, newest first. The `-1` is a bucket id, not
    * a tag, so every `<int> <dir>` parser still reads the manifest; the
    * bucket parsers here take digits only and skip it, and the pruner
    * keeps its dir like any other line. A delta of more than
    * numBuckets/2 keys is kept; a smaller one touches at most half the
    * buckets and is folded into them at once; and the live deltas are
    * all folded into the buckets they touch once they outgrow the base
    * in bytes or in files. A manifest with no `-1` line is the
    * copy-on-write layout. Measured on a 12,500-key, 64-bucket view
    * with `lastPos` zone maps (`local[4]`, 4 cores, a 900-change batch,
    * medians of 5 after a warm-up, `file://` through
    * [[graft.sources.LocalFs]]): keeping a 300-key delta publishes in
    * 0.19 s (1 job, as `ViewReadSpec` pins); folding a delta at once
    * takes 0.62 s for 1 bucket, 0.65 s for 4 and 0.84 s for 32; a
    * point read beside one live delta takes 0.23 s against 0.12 s
    * after a fold, and a range read is faster beside it (0.14 s
    * against 0.20 s). So folding at once pays only for a version that
    * takes more than ~4 point reads (1 bucket touched) to ~6 (32
    * buckets): the numBuckets/2 bound keeps just the smallest batches
    * copy-on-write and is not a cost crossing.
    *
    * The protocol:
    *  1. a `batchId` that already published the current version returns
    *     at once (see replay idempotence below);
    *  1. `dir` is created (an empty batch 0, which Spark does deliver to
    *     `foreachBatch`, writes no parquet) and `numBuckets` is checked
    *     against `_META` BEFORE anything is written: a different count
    *     would rehash keys into buckets the batch never marks as touched,
    *     so stale rows would silently survive;
    *  1. `merge` runs the view's plan through the lent [[Publication]]:
    *     [[Publication.rewrite]] collects the touched buckets and
    *     rewrites ONLY those, from their current dirs, under the new
    *     version; it returns the view's extra manifest lines. On the
    *     first publish (no prior bucket) there is nothing to choose:
    *     the plan is written once, with no collect, and the buckets it
    *     wrote are the touched set;
    *  1. the manifest — `batch <id>`, the extra lines, the `-1` delta
    *     lines, then one sorted `<bucket> <dir>` line per bucket —
    *     points touched buckets at the new dirs and untouched ones at
    *     their previous dirs;
    *  1. `_META` is written on first publish, `_CURRENT` is flipped,
    *     and versions beyond `retain` are pruned ([[pruneVersions]]).
    *
    * What the layout gives every view:
    *  - **atomic publish** on any filesystem with atomic small-file
    *    writes (tmp + ATOMIC_MOVE pointer flip; on an object store you'd
    *    swap the pointer for a table-format transaction-log commit — the
    *    merge plans are unchanged);
    *  - **structural sharing**: untouched buckets keep their previous
    *    version's dirs via the manifest (no copy, no read), so a
    *    micro-batch costs O(batch + touched-bucket data); a kept delta
    *    costs O(batch);
    *  - **replay idempotence**: a crash after the flip but before the
    *    streaming checkpoint commits replays the batch, and the `batch`
    *    line makes that replay a no-op (the checkpoint pins the offsets,
    *    so the published version is exactly the merge result). A crash
    *    BEFORE the flip leaves an orphan `v<N>` data dir (or a staged
    *    delta) that no manifest references; the replay re-uses `v<N>`
    *    and Overwrites it (it is never also read: the still-current
    *    manifest predates it), and the pruner collects any stragglers. */
  def publish(dir: String, batchId: Long, numBuckets: Int, retain: Int, what: String)
             (merge: Publication => Seq[String]): Unit = {
    if (publishedBatch(dir).contains(batchId)) return
    Files.createDirectories(Paths.get(dir))
    requireSameBuckets(dir, numBuckets, what)
    val pinned = storedNumBuckets(dir).isDefined
    val p = lend(dir, numBuckets)
    val extra = merge(p)
    commit(p, batchId, extra, p.deltas, p.merged, if (pinned) None else Some(numBuckets), retain)
  }

  /** Re-shard the view at `dir` to `newN` buckets, in place, published
    * as a new version through the same commit as [[publish]]; `write`
    * rewrites the whole view with [[Publication.write]] and returns its
    * extra manifest lines. The migration path for a view whose
    * creation-time bucket count no longer fits its size:
    *  - readers are safe throughout: they resolve `_CURRENT` to a
    *    complete manifest, and retention keeps the pre-rebucket version
    *    readable for in-flight scans and time travel until pruned;
    *  - the writer must be stopped for the duration; after the flip
    *    `_META` records `newN`, so a stale writer still passing the old
    *    count fails fast instead of corrupting the view;
    *  - the `batch` line carries over (`-1` if none was ever published),
    *    so a crash-replay of the last pre-rebucket batch stays a no-op
    *    and a first real batch 0 still publishes.
    * One O(view) rewrite — the cost paid so every later batch is
    * O(batch + touched buckets) again at a fitting bucket size. */
  def rebucket(dir: String, newN: Int, retain: Int)(write: Publication => Seq[String]): Unit = {
    require(newN > 0, s"newN must be positive, got $newN")
    val lastBatch = publishedBatch(dir).getOrElse(-1L)
    val p = lend(dir, newN)
    val extra = write(p)
    commit(p, lastBatch, extra, Nil, p.written, Some(newN), retain)
  }

  private def lend(dir: String, numBuckets: Int): Publication =
    new Publication(dir, nextVersion(dir), numBuckets,
      currentVersion(dir).map(manifestLines(dir, _)).getOrElse(Nil))

  private def commit(p: Publication, batchId: Long, extra: Seq[String], deltas: Seq[String],
                     buckets: Map[Int, String], pin: Option[Int], retain: Int): Unit = {
    val body = (s"batch $batchId" +: extra) ++ deltas.reverse.map(d => s"-1 $d") ++
      buckets.toSeq.sortBy(_._1).map { case (b, d) => s"$b $d" }
    writeAtomic(p.dir, s"${p.version}.manifest", body.mkString("\n"))
    pin.foreach(n => writeAtomic(p.dir, metaFile, s"numBuckets=$n"))
    writeAtomic(p.dir, currentFile, p.version)
    pruneVersions(p.dir, retain)
  }
}
