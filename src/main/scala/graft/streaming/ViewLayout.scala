package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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

  /** Read the parquet data under `paths` — a view's write-once data
    * dirs as its manifest names them, or single files — with the
    * view's own `schema`. The files are listed here on the driver and
    * handed to the scan as they are, so a read launches neither a
    * listing job (`spark.read.parquet` lists more than 32 paths with
    * one) nor a schema-inference job. A dir is never rewritten once a
    * manifest references it, so the listing cannot go stale under a
    * published version; no paths reads as an empty frame. */
  def read(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val files = paths.flatMap { p =>
      val path = new Path(p)
      path.getFileSystem(conf).listStatus(path).toSeq.filter { st =>
        val name = st.getPath.getName
        st.isFile && st.getLen > 0 && !name.startsWith("_") && !name.startsWith(".")
      }
    }
    FileBridge.parquet(spark, files, schema)
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
    * flip. Every `<tag> <dir>` manifest line but `batch` references a
    * live dir (bucket lines, [[JoinView]]'s `dim`). On an object store
    * you'd defer this to a table format's vacuum with a reader lease —
    * same policy, different mechanism. */
  def pruneVersions(dir: String, retain: Int): Unit = {
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
      f.delete(); ()
    }
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
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") && !live.contains(f.getName))
      .foreach(deleteRec)
  }

  /** One publication in flight, lent to a view by [[publish]] or
    * [[rebucket]]: the version being written, the prior manifest, and
    * the partitioned write every view's data goes through. */
  final class Publication private[ViewLayout] (val dir: String, val version: String,
                                               numBuckets: Int, priorLines: Seq[String]) {
    private val prior = bucketLines(priorLines)
    private var dataRel = version
    private var touched = Set.empty[Long]

    /** A row's bucket under this publication's bucket count. */
    def bucket(keys: Column*): Column = pmod(xxhash64(keys: _*), lit(numBuckets))

    /** The prior manifest's `<tag> <value>` line (see [[manifestTag]]). */
    def priorTag(tag: String): Option[String] = tagged(priorLines, tag)

    /** Write `rows` (carrying `__bucket`) as one file set per bucket
      * under `version/sub`. Overwrite: a replay of a crashed pre-flip
      * attempt must clean that attempt's partials. */
    def write(rows: DataFrame, sub: String = ""): Unit = {
      dataRel = if (sub.isEmpty) version else s"$version/$sub"
      rows.repartition(col("__bucket"))
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
      } else {
        touched = buckets.distinct().collect().map(_.getLong(0)).toSet
        if (touched.nonEmpty)
          write(plan(prior.filter { case (b, _) => touched.contains(b.toLong) }
            .values.toSeq.sorted.map(d => s"$dir/$d")), sub)
        touched.nonEmpty
      }

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
    *     _META                           "numBuckets=64"  (fixed at creation)
    *     _CURRENT                        "v17"
    * }}}
    *
    * Rows are hash-partitioned into `numBuckets` key-buckets
    * (`pmod(xxhash64(key), numBuckets)`). The protocol:
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
    *  1. the manifest — `batch <id>`, the extra lines, then one sorted
    *     `<bucket> <dir>` line per bucket — points touched buckets at
    *     the new dirs and untouched ones at their previous dirs;
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
    *    micro-batch costs O(batch + touched-bucket data), never O(table);
    *  - **replay idempotence**: a crash after the flip but before the
    *    streaming checkpoint commits replays the batch, and the `batch`
    *    line makes that replay a no-op (the checkpoint pins the offsets,
    *    so the published version is exactly the merge result). A crash
    *    BEFORE the flip leaves an orphan `v<N>` data dir that no manifest
    *    references; the replay re-uses `v<N>` and Overwrites it (it is
    *    never also read: the still-current manifest predates it), and
    *    the pruner collects any stragglers. */
  def publish(dir: String, batchId: Long, numBuckets: Int, retain: Int, what: String)
             (merge: Publication => Seq[String]): Unit = {
    if (publishedBatch(dir).contains(batchId)) return
    Files.createDirectories(Paths.get(dir))
    requireSameBuckets(dir, numBuckets, what)
    val pinned = storedNumBuckets(dir).isDefined
    val p = lend(dir, numBuckets)
    val extra = merge(p)
    commit(p, batchId, extra, p.merged, if (pinned) None else Some(numBuckets), retain)
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
    commit(p, lastBatch, extra, p.written, Some(newN), retain)
  }

  private def lend(dir: String, numBuckets: Int): Publication =
    new Publication(dir, nextVersion(dir), numBuckets,
      currentVersion(dir).map(manifestLines(dir, _)).getOrElse(Nil))

  private def commit(p: Publication, batchId: Long, extra: Seq[String],
                     buckets: Map[Int, String], pin: Option[Int], retain: Int): Unit = {
    val body = (s"batch $batchId" +: extra) ++
      buckets.toSeq.sortBy(_._1).map { case (b, d) => s"$b $d" }
    writeAtomic(p.dir, s"${p.version}.manifest", body.mkString("\n"))
    pin.foreach(n => writeAtomic(p.dir, metaFile, s"numBuckets=$n"))
    writeAtomic(p.dir, currentFile, p.version)
    pruneVersions(p.dir, retain)
  }
}
