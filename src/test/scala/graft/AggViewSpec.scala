package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.AggView
import graft.streaming.ChangelogStream.Change

/** Incremental view maintenance: the maintained (grp, sum, cnt) view
  * must equal the batch groupBy over the serial fold of the history
  * after every micro-batch — inserts add, value updates retract the
  * old contribution, deletes subtract, and no-op re-upserts emit no
  * delta at all. */
class AggViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def view(dir: String): Map[String, (Double, Long)] =
    AggView.readCurrent(spark, dir)
      .as[(String, Double, Long)].collect()
      .map { case (g, s, c) => g -> ((s, c)) }.toMap

  test("maintained view tracks the serial fold under insert/update/delete") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_aggview").toString
    val ckpt = Files.createTempDirectory("graft_aggview_ckpt").toString
    val in = MemoryStream[Change]
    val q = AggView.materialize(in.toDS(), (tbl, _) => tbl, dir, ckpt)

    in.addData(
      Change(1, "upsert", "t", 1, 1.0),
      Change(2, "upsert", "t", 2, 2.0),
      Change(3, "upsert", "u", 3, 5.0))
    q.processAllAvailable()
    assert(view(dir) == Map("t" -> ((3.0, 2L)), "u" -> ((5.0, 1L))))

    in.addData(
      Change(4, "upsert", "t", 1, 1.5), // value update: retract 1.0, add 1.5
      Change(5, "delete", "t", 2, 0.0), // delete: -2.0, -1
      Change(6, "upsert", "t", 4, 4.0), // insert
      Change(7, "upsert", "u", 3, 5.0)) // same value re-upsert: NO delta
    q.processAllAvailable()
    assert(view(dir) == Map("t" -> ((5.5, 2L)), "u" -> ((5.0, 1L))))

    // a group whose last member is deleted leaves the view entirely
    in.addData(Change(8, "delete", "u", 3, 0.0))
    q.processAllAvailable()
    q.stop()
    assert(view(dir) == Map("t" -> ((5.5, 2L))))
  }

  test("rebucket preserves the view and merges stay bucket-incremental at the new count") {
    val dir = Files.createTempDirectory("graft_aggview_rebucket").toString
    val d0 = (1 to 40).map(i => AggView.GroupDelta(s"g$i", i.toDouble, 1L)).toDS()
    AggView.mergeBatch(d0, dir, 0L, numBuckets = 4)
    val before = view(dir)
    AggView.rebucket(spark, dir, 16)
    assert(AggView.readCurrent(spark, dir).count() == 40 && view(dir) == before)
    intercept[IllegalArgumentException] { // stale writer at the old count fails fast
      AggView.mergeBatch(Seq(AggView.GroupDelta("g1", 1.0, 0L)).toDS(), dir, 1L, numBuckets = 4)
    }
    AggView.mergeBatch(Seq(AggView.GroupDelta("g1", 1.0, 0L)).toDS(), dir, 1L, numBuckets = 16)
    assert(view(dir)("g1") == ((2.0, 1L)))
    // replay of the post-rebucket batch id stays a no-op
    AggView.mergeBatch(Seq(AggView.GroupDelta("g1", 1.0, 0L)).toDS(), dir, 1L, numBuckets = 16)
    assert(view(dir)("g1") == ((2.0, 1L)))
  }

  test("batch replay is a no-op; deltas match the per-batch truth") {
    val dir = Files.createTempDirectory("graft_aggview_replay").toString
    val d0 = Seq(AggView.GroupDelta("t", 3.0, 2L), AggView.GroupDelta("u", 5.0, 1L)).toDS()
    AggView.mergeBatch(d0, dir, 0L)
    AggView.mergeBatch(d0, dir, 0L) // crash-replay of a published batch
    assert(view(dir) == Map("t" -> ((3.0, 2L)), "u" -> ((5.0, 1L))))
    AggView.mergeBatch(Seq(AggView.GroupDelta("t", -1.0, 0L)).toDS(), dir, 1L)
    assert(view(dir) == Map("t" -> ((2.0, 2L)), "u" -> ((5.0, 1L))))
    // version retention (retain 2): batches 2 and 3 age out the v0/v1
    // MANIFESTS; version DIRS survive exactly while a retained
    // manifest still references them (structural sharing: "u" was
    // last written at v0, so v0's bucket dir stays live)
    AggView.mergeBatch(Seq(AggView.GroupDelta("t", 0.5, 0L)).toDS(), dir, 2L)
    AggView.mergeBatch(Seq(AggView.GroupDelta("t", 0.5, 0L)).toDS(), dir, 3L)
    val manifests = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.matches("v\\d+\\.manifest"))
      .map(_.getName).toSet
    assert(manifests == Set("v2.manifest", "v3.manifest"),
      s"old manifests must be pruned, got $manifests")
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")).map(_.getName).toSet
    assert(!dirs.contains("v1"), s"v1 is referenced by no retained manifest, got $dirs")
    assert(view(dir) == Map("t" -> ((3.0, 2L)), "u" -> ((5.0, 1L))))
  }

  test("a 1-group batch rewrites exactly 1 bucket; untouched buckets are shared") {
    val dir = Files.createTempDirectory("graft_aggview_bucket").toString
    // groups hashing to distinct buckets (numBuckets=16 default):
    // whatever the hash values, assert on the WRITTEN dir counts
    val d0 = Seq(AggView.GroupDelta("t", 3.0, 2L), AggView.GroupDelta("u", 5.0, 1L)).toDS()
    AggView.mergeBatch(d0, dir, 0L)
    def bucketDirs(v: String): Set[String] =
      Option(new java.io.File(s"$dir/$v").listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
        .map(_.getName).toSet
    val b0 = bucketDirs("v0")
    assert(b0.size == 2, s"t and u should land in distinct buckets, got $b0")
    // batch 1 touches only "t": exactly ONE bucket dir under v1, and
    // the manifest points u's bucket back at v0 (no rewrite, no read)
    AggView.mergeBatch(Seq(AggView.GroupDelta("t", 1.0, 0L)).toDS(), dir, 1L)
    val b1 = bucketDirs("v1")
    assert(b1.size == 1, s"a 1-group batch must rewrite exactly 1 bucket, got $b1")
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "v1.manifest")), "UTF-8")
    assert(manifest.linesIterator.count(_.contains("v0/")) == 1,
      s"u's bucket must still point at v0:\n$manifest")
    assert(view(dir) == Map("t" -> ((4.0, 2L)), "u" -> ((5.0, 1L))))
  }

  test("a merge that fails after caching its deltas still releases them") {
    val dir = Files.createTempDirectory("graft_aggview_fail").toString
    AggView.mergeBatch(Seq(AggView.GroupDelta("t", 1.0, 1L)).toDS(), dir, 0L)
    // corrupt the data of the bucket batch 1 touches: the touched-bucket
    // collect materializes the cached deltas, then the rewrite of that
    // bucket cannot read it
    val bucket = java.nio.file.Paths.get(dir,
      graft.streaming.ViewLayout.readBucketManifest(dir, "v0").values.head)
    Files.list(bucket).filter(_.getFileName.toString.startsWith("part-"))
      .forEach(p => Files.write(p, "not parquet".getBytes("UTF-8")))
    val cached = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      AggView.mergeBatch(Seq(AggView.GroupDelta("t", 1.0, 0L)).toDS(), dir, 1L)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == cached,
      "the failed merge left its delta aggregate cached")
    assert(graft.streaming.ViewLayout.currentVersion(dir).contains("v0"))
  }

  test("PK-swap image order flows through delta maintenance") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_aggview_swap").toString
    val ckpt = Files.createTempDirectory("graft_aggview_swap_ckpt").toString
    val in = MemoryStream[graft.streaming.ChangelogStream.ImagedChange]
    import graft.streaming.ChangelogStream.ImagedChange
    val q = AggView.materialize(
      graft.streaming.ChangelogStream.expandUpdates(in.toDS()),
      (tbl, _) => tbl, dir, ckpt)
    in.addData(ImagedChange(1, "upsert", "t", -1, 1, 1.0))
    q.processAllAvailable()
    // PK change 1 → 10 with a new value: the group total follows the
    // value, the count stays (one tombstone + one insert)
    in.addData(ImagedChange(2, "update", "t", 1, 10, 7.0))
    q.processAllAvailable()
    q.stop()
    assert(view(dir) == Map("t" -> ((7.0, 1L))))
  }
}
