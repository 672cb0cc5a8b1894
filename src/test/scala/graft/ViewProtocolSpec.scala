package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AggView, JoinView, UpsertSink, ViewLayout}
import graft.streaming.AggView.GroupDelta
import graft.streaming.ChangelogStream.Change
import graft.streaming.JoinView.JoinChange

/** The publish protocol every live view shares ([[ViewLayout]]): the
  * exact on-disk format, and one table of protocol checks run against
  * [[UpsertSink]], [[AggView]] and [[JoinView]] alike. */
class ViewProtocolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(s"graft_vp_$name").toString

  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map(root.relativize).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** The layout files (`v*.manifest`, `_META`, `_CURRENT`) with their
    * exact bytes, then every directory under the view. Part-file names
    * carry per-write UUIDs, so only their directories are listed. */
  private def layout(dir: String): String = {
    val files = walk(dir).map(_.toString)
      .filter(n => n.matches("v\\d+\\.manifest") || n == "_META" || n == "_CURRENT")
    val dirs = walk(dir).filter(p => Files.isDirectory(Paths.get(dir).resolve(p))).map(_.toString)
    (files.map(n => s"[$n]\n" + new String(Files.readAllBytes(Paths.get(dir, n)), "UTF-8")) :+
      dirs.mkString("[dirs]\n", "\n", "")).mkString("\n")
  }

  test("on-disk format: manifests, _META, _CURRENT and version dirs are exact for every view") {
    // each view's layout after its rebucket (every manifest retained)
    // and after one more merge that prunes down to three versions
    def ch(pos: Long, op: String, id: Long) = Change(pos, op, "t", id, pos * 0.5)
    val u = tmp("fmt_upsert")
    val stats = Seq("lastPos")
    UpsertSink.mergeBatch((1L to 12L).map(i => ch(i, "upsert", i)).toDS(), u, 0L, 4, 8, stats)
    val b1 = Seq(ch(20, "upsert", 3), ch(21, "delete", 5))
    UpsertSink.mergeBatch(b1.toDS(), u, 1L, 4, 8, stats)
    UpsertSink.mergeBatch(b1.toDS(), u, 1L, 4, 8, stats) // replay: no-op
    UpsertSink.mergeBatch(Seq.empty[Change].toDS(), u, 2L, 4, 8) // nothing touched
    UpsertSink.rebucket(spark, u, 8, retainVersions = 8, statsCols = stats)
    val upsertRebucketed = layout(u)
    UpsertSink.mergeBatch(Seq(ch(30, "upsert", 7), ch(31, "upsert", 40)).toDS(), u, 3L, 8, 3)
    val upsertPruned = layout(u)

    val a = tmp("fmt_agg")
    AggView.mergeBatch((1 to 6).map(i => GroupDelta(s"g$i", i.toDouble, 1L)).toDS(), a, 0L, 4, 8)
    val a1 = Seq(GroupDelta("g1", 0.5, 0L), GroupDelta("g2", -2.0, -1L))
    AggView.mergeBatch(a1.toDS(), a, 1L, 4, 8)
    AggView.mergeBatch(a1.toDS(), a, 1L, 4, 8) // replay: no-op
    AggView.rebucket(spark, a, 8, retainVersions = 8)
    val aggRebucketed = layout(a)
    AggView.mergeBatch(Seq(GroupDelta("g3", 1.0, 1L)).toDS(), a, 2L, 8, 3)
    val aggPruned = layout(a)

    def fact(pos: Long, op: String, id: Long, fk: Long) = JoinChange(pos, op, "fact", id, fk, id * 1.5)
    def dim(pos: Long, op: String, id: Long) = JoinChange(pos, op, "dim", id, 0L, id * 10.0)
    val j = tmp("fmt_join")
    JoinView.mergeBatch((1L to 6L).map(i => fact(i, "upsert", i, i % 3 * 10)).toDS(), j, 0L, 4, 8)
    JoinView.mergeBatch(Seq(dim(10, "upsert", 10)).toDS(), j, 1L, 4, 8) // dim change
    val j2 = Seq(fact(20, "delete", 2, 20), fact(21, "upsert", 7, 20))
    JoinView.mergeBatch(j2.toDS(), j, 2L, 4, 8) // dim dir shared by reference
    JoinView.mergeBatch(j2.toDS(), j, 2L, 4, 8) // replay: no-op
    JoinView.rebucket(spark, j, 8, retainVersions = 8)
    val joinRebucketed = layout(j)
    JoinView.mergeBatch(Seq(dim(30, "delete", 10), dim(31, "upsert", 20),
      fact(32, "upsert", 1, 10)).toDS(), j, 3L, 8, 3)
    val joinPruned = layout(j)

    val got = Seq(upsertRebucketed, upsertPruned, aggRebucketed, aggPruned,
      joinRebucketed, joinPruned)
    // the exact bytes the views wrote before they shared one publish
    // function; readers outside the sink and already-published tables
    // depend on them
    val want = Seq(
      """
      |[_CURRENT]
      |v3
      |[_META]
      |numBuckets=8
      |[v0.manifest]
      |batch 0
      |0 v0/__bucket=0
      |1 v0/__bucket=1
      |3 v0/__bucket=3
      |[v1.manifest]
      |batch 1
      |0 v1/__bucket=0
      |1 v1/__bucket=1
      |3 v0/__bucket=3
      |[v2.manifest]
      |batch 2
      |0 v1/__bucket=0
      |1 v1/__bucket=1
      |3 v0/__bucket=3
      |[v3.manifest]
      |batch 2
      |3 v3/__bucket=3
      |4 v3/__bucket=4
      |5 v3/__bucket=5
      |7 v3/__bucket=7
      |[dirs]
      |v0
      |v0/__bucket=0
      |v0/__bucket=1
      |v0/__bucket=3
      |v0/_zonemap
      |v1
      |v1/__bucket=0
      |v1/__bucket=1
      |v1/_zonemap
      |v3
      |v3/__bucket=3
      |v3/__bucket=4
      |v3/__bucket=5
      |v3/__bucket=7
      |v3/_zonemap
      |""",
      """
      |[_CURRENT]
      |v4
      |[_META]
      |numBuckets=8
      |[v2.manifest]
      |batch 2
      |0 v1/__bucket=0
      |1 v1/__bucket=1
      |3 v0/__bucket=3
      |[v3.manifest]
      |batch 2
      |3 v3/__bucket=3
      |4 v3/__bucket=4
      |5 v3/__bucket=5
      |7 v3/__bucket=7
      |[v4.manifest]
      |batch 3
      |2 v4/__bucket=2
      |3 v3/__bucket=3
      |4 v4/__bucket=4
      |5 v3/__bucket=5
      |7 v3/__bucket=7
      |[dirs]
      |v0
      |v0/__bucket=0
      |v0/__bucket=1
      |v0/__bucket=3
      |v0/_zonemap
      |v1
      |v1/__bucket=0
      |v1/__bucket=1
      |v1/_zonemap
      |v3
      |v3/__bucket=3
      |v3/__bucket=4
      |v3/__bucket=5
      |v3/__bucket=7
      |v3/_zonemap
      |v4
      |v4/__bucket=2
      |v4/__bucket=4
      |""",
      """
      |[_CURRENT]
      |v2
      |[_META]
      |numBuckets=8
      |[v0.manifest]
      |batch 0
      |0 v0/__bucket=0
      |1 v0/__bucket=1
      |2 v0/__bucket=2
      |3 v0/__bucket=3
      |[v1.manifest]
      |batch 1
      |0 v0/__bucket=0
      |2 v1/__bucket=2
      |3 v0/__bucket=3
      |[v2.manifest]
      |batch 1
      |0 v2/__bucket=0
      |2 v2/__bucket=2
      |3 v2/__bucket=3
      |4 v2/__bucket=4
      |6 v2/__bucket=6
      |[dirs]
      |v0
      |v0/__bucket=0
      |v0/__bucket=1
      |v0/__bucket=2
      |v0/__bucket=3
      |v1
      |v1/__bucket=2
      |v2
      |v2/__bucket=0
      |v2/__bucket=2
      |v2/__bucket=3
      |v2/__bucket=4
      |v2/__bucket=6
      |""",
      """
      |[_CURRENT]
      |v3
      |[_META]
      |numBuckets=8
      |[v1.manifest]
      |batch 1
      |0 v0/__bucket=0
      |2 v1/__bucket=2
      |3 v0/__bucket=3
      |[v2.manifest]
      |batch 1
      |0 v2/__bucket=0
      |2 v2/__bucket=2
      |3 v2/__bucket=3
      |4 v2/__bucket=4
      |6 v2/__bucket=6
      |[v3.manifest]
      |batch 2
      |0 v3/__bucket=0
      |2 v2/__bucket=2
      |3 v2/__bucket=3
      |4 v2/__bucket=4
      |6 v2/__bucket=6
      |[dirs]
      |v0
      |v0/__bucket=0
      |v0/__bucket=1
      |v0/__bucket=2
      |v0/__bucket=3
      |v1
      |v1/__bucket=2
      |v2
      |v2/__bucket=0
      |v2/__bucket=2
      |v2/__bucket=3
      |v2/__bucket=4
      |v2/__bucket=6
      |v3
      |v3/__bucket=0
      |""",
      """
      |[_CURRENT]
      |v3
      |[_META]
      |numBuckets=8
      |[v0.manifest]
      |batch 0
      |0 v0/facts/__bucket=0
      |1 v0/facts/__bucket=1
      |[v1.manifest]
      |batch 1
      |dim v1/__dim
      |0 v0/facts/__bucket=0
      |1 v1/facts/__bucket=1
      |[v2.manifest]
      |batch 2
      |dim v1/__dim
      |0 v2/facts/__bucket=0
      |1 v1/facts/__bucket=1
      |[v3.manifest]
      |batch 2
      |dim v1/__dim
      |4 v3/facts/__bucket=4
      |5 v3/facts/__bucket=5
      |[dirs]
      |v0
      |v0/facts
      |v0/facts/__bucket=0
      |v0/facts/__bucket=1
      |v1
      |v1/__dim
      |v1/facts
      |v1/facts/__bucket=1
      |v2
      |v2/facts
      |v2/facts/__bucket=0
      |v3
      |v3/facts
      |v3/facts/__bucket=4
      |v3/facts/__bucket=5
      |""",
      """
      |[_CURRENT]
      |v4
      |[_META]
      |numBuckets=8
      |[v2.manifest]
      |batch 2
      |dim v1/__dim
      |0 v2/facts/__bucket=0
      |1 v1/facts/__bucket=1
      |[v3.manifest]
      |batch 2
      |dim v1/__dim
      |4 v3/facts/__bucket=4
      |5 v3/facts/__bucket=5
      |[v4.manifest]
      |batch 3
      |dim v4/__dim
      |4 v4/facts/__bucket=4
      |5 v4/facts/__bucket=5
      |[dirs]
      |v1
      |v1/__dim
      |v1/facts
      |v1/facts/__bucket=1
      |v2
      |v2/facts
      |v2/facts/__bucket=0
      |v3
      |v3/facts
      |v3/facts/__bucket=4
      |v3/facts/__bucket=5
      |v4
      |v4/__dim
      |v4/facts
      |v4/facts/__bucket=4
      |v4/facts/__bucket=5
      |""").map(_.stripMargin.trim)
    val bad = got.zip(want).zipWithIndex.collect {
      case ((g, w), i) if g != w => s"--- layout $i ---\n$g\n--- end ---"
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  /** One view as the protocol table drives it: merge a batch of
    * upserts of small integer keys, and read back the keys it serves. */
  private case class View(name: String, merge: (String, Long, Seq[Long], Int) => Unit,
                          keys: String => Set[Long])

  private val views = Seq(
    View("UpsertSink",
      (dir, b, ks, n) => UpsertSink.mergeBatch(
        ks.map(k => Change(b * 1000 + k, "upsert", "t", k, k.toDouble)).toDS(), dir, b, n),
      dir => UpsertSink.readCurrent(spark, dir).select("id").as[Long].collect().toSet),
    View("AggView",
      (dir, b, ks, n) => AggView.mergeBatch(
        ks.map(k => GroupDelta(s"g$k", k.toDouble, 1L)).toDS(), dir, b, n),
      dir => AggView.readCurrent(spark, dir).select("grp").as[String].collect()
        .map(_.drop(1).toLong).toSet),
    View("JoinView",
      (dir, b, ks, n) => JoinView.mergeBatch(
        ks.map(k => JoinChange(b * 1000 + k, "upsert", "fact", k, k, k.toDouble)).toDS(), dir, b, n),
      dir => JoinView.readCurrent(spark, dir).select("id").as[Long].collect().toSet))

  private def topLevel(dir: String, pattern: String): Set[String] =
    new File(dir).listFiles().map(_.getName).filter(_.matches(pattern)).toSet

  views.foreach { v =>
    test(s"${v.name}: a mismatched numBuckets is rejected before anything is written") {
      val dir = tmp("meta")
      v.merge(dir, 0L, Seq(1L, 2L), 4)
      def tree = walk(dir).map(p => p.toString -> Paths.get(dir).resolve(p).toFile.length)
      val before = tree
      val e = intercept[IllegalArgumentException](v.merge(dir, 1L, Seq(3L), 8))
      assert(e.getMessage.contains("numBuckets=4"), e.getMessage)
      assert(tree == before, "a rejected merge must leave the view untouched")
      v.merge(dir, 1L, Seq(3L), 4)
      assert(v.keys(dir) == Set(1L, 2L, 3L))
    }

    test(s"${v.name}: a torn manifest line is skipped, not a crash") {
      val dir = tmp("torn")
      v.merge(dir, 0L, Seq(1L, 2L), 4)
      // a pre-atomic-write crash artifact: the last line cut mid-write
      val manifest = Paths.get(dir, "v0.manifest")
      Files.write(manifest, (new String(Files.readAllBytes(manifest), "UTF-8") + "\n3")
        .getBytes("UTF-8"))
      assert(v.keys(dir) == Set(1L, 2L))
      // the next publishes prune with the torn manifest retained, then aged out
      v.merge(dir, 1L, Seq(3L), 4)
      v.merge(dir, 2L, Seq(4L), 4)
      assert(v.keys(dir) == Set(1L, 2L, 3L, 4L))
      assert(!Files.exists(manifest))
    }

    test(s"${v.name}: retention prunes unreferenced version dirs and keeps shared ones") {
      // batch 0 fills every bucket; batches 1-3 rewrite key 0's bucket
      // only. Retaining v2 and v3 keeps v0 (its other buckets are still
      // referenced) and drops v1 (superseded everywhere)
      val dir = tmp("retain")
      v.merge(dir, 0L, 0L until 40L, 4)
      (1L to 3L).foreach(b => v.merge(dir, b, Seq(0L), 4))
      assert(topLevel(dir, "v\\d+\\.manifest") == Set("v2.manifest", "v3.manifest"))
      assert(topLevel(dir, "v\\d+") == Set("v0", "v2", "v3"))
      assert(v.keys(dir) == (0L until 40L).toSet)
    }

    test(s"${v.name}: a crash-before-flip orphan is overwritten by the replay and never read") {
      val dir = tmp("orphan")
      v.merge(dir, 0L, Seq(1L, 2L), 4)
      // the crashed attempt wrote batch 1's data dir but never its
      // manifest or pointer; stage it from a copy of the view
      val crashed = tmp("orphan_attempt")
      FileUtils.copyDirectory(new File(dir), new File(crashed))
      v.merge(crashed, 1L, Seq(99L), 4)
      FileUtils.copyDirectory(new File(crashed, "v1"), new File(dir, "v1"))
      val orphan = walk(s"$dir/v1").map(_.toString).filter(_.endsWith(".parquet")).toSet
      assert(orphan.nonEmpty)
      assert(ViewLayout.currentVersion(dir).contains("v0") && v.keys(dir) == Set(1L, 2L))
      v.merge(dir, 1L, Seq(3L), 4)
      assert(ViewLayout.currentVersion(dir).contains("v1"))
      assert(v.keys(dir) == Set(1L, 2L, 3L))
      assert(walk(s"$dir/v1").map(_.toString).toSet.intersect(orphan).isEmpty,
        "the replay must overwrite the orphan's files")
    }
  }
}
