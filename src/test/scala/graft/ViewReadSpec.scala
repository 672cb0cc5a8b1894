package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ZoneMap
import graft.streaming.{AggView, ChangelogStream, JoinView, UpsertSink, ViewLayout}
import graft.streaming.AggView.GroupDelta
import graft.streaming.ChangelogStream.{Change, TxEvent}
import graft.streaming.JoinView.JoinChange

/** The Spark jobs behind a view's publish and reads: a first publish
  * evaluates its input once, a read resolves its files from the
  * manifest (no listing or schema-inference job), and every view read
  * returns what `spark.read.parquet` over the same manifest dirs does. */
class ViewReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.{jobStarts, jobsOf}

  private def tmp(name: String) = Files.createTempDirectory(s"graft_vr_$name").toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** What the read path replaced: parquet over the manifest's dirs. */
  private def parquetOf(dirs: Seq[String], cols: String*): DataFrame =
    spark.read.parquet(dirs: _*).select(cols.map(col): _*)

  /** A 64-bucket view with every bucket filled, then one live merge. */
  private lazy val upsertView: String = {
    val dir = tmp("upsert")
    UpsertSink.mergeBatch((1L to 2000L).map(i => Change(i, "upsert", "t", i, i * 0.5)).toDS(),
      dir, 0L, 64, 4, Seq("lastPos"))
    UpsertSink.mergeBatch(Seq(Change(5000L, "upsert", "t", 7L, 1.0),
      Change(5001L, "delete", "t", 8L, 0.0)).toDS(), dir, 1L, 64, 4, Seq("lastPos"))
    dir
  }

  test("a first mergeBatch into a fresh dir evaluates its input exactly once") {
    val seen = spark.sparkContext.longAccumulator("view-read-input-rows")
    // counts rows as the key is computed: a touched-bucket collect
    // needs the key too, so column pruning cannot hide a second pass
    val count = udf { (k: Long) => seen.add(1L); k }.asNondeterministic()
    val input = spark.range(1, 501)
      .select(col("id").as("pos"), lit("upsert").as("op"), lit("t").as("tbl"),
        count(col("id") % 400).as("id"), (col("id") * 0.5).as("value"))
      .as[Change]
    val dir = tmp("once")
    UpsertSink.mergeBatch(input, dir, 0L, 64, 2, Seq("lastPos"))
    assert(seen.value == 500L, s"the input plan ran over ${seen.value} rows for 500 input rows")
    assert(UpsertSink.readCurrent(spark, dir).count() == 400L)
  }

  test("readCurrent on a 64-bucket view runs exactly one job") {
    val dir = upsertView
    assert(ViewLayout.currentBucketDirs(dir).size == 64)
    val (got, jobs) = jobsOf(UpsertSink.readCurrent(spark, dir).collect())
    assert(got.length == 1999)
    assert(jobs == 1, s"reading a 64-bucket view ran $jobs jobs")
  }

  test("UpsertSink reads equal spark.read.parquet over the same manifest dirs") {
    val dir = upsertView
    val cols = Seq("tbl", "id", "value", "lastPos")
    assert(rows(UpsertSink.readCurrent(spark, dir)) ==
      rows(parquetOf(ViewLayout.currentBucketDirs(dir), cols: _*)))
    assert(rows(UpsertSink.readVersion(spark, dir, 0L)) ==
      rows(parquetOf(ViewLayout.bucketDirs(dir, "v0"), cols: _*)))
    val range = UpsertSink.readCurrentRange(spark, dir, "lastPos", lit(1500L), lit(Long.MaxValue))
    val want = parquetOf(ViewLayout.currentBucketDirs(dir), cols: _*)
      .filter(col("lastPos") >= 1500L)
    assert(rows(range) == rows(want) && rows(want).size == 502)
  }

  test("AggView and JoinView reads equal spark.read.parquet over the same manifest dirs") {
    val a = tmp("agg")
    AggView.mergeBatch((1 to 40).map(i => GroupDelta(s"g$i", i.toDouble, 1L)).toDS(), a, 0L, 16)
    AggView.mergeBatch(Seq(GroupDelta("g1", 0.5, 0L), GroupDelta("g2", -2.0, -1L)).toDS(), a, 1L, 16)
    val aggGot = rows(AggView.readCurrent(spark, a))
    assert(aggGot == rows(parquetOf(ViewLayout.currentBucketDirs(a), "grp", "sumVal", "cnt")))
    assert(aggGot.size == 39)

    val j = tmp("join")
    JoinView.mergeBatch(((1L to 60L).map(i => JoinChange(i, "upsert", "fact", i, i % 7, i * 1.5)) :+
      JoinChange(100L, "upsert", "dim", 3L, 0L, 30.0)).toDS(), j, 0L, 16)
    JoinView.mergeBatch(Seq(JoinChange(200L, "delete", "fact", 5L, 5L, 0.0),
      JoinChange(201L, "upsert", "dim", 4L, 0L, 40.0)).toDS(), j, 1L, 16)
    val joinGot = rows(JoinView.readCurrent(spark, j))
    assert(joinGot == rows(parquetOf(ViewLayout.currentBucketDirs(j),
      "fk", "id", "fact_val", "dim_val", "last_pos")))
    assert(joinGot.size == 59 && joinGot.count(!_.isNullAt(3)) == 18)
    val dimDir = ViewLayout.manifestTag(j, ViewLayout.currentVersion(j).get, "dim").get
    assert(rows(JoinView.readDim(spark, j)) == rows(spark.read.parquet(s"$j/$dimDir")))
  }

  test("a zone map built for other columns degrades to the version's whole bucket dirs") {
    val dir = tmp("otherstats")
    UpsertSink.mergeBatch((1L to 100L).map(i => Change(i, "upsert", "t", i, i * 0.5)).toDS(),
      dir, 0L, 8, 2, Seq("id"))
    assert(ZoneMap.manifestColumns(spark, s"$dir/v0/${ZoneMap.manifestDir}") ==
      Set("file", "min_id", "max_id"))
    assert(UpsertSink.currentRangeFiles(spark, dir, "lastPos", lit(50L), lit(60L)) ==
      ViewLayout.currentBucketDirs(dir))
    assert(UpsertSink.readCurrentRange(spark, dir, "lastPos", lit(50L), lit(60L))
      .select("id").as[Long].collect().toSet == (50L to 60L).toSet)
  }

  test("reads of a never-published view are empty with the view's columns") {
    val dir = tmp("empty")
    assert(UpsertSink.readCurrent(spark, dir).columns.toSeq == Seq("tbl", "id", "value", "lastPos"))
    assert(UpsertSink.readCurrent(spark, dir).count() == 0L)
    assert(AggView.readCurrent(spark, dir).columns.toSeq == Seq("grp", "sumVal", "cnt"))
    assert(JoinView.readCurrent(spark, dir).count() == 0L)
    assert(JoinView.readDim(spark, dir).columns.toSeq == Seq("dim_id", "dim_value"))
  }

  /** Publish `batches` through a live `filterCommitted` query into a
    * 64-bucket view at `dir`, one micro-batch each. A micro-batch is a
    * list of committed transactions, each added to the source as a
    * block of its own. Returns, per batch, the input rows its plan
    * computed (a counting key column: the touched-bucket collect needs
    * the key too, so column pruning cannot hide a second pass) and the
    * start events of the Spark jobs the publish ran. */
  private def streamed(dir: String, batches: Seq[Seq[Seq[Change]]]): Seq[(Long, Seq[SparkListenerJobStart])] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[TxEvent]
    val seen = spark.sparkContext.longAccumulator("view-read-stream-rows")
    val count = udf { (k: Long) => seen.add(1L); k }.asNondeterministic()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[SparkListenerJobStart])]()
    val q = ChangelogStream.filterCommitted(in.toDS(), txTimeoutMs = 0)
      .withColumn("id", count(col("id"))).as[Change].writeStream
      .foreachBatch { (b: Dataset[Change], id: Long) =>
        val before = seen.value
        val (_, jobs) = jobStarts(UpsertSink.mergeBatch(b, dir, id, 64, 4, Seq("lastPos")))
        out.add((seen.value - before, jobs))
        ()
      }
      .option("checkpointLocation", tmp("ckpt"))
      .start()
    val none = Change(0L, "none", "", 0L, 0.0)
    var tx = 0L
    try batches.foreach { txs =>
      txs.foreach { b =>
        in.addData((TxEvent(tx, 0L, "begin", none) +:
          b.zipWithIndex.map { case (c, i) => TxEvent(tx, i + 1L, "data", c) }) :+
          TxEvent(tx, b.size + 1L, "commit", none))
        tx += 1
      }
      q.processAllAvailable()
    } finally q.stop()
    out.asScala.toSeq
  }

  private def upserts(ids: Seq[Long], pos0: Long, v: Double): Seq[Change] =
    ids.zipWithIndex.map { case (id, i) => Change(pos0 + i, "upsert", "t", id, v) }

  private def deltaLines(dir: String, v: String): Seq[String] =
    new String(Files.readAllBytes(java.nio.file.Paths.get(dir, s"$v.manifest")), "UTF-8")
      .linesIterator.filter(_.startsWith("-1 ")).toSeq

  test("a live mergeBatch evaluates its input once and keeps a delta in one job") {
    val dir = tmp("live")
    // a bulk load, a 1-key batch, then two batches of 300 keys, each
    // touching every one of the 64 buckets
    val got = streamed(dir, Seq(upserts(1L to 2000L, 1L, 0.5), upserts(Seq(7L), 5000L, 7.0),
      upserts(1L to 300L, 10000L, 1.0), upserts(1L to 300L, 20000L, 2.0)).map(Seq(_)))
    assert(got.map(_._1) == Seq(2000L, 1L, 300L, 300L), s"input rows computed per batch: $got")
    assert(deltaLines(dir, "v1").isEmpty && ViewLayout.bucketDirs(dir, "v1").count(_.contains("/v1/")) == 1)
    assert(deltaLines(dir, "v2") == Seq("-1 v2/_delta"))
    assert(deltaLines(dir, "v3") == Seq("-1 v2/_delta", "-1 v3/_delta"))
    assert(got(2)._2.size == 1, s"keeping the first delta ran ${got(2)._2.size} jobs")
    assert(got(3)._2.size == 1, s"a publish beside a live delta ran ${got(3)._2.size} jobs")
    val view = UpsertSink.readCurrent(spark, dir).select("id", "value").as[(Long, Double)].collect()
    assert(view.length == 2000 && view.forall { case (id, v) => v == (if (id <= 300) 2.0 else 0.5) })
  }

  test("a zone-map candidate lookup runs exactly one job") {
    val dir = tmp("zmjobs")
    UpsertSink.mergeBatch((1L to 200L).map(i => Change(i, "upsert", "t", i, i * 0.5)).toDS(),
      dir, 0L, 8, 2, Seq("lastPos"))
    val zm = s"$dir/v0/${ZoneMap.manifestDir}"
    val (files, jobs) = jobsOf(ZoneMap.candidateFilesAt(spark, zm, "lastPos", lit(50L), lit(60L)))
    assert(files.nonEmpty)
    assert(jobs == 1, s"a candidate lookup ran $jobs jobs")
  }

  test("a kept delta's keys are folded at shuffle-partition parallelism; only its write is one task") {
    val dir = tmp("par")
    UpsertSink.mergeBatch((1L to 2000L).map(i => Change(i, "upsert", "t", i, 0.5)).toDS(), dir, 0L, 64)
    // as a streaming micro-batch runs: no adaptive execution, a fixed
    // shuffle width; 7 is neither the input's partition count nor 1
    val conf = Map("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "7")
    val prev = conf.keys.map(k => k -> spark.conf.get(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val (_, jobs) = try jobStarts(UpsertSink.mergeBatch(upserts(1L to 300L, 5000L, 1.0).toDS(), dir, 1L, 64))
      finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    assert(deltaLines(dir, "v1") == Seq("-1 v1/_delta"))
    assert(ViewLayout.dataFiles(spark, ViewLayout.deltaDirs(dir, "v1")).size == 1)
    val write = jobs.head.stageInfos.sortBy(_.stageId)
    assert(write.map(_.numTasks).contains(7) && write.last.numTasks == 1,
      s"the delta write's stages ran ${write.map(_.numTasks)} tasks")
  }

  test("a read beside several live deltas scans them all at once") {
    val dir = tmp("deltascan")
    UpsertSink.mergeBatch((1L to 2000L).map(i => Change(i, "upsert", "t", i, 0.5)).toDS(), dir, 0L, 64)
    def leaves = UpsertSink.readCurrent(spark, dir).queryExecution.optimizedPlan.collectLeaves().size
    def jobs = jobsOf(UpsertSink.readCurrent(spark, dir).collect())._2
    UpsertSink.mergeBatch(upserts(1L to 300L, 5000L, 1.0).toDS(), dir, 1L, 64)
    UpsertSink.mergeBatch(upserts(1L to 300L, 6000L, 2.0).toDS(), dir, 2L, 64)
    val (leaves2, jobs2) = (leaves, jobs)
    (3L to 5L).foreach(b => UpsertSink.mergeBatch(upserts(1L to 300L, 1000L * (b + 4), b.toDouble).toDS(), dir, b, 64))
    assert(ViewLayout.deltaDirs(dir, "v5").size == 5)
    // the buckets, and the deltas once for the anti-join and once for the upserts
    assert(leaves2 == 3 && leaves == 3, s"a read over 2 and 5 deltas has $leaves2 and $leaves scans")
    assert(jobs == jobs2, s"a read over 2 deltas ran $jobs2 jobs, over 5 deltas $jobs")
    val view = UpsertSink.readCurrent(spark, dir).select("id", "value").as[(Long, Double)].collect()
    assert(view.length == 2000 && view.forall { case (id, v) => v == (if (id <= 300) 5.0 else 0.5) })
  }

  test("a live micro-batch of many source blocks runs its first stage at task-slot width") {
    val dir = tmp("blocks")
    // a bulk load, then one micro-batch of 40 one-tx blocks: each
    // upserts two keys and deletes a third, 120 keys in all
    val bulk = upserts(1L to 2000L, 1L, 0.5)
    val txs = (1L to 40L).map { t =>
      val p = 10000L + 10 * t
      Seq(Change(p, "upsert", "t", t, t.toDouble), Change(p + 1, "upsert", "t", t + 40, -t.toDouble),
        Change(p + 2, "delete", "t", 2001L - t, 0.0))
    }
    val got = streamed(dir, Seq(Seq(bulk), txs))
    assert(got.map(_._1) == Seq(2000L, 120L), s"input rows computed per batch: ${got.map(_._1)}")
    val slots = spark.sparkContext.defaultParallelism
    val first = got(1)._2.head.stageInfos.minBy(_.stageId)
    assert(slots < 40 && first.numTasks <= slots,
      s"the live publish's first stage ran ${first.numTasks} tasks for 40 blocks, $slots task slots")
    val fold = (bulk ++ txs.flatten).groupBy(c => (c.tbl, c.id)).toSeq.flatMap { case (k, cs) =>
      ChangelogStream.Entity.fold(k, None, cs.iterator) }
    val want = fold.filter(_.live).map(e => (e.tbl, e.id, e.value, e.lastPos)).sortBy(_._2)
    val view = UpsertSink.readCurrent(spark, dir).as[(String, Long, Double, Long)].collect().toSeq.sortBy(_._2)
    assert(view == want && view.size == 1960)
  }
}
