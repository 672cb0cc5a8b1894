package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ZoneMap
import graft.streaming.{AggView, JoinView, UpsertSink, ViewLayout}
import graft.streaming.AggView.GroupDelta
import graft.streaming.ChangelogStream.Change
import graft.streaming.JoinView.JoinChange

/** The Spark jobs behind a view's publish and reads: a first publish
  * evaluates its input once, a read resolves its files from the
  * manifest (no listing or schema-inference job), and every view read
  * returns what `spark.read.parquet` over the same manifest dirs does. */
class ViewReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(s"graft_vr_$name").toString

  /** Jobs `body` starts on this thread (by job group, so a stray
    * query of another suite cannot count). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"view-read-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    SparkInternals.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      SparkInternals.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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
}
